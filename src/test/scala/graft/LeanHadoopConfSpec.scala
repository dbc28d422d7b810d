package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream,
  ObjectOutputStream}
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.gold.TxLog
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.util.ConfigUtil
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop configuration ships without per-key source
  * records ([[graft.core.GraftSession.dropPropertySources]]): every key
  * and value stays, no key has a source after the engine has written,
  * read and committed, and Spark's serialized copy round-trips exactly.
  */
class LeanHadoopConfSpec extends SparkSpecBase {
  import spark.implicits._

  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def keysWithSources(conf: Configuration): Seq[String] =
    entries(conf).keys.filter(k => conf.getPropertySources(k) != null).toSeq.sorted

  test("the session's Hadoop conf keeps its keys and ships no property sources") {
    val dir = Files.createTempDirectory("leanconf").toString
    val rows = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    rows.write.parquet(s"$dir/pq")
    spark.read.parquet(s"$dir/pq").count() shouldBe 400L // inferring read
    TxLog.init(rows, s"$dir/t")
    TxLog.append(rows, s"$dir/t", 0L)
    val child = spark.newSession()
    child.range(10).write.parquet(s"$dir/child")
    child.read.parquet(s"$dir/child").count() shouldBe 10L

    val conf = sc.hadoopConfiguration
    // (a) every default resource's keys are still there, none with a source
    conf.size() should be > 1000
    conf.get("hadoop.tmp.dir") should not be null                  // core
    conf.get("mapreduce.job.maps") shouldBe "2"                    // mapred
    conf.get("yarn.resourcemanager.hostname") shouldBe "0.0.0.0"   // yarn
    keysWithSources(conf) shouldBe empty

    // (b) Spark's serialized copy round-trips every key and value
    val shipped = spark.sessionState.newHadoopConf()
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(shipped))
    out.close()
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[SerializableConfiguration].value
    entries(back) shouldBe entries(shipped)
    entries(shipped).size should be > 1000
    // only the session's own SQL settings, set on the copy, carry a source
    keysWithSources(shipped).size should be < entries(shipped).size / 10

    // (c) registering the MapReduce/YARN defaults again reloads nothing
    ConfigUtil.loadResources()
    keysWithSources(conf) shouldBe empty
  }
}
