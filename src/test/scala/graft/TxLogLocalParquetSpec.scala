package graft

import graft.functions.DvSidecars
import graft.gold.TxLog
import org.apache.spark.sql.functions._

/** TxLog's own parquet-mr I/O (checkpoint write and read, DV sidecar
  * footers and loads) never builds a Hadoop `Configuration`. A fresh one
  * takes the thread's context class loader and asks it for
  * `core-default.xml` and `core-site.xml`, which costs a search of the
  * whole classpath; a loader that counts those lookups sees zero.
  */
class TxLogLocalParquetSpec extends SparkSpecBase {
  import spark.implicits._

  /** Class loader that counts lookups of Hadoop's default resources. */
  private final class CountingLoader(parent: ClassLoader)
      extends ClassLoader(parent) {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    override def getResource(name: String): java.net.URL = {
      if (name == "core-default.xml" || name == "core-site.xml")
        hits.incrementAndGet()
      super.getResource(name)
    }
  }

  /** `body`'s result and the Hadoop resource lookups made while it ran. */
  private def lookups[T](body: => T): (T, Int) = {
    val th = Thread.currentThread()
    val saved = th.getContextClassLoader
    val loader = new CountingLoader(saved)
    th.setContextClassLoader(loader)
    val out = try body finally th.setContextClassLoader(saved)
    (out, loader.hits.get())
  }

  test("checkpoint write/resolve and DV sidecar reads build no Hadoop Configuration") {
    val path = java.nio.file.Files.createTempDirectory("txlocal").toString + "/t"
    TxLog.init((0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") % 10 === 3, 0L)
    val snap = TxLog.snapshot(path)
    val dvFile = snap.dvs.values.toSet.toSeq match {
      case Seq(one) => one
      case other    => fail(s"expected one DV sidecar, got $other")
    }

    // v0 is a checkpoint: resolving it reads the checkpoint parquet
    TxLog.readCheckpointParquet(path, 0L) shouldBe defined
    val (resolved, resolveHits) = lookups(TxLog.resolve(path, 0L))
    resolved.files should have size 4
    resolveHits shouldBe 0

    val (_, writeHits) = lookups(TxLog.writeCheckpointParquet(path, snap))
    writeHits shouldBe 0
    TxLog.readCheckpointParquet(path, snap.version).map(_.dvs) shouldBe Some(snap.dvs)

    // first footer count of this sidecar: no cache entry yet
    val (deleted, footerHits) = lookups(TxLog.sidecarRowCount(path, dvFile))
    deleted shouldBe 20L
    footerHits shouldBe 0

    DvSidecars.clearCache()
    val loadsBefore = DvSidecars.loads.get()
    val (byFile, loadHits) = lookups(DvSidecars.indicesFor(path, dvFile))
    DvSidecars.loads.get() shouldBe loadsBefore + 1
    byFile.valuesIterator.map(_.length).sum shouldBe 20
    loadHits shouldBe 0
  }
}
