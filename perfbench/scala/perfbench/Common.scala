package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One correctness check; a failed check fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one pass did: per-operation seconds, operations attempted and
  * failed, and the checks made while running it.
  */
final case class PassOut(opSecs: Seq[(String, Double)], attempted: Int, failed: Int,
    checks: Seq[Check])

trait Workload {
  /** Prepares the inputs in a fresh directory; timed as part of set-up. */
  def prepare(rep: Int): Unit
  /** The untimed first pass, checked by `verify(-1)` or by itself. */
  def warmup(): PassOut
  /** One timed pass; with a tracer, each call into a layer is a span. */
  def runPass(i: Int, tracer: Option[Tracer]): PassOut
  /** Untimed checks after pass `i`. */
  def verify(i: Int): Seq[Check]
  /** Per-layer metrics of traced pass `i`; only the layers it touches. */
  def layerMetrics(t: Tracer, pass: Int): Map[String, Double]
}

object Files {
  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().sortBy(_.getName).foreach(c => copyTree(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }

  /** Rows in every parquet file under `path`, from the footers alone;
    * -1 when the path does not exist.
    */
  def parquetRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return -1L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }
}

/** Order-insensitive digest of a result: the row count and the exact sum
  * of a 64-bit hash of each row's JSON form, columns taken by position.
  */
object Digest {
  def of(df: DataFrame): String = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(byPos.columns.map(col).toSeq: _*)))
    val r = byPos.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** `name<TAB>digest` lines. */
  def load(f: File): Map[String, String] =
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.contains('\t'))
      .map { l => val a = l.split('\t'); a(0) -> a(1) }.toMap
}

/** Host load around a pass, so a pass run on a busy host shows in the
  * result file.
  */
object Host {
  final case class Sample(load1: Double, steal: Long, total: Long)

  def sample(): Sample = {
    def read(p: String) = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")).getOrElse("")
    val load = scala.util.Try(read("/proc/loadavg").trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    Sample(load, if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
  }

  def stealPct(a: Sample, b: Sample): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
}
