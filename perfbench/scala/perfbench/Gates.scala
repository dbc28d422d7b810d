package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fs, Tables}
import graft.gold.TxLog
import graft.streaming.EventStream

/** One benchmark operation: builds a result on the input directory. Its
  * digest must equal the digest of the gate query named `gate`.
  */
final case class Op(name: String, layer: String, gate: String,
    body: (SparkSession, String) => DataFrame)

/** A gate-query workload: the operations run in a seed-chosen order, each
  * through the `noop` sink as `graft.Bench` runs them. The untimed first
  * pass compares each result's digest with the one recorded for its gate;
  * since the order changes with the seed, that also catches session state
  * leaking from one operation into the next.
  */
final class Gates(spark: SparkSession, work: File, data: File, seed: Long,
    ops: Seq[Op], digests: Map[String, String], layers: Seq[String]) extends Workload {

  val order: Seq[Op] = new scala.util.Random(seed).shuffle(ops)
  private var dir: File = _

  def prepare(rep: Int): Unit = {
    Option(dir).foreach(Fs.rmTree)
    dir = new File(work, s"input-$rep")
    Files.copyTree(data, dir)
    // every input table opens and has rows
    dir.listFiles().foreach { f =>
      require(Files.parquetRows(spark, f.getPath) > 0, s"empty input ${f.getName}")
    }
  }

  private def attempt[T](op: Op)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        None
    } finally spark.catalog.clearCache()

  def warmup(): PassOut = {
    val checks = order.map { op =>
      val got = attempt(op)(Digest.of(op.body(spark, dir.getPath)))
      val want = digests.get(op.gate)
      Check(s"digest.${op.name}", got.isDefined && got == want,
        s"expected ${want.getOrElse("(none recorded)")}, got ${got.getOrElse("(failed)")}")
    }
    PassOut(Nil, order.size, checks.count(!_.ok), checks)
  }

  def runPass(i: Int, tracer: Option[Tracer]): PassOut = {
    var failed = 0
    val secs = order.map { op =>
      val t0 = System.nanoTime()
      val ok = attempt(op) {
        def run(): Unit = op.body(spark, dir.getPath).write.format("noop").mode("overwrite").save()
        tracer.fold(run())(t => t.span(op.name, op.layer)(run()))
      }.isDefined
      if (!ok) failed += 1
      op.name -> (System.nanoTime() - t0) / 1e9
    }
    PassOut(secs, order.size, failed, Nil)
  }

  def verify(i: Int): Seq[Check] = Nil

  def layerMetrics(t: Tracer, pass: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == pass)
    layers.flatMap(l => Layers.of(l, t, spans.filter(_.layer == l))).toMap
  }
}

/** Per-layer metrics of the gate layers, from the spans of one pass. */
object Layers {
  def of(layer: String, t: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val u = new t.Usage(spans)
    val ops = math.max(1, spans.size).toDouble
    layer match {
      case "dedup" => Map(
        "dedup.jobs" -> u.jobCount.toDouble, "dedup.stages" -> u.stages.size.toDouble,
        "dedup.tasks" -> u.tasks.toDouble, "dedup.cpu_s" -> u.cpuS,
        "dedup.exec_run_s" -> u.runS, "dedup.gc_s" -> u.gcS,
        "dedup.cpu_per_task_ms" -> (if (u.tasks > 0) u.cpuS * 1e3 / u.tasks else 0.0),
        "dedup.task_skew" -> u.taskSkew, "dedup.shuffle_mb" -> u.shuffleMb,
        "dedup.spill_mb" -> u.spillMb, "dedup.driver_s" -> u.driverS)
      case "txlog" => Map(
        "txlog.jobs" -> u.jobCount.toDouble, "txlog.jobs_per_query" -> u.jobCount / ops,
        "txlog.stages" -> u.stages.size.toDouble, "txlog.tasks" -> u.tasks.toDouble,
        "txlog.driver_s" -> u.driverS, "txlog.cpu_s" -> u.cpuS,
        "txlog.write_mb" -> u.writeMb, "txlog.read_mb" -> u.readMb,
        "txlog.rows_written" -> u.rowsWritten.toDouble)
      case "streaming" =>
        val b = u.batches
        def part(k: String) = b.map(_.getOrElse(k, 0L)).sum / 1e3
        Map(
          "streaming.batches" -> b.size.toDouble,
          "streaming.jobs_per_batch" -> (if (b.isEmpty) 0.0 else u.jobCount.toDouble / b.size),
          "streaming.cpu_s" -> u.cpuS, "streaming.driver_s" -> u.driverS,
          "streaming.addbatch_s" -> part("addBatch"),
          "streaming.planning_s" -> part("queryPlanning"),
          "streaming.walcommit_s" -> part("walCommit"),
          "streaming.commitoffsets_s" -> part("commitOffsets"),
          "streaming.latestoffset_s" -> part("latestOffset"))
    }
  }
}

/** The gate sets. The `q_x_*` similarity gates run as declared; they only
  * read their input. The TxLog and streaming gates write their tables to
  * fixed paths under `/tmp`, and a run may write only inside its own
  * checkout, so the benchmark makes the same calls on tables under its
  * work directory: each body below repeats its gate's body in
  * `graft.ExtensionQueries` / `graft.SparkEntry` with only the paths
  * changed. Its digest must equal the recorded digest of the gate itself,
  * which ties the copy to the gate as the gate stood when the digests were
  * recorded (see README.md).
  */
object GateSets {

  def lsh(names: Seq[String]): Seq[Op] = names.map { n =>
    Op(n, "dedup", n, graft.SparkEntry.queries(n))
  }

  private def orders(s: SparkSession, dir: String) =
    Tables(s, dir).orders.select(col("o_orderkey").as("id"),
      col("o_custkey").as("cust"), col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  private def byPriority(df: DataFrame) =
    df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("total_cents"))

  /** Three TxLog gates chosen to fit a pass of a few seconds: parquet
    * checkpoints and vacuum over a run of small commits, with a snapshot
    * resolved at an older version; metadata-only schema evolution through
    * a `sqlfront` procedure, with a time-travel read; and TxLog-to-TxLog
    * streaming, one small commit per micro-batch.
    */
  def txlog(work: File): Seq[Op] = {
    def fresh(name: String) = {
      val p = new File(work, s"txlog/$name"); Fs.rmTree(p); p.getPath
    }
    Seq(
      Op("txlog_ckpt_parquet", "txlog", "q_o_txlog_ckpt_parquet", (s, dir) => {
        val path = fresh("ckptpq")
        val o = orders(s, dir)
        TxLog.init(o.filter(col("cust") % 4 === 0)
          .repartitionByRange(3, col("id")), path)
        val slice1 = o.filter(col("cust") % 4 === 1)
        (0 until 10).foreach { i =>
          TxLog.append(slice1.filter(col("id") % 10 === i), path, i.toLong)
        }
        TxLog.deleteWhere(s, path, col("o_orderpriority") === "5-LOW", 10L)
        val names = new File(path, TxLog.LogDirName).listFiles().map(_.getName)
        val parquetKind =
          names.contains(f"${10L}%020d.checkpoint.parquet") &&
            !names.exists(_.endsWith(".checkpoint.json"))
        val distributiveMatches = TxLog.checkpointFilesDf(s, path, 10L)
          .select("file").collect().map(_.getString(0)).toSet ==
          TxLog.snapshot(path, Some(10L)).files.toSet
        TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
        byPriority(TxLog.read(s, path))
          .withColumn("parquet_kind", lit(parquetKind))
          .withColumn("distributive_matches", lit(distributiveMatches))
      }),
      Op("txlog_add_column", "txlog", "q_o_txlog_add_column", (s, dir) => {
        val path = fresh("addcol")
        val o = orders(s, dir)
        TxLog.init(o.filter(col("id") % 3 === 0)
          .repartitionByRange(3, col("id")), path)
        s.conf.set("spark.sql.catalog.graft_sys", "graft.sqlfront.GraftProcedureCatalog")
        val filesBefore = TxLog.snapshot(path).files.toSet
        s.sql(s"CALL graft_sys.system.add_column('$path', 'flag', 'BIGINT')")
        val metadataOnly = TxLog.snapshot(path).files.toSet == filesBefore
        val belowNoColumn = !TxLog.read(s, path, asOf = Some(0L)).columns.contains("flag")
        TxLog.append(o.filter(col("id") % 3 === 1)
          .withColumn("flag", col("id") % 7), path, 1L)
        TxLog.read(s, path)
          .withColumn("has_flag", col("flag").isNotNull)
          .groupBy("o_orderpriority", "has_flag")
          .agg(count(lit(1)).as("cnt"), sum("cents").as("total_cents"),
            sum("flag").as("flag_sum"))
          .withColumn("metadata_only", lit(metadataOnly))
          .withColumn("below_add_no_column", lit(belowNoColumn))
      }),
      Op("stream_txlog_pipeline", "streaming", "q_o_stream_txlog_pipeline", (s, dir) => {
        val (bronze, silver, ckpt) = (fresh("pipe_bronze"), fresh("pipe_silver"), fresh("pipe_ckpt"))
        val ev = Tables(s, dir).events.select(col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("user_id"),
          col("event_type"), col("value"))
        def transform(b: DataFrame): DataFrame =
          b.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"),
              col("ts").cast("date").as("day"),
              round(col("value") * 100).cast("long").as("value_cents"))
        TxLog.init(ev.filter(pmod(col("event_id"), lit(3)) === 0), bronze)
        TxLog.append(ev.filter(pmod(col("event_id"), lit(3)) === 1), bronze, 0L)
        TxLog.init(s.createDataFrame(s.sparkContext.emptyRDD[Row], transform(ev).schema), silver)
        EventStream.runTxLogPipelineOnce(s, bronze, silver, ckpt, transform)
        // a late bronze commit lands while the pipeline is down; the
        // restarted run consumes exactly that version
        TxLog.append(ev.filter(pmod(col("event_id"), lit(3)) === 2), bronze, 1L)
        EventStream.runTxLogPipelineOnce(s, bronze, silver, ckpt, transform)
        TxLog.read(s, silver)
      })
    )
  }
}
