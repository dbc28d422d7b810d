package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.core.Fs
import graft.runner.{MedallionPipeline, Pipeline}

/** `medallion_daily`: one `MedallionPipeline.run()` per pass on seeded raw
  * CSVs, each pass into a fresh output directory with the default task
  * parallelism. Every pass is checked: the run report must succeed and
  * every layer's row counts must equal what the generator planted.
  */
final class Medallion(spark: SparkSession, work: File, seed: Long, users: Int)
    extends Workload {

  private val runDate = "2024-06-01"
  private var raw: File = _
  private var expected: Expected = _
  private var lastDeps: Map[String, Seq[String]] = Map.empty
  private var lastPipeline: (Double, Double) = (0.0, 0.0)
  private val counts = scala.collection.mutable.Map.empty[Int, Counts]

  def prepare(rep: Int): Unit = {
    Option(raw).foreach(Fs.rmTree)
    raw = new File(work, s"raw-$rep")
    expected = RawGen.write(raw, seed, users)
  }

  private def outDir(i: Int) = new File(work, s"out-$i")

  private def pipeline(i: Int) = MedallionPipeline(spark, raw.getPath, outDir(i).getPath,
    runDate = runDate, ingestTs = s"$runDate 02:00:00", pipelineRunId = s"perfbench-$i")

  def warmup(): PassOut = runPass(-1, None)

  def runPass(i: Int, tracer: Option[Tracer]): PassOut = {
    val p = pipeline(i)
    val (report, spanCheck) = tracer match {
      case None => (p.run(), Nil)
      case Some(t) =>
        // the same DAG through the public runner, each task body in a span
        val wrapped = p.tasks.map { task =>
          Pipeline.Task(task.name, task.deps, task.retries)(() =>
            t.span(task.name, Medallion.layerOf(task.name))(task.body()))
        }
        lastDeps = p.tasks.map(t => t.name -> t.deps).toMap
        val t0 = t.nowMs
        val rep = Pipeline.run(wrapped, None, s"medallion-$runDate", p.taskParallelism)
        lastPipeline = (t0, t.nowMs)
        (rep, Seq(spansMatchRunner(i, rep, t)))
    }
    val ok = report.succeeded
    if (!ok) report.failed.foreach(r => System.err.println(s"[perfbench] task ${r.name}: ${r.status}"))
    PassOut(report.results.map(r => r.name -> r.durationMs / 1e3), attempted = 1,
      failed = if (ok) 0 else 1,
      checks = Check(s"pass$i.report_succeeded", ok, "") +: spanCheck)
  }

  /** The runner times each task itself; every task it ran must have spans
    * whose summed length agrees with that time, or the layer figures would
    * miss work.
    */
  private def spansMatchRunner(i: Int, report: Pipeline.Report, t: Tracer): Check = {
    val byTask = t.spans.filter(_.pass == i).groupBy(_.name)
    val ran = report.results.filterNot(_.status.isInstanceOf[Pipeline.Skipped])
    val gaps = ran.map { r =>
      val spanMs = byTask.getOrElse(r.name, Nil).map(s => s.endMs - s.startMs).sum
      r.name -> (r.durationMs - spanMs)
    }
    val (worst, gap) = gaps.maxBy(g => math.abs(g._2))
    Check(s"pass$i.spans_match_runner",
      ran.forall(r => byTask.contains(r.name)) && gaps.forall(g => math.abs(g._2) <= 20.0),
      f"${ran.size} tasks, ${byTask.size} with spans; largest gap $worst: $gap%.1f ms")
  }

  /** Row counts of every layer output, from parquet footers. */
  private def measure(i: Int): Counts = {
    val out = outDir(i).getPath
    val tables = expected.raw.keys.toSeq.sorted
    Counts(
      bronze = tables.map(t => t -> Files.parquetRows(spark, s"$out/bronze/$t/run_date=$runDate")).toMap,
      rejected = tables.map(t => t -> Files.parquetRows(spark, s"$out/_rejects/$t/run_date=$runDate")).toMap,
      silver = tables.map(t => t -> Files.parquetRows(spark, s"$out/silver/$t/run_date=$runDate")).toMap,
      gold = expected.gold.keys.toSeq.map(t => t -> Files.parquetRows(spark, s"$out/gold/$t")).toMap)
  }

  def verify(i: Int): Seq[Check] = {
    val c = measure(i)
    counts(i) = c
    Fs.rmTree(outDir(i))
    def cmp(layer: String, got: Map[String, Long], want: Map[String, Long]) =
      want.toSeq.sorted.map { case (t, n) =>
        Check(s"pass$i.$layer.$t.rows", got.get(t).contains(n), s"expected $n, got ${got.getOrElse(t, -1L)}")
      }
    cmp("bronze", c.bronze, expected.bronzeValid) ++ cmp("rejects", c.rejected, expected.rejected) ++
      cmp("silver", c.silver, expected.silver) ++ cmp("gold", c.gold, expected.gold)
  }

  def layerMetrics(t: Tracer, pass: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == pass)
    val c = counts(pass)
    val raw = expected.raw.values.sum.toDouble
    def layer(l: String, rowsIn: Double, rowsOut: Double): Map[String, Double] = {
      val u = new t.Usage(spans.filter(_.layer == l))
      Map(s"$l.wall_s" -> u.wallS, s"$l.busy_s" -> u.busyS, s"$l.driver_s" -> u.driverS,
        s"$l.cpu_s" -> u.cpuS, s"$l.jobs" -> u.jobCount.toDouble, s"$l.tasks" -> u.tasks.toDouble,
        s"$l.shuffle_mb" -> u.shuffleMb, s"$l.rows_in" -> rowsIn, s"$l.rows_out" -> rowsOut)
    }
    val bronzeOut = c.bronze.values.sum.toDouble
    val silverOut = c.silver.values.sum.toDouble
    val goldOut = c.gold.values.sum.toDouble
    val keyed = Seq("users", "datasets", "competitions", "kernels")
    val keyedIn = keyed.map(c.bronze).sum.toDouble
    val keyedOut = keyed.map(c.silver).sum.toDouble
    val byName = spans.groupBy(_.name)
    val (p0, p1) = lastPipeline
    // time each task waited after its last dependency finished
    val waitMs = byName.toSeq.map { case (name, attempts) =>
      val ready = lastDeps.getOrElse(name, Nil).flatMap(byName.get).map(_.map(_.endMs).max)
        .foldLeft(p0)(math.max)
      math.max(0.0, attempts.map(_.startMs).min - ready)
    }.sum
    val busy = Intervals.length(spans.map(_.interval))
    val silverStart = spans.filter(_.layer == "silver").map(_.startMs)
    val goldEnd = spans.filter(_.layer == "gold").map(_.endMs)
    layer("bronze", raw, bronzeOut) ++ layer("silver", bronzeOut, silverOut) ++
      layer("gold", silverOut, goldOut) ++ Map(
        "runner.wait_s" -> waitMs / 1e3,
        "runner.idle_s" -> (p1 - p0 - busy) / 1e3,
        "runner.attempts" -> spans.size.toDouble,
        "bronze.reject_ratio" -> c.rejected.values.sum / raw,
        "silver.dedup_ratio" -> (keyedIn - keyedOut) / keyedIn,
        "silver_to_gold_s" ->
          (if (silverStart.isEmpty || goldEnd.isEmpty) 0.0 else (goldEnd.max - silverStart.min) / 1e3))
  }
}

object Medallion {
  def layerOf(task: String): String =
    if (task.startsWith("silver")) "silver"
    else if (task.startsWith("gold")) "gold"
    else "bronze" // bronze_*, check_sources and bronze_report
}

final case class Counts(bronze: Map[String, Long], rejected: Map[String, Long],
    silver: Map[String, Long], gold: Map[String, Long])
