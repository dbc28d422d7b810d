package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge

/** The benchmark's JVM main. Closed loop, one client: one thread makes
  * sequential calls into the engine on `local[N]`, N = the host's cores.
  *
  * Usage (normally through `perfbench/run.py`):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --data <dir> --digests <file> --users <n> --result <file>
  * }}}
  *
  * A run sets up (session start, input preparation three times, and an
  * untimed warm-up pass that checks every result), then starts timed
  * passes until `--seconds` have gone and at least three (four traced)
  * have run. With `--trace 0` every pass is untraced and the
  * end-to-end metrics are medians over passes. With `--trace 1` traced and
  * untraced passes alternate (ABBA): the per-layer metrics are medians over the
  * traced passes, and `trace.overhead_s` is the traced minus the untraced
  * median wall time.
  */
object Main {

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Whole-stage and expression classes Janino has compiled so far. */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def peakHeapMb: Double =
    heapPools.map(p => scala.util.Try(p.getPeakUsage.getUsed).getOrElse(0L)).sum / (1024.0 * 1024.0)

  private final case class PassRec(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
      procCpuS: Double, heapMb: Double, compiles: Long, opSecs: Seq[(String, Double)],
      hostBefore: Host.Sample, hostAfter: Host.Sample)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.builder(master = s"local[$cores]", appName = "perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val cpu = new CpuListener
    sc.addSparkListener(cpu)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      case "medallion_daily" => new Medallion(spark, work, seed, opt("users").toInt)
      case "lsh_dedup" => new Gates(spark, work, new File(opt("data")), seed,
        GateSets.lsh(Seq("q_x_minhash_lsh", "q_x_allpairs_jaccard")),
        Digest.load(new File(opt("digests"))), Seq("dedup"))
      case "txlog_dml" => new Gates(spark, work, new File(opt("data")), seed,
        GateSets.txlog(work), Digest.load(new File(opt("digests"))), Seq("txlog", "streaming"))
      case other => sys.error(s"unknown workload $other")
    }

    val prepS = (1 to 3).map { r =>
      val a = System.nanoTime(); wl.prepare(r); (System.nanoTime() - a) / 1e9
    }
    val checks = mutable.ArrayBuffer.empty[Check]
    var attempted = 0
    var failed = 0
    /** Counts a pass; one whose checks fail counts as at least one failure. */
    def account(out: PassOut, after: Seq[Check]): Unit = {
      checks ++= out.checks
      checks ++= after
      attempted += out.attempted
      failed += (if ((out.checks ++ after).exists(!_.ok)) math.max(1, out.failed) else out.failed)
    }
    val w0 = System.nanoTime()
    account(wl.warmup(), wl.verify(-1))
    val warmS = (System.nanoTime() - w0) / 1e9

    val tracer = new Tracer(sc)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    // passes start until `seconds` have gone and at least three have run,
    // so every figure is a median that one disturbed pass cannot move;
    // traced runs alternate untraced and traced passes in ABBA order, at
    // least two of each
    val minPasses = if (trace) 4 else 3
    // on a host slow enough that the minimum would outlast the run's time
    // limit (run.py kills a run at 165 s), passes stop starting at 110 s
    def early = passes.size < minPasses && (System.nanoTime() - t0) / 1e9 < 110
    def more = early || elapsed < seconds
    var i = 0
    while (more) {
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      ListenerBridge.drain(sc)
      if (traced) { tracer.pass = i; sc.addSparkListener(tracer) }
      val c0 = cpu.cpuNs.get()
      val p0 = os.getProcessCpuTime
      heapPools.foreach(p => scala.util.Try(p.resetPeakUsage()))
      val h0 = Host.sample()
      val k0 = compiles
      val a = System.nanoTime()
      val out = wl.runPass(i, if (traced) Some(tracer) else None)
      val wall = (System.nanoTime() - a) / 1e9
      val proc = (os.getProcessCpuTime - p0) / 1e9
      val heap = peakHeapMb
      ListenerBridge.drain(sc)
      if (traced) sc.removeSparkListener(tracer)
      val h1 = Host.sample()
      passes += PassRec(i, traced, wall, (cpu.cpuNs.get() - c0) / 1e9, proc, heap,
        compiles - k0, out.opSecs, h0, h1)
      account(out, wl.verify(i))
      if (traced) layerRuns += wl.layerMetrics(tracer, i)
      i += 1
    }

    val untraced = passes.filterNot(_.traced)
    def med(f: PassRec => Double, ps: Seq[PassRec] = untraced.toSeq) = Stats.median(ps.map(f))
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (sessionS + Stats.median(prepS) + warmS, "s"),
      "wall_s" -> (med(_.wallS), "s"),
      "cpu_s" -> (med(_.cpuS), "s"),
      "proc_cpu_s" -> (med(_.procCpuS), "s"),
      "op_p50_s" -> (med(p => Stats.median(p.opSecs.map(_._2))), "s"))
    val perLayer: Map[String, (Double, String)] =
      if (!trace) Map.empty
      else {
        val traced = passes.filter(_.traced).toSeq
        val measured = PerLayer.All.map { case (name, unit) =>
          name -> (Stats.median(layerRuns.toSeq.map(_.getOrElse(name, 0.0))), unit)
        }.toMap
        measured ++ Map(
          "codegen.compiles" -> (med(_.compiles.toDouble, traced), "count"),
          "trace.overhead_s" -> (med(_.wallS, traced) - med(_.wallS), "s"))
      }
    val metrics = if (trace) perLayer else endToEnd
    val correct = failed == 0 && checks.forall(_.ok)
    checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] check failed: ${c.name}: ${c.detail}"))

    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "set_up" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS),
      "op_samples" -> untraced.map(_.opSecs.size).sum,
      "passes" -> passes.map { p =>
        Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
          "proc_cpu_s" -> p.procCpuS, "peak_heap_mb" -> p.heapMb, "codegen_compiles" -> p.compiles,
          "ops" -> p.opSecs.map { case (n, s) => Map("name" -> n, "s" -> s) },
          "load1_before" -> p.hostBefore.load1, "load1_after" -> p.hostAfter.load1,
          "steal_pct" -> Host.stealPct(p.hostBefore, p.hostAfter))
      },
      "layers_by_pass" -> layerRuns,
      "spans" -> (if (trace) tracer.spans.map(s => Map("name" -> s.name, "layer" -> s.layer,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) else Nil),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "provenance" -> Map(
        "nproc" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> runtime.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new File(opt("result")), result)
    spark.stop()
  }
}

/** Every per-layer metric with its unit. A workload reports the layers it
  * runs; the others read 0 on it.
  */
object PerLayer {
  private val medallionLayer = Seq("wall_s" -> "s", "busy_s" -> "s", "driver_s" -> "s",
    "cpu_s" -> "s", "jobs" -> "count", "tasks" -> "count", "shuffle_mb" -> "MB",
    "rows_in" -> "count", "rows_out" -> "count")

  val All: Seq[(String, String)] =
    Seq("runner.wait_s" -> "s", "runner.idle_s" -> "s", "runner.attempts" -> "count") ++
      Seq("bronze", "silver", "gold").flatMap(l => medallionLayer.map { case (m, u) => s"$l.$m" -> u }) ++
      Seq("bronze.reject_ratio" -> "ratio", "silver.dedup_ratio" -> "ratio",
        "silver_to_gold_s" -> "s") ++
      Seq("dedup.jobs" -> "count", "dedup.stages" -> "count", "dedup.tasks" -> "count",
        "dedup.cpu_s" -> "s", "dedup.exec_run_s" -> "s", "dedup.gc_s" -> "s",
        "dedup.cpu_per_task_ms" -> "ms", "dedup.task_skew" -> "ratio",
        "dedup.shuffle_mb" -> "MB", "dedup.spill_mb" -> "MB", "dedup.driver_s" -> "s") ++
      Seq("txlog.jobs" -> "count", "txlog.jobs_per_query" -> "count", "txlog.stages" -> "count",
        "txlog.tasks" -> "count", "txlog.driver_s" -> "s", "txlog.cpu_s" -> "s",
        "txlog.write_mb" -> "MB", "txlog.read_mb" -> "MB", "txlog.rows_written" -> "count") ++
      Seq("streaming.batches" -> "count", "streaming.jobs_per_batch" -> "count",
        "streaming.cpu_s" -> "s", "streaming.driver_s" -> "s", "streaming.addbatch_s" -> "s",
        "streaming.planning_s" -> "s", "streaming.walcommit_s" -> "s",
        "streaming.commitoffsets_s" -> "s", "streaming.latestoffset_s" -> "s")
}
