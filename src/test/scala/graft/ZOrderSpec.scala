package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.gold.ZOrder

class ZOrderSpec extends SparkSpecBase {
  import spark.implicits._

  test("zvalue is the exact Morton interleave") {
    // x=3 (011), y=5 (101), 3 bits: bits of x at even positions, y at odd
    // z = x0<<0 | y0<<1 | x1<<2 | y1<<3 | x2<<4 | y2<<5
    //   = 1 + 2*1 + 4*1 + 8*0 + 16*0 + 32*1 = 39
    val out = Seq((3L, 5L)).toDF("x", "y")
      .select(ZOrder.zvalue(Seq($"x", $"y"), bits = 3).as("z"))
      .as[Long].head()
    out shouldBe 39L
    // values beyond `bits` are masked, never corrupt high bits
    val masked = Seq((8L, 0L)).toDF("x", "y") // 8 = 1000, bits=3 masks it away
      .select(ZOrder.zvalue(Seq($"x", $"y"), bits = 3).as("z"))
      .as[Long].head()
    masked shouldBe 0L
  }

  test("zvalue guards: >= 2 columns, bits*k <= 63") {
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq($"x"), bits = 8)
    }
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq($"x", $"y"), bits = 32)
    }
  }

  test("z-ordered files have tight min/max boxes in BOTH dimensions") {
    // 64x64 grid, shuffled input order; 16 output partitions
    val rnd = new scala.util.Random(3)
    val rows = rnd.shuffle((0 until 64).flatMap(a => (0 until 64).map(b => (a.toLong, b.toLong))))
    val df = rows.toDF("a", "b").repartition(8)

    val parts = df
      .withColumn("__z", ZOrder.zvalue(Seq($"a", $"b"), bits = 6))
      .repartitionByRange(16, $"__z")
      .sortWithinPartitions("__z")
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("a").as("amin"), max("a").as("amax"),
        min("b").as("bmin"), max("b").as("bmax"))
      .collect()

    parts.length shouldBe 16
    // a perfect z-curve over a 64x64 grid cut into 16 equal runs gives
    // 16x16 boxes; allow slack for range-boundary straddle, but every
    // box must be FAR tighter than the 0..63 global span in BOTH dims —
    // a single-column sort would leave the other dimension at full span
    parts.foreach { r =>
      (r.getLong(2) - r.getLong(1)) should be <= 31L
      (r.getLong(4) - r.getLong(3)) should be <= 31L
    }
  }

  test("StatsIndex prunes files soundly: pruned read ≡ filtered full read") {
    val dir = java.nio.file.Files.createTempDirectory("zstats").toString
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((0 until 64).flatMap(a => (0 until 64).map(b => (a.toLong, b.toLong))))
    ZOrder.writeZOrdered(rows.toDF("a", "b").repartition(8),
      Seq($"a", $"b"), bits = 6, numFiles = 16, path = dir)

    gold.StatsIndex.build(spark, dir, Seq("a", "b")).count() shouldBe 16L // one row per file
    gold.StatsIndex.write(spark, dir, Seq("a", "b"))

    // (files the scan read, its rows)
    def scan(pred: org.apache.spark.sql.Column): (Int, Set[(Long, Long)]) = {
      val df = spark.read.parquet(dir).filter(pred)
      val out = df.select("a", "b").as[(Long, Long)].collect().toSet
      val files = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles.toInt
      }
      (files.sum, out)
    }

    // a narrow predicate on EITHER z-ordered dimension drops most files;
    // pruning + row filter equals the unpruned filtered read
    for ((pred, expect) <- Seq(
        $"a".between(10, 12) -> rows.filter(r => r._1 >= 10 && r._1 <= 12),
        $"b".between(50, 55) -> rows.filter(r => r._2 >= 50 && r._2 <= 55))) {
      val (files, out) = scan(pred)
      files should be < 16
      out shouldBe expect.toSet
    }

    // out-of-domain interval: zero files survive, empty result, schema kept
    val (files, out) = scan($"a".between(1000, 2000))
    files shouldBe 0
    out shouldBe empty
    spark.read.parquet(dir).filter($"a".between(1000, 2000))
      .columns.sorted shouldBe Array("a", "b")
  }

  test("writeZOrdered round-trips the data unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val df = (0 until 100).map(i => (i.toLong % 10, i.toLong / 10, s"v$i"))
      .toDF("a", "b", "payload")
    ZOrder.writeZOrdered(df, Seq($"a", $"b"), bits = 4, numFiles = 4, path = dir)
    val back = spark.read.parquet(dir)
    back.columns.sorted shouldBe Array("a", "b", "payload")
    back.count() shouldBe 100L
    back.select("payload").as[String].collect().toSet shouldBe
      (0 until 100).map(i => s"v$i").toSet
  }
}
