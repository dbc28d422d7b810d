package perfbench

/** Prints `name<TAB>digest` for the named gate queries, run as declared in
  * `graft.SparkEntry.queries` on `<dataDir>`. Used to record
  * `perfbench/digests/<sf>.tsv` once `tools/check_oracle.py` has passed on
  * the same queries and data. The TxLog and streaming gates write under
  * `/tmp/graft_roundtrip`, so this is a maintenance tool, not part of a run.
  *
  * Usage: `perfbench.RecordDigests <dataDir> <gate>...`
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder(appName = "perfbench-digests").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.drop(1).foreach { name =>
      println(s"$name\t${Digest.of(graft.SparkEntry.queries(name)(spark, args(0)))}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
