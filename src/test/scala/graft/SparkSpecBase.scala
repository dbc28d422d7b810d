package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one JVM-wide session — suites
  * run against the same config as production code via GraftSession).
  */
trait SparkSpecBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession =
    core.GraftSession.builder(master = "local[4]", appName = "graft-test",
      shufflePartitions = 4)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()

  def sc = spark.sparkContext

  /** The start events of every Spark job `body` started (bus drained). */
  def jobsStarted(body: => Unit): Seq[SparkListenerJobStart] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.add(js); () }
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }

  /** The caller of each parquet schema-inference job in `jobs`: Spark's
    * footer-schema merge for a read given no schema, a job outside any SQL
    * execution whose call site is `DataFrameReader.parquet`. */
  def parquetInferenceSites(jobs: Seq[SparkListenerJobStart]): Seq[String] =
    jobs.filter(js => Option(js.properties)
        .forall(_.getProperty("spark.sql.execution.id") == null))
      .flatMap(_.stageInfos.headOption.map(_.details.linesIterator.toSeq))
      .collect { case first +: rest if first.contains("DataFrameReader.parquet") =>
        rest.headOption.getOrElse(first).trim }
}
