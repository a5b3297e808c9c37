package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork=true). */
object SparkSpec {
  // A wedged claim (crashed writer, never publishes) makes upsert wait for
  // the winner's commit marker before rethrowing; tests exercise that path
  // deliberately and must not stall 30 s per occurrence.
  sys.props("graft.versioned.claimWaitMs") = "500"

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // standard INT64-micros timestamps (INT96 footers carry no usable
      // stats — the versioned tables' footer-based stats collection
      // would fall back to read-back scans); same conf as Bench/Verify
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs and stages that `body` starts on this thread. A marker
    * job run after `body` drains the listener bus first, so late
    * job-start events are counted before the totals are read. */
  def jobsAndStages(body: => Any): (Int, Int) = {
    val tag = "graft.test.commitJobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)) match {
          case Some("commit") =>
            jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
          case Some("marker") => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "commit")
      body
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    (jobs.get, stages.get)
  }
}
