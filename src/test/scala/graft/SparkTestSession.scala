package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(GraftSession.LocalFsImpl._1, GraftSession.LocalFsImpl._2)
    .config(GraftSession.ListingParallelism, "4")
    .config(GraftSession.CodegenCacheEntries._1, GraftSession.CodegenCacheEntries._2)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  spark.sparkContext.setLogLevel("ERROR")

  /** Runs `body` and returns the Spark jobs it started; the listener bus
    * is drained before and after, so every job event is counted. */
  def jobsOf(body: => Unit): Long = {
    val jobs = new AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}
