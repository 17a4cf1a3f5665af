package graft

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
}
