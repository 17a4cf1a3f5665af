package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}

import graft.SparkTestSession

/** Range-clustered layout: identical query results to any other layout,
  * with parquet row-group pruning doing the work — a range predicate over
  * the sorted layout READS FEWER BYTES than over a shuffled layout of the
  * same rows (task input metrics prove it). */
class LayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Sum of task recordsRead for one action — rows the parquet reader
    * DELIVERED, i.e. after row-group/page pruning but before the Spark
    * filter (bytesRead is blind to the new vectored parquet IO path). */
  private def recordsRead(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        Option(t.taskMetrics).foreach(m => acc.addAndGet(m.inputMetrics.recordsRead))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { f; org.apache.spark.ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    acc.get()
  }

  test("range predicate over the clustered layout surfaces far fewer rows from the reader, same results") {
    import spark.implicits._
    // 400k rows, a long payload so row groups hold a bounded id range;
    // ids arrive SHUFFLED (hash order) so the unclustered layout has
    // full-range row groups
    val n = 400000
    val rows = spark.range(n)
      .select(F.xxhash64(F.col("id")).as("shuffle_key"), F.col("id"),
        F.concat(F.lit("payload-"), F.md5(F.col("id").cast("string"))).as("payload"))
      .orderBy("shuffle_key").drop("shuffle_key")
    val base = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val clustered = s"$base/clustered"
    val random = s"$base/random"
    // same parquet knobs both sides: 64 KB row groups, 4 files
    Layout.writeRangeClustered(rows, clustered, numFiles = 4, keys = Seq("id"),
      rowGroupBytes = Some(64 * 1024))
    rows.repartition(4).write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString).parquet(random)

    val pred = F.col("id").between(1000, 3000)
    // the query must READ a payload column for surviving rows (a bare
    // count() reads only the pruned filter column and understates the
    // win): sum of payload lengths over the id range
    def q(path: String): (Long, Long) = {
      val r = Layout.readRange(spark, path, pred)
        .agg(F.count(F.lit(1)), F.sum(F.length(F.col("payload")))).head()
      (r.getLong(0), r.getLong(1))
    }
    // warm (footer caches, code paths), then measure
    q(clustered); q(random)
    val resClustered = q(clustered)
    val resRandom = q(random)
    assert(resClustered == resRandom && resClustered._1 == 2001L,
      s"layouts agree on results: $resClustered vs $resRandom")
    val rClustered = recordsRead { q(clustered); () }
    val rRandom = recordsRead { q(random); () }
    assert(rClustered > 0 && rRandom > 0)
    // clustered: the ~2 matching row groups (+ boundaries); random: every
    // row group spans the full id range, nothing prunes, all rows surface
    assert(rClustered * 10 < rRandom,
      s"sorted layout must let row-group stats prune most of the scan: " +
        s"clustered $rClustered rows read vs random $rRandom")
    // and the predicate actually reached the scan
    val scan = Layout.readRange(spark, clustered, pred)
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scan.nonEmpty && scan.head.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      "range predicate must be pushed to the parquet scan")
  }

  test("zValue interleaves bits: a in even positions, b in odd") {
    import spark.implicits._
    val rows = Seq((5L, 3L), (0L, 0L), (7L, 0L), (0L, 7L)).toDF("a", "b")
      .select(Layout.zValue(F.col("a"), F.col("b"), bits = 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // a=101,b=011 -> z = a0 + b0<<1 + a1<<2 + b1<<3 + a2<<4 + b2<<5
    //              = 1 + 2 + 0 + 8 + 16 + 0 = 27
    assert(rows == Seq(27L, 0L, 0x15L, 0x2aL))
  }

  test("z-ordered layout prunes on BOTH dimensions; single-key layout prunes only its own") {
    import spark.implicits._
    // two independent dims x,y in [0,512); rows arrive hash-shuffled
    val n = 262144
    val rows = spark.range(n)
      .select(F.xxhash64(F.col("id")).as("k"),
        (F.col("id") % 512).as("x"), (F.col("id") / 512).cast("long").as("y"),
        F.md5(F.col("id").cast("string")).as("payload"))
      .orderBy("k").drop("k")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val zpath = s"$base/z"
    val xpath = s"$base/x"
    Layout.writeZOrdered(rows, zpath, numFiles = 4, colA = "x", colB = "y",
      bits = 9, rowGroupBytes = Some(64 * 1024))
    Layout.writeRangeClustered(rows, xpath, numFiles = 4, keys = Seq("x"),
      rowGroupBytes = Some(64 * 1024))
    def q(path: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val r = Layout.readRange(spark, path, pred)
        .agg(F.count(F.lit(1)), F.sum(F.length(F.col("payload")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val predX = F.col("x").between(100, 131)
    val predY = F.col("y").between(100, 131)
    // results identical across layouts (layout never changes rows)
    assert(q(zpath, predX) == q(xpath, predX))
    assert(q(zpath, predY) == q(xpath, predY))
    // warm, then measure reader-delivered rows
    q(zpath, predX); q(zpath, predY); q(xpath, predX); q(xpath, predY)
    val zx = recordsRead { q(zpath, predX); () }
    val zy = recordsRead { q(zpath, predY); () }
    val xx = recordsRead { q(xpath, predX); () }
    val xy = recordsRead { q(xpath, predY); () }
    // the x-sorted layout answers x fast but reads EVERYTHING for y;
    // the z-order layout prunes meaningfully on both
    assert(xx * 4 < xy, s"sanity: single-key layout prunes x ($xx) not y ($xy)")
    assert(zx * 2 < n, s"z-order must prune on x: read $zx of $n")
    assert(zy * 2 < n, s"z-order must prune on y: read $zy of $n")
    assert(zy * 2 < xy, s"z-order beats the x-sorted layout on the y dimension: $zy vs $xy")
  }

  test("compact sizes output via the Hadoop FileSystem API (explicit file: URI)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_compact_fs").toString
    val in = s"$base/in"
    (0 until 4000).map(i => (i.toLong, s"row-$i")).toDF("id", "v")
      .repartition(16).write.parquet(in)
    // explicit file: URIs force the scheme-resolved FileSystem path —
    // the same code an hdfs:// or s3a:// table takes. Pre-fix, the
    // java.io.File listing saw ZERO files for a URI-form path and
    // silently coalesce(1)'d with (before, after) = (0, 0).
    val (before, after) =
      Layout.compact(spark, s"file:$in", s"file:$base/out", targetBytes = 64L * 1024)
    assert(before == 16, s"FileSystem listing must see all 16 input files, saw $before")
    assert(after > 0 && after < 16)
    assert(spark.read.parquet(s"$base/out").count() == 4000L)
  }

  test("compact fails loudly on an empty or missing input listing (never coalesce(1) blind)") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_empty").toString
    new java.io.File(s"$base/empty").mkdirs()
    val e1 = intercept[IllegalArgumentException] {
      Layout.compact(spark, s"$base/empty", s"$base/out")
    }
    assert(e1.getMessage.contains("no data files"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.compact(spark, s"$base/missing", s"$base/out2")
    }
    assert(e2.getMessage.contains("no data files"))
  }
}
