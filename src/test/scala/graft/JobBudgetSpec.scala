package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-query Spark job budgets. Job counts repeat exactly from run to
  * run, and at this scale a query's time is mostly the driver's work per
  * job, so a query that starts running more jobs fails here even when
  * its output stays right. Each pin is the count of a warm pass (tables
  * already read once in the session, generated classes compiled) into a
  * `noop` sink, which evaluates the query fully; the sink's pin counts a
  * fresh 64-part `PartitionedSink.write`. Lowering a pin after a query
  * gets cheaper is a normal edit. */
class JobBudgetSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  // the sf0.01 tables vendored with the benchmark (paths relative to the
  // build root, the forked test JVM's working directory)
  private val dir = "perfbench/data/sf0.01"
  private val budgets = Seq(
    "q77_dup_span" -> 7L,
    "q84_drop_dup_spans" -> 7L,
    "q42_cosine_dups" -> 7L,
    "q83_lm_band" -> 12L)

  /** Runs `q` into a `noop` sink; returns the Spark jobs it started. */
  private def jobsOf(q: String): Long = SparkTestSession.jobsOf {
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
  }

  /** Runs each query once to warm it, then asserts its next run's jobs. */
  private def assertWarmBudgets(budgets: Seq[(String, Long)]): Unit = {
    budgets.foreach { case (q, _) => jobsOf(q) }
    val over = budgets.map { case (q, pin) => (q, jobsOf(q), pin) }
      .filter { case (_, n, pin) => n > pin }
    assert(over.isEmpty, over.map { case (q, n, pin) => s"$q ran $n jobs, budget $pin" }.mkString("; "))
  }

  test("a warm pass over q77, q84, q42 and q83 stays within each query's job budget") {
    assertWarmBudgets(budgets)
  }

  // the banded near-dup operators (Dedup.bucketPairs); q42 is pinned above.
  // q95 runs 34 jobs on some warm passes and 33 on others (one job
  // fewer), so its pin is the higher count
  test("a warm pass over the near-dup queries stays within each query's job budget") {
    assertWarmBudgets(Seq(
      "q19_minhash_dups" -> 14L,
      "q20_simhash_dups" -> 6L,
      "q49_dedup_components" -> 24L,
      "q51_drop_near_dups" -> 29L,
      "q73_semdedup" -> 10L,
      "q74_incremental_dedup" -> 21L,
      "q88_image_dup_pairs" -> 6L,
      "q95_drop_near_dups_best" -> 34L))
  }

  // the bloom decontamination tier: the bench-side count and bloom jobs,
  // then the contaminated-id snapshot
  test("a warm pass over q71 stays within its job budget") {
    assertWarmBudgets(Seq("q71_decontaminate_bloom" -> 14L))
  }

  // minhashDupPairs releases its shingle cache before it returns, so no
  // query can leave q19 a cache hit (q51 and q19 cache the same projection)
  test("q19's warm job count does not depend on the query run before it") {
    jobsOf("q19_minhash_dups")
    val afterItself = jobsOf("q19_minhash_dups")
    jobsOf("q51_drop_near_dups")
    val afterQ51 = jobsOf("q19_minhash_dups")
    assert(afterItself == afterQ51,
      s"q19 ran $afterItself jobs after itself but $afterQ51 after q51")
  }

  // both re-read their cached build through Tables.read: no schema
  // inference job once the build's schema is known
  test("a warm pass over q61 and q76 stays within each query's job budget") {
    assertWarmBudgets(Seq("q61_compaction" -> 4L, "q76_zorder_layout" -> 4L))
  }

  // the write job and its shuffle's map stage; the manifest counters come
  // from the write's own tasks, with no re-read of the landed files
  test("a fresh 64-part sink write stays within its job budget") {
    val in = java.nio.file.Files.createTempDirectory("graft_sink_budget").resolve("in").toString
    val decided = graft.pipeline.SinkInput.decided(spark, nConvs = 200, seed = 3L)
    decided.write.parquet(in)
    val df = spark.read.schema(decided.schema).parquet(in)
    val out = java.nio.file.Files.createTempDirectory("graft_sink_budget").toString
    val n = SparkTestSession.jobsOf { graft.pipeline.PartitionedSink.write(spark, df, out, 64) }
    assert(n <= 2L, s"the sink write ran $n jobs, budget 2")
  }
}
