package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-query Spark job budgets. Job counts repeat exactly from run to
  * run, and at this scale a query's time is mostly the driver's work per
  * job, so a query that starts running more jobs fails here even when
  * its output stays right. Each pin is the count of a warm pass (tables
  * already read once in the session, generated classes compiled) into a
  * `noop` sink, which evaluates the query fully. Lowering a pin after a
  * query gets cheaper is a normal edit. */
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

  test("a warm pass over q77, q84, q42 and q83 stays within each query's job budget") {
    budgets.foreach { case (q, _) => jobsOf(q) }
    val over = budgets.map { case (q, pin) => (q, jobsOf(q), pin) }
      .filter { case (_, n, pin) => n > pin }
    assert(over.isEmpty, over.map { case (q, n, pin) => s"$q ran $n jobs, budget $pin" }.mkString("; "))
  }
}
