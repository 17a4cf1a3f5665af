package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is compiled once per JVM, not once per pass. Spark
  * keeps the compiled classes in one JVM-wide LRU cache; at its default
  * size (100) the three corpus-operator queries of the benchmark (≈132
  * classes) evict each other, and every pass recompiles about 100 of them.
  * The sessions share the size through [[GraftSession.CodegenCacheEntries]].
  * Each query is written to a `noop` sink, which evaluates it fully. */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  // the sf0.01 tables vendored with the benchmark (paths relative to the
  // build root, the forked test JVM's working directory)
  private val dir = "perfbench/data/sf0.01"
  private val queries = Seq("q84_drop_dup_spans", "q42_cosine_dups", "q83_lm_band")

  /** Runs every query once; returns the number of classes compiled. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over q84, q42 and q83 compiles no generated class") {
    pass()
    val recompiled = pass()
    assert(recompiled == 0, s"pass 2 recompiled $recompiled generated classes")
  }
}
