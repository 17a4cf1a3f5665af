package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.SparkTestSession

/** `word_grams` replaced the gram-building higher-order-function lambdas
  * of the dup-span, contamination and q34 shingle operators, whose
  * outputs are md5- and count-gated by the oracles — so the kernel is
  * asserted BYTE-IDENTICAL (binary string comparison inside Spark) to
  * the exact lambda forms it replaced, over randomized word arrays with
  * empty-string, non-ASCII and null elements and every n vs w regime. */
class WordGramsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // "" (q34 splits without filtering), case-changing non-ASCII words
  // (İ lowers to two code points, ß has no one-char upper, Σ lowers by
  // context), a word with an inner space, and plain ASCII
  private val vocab = Seq("", "İ", "ß", "Σ", "ΣΑΣ", "Straße", "Ünïcødé", "x y",
    "a", "B", "the", "dup", "WORD", "日本語")

  private def rows: DataFrame = {
    import spark.implicits._
    val r = new java.util.Random(84L)
    (0L until 400L).map { i =>
      val n = (i % 13).toInt // 0 .. 12: empty, n < w, n == w and n > w
      val ws: Seq[String] = Seq.fill(n)(
        if (i % 7 == 3 && r.nextInt(4) == 0) null else vocab(r.nextInt(vocab.length)))
      (i, ws)
    }.toDF("id", "ws")
  }

  // ---- the former lambda forms, verbatim ----
  // dupSpanStats / dropDupSpans / contaminationReport (call sites guard n >= w)
  private def hofGrams(ws: Column, w: Int): Column =
    F.when(F.size(ws) >= w,
      F.transform(F.sequence(F.lit(0), F.size(ws) - w),
        i => F.array_join(F.slice(ws, i + 1, F.lit(w)), " ")))
      .otherwise(F.array().cast("array<string>"))
  // q34's shingles (w = 3)
  private def hofShingles3(ws: Column): Column =
    F.when(F.size(ws) >= 3,
      F.transform(F.sequence(F.lit(0), F.size(ws) - 3), i =>
        F.concat_ws(" ", F.element_at(ws, i + 1), F.element_at(ws, i + 2),
          F.element_at(ws, i + 3))))
      .otherwise(F.array().cast("array<string>"))

  /** No row where the kernel and the lambda form differ, compared as
    * binary strings by Spark itself. */
  private def assertSame(kernel: Column, hof: Column): Unit = {
    val df = rows.select(F.col("id"), F.col("ws"), kernel.as("k"), hof.as("h"))
    val bad = df.filter(!(F.col("k") <=> F.col("h"))).collect()
    assert(bad.isEmpty, bad.take(5).map(r =>
      s"row ${r.getLong(0)} ${r.getSeq[String](1)}: kernel ${r.get(2)} != lambda ${r.get(3)}")
      .mkString("\n"))
  }

  test("wordGrams is byte-identical to the slice/array_join lambda for w = 1, 2, 3, 8") {
    Seq(1, 2, 3, 8).foreach { w =>
      assertSame(GraftFunctions.wordGrams(F.col("ws"), w), hofGrams(F.col("ws"), w))
    }
  }

  test("wordGrams over lowered words is byte-identical to dropDupSpans' former lws lambda") {
    val lws = F.transform(F.col("ws"), x => F.lower(x))
    assertSame(GraftFunctions.wordGrams(lws, 8), hofGrams(lws, 8))
  }

  test("wordGrams is byte-identical to q34's concat_ws shingle lambda") {
    assertSame(GraftFunctions.wordGrams(F.col("ws"), 3), hofShingles3(F.col("ws")))
  }

  test("wordGrams edge cases: empty, n < w, n == w, empty strings, nulls") {
    import spark.implicits._
    val df = Seq[(Long, Seq[String])](
      (0L, Seq()), (1L, Seq("a", "b")), (2L, Seq("A", "b", "c")),
      (3L, Seq("", "", "")), (4L, Seq("", "x", "")), (5L, null),
      (6L, Seq(null, "a", null, "b")), (7L, Seq(null, null, null)))
      .toDF("id", "ws")
    val got = df.select(F.col("id"), GraftFunctions.wordGrams(F.col("ws"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(got(0L) == Some(Seq()), "empty array")
    assert(got(1L) == Some(Seq()), "n < w")
    assert(got(2L) == Some(Seq("A b c")), "n == w: one gram, case kept")
    assert(got(3L) == Some(Seq("  ")), "empty strings are words")
    assert(got(4L) == Some(Seq(" x ")))
    assert(got(5L).isEmpty, "null input gives null")
    assert(got(6L) == Some(Seq("a", "a b")), "null elements are skipped, as array_join does")
    assert(got(7L) == Some(Seq("")))
  }

  test("wordGrams stays inside whole-stage codegen and is callable from SQL") {
    // a parquet source: a LocalTableScan would constant-fold the projection
    val df = spark.read.parquet("perfbench/data/sf0.01/documents.parquet")
      .select(F.posexplode(GraftFunctions.wordGrams(F.split(F.col("text"), " "), 3)))
    val stages = df.queryExecution.executedPlan.collect { case s: WholeStageCodegenExec => s }
    assert(stages.exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[WordGrams])))),
      df.queryExecution.executedPlan.toString)
    assert(df.count() > 0)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_grams", GraftFunctions.wordGramsBuilder, "built-in")
    assert(spark.sql("SELECT word_grams(array('a', 'b', 'c'), 2)").head().getSeq[String](0)
      == Seq("a b", "b c"))
  }
}
