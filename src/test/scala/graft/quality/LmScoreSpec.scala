package graft.quality

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}

import graft.SparkTestSession

/** Unigram LM scoring: integer-exact bits kernel goldens, tier parity
  * (broadcast vs shuffled join), unseen-token smoothing, and parity of
  * the production -ln p tier against a driver-side recount. */
class LmScoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docsDF = {
    import spark.implicits._
    Seq(
      (1L, "the the the cat"),   // head-heavy: low surprisal
      (2L, "cat sat sat"),
      (3L, "zyx")                // rare singleton: max surprisal
    ).toDF("id", "text")
  }

  test("bits() is integer-exact floor(log2), including exact powers of two") {
    import spark.implicits._
    val vals = Seq(1L, 2L, 3L, 4L, 1023L, 1024L, 1025L, (1L << 40)).toDF("n")
      .select(LmScore.bits(F.col("n"))).collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(0L, 1L, 1L, 2L, 9L, 10L, 10L, 40L))
  }

  test("quantized surprisal: hand-computed golden over a tiny corpus") {
    // counts: the=3, cat=2, sat=2, zyx=1; total=8 -> bits(total)=3
    // surprisal: the -> 3-1=2, cat -> 3-1=2, sat -> 2, zyx -> 3-0=3
    val counts = LmScore.unigramCounts(docsDF, "text")
    val out = LmScore.scoreQuantizedBits(docsDF, "text", "id", counts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 2L + 2 + 2 + 2, 2.0)))
    assert(out(2L) == ((3L, 2L + 2 + 2, 2.0)))
    assert(out(3L) == ((1L, 3L, 3.0)))
  }

  test("broadcast and shuffled-join tiers agree; unseen tokens take max surprisal") {
    import spark.implicits._
    val counts = LmScore.unigramCounts(docsDF, "text")
    val batch = Seq((9L, "the qqq")).toDF("id", "text") // qqq unseen -> cnt 1 -> bits 0
    val b = LmScore.scoreQuantizedBits(batch, "text", "id", counts, broadcastVocab = true)
      .head()
    val s = LmScore.scoreQuantizedBits(batch, "text", "id", counts, broadcastVocab = false)
      .head()
    assert(b == s, "tiers must be result-identical")
    // the -> 3-1=2; qqq -> 3-0=3
    assert(b.getLong(1) == 2L && b.getLong(2) == 5L && b.getDouble(3) == 2.5)
  }

  test("empty docs score (0, 0, 0.0), never NaN or a dropped row") {
    import spark.implicits._
    val docs = Seq((1L, "the cat"), (2L, ""), (3L, "   ")).toDF("id", "text")
    val counts = LmScore.unigramCounts(docs, "text")
    val out = LmScore.scoreQuantizedBits(docs, "text", "id", counts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(2L) == ((0L, 0L, 0.0)) && out(3L) == ((0L, 0L, 0.0)))
  }

  test("production -ln p tier matches a driver-side recount within 1 ulp-ish tolerance") {
    val counts = LmScore.unigramCounts(docsDF, "text")
    val out = LmScore.scoreMeanLogProb(docsDF, "text", "id", counts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: the=3, cat=2, sat=2, zyx=1; total=8, |V|=4
    def p(cnt: Long): Double = (cnt + 1).toDouble / 12.0
    def nll(cnts: Seq[Long]): Double = cnts.map(c => -math.log(p(c))).sum / cnts.size
    assert(out(1L)._1 == 4L && math.abs(out(1L)._2 - nll(Seq(3, 3, 3, 2))) < 1e-12)
    assert(math.abs(out(2L)._2 - nll(Seq(2, 2, 2))) < 1e-12)
    assert(math.abs(out(3L)._2 - nll(Seq(1))) < 1e-12)
    // rarer vocabulary scores strictly worse — the signal's whole point
    assert(out(3L)._2 > out(1L)._2)
  }

  test("DSIR importance bits: hand-computed golden, tier parity, empty docs") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa bb"), (2L, "cc cc bb"), (3L, "")).toDF("id", "text")
    val tc = LmScore.unigramCounts(docs.filter(F.col("id") === 1), "text")
    val rc = LmScore.unigramCounts(docs, "text")
    // target: aa=2 bb=1 total 3 (bits 1); raw: aa=2 bb=2 cc=2 total 6 (bits 2)
    // aa: (1-1)-(1-2)=1; bb: (0-1)-(1-2)=0; cc unseen in target: (0-1)-(1-2)=0
    val out = LmScore.importanceBits(docs, "text", "id", tc, rc)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 2L, 2.0 / 3)), "target doc scores positive")
    assert(out(2L) == ((3L, 0L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0)), "empty docs keep a zero row")
    val shuffled = LmScore.importanceBits(docs, "text", "id", tc, rc, broadcastVocab = false)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shuffled == out.map { case (k, v) => k -> v._2 }, "tiers result-identical")
  }

  test("head-vs-salad separation on a 2k-doc corpus; the banded filter composes") {
    import spark.implicits._
    // 90% prose-like docs drawn from a 20-word head vocabulary, 10%
    // word-salad with unique tokens per doc
    val head = (0 until 20).map(i => s"w$i")
    val docs = spark.range(2000).select(F.col("id"),
      F.when(F.col("id") % 10 === 0,
        F.concat_ws(" ", F.lit("s"), F.concat(F.lit("u"), F.col("id")),
          F.concat(F.lit("v"), F.col("id")), F.concat(F.lit("x"), F.col("id"))))
        .otherwise(F.lit(head.mkString(" "))).as("text"))
    val counts = LmScore.unigramCounts(docs, "text")
    val scored = LmScore.scoreQuantizedBits(docs, "text", "id", counts)
    val salad = scored.filter(F.col("id") % 10 === 0).agg(F.min("mean_bits")).head().getDouble(0)
    val prose = scored.filter(F.col("id") % 10 =!= 0).agg(F.max("mean_bits")).head().getDouble(0)
    assert(salad > prose,
      s"every salad doc ($salad) must out-surprise every prose doc ($prose)")
  }

  /** The former per-token forms: `bits` of every token's count and of
    * the total, per token. The shipped operators compute each once per
    * vocabulary word and must give bit-equal rows. */
  private def formerQuantizedBits(docs: DataFrame, counts: DataFrame,
                                  broadcastVocab: Boolean): DataFrame = {
    val vocab = if (broadcastVocab) F.broadcast(counts) else counts
    val total = F.broadcast(counts.agg(F.sum("cnt").as("__total")))
    val tok = docs.select(F.col("id"), F.explode(LmScore.tokens(F.col("text"))).as("word"))
    val scored = tok.join(vocab, Seq("word"), "left")
      .crossJoin(total)
      .select(F.col("id"),
        (LmScore.bits(F.col("__total")) - LmScore.bits(F.coalesce(F.col("cnt"), F.lit(1L))))
          .as("__bits"))
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum("__bits").as("sum_bits"))
    docs.select(F.col("id")).join(scored, Seq("id"), "left")
      .select(F.col("id"),
        F.coalesce(F.col("n_tokens"), F.lit(0L)).as("n_tokens"),
        F.coalesce(F.col("sum_bits"), F.lit(0L)).as("sum_bits"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0L)) === 0, 0.0)
          .otherwise(F.col("sum_bits").cast("double")
            / F.col("n_tokens").cast("double")).as("mean_bits"))
  }

  private def formerImportanceBits(docs: DataFrame, targetCounts: DataFrame,
                                   rawCounts: DataFrame, broadcastVocab: Boolean): DataFrame = {
    val t = targetCounts.select(F.col("word"), F.col("cnt").as("__ct"))
    val r = rawCounts.select(F.col("word"), F.col("cnt").as("__cr"))
    val tv = if (broadcastVocab) F.broadcast(t) else t
    val rv = if (broadcastVocab) F.broadcast(r) else r
    val totals = F.broadcast(
      targetCounts.agg(F.sum("cnt").as("__tt"))
        .crossJoin(rawCounts.agg(F.sum("cnt").as("__tr"))))
    val tok = docs.select(F.col("id"), F.explode(LmScore.tokens(F.col("text"))).as("word"))
    val scored = tok.join(tv, Seq("word"), "left").join(rv, Seq("word"), "left")
      .crossJoin(totals)
      .select(F.col("id"),
        ((LmScore.bits(F.coalesce(F.col("__ct"), F.lit(1L))) - LmScore.bits(F.col("__tt")))
          - (LmScore.bits(F.coalesce(F.col("__cr"), F.lit(1L))) - LmScore.bits(F.col("__tr"))))
          .as("__b"))
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum("__b").as("sum_bits_diff"))
    docs.select(F.col("id")).join(scored, Seq("id"), "left")
      .select(F.col("id"),
        F.coalesce(F.col("n_tokens"), F.lit(0L)).as("n_tokens"),
        F.coalesce(F.col("sum_bits_diff"), F.lit(0L)).as("sum_bits_diff"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0L)) === 0, 0.0)
          .otherwise(F.col("sum_bits_diff").cast("double")
            / F.col("n_tokens").cast("double")).as("mean_bits_diff"))
  }

  test("bits once per vocabulary word: bit-equal to the per-token form on random corpora") {
    import spark.implicits._
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
    Seq(3L, 17L, 29L).foreach { seed =>
      val rnd = new java.util.Random(seed)
      // Zipf-ish draws over 300 words, so counts span many powers of two
      def text(): String = rnd.nextInt(12) match {
        case 0 => null
        case 1 => ""
        case 2 => "  \t "
        case _ => Seq.fill(1 + rnd.nextInt(30))(s"W${(300 * math.pow(rnd.nextDouble(), 3)).toInt}")
          .mkString(if (rnd.nextBoolean()) " " else "  ")
      }
      val docs = (0L until 200L).map(i => (i, text())).toDF("id", "text")
      // a standing vocabulary from another corpus: some tokens are absent
      val standing = (0L until 100L).map(i => (i, text())).toDF("id", "text")
      val own = LmScore.unigramCounts(docs, "text")
      val other = LmScore.unigramCounts(standing, "text")
      Seq(true, false).foreach { b =>
        Seq(own, other).foreach { counts =>
          assert(rows(LmScore.scoreQuantizedBits(docs, "text", "id", counts, b)) ==
            rows(formerQuantizedBits(docs, counts, b)), s"seed $seed broadcast $b")
        }
        val tc = LmScore.unigramCounts(docs.filter(F.col("id") % 3 === 0), "text")
        assert(rows(LmScore.importanceBits(docs, "text", "id", tc, other, b)) ==
          rows(formerImportanceBits(docs, tc, other, b)), s"DSIR seed $seed broadcast $b")
      }
    }
  }
}
