package graft.quality

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Unigram language-model quality scoring — the CCNet/Wikipedia-LM
  * recipe (Wenzek et al. 2020) reduced to its unigram core: score every
  * document by the mean SURPRISAL of its tokens under the corpus's own
  * unigram distribution, then band-filter on the score. Word-salad and
  * boilerplate dumps are built from rare tokens (high surprisal); natural
  * prose concentrates on the head of the distribution (low surprisal).
  * Composes with `stats.Quantiles.bandFilter` for the CCNet
  * head/middle/tail split.
  *
  * Two scoring tiers (the `Quantiles`/`Skew`/`Cardinality` pattern):
  *
  *  - `scoreQuantizedBits` (driver-oracle tier, q81): surprisal
  *    QUANTIZED to integer bits — bits(n) = floor(log2 n) computed
  *    exactly via binary-digit count, surprisal(w) = bits(totalTokens) -
  *    bits(count(w)). Integer sums are order-insensitive, so the per-doc
  *    aggregate is bit-reproducible in ANY engine regardless of
  *    partitioning — no transcendental libm calls whose last ulp differs
  *    between JVMs and DuckDB (the reason every gated signal in this
  *    repo is "integer counts, then ONE double division").
  *  - `scoreMeanLogProb` (production tier, spec-gated): true mean
  *    -ln p(w) with add-one smoothing — the number CCNet actually
  *    thresholds on. Parity with a driver-side recount is asserted in
  *    LmScoreSpec; it cannot be hash-gated because double summation
  *    order is engine-defined.
  *
  * Scale shape: `unigramCounts` is ONE explode + map-side-combined
  * aggregate (the vocabulary is sublinear in corpus size — Heaps' law —
  * so the shuffle carries far fewer bytes than the corpus). Scoring
  * joins tokens to counts: pass `broadcastVocab = true` when the vocab
  * fits an executor (the common case — even a 10M-word vocab is ~100 MB)
  * for a shuffle-free-on-the-corpus-side broadcast hash join; `false`
  * falls back to a shuffled join for pathological vocabularies. The
  * one-row token total rides a broadcast cross join, never a driver
  * collect.
  */
object LmScore {

  /** Whitespace-delimited lowercased nonempty tokens (the corpus-wide
    * convention — `dupSpanStats` / `GopherRules.words` split the same
    * way). */
  def tokens(text: Column): Column =
    F.filter(F.split(F.lower(text), "\\s+"), x => x =!= "")

  /** floor(log2 n) for n >= 1, integer-exact: the binary digit count
    * minus one. No floating log — `floor(log2(2^k))` can land on k-1 in
    * doubles; digit counting cannot. */
  def bits(n: Column): Column =
    (F.length(F.conv(n.cast("string"), 10, 2)) - 1).cast("long")

  /** Corpus unigram counts: (`word`, `cnt`). One explode, one
    * map-side-combined aggregate. */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(F.explode(tokens(F.col(textCol))).as("word"))
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))

  /** Per-document quantized surprisal under `counts`: `idCol`,
    * `n_tokens`, `sum_bits` = Σ (bits(total) - bits(cnt(w))), `mean_bits`
    * = sum/n (0.0 for empty docs). Tokens absent from `counts` (scoring a
    * NEW batch against a standing vocabulary) take cnt = 1, i.e. maximum
    * surprisal — add-one in spirit, still integer-exact. bits(cnt) is a
    * column of the vocabulary and bits(total) of the one-row total, so
    * each is computed once, not per token; an absent token subtracts
    * bits(1) = 0. */
  def scoreQuantizedBits(docs: DataFrame, textCol: String, idCol: String,
                         counts: DataFrame,
                         broadcastVocab: Boolean = true): DataFrame = {
    val wordBits = counts.select(F.col("word"), bits(F.col("cnt")).as("__wb"))
    val vocab = if (broadcastVocab) F.broadcast(wordBits) else wordBits
    val total = F.broadcast(counts.agg(bits(F.sum("cnt")).as("__tb")))
    val tok = docs.select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("word"))
    val scored = tok.join(vocab, Seq("word"), "left")
      .crossJoin(total)
      .select(F.col(idCol),
        (F.col("__tb") - F.coalesce(F.col("__wb"), F.lit(0L))).as("__bits"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum("__bits").as("sum_bits"))
    docs.select(F.col(idCol)).join(scored, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_tokens"), F.lit(0L)).as("n_tokens"),
        F.coalesce(F.col("sum_bits"), F.lit(0L)).as("sum_bits"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0L)) === 0, 0.0)
          .otherwise(F.col("sum_bits").cast("double")
            / F.col("n_tokens").cast("double")).as("mean_bits"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"), quantized-bits tier:
    * weight(doc) = Σ_w [log2 p_target(w) - log2 p_raw(w)] with both logs
    * quantized to integer bits — per token, (bits(cnt_t) - bits(total_t))
    * - (bits(cnt_r) - bits(total_r)); integer sums, order-insensitive,
    * oracle-exact (q85). Positive = the document reads more like the
    * TARGET domain than the raw corpus; resample by weight or keep the
    * top quantile band (`Quantiles.keepQuantileBand` on the integer
    * milli-rate, the q83 pattern) to shift the training mix toward the
    * target — DSIR's recipe with its hashed-ngram features reduced to
    * the exact-unigram core (hashing the feature table is the scale
    * lever for vocabulary SIZE, not a semantic change; the exact tier is
    * what an oracle can check). Tokens unseen in either vocabulary take
    * cnt = 1 — maximum surprisal under that distribution, the
    * `scoreQuantizedBits` stance.
    *
    * Scale shape: both count tables broadcast by default (vocabularies
    * are Heaps-law sublinear) with bits(cnt) as a column; the two one-row
    * totals, as bits, ride ONE broadcast cross join. One token explode,
    * one map-side-combined per-doc sum. */
  def importanceBits(docs: DataFrame, textCol: String, idCol: String,
                     targetCounts: DataFrame, rawCounts: DataFrame,
                     broadcastVocab: Boolean = true): DataFrame = {
    val t = targetCounts.select(F.col("word"), bits(F.col("cnt")).as("__bt"))
    val r = rawCounts.select(F.col("word"), bits(F.col("cnt")).as("__br"))
    val tv = if (broadcastVocab) F.broadcast(t) else t
    val rv = if (broadcastVocab) F.broadcast(r) else r
    val totals = F.broadcast(
      targetCounts.agg(bits(F.sum("cnt")).as("__btt"))
        .crossJoin(rawCounts.agg(bits(F.sum("cnt")).as("__btr"))))
    val tok = docs.select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("word"))
    val scored = tok.join(tv, Seq("word"), "left").join(rv, Seq("word"), "left")
      .crossJoin(totals)
      .select(F.col(idCol),
        ((F.coalesce(F.col("__bt"), F.lit(0L)) - F.col("__btt"))
          - (F.coalesce(F.col("__br"), F.lit(0L)) - F.col("__btr")))
          .as("__b"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum("__b").as("sum_bits_diff"))
    docs.select(F.col(idCol)).join(scored, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_tokens"), F.lit(0L)).as("n_tokens"),
        F.coalesce(F.col("sum_bits_diff"), F.lit(0L)).as("sum_bits_diff"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0L)) === 0, 0.0)
          .otherwise(F.col("sum_bits_diff").cast("double")
            / F.col("n_tokens").cast("double")).as("mean_bits_diff"))
  }

  /** Production tier: mean -ln p(w) with add-one smoothing,
    * p(w) = (cnt + 1) / (total + |V|). The real CCNet threshold number;
    * spec-gated (double sums are order-defined, so no hash oracle). */
  def scoreMeanLogProb(docs: DataFrame, textCol: String, idCol: String,
                       counts: DataFrame,
                       broadcastVocab: Boolean = true): DataFrame = {
    val vocab = if (broadcastVocab) F.broadcast(counts) else counts
    val stats = F.broadcast(
      counts.agg(F.sum("cnt").as("__total"), F.count(F.lit(1)).as("__vocab")))
    val tok = docs.select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("word"))
    val scored = tok.join(vocab, Seq("word"), "left")
      .crossJoin(stats)
      .select(F.col(idCol),
        (-F.log((F.coalesce(F.col("cnt"), F.lit(0L)) + 1).cast("double")
          / (F.col("__total") + F.col("__vocab")).cast("double"))).as("__nll"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum("__nll").as("__sum"))
    docs.select(F.col(idCol)).join(scored, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_tokens"), F.lit(0L)).as("n_tokens"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0L)) === 0, 0.0)
          .otherwise(F.col("__sum") / F.col("n_tokens").cast("double"))
          .as("mean_nll"))
  }
}
