package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.Materialize.snapshot
import graft.dedup.Dedup
import graft.etl.Packing
import graft.functions.TextFunctions
import graft.quality.Rules

/** End-to-end training-corpus preparation — the composition a pretraining
  * data pipeline actually runs over a raw document table, built from the
  * engine's individually-gated operators:
  *
  *   0. line cleaning         (optional: C4 terminal-punct/min-words/
  *       javascript/brace line rules + lorem-ipsum doc drop, q65 —
  *       BEFORE dedup so fingerprints see the text to be trained on)
  *   0b. boilerplate removal  (optional: corpus-frequency line drop,
  *       q66/q67 — broadcast tier with dedicated-exception fallback to
  *       the any-size join tier)
  *   1. exact dedup           (keep min-id per fingerprint — q12 family)
  *   2. near-dup drop         (minhash LSH -> components -> canonical, q51)
  *   3. decontamination       (benchmark shingle broadcast, q55; auto-
  *       falls back to the any-size semi-join tier q57 when the
  *       benchmark exceeds broadcast size; optional)
  *   4. quality rules         (reference junk thresholds — q15 family;
  *       optional repetition gates: dup-line fraction + dup-line CHAR
  *       fraction q62, top-bigram char fraction q64)
  *   4b. quality quantile band (optional: keep docs inside a per-shard
  *       quality-score quantile band — q52's sketch cutoffs + broadcast
  *       band filter, the "drop the worst decile per source" tier)
  *   4c. LM perplexity band   (optional: CCNet-style unigram surprisal
  *       band per shard, q81/q83 — the corpus trains its own vocab;
  *       runs AFTER the afterQuality count, so the report's quality
  *       number excludes it)
  *   5. sequence packing      (token-budget chunk layout, q56)
  *
  * Scale shape: stages 1–2 shuffle ids/hashes only, stage 3 is a
  * shuffle-free broadcast filter, stage 4 is a narrow filter, stage 5 is
  * one shard-keyed window. With `report=true` the heavy intermediates are
  * snapshotted (`Materialize.snapshot`) and every stage count rides those
  * SAME jobs as an `observe` metric (CollectMetrics accumulators) — the
  * report is FREE: zero extra jobs, no re-scan of the raw input
  * (CorpusPrepSpec asserts the job count). `report=false` adds no
  * snapshot and no count: past the jobs the near-dup stage runs when
  * called (its pair list and component rounds), the prep is one lazy plan
  * for the caller's sink.
  */
object CorpusPrep {

  final case class Report(input: Long, afterExactDedup: Long, afterNearDup: Long,
                          afterDecontaminate: Long, afterQuality: Long,
                          nChunks: Long)

  def run(docs: DataFrame, textCol: String, idCol: String, shardCol: String,
          benchmark: Option[DataFrame] = None, benchTextCol: String = "text",
          tokenBudget: Long = 2048, w: Int = 3, k: Int = 32, bands: Int = 16,
          threshold: Double = 0.7, qualityBand: Option[(Double, Double)] = None,
          bandMetric: Option[Column] = None,
          lmBand: Option[(Double, Double)] = None,
          tokensOverride: Option[Column] = None,
          nearDupKeepBy: Option[Column] = None,
          maxBenchShingles: Int = 50000000,
          lineClean: Boolean = false,
          maxDupLineFrac: Option[Double] = None,
          maxDupLineCharFrac: Option[Double] = None,
          maxTopNgramCharFrac: Option[Double] = None,
          boilerplateMinDocFreq: Option[Long] = None,
          report: Boolean = true): (DataFrame, Option[Report]) = {
    val text = F.col(textCol)
    def count1 = F.count(F.lit(1)).as("n")
    // optional stage 0, C4-family line cleaning (q65's rules): runs
    // BEFORE dedup, since boilerplate lines mask near-dup structure and
    // dedup fingerprints should see the text that will be trained on.
    // Rides the same narrow scan — no extra job. Docs whose every line
    // is boilerplate (or that carry placeholder text) drop here.
    def lineCleaned(df: DataFrame): DataFrame =
      if (!lineClean) df
      else df.filter(!graft.quality.C4Rules.dropDoc(text))
        .withColumn(textCol, graft.quality.C4Rules.cleanText(text))
        .filter(F.length(text) > 0)
    // optional stage 0b, corpus-frequency boilerplate removal (q66/q67):
    // lines in >= minDocFreq distinct docs are removed from every doc.
    // Runs AFTER the per-line C4 rules (they judge a line by its shape,
    // this by corpus frequency) and BEFORE dedup for the same reason as
    // stage 0. Broadcast tier first (corpus never shuffles; its frequency
    // aggregate is one extra eager scan of the cleaned input), dedicated-
    // exception fallback to the any-size join tier — the decontaminate
    // pattern. Docs that were pure boilerplate drop.
    def boilerplateFree(df: DataFrame): DataFrame = boilerplateMinDocFreq match {
      case Some(mdf) =>
        val cleaned =
          try Dedup.dropBoilerplateLines(df, textCol, idCol, mdf)
          catch {
            case _: Dedup.TooManyFrequentLinesException =>
              Dedup.dropBoilerplateLinesJoin(df, textCol, idCol, mdf)
          }
        cleaned.filter(F.length(text) > 0)
      case None => df
    }
    def preCleaned(df: DataFrame): DataFrame = boilerplateFree(lineCleaned(df))
    def junkFree(df: DataFrame): DataFrame = {
      val total = F.length(text).cast("double")
      def ratio(c: Column) = F.when(F.length(text) === 0, 0.0).otherwise(c / total)
      val ruleKept0 = df.filter(!Rules.isJunkCol(F.length(text),
        TextFunctions.lineCount(text), ratio(TextFunctions.letterCount(text)),
        ratio(TextFunctions.punctCount(text)), ratio(TextFunctions.digitCount(text))))
      // optional repetition gates (q62's dup-line signals + q64's top
      // n-gram fraction): same narrow stage as the rules, no extra scan
      val ruleKept1 = maxDupLineFrac match {
        case Some(m) =>
          ruleKept0.filter(graft.quality.Repetition.dupLineFrac(text) <= m)
        case None => ruleKept0
      }
      val ruleKept2 = maxDupLineCharFrac match {
        case Some(m) =>
          ruleKept1.filter(graft.quality.Repetition.dupLineCharFrac(text) <= m)
        case None => ruleKept1
      }
      val rulesKept = maxTopNgramCharFrac match {
        case Some(m) =>
          ruleKept2.filter(
            graft.plans.GraftFunctions.topNgramCharFrac(text, 2) <= m)
        case None => ruleKept2
      }
      // optional per-shard quantile band on a per-doc metric ("drop the
      // worst decile per source"): sketch cutoffs (one tiny row per
      // shard) broadcast back over one corpus scan — q52's shape. The
      // metric defaults to the composite quality score; callers band on
      // length / perplexity / any scored column the same way.
      qualityBand match {
        case Some((lo, hi)) =>
          graft.stats.Quantiles.keepQuantileBand(rulesKept,
            bandMetric.getOrElse(TextFunctions.qualityScore(text)),
            Seq(shardCol), lo, hi)
        case None => rulesKept
      }
    }
    // optional stage 4c, unigram-LM perplexity band (q81/q83's CCNet
    // recipe): the surviving corpus trains its OWN unigram vocabulary,
    // every doc is scored by quantized surprisal, and only docs inside
    // the per-shard [lo, hi] quantile band of the integer milli-bits
    // rate survive ("drop the weirdest quartile by perplexity per
    // source"). Unlike the narrow stages this needs its own aggregate
    // jobs (vocab counts + cutoffs), so the input frame is ALWAYS
    // snapshotted first — in report mode that also protects the
    // one-shot quality Observation from being consumed with empty
    // metrics by the count job (the boilerplate-stage hazard).
    def lmBanded(df: DataFrame): DataFrame = lmBand match {
      case Some((lo, hi)) =>
        val ck = snapshot(df)
        val counts = graft.quality.LmScore.unigramCounts(ck, textCol)
        val scored = ck.join(
          graft.quality.LmScore.scoreQuantizedBits(ck, textCol, idCol, counts),
          Seq(idCol))
          .withColumn("__mb", F.when(F.col("n_tokens") === 0, 0L)
            .otherwise(F.expr("(sum_bits * 1000) div n_tokens")))
        graft.stats.Quantiles.keepQuantileBand(scored, F.col("__mb"),
            Seq(shardCol), lo, hi)
          .drop("n_tokens", "sum_bits", "mean_bits", "__mb")
      case None => df
    }
    // packing budgets with the whitespace token count by default;
    // `tokensOverride` swaps in a real tokenizer's count (e.g.
    // `Bpe.withTokenCounts`'s column from a trained merge table) so the
    // chunk layout matches what the training run will actually see
    def pack(df: DataFrame): DataFrame =
      Packing.packSequential(df,
        tokensOverride.getOrElse(TextFunctions.tokenCount(text)),
        shardCol, idCol, tokenBudget)
    // broadcast decontamination when the benchmark fits (zero shuffles);
    // AUTO-FALLBACK to the any-size semi-join tier when the guard trips —
    // a composed 100 TB prep job must degrade to the shuffled plan, not
    // die at this stage (the guard's collect is capped, so probing is
    // safe). Both tiers are result-identical (DedupSpec).
    def decontaminated(df: DataFrame, b: DataFrame): DataFrame =
      try Dedup.decontaminate(df, textCol, idCol, b, benchTextCol,
        maxBenchShingles = maxBenchShingles)
      catch {
        // ONLY the size-guard trip reroutes (dedicated type) — any other
        // argument error is a genuine bug and must propagate, not be
        // silently "healed" by the shuffled tier
        case _: Dedup.BenchmarkTooLargeException =>
          Dedup.decontaminateJoin(df, textCol, idCol, b, benchTextCol)
      }

    // stage-2 survivor policy: min-id by default; `nearDupKeepBy` keeps
    // the cluster member maximizing the given score instead (q95 — keep
    // the complete copy, not the truncated scrape)
    def nearDupFree(df: DataFrame): DataFrame = nearDupKeepBy match {
      case Some(s) => Dedup.dropNearDupsBest(df, textCol, idCol, s,
        w = w, k = k, bands = bands, threshold = threshold)
      case None => Dedup.dropNearDups(df, textCol, idCol,
        w = w, k = k, bands = bands, threshold = threshold)
    }

    if (!report) {
      val d1 = Dedup.exact(preCleaned(docs), textCol, idCol)
      val d2 = nearDupFree(d1)
      val d3 = benchmark match {
        case Some(b) => decontaminated(d2, b)
        case None => d2
      }
      (pack(lmBanded(junkFree(d3))), None)
    } else {
      // each Observation below is filled by the eager snapshot of the
      // frame it is attached to (the snapshot executes the observed plan
      // under a SQL execution, so CollectMetrics accumulators report) —
      // the input count rides d1's job via the observe on `docs`, which
      // Dedup.exact scans exactly once
      val obsIn = Observation(); val obs1 = Observation()
      val obs2 = Observation(); val obs3 = Observation()
      val obs4 = Observation(); val obsChunks = Observation()

      // obsIn observes the RAW input (before line cleaning), so the
      // report's input count means rows read; afterExactDedup therefore
      // reflects cleaning + dedup together when lineClean is on.
      // With the boilerplate stage enabled, the cleaned+observed input is
      // snapshotted FIRST: the stage's eager frequency job would
      // otherwise consume obsIn's one-shot Observation with empty metrics
      // (its aggregated/limited plan loses the CollectMetrics result),
      // and the snapshot also keeps the C4-clean chain from being
      // scanned twice (once by the frequency job, once by d1)
      val pre0 = lineCleaned(docs.observe(obsIn, count1))
      val pre =
        if (boilerplateMinDocFreq.isDefined)
          boilerplateFree(snapshot(pre0))
        else pre0
      val d1 = snapshot(Dedup.exact(pre, textCol, idCol).observe(obs1, count1))
      val d2 = snapshot(nearDupFree(d1).observe(obs2, count1))
      val d3 = benchmark match {
        case Some(b) =>
          snapshot(decontaminated(d2, b).observe(obs3, count1))
        case None => d2
      }
      val d4 = junkFree(d3).observe(obs4, count1)
      // chunk heads (first doc of each chunk) over the SAME window spec the
      // packing itself used — Catalyst reuses its sort/exchange, and
      // sum(head) is then an observable chunk count (observe cannot do
      // count-distinct)
      val wShard = Window.partitionBy(shardCol).orderBy(idCol)
      val packed = snapshot(pack(lmBanded(d4))
        .withColumn("__head",
          (F.lag("chunk_id", 1).over(wShard).isNull ||
            F.lag("chunk_id", 1).over(wShard) =!= F.col("chunk_id")).cast("long"))
        .observe(obsChunks, F.sum("__head").as("n"))
        .drop("__head"))

      def n(o: Observation): Long = o.get.get("n") match {
        case Some(v: java.lang.Number) => v.longValue()
        case _ => 0L // sum over zero rows observes null
      }
      val after3 = benchmark match {
        case Some(_) => n(obs3)
        case None => n(obs2)
      }
      (packed, Some(Report(n(obsIn), n(obs1), n(obs2), after3, n(obs4), n(obsChunks))))
    }
  }
}
