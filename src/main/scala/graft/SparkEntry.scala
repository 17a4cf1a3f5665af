package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._
import graft.quality.Rules

/** Driver contract — one query per implemented operator (SURVEY.md §2),
  * each with equivalent DuckDB oracle SQL where SQL-expressible.
  *
  * Design rules for oracle parity (learned the hard way; keep following
  * them):
  *  - alias every computed column identically in Spark and SQL
  *  - money aggregates: sum over decimal(18,2) casts (exact), never
  *    float sums
  *  - EVERY query carries a total-order ORDER BY on both sides — the
  *    driver's hash gate is row-order sensitive (round-1 q8 lesson)
  *  - the driver's hash is also TYPE-representation sensitive: DuckDB
  *    sum(INT/BIGINT) returns HUGEINT (→ float64 via Arrow) and
  *    sum(DECIMAL(18,2)) returns DECIMAL(38,2), while Spark emits BIGINT /
  *    DECIMAL(28,2). Every oracle integer sum is wrapped in
  *    CAST(... AS BIGINT) and every decimal sum in CAST(... AS
  *    DECIMAL(28,2)) (round-1 q13/q14/q17/q28/q31/q35/q36/q37 lesson)
  *  - hash buckets use md5-hex (same in both engines), not xxhash64
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, s"$dir/$name.parquet")

  // memory-sink names must be unique per active query within a session
  private val streamQuerySeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Deterministic identity of a parquet file/dir's bytes-on-disk: the
    * cache key for fingerprint-resumed builds (q48/q59/q61) — regenerated
    * testdata invalidates it, repeated runs over the same files hit it.
    * Delegates to the one shared implementation (Hadoop-FS listing +
    * stat + head/tail content sample — see BuildCache's doc for the
    * stat-vs-content trade-off). */
  private def pathFingerprint(s: SparkSession, p: String): String =
    graft.etl.BuildCache.pathFingerprint(s, p)

  /** Flagship: the quality_filter pipeline shape over the documents table
    * at sf0.001 — metrics, junk rules, PII scrub, fingerprint, token count,
    * language-ID with the FULL reference-scale 746-token model (broadcast
    * Aho–Corasick, one pass per row).
    * One narrow stage: scan → project/filter → result (no shuffle).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = t(spark, dir, "documents")
    val text = col("text")
    val total = length(text).cast("double")
    val piiScrub = udf((s: String) => graft.text.Scrub.scrubPii(s))
    val scorer = spark.sparkContext.broadcast(
      new graft.score.Scorer(graft.model.ReferenceFeatures.fullModel))
    val langPred = udf((s: String) => scorer.value.predictLabel(s))
    docs
      .withColumn("lang_pred", langPred(text))
      .withColumn("n_tokens", tokenCount(text))
      .withColumn("letter_ratio", when(total === 0, 0.0).otherwise(letterCount(text) / total))
      .withColumn("digit_ratio", when(total === 0, 0.0).otherwise(digitCount(text) / total))
      .withColumn("punct_ratio", when(total === 0, 0.0).otherwise(punctCount(text) / total))
      .withColumn("line_count", lineCount(text))
      .withColumn("keep", !Rules.isJunkCol(length(text), lineCount(text),
        col("letter_ratio"), col("punct_ratio"), col("digit_ratio")))
      .withColumn("quality", qualityScore(text))
      .withColumn("fingerprint", fingerprint(text))
      .withColumn("scrubbed", piiScrub(text))
  }

  // ----- shared column builders -----

  private def asciiLetterRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(letterCount(c) / length(c).cast("double"))
  private def asciiDigitRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(digitCount(c) / length(c).cast("double"))
  private def asciiPunctRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(punctCount(c) / length(c).cast("double"))

  /** documents with planted near-duplicates (deterministic): every doc with
    * doc_id % 7 == 0 gets a mutated copy (one word appended, id offset by
    * 1e6). Input for dedup operators so candidate pairs actually exist. */
  private def docsWithPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
    val dups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" mutated")).as("text"), col("lang"))
    docs.unionByName(dups)
  }

  /** The decontamination "benchmark" of q55/q57/q71: a 16-word window of
    * every 37th document with >= 21 words, so exactly those source
    * documents share an 8-gram with it. */
  private def decontaminationBench(docs: DataFrame): DataFrame = {
    def words(c: Column) =
      filter(split(lower(c), "\\s+"), w => w =!= lit(""))
    docs
      .filter(col("doc_id") % 37 === 0 && size(words(col("text"))) >= 21)
      .select(concat_ws(" ", slice(words(col("text")), 6, 16)).as("btext"))
  }

  /** documents with a footer line planted on doc_id % 4 == 0 (125 docs at
    * sf0.01), so q66/q67 have a genuinely frequent line to remove. */
  private def docsWithPlantedFooter(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 4 === 0,
      concat(col("text"), lit("\nSubscribe to our newsletter today.")))
      .otherwise(col("text"))
    t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
  }

  /** documents.text with Gopher-rule trigger material planted
    * deterministically (word-soup has no bullets/symbols/ellipses and at
    * most one stopword, so the signals would be degenerate): bullets on
    * %6, '#' symbols on %9, ellipsis lines on %8==1, stopwords on %7==2.
    * Shared by q75 (signal table) and q79 (streaming keep gate); the
    * oracle replays the identical CASE chain in SQL. */
  private def gopherPlanted: Column = {
    val t1 = when(col("doc_id") % 6 === 0,
      concat(col("text"), lit("\n- first bullet item\n* second bullet item")))
      .otherwise(col("text"))
    val t2 = when(col("doc_id") % 9 === 0, concat(t1, lit(" ## ## #"))).otherwise(t1)
    val t3 = when(col("doc_id") % 8 === 1,
      concat(t2, lit("\nwait for more...\nnot done"))).otherwise(t2)
    when(col("doc_id") % 7 === 2,
      concat(t3, lit(" and that have with to be of"))).otherwise(t3)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 group count — `features.py:86` value_counts
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")),

    // TPC-H Q1 shape: multi-agg with exact decimal sums
    "q2_pricing_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // J1 joins (broadcast dims) + group agg
    "q3_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name")
    }),

    // O3 per-group head via window row_number
    "q4_window_head" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        // long, not Spark's int32 row_number: DuckDB row_number() is BIGINT
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("user_id", "rn", "event_id", "event_type")
        .orderBy("user_id", "rn")
    }),

    // O1 sort + deterministic limit (total order incl. tiebreaks)
    "q5_topn" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(25)),

    // U1/U2 union + distinct
    "q6_union_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .unionByName(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")),

    // F1 isin membership filter
    "q7_filter_isin" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("lang").isin("en", "de", "fr"))
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .orderBy("lang", "source")),

    // F4/F5 projection + rename + filter pushdown.
    // price: exact DECIMAL(18,2) quantization, emitted as DOUBLE. A per-row
    // DECIMAL output hash-mismatches in the driver whenever the cents end in
    // zero (Decimal('1419.20') vs float 1419.2 stringify differently across
    // the pyarrow/duckdb read paths) -- and EVERY p_retailprice here has <=1
    // decimal digit, so r01/r02 failed on all 1199 rows. DOUBLE is identical
    // float64 on every reader.
    "q8_project_rename" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_size") > 20)
        .select(col("p_partkey").as("part_key"), upper(col("p_brand")).as("brand_u"),
          col("p_retailprice").cast("decimal(18,2)").cast("double").as("price"))
        .orderBy("part_key")),

    // A11 distinct count
    "q9_countdistinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // A1 value_counts with order
    "q10_value_counts" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // A10 deterministic hash split (md5 bucket -- oracle-checkable)
    "q11_det_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("is_val", md5Bucket(col("doc_id"), 100) < 20)
        .groupBy("lang", "is_val").agg(count(lit(1)).as("n"))
        .orderBy("lang", "is_val")),

    // exact dedup over a doubled table: keep min id per fingerprint
    "q12_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      graft.dedup.Dedup.exact(doubled, "text", "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // quantile cutoffs for threshold-based quality filtering: exact
    // percentile path (oracle-checkable vs DuckDB quantile_cont — same
    // linear-interpolation definition). DYADIC fractions (.25/.5/.75) on
    // integer lengths make the interpolated doubles bit-exact in both
    // engines regardless of evaluation order, so no rounding is needed.
    // Quantiles.approx (KLL-style sketch) is the 100 TB path, spec-gated
    // within rank tolerance of this exact result.
    "q52_quality_percentiles" -> ((s, dir) =>
      graft.stats.Quantiles.exact(t(s, dir, "documents"), length(col("text")),
          Seq("source"), Seq(0.25, 0.5, 0.75))
        .orderBy("source")),

    // quantile-band quality filter end-to-end (the "keep p25..p75 by
    // length per source" tier): exact dyadic cutoffs (oracle-checkable
    // vs quantile_cont) broadcast back over one corpus scan. The
    // production path swaps useExact for the approx_percentile sketch
    // (same call shape, spec-gated within rank tolerance).
    "q58_quantile_band" -> ((s, dir) =>
      graft.stats.Quantiles.keepQuantileBand(t(s, dir, "documents"),
          length(col("text")), Seq("source"), 0.25, 0.75, useExact = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("bigint").as("sum_len"))
        .orderBy("source")),

    // hot-key profiler (exact tier): the 20 hottest users in the events
    // table — the diagnostic run before sizing a join's skew handling.
    // The one-pass shuffle-free Misra-Gries tier is spec-gated (SkewSpec)
    // against this exact semantics.
    "q60_heavy_hitters" -> ((s, dir) =>
      graft.stats.Skew.topKeysExact(t(s, dir, "events"), "user_id", 20)),

    // range-clustered LAYOUT end-to-end: documents rewritten
    // range-partitioned + sorted by doc_id (fingerprint-cached build,
    // like q48's bucketed tables), then a doc_id range query over the
    // layout — results must equal the same query on the raw table. The
    // layout's point (row-group pruning: >10x fewer rows surfaced by the
    // reader) is proven in LayoutSpec with task input metrics.
    "q59_range_layout" -> ((s, dir) => {
      val fp = pathFingerprint(s, s"$dir/documents.parquet")
      // cache dir keyed by SF basename (Verify sf0.01 / Bench sf0.1 must
      // not evict each other) AND the content fingerprint: fp-keyed dirs
      // are content-stable by construction, so two concurrent sessions on
      // the same input converge on the same bytes instead of racing a
      // cold rebuild's mode-overwrite delete against the other's read
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q59_${new java.io.File(dir).getName}_$fp").toString
      graft.etl.BuildCache.cachedBuild(s, path, fp) {
        graft.etl.Layout.writeRangeClustered(
          t(s, dir, "documents"), path, numFiles = 8, keys = Seq("doc_id"))
      }
      graft.etl.Layout.readRange(s, path, col("doc_id").between(50, 250))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),

    // small-file COMPACTION end-to-end: the documents table splintered
    // into 64 tiny files, bin-packed back by Layout.compact (coalesce, no
    // shuffle), then aggregated — results must equal the raw table. The
    // file-count delta (64 -> few) is asserted in SkewSpec; build is
    // fingerprint-cached like q48/q59.
    "q61_compaction" -> ((s, dir) => {
      val fp = pathFingerprint(s, s"$dir/documents.parquet")
      // SF basename + content fingerprint key — same rationale as q59
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q61_${new java.io.File(dir).getName}_$fp").toString
      val splintered = s"$base/in"
      val compacted = s"$base/out"
      graft.etl.BuildCache.cachedBuild(s, compacted, fp) {
        t(s, dir, "documents").repartition(64).write
          .mode("overwrite").parquet(splintered)
        graft.etl.Layout.compact(s, splintered, compacted)
        ()
      }
      Tables.read(s, compacted)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),

    // Gopher-family repetition signals (dup-line fraction, dup-line char
    // fraction, ellipsis-line fraction — Rae et al. 2021 Table A1): one
    // narrow codegen'd stage of higher-order array functions over the
    // in-row line array, no explode/shuffle/UDF. Repetition is planted
    // deterministically (doc_id % 3) INSIDE the query so both engines
    // construct identical input — the raw word-soup docs carry no
    // repetition of their own.
    "q62_repetition" -> ((s, dir) => {
      val injected = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), substring(col("text"), 1, 30),
          lit("\n"), substring(col("text"), 1, 30), lit("\nto be continued...")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), injected.as("text2"))
        .select(col("doc_id"),
          graft.quality.Repetition.nLines(col("text2")).as("n_lines"),
          graft.quality.Repetition.dupLineFrac(col("text2")).as("dup_line_frac"),
          graft.quality.Repetition.dupLineCharFrac(col("text2")).as("dup_line_char_frac"),
          graft.quality.Repetition.ellipsisLineFrac(col("text2")).as("ellipsis_line_frac"))
        .orderBy("doc_id")
    }),

    // corpus-frequency boilerplate-line removal (RefinedWeb/CCNet shape):
    // lines occurring in >= 50 distinct docs are removed from every doc.
    // Gated on the any-size JOIN tier (posexplode -> anti-join -> ordered
    // rebuild) directly: `dropBoilerplateLines` takes it only past its
    // broadcast cap, which no table here reaches.
    "q66_boilerplate_lines" -> ((s, dir) => {
      graft.dedup.Dedup.dropBoilerplateLinesJoin(docsWithPlantedFooter(s, dir), "text", "doc_id",
          minDocFreq = 50)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // calibration / reliability table over a SQL-expressible score:
    // exact quantile cutoffs (percentile == quantile_cont), equal-
    // population bins, integer-ratio accuracy — the machinery langid's
    // confidence runs through in PipelineSpec, gated here bit-for-bit
    "q68_reliability" -> ((s, dir) => {
      val total = length(col("text")).cast("double")
      val conf = when(length(col("text")) === 0, 0.0)
        .otherwise(letterCount(col("text")) / total)
      val scored = t(s, dir, "documents")
        .select(conf.as("conf"), (col("n_chars") % 2 === 0).cast("int").as("correct"))
      graft.eval.Calibration.reliabilityTableExact(scored, "conf", "correct", nBins = 4)
        .select(col("bin"), col("n"),
          round(col("mean_conf"), 6).as("mean_conf6"), col("accuracy"))
        .orderBy("bin")
    }),

    // the public operator `dropBoilerplateLines` under the SAME oracle as
    // q66: its frequent set fits the cap, so it takes the BROADCAST tier
    // (the corpus never shuffles); both tiers must produce identical bytes
    "q67_boilerplate_broadcast" -> ((s, dir) => {
      graft.dedup.Dedup.dropBoilerplateLines(docsWithPlantedFooter(s, dir), "text", "doc_id",
          minDocFreq = 50)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // C4-family line-level cleaning: terminal-punctuation + min-words +
    // javascript/brace line rules, lorem-ipsum doc drop — the canonical
    // web-cleaning recipe as one narrow higher-order-function stage.
    // Deterministic prose/boilerplate lines are planted IN the query
    // (word-soup docs have no natural C4 structure); md5 of the rebuilt
    // text gates byte-exact line-edit parity.
    "q65_c4_line_filter" -> ((s, dir) => {
      val planted = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("\nLorem Ipsum dolor sit.")))
        .otherwise(when(col("doc_id") % 2 === 0,
          concat(col("text"),
            lit("\nThis is a good sentence."),
            lit("\nPlease enable javascript to continue."),
            lit("\nshort."),
            lit("\ntemplate braces { are here.")))
          .otherwise(col("text")))
      t(s, dir, "documents").select(col("doc_id"), planted.as("t2"))
        .filter(!graft.quality.C4Rules.dropDoc(col("t2")))
        .select(col("doc_id"),
          size(graft.quality.C4Rules.filterLines(col("t2"))).cast("long").as("n_kept"),
          md5(graft.quality.C4Rules.cleanText(col("t2"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // top word-bigram char fraction (the remaining Gopher repetition
    // signal, catches generation loops no line-dup sees): native
    // codegen'd expression, O(words) exact hash count per row — the
    // built-in higher-order-function form would be O(words^2)
    "q64_top_ngram" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.topNgramCharFrac(col("text"), 2)
            .as("top_bigram_char_frac"))
        .orderBy("doc_id")),

    // domain-mix temperature weights (multi-source sampling, tau=0.5):
    // one map-side-combined aggregate, normalization over the one-row-
    // per-source result. weight_prop is the exact integer-ratio tau=1
    // mix; weight_t05 is rounded to 6 (pow/sqrt agree to <1 ulp across
    // engines, rounding absorbs it — q18's cosine precedent)
    "q63_domain_mix" -> ((s, dir) =>
      graft.etl.Sampling.temperatureWeights(
          t(s, dir, "documents"), "source", tokenCount(col("text")), tau = 0.5)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("weight_prop"), round(col("weight_tau"), 6).as("weight_t05"))
        .orderBy("source")),

    // temperature weights APPLIED (the q63 consumer): per-source integer
    // keep-thresholds sized for 300 expected rows mixed ∝ n_tokens^0.5,
    // deterministic md5 keep decision per row (the q22 cross-engine
    // bucket), post-sample mix under the gate. The engine path uses
    // xxhash64 buckets; this gate injects the md5 bucket so the oracle
    // can replay the WHOLE pipeline — weights, thresholds, filter — in SQL
    "q70_temperature_sample" -> ((s, dir) =>
      graft.etl.Sampling.temperatureSampleWith(
          t(s, dir, "documents"), "source", tokenCount(col("text")),
          tau = 0.5, targetRows = 300,
          bucket = graft.functions.TextFunctions.md5Bucket(col("doc_id"), 10000))
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")),

    // sequence packing: docs -> fixed token-budget training chunks by
    // running token total per source shard (one keyed window shuffle,
    // never a global order); per-chunk doc/token counts under the gate
    "q56_seq_packing" -> ((s, dir) =>
      graft.etl.Packing.packSequential(t(s, dir, "documents"),
          tokenCount(col("text")), "source", "doc_id", 1000L)
        .groupBy("source", "chunk_id")
        .agg(count(lit(1)).as("n"),
          sum(tokenCount(col("text")).cast("long")).as("toks"))
        .orderBy("source", "chunk_id")),

    // BPE-ish token counting (regex pretokenizer match count) + stopword
    // hits — exact integer aggregates, both codegen'd built-ins (no UDF)
    "q45_token_budget" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum(bpeTokenCount(col("text"))).as("bpe_tokens"),
          sum(tokenCount(col("text"))).as("ws_tokens"),
          sum(stopwordCount(col("text"))).as("stopword_hits"),
          count(lit(1)).as("n"))
        .orderBy("source")),

    // token counting
    "q13_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum(tokenCount(col("text"))).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy("source")),

    // F7 char-class metrics (ASCII, exact integer sums)
    "q14_charclass" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum(letterCount(col("text"))).as("letters"),
          sum(digitCount(col("text"))).as("digits"),
          sum(wsCount(col("text"))).as("ws"),
          sum(punctCount(col("text"))).as("punct"))
        .orderBy("source")),

    // F2 junk filter decisions
    "q15_junk_filter" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("keep", !Rules.isJunkCol(length(col("text")), lineCount(col("text")),
          asciiLetterRatio(col("text")), asciiPunctRatio(col("text")), asciiDigitRatio(col("text"))))
        .groupBy("lang", "keep").agg(count(lit(1)).as("n"))
        .orderBy("lang", "keep")),

    // document fingerprinting
    "q16_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // quality scoring (integer-exact component sum)
    "q17_quality" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum((qualityScore(col("text")) * 4).cast("long")).as("ok_components"),
          count(lit(1)).as("n"))
        .orderBy("source")),

    // ANN brute-force cosine top-k to a fixed stored query vector
    "q18_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.sim.Ann.bruteForceTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q, 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos6"))
    }),

    // ANN on int8-QUANTIZED vectors (4x memory/bandwidth vs float32 — at
    // 10^12 embeddings the vector bytes are the scan cost): symmetric
    // per-vector scale, floor(x/scale+0.5) codes, integer-dot cosine.
    // Oracle recomputes the identical quantization in SQL.
    "q50_ann_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.sim.Ann.int8TopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q, 10)
        .select(col("vec_id"), round(col("icos"), 6).as("icos6"))
    }),

    // MinHash LSH near-dup pairs on planted dups (no SQL oracle).
    // minhashDupPairs runs its pair job when called, caching the (id,
    // shingle-hashes) projection for that job only: the text is tokenized
    // exactly once (DedupSpec) and no cache entry outlives the query.
    "q19_minhash_dups" -> ((s, dir) =>
      graft.dedup.Dedup.minhashDupPairs(docsWithPlantedDups(s, dir), "text", "doc_id",
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j6"))
        .orderBy("id_a", "id_b")),

    // near-dup CLUSTERING: the q19 pair list -> connected components via
    // hash-min label propagation (comp = min doc_id in the duplicate
    // cluster — the canonical survivor a dedup pass would keep). Oracle =
    // recursive-CTE transitive closure over the exact all-pairs truth.
    "q49_dedup_components" -> ((s, dir) => {
      val pairs = graft.dedup.Dedup.minhashDupPairs(docsWithPlantedDups(s, dir),
        "text", "doc_id", w = 3, k = 32, bands = 16, threshold = 0.5)
      graft.dedup.Dedup.components(pairs).orderBy("node")
    }),

    // the END-TO-END near-dup filter: pairs -> clusters -> keep only the
    // min-id member per cluster; per-lang survivor counts under the gate
    "q51_drop_near_dups" -> ((s, dir) =>
      graft.dedup.Dedup.dropNearDups(docsWithPlantedDups(s, dir), "text", "doc_id",
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // the near-dup filter under the KEEP-BEST policy: same planted
    // mutants as q51, but each cluster keeps its LONGEST member (the
    // mutant — base text || ' mutated'), the opposite survivor set from
    // q51's min-id, so the gate distinguishes the policies.
    "q95_drop_near_dups_best" -> ((s, dir) =>
      graft.dedup.Dedup.dropNearDupsBest(docsWithPlantedDups(s, dir), "text", "doc_id",
          length(col("text")).cast("long"),
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // benchmark decontamination: a "benchmark" is built from a 16-word
    // window of every 37th document, so exactly those source documents
    // share an 8-gram with it and must be dropped; per-lang survivor
    // counts under the gate
    "q55_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.decontaminate(docs, "text", "doc_id", decontaminationBench(docs), "btext",
          w = 8)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // the contamination AUDIT over the same benchmark: per bench item,
    // total distinct 8-grams, grams found anywhere in the corpus, and
    // distinct contaminated docs. Every item leaks by construction (it
    // is a window of a corpus doc) — the gate checks the exact counts.
    "q86_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val bench = docs
        .filter(col("doc_id") % 37 === 0 && size(words(col("text"))) >= 21)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(words(col("text")), 6, 16)).as("btext"))
      graft.dedup.Dedup.contaminationReport(docs, "text", "doc_id",
          bench, "btext", "bench_id", w = 8)
        .orderBy("bench_id")
    }),

    // SPLIT-LEAKAGE audit: the q11 deterministic train/val split, then
    // the q86 contamination report with the VAL side as the "benchmark"
    // — per val doc, how many of its 8-grams appear in train and how
    // many train docs share one. The hygiene check run before trusting
    // a held-out metric; the corpus's natural dup spans leak.
    "q87_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = md5Bucket(col("doc_id"), 100)
      val train = docs.filter(bucket >= 20)
      val valD = docs.filter(bucket < 20)
        .select(col("doc_id").as("val_id"), col("text"))
      graft.dedup.Dedup.contaminationReport(train, "text", "doc_id",
          valD, "text", "val_id", w = 8)
        .orderBy("val_id")
    }),

    // the SAME decontamination semantics through the any-size SEMI-JOIN
    // tier (shuffled shingle hashes instead of a broadcast set), called
    // directly; one oracle, two execution paths
    "q57_decontaminate_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.decontaminateJoin(docs, "text", "doc_id", decontaminationBench(docs),
          "btext", w = 8)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // `decontaminate` with a one-shingle cap: its size check finds the
    // benchmark oversized and reroutes to the semi-join tier — the path
    // CorpusPrep takes for a benchmark too large to broadcast. Same
    // oracle as q55 (the name predates the removal of the bloom tier)
    "q71_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.decontaminate(docs, "text", "doc_id", decontaminationBench(docs), "btext",
          w = 8, maxBenchShingles = 1)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // corpus-wide KEEP-FIRST exact line dedup (Lee et al. exact-substring
    // dedup at line granularity): a line planted into every 3rd doc
    // survives only in its globally-first occurrence (doc 0); later
    // occurrences — and any coincidental duplicate text lines in the
    // corpus — are removed. md5 of the rebuilt text gates byte parity.
    "q72_dedup_lines" -> ((s, dir) => {
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nEvery third doc repeats this exact line.")))
        .otherwise(col("text"))
      val docs = t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
      graft.dedup.Dedup.dedupLinesKeepFirst(docs, "text", "doc_id")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // keep-first dedup at PARAGRAPH granularity (RefinedWeb runs both
    // levels): a footer paragraph planted into every 4th doc (across a
    // TRIPLE newline on %8==5, exercising the \n{2,} split) survives
    // only in doc 0; separators normalize to the canonical \n\n.
    "q96_dedup_paragraphs" -> ((s, dir) => {
      val p1 = when(col("doc_id") % 4 === 0,
        concat(col("text"), lit("\n\nShared syndication footer paragraph.")))
        .otherwise(col("text"))
      val p2 = when(col("doc_id") % 8 === 5,
        concat(p1, lit("\n\n\nShared syndication footer paragraph.")))
        .otherwise(p1)
      val docs = t(s, dir, "documents").select(col("doc_id"), p2.as("text"))
      graft.dedup.Dedup.dedupUnitsKeepFirst(docs, "text", "doc_id", "\n{2,}", "\n\n")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // SemDeDup (embedding-cluster semantic dedup): deterministic seed-row
    // centroids (the q38 md5-ordered sample, so DuckDB can recompute
    // assignment exactly), within-cluster cosine >= 0.2 drops the
    // higher-id member; survivors under the gate. maxCluster never binds
    // at test scale (<= 5k embeddings vs the 100k default) so the oracle
    // omits the cap replication q42 needed for its 16-bucket setting.
    "q73_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(8)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val index = graft.sim.Ann.IvfIndex(centroids)
      graft.sim.Ann.semDedup(emb, "embedding", "vec_id", index, threshold = 0.2)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL ingest dedup: a synthetic "daily batch" (near-dup
    // mutations of every 7th corpus doc, exact copies of every 11th≡3,
    // word-reversed — mostly novel — rewrites of every 13th≡5) deduped
    // against the standing corpus; surviving batch ids under the gate.
    // Oracle = exact all-CROSS-pairs Jaccard truth (the q19 pattern).
    "q74_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" mutated")).as("text"), col("lang"))
        .unionByName(docs.filter(col("doc_id") % 11 === 3)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text"), col("lang")))
        .unionByName(docs.filter(col("doc_id") % 13 === 5)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat_ws(" ", reverse(words(col("text")))).as("text"), col("lang")))
      graft.dedup.Dedup.dedupAgainstCorpus(batch, docs, "text", "doc_id",
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Gopher QUALITY rules (Rae et al. Table A1, the non-repetition
    // layer): word count, mean word length, #/... symbol-to-word ratios,
    // bullet-line fraction, alpha-word fraction, stopword hits, combined
    // keep — one narrow codegen'd stage of higher-order functions, no
    // explode/shuffle/UDF. Bullets/symbols/ellipses/stopwords planted
    // deterministically (word-soup has none); integer counts then ONE
    // double division per ratio keep the gate bit-exact.
    "q75_gopher_rules" -> ((s, dir) => {
      val t2 = gopherPlanted
      t(s, dir, "documents").select(col("doc_id"), t2.as("t2"))
        .select(col("doc_id"),
          graft.quality.GopherRules.nWords(col("t2")).as("n_words"),
          graft.quality.GopherRules.meanWordLen(col("t2")).as("mean_word_len"),
          graft.quality.GopherRules.symbolWordRatio(col("t2"), "#").as("hash_word_ratio"),
          graft.quality.GopherRules.symbolWordRatio(col("t2"), "...").as("ellipsis_word_ratio"),
          graft.quality.GopherRules.bulletLineFrac(col("t2")).as("bullet_line_frac"),
          graft.quality.GopherRules.alphaWordFrac(col("t2")).as("alpha_word_frac"),
          graft.quality.GopherRules.stopwordHits(col("t2")).as("stopword_hits"),
          graft.quality.GopherRules.keep(col("t2")).cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // Z-ORDER clustered layout: documents materialized Morton-sorted on
    // (doc_id, n_chars) — row groups cover small 2-D tiles so predicates
    // on EITHER dimension prune (LayoutSpec asserts input-rows reduction
    // on both); the layout changes row placement, never results, so the
    // oracle is the plain table query (the q59 stance). Build is
    // fingerprint-cached like q59/q61.
    "q76_zorder_layout" -> ((s, dir) => {
      val fp = pathFingerprint(s, s"$dir/documents.parquet")
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q76_${new java.io.File(dir).getName}_$fp").toString
      graft.etl.BuildCache.cachedBuild(s, path, fp) {
        graft.etl.Layout.writeZOrdered(t(s, dir, "documents"), path,
          numFiles = 8, colA = "doc_id", colB = "n_chars")
      }
      Tables.read(s, path)
        .filter(col("n_chars").between(200, 500) && col("doc_id").between(50, 350))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),

    // duplicated-SPAN coverage (Lee et al. exact-substring measure at
    // word-8-gram resolution): fraction of each doc's word positions
    // covered by a gram occurring >= 2 times corpus-wide — the word-soup
    // corpus carries ~9% natural dup positions, no planting needed.
    // Fixed-width intervals make coverage a closed form over one lead()
    // window (no fold state); integer counts, one double division.
    "q77_dup_span" -> ((s, dir) =>
      graft.dedup.Dedup.dupSpanStats(t(s, dir, "documents"), "text", "doc_id", w = 8)
        .orderBy("doc_id")),

    // duplicated-span REMOVAL end-to-end (q77's measure turned into the
    // rewrite): a syndicated 11-word sentence planted on %4==2 (cross-doc
    // dup 8-grams) on top of the corpus's natural dup spans; covered
    // positions are scrubbed and the doc rebuilt from original-case
    // survivors. md5 byte-parity on the rebuilt text (the q72 stance).
    "q84_drop_dup_spans" -> ((s, dir) => {
      val phrase = " syndicated wire story reproduced verbatim across many outlets again today updated"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 2, concat(col("text"), lit(phrase)))
          .otherwise(col("text")).as("t2"))
      graft.dedup.Dedup.dropDupSpans(docs, "t2", "doc_id", w = 8)
        .select(col("doc_id"), col("n_words"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // IMAGE near-dup pairs: dHash perceptual fingerprints over REAL
    // JDK-decoded PNGs (200 deterministic pseudo-random images + 20
    // noisy copies of every 10th), paired by the shared 16-bit-band +
    // Hamming engine. Deterministic end-to-end, so the oracle is the
    // pinned literal output (the q20 stance — no PNG codec in SQL);
    // perceptual semantics are spec-gated in MultimodalSpec.
    "q88_image_dup_pairs" -> ((s, dir) => {
      import s.implicits._
      val originals = s.range(0, 200).map(i => graft.mm.Multimodal.synthNoisePng(i))
      val dups = s.range(0, 20).map(i =>
        graft.mm.Multimodal.synthNoisePng(1000L + i, baseId = i * 10, noisePixels = 5))
      graft.mm.Multimodal.imageDupPairs(s, originals.union(dups), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // AUDIO near-dup pairs: bucket-energy fingerprints over REAL WAV
    // decode (100 deterministic clips + 10 damaged copies of every
    // 10th), the same banding/Hamming engine and literal-oracle stance
    // as q88 — the third modality of the dedup family.
    "q89_audio_dup_pairs" -> ((s, dir) => {
      import s.implicits._
      val originals = s.range(0, 100).map(i => graft.mm.Multimodal.synthNoiseWav(i))
      val dups = s.range(0, 10).map(i =>
        graft.mm.Multimodal.synthNoiseWav(1000L + i, baseId = i * 10, noiseSamples = 10))
      graft.mm.Multimodal.audioDupPairs(s, originals.union(dups), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // VIDEO near-dup pairs (GIF container — the q54 stance): per-frame
    // dHash combined by per-bit frame majority, the same engine and
    // literal-oracle stance as q88/q89 — the dedup family's fourth and
    // final modality.
    "q90_video_dup_pairs" -> ((s, dir) => {
      import s.implicits._
      val originals = s.range(0, 60).map(i => graft.mm.Multimodal.synthNoiseGif(i))
      val dups = s.range(0, 6).map(i =>
        graft.mm.Multimodal.synthNoiseGif(1000L + i, baseId = i * 10, noisePixels = 6))
      graft.mm.Multimodal.videoDupPairs(s, originals.union(dups), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // SLIDING-window chunking with overlap (width 40, stride 30 — the
    // RAG/long-context layout, within-doc counterpart of q56's
    // cross-doc packing): in-row windows, one posexplode, zero
    // shuffles; md5 byte parity per chunk.
    "q91_chunk_sliding" -> ((s, dir) =>
      graft.etl.Packing.chunkSliding(t(s, dir, "documents"), "text", "doc_id",
          width = 40, stride = 30)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // REAL BPE tokenizer end-to-end: 50 merge rules trained on the
    // corpus's own word-frequency table (bounded collect — the
    // published trainer shape), broadcast ranks, per-lang token totals.
    // Deterministic tie-breaks make the merge table byte-stable, so the
    // output pins as a literal oracle (sf-pinned: merges depend on the
    // corpus); trainer/encoder semantics are golden-gated in BpeSpec.
    "q92_bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.train.Bpe.train(
        graft.train.Bpe.wordFreqs(docs, "text", maxWords = 100000), numMerges = 50)
      graft.train.Bpe.withTokenCounts(docs, "text", merges)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("bpe_tokens").as("bpe_tokens"))
        .orderBy("lang")
    }),

    // distinct-count EXACT tier (the q78 gate; the HLL sketch +
    // mergeable-sketch tiers are the 100 TB path, spec-asserted within
    // rsd and union==single-pass in CardinalitySpec)
    "q78_cardinality" -> ((s, dir) =>
      graft.stats.Cardinality.exact(t(s, dir, "documents"), Seq("lang"), col("n_chars"))
        .orderBy("lang")),

    // the SAME Gopher keep gate as a STREAM (AvailableNow replay of the
    // documents table): the quality filter is one Column expression, so
    // batch and Structured Streaming share it verbatim — the
    // incremental-ingest shape (today's crawl filtered as it lands).
    // Stateless filter -> append mode; oracle = the batch restatement.
    "q79_stream_quality" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val path = s"$dir/documents.parquet"
      val schema = Tables.read(s, path).schema
      val stream = s.readStream.schema(schema).parquet(s"$dir/[d]ocuments.parquet")
      val kept = stream.select(col("doc_id"), col("lang"), gopherPlanted.as("t2"))
        .filter(graft.quality.GopherRules.keep(col("t2")))
        .select("doc_id", "lang")
      val qname = s"graft_q79_${streamQuerySeq.incrementAndGet()}"
      val q = kept.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qname).orderBy("doc_id")
    }),

    // Gopher dup signals at PARAGRAPH granularity (blank-line blocks):
    // word-soup has no paragraph breaks, so dup paragraphs are planted on
    // %5 (two copies of the doc's own prefix) and %7==3 (a literal block
    // repeated across a TRIPLE newline — exercising the "\n{2,}" split).
    // Same in-row O(P log P) kernels as the q62 line signals.
    "q80_para_repetition" -> ((s, dir) => {
      val p1 = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit("\n\n"), substring(col("text"), 1, 40),
          lit("\n\n"), substring(col("text"), 1, 40))).otherwise(col("text"))
      val p2 = when(col("doc_id") % 7 === 3,
        concat(p1, lit("\n\nrepeated block\n\n\nrepeated block"))).otherwise(p1)
      t(s, dir, "documents").select(col("doc_id"), p2.as("t2"))
        .select(col("doc_id"),
          graft.quality.Repetition.nParagraphs(col("t2")).as("n_paras"),
          graft.quality.Repetition.dupParaFrac(col("t2")).as("dup_para_frac"),
          graft.quality.Repetition.dupParaCharFrac(col("t2")).as("dup_para_char_frac"))
        .orderBy("doc_id")
    }),

    // unigram LM quality score, QUANTIZED-BITS tier (the oracle-exact
    // tier of quality/LmScore; the true mean -ln p tier is spec-gated —
    // double sum order is engine-defined). Vocab counted over the same
    // corpus being scored, broadcast-joined; surprisal = bits(total) -
    // bits(cnt), integer sums, one final division.
    "q81_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = graft.quality.LmScore.unigramCounts(docs, "text")
      graft.quality.LmScore.scoreQuantizedBits(docs, "text", "doc_id", counts)
        .orderBy("doc_id")
    }),

    // CCNet-style LM quality band split end-to-end: score every doc by
    // quantized unigram surprisal (q81's tier), then keep the best three
    // quartiles PER LANGUAGE ("drop the worst quartile by perplexity per
    // language" — the CCNet head/middle split). The band metric is the
    // INTEGER milli-bits rate ((sum_bits*1000) div n_tokens), so the
    // exact percentile cutoffs interpolate integer-valued doubles at
    // dyadic fractions — bit-exact in any engine (the q58 stance).
    "q83_lm_band" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = graft.quality.LmScore.unigramCounts(docs, "text")
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(graft.quality.LmScore.scoreQuantizedBits(docs, "text", "doc_id", counts),
          Seq("doc_id"))
        .withColumn("milli_bits", when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(sum_bits * 1000) div n_tokens")))
      graft.stats.Quantiles.keepQuantileBand(scored, col("milli_bits"),
          Seq("lang"), 0.0, 0.75, useExact = true)
        .select("doc_id", "lang", "n_tokens", "sum_bits", "milli_bits")
        .orderBy("doc_id")
    }),

    // DSIR domain-importance weights (quantized-bits tier): target
    // domain = the 'de' slice of the corpus, raw = the whole corpus;
    // weight = quantized log-likelihood ratio per token, integer sums.
    // Positive docs read more like the target than the average.
    "q85_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tc = graft.quality.LmScore.unigramCounts(docs.filter(col("lang") === "de"), "text")
      val rc = graft.quality.LmScore.unigramCounts(docs, "text")
      graft.quality.LmScore.importanceBits(docs, "text", "doc_id", tc, rc)
        .orderBy("doc_id")
    }),

    // within-doc duplicate-6-gram char coverage (interval UNION over the
    // space-joined token text). Planted: %3==1 gets a 6-word phrase twice
    // (disjoint spans), %9==4 gets "zz" x8 (three overlapping occurrences
    // of the same 6-gram — the union must not double-count).
    "q82_dup_ngram" -> ((s, dir) => {
      val phrase = " qq ww ee rr tt yy"
      val p1 = when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(phrase), lit(phrase))).otherwise(col("text"))
      val p2 = when(col("doc_id") % 9 === 4,
        concat(p1, lit(" zz zz zz zz zz zz zz zz"))).otherwise(p1)
      val docs = t(s, dir, "documents").select(col("doc_id"), p2.as("t2"))
      graft.quality.Repetition.dupNgramCharStats(docs, "t2", "doc_id", n = 6)
        .orderBy("doc_id")
    }),

    // SimHash near-dup pairs on planted dups (no SQL oracle)
    "q20_simhash_dups" -> ((s, dir) =>
      graft.dedup.Dedup.simhashDupPairs(docsWithPlantedDups(s, dir), "text", "doc_id",
        maxHamming = 6)
        .orderBy("id_a", "id_b")),

    // LSH ANN (no SQL oracle; recall vs brute-force is asserted in tests)
    "q21_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.sim.Ann.lshTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q,
        k = 10, nBits = 8, seed = 42L, probeHamming = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos6"))
    }),

    // IVF ANN: seed-row centroids (deterministic md5-ordered sample — the
    // standard random-sample centroid init, made replicable so the DuckDB
    // oracle can recompute assignment + probe exactly) + probe-restricted
    // ranking. The distributed KMeans fit path (Ann.ivfFit) is spec-gated
    // in AnnSpec; this query pins the IVF assign/probe/rank semantics.
    "q38_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val centroids = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(8)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val index = graft.sim.Ann.IvfIndex(centroids)
      val indexed = graft.sim.Ann.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", index)
      graft.sim.Ann.ivfTopK(indexed, "embedding", "vec_id", index, q, k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos6"))
    }),

    // embedding-cosine near-dup pairs: LSH-bucketed candidates (seeded
    // hyperplanes), exact double-cosine verify, hot-bucket cap. Oracle
    // replicates the bucket assignment with plane literals (q21 technique)
    // and the cosine in the same double expression shape.
    // nBits=4/signatures=1 (16 buckets, single signature) is an
    // ORACLE-ONLY setting so DuckDB can restate the join tractably at
    // sf0.01 — the operator defaults are 10 bits x 4 OR-amplified
    // signatures (AnnSpec gates recall at those settings); with 16 buckets
    // and the 1000-row bucket cap, recall degrades observably (via the
    // cosine_dup_caps metric) on any corpus >16k rows. Not a recommended
    // production config.
    "q42_cosine_dups" -> ((s, dir) =>
      graft.sim.Ann.cosineDupPairs(t(s, dir, "embeddings"), "embedding", "vec_id",
          threshold = 0.2, nBits = 4, seed = 42L, dim = 64, signatures = 1)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos6"))
        .orderBy("id_a", "id_b")),

    // A9 deterministic stratified sample (md5 bucket)
    "q22_det_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(md5Bucket(col("doc_id"), 100) < 30)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // X1 substring feature bits via the broadcast Aho-Corasick matcher
    "q23_feature_bits" -> ((s, dir) => {
      val toks = Array("the", "and", "data", "query", "spark")
      val bc = s.sparkContext.broadcast(graft.text.TokenMatcher(toks))
      val bitsUdf = udf((text: String) => bc.value.matchBits(text))
      t(s, dir, "documents")
        .withColumn("bits", bitsUdf(col("text")))
        .select(col("doc_id") +: toks.zipWithIndex.map { case (tk, i) =>
          col("bits").getItem(i).as(s"has_$tk")
        }: _*)
        .orderBy("doc_id")
    }),

    // P1+P3 linear scoring with the built-in tiny model (exact SQL oracle)
    "q24_langid_tiny" -> ((s, dir) => {
      val bc = s.sparkContext.broadcast(new graft.score.Scorer(graft.model.DefaultModels.tiny))
      val predUdf = udf((text: String) => bc.value.predictLabel(text))
      t(s, dir, "documents").select(col("doc_id"), predUdf(col("text")).as("pred"))
        .orderBy("doc_id")
    }),

    // F9 label remap via a literal map expression
    "q25_label_remap" -> ((s, dir) => {
      val remap = typedlit(Map(
        "en" -> "germanic", "de" -> "germanic",
        "fr" -> "romance", "es" -> "romance", "zh" -> "sinitic"))
      t(s, dir, "documents")
        .withColumn("family", element_at(remap, col("lang")))
        .groupBy("family").agg(count(lit(1)).as("n"))
        .orderBy("family")
    }),

    // S5/O3 skip-take (offset + limit under a total order)
    "q26_offset_limit" -> ((s, dir) =>
      t(s, dir, "events").orderBy("event_id").select("event_id", "event_type")
        .offset(100).limit(50)),

    // A5 per-class F1 table (deterministically corrupted predictions)
    "q27_macro_f1" -> ((s, dir) => {
      val preds = t(s, dir, "documents").select(
        col("lang").as("label"),
        when(md5Bucket(col("doc_id"), 10) === 0, lit("en")).otherwise(col("lang")).as("pred"))
      graft.eval.F1.perClass(preds, "label", "pred").orderBy("cls")
    }),

    // Unicode NFC normalization via the native codegen'd expression:
    // decomposed accents (e+U+0301, A+U+030A) planted on %6==1 compose
    // to single code points; already-NFC rows pass the zero-allocation
    // fast path untouched. DuckDB's nfc_normalize is the oracle.
    "q94_nfc_normalize" -> ((s, dir) => {
      // DECOMPOSED planting (combining acute/ring/diaeresis escapes) --
      // composed literals would make normalization a no-op, gate vacuous
      val planted = when(col("doc_id") % 6 === 1,
        concat(col("text"), lit(" cafe\u0301 A\u030Angstro\u0308m")))
        .otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"), planted.as("t2"))
        .select(col("doc_id"),
          length(col("t2")).as("n_before"),
          length(graft.plans.GraftFunctions.nfcNormalize(col("t2"))).as("n_after"),
          md5(graft.plans.GraftFunctions.nfcNormalize(col("t2"))).as("norm_md5"))
        .orderBy("doc_id")
    }),

    // LANGUAGE-CONDITIONAL stopword gate: %5==2 docs get three of their
    // OWN language's stopwords (hits >= 3 -> keep), %5==4 docs get
    // ENGLISH stopwords regardless of language — only en docs earn
    // credit, demonstrating the monolingual-filter bug the operator
    // exists to avoid.
    "q97_multilingual_stopwords" -> ((s, dir) => {
      val own = when(col("lang") === "en", lit(" the of and"))
        .when(col("lang") === "de", lit(" der die und"))
        .when(col("lang") === "fr", lit(" le la et"))
        .when(col("lang") === "es", lit(" el la de"))
        .when(col("lang") === "zh", lit(" 的 了 是"))
        .otherwise(lit(""))
      val p1 = when(col("doc_id") % 5 === 2, concat(col("text"), own))
        .otherwise(col("text"))
      val p2 = when(col("doc_id") % 5 === 4, concat(p1, lit(" the of and")))
        .otherwise(p1)
      t(s, dir, "documents").select(col("doc_id"), col("lang"), p2.as("t2"))
        .select(col("doc_id"), col("lang"),
          graft.quality.GopherRules.stopwordHitsFor(col("t2"), col("lang"))
            .as("stopword_hits"))
        .withColumn("keep", (col("stopword_hits") >= 2).cast("int"))
        .orderBy("doc_id")
    }),

    // Metric STABILITY table: per-class F1 over 25 deterministic
    // md5-selected half-subsamples of q27's corrupted predictions — the
    // resampled confidence band an eval scorecard carries; no RNG, so
    // the whole table is oracle-exact.
    "q93_f1_stability" -> ((s, dir) => {
      val preds = t(s, dir, "documents").select(
        col("doc_id"),
        col("lang").as("label"),
        when(md5Bucket(col("doc_id"), 10) === 0, lit("en")).otherwise(col("lang")).as("pred"))
      graft.eval.F1.resampledPerClass(preds, "label", "pred", col("doc_id"),
          nResamples = 25)
        .orderBy("b", "cls")
    }),

    // §2.8 STREAMING under the driver gate: readStream over the events
    // table → watermarked 5-minute windowed counts → memory sink in
    // Complete mode (every window present at termination, so the batch
    // GROUP BY oracle applies exactly). AvailableNow processes the whole
    // table and terminates.
    "q44_stream_windowed" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val path = s"$dir/events.parquet"
      val schema = Tables.read(s, path).schema
      // the table is a single parquet file; the file-stream source wants a
      // directory base, so address the file through a glob (the non-glob
      // prefix — the sf dir — becomes the base path)
      val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
        // watermarks need an instant (TIMESTAMP), not NTZ; session TZ is UTC
        .withColumn("ts", col("ts").cast("timestamp"))
      val counts = graft.streaming.EventStream.windowedCounts(stream)
      val qname = s"graft_q44_${streamQuerySeq.incrementAndGet()}"
      // the stateful agg's result is tiny (windows x event types): 8 state
      // partitions instead of the session's cores*2=64 — the per-batch
      // fixed cost (state store open/commit/snapshot per partition) was
      // most of this gate's wall time, not the data
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        counts.writeStream.format("memory").queryName(qname)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination()
      s.table(qname)
        .select(col("window.start").cast("long").as("w_start"),
          col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    }),

    // STREAMING EXACT DEDUP (dropDuplicatesWithinWatermark) replayed over
    // the events table: first arrival per fingerprint wins, later copies
    // drop. One AvailableNow batch means every key's state is live for
    // the whole replay (the initial watermark trails all data), so the
    // emitted set is EXACTLY the distinct fingerprints — an oracle a SQL
    // engine can restate; emitting only the fingerprint keeps the result
    // independent of which copy arrived first (arrival order inside a
    // batch is partition-order, not deterministic). Cross-batch state
    // retention + watermark TTL eviction are spec-gated (EventStreamSpec).
    "q69_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val path = s"$dir/events.parquet"
      val schema = Tables.read(s, path).schema
      val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        // ~5 copies per key at sf0.01: every (event_type, user_id mod 100)
        .withColumn("fp",
          concat_ws(":", col("event_type"), (col("user_id") % 100).cast("string")))
        .select(col("fp"), col("ts"))
      val deduped = graft.streaming.EventStream.dedupStream(
        stream, "fp", "ts", delay = "10 minutes").select("fp")
      val qname = s"graft_q69_${streamQuerySeq.incrementAndGet()}"
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        deduped.writeStream.format("memory").queryName(qname)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination()
      s.table(qname).orderBy("fp")
    }),

    // windowed sessionization (lag + running sum), exact epoch outputs
    "q28_sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"), gapMinutes = 30)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start").cast("timestamp").cast("long").as("start_s"),
          col("end").cast("timestamp").cast("long").as("end_s"))
        .orderBy("user_id", "session_id")),

    // G1-G4+F2 corpus ETL over documents-as-files (scrub+split+junk filter)
    "q29_snippet_etl" -> ((s, dir) => {
      import s.implicits._
      val langs = Array("Markdown", "SQL", "Python", "HTML")
      // word-soup documents have no punctuation and would all fail the
      // PunctRatio>=0.01 junk rule; comma-join words so chunks are viable
      val files = t(s, dir, "documents")
        .select(col("doc_id"), regexp_replace(col("text"), " ", ", ").as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          graft.etl.SourceFile(id.toString, langs((id % 4).toInt), text)
        }
      graft.etl.SnippetEtl.run(s, files, limit = 5, rebalance = false)
        .groupBy("Language").agg(count(lit(1)).as("n_chunks"))
        .orderBy("Language")
    }),

    // A2 feature-occurrence rates via the native MultiContains expression
    // (codegen'd single-pass matcher, SQL-oracle-checked)
    "q31_feature_occurrence" -> ((s, dir) => {
      val bits = graft.plans.GraftFunctions.multiContains(col("text"),
        Seq("the", "data", "query"))
      t(s, dir, "documents")
        .withColumn("b", bits)
        .groupBy("lang")
        .agg(
          sum(col("b").getItem(0).cast("long")).as("n_the"),
          sum(col("b").getItem(1).cast("long")).as("n_data"),
          sum(col("b").getItem(2).cast("long")).as("n_query"),
          count(lit(1)).as("n_samples"))
        .orderBy("lang")
    }),

    // G1 as a native Generator: split_snippets explodes files into chunks
    "q32_split_generator" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.splitSnippets(col("text"), 3))
        .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .orderBy("doc_id")),

    // X3/X4 structural predicates as Column expressions
    "q33_structural" -> ((s, dir) => {
      import graft.functions.StructuralPredicates._
      t(s, dir, "documents").select(
        col("doc_id"),
        hasDollarVarCol(col("text")).as("has_dollar"),
        hasPythonFStringCol(col("text")).as("has_fstring"),
        hasLineStartingWithCol(col("text"), "agg").as("line_agg"))
        .orderBy("doc_id")
    }),

    // exact n-gram (word 3-shingle) Jaccard between consecutive docs —
    // the verification kernel of near-dup detection, oracle-checked
    "q34_ngram_jaccard" -> ((s, dir) => {
      def shingles(c: Column): Column =
        graft.plans.GraftFunctions.wordGrams(split(lower(trim(c)), "\\s+"), 3)
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), shingles(col("text")).as("sa"))
      val b = d.select((col("doc_id") - 1).as("id_a"), shingles(col("text")).as("sb"))
      a.join(b, "id_a")
        .select(col("id_a"),
          when(size(array_union(col("sa"), col("sb"))) === 0, lit(1.0))
            .otherwise(size(array_intersect(col("sa"), col("sb"))) /
              size(array_union(col("sa"), col("sb")))).as("jaccard"))
        .select(col("id_a"), round(col("jaccard"), 6).as("j6"))
        .orderBy("id_a")
    }),

    // temporal range predicate (pushed to the parquet scan).
    // sum_price: the sum is computed EXACTLY as DECIMAL (order-independent
    // across partitions), then the single final value is cast to DOUBLE.
    // Emitting the DECIMAL itself failed the driver hash in r01/r02 because
    // the 'A' group sum (162446408.30) has trailing-zero cents and
    // Decimal/float stringify it differently across read paths.
    "q36_date_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("l_returnflag")),

    // semi-structured column: JSON field extraction + aggregation
    "q37_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // A3/A4 global statistics (exact integer sums; mean as exact division)
    "q35_global_stats" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n"),
        sum(length(col("text"))).as("total_chars"),
        (sum(length(col("text"))) / count(lit(1))).as("mean_len"),
        sum(tokenCount(col("text"))).as("total_tokens"))),

    // X1 at REFERENCE scale: the full 746-token / 32-class substring model
    // (reference feature corpus, ReferenceFeatures.fullModel). One
    // broadcast Aho–Corasick pass per row extracts all 746 presence bits;
    // the linear scorer's exact-dyadic weights make the prediction
    // SQL-replicable at full size (no subset shortcuts).
    "q39_full_model" -> ((s, dir) => {
      val bc = s.sparkContext.broadcast(
        new graft.score.Scorer(graft.model.ReferenceFeatures.fullModel))
      val predUdf = udf { (text: String) =>
        val sc = bc.value
        val bits = sc.extractBits(text)
        var n = 0; var i = 0
        while (i < bits.length) { if (bits(i)) n += 1; i += 1 }
        (sc.model.classes(sc.argmax(sc.logits(bits))), n)
      }
      t(s, dir, "documents")
        .withColumn("p", predUdf(col("text")))
        .select(col("doc_id"), col("p._1").as("pred"), col("p._2").as("n_feats"))
        .orderBy("doc_id")
    }),

    // X2+X4: legacy named-feature battery (predict_language.js families):
    // word-boundary features via the broadcast matcher (matchWordBits),
    // the import-shape multiline regexes, a combined feature
    // (HasFromImport = word(from) AND word(import), js:166), and line
    // predicates — over deterministically structure-injected text so both
    // branches of every predicate occur.
    "q41_named_features" -> ((s, dir) => {
      import graft.functions.StructuralPredicates._
      val words = Array("table", "scan", "from", "import", "the")
      val bc = s.sparkContext.broadcast(graft.text.TokenMatcher(words))
      val wordBits = udf((text: String) => bc.value.matchWordBits(text))
      val injected =
        when(col("doc_id") % 5 === 0, concat(lit("from pkg import thing\n"), col("text")))
          .when(col("doc_id") % 5 === 1, concat(lit("import * as ns\n"), col("text")))
          .when(col("doc_id") % 5 === 2, concat(lit("    indented: # c\n"), col("text")))
          .when(col("doc_id") % 5 === 3, concat(lit("import 'mod'\n"), col("text")))
          .otherwise(col("text"))
      t(s, dir, "documents")
        // CR/CRLF -> LF before ANY feature family (the reference's own
        // pre-step, features.py:98): Java regex/trim and DuckDB RE2/rtrim
        // disagree about \r, so neither side may ever see one
        .withColumn("t2", regexp_replace(injected, "\\r\\n?", "\n"))
        .withColumn("wb", wordBits(col("t2")))
        .select(
          col("doc_id"),
          col("wb").getItem(0).as("w_table"),
          col("wb").getItem(1).as("w_scan"),
          (col("wb").getItem(2) && col("wb").getItem(3)).as("has_from_import"),
          hasFromImportOrderCol(col("t2")).as("re_from_import"),
          hasImportStarAsCol(col("t2")).as("re_import_star_as"),
          hasImportQuoteLineCol(col("t2")).as("re_import_quote"),
          hasIndentColonsCol(col("t2")).as("indent_colon"),
          hasLeadingIndentCol(col("t2"), 4).as("indent4"))
        .orderBy("doc_id")
    }),

    // the COMPLETE legacy named-feature catalog (~185 features,
    // predict_language.js:120-306) as one broadcast batch extractor:
    // three automaton passes + the regex set per row, never one scan per
    // feature. Input text gets a rotating language-flavored header so
    // every feature family fires on some rows.
    "q43_legacy_features" -> ((s, dir) => {
      val bc = s.sparkContext.broadcast(new graft.functions.LegacyFeatures.Extractor)
      val bitsUdf = udf((text: String) => bc.value.extract(text))
      val injected = legacySnippets.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (snippet, i)) =>
          when(col("doc_id") % legacySnippets.length === i,
            concat(lit(snippet), col("text"))).otherwise(acc)
      }
      val named = graft.functions.LegacyFeatures.names.zipWithIndex.map {
        case (n, i) => col("bits").getItem(i).as(n)
      }
      t(s, dir, "documents")
        // CR/CRLF -> LF before extraction — see q41's comment
        .withColumn("t2", regexp_replace(injected, "\\r\\n?", "\n"))
        .withColumn("bits", bitsUdf(col("t2")))
        .select(col("doc_id") +: named.toSeq: _*)
        .orderBy("doc_id")
    }),

    // the engine's PRIMARY langid (char-n-gram NB) under the driver gate:
    // deterministic fixture model (literal weights), per-doc argmax,
    // aggregated per predicted class. Oracle = literal pin (the mix64
    // bucket hash has no DuckDB restatement); per-row semantic parity vs a
    // naive recount is spec-gated in NGramFixtureSpec.
    "q40_ngram_langid" -> ((s, dir) => {
      val bc = s.sparkContext.broadcast(graft.langid.NGramLangId.tinyFixture)
      val predUdf = udf((text: String) => bc.value.predict(text))
      t(s, dir, "documents")
        .groupBy(predUdf(col("text")).as("pred")).agg(count(lit(1)).as("n"))
        .orderBy("pred")
    }),

    // multimodal binary columns: synth -> decode stub -> typed metadata agg
    "q30_mm_decode" -> ((s, dir) => {
      val blobs = graft.mm.Multimodal.synth(s, 2000)
      graft.mm.Multimodal.decodeAll(s, blobs).toDF()
        .groupBy("modality").agg(count(lit(1)).as("n"),
          sum(col("width").cast("long")).as("sum_w"),
          sum(col("durationMs").cast("long")).as("sum_dur"),
          sum(col("valid").cast("long")).as("n_valid"))
        .orderBy("modality")
    }),

    // REAL image codec under the gate: deterministic grayscale PNGs are
    // encoded AND decoded distributed via the JDK's javax.imageio; PNG is
    // lossless, so the decoded pixel sum is restated as pure arithmetic
    // in the oracle — this gates an actual codec roundtrip, not plumbing
    "q53_mm_image_roundtrip" -> ((s, dir) =>
      graft.mm.Multimodal.decodeImages(s, graft.mm.Multimodal.synthPngs(s, 200))
        .toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("gray_sum"), col("valid"))
        .orderBy("media_id")),

    // REAL frame sampling under the gate: every 2nd frame of deterministic
    // animated GIFs, written AND decoded distributed via javax.imageio;
    // indices pass through the gray palette unchanged, so per-frame pixel
    // sums are again pure arithmetic in the oracle
    "q54_mm_frame_sample" -> ((s, dir) =>
      graft.mm.Multimodal.frameSampleAll(s, graft.mm.Multimodal.synthGifs(s, 60), 2)
        .toDF()
        .orderBy("media_id", "frame_idx")),

    // S4 LITERAL Arrow IPC scan: the documents table is round-tripped
    // through .arrow files (distributed one-file-per-partition write, then
    // a distributed IPC read) and aggregated — the oracle aggregates the
    // parquet twin, so the gate proves format fidelity, not just plumbing.
    "q46_arrow_scan" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_arrow_q46").toString
      graft.sources.ArrowCorpus.write(t(s, dir, "documents"), tmp)
      // the fixture is read lazily, so it can't be deleted here — register
      // JVM-exit cleanup so repeated Verify/Bench runs don't grow /tmp
      locally {
        val d = new java.io.File(tmp)
        d.deleteOnExit()
        Option(d.listFiles()).foreach(_.foreach(_.deleteOnExit()))
      }
      graft.sources.ArrowCorpus.read(s, tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),

    // Bucketed co-located join: both sides pre-bucketed by the join key
    // (one-time shuffle at write), then the join plans as a SortMergeJoin
    // over co-located sorted buckets with ZERO exchanges (BucketedSpec
    // asserts the plan) — the strategy for repeated fact-fact joins at
    // 100 TB. The gate checks result parity vs a plain re-shuffled join.
    // The bucketed builds are fingerprint-cached (keyed on the source
    // parquet files), so repeat Verify/Bench runs time the zero-exchange
    // READ path the layout exists for, not the one-time write.
    "q48_bucketed_join" -> ((s, dir) => {
      graft.etl.Bucketed.writeBucketedCached(
        t(s, dir, "orders").select("o_custkey", "o_totalprice"),
        "graft_q48_orders", "o_custkey", nBuckets = 16,
        fingerprint = pathFingerprint(s, s"$dir/orders.parquet"))
      graft.etl.Bucketed.writeBucketedCached(
        t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "graft_q48_customer", "o_custkey", nBuckets = 16,
        fingerprint = pathFingerprint(s, s"$dir/customer.parquet"))
      graft.etl.Bucketed.coLocatedJoin(s, "graft_q48_orders", "graft_q48_customer", "o_custkey")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("c_nationkey")
    }),

    // P5 external-predictor harness: every document is piped through a
    // real subprocess (one per partition, JSON-lines lockstep protocol —
    // the reference's baseline-comparator idiom) and the response is
    // checked byte-for-byte against the request Spark-side; the oracle
    // pins echo_ok=true for every row. /bin/cat is the deterministic
    // stand-in predictor (no Node/hljs in this sandbox).
    "q47_external_predictor" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.ExternalProcess
      val ds = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      ExternalProcess.mapWithProcess(ds, Seq("/bin/cat"))
        .map { case (id, text, resp) =>
          (id, resp == s"""{"id":$id,"text":"${ExternalProcess.jsonEscape(text)}"}""")
        }
        .toDF("doc_id", "echo_ok")
        .orderBy("doc_id")
    }),
  )

  def oracleSql: Map[String, String] = {
    // non-negative 32-bit value, so plain % is safe (DuckDB has no pmod)
    val md5bucket =
      "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100)"
    val letterCountSql = "(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))"
    val digitCountSql = "(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
    val wsCountSql = "(length(text) - length(regexp_replace(text, '[\\s]', '', 'g')))"
    val punctCountSql = s"(length(text) - $letterCountSql - $digitCountSql - $wsCountSql)"
    val lineCountSql = "len(string_split(text, chr(10)))"
    val fpSql = "md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    val tokSql = "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
    val junkSql =
      s"""(length(text) < 75 OR length(text) > 50000 OR $lineCountSql > 100
         | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END) < 0.01
         | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END) > 0.9
         | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $punctCountSql / CAST(length(text) AS DOUBLE) END) < 0.01
         | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $punctCountSql / CAST(length(text) AS DOUBLE) END) > 0.4
         | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $digitCountSql / CAST(length(text) AS DOUBLE) END) > 0.5)""".stripMargin
    // gopherPlanted's CASE chain + the Gopher signal battery (shared by
    // q75/q79): integer counts, one double division per ratio — mirrors
    // quality/GopherRules.scala expression for expression
    val gopherPlantedSql =
      """p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 2 THEN t3 || ' and that have with to be of' ELSE t3 END AS t2
        |  FROM (SELECT doc_id, lang,
        |          CASE WHEN doc_id % 8 = 1 THEN tx || chr(10) || 'wait for more...' || chr(10) || 'not done' ELSE tx END AS t3
        |        FROM (SELECT doc_id, lang,
        |                CASE WHEN doc_id % 9 = 0 THEN t1 || ' ## ## #' ELSE t1 END AS tx
        |              FROM (SELECT doc_id, lang,
        |                      CASE WHEN doc_id % 6 = 0
        |                        THEN text || chr(10) || '- first bullet item' || chr(10) || '* second bullet item'
        |                        ELSE text END AS t1
        |                    FROM documents))))""".stripMargin
    val gopherSignalsSql =
      """arr AS (
        |  SELECT doc_id, lang, t2,
        |    list_filter(regexp_split_to_array(t2, '\s+'), x -> x <> '') AS ws,
        |    list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls
        |  FROM p),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)
        |      END AS DOUBLE) AS mean_word_len,
        |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
        |      ELSE ((len(t2) - len(replace(t2, '#', ''))) / 1.0) / CAST(len(ws) AS DOUBLE)
        |      END AS DOUBLE) AS hash_word_ratio,
        |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
        |      ELSE ((len(t2) - len(replace(t2, '...', ''))) / 3.0) / CAST(len(ws) AS DOUBLE)
        |      END AS DOUBLE) AS ellipsis_word_ratio,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(ls, x -> starts_with(x, '- ') OR starts_with(x, '* ') OR starts_with(x, '•'))) AS DOUBLE)
        |           / CAST(len(ls) AS DOUBLE) END AS DOUBLE) AS bullet_line_frac,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(ls, x -> x LIKE '%...')) AS DOUBLE)
        |           / CAST(len(ls) AS DOUBLE) END AS DOUBLE) AS ellipsis_line_frac,
        |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |           / CAST(len(ws) AS DOUBLE) END AS DOUBLE) AS alpha_word_frac,
        |    CAST(len(list_intersect(list_distinct(list_transform(ws, w -> lower(w))),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
        |  FROM arr),
        |k AS (
        |  SELECT *,
        |    CAST((n_words BETWEEN 50 AND 100000
        |      AND mean_word_len BETWEEN 3.0 AND 10.0
        |      AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
        |      AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        |      AND alpha_word_frac >= 0.8 AND stopword_hits >= 2) AS INTEGER) AS keep
        |  FROM m)""".stripMargin
    // decontamination restated on word-shingle STRINGS (Spark side uses
    // 64-bit hashes of the same shingles — equal iff strings equal):
    // survivors are docs whose 8-gram set misses every benchmark 8-gram.
    // One oracle for every execution path (q55 / q57 / q71)
    val decontaminateSql =
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN len(ws) >= 8 THEN
        |      list_distinct(list_transform(generate_series(1, len(ws) - 7),
        |        i -> array_to_string(ws[i:i+7], ' ')))
        |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
        |     ELSE [] END) AS s
        |  FROM d),
        |bench AS (SELECT ws[6:21] AS bw FROM d WHERE doc_id % 37 = 0 AND len(ws) >= 21),
        |bg AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(bw) - 7),
        |    i -> array_to_string(bw[i:i+7], ' '))) AS g FROM bench))
        |SELECT lang, count(*) AS n
        |FROM sh, (SELECT list(g) AS bl FROM bg) b
        |WHERE len(list_intersect(s, b.bl)) = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin
    // boilerplate lines: same planted footer, doc-frequency >= 50 set,
    // per-doc rebuild; the rewrite drops blank lines by construction
    // in BOTH engines (nonempty-line arrays rejoined). One oracle for
    // both tiers (q66 join / q67 broadcast)
    val boilerplateSql =
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || chr(10) || 'Subscribe to our newsletter today.'
        |      ELSE text END AS t2
        |  FROM documents),
        |l AS (SELECT doc_id,
        |        list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls
        |      FROM p),
        |e AS (SELECT unnest(list_distinct(ls)) AS line FROM l),
        |freq AS (SELECT line FROM
        |          (SELECT line, count(*) AS df FROM e GROUP BY 1) WHERE df >= 50),
        |fl AS (SELECT coalesce(list(line), []) AS f FROM freq)
        |SELECT doc_id,
        |  CAST(len(coalesce(array_to_string(kept, chr(10)), '')) AS BIGINT) AS n_chars_clean,
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
        |FROM (SELECT doc_id, list_filter(ls, x -> NOT list_contains(f, x)) AS kept
        |      FROM l CROSS JOIN fl)
        |ORDER BY doc_id""".stripMargin
    Map(
      "q1_agg" ->
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1 ORDER BY 1",
      "q2_pricing_agg" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sum_price, count(*) AS n
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q3_join_agg" ->
        """SELECT r_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS revenue, count(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q4_window_head" ->
        """SELECT user_id, rn, event_id, event_type FROM (
          | SELECT user_id, event_id, event_type,
          |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          | FROM events) WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin,
      "q5_topn" ->
        """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
          |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin,
      "q6_union_distinct" ->
        """SELECT nationkey FROM (
          |SELECT c_nationkey AS nationkey FROM customer
          |UNION SELECT s_nationkey AS nationkey FROM supplier) ORDER BY 1""".stripMargin,
      "q7_filter_isin" ->
        """SELECT lang, source, count(*) AS n FROM documents
          |WHERE lang IN ('en','de','fr') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q8_project_rename" ->
        """SELECT p_partkey AS part_key, upper(p_brand) AS brand_u,
          | CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price
          |FROM part WHERE p_size > 20 ORDER BY part_key""".stripMargin,
      "q9_countdistinct" ->
        """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      "q10_value_counts" ->
        "SELECT lang, count(*) AS n FROM documents GROUP BY 1 ORDER BY 1",
      "q11_det_split" ->
        s"""SELECT lang, $md5bucket < 20 AS is_val, count(*) AS n
           |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q12_dedup_exact" ->
        // global dedup keeps the min-id row per fingerprint, so a text
        // duplicated across languages counts once, under the min-id's lang
        s"""SELECT lang, count(*) AS n FROM (
           |  SELECT arg_min(lang, doc_id) AS lang FROM documents GROUP BY $fpSql
           |) GROUP BY 1 ORDER BY 1""".stripMargin,
      // quantile_cont shares percentile's linear-interpolation definition;
      // dyadic fractions on integer lengths -> bit-exact doubles both sides
      "q52_quality_percentiles" ->
        """SELECT source,
          | quantile_cont(CAST(length(text) AS DOUBLE), 0.25) AS p25,
          | quantile_cont(CAST(length(text) AS DOUBLE), 0.5) AS p50,
          | quantile_cont(CAST(length(text) AS DOUBLE), 0.75) AS p75
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // count-desc, key-asc is a total order -> stable LIMIT both engines
      "q60_heavy_hitters" ->
        """SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY 1 ORDER BY n DESC, key LIMIT 20""".stripMargin,
      // reliability: identical conf construction, quantile_cont cutoffs
      // (bit-equal to Spark's percentile), integer-ratio accuracy; only
      // mean_conf is rounded (sum order differs across engines)
      "q68_reliability" ->
        s"""WITH s AS (
           |  SELECT CASE WHEN length(text) = 0 THEN 0.0
           |           ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END AS conf,
           |         CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END AS correct
           |  FROM documents),
           |c AS (SELECT quantile_cont(conf, 0.25) AS c1, quantile_cont(conf, 0.5) AS c2,
           |             quantile_cont(conf, 0.75) AS c3 FROM s),
           |b AS (SELECT CASE WHEN conf <= c1 THEN 0 WHEN conf <= c2 THEN 1
           |               WHEN conf <= c3 THEN 2 ELSE 3 END AS bin, conf, correct
           |      FROM s CROSS JOIN c)
           |SELECT bin, CAST(count(*) AS BIGINT) AS n,
           |  round(avg(conf), 6) AS mean_conf6,
           |  CAST(CAST(sum(correct) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
      "q67_boilerplate_broadcast" -> boilerplateSql,
      "q66_boilerplate_lines" -> boilerplateSql,
      // C4 line filter: same planted construction, same line predicate,
      // md5 of the rejoined survivors
      "q65_c4_line_filter" ->
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || 'Lorem Ipsum dolor sit.'
          |         WHEN doc_id % 2 = 0 THEN text
          |           || chr(10) || 'This is a good sentence.'
          |           || chr(10) || 'Please enable javascript to continue.'
          |           || chr(10) || 'short.'
          |           || chr(10) || 'template braces { are here.'
          |         ELSE text END AS t2
          |  FROM documents),
          |f AS (
          |  SELECT doc_id,
          |    list_filter(string_split(t2, chr(10)), x ->
          |      regexp_matches(x, '[.!?"]$')
          |      AND len(list_filter(string_split(regexp_replace(x, '\s+', ' ', 'g'), ' '),
          |                          w -> len(w) > 0)) >= 3
          |      AND NOT contains(lower(x), 'javascript')
          |      AND NOT contains(x, '{')) AS kept
          |  FROM p
          |  WHERE NOT contains(lower(t2), 'lorem ipsum'))
          |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
          |  -- array_to_string of an EMPTY list is NULL in DuckDB but ''
          |  -- in Spark's array_join: coalesce for parity
          |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
          |FROM f ORDER BY doc_id""".stripMargin,
      // top bigram: same overlapping-window count (list lambdas, O(W^2)
      // is fine as an oracle), integer count x chars then one division
      "q64_top_ngram" ->
        """WITH w AS (
          |  SELECT doc_id, text,
          |    list_filter(string_split(regexp_replace(text, '\s+', ' ', 'g'), ' '),
          |                x -> len(x) > 0) AS ws
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, text,
          |    list_transform(generate_series(1, len(ws) - 1),
          |                   i -> ws[i] || ' ' || ws[i + 1]) AS bg
          |  FROM w)
          |SELECT doc_id,
          |  CAST(CASE WHEN len(bg) = 0 OR len(text) = 0 THEN 0.0
          |    ELSE CAST(list_max(list_transform(list_distinct(bg),
          |           x -> len(list_filter(bg, y -> y = x)) * len(x))) AS DOUBLE)
          |         / CAST(len(text) AS DOUBLE)
          |  END AS DOUBLE) AS top_bigram_char_frac
          |FROM g ORDER BY doc_id""".stripMargin,
      // domain mix: integer token sums then single divisions (exact for
      // weight_prop); the temperature weight is rounded to 6
      "q63_domain_mix" ->
        s"""WITH per AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum($tokSql) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1)
           |SELECT source, n_docs, n_tokens,
           |  CAST(n_tokens AS DOUBLE) / CAST((SELECT sum(n_tokens) FROM per) AS DOUBLE) AS weight_prop,
           |  round(sqrt(CAST(n_tokens AS DOUBLE))
           |        / (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) FROM per), 6) AS weight_t05
           |FROM per ORDER BY source""".stripMargin,
      // temperature sampling: weights -> thresholds -> md5-bucket filter,
      // arithmetic order mirrored exactly ((300 * (pow/sumpow)) / n_docs,
      // then floor(x * 10000)); pow(x, 0.5) on BOTH sides (not sqrt) so
      // the last-ulp behavior has the best chance of agreeing — and the
      // floor boundary sits ~1e-12 from any threshold, far beyond ulp noise
      "q70_temperature_sample" ->
        s"""WITH per AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum($tokSql) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |thr AS (
           |  SELECT source,
           |    CAST(floor(least(1.0,
           |      (300.0 * (pow(CAST(n_tokens AS DOUBLE), 0.5)
           |        / (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) FROM per)))
           |      / CAST(n_docs AS DOUBLE)) * 10000) AS INTEGER) AS thr
           |  FROM per)
           |SELECT d.source, count(*) AS n
           |FROM documents d JOIN thr ON d.source = thr.source
           |WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000) < thr
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // repetition signals: identical planted-repetition construction,
      // integer counts/sums then ONE double division per signal (order
      // of operations mirrored for bit-equality)
      "q62_repetition" ->
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0
          |      THEN text || chr(10) || substr(text, 1, 30) || chr(10)
          |           || substr(text, 1, 30) || chr(10) || 'to be continued...'
          |      ELSE text END AS text2
          |  FROM documents),
          |l AS (SELECT doc_id,
          |        list_filter(string_split(text2, chr(10)), x -> len(x) > 0) AS ls
          |      FROM inj)
          |SELECT doc_id,
          |  CAST(len(ls) AS BIGINT) AS n_lines,
          |  CAST(CASE WHEN len(ls) = 0 THEN 0.0
          |    ELSE 1.0 - (CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE))
          |    END AS DOUBLE) AS dup_line_frac,
          |  CAST(CASE WHEN len(ls) = 0 THEN 0.0
          |    ELSE CAST(list_sum(list_transform(ls, x ->
          |           CASE WHEN len(list_filter(ls, y -> y = x)) > 1 THEN len(x) ELSE 0 END)) AS DOUBLE)
          |         / CAST(list_sum(list_transform(ls, x -> len(x))) AS DOUBLE)
          |    END AS DOUBLE) AS dup_line_char_frac,
          |  CAST(CASE WHEN len(ls) = 0 THEN 0.0
          |    ELSE CAST(len(list_filter(ls, x -> x LIKE '%...')) AS DOUBLE) / CAST(len(ls) AS DOUBLE)
          |    END AS DOUBLE) AS ellipsis_line_frac
          |FROM l ORDER BY doc_id""".stripMargin,
      // compaction repacks files, never rows
      "q61_compaction" ->
        """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // layout changes row placement, never results: plain range query
      "q59_range_layout" ->
        """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents WHERE doc_id BETWEEN 50 AND 250
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // band filter over the q52 cutoffs; BETWEEN is inclusive both sides
      // in both engines, cutoffs are bit-exact dyadic doubles
      "q58_quantile_band" ->
        """WITH cuts AS (
          |  SELECT source,
          |    quantile_cont(CAST(length(text) AS DOUBLE), 0.25) AS lo,
          |    quantile_cont(CAST(length(text) AS DOUBLE), 0.75) AS hi
          |  FROM documents GROUP BY 1)
          |SELECT d.source, count(*) AS n, CAST(sum(length(d.text)) AS BIGINT) AS sum_len
          |FROM documents d JOIN cuts c ON d.source = c.source
          |WHERE CAST(length(d.text) AS DOUBLE) BETWEEN c.lo AND c.hi
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // chunk_id = floor(start_offset / budget) with start_offset = the
      // running token sum before this doc, same window both engines
      "q56_seq_packing" ->
        s"""SELECT source, CAST(floor(start_tok / 1000.0) AS BIGINT) AS chunk_id,
           | count(*) AS n, CAST(sum(tok) AS BIGINT) AS toks
           |FROM (SELECT source, tok,
           |        sum(tok) OVER (PARTITION BY source ORDER BY doc_id) - tok AS start_tok
           |      FROM (SELECT source, doc_id, $tokSql AS tok FROM documents))
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q45_token_budget" -> {
        val bpeRe = graft.functions.TextFunctions.BpeTokenRe.replace("'", "''")
        val stops = graft.functions.TextFunctions.Stopwords
          .map(s => s"'$s'").mkString("[", ",", "]")
        s"""SELECT source,
           | CAST(sum(len(regexp_extract_all(text, '$bpeRe'))) AS BIGINT) AS bpe_tokens,
           | CAST(sum($tokSql) AS BIGINT) AS ws_tokens,
           | CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
           |   len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
           |       w -> list_contains($stops, w))) END) AS BIGINT) AS stopword_hits,
           | count(*) AS n
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
      },
      "q13_token_stats" ->
        s"""SELECT source, CAST(sum($tokSql) AS BIGINT) AS n_tokens,
           | CAST(sum(n_chars) AS BIGINT) AS n_chars
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q14_charclass" ->
        s"""SELECT source, CAST(sum($letterCountSql) AS BIGINT) AS letters,
           | CAST(sum($digitCountSql) AS BIGINT) AS digits,
           | CAST(sum($wsCountSql) AS BIGINT) AS ws,
           | CAST(sum($punctCountSql) AS BIGINT) AS punct
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q15_junk_filter" ->
        s"SELECT lang, NOT $junkSql AS keep, count(*) AS n FROM documents GROUP BY 1, 2 ORDER BY 1, 2",
      "q16_fingerprint" ->
        s"SELECT doc_id, $fpSql AS fp FROM documents ORDER BY doc_id",
      "q17_quality" ->
        s"""SELECT source, CAST(sum(
           |  CAST((CASE WHEN length(text) BETWEEN 75 AND 50000 THEN 1.0 ELSE 0.0 END
           |   + CASE WHEN (CASE WHEN length(text)=0 THEN 0.0 ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END) BETWEEN 0.01 AND 0.9 THEN 1.0 ELSE 0.0 END
           |   + CASE WHEN (CASE WHEN length(text)=0 THEN 0.0 ELSE $punctCountSql / CAST(length(text) AS DOUBLE) END) <= 0.4 THEN 1.0 ELSE 0.0 END
           |   + CASE WHEN (CASE WHEN length(text)=0 THEN 0.0 ELSE $digitCountSql / CAST(length(text) AS DOUBLE) END) <= 0.5 THEN 1.0 ELSE 0.0 END) AS BIGINT)
           | ) AS BIGINT) AS ok_components, count(*) AS n
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q18_ann_brute" ->
        """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
          |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos6
          |FROM embeddings WHERE vec_id <> 0
          |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
          |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
          |LIMIT 10""".stripMargin,
      // identical quantization restated in SQL: scale = maxAbs/127 (same
      // division order), floor(x/scale + 0.5) codes, dot/(|a||b|) in
      // double — all integer-valued math, so bit-exact across engines
      "q50_ann_int8" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |        list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS sc
          |      FROM e),
          |c AS (SELECT vec_id,
          |        CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
          |             ELSE list_transform(v, x -> floor(x / sc + 0.5)) END AS cv
          |      FROM s),
          |qv AS (SELECT cv FROM c WHERE vec_id = 0),
          |r AS (SELECT vec_id,
          |        CASE WHEN list_inner_product(cv, cv) = 0
          |               OR (SELECT list_inner_product(cv, cv) FROM qv) = 0 THEN -1.0
          |             ELSE list_inner_product(cv, (SELECT cv FROM qv)) /
          |                  (sqrt(list_inner_product(cv, cv)) *
          |                   sqrt((SELECT list_inner_product(cv, cv) FROM qv))) END AS icos
          |      FROM c WHERE vec_id <> 0)
          |SELECT vec_id, round(icos, 6) AS icos6 FROM r
          |ORDER BY icos DESC, vec_id LIMIT 10""".stripMargin,
      "q22_det_sample" ->
        s"""SELECT lang, count(*) AS n FROM documents
           |WHERE $md5bucket < 30 GROUP BY 1 ORDER BY 1""".stripMargin,
      "q23_feature_bits" ->
        """SELECT doc_id, contains(text, 'the') AS has_the, contains(text, 'and') AS has_and,
          | contains(text, 'data') AS has_data, contains(text, 'query') AS has_query,
          | contains(text, 'spark') AS has_spark
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q24_langid_tiny" -> tinyModelOracleSql,
      "q25_label_remap" ->
        """SELECT CASE lang WHEN 'en' THEN 'germanic' WHEN 'de' THEN 'germanic'
          | WHEN 'fr' THEN 'romance' WHEN 'es' THEN 'romance'
          | WHEN 'zh' THEN 'sinitic' END AS family, count(*) AS n
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q26_offset_limit" ->
        "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 50 OFFSET 100",
      // NFC normalization: identical decomposed planting via chr()
      // (U+0301/U+030A/U+0308 combining marks), DuckDB's nfc_normalize
      // as the reference kernel, md5 byte parity on the composed text
      "q94_nfc_normalize" ->
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 6 = 1
          |      THEN text || ' cafe' || chr(769) || ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
          |      ELSE text END AS t2
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(length(t2) AS INTEGER) AS n_before,
          |  CAST(length(nfc_normalize(t2)) AS INTEGER) AS n_after,
          |  md5(nfc_normalize(t2)) AS norm_md5
          |FROM p ORDER BY doc_id""".stripMargin,
      // language-conditional stopword hits: identical planting, one CASE
      // over the per-lang tables, distinct lowered words both sides
      "q97_multilingual_stopwords" ->
        """WITH p AS (
          |  SELECT doc_id, lang,
          |    CASE WHEN doc_id % 5 = 4 THEN p1 || ' the of and' ELSE p1 END AS t2
          |  FROM (SELECT doc_id, lang,
          |          CASE WHEN doc_id % 5 = 2 THEN text ||
          |            CASE lang WHEN 'en' THEN ' the of and'
          |              WHEN 'de' THEN ' der die und'
          |              WHEN 'fr' THEN ' le la et'
          |              WHEN 'es' THEN ' el la de'
          |              WHEN 'zh' THEN ' 的 了 是' ELSE '' END
          |          ELSE text END AS p1
          |        FROM documents)),
          |w AS (SELECT doc_id, lang,
          |    list_distinct(list_transform(
          |      list_filter(regexp_split_to_array(t2, '\s+'), x -> x <> ''),
          |      x -> lower(x))) AS ws
          |  FROM p),
          |h AS (SELECT doc_id, lang,
          |    CAST(CASE lang
          |      WHEN 'de' THEN len(list_intersect(ws, ['der','die','das','und','ist','von','mit','nicht']))
          |      WHEN 'en' THEN len(list_intersect(ws, ['the','be','to','of','and','that','have','with']))
          |      WHEN 'es' THEN len(list_intersect(ws, ['el','la','de','que','y','los','con','para']))
          |      WHEN 'fr' THEN len(list_intersect(ws, ['le','la','et','les','des','que','pour','dans']))
          |      WHEN 'zh' THEN len(list_intersect(ws, ['的','了','是','在','我','有','和','不']))
          |      ELSE 0 END AS BIGINT) AS stopword_hits
          |  FROM w)
          |SELECT doc_id, lang, stopword_hits,
          |  CAST(stopword_hits >= 2 AS INTEGER) AS keep
          |FROM h ORDER BY doc_id""".stripMargin,
      // q27's confusion arithmetic with an extra resample key: b-exploded
      // rows, md5(key#b) half-subsample, per-(b, cls) counts, one
      // division — left-assoc double arithmetic mirrors eval/F1.scala
      "q93_f1_stability" -> {
        val bucket10 =
          "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10)"
        val sel = "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || " +
          "CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 2)"
        s"""WITH p AS (
           |  SELECT doc_id, lang AS label,
           |    CASE WHEN $bucket10 = 0 THEN 'en' ELSE lang END AS pred
           |  FROM documents),
           |e AS (SELECT p.*, b FROM p
           |      CROSS JOIN (SELECT unnest(generate_series(0, 24)) AS b)),
           |s AS (SELECT * FROM e WHERE $sel = 0),
           |cl AS (SELECT DISTINCT b, label AS cls FROM s
           |       UNION SELECT DISTINCT b, pred FROM s),
           |tpt AS (SELECT b, label AS cls, count(*) AS tp FROM s WHERE label = pred GROUP BY 1, 2),
           |fpt AS (SELECT b, pred AS cls, count(*) AS fp FROM s WHERE label <> pred GROUP BY 1, 2),
           |fnt AS (SELECT b, label AS cls, count(*) AS fn FROM s WHERE label <> pred GROUP BY 1, 2)
           |SELECT cl.b AS b, cl.cls AS cls,
           |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
           |  CAST(coalesce(fp, 0) AS BIGINT) AS fp,
           |  CAST(coalesce(fn, 0) AS BIGINT) AS fn,
           |  CAST(CASE WHEN coalesce(tp, 0) * 2 + coalesce(fp, 0) + coalesce(fn, 0) = 0 THEN 0.0
           |    ELSE 2.0 * coalesce(tp, 0) / (2.0 * coalesce(tp, 0) + coalesce(fp, 0) + coalesce(fn, 0))
           |    END AS DOUBLE) AS f1
           |FROM cl LEFT JOIN tpt ON cl.b = tpt.b AND cl.cls = tpt.cls
           |        LEFT JOIN fpt ON cl.b = fpt.b AND cl.cls = fpt.cls
           |        LEFT JOIN fnt ON cl.b = fnt.b AND cl.cls = fnt.cls
           |ORDER BY b, cls""".stripMargin
      },
      "q27_macro_f1" -> {
        val bucket10 =
          "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10)"
        s"""WITH p AS (
           |  SELECT lang AS label,
           |    CASE WHEN $bucket10 = 0 THEN 'en' ELSE lang END AS pred
           |  FROM documents),
           |cl AS (SELECT DISTINCT label AS cls FROM p UNION SELECT DISTINCT pred FROM p),
           |tpt AS (SELECT label AS cls, count(*) AS tp FROM p WHERE label = pred GROUP BY 1),
           |fpt AS (SELECT pred AS cls, count(*) AS fp FROM p WHERE label <> pred GROUP BY 1),
           |fnt AS (SELECT label AS cls, count(*) AS fn FROM p WHERE label <> pred GROUP BY 1)
           |SELECT cl.cls, coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, coalesce(fn, 0) AS fn,
           | CASE WHEN coalesce(tp,0)*2 + coalesce(fp,0) + coalesce(fn,0) = 0 THEN 0.0
           |  ELSE coalesce(tp,0) * 2.0 / (coalesce(tp,0)*2 + coalesce(fp,0) + coalesce(fn,0)) END AS f1
           |FROM cl LEFT JOIN tpt USING (cls) LEFT JOIN fpt USING (cls) LEFT JOIN fnt USING (cls)
           |ORDER BY cls""".stripMargin
      },
      "q31_feature_occurrence" ->
        """SELECT lang,
          | CAST(sum(CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END) AS BIGINT) AS n_the,
          | CAST(sum(CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END) AS BIGINT) AS n_data,
          | CAST(sum(CASE WHEN contains(text, 'query') THEN 1 ELSE 0 END) AS BIGINT) AS n_query,
          | count(*) AS n_samples
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q32_split_generator" ->
        // chunk count from the split semantics: full chunks close at every
        // limit-th non-blank line; a trailing partial (last line of these
        // docs is non-blank, no trailing blank lines) exists iff E%3>0;
        // the splitter then merges the last chunk into the previous one.
        """WITH e AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) AS ne
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(CASE WHEN (ne // 3 + CASE WHEN ne % 3 > 0 THEN 1 ELSE 0 END) >= 2
          |       THEN (ne // 3 + CASE WHEN ne % 3 > 0 THEN 1 ELSE 0 END) - 1
          |       ELSE 1 END AS BIGINT) AS n_chunks
          |FROM e ORDER BY doc_id""".stripMargin,
      "q33_structural" ->
        """SELECT doc_id,
          | regexp_matches(text, '\$[A-Za-z_]') AS has_dollar,
          | regexp_matches(text, '(^|[^A-Za-z0-9_])f[''"]') AS has_fstring,
          | (len(list_filter(string_split(text, chr(10)),
          |    x -> starts_with(ltrim(x), 'agg'))) > 0) AS line_agg
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q34_ngram_jaccard" ->
        """WITH sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          |        FROM documents))
          |SELECT a.doc_id AS id_a,
          |  round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 1.0
          |   ELSE len(list_intersect(list_distinct(a.s), list_distinct(b.s)))
          |        / len(list_distinct(list_concat(a.s, b.s))) END, 6) AS j6
          |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
          |ORDER BY id_a""".stripMargin,
      "q36_date_filter" ->
        """SELECT l_returnflag, count(*) AS n,
          | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q37_json_extract" ->
        """SELECT event_type,
          | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          | count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      "q35_global_stats" ->
        s"""SELECT count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS total_chars,
           | CAST(sum(length(text)) AS DOUBLE) / count(*) AS mean_len,
           | CAST(sum($tokSql) AS BIGINT) AS total_tokens
           |FROM documents""".stripMargin,
      "q28_sessionize" ->
        """WITH g AS (
          |  SELECT user_id, ts, event_id, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR (epoch(ts) - epoch(lag(ts) OVER w)) * 1000 > 1800000
          |    THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (
          |  SELECT user_id, ts, event_id,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM g)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
          |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // exact ground truth for the LSH pair-finder: ALL-PAIRS word-3-shingle
      // Jaccard >= 0.5 over the planted-dup table (id < 1e6 base rows plus
      // the doc_id%7 mutated copies). LSH candidate recall is probabilistic
      // in general (pair-miss ~(1-J^2)^16), but both sides are DETERMINISTIC
      // functions of the fixed sf0.01 corpus, where the banded candidates
      // were verified to cover every >=0.5 pair (106 pairs, zero set diff).
      "q19_minhash_dups" ->
        """WITH d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b, round(jac, 6) AS j6 FROM j
          |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,
      // simhash banding + hamming<=6 is a pure deterministic function of the
      // fixed word-hash mixing; the sf0.01 output (144 pairs) is pinned as a
      // literal table. Semantic gates (near-dup recall, hot-bucket cap) are
      // spec-tested in DedupSpec.
      "q20_simhash_dups" -> q20LiteralOracleSql,
      "q88_image_dup_pairs" -> q88LiteralOracleSql,
      "q89_audio_dup_pairs" -> q89LiteralOracleSql,
      "q90_video_dup_pairs" -> q90LiteralOracleSql,
      "q92_bpe_tokens" -> q92LiteralOracleSql,
      // LSH ANN restated in SQL: the seeded hyperplanes are inlined as
      // double literals, the signature/probe/rank pipeline recomputed by
      // DuckDB (real semantic oracle, not a pinned output).
      "q21_ann_lsh" -> lshOracleSql(nBits = 8, seed = 42L, dim = 64, probeHamming = 2, k = 10),
      // snippet ETL restated in SQL: same chunk assignment (close chunk at
      // every 5th non-blank line, merge trailing partial into the previous
      // chunk) and the same 8-condition junk rule over each chunk's text.
      // Scrub is identity on this comma-joined word-soup input.
      "q29_snippet_etl" ->
        """WITH f AS (
          |  SELECT doc_id,
          |    CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'Markdown' WHEN 1 THEN 'SQL'
          |         WHEN 2 THEN 'Python' ELSE 'HTML' END AS Language,
          |    string_split(replace(text, ' ', ', '), chr(10)) AS ls
          |  FROM documents),
          |l AS (
          |  SELECT doc_id, Language,
          |    unnest(list_transform(generate_series(1, len(ls)),
          |      j -> {'i': j, 'line': ls[j]})) AS u
          |  FROM f),
          |c AS (
          |  SELECT doc_id, Language, u.i AS i, u.line AS line,
          |    coalesce(sum(CASE WHEN trim(u.line) <> '' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY u.i
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5 AS chunk
          |  FROM l),
          |m AS (SELECT doc_id, max(chunk) + 1 AS nchunks FROM c GROUP BY 1),
          |g AS (
          |  SELECT c.doc_id, c.Language,
          |    CASE WHEN m.nchunks >= 2 THEN least(c.chunk, m.nchunks - 2) ELSE c.chunk END AS mchunk,
          |    string_agg(c.line, chr(10) ORDER BY c.i) AS ct
          |  FROM c JOIN m USING (doc_id)
          |  GROUP BY 1, 2, 3),
          |k AS (
          |  SELECT Language, ct,
          |   (length(ct) - length(regexp_replace(ct, '[A-Za-z]', '', 'g'))) AS lt,
          |   (length(ct) - length(regexp_replace(ct, '[0-9]', '', 'g'))) AS dg,
          |   (length(ct) - length(regexp_replace(ct, '[\s]', '', 'g'))) AS ws
          |  FROM g)
          |SELECT Language, count(*) AS n_chunks FROM k
          |WHERE NOT (
          |  length(ct) < 75 OR length(ct) > 50000
          |  OR len(string_split(ct, chr(10))) > 100
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE lt / CAST(length(ct) AS DOUBLE) END) < 0.01
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE lt / CAST(length(ct) AS DOUBLE) END) > 0.9
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE (length(ct) - lt - dg - ws) / CAST(length(ct) AS DOUBLE) END) < 0.01
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE (length(ct) - lt - dg - ws) / CAST(length(ct) AS DOUBLE) END) > 0.4
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE dg / CAST(length(ct) AS DOUBLE) END) > 0.5)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // fully deterministic synthetic blobs (seeded splitmix64 headers):
      // the aggregate is a constant — pinned as a literal table, values
      // independently recomputed (python replication of mix64) and equal.
      "q30_mm_decode" ->
        """SELECT modality, CAST(n AS BIGINT) AS n, CAST(sum_w AS BIGINT) AS sum_w,
          | CAST(sum_dur AS BIGINT) AS sum_dur, CAST(n_valid AS BIGINT) AS n_valid
          |FROM (VALUES ('audio', 667, 386493, 19371051, 667),
          |             ('image', 667, 387527, 18790507, 667),
          |             ('video', 666, 381411, 18183587, 666))
          | AS t(modality, n, sum_w, sum_dur, n_valid)
          |ORDER BY modality""".stripMargin,
      // the synthPng pattern pixel(x,y) = (x*7+y*13+id*31) mod 256 restated
      // as arithmetic over pixel coordinates (generate_series is INCLUSIVE
      // of its upper bound in DuckDB, hence the -1s)
      "q53_mm_image_roundtrip" ->
        """WITH imgs AS (
          |  SELECT i, 16 + i % 8 AS w, 16 + (i // 8) % 8 AS h
          |  FROM generate_series(0, 199) AS t(i)),
          |px AS (SELECT x FROM generate_series(0, 22) AS gx(x)),
          |py AS (SELECT y FROM generate_series(0, 22) AS gy(y))
          |SELECT i AS media_id, 'png' AS format,
          | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          | CAST(sum((x * 7 + y * 13 + i * 31) % 256) AS BIGINT) AS gray_sum,
          | TRUE AS valid
          |FROM imgs, px, py WHERE x < w AND y < h
          |GROUP BY i, w, h ORDER BY media_id""".stripMargin,
      // synthGif frame pattern (x*7 + y*13 + i*31 + f*17) mod 256 restated
      // over a (video x frame x pixel) grid; f % 2 = 0 is the everyN=2 sample
      "q54_mm_frame_sample" ->
        """WITH vids AS (
          |  SELECT i, 12 + i % 6 AS w, 10 + (i // 6) % 6 AS h, 3 + i % 5 AS nf
          |  FROM generate_series(0, 59) AS t(i)),
          |fr AS (SELECT f FROM generate_series(0, 7) AS gf(f)),
          |px AS (SELECT x FROM generate_series(0, 16) AS gx(x)),
          |py AS (SELECT y FROM generate_series(0, 14) AS gy(y))
          |SELECT i AS media_id, CAST(f AS INTEGER) AS frame_idx,
          | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          | CAST(sum((x * 7 + y * 13 + i * 31 + f * 17) % 256) AS BIGINT) AS gray_sum
          |FROM vids, fr, px, py
          |WHERE f < nf AND f % 2 = 0 AND x < w AND y < h
          |GROUP BY i, f, w, h ORDER BY media_id, frame_idx""".stripMargin,
      // IVF restated in SQL: same md5-ordered seed centroids, same squared-
      // L2 argmin assignment (first-index tie-break via list_position),
      // same 2-probe selection, same cosine ranking.
      "q38_ann_ivf" -> ivfOracleSql(nCentroids = 8, dim = 64, nProbe = 2, k = 10),
      // the FULL 746-token model restated in SQL (~2000 contains() terms,
      // generated): logit_c = 2.125*hits_c - 0.125*total_hits exactly (all
      // dyadic), argmax with first-class-wins ties like Scorer.argmax.
      "q39_full_model" -> fullModelOracleSql,
      // deterministic n-gram-langid aggregate pinned as a literal (values
      // independently recomputed in python incl. float32 accumulation
      // order); per-row parity is spec-gated in NGramFixtureSpec.
      "q40_ngram_langid" ->
        """SELECT pred, CAST(n AS BIGINT) AS n
          |FROM (VALUES ('alpha', 233), ('beta', 267)) AS t(pred, n)
          |ORDER BY pred""".stripMargin,
      // cosine dup pairs: same plane-literal signature join + the cosine
      // in the same double expression shape (dot / (normA * normB)).
      "q42_cosine_dups" -> {
        val sigExpr = sigExprSql(nBits = 4, seed = 42L, dim = 64)
        val cos =
          """(CASE WHEN list_inner_product(a.v, a.v) = 0.0 OR list_inner_product(b.v, b.v) = 0.0
            |  THEN -1.0
            |  ELSE list_inner_product(a.v, b.v) /
            |       (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) END)""".stripMargin
        // the engine caps hot buckets at 1000 rows (min-id kept); replicate
        // the cap here so both sides compute the SAME candidate set at any
        // scale, not just while every sf0.01 bucket happens to be < 1000
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |sig AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS s FROM e),
           |capped AS (SELECT vec_id, v, s FROM (
           |  SELECT vec_id, v, s,
           |         row_number() OVER (PARTITION BY s ORDER BY vec_id) AS bn
           |  FROM sig) WHERE bn <= 1000)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cos, 6) AS cos6
           |FROM capped a JOIN capped b ON a.s = b.s AND a.vec_id < b.vec_id
           |WHERE $cos >= 0.2
           |ORDER BY id_a, id_b""".stripMargin
      },
      // streaming first-arrival dedup over one AvailableNow batch == the
      // distinct fingerprint set (state is live for the whole replay)
      "q69_stream_dedup" ->
        """SELECT DISTINCT event_type || ':' || CAST(user_id % 100 AS VARCHAR) AS fp
          |FROM events ORDER BY fp""".stripMargin,
      // streaming windowed counts == batch GROUP BY over aligned 5-minute
      // windows (Complete mode emits every window)
      "q44_stream_windowed" ->
        """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w_start,
          | event_type, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // the full legacy catalog restated in SQL (generated per-feature:
      // word-boundary regexes, 'm'-flag regexes, list_filter line preds).
      "q43_legacy_features" -> legacyFeaturesOracleSql,
      // named-feature battery: word-boundary features as leftmost-scan
      // regexes (equivalent to hasWordIn's any-unflanked-occurrence loop),
      // import regexes with RE2's 'm' flag, line predicates as
      // list_filter over split lines.
      "q41_named_features" -> {
        def w(word: String) =
          s"regexp_matches(t2, '(^|[^A-Za-z0-9_])$word([^A-Za-z0-9_]|$$)')"
        s"""WITH f AS (
           |  SELECT doc_id,
           |    regexp_replace(CASE CAST(doc_id % 5 AS INTEGER)
           |      WHEN 0 THEN 'from pkg import thing' || chr(10) || text
           |      WHEN 1 THEN 'import * as ns' || chr(10) || text
           |      WHEN 2 THEN '    indented: # c' || chr(10) || text
           |      WHEN 3 THEN 'import ''mod''' || chr(10) || text
           |      ELSE text END, '\r\n?', chr(10), 'g') AS t2
           |  FROM documents)
           |SELECT doc_id,
           |  ${w("table")} AS w_table,
           |  ${w("scan")} AS w_scan,
           |  (${w("from")} AND ${w("import")}) AS has_from_import,
           |  regexp_matches(t2, '(?m)^\\s*from\\s+\\S+\\s+import\\b') AS re_from_import,
           |  regexp_matches(t2, '(?m)^\\s*import\\s+\\*\\s+as\\s+') AS re_import_star_as,
           |  regexp_matches(t2, '(?m)^\\s*import\\s+[''"]') AS re_import_quote,
           |  len(list_filter(string_split(t2, chr(10)),
           |    x -> length(rtrim(split_part(x, '#', 1))) > 0
           |         AND ends_with(rtrim(split_part(x, '#', 1)), ':'))) > 0 AS indent_colon,
           |  len(list_filter(string_split(t2, chr(10)),
           |    x -> trim(x) <> '' AND starts_with(x, '    '))) > 0 AS indent4
           |FROM f ORDER BY doc_id""".stripMargin
      },
      // arrow roundtrip must agree with the parquet twin exactly
      "q46_arrow_scan" ->
        """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // the real check is Spark-side (byte equality of subprocess echo vs
      // request); the oracle pins that every row round-tripped intact
      "q47_external_predictor" ->
        "SELECT doc_id, true AS echo_ok FROM documents ORDER BY doc_id",
      // connected components over the exact all-pairs near-dup truth
      // (same CTEs as q19), via recursive-CTE label spreading: every
      // reachable label reaches every node; min per node = min id in the
      // component — exactly the hash-min fixpoint the engine computes
      "q49_dedup_components" ->
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
          |  UNION ALL
          |  SELECT id_b AS a, id_a AS b FROM j WHERE jac >= 0.5),
          |cc AS (
          |  SELECT a AS node, a AS comp FROM e
          |  UNION
          |  SELECT e.b AS node, cc.comp AS comp FROM cc JOIN e ON e.a = cc.node)
          |SELECT node, CAST(min(comp) AS BIGINT) AS comp
          |FROM cc GROUP BY node ORDER BY node""".stripMargin,
      // end-to-end near-dup filter: survivors = docs that are not a
      // non-canonical member of any duplicate cluster (same closure CTEs
      // as q49, same sf0.01 recall pin)
      "q51_drop_near_dups" ->
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, text, lang FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text, lang
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
          |  UNION ALL
          |  SELECT id_b AS a, id_a AS b FROM j WHERE jac >= 0.5),
          |cc AS (
          |  SELECT a AS node, a AS comp FROM e
          |  UNION
          |  SELECT e.b AS node, cc.comp AS comp FROM cc JOIN e ON e.a = cc.node),
          |losers AS (
          |  SELECT node FROM (SELECT node, min(comp) AS comp FROM cc GROUP BY node)
          |  WHERE node <> comp)
          |SELECT lang, count(*) AS n FROM d
          |WHERE doc_id NOT IN (SELECT node FROM losers)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // q51's closure with the keep-best tail: the per-cluster winner is
      // arg_max over [length, -id] (max length, tie -> min id)
      "q95_drop_near_dups_best" ->
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, text, lang FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text, lang
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
          |  UNION ALL
          |  SELECT id_b AS a, id_a AS b FROM j WHERE jac >= 0.5),
          |cc AS (
          |  SELECT a AS node, a AS comp FROM e
          |  UNION
          |  SELECT e.b AS node, cc.comp AS comp FROM cc JOIN e ON e.a = cc.node),
          |m AS (SELECT node, min(comp) AS comp FROM cc GROUP BY node),
          |sc AS (SELECT m.node, m.comp, CAST(length(d.text) AS BIGINT) AS s
          |       FROM m JOIN d ON m.node = d.doc_id),
          |mx AS (SELECT comp, max(s) AS ms FROM sc GROUP BY comp),
          |w AS (SELECT sc.comp, min(sc.node) AS keep FROM sc
          |      JOIN mx ON sc.comp = mx.comp AND sc.s = mx.ms GROUP BY sc.comp),
          |losers AS (
          |  SELECT sc.node FROM sc JOIN w ON sc.comp = w.comp WHERE sc.node <> w.keep)
          |SELECT lang, count(*) AS n FROM d
          |WHERE doc_id NOT IN (SELECT node FROM losers)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q55_decontaminate" -> decontaminateSql,
      // contamination audit: distinct (id, gram) pairs both sides, one
      // gram join, two count-distincts per bench item; the q55 gram and
      // bench-window conventions verbatim
      "q86_contamination_report" ->
        """WITH d AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |dg AS (SELECT DISTINCT doc_id, g FROM (
          |  SELECT doc_id,
          |    unnest(CASE WHEN len(ws) >= 8 THEN
          |        list_distinct(list_transform(generate_series(1, len(ws) - 7),
          |          i -> array_to_string(ws[i:i+7], ' ')))
          |      WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |      ELSE [] END) AS g
          |  FROM d)),
          |bench AS (SELECT doc_id AS bench_id, ws[6:21] AS bw
          |      FROM d WHERE doc_id % 37 = 0 AND len(ws) >= 21),
          |bgr AS (SELECT bench_id,
          |        list_distinct(list_transform(generate_series(1, len(bw) - 7),
          |          i -> array_to_string(bw[i:i+7], ' '))) AS gs
          |      FROM bench),
          |bg AS (SELECT bench_id, unnest(gs) AS g FROM bgr),
          |h AS (SELECT bg.bench_id,
          |        CAST(count(DISTINCT dg.doc_id) AS BIGINT) AS n_docs,
          |        CAST(count(DISTINCT bg.g) AS BIGINT) AS n_grams_hit
          |      FROM bg JOIN dg ON bg.g = dg.g GROUP BY 1)
          |SELECT bgr.bench_id AS bench_id, CAST(len(bgr.gs) AS BIGINT) AS n_grams,
          |  CAST(coalesce(h.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
          |  CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs
          |FROM bgr LEFT JOIN h ON bgr.bench_id = h.bench_id
          |ORDER BY bench_id""".stripMargin,
      // split-leakage audit: q11's md5 split + q86's report machinery,
      // val grams vs train grams
      "q87_split_leakage" ->
        s"""WITH d AS (
           |  SELECT doc_id, $md5bucket AS bkt,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ws
           |  FROM documents),
           |g0 AS (SELECT doc_id, bkt,
           |    CASE WHEN len(ws) >= 8 THEN
           |        list_distinct(list_transform(generate_series(1, len(ws) - 7),
           |          i -> array_to_string(ws[i:i+7], ' ')))
           |      WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
           |      ELSE [] END AS gs
           |  FROM d),
           |tg AS (SELECT DISTINCT doc_id, g FROM (
           |  SELECT doc_id, unnest(gs) AS g FROM g0 WHERE bkt >= 20)),
           |v0 AS (SELECT doc_id AS val_id, gs FROM g0 WHERE bkt < 20),
           |vg AS (SELECT val_id, unnest(gs) AS g FROM v0),
           |h AS (SELECT vg.val_id,
           |        CAST(count(DISTINCT tg.doc_id) AS BIGINT) AS n_docs,
           |        CAST(count(DISTINCT vg.g) AS BIGINT) AS n_grams_hit
           |      FROM vg JOIN tg ON vg.g = tg.g GROUP BY 1)
           |SELECT v0.val_id AS val_id, CAST(len(v0.gs) AS BIGINT) AS n_grams,
           |  CAST(coalesce(h.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
           |  CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs
           |FROM v0 LEFT JOIN h ON v0.val_id = h.val_id
           |ORDER BY val_id""".stripMargin,
      // q55's semantics through the semi-join tier (q57) and through
      // `decontaminate`'s reroute past its cap (q71)
      "q57_decontaminate_join" -> decontaminateSql,
      "q71_decontaminate_bloom" -> decontaminateSql,
      // keep-first line dedup: position-aware explode (zipped unnests),
      // one window keeps the global first occurrence of every line,
      // docs rebuilt in line order (empty rebuilds coalesce to '')
      "q72_dedup_lines" ->
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0
          |      THEN text || chr(10) || 'Every third doc repeats this exact line.'
          |      ELSE text END AS t2
          |  FROM documents),
          |l AS (SELECT doc_id,
          |        list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls
          |      FROM p),
          |e AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ls))) AS pos,
          |        unnest(ls) AS line
          |      FROM l),
          |k AS (SELECT doc_id, pos, line,
          |        row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
          |      FROM e),
          |r AS (SELECT doc_id,
          |        array_to_string(list(line ORDER BY pos), chr(10)) AS clean
          |      FROM k WHERE rn = 1 GROUP BY doc_id)
          |SELECT p.doc_id,
          |  CAST(len(coalesce(clean, '')) AS BIGINT) AS n_chars_clean,
          |  md5(coalesce(clean, '')) AS clean_md5
          |FROM p LEFT JOIN r ON p.doc_id = r.doc_id
          |ORDER BY p.doc_id""".stripMargin,
      // paragraph keep-first: q72's machinery on \n{2,} units, rebuilt
      // with the canonical double-newline separator
      "q96_dedup_paragraphs" ->
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 8 = 5
          |      THEN p1 || chr(10) || chr(10) || chr(10) || 'Shared syndication footer paragraph.'
          |      ELSE p1 END AS t2
          |  FROM (SELECT doc_id,
          |          CASE WHEN doc_id % 4 = 0
          |            THEN text || chr(10) || chr(10) || 'Shared syndication footer paragraph.'
          |            ELSE text END AS p1
          |        FROM documents)),
          |l AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(t2, '\n{2,}'), x -> len(x) > 0) AS ps
          |      FROM p),
          |e AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ps))) AS pos,
          |        unnest(ps) AS para
          |      FROM l),
          |k AS (SELECT doc_id, pos, para,
          |        row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
          |      FROM e),
          |r AS (SELECT doc_id,
          |        array_to_string(list(para ORDER BY pos), chr(10) || chr(10)) AS clean
          |      FROM k WHERE rn = 1 GROUP BY doc_id)
          |SELECT p.doc_id,
          |  CAST(len(coalesce(clean, '')) AS BIGINT) AS n_chars_clean,
          |  md5(coalesce(clean, '')) AS clean_md5
          |FROM p LEFT JOIN r ON p.doc_id = r.doc_id
          |ORDER BY p.doc_id""".stripMargin,
      // SemDeDup: q38's deterministic centroid + assignment CTEs (same
      // squared-L2 expression, list_position first-min tie-break =
      // nearestCentroids' stable sort), q42's exact cosine expression
      // shape for the within-cluster drop decision
      "q73_semdedup" ->
        """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |cid AS (SELECT vec_id FROM embeddings
          |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
          |cent AS (SELECT list(v ORDER BY vec_id) AS cs FROM e
          |         WHERE vec_id IN (SELECT vec_id FROM cid)),
          |assign AS (SELECT vec_id, label, v, list_position(ds, list_min(ds)) AS cl FROM (
          |  SELECT vec_id, label, v,
          |    list_transform((SELECT cs FROM cent), c ->
          |      list_sum(list_transform(generate_series(1, 64), i -> (v[i]-c[i])*(v[i]-c[i])))) AS ds
          |  FROM e)),
          |dropped AS (
          |  SELECT DISTINCT b.vec_id
          |  FROM assign a JOIN assign b ON a.cl = b.cl AND a.vec_id < b.vec_id
          |  WHERE (CASE WHEN list_inner_product(a.v, a.v) = 0.0
          |                OR list_inner_product(b.v, b.v) = 0.0 THEN -1.0
          |         ELSE list_inner_product(a.v, b.v) /
          |              (sqrt(list_inner_product(a.v, a.v)) *
          |               sqrt(list_inner_product(b.v, b.v))) END) >= 0.2)
          |SELECT vec_id, label FROM e
          |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
          |ORDER BY vec_id""".stripMargin,
      // incremental dedup: exact all-CROSS-pairs word-3-shingle Jaccard
      // truth between the synthetic batch and the corpus (the q19 CTEs,
      // keyed batch x corpus instead of self-paired); survivors are batch
      // rows with no corpus partner at >= 0.5 (exact copies land at 1.0)
      "q74_incremental_dedup" ->
        """WITH batch AS (
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text, lang
          |  FROM documents WHERE doc_id % 7 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, text, lang
          |  FROM documents WHERE doc_id % 11 = 3
          |  UNION ALL
          |  SELECT doc_id + 3000000 AS doc_id,
          |    array_to_string(list_reverse(
          |      list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')), ' ') AS text,
          |    lang
          |  FROM documents WHERE doc_id % 13 = 5),
          |shb AS (
          |  SELECT doc_id, lang,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id, lang,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM batch)),
          |shc AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM documents)),
          |dropped AS (
          |  SELECT DISTINCT b.doc_id
          |  FROM shb b JOIN shc c ON
          |    (CASE WHEN len(b.s) = 0 AND len(c.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(b.s, c.s)) * 1.0 /
          |          (len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))) END) >= 0.5)
          |SELECT doc_id, lang FROM batch
          |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          |ORDER BY doc_id""".stripMargin,
      // Gopher signal battery: identical planting, integer counts then
      // one double division per ratio (expression-for-expression mirror
      // of quality/GopherRules.scala)
      "q75_gopher_rules" ->
        s"""WITH $gopherPlantedSql,
           |$gopherSignalsSql
           |SELECT doc_id, n_words, mean_word_len, hash_word_ratio,
           |  ellipsis_word_ratio, bullet_line_frac, alpha_word_frac,
           |  stopword_hits, keep
           |FROM k ORDER BY doc_id""".stripMargin,
      // z-order changes row placement, never results (the q59 stance)
      "q76_zorder_layout" ->
        """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents
          |WHERE n_chars BETWEEN 200 AND 500 AND doc_id BETWEEN 50 AND 350
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // duplicated-span coverage: zipped-unnest positions, HAVING >= 2
      // gram counts, the same closed-form lead() coverage window
      "q77_dup_span" ->
        """WITH b AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |base AS (SELECT doc_id, len(ws) AS n, ws FROM b),
          |gr AS (
          |  SELECT doc_id,
          |    unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
          |    unnest(list_transform(generate_series(1, len(ws) - 7),
          |      i -> array_to_string(ws[i:i+7], ' '))) AS g
          |  FROM base WHERE n >= 8),
          |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
          |hit AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
          |cov AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens FROM (
          |    SELECT doc_id,
          |      least(8, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
          |    FROM hit) GROUP BY doc_id),
          |j AS (SELECT base.doc_id, base.n, coalesce(cov.dup_tokens, 0) AS dup_tokens
          |      FROM base LEFT JOIN cov ON base.doc_id = cov.doc_id)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_words, dup_tokens,
          |  CAST(CASE WHEN n = 0 THEN 0.0
          |    ELSE CAST(dup_tokens AS DOUBLE) / CAST(n AS DOUBLE) END AS DOUBLE) AS dup_span_frac
          |FROM j ORDER BY doc_id""".stripMargin,
      // duplicated-span removal: q77's gram machinery (lowered grams over
      // original-case words), start flags joined back to every position,
      // coverage via max over RANGE [pos-7, pos], ordered string_agg
      // rebuild; md5 byte parity on the rebuilt text
      "q84_drop_dup_spans" ->
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 4 = 2
          |      THEN text || ' syndicated wire story reproduced verbatim across many outlets again today updated'
          |      ELSE text END AS t2
          |  FROM documents),
          |b AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(t2, '\s+'), x -> x <> '') AS ws
          |      FROM inj),
          |base AS (SELECT doc_id, len(ws) AS n, ws FROM b),
          |gr AS (
          |  SELECT doc_id,
          |    unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
          |    unnest(list_transform(generate_series(1, len(ws) - 7),
          |      i -> array_to_string(list_transform(ws[i:i+7], x -> lower(x)), ' '))) AS g
          |  FROM base WHERE n >= 8),
          |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
          |st AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ws))) - 1 AS pos,
          |        unnest(ws) AS w
          |      FROM base WHERE n >= 8),
          |hit AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
          |fl AS (SELECT st.doc_id, st.pos, st.w,
          |        CASE WHEN hit.pos IS NOT NULL THEN 1 ELSE 0 END AS s
          |      FROM st LEFT JOIN hit ON st.doc_id = hit.doc_id AND st.pos = hit.pos),
          |cv AS (SELECT doc_id, pos, w,
          |        max(s) OVER (PARTITION BY doc_id ORDER BY pos
          |          RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
          |      FROM fl),
          |k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nk,
          |        string_agg(w, ' ' ORDER BY pos) AS ct
          |      FROM cv WHERE cov = 0 GROUP BY 1)
          |SELECT base.doc_id AS doc_id, CAST(base.n AS BIGINT) AS n_words,
          |  CAST(CASE WHEN base.n < 8 THEN base.n ELSE coalesce(k.nk, 0) END AS BIGINT) AS n_kept,
          |  md5(CASE WHEN base.n < 8 THEN array_to_string(base.ws, ' ')
          |    ELSE coalesce(k.ct, '') END) AS clean_md5
          |FROM base LEFT JOIN k ON base.doc_id = k.doc_id
          |ORDER BY base.doc_id""".stripMargin,
      // sliding chunk layout: chunk count closed form, 1-based inclusive
      // list slices (40 elements per window, tail clamps), md5 parity
      "q91_chunk_sliding" ->
        """WITH b AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |n AS (SELECT doc_id, ws, len(ws) AS n FROM b WHERE len(ws) > 0),
          |c AS (SELECT doc_id, ws, n,
          |        CASE WHEN n <= 40 THEN 1
          |          ELSE CAST(ceil(CAST(n - 40 AS DOUBLE) / 30) AS INTEGER) + 1 END AS nc
          |      FROM n),
          |e AS (SELECT doc_id, ws, unnest(generate_series(0, nc - 1)) AS k FROM c),
          |ch AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
          |        ws[k*30 + 1 : k*30 + 40] AS chunk FROM e)
          |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS chunk_tokens,
          |  md5(array_to_string(chunk, ' ')) AS chunk_md5
          |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
      // exact tier of the dual-tier cardinality (sketch tier spec-gated)
      "q78_cardinality" ->
        """SELECT lang, CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // the streaming keep gate equals the batch restatement: same
      // planting, same signal battery, filter on keep
      "q79_stream_quality" ->
        s"""WITH $gopherPlantedSql,
           |$gopherSignalsSql
           |SELECT doc_id, lang FROM k WHERE keep = 1 ORDER BY doc_id""".stripMargin,
      // paragraph-granularity dup signals: identical planting, the q62
      // quadratic list-lambda restatement at paragraph units
      "q80_para_repetition" ->
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 3
          |      THEN p1 || chr(10) || chr(10) || 'repeated block'
          |           || chr(10) || chr(10) || chr(10) || 'repeated block'
          |      ELSE p1 END AS t2
          |  FROM (SELECT doc_id,
          |          CASE WHEN doc_id % 5 = 0
          |            THEN text || chr(10) || chr(10) || substr(text, 1, 40)
          |                 || chr(10) || chr(10) || substr(text, 1, 40)
          |            ELSE text END AS p1
          |        FROM documents)),
          |l AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(t2, '\n{2,}'), x -> len(x) > 0) AS ps
          |      FROM inj)
          |SELECT doc_id,
          |  CAST(len(ps) AS BIGINT) AS n_paras,
          |  CAST(CASE WHEN len(ps) = 0 THEN 0.0
          |    ELSE 1.0 - (CAST(len(list_distinct(ps)) AS DOUBLE) / CAST(len(ps) AS DOUBLE))
          |    END AS DOUBLE) AS dup_para_frac,
          |  CAST(CASE WHEN len(ps) = 0 THEN 0.0
          |    ELSE CAST(list_sum(list_transform(ps, x ->
          |           CASE WHEN len(list_filter(ps, y -> y = x)) > 1 THEN len(x) ELSE 0 END)) AS DOUBLE)
          |         / CAST(list_sum(list_transform(ps, x -> len(x))) AS DOUBLE)
          |    END AS DOUBLE) AS dup_para_char_frac
          |FROM l ORDER BY doc_id""".stripMargin,
      // quantized-bits unigram surprisal: bits(n) = binary digit count
      // minus one (integer-exact floor log2, no libm), integer sums, one
      // final division
      "q81_lm_score" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
          |  FROM documents),
          |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
          |s AS (SELECT doc_id,
          |        CAST(length(format('{:b}', (SELECT total FROM t))) - 1 AS BIGINT)
          |        - CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS bits
          |      FROM w JOIN c USING (word)),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(bits) AS BIGINT) AS sum_bits
          |      FROM s GROUP BY 1)
          |SELECT d.doc_id AS doc_id,
          |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(a.sum_bits, 0) AS BIGINT) AS sum_bits,
          |  CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
          |    ELSE CAST(a.sum_bits AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)
          |    END AS DOUBLE) AS mean_bits
          |FROM (SELECT doc_id FROM documents) d
          |LEFT JOIN a ON d.doc_id = a.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      // LM band split: q81's quantized scores -> integer milli-bits rate
      // -> per-lang exact quantile band [min, p75]; integer division both
      // sides, dyadic interpolation over integer-valued doubles
      "q83_lm_band" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
          |  FROM documents),
          |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
          |s AS (SELECT doc_id,
          |        CAST(length(format('{:b}', (SELECT total FROM t))) - 1 AS BIGINT)
          |        - CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS bits
          |      FROM w JOIN c USING (word)),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(bits) AS BIGINT) AS sum_bits
          |      FROM s GROUP BY 1),
          |sc AS (SELECT d.doc_id, d.lang,
          |        CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          |        CAST(coalesce(a.sum_bits, 0) AS BIGINT) AS sum_bits,
          |        CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
          |          ELSE (a.sum_bits * 1000) // a.n_tokens END AS BIGINT) AS milli_bits
          |      FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id),
          |cuts AS (SELECT lang,
          |        quantile_cont(CAST(milli_bits AS DOUBLE), 0.0) AS lo,
          |        quantile_cont(CAST(milli_bits AS DOUBLE), 0.75) AS hi
          |      FROM sc GROUP BY 1)
          |SELECT sc.doc_id AS doc_id, sc.lang AS lang, sc.n_tokens, sc.sum_bits, sc.milli_bits
          |FROM sc JOIN cuts ON sc.lang = cuts.lang
          |WHERE CAST(sc.milli_bits AS DOUBLE) BETWEEN cuts.lo AND cuts.hi
          |ORDER BY sc.doc_id""".stripMargin,
      // DSIR quantized log-likelihood ratio: two count CTEs (target 'de'
      // slice, raw corpus), per-token bits difference, integer sums;
      // unseen-in-target tokens take cnt 1 (bits 0) via the left join
      "q85_dsir_weights" ->
        """WITH w AS (
          |  SELECT doc_id, lang,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
          |  FROM documents),
          |ct AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w WHERE lang = 'de' GROUP BY 1),
          |cr AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
          |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ct),
          |tr AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cr),
          |s AS (SELECT w.doc_id,
          |        (CAST(length(format('{:b}', coalesce(ct.cnt, 1))) - 1 AS BIGINT)
          |         - CAST(length(format('{:b}', (SELECT total FROM tt))) - 1 AS BIGINT))
          |        - (CAST(length(format('{:b}', coalesce(cr.cnt, 1))) - 1 AS BIGINT)
          |           - CAST(length(format('{:b}', (SELECT total FROM tr))) - 1 AS BIGINT)) AS b
          |      FROM w LEFT JOIN ct ON w.word = ct.word
          |             LEFT JOIN cr ON w.word = cr.word),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(b) AS BIGINT) AS sum_bits_diff
          |      FROM s GROUP BY 1)
          |SELECT d.doc_id AS doc_id,
          |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(a.sum_bits_diff, 0) AS BIGINT) AS sum_bits_diff,
          |  CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
          |    ELSE CAST(a.sum_bits_diff AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)
          |    END AS DOUBLE) AS mean_bits_diff
          |FROM (SELECT doc_id FROM documents) d
          |LEFT JOIN a ON d.doc_id = a.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      // within-doc dup-6-gram char coverage: every window restated —
      // (id,pos) offsets + leads, (id,gram) counts, running-max interval
      // union ordered by start
      "q82_dup_ngram" ->
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 9 = 4 THEN p1 || ' zz zz zz zz zz zz zz zz' ELSE p1 END AS t2
          |  FROM (SELECT doc_id,
          |          CASE WHEN doc_id % 3 = 1
          |            THEN text || ' qq ww ee rr tt yy' || ' qq ww ee rr tt yy'
          |            ELSE text END AS p1
          |        FROM documents)),
          |b AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(lower(t2), '\s+'), x -> x <> '') AS ws
          |      FROM inj),
          |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
          |        CAST(CASE WHEN len(ws) = 0 THEN 0
          |          ELSE list_sum(list_transform(ws, w -> len(w))) + len(ws) - 1
          |          END AS BIGINT) AS n_join_chars, ws
          |      FROM b),
          |tok AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ws))) - 1 AS pos,
          |        unnest(ws) AS w
          |      FROM base WHERE n_words >= 6),
          |off AS (SELECT doc_id, pos, w, CAST(len(w) AS BIGINT) AS l,
          |        CAST(coalesce(sum(len(w) + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
          |      FROM tok),
          |g AS (SELECT doc_id, s,
          |        w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
          |          || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
          |          || ' ' || lead(w, 5) OVER win AS gram,
          |        lead(s, 5) OVER win + lead(l, 5) OVER win AS e,
          |        lead(w, 5) OVER win AS w5
          |      FROM off WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
          |d AS (SELECT doc_id, s, e FROM (
          |        SELECT doc_id, s, e, count(*) OVER (PARTITION BY doc_id, gram) AS cnt
          |        FROM g WHERE w5 IS NOT NULL)
          |      WHERE cnt >= 2),
          |u AS (SELECT doc_id, greatest(0, e - greatest(s,
          |        coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS cov
          |      FROM d),
          |cv AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS dup_chars FROM u GROUP BY 1)
          |SELECT base.doc_id AS doc_id, base.n_words, base.n_join_chars,
          |  CAST(coalesce(cv.dup_chars, 0) AS BIGINT) AS dup_chars,
          |  CAST(CASE WHEN base.n_join_chars = 0 THEN 0.0
          |    ELSE CAST(coalesce(cv.dup_chars, 0) AS DOUBLE) / CAST(base.n_join_chars AS DOUBLE)
          |    END AS DOUBLE) AS dup_ngram_char_frac
          |FROM base LEFT JOIN cv ON base.doc_id = cv.doc_id
          |ORDER BY base.doc_id""".stripMargin,
      // co-located bucketed join must equal the plain shuffled join
      "q48_bucketed_join" ->
        """SELECT c_nationkey, count(*) AS n,
          | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
    )
  }

  /** Oracles valid ONLY at a specific scale factor — literal pins of that
    * corpus's output, or restatements whose equivalence depends on a
    * property verified at that scale. Verify warns loudly (and records
    * oracle_pins.json) when run against a different sf dir, so a spurious
    * gate failure at another scale is diagnosable rather than mysterious. */
  def oracleSfPins: Map[String, String] = Map(
    // exact all-pairs Jaccard truth — assumes the banded LSH achieves 100%
    // recall on THIS corpus (verified: 106/106 pairs at sf0.01); q49
    // clusters the same pair set under the same assumption
    "q19_minhash_dups" -> "sf0.01",
    "q49_dedup_components" -> "sf0.01",
    "q51_drop_near_dups" -> "sf0.01",
    "q95_drop_near_dups_best" -> "sf0.01",
    // literal VALUES pins of sf0.01 output (mix64 not expressible in DuckDB)
    "q20_simhash_dups" -> "sf0.01",
    // BPE merges trained on the sf corpus itself -> counts are sf-specific
    "q92_bpe_tokens" -> "sf0.01",
    "q30_mm_decode" -> "sf0.01",
    "q40_ngram_langid" -> "sf0.01",
    // nBits=4 keeps the DuckDB self-join tractable at sf0.01 only
    "q42_cosine_dups" -> "sf0.01",
    // exact cross-pairs Jaccard truth — assumes the cross-frame banding
    // achieves 100% recall on THIS corpus (the q19 stance; verified at
    // sf0.01: every >= 0.5 batch-corpus pair is a band candidate)
    "q74_incremental_dedup" -> "sf0.01",
  )

  /** SQL restatement of ReferenceFeatures.fullModel scoring. Exact because
    * every logit is a dyadic rational (see ReferenceFeatures.fullModel):
    * 2.0*h_c - 0.125*(H - h_c) == 2.125*h_c - 0.125*H with h_c = hits in
    * class c's token list, H = total distinct-feature hits. */
  private def fullModelOracleSql: String = {
    val rf = graft.model.ReferenceFeatures
    def esc(s: String) = s.replace("'", "''")
    // flat list literal + list_filter, NOT a 746-term "+" chain: DuckDB's
    // binder recurses per binary op and caps at depth 128
    def hits(toks: Array[String]) =
      s"CAST(len(list_filter([${toks.map(t => s"'${esc(t)}'").mkString(",")}], t -> contains(text, t))) AS INTEGER)"
    val nf = hits(rf.tokens)
    val n = rf.langs.length
    val hitCols = rf.langs.zipWithIndex.map { case (lang, i) =>
      s"${hits(rf.byLang(lang).distinct)} AS h$i"
    }.mkString(", ")
    val scoreCols = (0 until n)
      .map(i => s"(2.125 * h$i - 0.125 * n_feats) AS s$i").mkString(", ")
    val argmax = (0 until n).map { i =>
      if (i == n - 1) s"ELSE '${rf.langs(i)}'"
      else s"WHEN ${((i + 1) until n).map(j => s"s$i >= s$j").mkString(" AND ")} THEN '${rf.langs(i)}'"
    }.mkString(" ")
    s"""WITH nd AS (SELECT doc_id, regexp_replace(text, '\r\n?', chr(10), 'g') AS text
       |             FROM documents),
       |b AS (SELECT doc_id, $nf AS n_feats, $hitCols FROM nd),
       |sc AS (SELECT doc_id, n_feats, $scoreCols FROM b)
       |SELECT doc_id, CASE $argmax END AS pred, n_feats
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** LSH ANN restated in SQL: the deterministic hyperplanes (same
    * seed/dim as the Spark query) are inlined as DOUBLE[] literals;
    * DuckDB recomputes the sign-bit signature, the <=probeHamming
    * multi-probe filter, and the exact-cosine ranking. Double literals
    * round-trip exactly (shortest-repr toString, correctly-rounded parse),
    * so signatures are bit-identical across engines. */
  /** Rotating language-flavored headers for q43: deterministic per doc_id,
    * chosen so every legacy feature family (python/c/go/php/sql/diff/make/
    * rust/yaml+md/perl/vb/r) fires on some rows. */
  private val legacySnippets: Array[String] = Array(
    "from pkg import thing as t\n@decorator\ndef f(x):\n    return f'{x}'\n" +
      "g = lambda self: None\nok = True or False\n'''doc''' \"\"\"doc\"\"\"\n" +
      "def g(*args, **kwargs): pass\n",
    "#include <iostream>\n#include <stdio.h>\ntemplate <typename T>\n" +
      "int main() {\n    char c; std::string s;\n    printf(\"%d\");\n" +
      "    scanf(\"%d\");\n    return 0;\n}\n/*# odd */\n",
    "package main\nimport (\nfunc f() {\n\tx := <-ch\n\tvar c chan int\n" +
      "\tdefer close(c)\n\tgo run()\n}\n",
    "<?php\n$this->x = $y;\nnamespace A;\nuse B;\necho $x;\n" +
      "function f(&$a) { $b = ($c); }\n",
    "SELECT * FROM t WHERE x = 1;\nINSERT INTO tbl VALUES (1);\n" +
      "CREATE TABLE t2 (a INT);\n",
    "diff --git a/x b/x\n@@ -1 +1 @@\n+++ b/x\n--- a/x\n",
    "target: dep\n\t$(shell echo hi)\n.PHONY: all\nVAR := 1\nKEY ?= x\n" +
      "[section]\n; ini comment\nk = v\n",
    "fn main() -> i32 {\n    let mut x = 0;\n    macro_rules! m\n" +
      "    match x {}\n    use std::fmt;\n    #[derive(Debug)]\n}\n",
    "- item\n---\nkey: value\n# heading\n```\n[link](url)\n> quote\n" +
      "1. ordered\n====\n* starred\n...\n",
    "my $x = 1;\nuse strict;\nuse warnings;\ns/foo/bar/;\nprint @ARGV;\n",
    "Imports System\nModule M\nSub F()\nEnd Sub\nDim x As Integer\n",
    "library(x)\ndf <- data.frame(a=1)\nggplot(df)\nset.seed(42)\nx = TRUE\n",
    "export const f = async (x) => {\n  let y = await g(x);\n" +
      "  interface I { readonly a: string }\n  enum E {}\n  type T = number;\n" +
      "  class C implements I {}\n  this.x += 1;\n};\n" +
      "import { a } from 'mod';\nimport * as ns from \"m\";\n",
    "$var-name: 10px;\n@mixin foo { color: red; }\n@include foo;\n" +
      "@extend .bar;\nwidth: #{interp};\n&.nested { }\n@less-var: 2;\n" +
      "@{lessinterp}\n@import (css) 'x';\n.mixin-call ( );\nx when (y)\n",
    "#!/bin/bash\nexport PATH=/x\nif [ -f x ]; then\n  run_thing\nfi\n" +
      "for i in 1; do\n  echo $i\ndone\nif test -z y; then fi\n",
    "<?xml version=\"1.0\"?>\n<a xmlns=\"ns\">\n{ \"key\": 1 }\n" +
      "query Q { ... on T { id } }\nmutation M\nfragment F\nlocal x = 1\n" +
      "if x then y elseif z end\na .. b\nputs 'hi'\nrequire 'mod'\nmodule Foo\nend\n",
    "public class A extends B {\n  private static void m() { var x = new C(); }\n" +
      "  protected boolean ok; String s; byte b; bytes raw;\n" +
      "  List<? extends T> l; int n = strlen(s);\n" +
      "  cstring cs; bool b2; str st;\n  import 'quoted'\n" +
      "  case x .+ y : default z\n}\n",
  )

  /** SQL restatement of one legacy feature over column t2. */
  private def legacyFeatureSql(f: graft.functions.LegacyFeatures.Feat): String = {
    import graft.functions.LegacyFeatures._
    def sqlEsc(s: String) = s.replace("'", "''")
    def reQuote(s: String) = s.flatMap { c =>
      if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString
    }
    def wordRe(tok: String) = s"(^|[^A-Za-z0-9_])${reQuote(tok)}([^A-Za-z0-9_]|$$)"
    f match {
      // NB: multiline anchoring must be the inline RE2 flag (?m) — DuckDB's
      // third-argument options do not enable it (measured)
      case Word(t)   => s"regexp_matches(t2, '${sqlEsc(wordRe(t))}')"
      case WordCi(t) =>
        s"regexp_matches(lower(t2), '${sqlEsc(wordRe(t.toLowerCase(java.util.Locale.ROOT)))}')"
      case Sym(t)    => s"contains(t2, '${sqlEsc(t)}')"
      case Re(p)     => s"regexp_matches(t2, '(?m)${sqlEsc(p)}')"
      case LineStart(p) => s"regexp_matches(t2, '(?m)${sqlEsc("^\\s*" + reQuote(p))}')"
      case Indent(n) => s"regexp_matches(t2, '(?m)^[ ]{$n}.*\\S')"
      case IndentColonF =>
        // rtrim over the full whitespace set (space/tab/VT/FF/CR), matching
        // Character.isWhitespace on ASCII — plain rtrim strips spaces only
        """len(list_filter(string_split(t2, chr(10)),
          | x -> length(rtrim(split_part(x, '#', 1), ' ' || chr(9) || chr(11) || chr(12) || chr(13))) > 0
          |      AND ends_with(rtrim(split_part(x, '#', 1), ' ' || chr(9) || chr(11) || chr(12) || chr(13)), ':'))) > 0""".stripMargin
      case FStringF   => """regexp_matches(t2, '(^|[^A-Za-z0-9_])f[''"]')"""
      case DollarVarF => """regexp_matches(t2, '\$[A-Za-z_]')"""
      case And(a, b)  => s"(${legacyFeatureSql(a)} AND ${legacyFeatureSql(b)})"
      case Or(a, b)   => s"(${legacyFeatureSql(a)} OR ${legacyFeatureSql(b)})"
    }
  }

  private def legacyFeaturesOracleSql: String = {
    def sqlEsc(s: String) = s.replace("'", "''")
    val cases = legacySnippets.zipWithIndex.map { case (sn, i) =>
      s"WHEN $i THEN '${sqlEsc(sn)}' || text"
    }.mkString(" ")
    val cols = graft.functions.LegacyFeatures.all.map { case (name, feat) =>
      s"""${legacyFeatureSql(feat)} AS "$name""""
    }.mkString(",\n ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    regexp_replace(CASE CAST(doc_id % ${legacySnippets.length} AS INTEGER) $cases END,
       |      '\r\n?', chr(10), 'g') AS t2
       |  FROM documents)
       |SELECT doc_id,
       | $cols
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Sign-bit signature of column `v` under the seeded hyperplanes,
    * inlined as DOUBLE[] literals (round-trip exact). */
  private def sigExprSql(nBits: Int, seed: Long, dim: Int): String = {
    val planes = graft.sim.Ann.hyperplanes(dim, nBits, seed)
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${p.mkString("[", ",", "]")}) >= 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def lshOracleSql(nBits: Int, seed: Long, dim: Int,
                           probeHamming: Int, k: Int): String = {
    val sigExpr = sigExprSql(nBits, seed, dim)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS s FROM e),
       |q AS (SELECT s AS qs, v AS qv FROM sig WHERE vec_id = 0)
       |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cos6
       |FROM sig WHERE vec_id <> 0
       |  AND bit_count(xor(s, (SELECT qs FROM q))) <= $probeHamming
       |ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  /** IVF ANN restated in SQL: same md5-ordered seed-row centroids, same
    * squared-L2 argmin assignment (list_position = first-index tie-break,
    * matching the stable sortBy in IvfIndex.nearestCentroids), same
    * two-probe selection (min + masked-min), same cosine ranking. */
  private def ivfOracleSql(nCentroids: Int, dim: Int, nProbe: Int, k: Int): String = {
    require(nProbe == 2, "the masked-min probe expansion below is written for nProbe=2")
    val masked =
      s"list_transform(generate_series(1, $nCentroids), i -> CASE WHEN i = p1 THEN 1e308 ELSE qds[i] END)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cid AS (SELECT vec_id FROM embeddings
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCentroids),
       |cent AS (SELECT list(v ORDER BY vec_id) AS cs FROM e
       |         WHERE vec_id IN (SELECT vec_id FROM cid)),
       |dist AS (SELECT vec_id, v,
       |  list_transform((SELECT cs FROM cent), c ->
       |    list_sum(list_transform(generate_series(1, $dim), i -> (v[i]-c[i])*(v[i]-c[i])))) AS ds
       |  FROM e),
       |assign AS (SELECT vec_id, v, list_position(ds, list_min(ds)) AS cl, ds FROM dist),
       |qq AS (SELECT v AS qv, ds AS qds, list_position(ds, list_min(ds)) AS p1
       |       FROM assign WHERE vec_id = 0),
       |pr AS (SELECT qv, p1, list_position($masked, list_min($masked)) AS p2 FROM qq)
       |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM pr)), 6) AS cos6
       |FROM assign WHERE vec_id <> 0
       |  AND cl IN (SELECT p1 FROM pr UNION ALL SELECT p2 FROM pr)
       |ORDER BY list_cosine_similarity(v, (SELECT qv FROM pr)) DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  /** q88's deterministic output pinned as a literal table (no PNG codec
    * exists in SQL; the images are synthesized in-query, so unlike q20
    * this oracle is scale-independent). Exactly the 20 planted
    * noisy-copy pairs, zero false positives; perceptual semantics are
    * spec-gated in MultimodalSpec. */
  private def q88LiteralOracleSql: String = {
    val rows =
      "(0,1000,0),(10,1001,0),(20,1002,1),(30,1003,0),(40,1004,0),(50,1005,0)," +
      "(60,1006,0),(70,1007,1),(80,1008,0),(90,1009,0),(100,1010,0),(110,1011,0)," +
      "(120,1012,0),(130,1013,0),(140,1014,0),(150,1015,0),(160,1016,1),(170,1017,0)," +
      "(180,1018,0),(190,1019,0)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q89's deterministic output pinned as a literal table (the q88
    * stance — SQL has no WAV codec; scale-independent in-query synth). */
  private def q89LiteralOracleSql: String = {
    val rows =
      "(0,1000,0),(10,1001,0),(20,1002,0),(30,1003,0),(40,1004,0),(50,1005,0)," +
      "(60,1006,0),(70,1007,0),(80,1008,0),(90,1009,0)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q90's deterministic output pinned as a literal table (the q88
    * stance — SQL has no GIF codec; scale-independent in-query synth). */
  private def q90LiteralOracleSql: String = {
    val rows = "(0,1000,1),(10,1001,0),(20,1002,2),(30,1003,0),(40,1004,1),(50,1005,0)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q92's deterministic sf0.01 output pinned as a literal table (the
    * BPE merge loop is a driver-side iterative algorithm no SQL restates;
    * trainer/encoder goldens live in BpeSpec). */
  private def q92LiteralOracleSql: String = {
    val rows =
      "('de',70,9788),('en',218,33206),('es',73,11161),('fr',64,10435),('zh',75,11619)"
    s"""SELECT CAST(lang AS VARCHAR) AS lang, CAST(n AS BIGINT) AS n,
       | CAST(bpe_tokens AS BIGINT) AS bpe_tokens
       |FROM (VALUES $rows) AS t(lang, n, bpe_tokens)
       |ORDER BY lang""".stripMargin
  }

  /** q20's deterministic sf0.01 output pinned as a literal table (the
    * simhash word-mix is not expressible in DuckDB's checked-overflow
    * integer arithmetic); semantic gates live in DedupSpec. */
  private def q20LiteralOracleSql: String = {
    val rows =
      "(0,1000000,2),(5,233,4),(7,1000007,0),(8,245,2),(8,436,6),(8,1000245,1),(14,1000014,2)," +
      "(21,1000021,5),(28,1000028,3),(31,383,3),(35,1000035,1),(42,1000042,0),(44,446,3)," +
      "(45,121,6),(45,267,4),(45,413,1),(45,494,4),(45,1000413,2),(47,250,4),(49,1000049,3)," +
      "(56,1000056,0),(57,1000217,6),(58,293,3),(61,185,0),(63,251,5),(63,312,6),(63,1000063,0)," +
      "(67,199,5),(70,447,0),(70,1000070,2),(72,377,2),(77,1000077,2),(84,1000084,0)," +
      "(91,1000091,2),(92,450,3),(96,233,4),(98,290,1),(98,1000098,1),(105,1000105,2)," +
      "(107,387,5),(112,1000112,3),(119,1000119,2),(120,332,1),(126,187,6),(126,1000126,2)," +
      "(132,264,6),(133,1000133,0),(140,1000140,1),(147,176,5),(147,1000126,5),(147,1000147,1)," +
      "(151,316,5),(152,178,2),(154,1000154,2),(161,311,4),(161,1000161,3),(166,323,1)," +
      "(167,442,6),(168,1000168,3),(175,1000175,4),(176,1000147,6),(182,413,6),(182,423,6)," +
      "(182,1000182,1),(187,197,4),(187,426,6),(187,1000126,6),(188,453,6),(189,1000189,1)," +
      "(210,1000210,0),(217,1000217,4),(223,240,6),(223,423,5),(223,459,6),(224,1000224,0)," +
      "(230,470,6),(231,1000231,4),(234,312,5),(234,329,5),(238,1000238,5),(245,264,4)," +
      "(245,436,4),(245,1000245,1),(251,1000063,5),(252,1000252,6),(259,1000259,2),(264,328,5)," +
      "(264,436,6),(266,1000266,3),(267,413,3),(267,1000413,2),(273,1000273,5),(280,1000280,0)," +
      "(285,301,2),(285,1000301,2),(287,1000287,3),(290,1000098,2),(294,1000294,2),(295,374,6)," +
      "(301,1000301,2),(303,333,5),(308,1000308,1),(310,389,1),(312,349,6),(312,1000063,6)," +
      "(315,1000315,2),(317,377,6),(322,1000322,4),(326,457,2),(329,1000329,3),(336,388,6)," +
      "(336,1000336,1),(336,1000406,6),(343,1000343,3),(350,1000350,0),(357,1000357,3)," +
      "(364,1000364,3),(369,486,6),(371,1000371,0),(378,1000378,1),(385,1000385,1)," +
      "(392,1000392,4),(393,420,2),(393,1000420,2),(399,1000399,4),(406,1000406,3)," +
      "(413,1000413,1),(420,1000420,2),(427,1000427,2),(434,1000434,0),(435,486,2)," +
      "(436,1000245,5),(441,1000441,2),(447,1000070,2),(448,1000448,1),(455,1000455,5)," +
      "(462,1000462,3),(476,1000476,4),(483,1000483,1),(490,1000490,1),(497,1000497,6)," +
      "(1000070,1000301,6),(1000126,1000147,6),(1000385,1000406,6)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Exact ANSI-SQL restatement of the tiny linear scorer: same summation
    * order (intercept + c0*b0 + c1*b1 + ...) so logits are bit-identical,
    * argmax ties resolved first-class-wins like Scorer.argmax. */
  private def tinyModelOracleSql: String = {
    val m = graft.model.DefaultModels.tiny
    def esc(s: String) = s.replace("'", "''")
    val score = m.classes.indices.map { i =>
      val terms = m.features.indices.map { j =>
        s"${m.coef(i)(j)} * (CASE WHEN contains(text, '${esc(m.features(j))}') THEN 1.0 ELSE 0.0 END)"
      }.mkString(" + ")
      s"(${m.intercept(i)} + $terms) AS s$i"
    }.mkString(", ")
    s"""WITH sc AS (SELECT doc_id, $score FROM documents)
       |SELECT doc_id,
       |  CASE WHEN s0 >= s1 AND s0 >= s2 THEN '${m.classes(0)}'
       |       WHEN s1 >= s2 THEN '${m.classes(1)}'
       |       ELSE '${m.classes(2)}' END AS pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }
}
