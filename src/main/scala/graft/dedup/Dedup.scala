package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.Materialize
import graft.plans.GraftFunctions.wordGrams

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four tiers, cheapest first:
  *  - exact: hash-groupBy on a normalized fingerprint (one shuffle)
  *  - simhash: 64-bit signature; near-dups share banded sub-keys
  *  - minhash+LSH: shingle -> k minhashes -> b bands -> bucket self-join;
  *    only candidate pairs (same band bucket) get an exact Jaccard check,
  *    so the crossproduct never materializes — the property that keeps
  *    this runnable at 10^12 rows
  *  - exact n-gram Jaccard: verification kernel for candidate pairs
  *
  * All signatures are pure functions of the text (seeded xxhash64-style
  * mixing), so results are identical at any parallelism.
  */
object Dedup {

  /** `decontaminate`'s broadcast-size guard tripped: the benchmark side
    * exceeds the broadcastable shingle cap. Subtype of
    * IllegalArgumentException so existing callers still see an IAE, but
    * catchable on its own — CorpusPrep's auto-fallback to the semi-join
    * tier catches EXACTLY this and nothing else. */
  final class BenchmarkTooLargeException(msg: String)
    extends IllegalArgumentException(msg)

  /** `dropBoilerplateLines`' broadcast-size guard tripped: more frequent
    * lines than the broadcastable cap. Same design as
    * [[BenchmarkTooLargeException]] — catchable on its own so CorpusPrep's
    * auto-fallback to the join tier can't swallow genuine bugs. */
  final class TooManyFrequentLinesException(msg: String)
    extends IllegalArgumentException(msg)

  // ---- shingling / hashing kernels (pure, deterministic) ----

  /** 64-bit avalanche mix (splitmix64 finalizer) — stable across JVMs. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hashes of word w-shingles of the normalized text. */
  def shingleHashes(text: String, w: Int): Array[Long] = {
    if (text == null) return Array.empty
    val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (words.length < w) {
      if (words.isEmpty) Array.empty
      else Array(mix64(words.mkString(" ").hashCode.toLong))
    } else {
      val out = new Array[Long](words.length - w + 1)
      var i = 0
      while (i + w <= words.length) {
        var h = 1125899906842597L
        var j = i
        while (j < i + w) {
          var k = 0
          val s = words(j)
          while (k < s.length) { h = 31 * h + s.charAt(k); k += 1 }
          h = mix64(h)
          j += 1
        }
        out(i) = h
        i += 1
      }
      out
    }
  }

  /** MinHash from precomputed shingle hashes: k independent permutations
    * approximated by mix64(shingle ^ seed_i); min over shingles per i. */
  def minhashFromShingles(shingles: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var si = 0
    while (si < shingles.length) {
      val s = shingles(si)
      var i = 0
      while (i < k) {
        val h = mix64(s ^ (0x5bd1e995L * (i + 1)))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      si += 1
    }
    sig
  }

  /** MinHash signature of the text (shingle + hash in one call). */
  def minhashSignature(text: String, w: Int, k: Int): Array[Long] =
    minhashFromShingles(shingleHashes(text, w), k)

  /** Sorted-distinct copy of a hash array (sort + in-place unique); the
    * input is never mutated. Returns the input object itself when length
    * <= 1 (already trivially sorted-distinct). */
  def sortedDistinct(hs: Array[Long]): Array[Long] = {
    if (hs.length <= 1) return hs
    val a = hs.clone()
    java.util.Arrays.sort(a)
    var n = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** Exact Jaccard of two SORTED-DISTINCT hash arrays: one merge pass over
    * primitive longs, ZERO allocations — the verify kernel of the
    * candidate-pair hot loop (q19/q51), where candidate pairs outnumber
    * rows at high-recall band settings and two boxed HashSets per pair
    * were the profiler's next line. Callers must uphold the
    * sorted-distinct precondition (`shinglesUdf` emits it; `sortedDistinct`
    * establishes it for arbitrary arrays). */
  def jaccardOfSortedDistinct(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exact Jaccard of two precomputed shingle-hash arrays (set semantics —
    * identical to jaccard(), which hashes the same way). Accepts arbitrary
    * (unsorted, duplicate-carrying) arrays; the pipeline's hot path skips
    * the normalization by producing sorted-distinct arrays at shingle
    * time. */
  def jaccardOfHashes(a: Array[Long], b: Array[Long]): Double =
    jaccardOfSortedDistinct(sortedDistinct(a), sortedDistinct(b))

  /** 64-bit SimHash over word unigram hashes. */
  def simhash(text: String): Long = {
    if (text == null) return 0L
    val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    var wi = 0
    while (wi < words.length) {
      val h = mix64(words(wi).hashCode.toLong)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      wi += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Exact Jaccard similarity of word w-shingle sets. */
  def jaccard(a: String, b: String, w: Int): Double =
    jaccardOfHashes(shingleHashes(a, w), shingleHashes(b, w))

  // ---- DataFrame operators ----

  /** Stream a single-LONG-column frame into a primitive Array[Long] on
    * the driver. `collect()` materializes every row as a boxed Row object
    * SIMULTANEOUSLY before conversion — at the 50M-row caps of
    * `decontaminate`/`dropBoilerplateLines` that is multi-GB of driver
    * heap (vs the ~400 MB the primitive array costs), so the driver could
    * OOM before the size-guard exception ever fired — and a driver OOM
    * defeats CorpusPrep's catch-and-fallback to the join tier.
    * `toLocalIterator` holds one partition's batch at a time; rows are
    * unboxed into the growing primitive builder as they stream. */
  private def collectLongColumn(df: DataFrame): Array[Long] = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    val it = df.toLocalIterator()
    while (it.hasNext) b += it.next().getLong(0)
    b.result()
  }

  /** Exact dedup: keep the row with the smallest `idCol` per fingerprint.
    * One shuffle; fingerprint is oracle-checkable
    * (TextFunctions.fingerprint).
    *
    * Shape: groupBy(fp).agg(min_by(struct(*), id)) rather than a window
    * row_number. Both are one exchange, but the aggregate gets MAP-SIDE
    * partial aggregation — co-located duplicates collapse to one row per
    * fingerprint before the shuffle — while the window sorts every full
    * row inside the exchange. At 10^12 rows with any duplicate locality
    * (ingest batches, crawl revisits) that is strictly less shuffle I/O.
    * DedupSpec asserts the plan: HashAggregate below the exchange, no
    * Window node. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = graft.functions.TextFunctions.fingerprint(F.col(textCol))
    val rowStruct = F.struct(df.columns.map(F.col).toIndexedSeq: _*)
    df.withColumn("__fp", fp)
      .groupBy("__fp")
      .agg(F.min_by(rowStruct, F.col(idCol)).as("__row"))
      .select("__row.*")
  }

  private val minhashUdf =
    F.udf((text: String, w: Int, k: Int) => minhashSignature(text, w, k))
  private val simhashUdf = F.udf((text: String) => simhash(text))
  // emits SORTED-DISTINCT arrays: set semantics are what every consumer
  // wants (minhash mins, decontaminate membership, Jaccard sets), and it
  // lets the pair-verify kernel merge-count with zero per-pair work
  private val shinglesUdf =
    F.udf((text: String, w: Int) => sortedDistinct(shingleHashes(text, w)))
  private val minhashOfShinglesUdf =
    F.udf((sh: Array[Long], k: Int) => minhashFromShingles(sh, k))
  // inputs come from shinglesUdf, so the sorted-distinct precondition holds
  private val jaccardHashesUdf =
    F.udf((a: Array[Long], b: Array[Long]) => jaccardOfSortedDistinct(a, b))

  def withMinhash(df: DataFrame, textCol: String, w: Int = 3, k: Int = 32): DataFrame =
    df.withColumn("minhash", minhashUdf(F.col(textCol), F.lit(w), F.lit(k)))

  def withSimhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", simhashUdf(F.col(textCol)))

  /** Candidate near-dup pairs via LSH banding: rows sharing any band of
    * rows/band minhash values. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and exact-Jaccard >= threshold.
    *
    * Scale shape: explode to (band, bucketHash) -> self-join per bucket.
    * The banded exchange carries ONLY (id, band, bucket) — 24 bytes/row/band
    * — never the document text: at transcript scale, text through a
    * bands-way explode multiplies shuffle bytes by ~bands. Text is
    * re-attached to the (small) candidate set by two id-joins just before
    * the exact-Jaccard verify kernel.
    * Bucket sizes are bounded w.h.p.; a hot bucket (degenerate text) is
    * capped at `maxBucket` rows to bound the quadratic blowup, and capping
    * is logged via the dropped-bucket count rather than silently.
    *
    * The signature, the banding, and the exact-Jaccard verify all work
    * from the shingle-HASH array, so the verify kernel never re-tokenizes
    * text: at high-recall band settings candidate pairs outnumber rows,
    * and per-pair string re-shingling dominated the whole operator. The
    * (id, shingle-hashes) projection is persisted MEMORY_AND_DISK, so the
    * text is read and tokenized EXACTLY ONCE (an unpersisted projection is
    * evaluated once per subtree: banding + the two re-attach sides); the
    * cached arrays are ~1-2% of text size, a fair trade even at 10^12 rows
    * (spills to local disk, never OOMs). Runs its pair job when called,
    * as `decontaminate` and `components` do: the pair list is snapshotted
    * and the cache released before this returns. */
  def minhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      w: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val sh = shingles(df, textCol, idCol, w)
    // dedupe candidates on ids BEFORE the exact-Jaccard kernel: a true
    // near-dup pair collides in many bands and would be verified per band
    Materialize.snapshotReleasing(sh)(jaccardVerified(
      bucketPairs(minhashBands(sh, idCol, k, bands), Seq("band", "bucket"), idCol,
        maxBucket, "minhash_caps").distinct(),
      sh, sh, idCol, threshold))
  }

  /** The persisted (id, __sh shingle-hash array) projection the minhash
    * operators band and verify from. */
  private def shingles(df: DataFrame, textCol: String, idCol: String, w: Int): DataFrame =
    df.select(F.col(idCol), shinglesUdf(F.col(textCol), F.lit(w)).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** (id, band, bucket) rows of a `shingles` frame: the k-value minhash
    * split into `bands` slices, each hashed to one bucket. */
  private def minhashBands(sh: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sh.withColumn("__mh", minhashOfShinglesUdf(F.col("__sh"), F.lit(k)))
      .select(F.col(idCol),
        F.posexplode(
          F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), b =>
            F.xxhash64(F.slice(F.col("__mh"), b * rowsPerBand + 1, F.lit(rowsPerBand))))
        ).as(Seq("band", "bucket")))
  }

  /** (id_a, id_b, jaccard) of the candidate pairs whose exact shingle
    * Jaccard reaches `threshold`: id_a's shingles from `shA`, id_b's from
    * `shB` (both `shingles` frames), re-attached by two id-joins. */
  private def jaccardVerified(candidates: DataFrame, shA: DataFrame, shB: DataFrame,
                              idCol: String, threshold: Double): DataFrame = {
    val ta = shA.select(F.col(idCol).as("id_a"), F.col("__sh").as("sh_a"))
    val tb = shB.select(F.col(idCol).as("id_b"), F.col("__sh").as("sh_b"))
    candidates
      .join(ta, "id_a").join(tb, "id_b")
      .select(F.col("id_a"), F.col("id_b"),
        jaccardHashesUdf(F.col("sh_a"), F.col("sh_b")).as("jaccard"))
      .filter(F.col("jaccard") >= threshold)
  }

  /** The hot-bucket cap and candidate pairing of every banded near-dup
    * operator (minhash, Hamming, incremental, cosine and SemDeDup).
    *
    * `banded` has one row per (bucket, id): the `keys` columns name the
    * bucket, `id` is a long row id and `payload`, when given, a long
    * column that rides each kept id. Each bucket keeps its `maxBucket`
    * smallest ids. The cap is a BOUNDED smallest-K aggregate (map-side
    * combinable k-heap buffers), not a Window row_number: the window
    * shape exchanged and SORTED every banded row, with a degenerate
    * corpus's hot bucket concentrated in one task; the aggregate ships at
    * most `maxBucket` ids per bucket per map partition and sorts nothing.
    * The cap is NOT silent: the rows it drops are published as
    * `capped_rows` under the observe name `metric`, so a capped run shows
    * in the job's metrics.
    *
    * Kept ids of one bucket pair up as (id_a, id_b) with id_a < id_b,
    * plus (pay_a, pay_b) when a payload rides. With `against` — a second
    * banded frame with the same columns, capped under its own metric —
    * buckets of `banded` pair with buckets of `against` instead: id_a
    * from `banded`, id_b from `against`, in either order. A pair that
    * shares several buckets comes out once per bucket. Only key, id and
    * payload columns reach the exchange. */
  private[graft] def bucketPairs(banded: DataFrame, keys: Seq[String], id: String,
                                 maxBucket: Int, metric: String,
                                 payload: Option[String] = None,
                                 against: Option[(DataFrame, String)] = None): DataFrame = {
    import graft.plans.GraftFunctions.{smallestKLongPairs, smallestKLongs}
    val keyCols = keys.map(F.col)
    def capped(df: DataFrame, m: String): DataFrame = {
      val kept = payload.fold(smallestKLongs(F.col(id), maxBucket))(p =>
        smallestKLongPairs(F.col(id), F.col(p), maxBucket))
      df.groupBy(keyCols: _*)
        .agg(kept.as("__kept"), F.count(F.lit(1)).as("__bn"))
        .observe(m, F.sum(F.greatest(F.col("__bn") - maxBucket, F.lit(0L))).as("capped_rows"))
        .select(keyCols :+ F.explode(F.col("__kept")).as("__e"): _*)
    }
    def side(c: DataFrame, s: String): DataFrame = c.select(keyCols ++ (payload match {
      case Some(_) => Seq(F.col("__e.id").as(s"id_$s"), F.col("__e.payload").as(s"pay_$s"))
      case None => Seq(F.col("__e").as(s"id_$s"))
    }): _*)
    val a = capped(banded, metric)
    val pairs = against match {
      case None => side(a, "a").join(side(a, "b"), keys).filter(F.col("id_a") < F.col("id_b"))
      case Some((other, m)) => side(a, "a").join(side(capped(other, m), "b"), keys)
    }
    pairs.drop(keys: _*)
  }

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pair output (minhash/simhash/cosine) into an actual
    * DEDUPLICATED corpus: one component = one duplicate cluster; keep the
    * min-id member as canonical, drop the rest.
    *
    * Algorithm: hash-min label propagation on DataFrames. Every node
    * starts labeled with its own id; each round takes the min of its own
    * and its neighbors' labels (one join + one aggregation, both
    * map-side-combinable; round 1, where every label is still its node's
    * id, is the aggregation alone); converged when no label changed.
    * Rounds needed = the largest component's diameter — for near-dup
    * clusters that is small by construction (members are all
    * pairwise-similar, so clusters are near-cliques; real-corpus diameters
    * are single digits). Each round shuffles only (node, label) pairs —
    * 16 bytes/row — never text. The per-round convergence count rides the
    * round's final snapshot as an `observe` metric, so it costs no job of
    * its own; `maxIter` bounds a truly pathological graph.
    *
    * Large diameters: plain propagation needs diameter-many rounds, so a
    * long CHAIN of pairwise-similar documents (each similar to the next,
    * none similar to the first — rare but possible in templated corpora)
    * would hit `maxIter` and abort a 100 TB job at the finish line. From
    * round 3 on, each round therefore adds a POINTER-JUMPING step
    * (label <- label(label): one extra (node,label)-sized join) which
    * doubles the propagation distance per round — convergence in
    * O(log diameter) rounds, so maxIter=25 covers diameters beyond 2^20.
    * Near-clique clusters (the common near-dup case) still converge in
    * <= 2 rounds and never pay the extra join.
    * Each round's result is snapshotted (`Materialize.snapshot`, which
    * follows the session's checkpoint dir): iterative self-joins
    * otherwise DOUBLE the logical plan per round.
    * Returns (node, comp) with comp = min id in the component; nodes
    * appearing in no pair are singletons and are not emitted (their
    * component is trivially themselves). */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 maxIter: Int = 25): DataFrame = {
    import Materialize.snapshot
    // both directions of every pair in ONE pass over `pairs`: a union of
    // two projections would run the upstream plan once per branch
    val edges = snapshot(pairs.select(F.explode(F.array(
        F.struct(F.col(idA).as("src"), F.col(idB).as("dst")),
        F.struct(F.col(idB).as("src"), F.col(idA).as("dst")))).as("__e"))
      .select("__e.src", "__e.dst"))
    var labels = Option.empty[DataFrame]
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // carry the previous label through the snapshot so convergence is
      // counted on the snapshot's own rows — not an extra node-keyed join
      // (which costs two more shuffles per round)
      val propagated = labels match {
        // round 1: every label is still its node's own id (edges are
        // symmetric, so every node is a `src`), so the neighbours' min
        // needs no label join
        case None =>
          edges.groupBy("src").agg(F.min("dst").as("ncomp"))
            .select(F.col("src").as("node"), F.col("src").as("__prev"),
              F.least(F.col("src"), F.col("ncomp")).as("comp"))
        case Some(l) =>
          val nbrMin = edges
            .join(l.select(F.col("node").as("dst"), F.col("comp").as("dcomp")), "dst")
            .groupBy("src").agg(F.min("dcomp").as("ncomp"))
          l.join(nbrMin.withColumnRenamed("src", "node"), Seq("node"), "left")
            .select(F.col("node"), F.col("comp").as("__prev"),
              F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).as("comp"))
      }
      // labels only ever decrease (least/label-of-label), so "changed" is a
      // strict decrease; a fresh Observation per round (each fills once)
      val obs = Observation()
      def counted(df: DataFrame): DataFrame = snapshot(df.observe(obs,
        F.sum(F.when(F.col("comp") < F.col("__prev"), 1L).otherwise(0L)).as("n")))
      val next =
        if (iter < 2) counted(propagated)
        else {
          // pointer jumping (rounds 3+ only — a cluster still unconverged
          // here has diameter > 2): label <- label(label). Every comp value
          // is itself a node (labels are mins over node ids), so the
          // self-join always hits; snapshot first so the self-join reads
          // materialized rows instead of re-running the propagation join.
          val pj = snapshot(propagated)
          counted(pj.join(pj.select(F.col("node").as("comp"), F.col("comp").as("__j")),
              Seq("comp"), "left")
            .select(F.col("node"), F.col("__prev"),
              F.coalesce(F.col("__j"), F.col("comp")).as("comp")))
        }
      changed = obs.get.get("n") match {
        case Some(v: java.lang.Number) => v.longValue()
        case _ => 0L // sum over zero rows observes null
      }
      labels = Some(next.select(F.col("node"), F.col("comp")))
      iter += 1
    }
    require(changed == 0L,
      s"components did not converge in $maxIter rounds — raise maxIter " +
        "(component diameter exceeds the bound)")
    labels.get
  }

  /** Drop the non-canonical members of every duplicate cluster implied by
    * ANY near-dup pair list (`minhashDupPairs`, `simhashDupPairs`,
    * `Ann.cosineDupPairs` — all emit `id_a`/`id_b`): cluster the pairs
    * (components), keep the min-id member per cluster, left-anti-join the
    * rest away.
    *
    * Scale shape: the corpus flows through exactly once at the end — a
    * LEFT ANTI join against the (tiny) non-canonical id set, which AQE
    * broadcasts when it fits (losers are at most the duplicated fraction
    * of ids, 8 bytes each); everything upstream shuffles ids and hashes,
    * never text. */
  def dropByPairs(df: DataFrame, pairs: DataFrame, idCol: String,
                  idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = components(pairs, idA, idB)
      .filter(F.col("node") =!= F.col("comp"))
      .select(F.col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** `dropByPairs` with an explicit KEEP POLICY: each duplicate cluster
    * keeps the member MAXIMIZING `score` (quality score, length,
    * recency...) instead of the arbitrary min-id — a dedup pass should
    * surrender the truncated scrape and keep the complete copy. Ties
    * break to the smallest id, so the choice is total and deterministic
    * (oracle-exact, q95).
    *
    * Scale shape: `components` shuffles ids only; the score join
    * projects the corpus to (id, score) rows and touches only ids that
    * are IN a cluster (inner join against the component table); the
    * per-cluster winner is one tiny max_by aggregate; the corpus text
    * flows once through the final left-anti (AQE broadcasts the loser
    * set when it fits — the `dropByPairs` shape). */
  def dropByPairsKeepBest(df: DataFrame, pairs: DataFrame, idCol: String,
                          score: Column,
                          idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val comp = components(pairs, idA, idB)
    val scored = comp.join(
      df.select(F.col(idCol).as("node"), score.as("__s")), Seq("node"))
    val winners = scored.groupBy("comp")
      .agg(F.max_by(F.col("node"),
        F.struct(F.col("__s").as("s"), (-F.col("node")).as("t"))).as("__keep"))
    val losers = scored.join(winners, Seq("comp"))
      .filter(F.col("node") =!= F.col("__keep"))
      .select(F.col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** `dropNearDups` under the keep-best policy: minhash LSH pairs,
    * clusters, keep the highest-`score` member per cluster. */
  def dropNearDupsBest(df: DataFrame, textCol: String, idCol: String,
                       score: Column,
                       w: Int = 3, k: Int = 32, bands: Int = 8,
                       threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame =
    dropByPairsKeepBest(df,
      minhashDupPairs(df, textCol, idCol, w, k, bands, threshold, maxBucket), idCol, score)

  /** The end-to-end near-dup FILTER a training-data pipeline actually
    * runs: detect pairs (minhash LSH over word shingles), cluster, keep
    * only the min-id member per cluster. Pairs/components remain
    * inspectable intermediates; `dropByPairs` is the generic tail for
    * other detectors (simhash, embedding cosine). */
  def dropNearDups(df: DataFrame, textCol: String, idCol: String,
                   w: Int = 3, k: Int = 32, bands: Int = 8,
                   threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame =
    dropByPairs(df, minhashDupPairs(df, textCol, idCol, w, k, bands, threshold, maxBucket),
      idCol)

  /** Benchmark DECONTAMINATION: drop every corpus document that shares at
    * least one word w-shingle with any benchmark document — the standard
    * defense against evaluation data leaking into a training corpus.
    *
    * Scale shape: a benchmark is small by definition (MBs against a
    * 100 TB corpus), so its distinct shingle hashes are collected and
    * broadcast and the corpus is filtered in a SINGLE scan with
    * ZERO shuffles — no join, no exchange, embarrassingly parallel. The
    * `maxBenchShingles` guard fails fast if someone passes a "benchmark"
    * too big to broadcast (at that point it is corpus-vs-corpus overlap —
    * use `minhashDupPairs`/`dropByPairs` instead).
    *
    * Driver/executor memory: the guard runs BEFORE materialization (the
    * fetch is capped at maxBenchShingles+1 rows and STREAMED into a
    * primitive array — `collectLongColumn` — so an oversized benchmark
    * fails on the cap, never by OOMing the driver on boxed rows first),
    * and the broadcast is a SORTED primitive Array[Long] probed by binary
    * search — 8 bytes/shingle flat (~400 MB at the 50M default cap),
    * not the 40+ bytes/entry a boxed Set[Long] costs. Membership per
    * corpus shingle is O(log n) over cache-friendly sorted longs. */
  def decontaminate(corpus: DataFrame, textCol: String, idCol: String,
                    benchmark: DataFrame, benchTextCol: String, w: Int = 8,
                    maxBenchShingles: Int = 50000000): DataFrame = {
    require(w >= 1, s"shingle width w must be >= 1, got $w")
    val grams = collectLongColumn(benchmark
      .select(F.explode(shinglesUdf(F.col(benchTextCol), F.lit(w))).as("g"))
      .distinct().limit(maxBenchShingles + 1))
    if (grams.length > maxBenchShingles)
      // DEDICATED type, not a bare require: callers with a shuffled
      // fallback (CorpusPrep) must be able to catch EXACTLY the
      // size-guard trip without also swallowing genuine argument bugs
      throw new BenchmarkTooLargeException(
        s"benchmark has > $maxBenchShingles distinct shingles " +
          s"(~${maxBenchShingles.toLong * 8 / (1 << 20)} MB broadcast cap) — " +
          "too large to broadcast; use decontaminateJoin (shuffle-based, any size) " +
          "or minhashDupPairs/dropByPairs for corpus-vs-corpus overlap")
    java.util.Arrays.sort(grams)
    val bc = corpus.sparkSession.sparkContext.broadcast(grams)
    val contaminated = F.udf { (text: String) =>
      val g = bc.value
      shingleHashes(text, w).exists(h => java.util.Arrays.binarySearch(g, h) >= 0)
    }
    corpus.filter(!contaminated(F.col(textCol)))
  }

  /** Benchmark decontamination via DISTRIBUTED SEMI-JOIN — the tier above
    * `decontaminate` when the "benchmark" side's distinct shingles exceed
    * broadcast size (a held-out corpus slice, a union of many benchmarks).
    *
    * Scale shape: both sides explode to (id, shingle-hash) / (shingle-hash)
    * rows — 8–16 bytes each, never text — and meet in one hash-partitioned
    * LEFT SEMI join; contaminated ids (at most the contaminated fraction,
    * 8 bytes each) come back to the corpus as a second, AQE-broadcastable
    * LEFT ANTI join. Cost is one shuffle of the corpus's shingle hashes
    * (~token count x 16 B ≈ a few % of corpus bytes) — the honest price of
    * an arbitrarily large benchmark side; below the broadcast cap,
    * `decontaminate`'s zero-shuffle scan strictly dominates.
    *
    * Result-identical to `decontaminate` on any input (same shingling,
    * same membership semantics) — DedupSpec asserts the equivalence. */
  def decontaminateJoin(corpus: DataFrame, textCol: String, idCol: String,
                        benchmark: DataFrame, benchTextCol: String,
                        w: Int = 8): DataFrame = {
    require(w >= 1, s"shingle width w must be >= 1, got $w")
    val bg = benchmark
      .select(F.explode(shinglesUdf(F.col(benchTextCol), F.lit(w))).as("g"))
      .distinct()
    val cg = corpus.select(F.col(idCol),
      F.explode(shinglesUdf(F.col(textCol), F.lit(w))).as("g"))
    val contaminated = cg.join(bg, Seq("g"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Nonempty lines of `text` (shared by the boilerplate-line tiers). */
  private def nonEmptyLines(text: org.apache.spark.sql.Column) =
    F.filter(F.split(text, "\n"), x => F.length(x) > 0)

  /** 64-bit hash of one line (31-poly over UTF-16 units, mix64 finish) —
    * the boilerplate broadcast tier's probe key, computed identically on
    * the count side and the rewrite side (both in the JVM, so no
    * cross-engine hash contract to keep). */
  @inline def lineHash(s: String): Long = {
    var h = 1125899906842597L
    var k = 0
    while (k < s.length) { h = 31 * h + s.charAt(k); k += 1 }
    mix64(h)
  }

  /** CORPUS-FREQUENCY boilerplate-line removal (RefinedWeb/CCNet-style):
    * a line occurring in >= `minDocFreq` DISTINCT documents is navigation
    * /footer/cookie boilerplate by definition and is removed from EVERY
    * document — the corpus-level complement to C4Rules' per-line
    * heuristics (which can only judge a line by its own shape).
    *
    * BROADCAST tier: lines hash to 64 bits BEFORE the frequency count,
    * so the one aggregation shuffle moves 8-byte keys (per-doc-distinct
    * via array_distinct, so the count is doc-frequency without a
    * countDistinct pair shuffle), the frequent set broadcasts as a
    * SORTED primitive `Array[Long]` (8 B/line flat — ~400 MB at the
    * 50M-line cap, vs 40+ B/entry for boxed strings), and the rewrite is
    * a NARROW per-row pass probing each line by BINARY SEARCH — O(lines
    * x log n) per doc, not the O(lines x n) an `array_contains` scan
    * costs: the corpus itself is never shuffled. Guarded: fails loudly
    * past `maxFrequentLines` (use the join tier then).
    *
    * Hash-membership stance (same as `decontaminate`): a 64-bit
    * collision between a document line and one of <= 50M frequent lines
    * removes a non-boilerplate line with probability ~n/2^64 per
    * distinct line — negligible against the boilerplate threshold's own
    * fuzziness; the join tier compares exact strings when that matters.
    * Output: input columns with `textCol` rewritten. */
  def dropBoilerplateLines(docs: DataFrame, textCol: String, idCol: String,
                           minDocFreq: Long,
                           maxFrequentLines: Int = 50000000): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val text = F.col(textCol)
    val hashUdf = F.udf((s: String) => lineHash(s))
    // streamed primitive fetch (collectLongColumn): the boxed-Row collect
    // this replaced held cap+1 Row objects simultaneously — multi-GB of
    // driver heap at the 50M cap, an OOM risk that defeated the fail-loud
    // guard below
    val freq = collectLongColumn(docs
      .select(F.explode(F.array_distinct(nonEmptyLines(text))).as("__line"))
      .select(hashUdf(F.col("__line")).as("__h"))
      .groupBy("__h").agg(F.count(F.lit(1)).as("__df"))
      .filter(F.col("__df") >= minDocFreq)
      .select("__h").limit(maxFrequentLines + 1))
    if (freq.length > maxFrequentLines)
      throw new TooManyFrequentLinesException(
        s"> $maxFrequentLines corpus-frequent lines " +
          s"(~${maxFrequentLines.toLong * 8 / (1 << 20)} MB broadcast cap) — " +
          "too many to broadcast; use dropBoilerplateLinesJoin (shuffle-based, any size)")
    java.util.Arrays.sort(freq)
    val bc = docs.sparkSession.sparkContext.broadcast(freq)
    val cleanUdf = F.udf { (t: String) =>
      val f = bc.value
      // split/filter/join mirrors the join tier's
      // nonEmptyLines -> array_join semantics byte-for-byte
      t.split("\n", -1).iterator
        .filter(l => l.nonEmpty && java.util.Arrays.binarySearch(f, lineHash(l)) < 0)
        .mkString("\n")
    }
    docs.withColumn(textCol, cleanUdf(text))
  }

  /** Any-size tier of `dropBoilerplateLines`: position-exploded lines
    * anti-join the frequent set (both sides id+line rows, hash
    * partitioned), then docs are rebuilt in line order. Two shuffles of
    * line-sized rows — the honest price when the frequent set itself is
    * too large to broadcast. Result-identical to the broadcast tier
    * (DedupSpec asserts it). */
  def dropBoilerplateLinesJoin(docs: DataFrame, textCol: String, idCol: String,
                               minDocFreq: Long): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val text = F.col(textCol)
    val exploded = docs.select(F.col(idCol),
      F.posexplode(nonEmptyLines(text)).as(Seq("__pos", "__line")))
    val freq = docs
      .select(F.explode(F.array_distinct(nonEmptyLines(text))).as("__line"))
      .groupBy("__line").agg(F.count(F.lit(1)).as("__df"))
      .filter(F.col("__df") >= minDocFreq)
      .select("__line")
    val kept = exploded.join(freq, Seq("__line"), "left_anti")
      .groupBy(idCol)
      .agg(F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
          s => s("__line")), "\n").as("__clean"))
    docs.drop(textCol)
      .join(kept, Seq(idCol), "left")
      .withColumn(textCol, F.coalesce(F.col("__clean"), F.lit("")))
      .drop("__clean")
  }

  /** SimHash near-dup pairs: identical 16-bit band ⇒ candidate; verified by
    * Hamming distance <= maxHamming.
    *
    * Same hot-bucket defense as minhashDupPairs: 16-bit bands give only
    * 65,536 buckets per band, so a degenerate corpus (many empty/identical
    * texts, all simhash 0) piles up in one bucket and the self-join goes
    * quadratic. Buckets are capped at `maxBucket` rows, with the dropped
    * count published via an observe metric. */
  def simhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    hammingDupPairsOf(
      withSimhash(df.select(F.col(idCol), F.col(textCol)), textCol),
      "simhash", idCol, maxHamming, maxBucket, capMetric = "simhash_caps")

  /** Generic near-dup pairs over ANY 64-bit locality-sensitive hash
    * column (simhash of text, dHash of an image, ...): identical 16-bit
    * band ⇒ candidate, verified by Hamming distance <= `maxHamming`.
    * The banding/cap/verify engine `simhashDupPairs` runs — factored so
    * every 64-bit fingerprint family (text, image, audio) shares one
    * audited exchange shape: only (id, hash, band, bucket) rows ever
    * shuffle, hot buckets are capped with the dropped count published
    * via the `capMetric` observe metric. */
  def hammingDupPairsOf(df: DataFrame, hashCol: String, idCol: String,
                        maxHamming: Int, maxBucket: Int = 1000,
                        capMetric: String): DataFrame = {
    val banded = df.select(F.col(idCol), F.col(hashCol),
      F.posexplode(F.array((0 until 4).map(i =>
        F.shiftrightunsigned(F.col(hashCol), i * 16).bitwiseAND(F.lit(0xffffL))): _*))
        .as(Seq("band", "bucket")))
    // the 64-bit hash rides each kept id through the cap (bucketPairs)
    bucketPairs(banded, Seq("band", "bucket"), idCol, maxBucket, capMetric,
        payload = Some(hashCol))
      .select(F.col("id_a"), F.col("id_b"),
        F.bit_count(F.col("pay_a").bitwiseXOR(F.col("pay_b"))).as("hamming"))
      .distinct()
      .filter(F.col("hamming") <= maxHamming)
  }

  /** Benchmark decontamination via a BLOOM-PREFILTERED exact semi-join —
    * the middle tier between `decontaminate` (zero-shuffle, but the whole
    * 8-byte-per-shingle sorted array must broadcast) and
    * `decontaminateJoin` (any size, but the ENTIRE corpus's shingle
    * hashes shuffle into the join).
    *
    * Shape: the benchmark's distinct shingle hashes build a distributed
    * `BloomFilter` (`df.stat.bloomFilter` — partial sketches merged on
    * the driver; ~1.2 BYTES/shingle at fpp=0.01 vs the sorted array's 8,
    * so the broadcastable benchmark size rises ~6.7×). The corpus is then
    * prefiltered NARROWLY: a per-row pass keeps only the shingles the
    * bloom might contain, and docs with zero possible hits — the
    * overwhelming majority of a web corpus against any benchmark — never
    * reach a shuffle at all. Only the surviving (id, hit-shingle) rows
    * (true hits + the fpp share of false positives) meet the benchmark in
    * the exact semi-join, so the q57-tier shuffle shrinks by roughly the
    * uncontaminated fraction (~50× at 1% contamination + 1% fpp).
    *
    * The bloom only PREFILTERS — membership is confirmed by the exact
    * join, so false positives cost shuffle bytes, never correctness:
    * result-identical to `decontaminate`/`decontaminateJoin` on any input
    * (DedupSpec asserts all three agree; q71 gates this tier on q55's
    * oracle).
    *
    * `expectedShingles` sizes the filter; pass a corpus-level estimate at
    * scale (0 = count the benchmark side first — one cheap extra job, the
    * bench side is the small one by assumption). The benchmark shingle
    * frame is persisted (it is read twice: bloom build + confirm join)
    * and the operator OWNS the lifecycle: the contaminated-id list — at
    * most the contaminated fraction, 8 bytes per id — is snapshotted by
    * `Materialize.snapshotReleasing`, which then unpersists the shingle
    * cache, and the bloom broadcast is destroyed after it, instead of
    * accumulating executor cache and broadcast memory across calls in a
    * long-lived session. The snapshot has no lineage back to the released
    * inputs: it survives executor loss only when the session has a
    * checkpoint dir, and otherwise re-running the operator is the
    * recovery path. */
  def decontaminateBloom(corpus: DataFrame, textCol: String, idCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         w: Int = 8, fpp: Double = 0.01,
                         expectedShingles: Long = 0L): DataFrame = {
    require(w >= 1, s"shingle width w must be >= 1, got $w")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val bg = benchmark
      .select(F.explode(shinglesUdf(F.col(benchTextCol), F.lit(w))).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expected = if (expectedShingles > 0L) expectedShingles else bg.count()
    val bloom = bg.stat.bloomFilter("g", math.max(expected, 1L), fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val hitsUdf = F.udf { (text: String) =>
      // sorted-distinct: each possibly-contaminating shingle joins once
      sortedDistinct(shingleHashes(text, w).filter(h => bc.value.mightContainLong(h)))
    }
    val contaminated =
      try Materialize.snapshotReleasing(bg)(corpus
        .select(F.col(idCol), hitsUdf(F.col(textCol)).as("__hits"))
        .filter(F.size(F.col("__hits")) > 0)
        .select(F.col(idCol), F.explode(F.col("__hits")).as("g"))
        .join(bg, Seq("g"), "left_semi")
        .select(idCol).distinct())
      finally bc.destroy()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** CORPUS-WIDE exact line dedup, KEEP-FIRST (the line-granularity form
    * of Lee et al. 2022's "Deduplicating Training Data Makes Language
    * Models Better" exact-substring dedup, and C4's repeated-span rule):
    * every occurrence of a line AFTER its first — ordered by (`idCol`,
    * line position) — is removed; the first occurrence survives. The
    * corpus-frequency complement to `dropBoilerplateLines` (which removes
    * frequent lines from EVERY doc, including the first).
    *
    * Shape: posexplode nonempty lines → ONE map-side-combinable winner
    * election per line value — groupBy(line).agg(min(struct(id, pos))),
    * the `exact`-dedup shape — whose result IS the survivor set (the
    * winning (id, pos) plus the group key reconstruct the surviving
    * occurrence, no join-back needed) → docs rebuilt in line order.
    * Keying by the exact string keeps the gate byte-exact (a 64-bit
    * line-hash key would save key-compare bytes at a ~n²/2⁶⁴ false-merge
    * risk, the documented `dropBoilerplateLines` stance). Two shuffles of
    * line-sized rows, the corpus never collected. A previous shape used
    * `Window.partitionBy(line)` + row_number: every occurrence of the
    * hottest boilerplate line ("Subscribe to our newsletter…" × 10⁸ on a
    * web crawl) then shuffled into ONE task, which sorted them all —
    * window row_number gets no map-side combine. The aggregate collapses
    * co-located repeats to one candidate per line per map partition
    * BEFORE the exchange, so the hot line costs one row per upstream
    * partition, not its corpus-wide mass (DedupSpec asserts both the
    * plan shape and the hot-key shuffle-row bound). Output: input
    * columns with `textCol` rewritten (docs whose every line was seen
    * before become empty — filter downstream if empties should drop). */
  def dedupLinesKeepFirst(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    dedupUnitsKeepFirst(docs, textCol, idCol, "\n", "\n")

  /** `dedupLinesKeepFirst` at ANY unit granularity — RefinedWeb runs the
    * keep-first pass at both line and PARAGRAPH level (splitPattern
    * "\n{2,}", joinSep "\n\n"): a scraped page can repeat a whole
    * syndicated paragraph while no single line matches globally. The
    * rebuild joins surviving units with `joinSep`, so variable-width
    * separators normalize to it (\n\n\n between paragraphs comes back as
    * \n\n — the documented canonical form, q96's oracle does the same). */
  def dedupUnitsKeepFirst(docs: DataFrame, textCol: String, idCol: String,
                          splitPattern: String, joinSep: String): DataFrame = {
    val text = F.col(textCol)
    val units = F.filter(F.split(text, splitPattern), x => F.length(x) > 0)
    val exploded = docs.select(F.col(idCol),
      F.posexplode(units).as(Seq("__pos", "__line")))
    // min(struct(id, pos)) per line = the lexicographically first
    // occurrence — identical to row_number over (orderBy id, pos) = 1,
    // but partially aggregated map-side (see the shape note above)
    val kept = exploded
      .groupBy("__line")
      .agg(F.min(F.struct(F.col(idCol), F.col("__pos"))).as("__w"))
      .select(F.col("__w").getField(idCol).as(idCol),
        F.col("__w").getField("__pos").as("__pos"), F.col("__line"))
      .groupBy(idCol)
      .agg(F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
          s => s("__line")), joinSep).as("__clean"))
    docs.drop(textCol)
      .join(kept, Seq(idCol), "left")
      .withColumn(textCol, F.coalesce(F.col("__clean"), F.lit("")))
      .drop("__clean")
  }

  /** Per-document DUPLICATED-SPAN coverage (Lee et al. 2022's
    * exact-substring dedup measure at word-`w`-gram resolution): the
    * fraction of a document's word positions covered by some `w`-gram
    * that occurs at least `minCount` times across the whole corpus
    * (within-doc repeats count). The per-doc score a span-dedup pass
    * thresholds on — unlike `minhashDupPairs` (whole-doc similarity)
    * this catches a unique page whose MIDDLE is a syndicated article.
    *
    * Shape: one narrow pass builds the in-row gram array with the
    * native `word_grams` kernel over the lowered words (no text shuffle,
    * no per-gram lambda), positions explode to (id, pos, gram); ONE aggregate
    * shuffle counts gram frequency (map-side partial agg), a semi-join
    * keeps the duplicated positions, and coverage is a CLOSED FORM over
    * one id-keyed window — intervals have fixed width `w`, so the union
    * size is sum(min(w, nextPos - pos)), no fold state. The window's
    * id-partitioning is reused by the final per-doc sum (no extra
    * exchange).
    *
    * Grams are counted by their exact string. An xxhash64 pre-count
    * (count 8-byte hashes, then confirm only the hash-duplicated grams by
    * string) saved shuffle bytes: 1.5–2.1× at sf0.1, and 0.73 MB of
    * shuffle write where exact counting writes 1.06 MB on the
    * benchmark's corpus_ops pass. It cost two Spark jobs per query (the
    * hash-count stage and its broadcast) and a second tokenize +
    * `word_grams` + posexplode pass over the corpus, and no wall-time
    * win showed at sf0.1, so it went.
    *
    * Output: `idCol`, `n_words`, `dup_tokens` (positions covered),
    * `dup_span_frac` = dup_tokens/n_words (0.0 for docs under `w`
    * words). Integer counts, one double division — SQL-reproducible
    * bit-for-bit (q77). */
  def dupSpanStats(docs: DataFrame, textCol: String, idCol: String,
                   w: Int = 8, minCount: Long = 2): DataFrame = {
    require(w >= 1, s"gram width w must be >= 1, got $w")
    val ws = F.filter(F.split(F.lower(F.col(textCol)), "\\s+"), x => x =!= "")
    val base = docs.select(F.col(idCol), ws.as("__ws"))
      .select(F.col(idCol), F.col("__ws"), F.size(F.col("__ws")).as("__n"))
    val grams = base.select(F.col(idCol),
      F.posexplode(wordGrams(F.col("__ws"), w)).as(Seq("__pos", "__g")))
    val dupGrams = grams.groupBy("__g")
      .agg(F.count(F.lit(1)).as("__c"))
      .filter(F.col("__c") >= minCount)
      .select("__g")
    val wNext = Window.partitionBy(idCol).orderBy("__pos")
    val covered = grams.join(dupGrams, Seq("__g"), "left_semi")
      .withColumn("__cov", F.least(F.lit(w.toLong),
        F.coalesce(F.lead("__pos", 1).over(wNext) - F.col("__pos"), F.lit(w))
          .cast("long")))
      .groupBy(idCol)
      .agg(F.sum("__cov").as("__dup"))
    base.join(covered, Seq(idCol), "left")
      .select(F.col(idCol),
        F.col("__n").cast("long").as("n_words"),
        F.coalesce(F.col("__dup"), F.lit(0L)).as("dup_tokens"),
        F.when(F.col("__n") === 0, 0.0)
          .otherwise(F.coalesce(F.col("__dup"), F.lit(0L)).cast("double")
            / F.col("__n").cast("double")).as("dup_span_frac"))
  }

  /** Duplicated-span REMOVAL (the rewrite counterpart of `dupSpanStats`):
    * every word position covered by some `w`-gram occurring at least
    * `minCount` times corpus-wide (case-insensitive gram matching,
    * within-doc repeats count) is dropped, and the document is rebuilt
    * from the surviving ORIGINAL-case words joined by single spaces.
    * Policy: ALL occurrences of a duplicated span are scrubbed (the
    * boilerplate stance of `dropBoilerplateLines`, at span granularity) —
    * keep-one-occurrence would need a global canonical-occurrence
    * election; for training-data prep the recurring span IS the
    * boilerplate. Docs under `w` words pass through verbatim (no gram can
    * start in them); docs whose every position is covered come back
    * empty, not dropped — the caller decides on a min-length gate.
    *
    * Shape: the lowered words are projected once and `word_grams` builds
    * the row's grams natively; ONE explode of the original words zipped
    * with their grams carries (pos, word, gram) (no lead chains, no
    * per-element lambda); one map-side-combined gram-count
    * shuffle; a gram join marks dup STARTS; one id-keyed window turns
    * starts into per-position coverage via max over RANGE [pos-w+1, pos]
    * (closed form — never an explode of the w covered positions per
    * start); the rebuild groupBy reuses the window's id partitioning.
    * Grams are counted by exact string (the `dupSpanStats` note on the
    * dropped hash pre-count). Integer counts and byte-exact rebuilt
    * text — SQL-reproducible (q84). */
  def dropDupSpans(docs: DataFrame, textCol: String, idCol: String,
                   w: Int = 8, minCount: Long = 2): DataFrame = {
    require(w >= 2, s"gram width w must be >= 2, got $w")
    val wsOrig = F.filter(F.split(F.col(textCol), "\\s+"), x => x =!= "")
    val base = docs.select(F.col(idCol), wsOrig.as("__ws"))
      .select(F.col(idCol), F.col("__ws"), F.size(F.col("__ws")).as("__n"))
    // gram i joins the lowered words [i, i+w) and rides word i; the last
    // w-1 positions start no gram and get a null one. The zip feeds the
    // generator, so the grams are built once per row (an index lookup
    // after the explode lets the optimizer rebuild them per position)
    val tok = base.filter(F.col("__n") >= w)
      .withColumn("__gs", wordGrams(F.transform(F.col("__ws"), x => F.lower(x)), w))
      .select(F.col(idCol),
        F.posexplode(F.arrays_zip(F.col("__ws"), F.col("__gs"))).as(Seq("__pos", "__t")))
      .select(F.col(idCol), F.col("__pos"),
        F.col("__t").getField("__ws").as("__w"), F.col("__t").getField("__gs").as("__g"))
    val dupGrams = tok.filter(F.col("__g").isNotNull)
      .groupBy("__g").agg(F.count(F.lit(1)).as("__c"))
      .filter(F.col("__c") >= minCount)
      .select(F.col("__g"), F.lit(1).as("__d"))
    val covWin = Window.partitionBy(idCol).orderBy("__pos")
      .rangeBetween(-(w - 1), 0)
    val kept = tok.join(dupGrams, Seq("__g"), "left")
      .withColumn("__start", F.when(F.col("__d").isNotNull, 1).otherwise(0))
      .withColumn("__covered", F.max("__start").over(covWin))
      .filter(F.col("__covered") === 0)
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("__nk"),
        F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__w")))),
            t => t.getField("__w")), " ").as("__ct"))
    base.join(kept, Seq(idCol), "left")
      .select(F.col(idCol),
        F.col("__n").cast("long").as("n_words"),
        F.when(F.col("__n") < w, F.col("__n").cast("long"))
          .otherwise(F.coalesce(F.col("__nk"), F.lit(0L))).as("n_kept"),
        F.when(F.col("__n") < w, F.array_join(F.col("__ws"), " "))
          .otherwise(F.coalesce(F.col("__ct"), F.lit(""))).as("clean_text"))
  }

  /** Per-benchmark-item contamination REPORT — the audit that runs
    * before (or instead of) the `decontaminate` drop: for every
    * benchmark row, how many of its word `w`-grams occur anywhere in the
    * corpus and how many DISTINCT corpus documents share at least one of
    * them. `decontaminate` answers "drop the contaminated docs"; this
    * answers "which benchmark items are burned, and how badly" — the
    * eval-integrity table an org actually reviews before trusting a
    * score. Gram convention matches `decontaminate`'s shingles (full
    * `w`-grams; shorter texts contribute their whole text as one gram).
    *
    * Shape: both sides project to distinct (id, gram) pairs — `word_grams`
    * builds each text's grams natively and the gram sets dedup IN-ROW
    * (array_distinct) before exploding, so the join
    * never sees within-text repeats; ONE gram-keyed join (the benchmark
    * side is tiny and broadcasts at real scale) and one two-way
    * count-distinct per item. Grams compare as exact strings (the
    * `decontaminate` stance). Integer counts — oracle-exact (q86). */
  def contaminationReport(docs: DataFrame, textCol: String, idCol: String,
                          bench: DataFrame, benchTextCol: String,
                          benchIdCol: String, w: Int = 8): DataFrame = {
    require(w >= 1, s"gram width w must be >= 1, got $w")
    def gramsOf(c: Column): Column = {
      val ws = F.filter(F.split(F.lower(c), "\\s+"), x => x =!= "")
      F.when(F.size(ws) >= w, F.array_distinct(wordGrams(ws, w)))
        .when(F.size(ws) >= 1, F.array(F.array_join(ws, " ")))
        .otherwise(F.array().cast("array<string>"))
    }
    val dg = docs.select(F.col(idCol).as("__did"),
      F.explode(gramsOf(F.col(textCol))).as("__g"))
    val withGrams = bench.withColumn("__bgs", gramsOf(F.col(benchTextCol)))
    val exploded = withGrams.select(F.col(benchIdCol), F.explode(F.col("__bgs")).as("__g"))
    val hits = exploded.join(dg, Seq("__g"))
      .groupBy(benchIdCol)
      .agg(F.countDistinct("__did").as("__nd"), F.countDistinct("__g").as("__ng"))
    withGrams.select(F.col(benchIdCol), F.size(F.col("__bgs")).cast("long").as("n_grams"))
      .join(hits, Seq(benchIdCol), "left")
      .select(F.col(benchIdCol), F.col("n_grams"),
        F.coalesce(F.col("__ng"), F.lit(0L)).as("n_grams_hit"),
        F.coalesce(F.col("__nd"), F.lit(0L)).as("n_docs"))
  }

  /** INCREMENTAL ingest dedup: drop the rows of `batch` that duplicate
    * the EXISTING `corpus` — exact (identical text fingerprint) or near
    * (word-`w`-shingle Jaccard >= `threshold` against ANY corpus doc,
    * candidates via cross-frame minhash banding). Returns the surviving
    * batch rows with their original columns. The continuous-ingestion
    * complement to `dropNearDups` (which dedups a corpus against itself):
    * a crawl refresh or daily dump is deduped against the standing corpus
    * WITHOUT re-pairing the corpus against itself.
    *
    * Scale shape: the corpus side is touched by exactly two
    * streaming-friendly passes — a fingerprint projection (8 B/row) and a
    * banded minhash projection (24 B/row/band) — never re-paired with
    * itself (no corpus×corpus candidates are generated; the band join
    * keys batch buckets against corpus buckets only). Candidate
    * (batch_id, corpus_id) pairs attach shingle arrays by id-join and
    * verify with the exact merge-count Jaccard kernel. Hot buckets are
    * capped per side with observe metrics (`inc_dedup_caps`). An
    * exact-identical batch row always collides with its corpus twin in
    * every band (identical text ⇒ identical signature), so the semantics
    * need no separate exact tier; the fingerprint anti-join still runs
    * FIRST because it removes the (typically dominant) exact-dup mass
    * before the shingle/banding work is spent on it. */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
                         textCol: String, idCol: String,
                         w: Int = 3, k: Int = 32, bands: Int = 16,
                         threshold: Double = 0.5,
                         maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val fp = graft.functions.TextFunctions.fingerprint(F.col(textCol))
    val corpusFp = corpus.select(fp.as("__fp")).distinct()
    val exactSurvivors = batch.withColumn("__fp", fp)
      .join(corpusFp, Seq("__fp"), "left_anti").drop("__fp")
    // the dropped-id list (id-sized, at most the batch's near-dup
    // fraction) is snapshotted, then both shingle caches are released
    val shB = shingles(exactSurvivors, textCol, idCol, w)
    val shC = shingles(corpus, textCol, idCol, w)
    val dropped = Materialize.snapshotReleasing(shB, shC) {
      val candidates = bucketPairs(minhashBands(shB, idCol, k, bands),
          Seq("band", "bucket"), idCol, maxBucket, "inc_dedup_caps_batch",
          against = Some(minhashBands(shC, idCol, k, bands) -> "inc_dedup_caps_corpus"))
        .distinct()
      jaccardVerified(candidates, shB, shC, idCol, threshold)
        .select(F.col("id_a").as(idCol)).distinct()
    }
    exactSurvivors.join(dropped, Seq(idCol), "left_anti")
  }
}
