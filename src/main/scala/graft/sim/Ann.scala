package graft.sim

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Similarity search over an embedding column (Array[Float]).
  *
  * Paths:
  *  - bruteForce: exact cosine top-k, one narrow pass + one small topK —
  *    the correctness baseline (and oracle-checkable in SQL)
  *  - lshTopK / ivfTopK over an in-memory DataFrame: the candidate filter
  *    is a cheap predicate but still a FULL SCAN — fine for a table
  *    already in cluster memory, not for a 10^12-row index
  *  - the scale path: materialize the index once with writeLshIndexed /
  *    writeIvfIndexed (parquet partitioned by bucket / cluster), then
  *    lshTopKIndexed / ivfTopKIndexed turn the probe into PARTITION
  *    PRUNING — the scan reads only the probed buckets' files
  *    (PartitionFilters in the scan node; asserted in AnnSpec).
  *  Hyperplanes are seeded deterministically.
  */
object Ann {

  /** cosine(embedding, q) as a Column — one compiled per-row kernel
    * (`VecKernels.cosineToQ`, bit-identical to the former higher-order-
    * function chain, whose lambda bodies were interpreted per element).
    * All math in double (floats promoted first) for cross-engine parity;
    * zero-norm rows (or a zero query) must rank last at -1.0, not
    * NaN-first (Spark sorts NaN above every double).
    *
    * Edge contract (pinned in AnnSpec): a row whose length differs from
    * the query's — an empty array included — or a null row is NULL; a
    * zero-norm row of matching length is -1.0; a zero or empty query is
    * the constant -1.0 on every row, whatever the row's length. */
  def cosineTo(emb: Column, q: Array[Float]): Column = {
    val qD = q.map(_.toDouble)
    val qNorm = math.sqrt(qD.map(x => x * x).sum)
    if (qNorm == 0.0) F.lit(-1.0)
    else graft.plans.GraftFunctions.vecCosineToQ(emb, qD.toSeq, qNorm)
  }

  /** Exact top-k by cosine similarity to a single query vector. */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
                     q: Array[Float], k: Int): DataFrame =
    df.select(F.col(idCol), cosineTo(F.col(embCol), q).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(idCol))
      .limit(k)

  // ---- int8-quantized path: 4x less memory/bandwidth than float32 ----
  // Symmetric per-vector quantization: scale = maxAbs/127, code_i =
  // floor(x_i/scale + 0.5). At 10^12 embeddings the vector bytes ARE the
  // scan cost; int8 keeps 4x more of the index in page cache / memory for
  // a recall loss that is typically negligible at 64+ dims. Every step is
  // integer-valued double math (floor, integer dots), so the SQL oracle
  // reproduces it bit-exactly — no rounding-mode divergence.

  /** Driver-side quantization of the query vector. */
  def int8Codes(v: Array[Float]): Array[Double] = {
    var maxAbs = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > maxAbs) maxAbs = a; i += 1 }
    if (maxAbs == 0.0) return new Array[Double](v.length)
    val scale = maxAbs / 127.0
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = math.floor(v(i).toDouble / scale + 0.5); i += 1 }
    out
  }

  /** Quantized-cosine column: cosine of the int8 codes of `emb` and the
    * int8 codes of `q` (zero vectors rank last at -1.0, like cosineTo).
    * One compiled per-row kernel (`VecKernels.int8CosineToQ`) — the
    * expression form paid the interpreted-HOF walk AND re-evaluated the
    * `codes` subtree (with its embedded maxAbs aggregate) separately
    * inside the dot, the norm, and the guard. Same edge contract as
    * `cosineTo`: NULL on a length mismatch (empty rows included) or a
    * null row, -1.0 for an all-zero row of matching length, the constant
    * -1.0 for a zero or empty query. */
  def int8CosineTo(emb: Column, q: Array[Float]): Column = {
    val qCodes = int8Codes(q)
    val qNorm = math.sqrt(qCodes.map(x => x * x).sum)
    if (qNorm == 0.0) F.lit(-1.0)
    else graft.plans.GraftFunctions.vecInt8CosineToQ(emb, qCodes.toSeq, qNorm)
  }

  /** Top-k by int8-quantized cosine — the memory-lean brute-force tier. */
  def int8TopK(df: DataFrame, embCol: String, idCol: String,
               q: Array[Float], k: Int): DataFrame =
    df.select(F.col(idCol), int8CosineTo(F.col(embCol), q).as("icos"))
      .orderBy(F.col("icos").desc, F.col(idCol))
      .limit(k)

  /** Deterministic random hyperplanes: nBits x dim, seeded. */
  def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of the embedding under the hyperplanes. */
  def signature(v: Array[Float], planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var i = 0
    while (i < planes.length) {
      var dot = 0.0
      val p = planes(i)
      var j = 0
      while (j < p.length) { dot += v(j) * p(j); j += 1 }
      if (dot >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Add an LSH bucket column (random-hyperplane signature). The planes are
    * built on the driver and captured by the UDF closure (broadcast via
    * task serialization — a few KB). */
  def withLshBucket(df: DataFrame, embCol: String, nBits: Int, seed: Long, dim: Int): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    val sigUdf = F.udf((v: Array[Float]) => signature(v, planes))
    df.withColumn("lsh_bucket", sigUdf(F.col(embCol)))
  }

  /** ANN top-k: keep only rows whose bucket is within `probeHamming` of the
    * query's bucket (multi-probe), rank those by exact cosine. Recall is
    * tunable via nBits/probeHamming; verified against bruteForce in tests.
    *
    * NOTE: over a plain DataFrame this is a full scan with a cheap
    * predicate — the cosine work shrinks to the probed buckets, the IO does
    * not. For a disk-resident index at scale use writeLshIndexed +
    * lshTopKIndexed, where the same probe prunes partitions. */
  def lshTopK(df: DataFrame, embCol: String, idCol: String,
              q: Array[Float], k: Int, nBits: Int = 12, seed: Long = 42L,
              probeHamming: Int = 1): DataFrame = {
    val dim = q.length
    val planes = hyperplanes(dim, nBits, seed)
    val qSig = signature(q, planes)
    val indexed = withLshBucket(df, embCol, nBits, seed, dim)
    val candidates = indexed.filter(
      F.bit_count(F.col("lsh_bucket").bitwiseXOR(F.lit(qSig))) <= probeHamming)
    bruteForceTopK(candidates, embCol, idCol, q, k)
  }

  /** Materialize the LSH index: parquet partitioned by `lsh_bucket`, so a
    * probe's bucket filter becomes partition pruning (only the probed
    * directories are listed and read). One-time build cost; nBits sizes the
    * directory fan-out (2^nBits partitions). */
  def writeLshIndexed(df: DataFrame, embCol: String, path: String,
                      nBits: Int = 12, seed: Long = 42L, dim: Int = 64): Unit =
    withLshBucket(df, embCol, nBits, seed, dim)
      .write.mode("overwrite").partitionBy("lsh_bucket").parquet(path)

  /** Probe a materialized LSH index: enumerate the buckets within
    * `probeHamming` of the query signature (a driver-side loop over
    * 2^nBits values — trivial for nBits <= 20) and scan ONLY those
    * partitions. The scan's PartitionFilters prune everything else.
    * `dim` MUST match the writeLshIndexed call that built the index (the
    * hyperplanes are a function of dim — a mismatch would silently probe
    * unrelated buckets, hence the explicit parameter + guard). */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     embCol: String, idCol: String, q: Array[Float], k: Int,
                     nBits: Int = 12, seed: Long = 42L,
                     probeHamming: Int = 1, dim: Int = 64): DataFrame = {
    require(q.length == dim,
      s"query dim ${q.length} != index dim $dim (must match writeLshIndexed)")
    val planes = hyperplanes(dim, nBits, seed)
    val qSig = signature(q, planes)
    val probed = (0L until (1L << nBits))
      .filter(b => java.lang.Long.bitCount(b ^ qSig) <= probeHamming)
    val candidates = spark.read.parquet(path)
      .filter(F.col("lsh_bucket").isin(probed: _*))
    bruteForceTopK(candidates, embCol, idCol, q, k)
  }

  /** IVF (inverted-file) index: k-means centroids + cluster assignment.
    * The scale path for ANN when recall matters more than build cost:
    * queries probe the nProbe nearest centroids and scan only those
    * clusters (expected fraction nProbe/k of the index). Centroids are
    * trained distributed (spark.ml KMeans, seeded); assignment is a narrow
    * map over the broadcast centroids.
    */
  final case class IvfIndex(centroids: Array[Array[Double]]) extends Serializable {
    def nearestCentroids(v: Array[Double], nProbe: Int): Array[Int] =
      centroids.indices
        .map { i =>
          var d = 0.0
          val c = centroids(i)
          var j = 0
          while (j < c.length) { val t = v(j) - c(j); d += t * t; j += 1 }
          (i, d)
        }
        .sortBy(_._2).take(nProbe).map(_._1).toArray
  }

  def ivfFit(df: DataFrame, embCol: String, k: Int, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val prepared = df.select(
      array_to_vector(F.transform(F.col(embCol), x => x.cast("double"))).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(20).fit(prepared)
    IvfIndex(model.clusterCenters.map(_.toArray))
  }

  /** Assign each row to its nearest centroid (index build). */
  def ivfAssign(df: DataFrame, embCol: String, index: IvfIndex): DataFrame = {
    val assignUdf = F.udf { (v: Array[Float]) =>
      index.nearestCentroids(v.map(_.toDouble), 1)(0)
    }
    df.withColumn("ivf_cluster", assignUdf(F.col(embCol)))
  }

  /** IVF top-k: rank only the nProbe clusters nearest to the query.
    * Over a plain DataFrame the cluster filter is a full scan with a cheap
    * predicate; pruning requires the materialized form (writeIvfIndexed +
    * ivfTopKIndexed). */
  def ivfTopK(indexed: DataFrame, embCol: String, idCol: String,
              index: IvfIndex, q: Array[Float], k: Int, nProbe: Int = 2): DataFrame = {
    val probes = index.nearestCentroids(q.map(_.toDouble), nProbe)
    bruteForceTopK(
      indexed.filter(F.col("ivf_cluster").isin(probes.toSeq: _*)),
      embCol, idCol, q, k)
  }

  /** Materialize the IVF index: parquet partitioned by `ivf_cluster`, so
    * ivfTopKIndexed's probe filter becomes partition pruning (reads
    * nProbe/k of the files). */
  def writeIvfIndexed(df: DataFrame, embCol: String, index: IvfIndex, path: String): Unit =
    ivfAssign(df, embCol, index)
      .write.mode("overwrite").partitionBy("ivf_cluster").parquet(path)

  /** Probe a materialized IVF index: scan only the nProbe nearest
    * clusters' partitions. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     embCol: String, idCol: String, index: IvfIndex,
                     q: Array[Float], k: Int, nProbe: Int = 2): DataFrame = {
    val probes = index.nearestCentroids(q.map(_.toDouble), nProbe)
    bruteForceTopK(
      spark.read.parquet(path).filter(F.col("ivf_cluster").isin(probes.toSeq: _*)),
      embCol, idCol, q, k)
  }

  /** All-pairs near-neighbors above a cosine threshold via LSH buckets
    * (embedding-cosine near-dup detection). Exact cosine verifies each
    * candidate pair; only same-bucket pairs are compared.
    *
    * Recall lever — `signatures` INDEPENDENT sign-bit signatures
    * (hyperplane sets seeded seed+i), OR-amplified: a pair is a candidate
    * if it collides in ANY signature's bucket. This is the same
    * amplification structure as minhash banding: per-signature collision
    * probability for angle θ is (1-θ/π)^nBits, so raising nBits (needed at
    * scale to keep buckets small) costs recall per signature — adding
    * signatures buys it back as 1-(1-p)^r without touching bucket sizes.
    *
    * Scale shape: the banded self-join shuffles ONLY (signature, bucket,
    * id) rows — 20 bytes/row/signature, never the embedding vectors (256+
    * bytes each); candidates are deduped on ids across signatures BEFORE
    * the exact-cosine verify, and vectors+norms are re-attached to the
    * (small) candidate set by two id-joins. All verify math in double
    * (floats promoted, exactly like cosineTo) so threshold-boundary pairs
    * agree with the brute-force oracle; zero-norm rows get cosine -1.0
    * (never NaN). Hot buckets are capped at `maxBucket` rows per
    * (signature, bucket) with an observe metric — the quadratic defense
    * every banded operator shares (`Dedup.bucketPairs`). */
  def cosineDupPairs(df: DataFrame, embCol: String, idCol: String,
                     threshold: Double, nBits: Int = 10, seed: Long = 42L,
                     dim: Int = 64, maxBucket: Int = 1000,
                     signatures: Int = 4): DataFrame = {
    require(signatures >= 1, s"signatures must be >= 1: $signatures")
    val base = df.select(F.col(idCol), F.col(embCol))
    val planesAll = Array.tabulate(signatures)(i => hyperplanes(dim, nBits, seed + i))
    val sigsUdf = F.udf((v: Array[Float]) => planesAll.map(p => signature(v, p)))
    val banded = base.select(F.col(idCol),
      F.posexplode(sigsUdf(F.col(embCol))).as(Seq("sig_idx", "lsh_bucket")))
    // dedupe candidates on ids across signatures/buckets BEFORE the verify:
    // a true near-pair collides in many signatures and would otherwise be
    // cosine-verified once per collision
    val candidates = graft.dedup.Dedup.bucketPairs(banded, Seq("sig_idx", "lsh_bucket"),
      idCol, maxBucket, "cosine_dup_caps").distinct()
    exactCosine(candidates, base, embCol, idCol).filter(F.col("cosine") >= threshold)
  }

  /** (id_a, id_b, cosine) of candidate id pairs, vectors re-attached from
    * `base` (id, embedding) by two id-joins. Norms are per-ROW quantities:
    * they are computed once before the re-attach instead of twice per
    * candidate pair; norm and dot are compiled kernels (VecKernels —
    * bit-identical to the interpreted HOF chains they replaced, which
    * dominated the verify stage's task time). All math in double; a
    * zero-norm side gives -1.0, never NaN. */
  private def exactCosine(candidates: DataFrame, base: DataFrame,
                          embCol: String, idCol: String): DataFrame = {
    val withNorm = base.withColumn("__nrm",
      graft.plans.GraftFunctions.vecNorm(F.col(embCol)))
    val ta = withNorm.select(F.col(idCol).as("id_a"),
      F.col(embCol).as("emb_a"), F.col("__nrm").as("nrm_a"))
    val tb = withNorm.select(F.col(idCol).as("id_b"),
      F.col(embCol).as("emb_b"), F.col("__nrm").as("nrm_b"))
    val dot = graft.plans.GraftFunctions.vecDot(F.col("emb_a"), F.col("emb_b"))
    candidates
      .join(ta, "id_a").join(tb, "id_b")
      .select(F.col("id_a"), F.col("id_b"),
        F.when(F.col("nrm_a") === 0.0 || F.col("nrm_b") === 0.0, F.lit(-1.0))
          .otherwise(dot / (F.col("nrm_a") * F.col("nrm_b"))).as("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup over
    * an embedding column — cluster the space, then treat within-cluster
    * pairs above a cosine threshold as semantic duplicates and keep one
    * representative. Catches paraphrases and re-renderings that shingle
    * Jaccard (minhash/simhash) structurally cannot see.
    *
    * Shape: centroids come in as a (small, broadcastable) `IvfIndex` —
    * train with `ivfFit` (distributed KMeans) or pass deterministic
    * seed-row centroids; assignment is ONE narrow map (`ivfAssign`, no
    * shuffle). The only exchange is cluster-keyed: rows self-join within
    * their cluster, so the candidate count is Σ|cluster|², never n² —
    * the clustering plays the role LSH banding plays in
    * `cosineDupPairs`, with the same hot-partition defense (clusters
    * capped at `maxCluster` rows, dropped count published via the
    * `semdedup_caps` observe metric; at 10⁹+ rows raise k so clusters
    * stay ~10⁴). Norms are per-row quantities computed once before the
    * pair join; verify math all in double (the cosineDupPairs contract).
    *
    * Keep policy: a row is dropped iff some LOWER-id row in the same
    * cluster sits within the threshold — deterministic, order-free, and
    * exactly restatable in SQL (q73 gates assignment + pair + drop
    * end-to-end). Cross-cluster near-pairs are invisible by design —
    * that is SemDeDup's documented recall trade (raise nProbe-style
    * recall by lowering k or running `cosineDupPairs` for an
    * LSH-amplified sweep instead). Returns the surviving rows of `df`
    * with original columns. */
  def semDedup(df: DataFrame, embCol: String, idCol: String,
               index: IvfIndex, threshold: Double,
               maxCluster: Int = 100000): DataFrame = {
    val base = df.select(F.col(idCol), F.col(embCol))
    // the cluster-keyed exchange (cap + self-join, `Dedup.bucketPairs`)
    // carries ONLY (ivf_cluster, id) rows — never the embedding vectors,
    // which would otherwise be duplicated once per candidate pair
    // (Σ|c|² × 2 × vector bytes); vectors+norms are re-attached to the
    // (small) candidate set by two id-joins — the cosineDupPairs shape.
    // AnnSpec asserts no cluster-keyed exchange ships a vector.
    val assigned = ivfAssign(base, embCol, index)
      .select(F.col("ivf_cluster"), F.col(idCol))
    // one cluster per row: a pair shares at most one bucket, so no distinct
    val candidates = graft.dedup.Dedup.bucketPairs(assigned, Seq("ivf_cluster"),
      idCol, maxCluster, "semdedup_caps")
    val dropped = exactCosine(candidates, base, embCol, idCol)
      .filter(F.col("cosine") >= threshold)
      .select(F.col("id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }
}
