package graft.sim

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class AnnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val dim = 16
  // deterministic clustered vectors: 4 clusters of 25
  private def vec(cluster: Int, i: Int): Array[Float] = {
    val r = new java.util.Random(cluster * 1000L + i)
    Array.tabulate(dim) { d =>
      val center = if (d % 4 == cluster) 1.0f else 0.0f
      center + (r.nextGaussian() * 0.08).toFloat
    }
  }
  private val rows = for (c <- 0 until 4; i <- 0 until 25)
    yield (c * 25L + i, vec(c, i))

  test("brute-force top-k returns same-cluster neighbors in cosine order") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val q = vec(2, 999)
    val top = Ann.bruteForceTopK(df, "embedding", "vec_id", q, 10).collect()
    val ids = top.map(_.getLong(0))
    assert(ids.forall(id => id >= 50 && id < 75), s"expected cluster-2 ids, got ${ids.toSeq}")
    val cosines = top.map(_.getDouble(1))
    assert(cosines.toSeq == cosines.sorted(Ordering[Double].reverse).toSeq)
  }

  test("LSH top-k recall >= 0.8 vs brute force") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding").cache()
    val q = vec(1, 777)
    val exact = Ann.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.lshTopK(df, "embedding", "vec_id", q, k = 10,
      nBits = 10, seed = 3L, probeHamming = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF top-k recall >= 0.9 vs brute force while scanning a fraction") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding").cache()
    val index = Ann.ivfFit(df, "embedding", k = 4, seed = 11L)
    val indexed = Ann.ivfAssign(df, "embedding", index).cache()
    val q = vec(3, 555)
    val exact = Ann.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.ivfTopK(indexed, "embedding", "vec_id", index, q, k = 10, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall")
    // the probe really does restrict the scan
    val probes = index.nearestCentroids(q.map(_.toDouble), 1)
    val scanned = indexed.filter(org.apache.spark.sql.functions.col("ivf_cluster")
      .isin(probes.toSeq: _*)).count()
    assert(scanned < rows.size, s"IVF must scan a subset, scanned $scanned/${rows.size}")
  }

  test("materialized LSH index: probe prunes partitions, results match in-memory path") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    Ann.writeLshIndexed(df, "embedding", path, nBits = 8, seed = 3L, dim = dim)
    val q = vec(1, 777)
    val fromIndex = Ann.lshTopKIndexed(spark, path, "embedding", "vec_id", q,
      k = 10, nBits = 8, seed = 3L, probeHamming = 2, dim = dim)
    val inMemory = Ann.lshTopK(df, "embedding", "vec_id", q, k = 10,
      nBits = 8, seed = 3L, probeHamming = 2)
    assert(fromIndex.collect().map(_.getLong(0)).toSeq ==
      inMemory.collect().map(_.getLong(0)).toSeq)
    // the probe must reach the scan as a partition filter (directory
    // pruning), not a post-scan predicate
    val scans = fromIndex.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "lsh_bucket probe must become PartitionFilters on the scan")
  }

  test("materialized IVF index: probe prunes partitions, recall holds") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding").cache()
    val index = Ann.ivfFit(df, "embedding", k = 4, seed = 11L)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Ann.writeIvfIndexed(df, "embedding", index, path)
    val q = vec(3, 555)
    val exact = Ann.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val fromIndex = Ann.ivfTopKIndexed(spark, path, "embedding", "vec_id",
      index, q, k = 10, nProbe = 1)
    val ids = fromIndex.collect().map(_.getLong(0)).toSet
    assert(exact.intersect(ids).size.toDouble / exact.size >= 0.9)
    val scans = fromIndex.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "ivf_cluster probe must become PartitionFilters on the scan")
  }

  test("int8-quantized top-k: high overlap with exact top-k, codes in range") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val q = vec(2, 999)
    val exact = Ann.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Ann.int8TopK(df, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(quant).size >= 8,
      s"int8 recall too low: ${exact.intersect(quant).size}/10")
    // driver-side quantizer sanity: codes integral, bounded, zero-safe
    val codes = Ann.int8Codes(q)
    assert(codes.forall(c => c == math.rint(c) && math.abs(c) <= 127.0))
    assert(Ann.int8Codes(Array.fill(4)(0.0f)).forall(_ == 0.0))
  }

  test("cosineTo / int8CosineTo edge contract: NULL on a length mismatch, -1.0 for zero norms") {
    import spark.implicits._
    val q = Array(1.0f, 2.0f, 3.0f)
    val df = Seq[(Long, Array[Float])](
      (0L, Array(1.0f, 2.0f, 3.0f)), // matching length
      (1L, Array(0.0f, 0.0f, 0.0f)), // matching length, zero norm
      (2L, Array(1.0f, 2.0f)),       // ragged
      (3L, Array.empty[Float]),      // empty
      (4L, null),
    ).toDF("id", "emb")
    def eval(c: org.apache.spark.sql.Column): Map[Long, Option[Double]] =
      df.select(F.col("id"), c).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    for ((name, cos) <- Seq[(String, (org.apache.spark.sql.Column, Array[Float]) => org.apache.spark.sql.Column)](
        "cosineTo" -> Ann.cosineTo, "int8CosineTo" -> Ann.int8CosineTo)) {
      val got = eval(cos(F.col("emb"), q))
      assert(math.abs(got(0L).get - 1.0) < 1e-12, name)
      assert(got(1L) == Some(-1.0), name)
      assert(Seq(2L, 3L, 4L).forall(got(_).isEmpty), s"$name: $got")
      // a zero (or empty) query is the constant -1.0 on every row, whatever its length
      for (zq <- Seq(Array(0.0f, 0.0f, 0.0f), Array.empty[Float]))
        assert(eval(cos(F.col("emb"), zq)).values.forall(_ == Some(-1.0)), name)
    }
  }

  test("cosine dup pairs: zero-norm rows rank as -1.0, never NaN") {
    import spark.implicits._
    val withZero = rows.take(25) :+ (999L, Array.fill(dim)(0.0f))
    val df = withZero.toDF("vec_id", "embedding")
    val all = Ann.cosineDupPairs(df, "embedding", "vec_id",
      threshold = -2.0, nBits = 1, seed = 4L, dim = dim).collect()
    val zeroRows = all.filter(r => r.getLong(0) == 999L || r.getLong(1) == 999L)
    assert(zeroRows.nonEmpty, "zero vector must share the 2-bucket space with someone")
    assert(zeroRows.forall(r => r.getDouble(2) == -1.0),
      s"zero-norm pairs must be -1.0, got ${zeroRows.map(_.getDouble(2)).toSeq}")
    assert(all.forall(r => !r.getDouble(2).isNaN))
  }

  test("cosine dup pairs: OR-amplified signatures recover recall at production nBits") {
    import spark.implicits._
    // 100 planted near-dup pairs (twin = base + small noise, cosine ~0.99)
    // among mutually-unrelated random vectors. At nBits=10 a SINGLE
    // signature's collision probability for theta(0.99) ~ (1-0.045)^10 ~
    // 0.63 — the round-3 design's recall ceiling; 4 OR-amplified
    // signatures lift it to ~1-(1-0.63)^4 ~ 0.98 without touching bucket
    // sizes.
    def rvec(seed: Long): Array[Float] = {
      val r = new java.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def twin(v: Array[Float], seed: Long): Array[Float] = {
      val r = new java.util.Random(seed)
      v.map(x => x + (r.nextGaussian() * 0.05).toFloat)
    }
    val bases = (0 until 100).map(i => (i.toLong, rvec(1000L + i)))
    val twins = bases.map { case (id, v) => (id + 1000L, twin(v, 2000L + id)) }
    val df = (bases ++ twins).toDF("vec_id", "embedding").cache()
    def recallAt(sigs: Int): Double = {
      val got = Ann.cosineDupPairs(df, "embedding", "vec_id", threshold = 0.9,
        nBits = 10, seed = 42L, dim = dim, signatures = sigs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      bases.count { case (id, _) => got((id, id + 1000L)) }.toDouble / bases.size
    }
    val single = recallAt(1)
    val multi = recallAt(4)
    assert(multi >= 0.85, s"multi-signature recall $multi")
    assert(multi > single,
      s"OR-amplification must beat a single signature: $multi vs $single")
  }

  test("cosine dup pairs: banded exchange carries ids only — never the embeddings") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val pairs = Ann.cosineDupPairs(df, "embedding", "vec_id",
        threshold = 0.95, nBits = 8, seed = 4L, dim = dim)
      val exchanges = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val banded = exchanges.filter(_.output.exists(_.name == "lsh_bucket"))
      assert(banded.nonEmpty, "expected sig/bucket exchanges in the plan")
      banded.foreach { e =>
        val arrayCols = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]).map(_.name)
        assert(arrayCols.isEmpty,
          s"banded exchange must not shuffle embedding arrays, found: $arrayCols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("cosine near-dup pairs stay within clusters") {
    import spark.implicits._
    val df = rows.take(50).toDF("vec_id", "embedding") // clusters 0 and 1
    val pairs = Ann.cosineDupPairs(df, "embedding", "vec_id",
      threshold = 0.95, nBits = 8, seed = 4L, dim = dim).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      (a < 25) == (b < 25) // same cluster
    })
  }

  test("semDedup: cluster-keyed exchanges carry ids only — never the embeddings") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val index = Ann.ivfFit(df, "embedding", k = 4, seed = 7L)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = Ann.semDedup(df, "embedding", "vec_id", index, threshold = 0.97)
      val exchanges = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val clusterKeyed = exchanges.filter(_.output.exists(_.name == "ivf_cluster"))
      assert(clusterKeyed.nonEmpty, "expected cluster-keyed exchanges in the plan")
      clusterKeyed.foreach { e =>
        val arrayCols = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]).map(_.name)
        assert(arrayCols.isEmpty,
          s"cluster exchange must not shuffle embedding arrays, found: $arrayCols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("semDedup: matches a brute-force keep-lowest-id oracle and keeps cross-cluster near-pairs") {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val index = Ann.ivfFit(df, "embedding", k = 4, seed = 7L)
    val threshold = 0.97
    val survivors = Ann.semDedup(df, "embedding", "vec_id", index, threshold)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // brute-force restatement of the contract: dropped iff some lower-id
    // row in the SAME assigned cluster is within the cosine threshold
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val assigned = rows.map { case (id, v) =>
      (id, v, index.nearestCentroids(v.map(_.toDouble), 1)(0))
    }
    val expected = assigned.filter { case (id, v, cl) =>
      !assigned.exists { case (id2, v2, cl2) =>
        id2 < id && cl2 == cl && cos(v2, v) >= threshold
      }
    }.map(_._1).toSet
    assert(survivors == expected,
      s"diff: engine-only=${survivors -- expected}, oracle-only=${expected -- survivors}")
    // sanity on the shape: something was dropped, every cluster keeps its
    // own lowest-id member, and drops happened (clusters of 25 near-equal
    // vectors at 0.97 must collapse)
    assert(survivors.size < rows.size)
    val minPerCluster = assigned.groupBy(_._3).map { case (_, g) => g.map(_._1).min }
    assert(minPerCluster.forall(survivors.contains))
  }
}
