package graft.dedup

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.mm.Multimodal
import graft.sim.Ann

/** The hot-bucket cap of every banded near-dup operator publishes the
  * rows it drops as `capped_rows` under the operator's own observe name.
  * Each input is degenerate (a block of identical rows plus a few
  * distinct ones), so every cap binds, and each published count is
  * checked against the same count computed on the driver: bucket every
  * row with the operator's own kernels, then sum max(0, bucket size - cap)
  * over the buckets. */
class CapMetricSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Runs `body`, drains the listener bus and returns the last
    * `capped_rows` published under each of `names`. */
  private def capsOf(names: String*)(body: => Unit): Map[String, Long] = {
    val got = new ConcurrentHashMap[String, Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        names.foreach(n => qe.observedMetrics.get(n)
          .foreach(r => got.put(n, r.getAs[Long]("capped_rows"))))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    names.map(n => n -> got.getOrDefault(n, -1L)).toMap
  }

  /** Rows a cap of `k` drops when rows fall into buckets by `keysOf`. */
  private def dropped[T](rows: Seq[T], k: Int)(keysOf: T => Seq[Any]): Long =
    rows.flatMap(keysOf).groupBy(identity).values.map(b => math.max(0L, b.size.toLong - k)).sum

  private def words(seed: Long, n: Int): String =
    (0 until n).map(j => s"w${(Dedup.mix64(seed * 1000L + j) & Long.MaxValue) % 100000}")
      .mkString(" ")

  private val same = words(7L, 30)
  // 12 identical texts then 6 unrelated ones
  private val docs: Seq[(Long, String)] =
    (0L until 12L).map(i => (i, same)) ++ (12L until 18L).map(i => (i, words(i, 30)))

  /** Minhash band keys of a text, as the banded operators slice them. */
  private def minhashKeys(text: String, k: Int, bands: Int): Seq[Any] = {
    val sig = Dedup.minhashSignature(text, 3, k)
    val r = k / bands
    (0 until bands).map(b => (b, sig.slice(b * r, b * r + r).toSeq))
  }

  /** 16-bit band keys of a 64-bit hash, as `hammingDupPairsOf` slices it. */
  private def hammingKeys(h: Long): Seq[Any] = (0 until 4).map(i => (i, (h >>> (i * 16)) & 0xffffL))

  test("minhashDupPairs and simhashDupPairs publish the rows their caps drop") {
    import spark.implicits._
    val df = docs.toDF("id", "text")
    val mh = capsOf("minhash_caps") {
      Dedup.minhashDupPairs(df, "text", "id", k = 32, bands = 8, threshold = 0.5,
        maxBucket = 5).count()
    }
    val mhWant = dropped(docs, 5) { case (_, t) => minhashKeys(t, 32, 8) }
    assert(mhWant >= 8L * 7, s"the minhash cap must bind in every band, driver count $mhWant")
    assert(mh("minhash_caps") == mhWant)

    val sh = capsOf("simhash_caps") {
      Dedup.simhashDupPairs(df, "text", "id", maxBucket = 5).count()
    }
    val shWant = dropped(docs, 5) { case (_, t) => hammingKeys(Dedup.simhash(t)) }
    assert(shWant >= 4L * 7, s"the simhash cap must bind in every band, driver count $shWant")
    assert(sh("simhash_caps") == shWant)
  }

  test("imageDupPairs publishes the rows its cap drops") {
    import spark.implicits._
    // ids 0..7 are the same image, ids 8..10 distinct ones
    val blobs = (0L until 8L).map(i => Multimodal.synthNoisePng(i, baseId = 100L)) ++
      (8L until 11L).map(i => Multimodal.synthNoisePng(i))
    val got = capsOf("dhash_caps") {
      Multimodal.imageDupPairs(spark, spark.createDataset(blobs), maxBucket = 3).count()
    }
    val want = dropped(blobs, 3)(b => hammingKeys(Multimodal.dHash(b.payload)))
    assert(want >= 4L * 5, s"the dHash cap must bind in every band, driver count $want")
    assert(got("dhash_caps") == want)
  }

  private val dim = 8
  private def vec(seed: Long): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }
  // 10 identical vectors then 5 unrelated ones
  private val vecs: Seq[(Long, Array[Float])] =
    (0L until 10L).map(i => (i, vec(99L))) ++ (10L until 15L).map(i => (i, vec(i)))

  test("cosineDupPairs and semDedup publish the rows their caps drop") {
    import spark.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val cos = capsOf("cosine_dup_caps") {
      Ann.cosineDupPairs(df, "embedding", "vec_id", threshold = 0.9, nBits = 4,
        seed = 5L, dim = dim, maxBucket = 4, signatures = 3).count()
    }
    val planes = (0 until 3).map(i => Ann.hyperplanes(dim, 4, 5L + i))
    val cosWant = dropped(vecs, 4) { case (_, v) =>
      planes.zipWithIndex.map { case (p, i) => (i, Ann.signature(v, p)) } }
    assert(cosWant >= 3L * 6, s"the cosine cap must bind in every signature, driver count $cosWant")
    assert(cos("cosine_dup_caps") == cosWant)

    val index = Ann.IvfIndex(Array(vec(99L).map(_.toDouble), vec(12L).map(_.toDouble)))
    val sem = capsOf("semdedup_caps") {
      Ann.semDedup(df, "embedding", "vec_id", index, threshold = 0.9, maxCluster = 4).count()
    }
    val semWant = dropped(vecs, 4) { case (_, v) =>
      Seq(index.nearestCentroids(v.map(_.toDouble), 1)(0)) }
    assert(semWant >= 6L, s"the cluster cap must bind, driver count $semWant")
    assert(sem("semdedup_caps") == semWant)
  }

  test("dedupAgainstCorpus publishes each side's capped rows under its own metric") {
    import spark.implicits._
    // every batch text carries a word no corpus text has, so no batch row
    // is an exact duplicate and the whole batch reaches the banding
    val batch = (100L until 110L).map(i => (i, s"$same fresh$i"))
    val got = capsOf("inc_dedup_caps_batch", "inc_dedup_caps_corpus") {
      Dedup.dedupAgainstCorpus(batch.toDF("id", "text"), docs.toDF("id", "text"),
        "text", "id", k = 32, bands = 16, threshold = 0.5, maxBucket = 4).count()
    }
    val corpusWant = dropped(docs, 4) { case (_, t) => minhashKeys(t, 32, 16) }
    val batchWant = dropped(batch, 4) { case (_, t) => minhashKeys(t, 32, 16) }
    assert(corpusWant >= 16L * 8, s"the corpus cap must bind in every band, driver count $corpusWant")
    assert(batchWant > 0L, "the batch cap must bind")
    assert(got == Map("inc_dedup_caps_batch" -> batchWant, "inc_dedup_caps_corpus" -> corpusWant))
  }
}
