package graft.langid

import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality of the langid accumulate kernel (`scoresLower`, and
  * `predictWithConfLower` on top of it) against the direct per-n-gram
  * loop `s(c) += logProbT(base + c)`, kept here as the oracle. Class
  * counts cover the vector loop's pre/main/post parts (1, 2, 15, 16, 17,
  * 97, 128); texts cover null, empty, one char, exactly `nMax` chars,
  * surrogate pairs and the strided path past 2048 and 4096 chars. Each
  * model is scored over many texts so the kernel is JIT-compiled while
  * the comparison runs. */
class NGramKernelSpec extends AnyFunSuite {

  private def oracleScores(m: NGramModel, text: String): Array[Double] = {
    val nc = m.numClasses
    if (text == null) return m.logPrior.clone()
    val s = m.logPrior.map(_.toFloat)
    val lp = m.logProbT
    val stride = 1 + text.length / 2048
    var n = m.nMin
    while (n <= m.nMax) {
      var i = 0
      val end = text.length - n
      while (i <= end) {
        var h = n.toLong
        var j = i
        while (j < i + n) { h = 31 * h + text.charAt(j); j += 1 }
        val base = NGramLangId.bucketOf(h, m.numBuckets) * nc
        var c = 0
        while (c < nc) { s(c) += lp(base + c); c += 1 }
        i += stride
      }
      n += 1
    }
    s.map(_.toDouble)
  }

  private def oracleWithConf(m: NGramModel, text: String): (Int, Double) = {
    val scores = oracleScores(m, text)
    var best = 0; var i = 1
    while (i < scores.length) { if (scores(i) > scores(best)) best = i; i += 1 }
    val n = math.max(1, NGramLangId.sampledNgrams(text, m.nMin, m.nMax))
    var sum = 0.0
    i = 0
    while (i < scores.length) { sum += math.exp((scores(i) - scores(best)) / n); i += 1 }
    (best, 1.0 / sum)
  }

  private def randomModel(rnd: scala.util.Random, nc: Int, numBuckets: Int,
                          nMin: Int, nMax: Int): NGramModel = {
    val prior = Array.fill(nc)(math.log(rnd.nextDouble() * 0.9 + 0.05))
    val table = Array.fill(numBuckets * nc)((-1.0 - rnd.nextDouble() * 12.0).toFloat)
    NGramModel(Array.tabulate(nc)(c => s"c$c"), numBuckets, nMin, nMax, prior, table)
  }

  private val alphabet = "abcdefghij klmnopqrstuvwxyzäßéİıΣа中.,!?0123456789"

  private def randomText(rnd: scala.util.Random, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 2)
    while (sb.length < len) {
      if (rnd.nextInt(40) == 0) sb.appendCodePoint(0x1F600 + rnd.nextInt(64)) // surrogate pair
      else sb.append(alphabet.charAt(rnd.nextInt(alphabet.length)))
    }
    sb.toString
  }

  private def fixedTexts(rnd: scala.util.Random, m: NGramModel): Seq[String] = Seq(
    null, "", "a", "é", "a" * m.nMax, randomText(rnd, m.nMax),
    "😀", "x😀y👍z", "\ud83d", // lone high surrogate
    randomText(rnd, 2047), randomText(rnd, 2048), randomText(rnd, 2049),
    randomText(rnd, 4095), randomText(rnd, 4096), randomText(rnd, 4097),
    randomText(rnd, 9000),
  )

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)))

  for (nc <- Seq(1, 2, 15, 16, 17, 97, 128); (nMin, nMax) <- Seq((1, 3), (2, 3), (2, 5))) {
    test(s"scoresLower and predictWithConfLower are bit-equal to the direct loop: nc=$nc n=$nMin..$nMax") {
      val rnd = new scala.util.Random(nc * 31 + nMin * 7 + nMax)
      val m = randomModel(rnd, nc, numBuckets = 256, nMin, nMax)
      val texts = fixedTexts(rnd, m) ++ Seq.fill(400)(randomText(rnd, rnd.nextInt(300)))
      // twice over: the second round runs the JIT-compiled kernel
      for (_ <- 0 until 2; t <- texts) {
        val got = m.scoresLower(t)
        val want = oracleScores(m, t)
        assert(sameBits(got, want), s"scores differ on a ${Option(t).map(_.length)}-char text")
        val (gi, gc) = m.predictWithConfLower(t)
        val (wi, wc) = oracleWithConf(m, t)
        assert(gi == wi && java.lang.Double.doubleToRawLongBits(gc) ==
          java.lang.Double.doubleToRawLongBits(wc), s"prediction differs on a ${Option(t).map(_.length)}-char text")
      }
    }
  }
}
