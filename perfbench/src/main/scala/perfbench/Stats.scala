package perfbench

/** Order statistics used in every report. `quartiles` reproduces Python's
  * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), so a
  * spread computed here equals the one a Python reader computes from the
  * same samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3) by the exclusive method with Python's clamping. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    val d = xs.sorted.toIndexedSeq
    val ld = d.length
    if (ld == 1) return (d(0), d(0), d(0))
    val n = 4
    val m = ld + 1
    val q = (1 until n).map { i =>
      val j = math.min(math.max(i * m / n, 1), ld - 1)
      val delta = i * m - j * n
      (d(j - 1) * (n - delta) + d(j) * delta) / n
    }
    (q(0), q(1), q(2))
  }

  /** Precision/recall F1 of boolean predictions against the truth; 1.0 when
    * neither side has a positive. */
  def f1(pairs: Iterable[(Boolean, Boolean)]): Double = {
    var tp = 0L; var fp = 0L; var fn = 0L
    pairs.foreach { case (pred, truth) =>
      if (pred && truth) tp += 1
      else if (pred) fp += 1
      else if (truth) fn += 1
    }
    if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2.0 * tp + fp + fn)
  }
}
