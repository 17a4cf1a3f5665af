package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = assert(math.abs(a - b) < 1e-12, s"$a != $b")

  test("quartiles match Python's statistics.quantiles(n=4), including its clamping") {
    // expected values printed by CPython 3.11 for the same inputs
    val cases = Seq(
      Seq(2.0, 1.0) -> (0.75, 1.5, 2.25),
      Seq(3.0, 1.0, 2.0) -> (1.0, 2.0, 3.0),
      Seq(5.0, 1.0, 4.0, 2.0, 3.0) -> (1.5, 3.0, 4.5),
      Seq(0.8, 1.1, 0.9, 1.3, 1.0, 1.2, 0.95, 1.05, 1.15, 0.85) -> (0.8875, 1.025, 1.1625),
      Seq(10.0, 10.0, 10.0, 10.0) -> (10.0, 10.0, 10.0))
    cases.foreach { case (xs, (q1, q2, q3)) =>
      val (a, b, c) = Stats.quartiles(xs)
      close(a, q1); close(b, q2); close(c, q3)
    }
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("keep/drop F1") {
    assert(Stats.f1(Seq(true -> true, false -> false)) == 1.0)
    assert(Stats.f1(Seq(false -> false)) == 1.0)
    // tp 1, fp 1, fn 1
    close(Stats.f1(Seq(true -> true, true -> false, false -> true)), 0.5)
  }
}
