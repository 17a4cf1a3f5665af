package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  private val s = 1000000000L // one second in ns

  test("union of overlapping and disjoint intervals, clipped to the window") {
    assert(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(Tracer.unionNs(Nil, 0L, 10L) == 0L)
  }

  test("self time on a canned span tree") {
    //  bench.job  [0, 10]
    //    pipeline.run [0, 1]
    //    sink.write   [1, 9]
    //      spark.job  [2, 8]
    //        spark.stage [2, 5], spark.stage [4, 7]  (overlap: union 5 s)
    val spans = Seq(
      Span(1, 0, "bench.job", 0, 10 * s, "r"),
      Span(2, 1, "pipeline.run", 0, 1 * s, "r"),
      Span(3, 1, "sink.write", 1 * s, 9 * s, "r"),
      Span(4, 3, "spark.job", 2 * s, 8 * s, "r"),
      Span(5, 4, "spark.stage", 2 * s, 5 * s, "r"),
      Span(6, 4, "spark.stage", 4 * s, 7 * s, "r"))
    val self = Tracer.selfTimes(spans)
    assert(self("bench.job") == 1.0)
    assert(self("pipeline.run") == 1.0)
    assert(self("sink.write") == 2.0)
    assert(self("spark.job") == 1.0)
    assert(self("spark.stage") == 6.0)
    val layers = Main.layerSelf(spans)
    assert(layers == Map("bench" -> 1.0, "pipeline" -> 1.0, "sink" -> 2.0,
      "spark_job" -> 1.0, "spark_stage" -> 6.0))
  }

  test("a disabled tracer records nothing and still runs the body") {
    val tr = new Tracer(false, "r")
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.spans.isEmpty)
  }

  test("nested spans record their parent") {
    val tr = new Tracer(true, "r")
    tr.span("bench.job") { tr.span("sink.write")(()) }
    val byName = tr.spans.map(sp => sp.name -> sp).toMap
    assert(byName("sink.write").parent == byName("bench.job").id)
    assert(byName("bench.job").parent == 0)
  }
}
