package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The metric names a run prints are the ones BENCHMARK.json declares. */
class CatalogueSpec extends AnyFunSuite {

  private val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String, String)] =
    bench.get(key).elements().asScala.map(n =>
      (n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq

  test("per-layer metrics match BENCHMARK.json in name, unit and direction") {
    assert(declared("per_layer") == PerLayer.Defs.map(d => (d.name, d.unit, d.better)))
  }

  test("end-to-end metrics match BENCHMARK.json") {
    assert(declared("end_to_end").map(_._1) == Main.EndToEnd)
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }
}
