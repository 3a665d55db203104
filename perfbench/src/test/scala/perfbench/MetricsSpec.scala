package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `BENCHMARK.json` and [[Metrics]] name the same metrics with the same
  * units and directions, and list only workloads `Main` runs.
  */
class MetricsSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String, String)] = {
    val a = json.get(key)
    (0 until a.size).map(a.get).map(m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText))
  }

  test("end-to-end metrics match") {
    assert(listed("end_to_end") == Metrics.endToEnd.map(m => (m.name, m.unit, m.better)))
  }

  test("per-layer metrics match") {
    assert(listed("per_layer") == Metrics.perLayer.map(m => (m.name, m.unit, m.better)))
  }

  test("every listed workload runs") {
    val a = json.get("workloads")
    (0 until a.size).map(a.get(_).get("name").asText).foreach(w =>
      assert(Main.Workloads.contains(w), w))
  }
}
