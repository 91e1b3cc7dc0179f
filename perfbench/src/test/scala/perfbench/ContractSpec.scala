package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json declares what the harness prints; keep the two equal. */
class ContractSpec extends AnyFunSuite {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))

  private def entries(key: String) = json.get(key).elements().asScala.toSeq

  test("per_layer lists exactly the catalog the traced run prints") {
    val declared = entries("per_layer").map(m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText))
    assert(declared == Layers.Catalog)
  }

  test("workloads and end-to-end metrics match the harness") {
    assert(entries("workloads").map(_.get("name").asText) == Main.Workloads)
    val res = new Result
    Seq("setup_s", "latency_ms", "tail_ms", "throughput_per_s",
      "heap_retained_mb").foreach(k => res.endToEnd(k) = Metric(1.0, "x"))
    assert(entries("end_to_end").map(_.get("name").asText) == res.endToEnd.keys.toSeq)
  }
}
