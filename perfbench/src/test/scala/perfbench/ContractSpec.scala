package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json names exactly the metrics and workloads the harness
  * emits. */
class ContractSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  test("per-layer metrics match the harness list, with matching units") {
    val listed = spec.get("per_layer").elements().asScala.map(n =>
      n.get("name").asText() -> n.get("unit").asText()).toSeq
    assert(listed.map(_._1) == Main.PerLayer)
    for ((k, u) <- listed) assert(Main.unitOf(k) == u, k)
  }

  test("end-to-end metrics and workloads are the ones the harness runs") {
    val e2e = spec.get("end_to_end").elements().asScala.map(_.get("name").asText()).toSet
    assert(e2e == Set("setup_s", "op_p50_ms", "op_mean_ms", "heap_live_mb"))
    val ws = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(ws.forall(Main.Workloads.contains))
  }
}
