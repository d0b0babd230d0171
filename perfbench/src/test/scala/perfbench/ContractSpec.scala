package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The metric names the benchmark prints match BENCHMARK.json. */
class ContractSpec extends AnyFunSuite {

  private val bench: JsonNode = {
    val f = Seq(new java.io.File("../BENCHMARK.json"), new java.io.File("BENCHMARK.json"))
      .find(_.isFile).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }

  private def entries(key: String): Seq[JsonNode] = bench.get(key).elements().asScala.toSeq

  test("end-to-end metrics and units match") {
    assert(entries("end_to_end").map(e => e.get("name").asText -> e.get("unit").asText) ==
      Main.EndToEnd)
  }

  test("per-layer metrics, units and directions match") {
    assert(entries("per_layer").map(e =>
      (e.get("name").asText, e.get("unit").asText, e.get("better").asText)) ==
      Layers.Names.map(n => (n, Layers.unit(n), Layers.better(n))))
    assert(Layers.Names.size <= 128 && Layers.Names.distinct.size == Layers.Names.size)
  }

  test("every listed workload is one the benchmark runs") {
    assert(entries("workloads").map(_.get("name").asText).forall(Main.Workloads.contains))
  }

  test("interval union and overlap") {
    val u = Layers.union(Seq((5L, 8L), (0L, 2L), (1L, 3L), (7L, 9L)))
    assert(u == List((0L, 3L), (5L, 9L)))
    assert(Layers.length(u) == 7L)
    assert(Layers.intersect(u, List((2L, 6L))) == 2L)
  }
}
