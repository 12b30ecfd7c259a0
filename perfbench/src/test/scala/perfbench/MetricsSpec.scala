package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every metric a run can print is declared in BENCHMARK.json, with the
  * same unit and direction, and nothing else is declared there. */
class MetricsSpec extends AnyFunSuite {

  private lazy val bench = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(java.nio.file.Paths.get(_)).find(java.nio.file.Files.exists(_))
    new ObjectMapper().readTree(f.getOrElse(fail("BENCHMARK.json not found")).toFile)
  }

  private def declared(key: String): Seq[(String, String, String)] =
    bench.get(key).elements().asScala.toSeq.map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText))

  private def ours(ms: Seq[Metrics.M]) = ms.map(m => (m.name, m.unit, if (m.higherIsBetter) "higher" else "lower"))

  test("end-to-end metrics match BENCHMARK.json") {
    assert(declared("end_to_end") == ours(Metrics.endToEnd))
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(declared("per_layer") == ours(Metrics.perLayer))
  }

  test("workloads match BENCHMARK.json") {
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }

  test("a run that prints an undeclared or misses a declared metric is flagged") {
    val all = Metrics.endToEnd.map(m => (m.name, m.unit))
    assert(Metrics.mismatches(all, traced = false).isEmpty)
    assert(Metrics.mismatches(all.tail, traced = false).nonEmpty)
    assert(Metrics.mismatches(all :+ ("bogus" -> "s"), traced = false).nonEmpty)
    assert(Metrics.mismatches(all, traced = true).nonEmpty)
  }
}
