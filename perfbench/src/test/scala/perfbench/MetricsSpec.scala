package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json and the result line must name the same metrics with
  * the same units, or the benchmark's contract breaks silently. */
class MetricsSpec extends AnyFunSuite {

  private lazy val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def declared(key: String): Seq[(String, String)] =
    bench.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("BENCHMARK.json declares exactly the metrics the result line prints") {
    assert(declared("end_to_end").toSet == Main.EndToEnd.toSet)
    assert(declared("per_layer").toSet == Main.PerLayer.toSet)
  }

  test("BENCHMARK.json lists exactly the workloads the runner accepts") {
    val names = bench.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(names == Main.Workloads.toSet)
  }
}
