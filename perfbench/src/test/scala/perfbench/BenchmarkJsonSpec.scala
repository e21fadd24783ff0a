package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (one directory up) names exactly the metrics and
  * workloads this code reports.
  */
class BenchmarkJsonSpec extends AnyFunSuite {
  private lazy val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def metrics(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end and per-layer metrics match the code, unit for unit") {
    assert(metrics("end_to_end") == Metrics.endToEnd)
    assert(metrics("per_layer") == Metrics.perLayer)
  }

  test("workloads match the code") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workload.all.map(_.name))
  }
}
