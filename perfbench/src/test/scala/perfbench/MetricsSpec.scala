package perfbench

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val namePattern = "[A-Za-z0-9_.-]+"

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    names.foreach(n => assert(n.matches(namePattern) && n.head.isLetterOrDigit && n.length <= 64, n))
    assert(names.distinct.size == names.size)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = root.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    def units(key: String) = root.get(key).elements().asScala.map(_.get("unit").asText()).toSeq
    assert(names("end_to_end") == Metrics.EndToEnd.map(_._1))
    assert(units("end_to_end") == Metrics.EndToEnd.map(_._2))
    assert(names("per_layer") == Metrics.PerLayer.map(_._1))
    assert(units("per_layer") == Metrics.PerLayer.map(_._2))
    (names("end_to_end") ++ names("per_layer") ++ names("workloads"))
      .foreach(n => assert(n.matches(namePattern), n))
  }
}
