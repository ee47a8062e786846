package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class BenchmarkJsonSpec extends AnyFunSuite {
  implicit val formats: Formats = DefaultFormats
  private lazy val json = parse(scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8").mkString)

  private def listed(key: String): Seq[(String, String)] =
    (json \ key).children.map(m => ((m \ "name").extract[String], (m \ "unit").extract[String]))

  test("BENCHMARK.json lists exactly the metrics the harness emits") {
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
  }

  test("BENCHMARK.json workloads are ones the harness runs") {
    val names = (json \ "workloads").children.map(w => (w \ "name").extract[String])
    assert(names.nonEmpty && names.forall(Set("serve", "disk")))
  }
}
