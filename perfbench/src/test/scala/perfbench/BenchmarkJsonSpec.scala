package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names every metric the benchmark prints, with its unit. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private lazy val json = parse(scala.io.Source.fromFile("../BENCHMARK.json").mkString)

  private def metrics(key: String): Seq[(String, String)] =
    (json \ key).children.map(m =>
      ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s))

  test("end-to-end metrics match what an untraced run prints") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match what a traced run prints") {
    assert(metrics("per_layer") == Layers.All)
  }

  test("every workload the file lists exists") {
    val names = (json \ "workloads").children.map(w => (w \ "name").asInstanceOf[JString].s)
    assert(names == Workload.Names)
  }
}
