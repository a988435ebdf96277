package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the workloads and metrics the runs print. */
class MetricsFileSpec extends AnyFunSuite {
  private val json = {
    val p = Seq(Paths.get("../BENCHMARK.json"), Paths.get("BENCHMARK.json")).find(Files.exists(_)).get
    JsonMethods.parse(Files.readString(p))
  }
  private def entries(key: String): Seq[(String, String)] = (json \ key).children.map { e =>
    val JString(n) = e \ "name": @unchecked
    val JString(u) = e \ "unit": @unchecked
    n -> u
  }

  test("end-to-end metrics match the untraced record") {
    assert(entries("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match the traced record") {
    assert(entries("per_layer") == PerLayer.Names)
  }

  test("workloads match the runner's") {
    val names = (json \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(names.toSet == Main.Workloads.keySet)
  }
}
