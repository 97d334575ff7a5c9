package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class BenchSpec extends AnyFunSuite {

  test("median of an odd count is the middle value") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(7.0)) == 7.0)
  }

  test("median of an even count is the mean of the two middle values, not the upper one") {
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.median(Seq(10.0, 1.0)) == 5.5)
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run prints") {
    implicit val f: Formats = DefaultFormats
    val spec = JsonMethods.parse(Files.readString(Paths.get("..", "BENCHMARK.json")))
    val listed = (spec \ "per_layer").extract[List[Map[String, String]]]
    assert(listed.map(_("name")) == Bench.PerLayer)
    assert(listed.map(_("unit")) == Bench.PerLayer.map(Bench.unit))
  }
}
