package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The figures a traced run prints are the ones `BENCHMARK.json` declares. */
class PerLayerSpec extends AnyFunSuite {
  test("PerLayer.All lists BENCHMARK.json's per_layer metrics, in order, with their units") {
    val file = Seq("../BENCHMARK.json", "BENCHMARK.json").map(Paths.get(_)).find(Files.exists(_))
    assert(file.isDefined, "BENCHMARK.json not found")
    val declared = new ObjectMapper().readTree(file.get.toFile).get("per_layer").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(PerLayer.All == declared)
  }
}
