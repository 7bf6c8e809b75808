package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val root = java.nio.file.Path.of("").toAbsolutePath.getParent
  private val spec = new ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile)

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the printed metric names and units are exactly the declared ones") {
    assert(Metrics.EndToEnd == declared("end_to_end"))
    assert(Metrics.PerLayer == declared("per_layer"))
  }

  test("every declared workload is one the benchmark runs") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty)
    names.foreach(n => assert(scala.util.Try(
      Workload(n, root.resolve("perfbench"), root.resolve(".bench_build/test"), 1L)).isSuccess, n))
  }

  test("a result line carries every declared metric and refuses a missing one") {
    val values = Metrics.EndToEnd.map(_._1 -> 1.25).toMap
    val line = BenchMain.resultLine(3, 0, BenchMain.select(Metrics.EndToEnd, values))
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(parsed.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_._1))
    assert(parsed.get("correct").asBoolean)
    assert(!new ObjectMapper().readTree(BenchMain.resultLine(3, 1, Seq.empty)).get("correct").asBoolean)
    intercept[IllegalStateException](BenchMain.select(Metrics.EndToEnd, values - "run_s"))
  }
}
