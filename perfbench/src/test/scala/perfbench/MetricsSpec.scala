package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  test("every per-layer name follows <module>.<Object>.<call>.<metric>") {
    assert(Metrics.PerLayer.size <= 128)
    Metrics.PerLayer.foreach { case (n, _) => assert(Metrics.validLayerName(n), n) }
    assert(Metrics.PerLayer.map(_._1).distinct.size == Metrics.PerLayer.size)
  }

  test("the name grammar rejects malformed names") {
    Seq(
      "operators.JoinView.build",                 // no metric
      "widgets.JoinView.build.wall_s",            // not an engine module
      "operators.joinView.build.wall_s",          // object not capitalised
      "operators.JoinView.Build.wall_s",          // call capitalised
      "operators.JoinView.build.wall s",          // space
      "_operators.JoinView.build.wall_s",         // leading underscore
      "operators.EntityBlockIndex.verifyTypo.a_metric_name_that_is_far_too_long_x"
    ).foreach(n => assert(!Metrics.validLayerName(n), n))
    assert(Metrics.validName("setup_s") && !Metrics.validName("setup s"))
  }

  test("median of odd and even samples") {
    assert(Metrics.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Metrics.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Metrics.median(Nil))
  }

  test("the result line carries the metrics by name and unit") {
    val line = Metrics.resultLine(correct = true, attempted = 5, failed = 0,
      Seq(("setup_s", "s", 1.25), ("jobs", "count", 12.0)))
    val j = new ObjectMapper().readTree(line)
    assert(j.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(j.get("metrics").get("setup_s").get("value").asDouble == 1.25)
    assert(j.get("metrics").get("jobs").get("unit").asText == "count")
  }

  private def benchmarkJson: JsonNode = {
    var dir = new File(sys.props("user.dir")).getCanonicalFile
    while (dir != null && !new File(dir, "BENCHMARK.json").isFile) dir = dir.getParentFile
    assert(dir != null, "BENCHMARK.json not found above the working directory")
    new ObjectMapper().readTree(new File(dir, "BENCHMARK.json"))
  }

  private def declared(j: JsonNode, key: String): Seq[(String, String)] =
    j.get(key).elements().asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)

  test("BENCHMARK.json declares exactly the metrics the harness reports") {
    val j = benchmarkJson
    assert(declared(j, "end_to_end") == Metrics.EndToEnd)
    assert(declared(j, "per_layer") == Metrics.PerLayer)
    assert(j.get("workloads").elements().asScala.map(_.get("name").asText)
      .forall(n => Workloads.all.exists(_.name == n)))
  }
}
