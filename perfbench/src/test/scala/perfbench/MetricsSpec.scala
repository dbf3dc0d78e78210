package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {

  private val all = Metrics.EndToEnd ++ Metrics.PerLayer
  private val json = new ObjectMapper()

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    all.foreach { case (n, _) =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n)
    }
    assert(all.map(_._1).distinct.size == all.size)
    all.foreach { case (_, u) => assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u) }
    assert(Metrics.PerLayer.size <= 128)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val root = json.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def names(key: String) = root.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(names("end_to_end") == Metrics.EndToEnd)
    assert(names("per_layer") == Metrics.PerLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workload.Names)
  }

  test("the result line holds exactly the four keys and every named metric") {
    val line = Metrics.resultLine(correct = true, 7, 0, Metrics.EndToEnd,
      Map("setup_s" -> 1.25, "phase1_s" -> Double.NaN))
    val d = json.readTree(line)
    assert(d.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(d.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_._1))
    assert(d.get("metrics").get("setup_s").get("value").asDouble() == 1.25)
    assert(d.get("metrics").get("setup_s").get("unit").asText() == "s")
  }
}
