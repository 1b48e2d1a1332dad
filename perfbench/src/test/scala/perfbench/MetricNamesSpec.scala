package perfbench

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Every metric a run prints is declared in BENCHMARK.json, and every
  * declared metric is printed, for every workload. */
class MetricNamesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private lazy val benchmark = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_))
      .find(_.exists).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }
  private def declared(section: String): Set[String] =
    benchmark.path(section).elements().asScala.map(_.path("name").asText()).toSet

  test("BENCHMARK.json declares exactly the workloads") {
    assert(declared("workloads") === WorkloadSpec.all.map(_.name).toSet)
  }

  WorkloadSpec.all.foreach { spec0 =>
    val spec = spec0.copy(patients = 30, secondSite = math.min(spec0.secondSite, 3))
    test(s"${spec.name}: printed metric names equal the declared ones") {
      val untraced = Runner.untraced(
        new CnicsWorkload(spec, spark, 3L, TestSession.tempDir("e2e")), seconds = 0)
      assert(untraced.correct)
      assert(untraced.metrics.keySet === declared("end_to_end"))
      assert(Runner.EndToEnd.toSet === declared("end_to_end"))
      val dir = TestSession.tempDir("traced")
      val traced = Runner.traced(new CnicsWorkload(spec, spark, 3L, dir), spark,
        seconds = 0, dir, 3L)
      assert(traced.correct)
      assert(traced.metrics.keySet === declared("per_layer"))
      assert(Layers.names.toSet === declared("per_layer"))
      assert(new java.io.File(s"$dir/trace-${spec.name}-3.json").exists)
    }
  }
}
