package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ArgsSpec extends AnyFunSuite {

  test("every documented workload is accepted") {
    Workload.names.foreach { w =>
      assert(Args.parse(Seq("--workload", w, "--seed", "3")).workload == w)
    }
  }

  test("an unknown workload name is rejected before any work starts") {
    val e = intercept[IllegalArgumentException](Args.parse(Seq("--workload", "etl_customer")))
    assert(e.getMessage.contains("unknown workload 'etl_customer'"))
    intercept[IllegalArgumentException](Workload("nope", 1L, Paths.get("unused"), Map.empty))
  }

  test("bad trace flags and unknown options are rejected") {
    intercept[IllegalArgumentException](Args.parse(Seq("--workload", "etl_customers", "--trace", "2")))
    intercept[IllegalArgumentException](Args.parse(Seq("--workload", "etl_customers", "--sede", "1")))
  }

  test("the core count is fixed and never exceeds nproc") {
    intercept[IllegalArgumentException](Args.parse(Seq("--workload", "etl_customers", "--cores", "4")))
    val r = new Runner(Args.parse(Seq("--workload", "etl_customers", "--fingerprints", "unused.tsv")))
    assert(r.cores == math.min(Runner.Cores, Runtime.getRuntime.availableProcessors))
  }

  test("BENCHMARK.json names the metrics the benchmark reports, with their units") {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String) = root.get(key).elements().asScala
      .map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    assert(listed("end_to_end") == Metrics.endToEnd.map(m => (m.name, m.unit, m.better)))
    assert(listed("per_layer") == Metrics.perLayer.map(m => (m.name, m.unit, m.better)))
    val workloads = root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(workloads.nonEmpty && workloads.forall(Workload.names.contains))
  }
}
