package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class CatalogueSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** BENCHMARK.json sits at the repository root, beside this build's dir. */
  private lazy val benchmark: JsonNode =
    mapper.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def declared(kind: String): Seq[(String, String)] =
    benchmark.get(kind).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("BENCHMARK.json declares exactly the catalogue's metrics and units") {
    assert(declared("end_to_end") == Catalogue.endToEnd.map(m => m.name -> m.unit))
    assert(declared("per_layer") == Catalogue.perLayer.map(m => m.name -> m.unit))
    assert(benchmark.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Main.Workloads)
  }

  test("every declared metric appears in the result line with its unit") {
    for (workload <- Main.Workloads; traced <- Seq(false, true)) {
      val kind = if (traced) "per_layer" else "end_to_end"
      val owned = Main.Owned(workload)
      val values = (Catalogue.endToEnd.map(_.name) ++ owned).map(_ -> 1.25).toMap
      val line = mapper.readTree(Catalogue.resultJson(correct = true, attempted = 3,
        failed = 0, values = values, traced = traced, owned = owned))
      assert(line.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      val metrics = line.get("metrics")
      assert(metrics.size() == declared(kind).size)
      declared(kind).foreach { case (name, unit) =>
        val m = metrics.get(name)
        assert(m != null, s"$name missing from the $workload $kind result")
        assert(m.get("unit").asText() == unit)
        assert(m.get("value").isNumber)
        if (traced) assert(m.get("value").asDouble() == (if (owned(name)) 1.25 else 0.0))
      }
    }
  }

  test("an end-to-end metric a workload did not measure is an error, not a zero") {
    intercept[IllegalStateException] {
      Catalogue.resultJson(correct = true, attempted = 1, failed = 0,
        values = Map("setup_s" -> 1.0), traced = false, owned = Set.empty)
    }
  }

  test("a per-layer metric of a layer the workload declares is an error when missing") {
    val owned = Main.Owned("cdc_replay")
    val all = owned.map(_ -> 1.0).toMap
    assert(Catalogue.missing(all, traced = true, owned).isEmpty)
    assert(Catalogue.missing(all - "keybloom.skip_frac", traced = true, owned) ==
      Seq("keybloom.skip_frac"))
    val e = intercept[IllegalStateException] {
      Catalogue.resultJson(correct = true, attempted = 1, failed = 0,
        values = all - "stage.stream.cpu_s", traced = true, owned = owned)
    }
    assert(e.getMessage.contains("stage.stream.cpu_s"))
  }

  test("every per-layer metric belongs to a layer some workload measures") {
    val measured = Main.Owned.values.flatten.toSet
    assert(Catalogue.perLayer.map(_.name).filterNot(measured).isEmpty)
    // the workloads' own layers do not overlap
    assert((Main.Owned("cdc_replay") & Main.Owned("operator_suite")) ==
      Catalogue.owned(Nil))
  }
}
