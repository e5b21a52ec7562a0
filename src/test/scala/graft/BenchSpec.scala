package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("three passes report each query's median; a query failing once reads -1") {
    val sleepsMs = Iterator(300L, 20L, 120L)
    var flakyCalls = 0
    val passes = Bench.measure(Seq(
      "q_ok" -> (() => Thread.sleep(sleepsMs.next())),
      "q_flaky" -> (() => {
        flakyCalls += 1
        if (flakyCalls == 2) throw new IllegalStateException("boom\nplan")
      })))
    assert(passes.size == Bench.Passes && Bench.Passes == 3)
    assert(flakyCalls == 3, "a failure must not stop the later passes")

    val lines = Bench.report(passes, "/data/sf", warmSec = 2.0,
      warmBreakdown = Seq("grams" -> 1.5))
    val Seq(full, compact) = lines.map(parse)

    val okTimes = passes.map(_.find(_._1 == "q_ok").get._2).sorted
    val median = BigDecimal(okTimes(1)).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    assert(okTimes(1) >= 0.12 && okTimes(1) < 0.3, okTimes)
    assert(BigDecimal(full.get("queries").get("q_ok").asText) == median)
    assert(full.get("queries").get("q_flaky").asDouble == -1)
    assert(full.get("errors").get("q_flaky").asText.contains("boom\nplan"))
    assert(!full.get("errors").has("q_ok"))
    assert(full.get("warm_breakdown").get("grams").asDouble == 1.5)

    // The compact headline is the last line and carries only scalars.
    assert(lines.last == lines(1))
    Seq("metric", "value", "unit", "sf", "n_queries", "passes", "pass_totals",
      "warm_sec", "value_with_warm", "n_errors")
      .foreach(k => assert(compact.has(k), s"compact line lacks $k"))
    assert(!compact.has("queries"))
    assert(BigDecimal(compact.get("value").asText) == median)
    assert(compact.get("n_queries").asInt == 2)
    assert(compact.get("passes").asInt == 3)
    assert(compact.get("pass_totals").size == 3)
    assert(compact.get("n_errors").asInt == 1)
    assert(BigDecimal(compact.get("value_with_warm").asText) == median + 2)
    assert(!new java.io.File("bench_last.json").exists())
  }
}
