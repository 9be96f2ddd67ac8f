package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The `Bench` stdout contract: one bare JSON line with the total and
  * every registered query's seconds. */
class BenchContractSpec extends AnyFunSuite {

  test("the contract line parses as JSON with all 252 queries and dot decimals under Locale.GERMANY") {
    val results = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (name, i) => name -> (0.125 + i / 1000.0) }.toMap
    val prev = java.util.Locale.getDefault
    val line =
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        Bench.contractLine(results, "/data/sf0.1")
      } finally java.util.Locale.setDefault(prev)
    assert(line.startsWith("{"), line.take(40))
    assert(!line.contains("\n"))
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "total")
    assert(json.get("unit").asText == "sec")
    assert(json.get("sf").asText == "/data/sf0.1")
    val qs = json.get("queries")
    assert(qs.size == 252)
    assert(SparkEntry.queries.keys.forall(qs.has))
    assert(qs.get("q01_pricing_summary").isDouble)
    assert(json.get("value").isDouble)
    assert(math.abs(json.get("value").asDouble - results.values.sum) < 0.001)
  }
}
