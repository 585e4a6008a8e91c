package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Unit coverage for Bench's pure helpers: the sentinel floor and the
  * byte-budgeted digest printed as the last stdout line.
  */
class BenchNoiseSpec extends AnyFunSuite {

  test("robustFloor is the p10 of history, immune to one-off fast flukes") {
    // a single 0.19 fluke among steady ~0.25 readings must not set the floor
    val hist = Seq(0.19) ++ Seq.fill(20)(0.25) ++ Seq.fill(20)(0.30)
    assert(BenchNoise.robustFloor(hist) === 0.25)
    // few samples: raw min (percentile meaningless)
    assert(BenchNoise.robustFloor(Seq(0.3, 0.2)) === 0.2)
    // degenerate inputs never divide-by-zero downstream
    assert(BenchNoise.robustFloor(Seq.empty) === 0.0)
    assert(BenchNoise.robustFloor(Seq(-1.0, 0.0)) === 0.0)
  }

  private val json = new ObjectMapper()
  private def head = json.createObjectNode()
    .put("metric", "total").put("value", 1.0).put("unit", "sec")
    .put("contended", false)

  test("digest: an overflowing carry still leaves room for the slowest newcomer") {
    // 80 carried keys cannot fit the budget on their own
    val carried = (1 to 80).map(i => f"carried_query_with_a_long_name_$i%02d" -> (10.0 + i))
    val newcomers = Seq("newcomer_slowest" -> 99.0, "newcomer_fast" -> 0.01)
    val (line, keys) = BenchNoise.digest(head, carried ++ newcomers, carried.map(_._1).toSet)
    assert(line.length <= BenchNoise.DigestBudget)
    val parsed = json.readTree(line)
    val shown = parsed.get("queries")
    assert(shown.has("newcomer_slowest"), line)
    assert(shown.get("newcomer_slowest").asDouble === 99.0)
    // the slowest carried key survives the trim, the fastest does not
    assert(shown.has("carried_query_with_a_long_name_80"))
    assert(!shown.has("carried_query_with_a_long_name_01"))
    assert(parsed.get("omitted").asInt === 82 - shown.size)
    assert(parsed.get("contended").asBoolean === false)
    // the saved carry rotates: the newcomer enters it
    assert(keys.toSet === shown.fieldNames.asScala.toSet)
  }

  test("digest: everything fits -> all queries, 3-decimal values, no omitted") {
    val (line, keys) = BenchNoise.digest(head,
      Seq("a" -> 1.23456, "b" -> -1.0, "c" -> 0.0005), Set("c"))
    val parsed = json.readTree(line)
    assert(keys.toSet === Set("a", "b", "c"))
    assert(parsed.get("queries").get("a").asDouble === 1.235)
    assert(parsed.get("queries").get("b").asDouble === -1.0)
    assert(parsed.get("queries").get("c").asDouble === 0.001)
    assert(!parsed.has("omitted"))
  }
}
