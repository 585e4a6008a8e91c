package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Driver-contract invariants: every oracle belongs to a registered
  * query, names are well-formed, and the flagship entry returns rows.
  */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("registry is non-trivial and names are filesystem-safe") {
    assert(SparkEntry.queries.size >= 40)
    assert(SparkEntry.queries.keys.forall(_.matches("[a-z0-9_]+")))
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL carries no tab/CR characters that could break JSON dump") {
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(!v.contains("\t") && !v.contains("\r"), s"$k has control chars")
    }
  }

  test("oracle JSON round-trips tab, quote and control characters") {
    val oracles = Map("q_ctrl" -> "SELECT '\t' AS t, '\"q\"' AS q, '\u0001' AS c",
      "q_plain" -> "SELECT 1")
    val back = new ObjectMapper().readValue(Verify.oracleJson(oracles),
      classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap === oracles)
  }
}
