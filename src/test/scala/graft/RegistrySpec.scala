package graft

import graft.registry.Key
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Contract guards on the driver registry itself — the invariants the
  * correctness gate assumes but nothing previously enforced at test
  * time. (The SURVEY §2 ↔ registry key sync is checked by a comm(1)
  * one-liner; these are the query↔oracle invariants. A key declared
  * twice fails the registry build itself, in `Key.byName`.)
  */
class RegistrySpec extends AnyFunSuite {

  test("every key's oracle is a DuckDB query: non-blank, opening " +
      "with SELECT or WITH") {
    val bad = SparkEntry.oracleSql.filterNot { case (_, sql) =>
      val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
      head == "SELECT" || head == "WITH"
    }.keySet
    assert(bad.isEmpty, s"oracles that are not a query: ${bad.toSeq.sorted}")
  }

  /** Single-row global aggregates — ordering is vacuous. */
  private val singleRowOutputs =
    Set("q_ndv_profile", "q_snapshot_diff", "q_small_qty_revenue",
      "q_disjunctive_revenue", "q_zipf_fit", "q_forecast_revenue",
      "q_partition_skew", "q_psi_drift")

  test("a registry built with a repeated key name throws, naming it") {
    val b: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](Key.byName(Seq(
      Key("q_a", b, "SELECT 1"), Key("q_b", b, "SELECT 2"),
      Key("q_a", b, "SELECT 3"))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"),
      e.getMessage)
  }

  test("a key's oracle SQL is built on first use: a key whose oracle " +
      "throws can still be indexed and built") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val k = Key("q_lazy", (_, _) => { built.incrementAndGet(); null },
      throw new IllegalStateException("oracle built"))
    val byName = Key.byName(Seq(k))
    byName("q_lazy").build(null, "")
    assert(built.get == 1)
    intercept[IllegalStateException](byName("q_lazy").oracle)
  }

  test("queries and oracleSql are built once per JVM") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("oracle SQL ends in an explicit ORDER BY (the compare sorts " +
      "rows, but deterministic output is the §6 contract)") {
    val unordered = SparkEntry.oracleSql.filterNot { case (_, sql) =>
      sql.toUpperCase.contains("ORDER BY")
    }.keySet -- singleRowOutputs
    assert(unordered.isEmpty, s"oracles without ORDER BY: " +
      s"${unordered.toSeq.sorted}")
  }
}
