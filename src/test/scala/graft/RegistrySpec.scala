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

  /** Queries whose result is not SQL-expressible; the driver records a
    * weaker rows-only check for these, and SURVEY §2 declares each.
    * Empty since round 12: q_media_features gained a formula-derived
    * VALUES oracle. */
  private val declaredRowsOnly = Set.empty[String]

  test("every registered query has an oracle or a declared rows-only " +
      "exemption") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == declaredRowsOnly,
      s"queries without oracle beyond the declared set: " +
        s"${(missing -- declaredRowsOnly).toSeq.sorted}")
  }

  test("no orphan oracles (an oracle without a query would silently " +
      "never run)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"orphan oracles: ${orphans.toSeq.sorted}")
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
