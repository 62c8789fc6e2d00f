package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the TPC-H-ish test layout (TESTDATA.md).
  *
  * Mirrors the reference's gold-table read path (ref: `Apache
  * Iceberg/metadata_layer.py:76-85` — `datetime/bid/ask` gold tables):
  * every query starts from a declarative parquet scan so Catalyst pushes
  * filters and column pruning into the scan itself. At 100 TB this is
  * the difference between reading a projection and reading the table.
  */
object Tables {
  /** Base loaders are SESSION-MEMOIZED: opening a table lists its path
    * and reads one parquet footer on the driver ([[Parquet.read]], no
    * Spark job), then resolves the relation — the ten sf0.1-sized base
    * tables open in about 0.19 s (traced perfbench set-up, 4 vCPUs),
    * paid by every query invocation of every table without the memo
    * (724 query executions per bench run). The memo caches the analyzed
    * DataFrame OBJECT (schema + file index) once per (session, dir,
    * table) — never any data, and the testdata inputs are immutable
    * read-only files. Catalyst still analyzes/optimizes every
    * downstream query exactly as before. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SessionFrameCache.getOrBuild(spark, s"base_table|$dir|$name") {
      Parquet.read(spark, s"$dir/$name.parquet")
    }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  /** `events.ts` has shipped in two physical encodings across driver
    * testdata generations, so the reader branches on the LOADED type:
    *
    *  - parquet TIMESTAMP(NANOS) (rounds ≤8), which Spark 4 refuses by
    *    default ([PARQUET_TYPE_ILLEGAL]) — read as raw nanos under the
    *    `nanosAsLong` conf that [[graft.GraftSession]] sets (this reader
    *    writes no session conf), and truncate to a µs TimestampType
    *    with integer division (`div`, not `/` — a double roundtrip of
    *    an ~1.7e18 nanos value loses ~256 ns of precision);
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-9
    *    regeneration), which Spark loads as TIMESTAMP_NTZ — cast to
    *    TimestampType, value-preserving because every graft session
    *    pins `spark.sql.session.timeZone=UTC` ([[graft.GraftSession]]).
    *
    * DuckDB reads the native value either way, so queries only emit
    * second-or-coarser truncations (SURVEY §6); under the µs encoding
    * both engines see bit-identical timestamps.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Tick view over `events` (SURVEY §3): the reference's tick schema is
    * `(DateTime, Bid, Ask)` (ref: `Data Preprocessing and
    * Cleaning/spark_csv_parquet_converter_ver_1.py:67`); we map
    * `symbol=user_id, bid=value` and derive `ask` deterministically so
    * spread arithmetic is exercised. The same derivation appears verbatim
    * in the DuckDB oracle SQL (`SparkEntry.ticksSql`).
    */
  def ticks(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id").as("tick_id"),
      col("user_id").as("symbol"),
      col("ts"),
      col("value").as("bid"),
      (col("value") * lit(1.0002) + lit(0.01)).as("ask"))
}
