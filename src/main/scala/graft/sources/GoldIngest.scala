package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reader for the reference's GOLD tick layout: parquet files with the
  * exact schema `datetime TIMESTAMP, bid DOUBLE, ask DOUBLE` (ref:
  * `Apache Iceberg/iceberg_migration.py:227-238` — the Iceberg gold
  * table DDL; the `Sample Dataset` folder ships a real 206k-row parquet
  * in this layout). One gold table holds one symbol; the symbol is carried
  * by table/folder name, not a column.
  *
  * Trino writes `TIMESTAMP(3)` without a zone, which Spark reads as
  * TimestampNTZ; the cast to session-zoned TimestampType is a lossless
  * reinterpretation under the engine's fixed UTC session zone.
  *
  * Downstream tick operators key ties on `tick_id`, which gold tables
  * don't store — it is assigned as the per-symbol arrival rank (for a
  * one-symbol gold file that is a single ranked partition by
  * definition: one symbol's history has one arrival order; with a real
  * multi-symbol `symbol` column the same window shuffles by symbol).
  */
object GoldIngest {

  /** A9b — multi-symbol gold DIRECTORY ingest. The reference's actual
    * layout is one gold table per symbol (`Symbol Data And Stats/` has
    * BTCUSD, US2000, US30, XAUUSD; per-symbol DDL in
    * `Apache Iceberg/iceberg_migration.py:227-238`): the symbol is the
    * table/folder NAME, not a column. This reads every `dir/<SYMBOL>/` parquet
    * in ONE Spark scan and re-materializes the symbol from the file
    * path via the `_metadata` column — no per-symbol driver loop, so a
    * 4-symbol directory and a 4000-symbol directory plan identically.
    * tick_id is the per-symbol arrival rank, same contract as [[read]];
    * the single window shuffles once by symbol.
    */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("ts", "bid", "ask")
    Parquet.read(spark, s"$dir/*")
      .select(
        CsvTickIngest.symbolFromPath(col("_metadata.file_path")).as("symbol"),
        col("datetime").cast("timestamp").as("ts"),
        col("bid"), col("ask"))
      .withColumn("tick_id", row_number().over(w).cast("long"))
      .select("tick_id", "symbol", "ts", "bid", "ask")
  }

  def read(spark: SparkSession, path: String, symbol: String): DataFrame = {
    // Order ties on (bid, ask) too: TIMESTAMP(3) gold data can carry
    // several ticks in one millisecond, and an order on ts alone would
    // hand tied rows run-dependent tick_ids (downstream ops tie-break
    // ON tick_id). Fully identical rows remain interchangeable, so
    // this is deterministic up to row identity.
    val w = Window.partitionBy("symbol").orderBy("ts", "bid", "ask")
    Parquet.read(spark, path)
      .select(lit(symbol).as("symbol"),
        col("datetime").cast("timestamp").as("ts"),
        col("bid"), col("ask"))
      .withColumn("tick_id", row_number().over(w).cast("long"))
      .select("tick_id", "symbol", "ts", "bid", "ask")
  }
}
