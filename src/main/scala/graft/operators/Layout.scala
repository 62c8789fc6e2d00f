package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** H3 — data-layout clustering for multi-dimensional scan pruning.
  *
  * Sorting a table by ONE column gives parquet files tight min/max
  * stats on that column only; a predicate on any other column reads
  * every file. Interleaving the bits of two (bucketed) columns into a
  * Z-VALUE and range-partitioning by it gives every file a tight
  * bounding box in BOTH dimensions — the layout trick behind Delta
  * OPTIMIZE ZORDER BY and Iceberg's sort-order z-ordering. File
  * skipping then works for 2-D box predicates: the scan planner (or
  * [[filesTouched]] as the spec's stand-in) drops files whose
  * min/max box misses the predicate box.
  *
  * Pure bit arithmetic on bounded ints — codegen'd, shuffle only in
  * the final range partitioning (the write's own exchange).
  */
object Layout {

  /** Interleave the low `bits` bits of two non-negative int columns:
    * bit i of `a` lands at 2i, bit i of `b` at 2i+1. Result fits a
    * Long for bits ≤ 31. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-clustered on (`colA`, `colB`) into `nFiles` files:
    * range-partition by z-value (equal-frequency file boundaries via
    * Spark's range sampler), order rows by z within each file so
    * row-group stats are tight too. The z column is dropped from the
    * stored schema — it is a layout key, not data. */
  def zOrderWrite(df: DataFrame, path: String, colA: String, colB: String,
                  nFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** H4 — CO-LOCATED BUCKETED WRITE: persist a table hash-bucketed
    * (and sorted) on its join/agg key so every later equi-join or
    * aggregation on that key is SHUFFLE-FREE — Spark's bucket spec
    * satisfies the join's required distribution at plan time, turning
    * the 100 TB fact-fact join into a scan-side zipped merge (proof:
    * BucketedJoinSpec counts exchanges — bucketed join 1 (the final
    * one-row agg), plain parquet join 3). The bucket count is the
    * write-time knob that fixes downstream parallelism; both sides
    * must agree on (key, nBuckets) to co-locate — the same contract
    * Iceberg's `bucket(n, key)` partition transform carries
    * (ref: `Apache Iceberg/iceberg_migration.py` table layout). */
  def bucketedWrite(df: DataFrame, table: String, key: String,
                    nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key).sortBy(key)
      .saveAsTable(table)

  /** H5 — HIVE-PARTITIONED write: one directory per `partCol` value,
    * the layout that makes BOTH static partition pruning (a literal
    * filter on partCol never opens other directories) and DYNAMIC
    * partition pruning work — Spark inserts a runtime `dynamicpruning`
    * subquery into the fact scan when the fact is joined on partCol
    * to a broadcastable dim with a selective filter, so the fact
    * reads only the partitions the dim's surviving keys name. At
    * 100 TB this is THE difference between scanning a date-keyed
    * fact's whole history and its queried slice (LayoutSpec proves
    * both prunings on this layout). */
  def partitionedWrite(df: DataFrame, path: String, partCol: String,
                       filesPerPartition: Int = 1): Unit =
    df.repartition(filesPerPartition, col(partCol))
      .write.mode("overwrite")
      .partitionBy(partCol).parquet(path)

  /** Linear baseline: the same data sorted and ranged by `colA` only. */
  def linearWrite(df: DataFrame, path: String, colA: String,
                  nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(colA))
      .sortWithinPartitions(colA)
      .write.mode("overwrite").parquet(path)

  /** Per-file min/max bounding boxes of (`colA`, `colB`) — what
    * parquet footer stats carry, computed via `_metadata.file_path`
    * in ONE scan (no driver-side file loop). */
  def fileBoxes(spark: org.apache.spark.sql.SparkSession, path: String,
                colA: String, colB: String): DataFrame =
    graft.sources.Parquet.read(spark, path)
      .select(col(colA), col(colB),
        col("_metadata.file_path").as("file"))
      .groupBy("file")
      .agg(min(colA).as("a_min"), max(colA).as("a_max"),
        min(colB).as("b_min"), max(colB).as("b_max"))

  /** Number of files a 2-D box predicate must read under the given
    * layout = files whose bounding box intersects the predicate box.
    * This is exactly the skipping decision a stats-based planner
    * makes from footer min/max. */
  def filesTouched(boxes: DataFrame,
                   aLo: Long, aHi: Long, bLo: Long, bHi: Long): Long =
    boxes.filter(
      col("a_max") >= aLo && col("a_min") <= aHi &&
        col("b_max") >= bLo && col("b_min") <= bHi)
      .count()
}
