package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableText.P
import graft.sources.{CsvTickIngest, Tables}

/** Driver-checkable AUDIT keys for the side-effectful A-section
  * operators (r14 verdict item #2): each key builds real on-disk
  * state in a throwaway location — a CSV lake, a partitioned catalog
  * table, an evolving parquet tree — runs the maintenance operator
  * under test, and returns a SMALL logical audit frame whose every
  * cell is derivable from the sfDir tables (or is a layout constant
  * pinned by the build parameters), so the DuckDB oracle can hash it.
  * Physical facts that no cross-engine oracle can know (byte sizes,
  * encodings, paths) stay in the ScalaTest-only specs.
  *
  * The returned frames are COLLECTED and re-parallelized before the
  * temp state is dropped — the caller gets a self-contained frame,
  * never a plan over deleted files — and every build uses a fresh
  * uniquely-named location/table, so Bench's double run and a shared
  * session cannot collide.
  */
object CatalogAudits {

  private val ctr = new java.util.concurrent.atomic.AtomicLong(0L)

  private def uniq(tag: String): String =
    s"graft_audit_${tag}_${ctr.incrementAndGet()}"

  private def tmpDir(tag: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), uniq(tag))
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** Materialize `df` off the temp state it reads (collect +
    * re-parallelize): audit frames are tiny (≤ |symbols| rows). */
  private def detach(s: SparkSession, df: DataFrame): DataFrame = {
    val schema = df.schema
    val rows = df.collect().toIndexedSeq
    s.createDataFrame(
      s.sparkContext.parallelize(rows, math.max(1, math.min(32,
        rows.length / 4096 + 1))), schema)
  }

  /** A1 — INGEST ROUND-TRIP: the sfDir tick view written out as the
    * reference's raw CSV layout (`DateTime` in the Dukascopy
    * `yyyyMMdd HH:mm:ss.SSS` format, Bid/Ask doubles, Volume
    * dropped; one `symbol=<id>` directory per symbol — the tree
    * `CsvTickIngest.read` walks), ingested back through the A1
    * reader, and audited per symbol: row count, exact bid-cents /
    * ask-e4 sums, and a millisecond-timestamp content hash. Doubles
    * round-trip CSV exactly (shortest-repr write, exact parse);
    * timestamps round-trip at the format's ms precision — which is
    * precisely what the oracle prices (`epoch_ms`).
    *
    * The audit runs on a deterministic 1/16 symbol slice: the
    * reader's contract (per-symbol directory tree, explicit schema,
    * ms parse) is identical per symbol, and the unsliced audit spent
    * 14 s/run writing ~1500 one-symbol CSV directories on the local
    * FS at sf0.1 — a harness cost, not a reader property (at real
    * scale the CSV tree is the INPUT, never something the engine
    * writes). */
  def ingestRoundTrip(s: SparkSession, d: String): DataFrame = {
    val root = tmpDir("ingest")
    try {
      Tables.ticks(s, d)
        .filter(pmod(col("symbol"), lit(16L)) === 0)
        .select(
          date_format(col("ts"), "yyyyMMdd HH:mm:ss.SSS").as("DateTime"),
          col("bid").as("Bid"), col("ask").as("Ask"),
          lit(0.0).as("Volume"), col("symbol"))
        .repartition(col("symbol"))
        .write.mode(SaveMode.Overwrite).partitionBy("symbol")
        .option("header", "true").csv(root.toString)
      val ing = CsvTickIngest.read(s, root.toString)
      detach(s, ing.groupBy("symbol").agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(round(Bid * 100.0, 0) AS BIGINT)"))
            .as("bid_cents"),
          sum(expr("CAST(round(Ask * 10000.0, 0) AS BIGINT)"))
            .as("ask_e4"),
          sum(pmod(unix_millis(col("ts")), lit(P))).as("ts_fp"))
        .orderBy("symbol"))
    } finally graft.LocalFiles.rmTree(root.toFile)
  }

  /** A29 — ORC INTERCHANGE ROUND-TRIP: the engine's second columnar
    * wire format (Spark ships a native ORC reader/writer; the
    * reference's lake is parquet-only, but a Trino/Hive federation —
    * its own deployment target — routinely serves ORC). The sfDir
    * tick slice is written as a symbol-partitioned ORC tree, read
    * back through `spark.read.orc`, and audited per symbol: row
    * count, exact bid-cents sum, and a µs-timestamp content
    * fingerprint. ORC stores timestamps at ns precision, so the µs
    * values round-trip exactly; doubles are IEEE-exact by format.
    * Every audit cell is derivable from the parquet source — THE
    * round-trip property under test is that the ORC path changes
    * nothing — so the DuckDB oracle prices the same cells off sfDir.
    * Same 1/16 symbol slice discipline as A1 (the tree write is
    * harness cost, not an engine property). */
  def orcRoundTrip(s: SparkSession, d: String): DataFrame = {
    val root = tmpDir("orc")
    try {
      Tables.ticks(s, d)
        .filter(pmod(col("symbol"), lit(16L)) === 0)
        .repartition(col("symbol"))
        .write.mode(SaveMode.Overwrite).partitionBy("symbol")
        .orc(root.toString)
      val back = s.read.orc(root.toString)
      // partition-column type inference reads `symbol=<id>` dirs as
      // INT — restore the tick schema's BIGINT for the oracle compare
      detach(s, back.groupBy(col("symbol").cast("long").as("symbol")).agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(round(bid * 100.0, 0) AS BIGINT)"))
            .as("bid_cents"),
          sum(expr("CAST(round(ask * 10000.0, 0) AS BIGINT)"))
            .as("ask_e4"),
          sum(pmod(unix_micros(col("ts")), lit(P))).as("ts_fp"))
        .orderBy("symbol"))
    } finally graft.LocalFiles.rmTree(root.toFile)
  }

  /** A30 — JSON-LINES INTERCHANGE ROUND-TRIP: the text-corpus wire
    * format (every LLM-data pipeline exchanges JSONL; the reference's
    * own props column is embedded JSON — A5b parses it, this audits
    * the WRITER side too). The documents table is written as JSONL
    * (escaping quotes/controls), read back through the inferring
    * reader, and audited per source: row count, exact char-count
    * sums (both the stored `n_chars` column and `length(text)`
    * recomputed AFTER the round trip — text mutation would split
    * them), the whole-text polynomial fingerprint sum mod P, and the
    * distinct-language count. The oracle prices the same cells off
    * the parquet source: the JSON escape/parse cycle must change
    * NOTHING. Schema inference maps int64 back to BIGINT and strings
    * to STRING — the audit is also the inference contract. */
  def jsonRoundTrip(s: SparkSession, d: String): DataFrame = {
    val root = tmpDir("jsonl")
    try {
      Tables.documents(s, d)
        .write.mode(SaveMode.Overwrite).json(root.toString)
      val back = s.read.json(root.toString)
      detach(s, back.groupBy("source").agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars_read"),
          sum(col("n_chars")).as("chars_stored"),
          sum(pmod(expr("graft_polyhash(text)"), lit(P))).as("text_fp"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source"))
    } finally graft.LocalFiles.rmTree(root.toFile)
  }

  /** A11 — COMPACTION AUDIT: the tick fact lands in TWO appends of 3
    * files each (the small-file debt incremental ingest accrues),
    * `compactPartitions` rewrites the year partition at an unbounded
    * byte target (→ exactly one right-sized file), and the audit
    * proves the rewrite is LOSSLESS and the layout is the planned
    * one: per year — files before, the compactor's own file count,
    * files actually on disk after, rows, and an order-free content
    * fingerprint that must equal the source's (compaction reorders
    * rows; it must never change the multiset). */
  def compactionAudit(s: SparkSession, d: String): DataFrame = {
    val name = uniq("compact")
    try {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
        .withColumn("year", year(col("ts")))
      base.filter(col("event_id") % 2 === 0).repartition(3)
        .write.partitionBy("year").saveAsTable(name)
      base.filter(col("event_id") % 2 === 1).repartition(3)
        .write.mode(SaveMode.Append).partitionBy("year")
        .saveAsTable(name)
      val years = s.table(name).select("year").distinct()
        .collect().map(_.getAs[Number]("year").intValue()).sorted.toSeq
      def filesPerYear(): Map[Int, Long] = {
        val loc = s.sql(s"DESCRIBE FORMATTED $name")
          .filter(col("col_name") === "Location")
          .select("data_type").head().getString(0)
        val conf = s.sparkContext.hadoopConfiguration
        years.map { y =>
          val dir = new org.apache.hadoop.fs.Path(loc, s"year=$y")
          val fs = dir.getFileSystem(conf)
          y -> fs.listStatus(dir).count(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")).toLong
        }.toMap
      }
      val before = filesPerYear()
      val planned = CatalogOps.compactPartitions(s, name, years,
        targetFileBytes = Long.MaxValue)
      val after = filesPerYear()
      val audit = s.table(name).groupBy("year").agg(
          count(lit(1)).as("n_rows"),
          pmod(sum(pmod(col("event_id") * 31 +
            expr("CAST(round(value * 100.0, 0) AS BIGINT)"), lit(P))),
            lit(P)).as("fp"))
        .withColumn("n_files_before",
          element_at(typedLit(before.map { case (k, v) =>
            k -> v }), col("year").cast("int")))
        .withColumn("n_files_planned",
          element_at(typedLit(planned.map { case (k, v) =>
            k -> v.toLong }), col("year").cast("int")))
        .withColumn("n_files_after",
          element_at(typedLit(after.map { case (k, v) =>
            k -> v }), col("year").cast("int")))
        .select("year", "n_files_before", "n_files_planned",
          "n_files_after", "n_rows", "fp")
        .orderBy("year")
      detach(s, audit)
    } finally s.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** A17 — SCHEMA-EVOLUTION REPORT: three ingest generations under
    * `gen=<n>` directories, each ADDING a column (gen 0: the bare
    * fact; gen 1: + `props`; gen 2: + `event_type`), merged-schema
    * read, and the per-generation backfill report — pre-evolution
    * rows must surface NULL in late-added columns, post-evolution
    * rows keep their natural nulls. */
  def evolutionAudit(s: SparkSession, d: String): DataFrame = {
    val root = tmpDir("evolve")
    try {
      val ev = Tables.events(s, d)
      ev.filter(col("event_id") % 3 === 0)
        .select("event_id", "user_id", "value")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/gen=0")
      ev.filter(col("event_id") % 3 === 1)
        .select("event_id", "user_id", "value", "props")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/gen=1")
      ev.filter(col("event_id") % 3 === 2)
        .select("event_id", "user_id", "value", "props", "event_type")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/gen=2")
      detach(s, CatalogOps.evolutionReport(s, root.toString,
        Seq("props", "event_type")))
    } finally graft.LocalFiles.rmTree(root.toFile)
  }

  /** A21 — ORPHAN-SWEEP AUDIT: a 4-file live partition plus a 2-file
    * UNREGISTERED partition directory (the dead-WAP-stage / killed-
    * overwrite shape the op's scaladoc names), dry-run → delete →
    * re-run, one audit row: total/referenced/orphan counts, files
    * deleted, orphans surviving the re-run (idempotency ⇒ 0), and
    * the live row count (the sweep must never touch table data). */
  def orphanAudit(s: SparkSession, d: String): DataFrame = {
    val name = uniq("orphan")
    try {
      Tables.events(s, d)
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("value"),
          year(col("ts")).as("year"))
        .repartition(4)
        .write.partitionBy("year").saveAsTable(name)
      val loc = s.sql(s"DESCRIBE FORMATTED $name")
        .filter(col("col_name") === "Location")
        .select("data_type").head().getString(0)
      s.range(10).toDF("event_id")
        .withColumn("user_id", col("event_id"))
        .withColumn("value", col("event_id").cast("double"))
        .repartition(2)
        .write.mode(SaveMode.Overwrite).parquet(s"$loc/year=9999")
      val dry = CatalogOps.removeOrphanFiles(s, name).collect()
      val swept = CatalogOps.removeOrphanFiles(s, name, delete = true)
        .collect()
      val rerun = CatalogOps.removeOrphanFiles(s, name, delete = true)
        .collect()
      def ref(r: org.apache.spark.sql.Row) = r.getAs[Boolean]("referenced")
      val nRows = s.table(name).count()
      detach(s, s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(dry.length.toLong,
          dry.count(ref).toLong, dry.count(!ref(_)).toLong,
          swept.count(_.getAs[Boolean]("deleted")).toLong,
          rerun.count(!ref(_)).toLong, nRows)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_files",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_referenced",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_orphans",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_deleted",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_orphans_after",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_rows_live",
            org.apache.spark.sql.types.LongType)))))
    } finally s.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** A22 — STORAGE-PROFILE LOGICAL SLICE: the footer-read profile's
    * two LOGICAL columns — per-column value count and footer-stats
    * null count — which a DuckDB oracle can check against the table
    * content (value counts include nulls for flat parquet schemas).
    * The physical half (bytes, ratios, encodings) is writer-specific
    * and stays under the A22 ScalaTest spec. */
  def storageProfileAudit(s: SparkSession, d: String): DataFrame = {
    val name = uniq("storprof")
    try {
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value", "props")
        .write.saveAsTable(name)
      detach(s, CatalogOps.storageProfile(s, name)
        .select("column", "n_values", "n_nulls")
        .orderBy("column"))
    } finally s.sql(s"DROP TABLE IF EXISTS $name")
  }
}
