package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.Parquet

/** Catalog-backed lakehouse operations — the Spark-native analog of the
  * reference's Iceberg/Trino storage layer: year-partitioned gold
  * tables, snapshot appends, partition-level rewrites, and MERGE-style
  * upserts (ref: `Apache Iceberg/iceberg_migration.py:227-262` creates
  * `partitioning = ARRAY['year(datetime)']` tables and INSERTs through
  * the catalog; `iceberg_time_travel.py:43-66` reads them back).
  *
  * Tables are managed parquet in the session catalog — the same
  * DataFrame API (`saveAsTable` / `insertInto` / dynamic partition
  * overwrite) drives an Iceberg or Delta catalog unchanged when those
  * jars are on the cluster classpath; transactional snapshots are the
  * catalog's job, not the query engine's. Partitioning by derived
  * `year` gives partition PRUNING on year predicates — scans touch
  * only matching directories (proved in `CatalogSpec`).
  */
object CatalogOps {

  /** Run an `insertInto` overwrite under dynamic partition overwrite,
    * so it rewrites only the partitions present in the written rows;
    * the session's own `partitionOverwriteMode` is restored after. */
  private def dynamicOverwrite(spark: SparkSession)(write: => Unit): Unit =
    GraftSession.withConf(spark, "spark.sql.sources.partitionOverwriteMode",
      "dynamic")(write)

  /** Create (or replace) a year-partitioned gold table from a tick
    * frame with a `ts` timestamp column. Null timestamps are dropped at
    * the door, as the reference's loader does
    * (`iceberg_migration.py: WHERE datetime IS NOT NULL`).
    */
  def createGoldTable(ticks: DataFrame, table: String, tsCol: String = "ts"): Unit =
    ticks
      .filter(col(tsCol).isNotNull)
      .withColumn("year", year(col(tsCol)))
      .write
      .partitionBy("year")
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** Append a snapshot of new rows to an existing gold table — the
    * INSERT INTO path. `insertInto` binds columns POSITIONALLY and
    * silently mis-binds if the frame's column order drifts from the
    * table's, so the frame is re-projected into the table's own column
    * order first (a missing column then fails analysis loudly instead
    * of corrupting the table). */
  def appendSnapshot(rows: DataFrame, table: String, tsCol: String = "ts"): Unit = {
    val tableCols = rows.sparkSession.table(table).schema.fieldNames
    rows
      .filter(col(tsCol).isNotNull)
      .withColumn("year", year(col(tsCol)))
      .select(tableCols.map(col).toSeq: _*)
      .write
      .mode(SaveMode.Append)
      .format("parquet")
      .insertInto(table)
  }

  /** Rewrite ONLY the partitions present in `rows` (dynamic partition
    * overwrite), leaving every other year untouched — the bounded
    * "rewrite one day/year of bad data" maintenance op. Static
    * overwrite mode would truncate the whole table first. */
  def overwritePartitions(rows: DataFrame, table: String, tsCol: String = "ts"): Unit = {
    val spark = rows.sparkSession
    val tableCols = spark.table(table).schema.fieldNames
    dynamicOverwrite(spark)(
      rows
        .filter(col(tsCol).isNotNull)
        .withColumn("year", year(col(tsCol)))
        .select(tableCols.map(col).toSeq: _*)
        .write
        .mode(SaveMode.Overwrite)
        .format("parquet")
        .insertInto(table))
  }

  /** Partition-level RESTORE: put the listed `years` of `table` back to
    * the state carried by `snapshot` (an as-of read, e.g.
    * `Lakehouse.rollbackTo` over the append log) — the physical half of
    * a snapshot rollback when the catalog can't move a metadata pointer
    * (ref: `Apache Iceberg/iceberg_time_travel.py:209-225`; Iceberg
    * does this as an O(1) pointer move, parquet tables as a bounded
    * partition rewrite). Years the snapshot still has rows for are
    * rewritten in place (dynamic overwrite — other partitions
    * untouched); listed years with NO snapshot rows were created
    * entirely by the bad load and are dropped. The only driver-side
    * data is the distinct-year list — partition-count-bounded metadata,
    * never rows.
    */
  def restorePartitions(spark: SparkSession, table: String,
                        snapshot: DataFrame, years: Seq[Int],
                        tsCol: String = "ts"): Unit = {
    val inScope = snapshot.filter(year(col(tsCol)).isin(years: _*))
    val present = inScope.select(year(col(tsCol)).as("y"))
      .distinct().collect().map(_.getInt(0)).toSet
    years.filterNot(present).foreach { y =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (year=$y)")
    }
    if (present.nonEmpty) overwritePartitions(inScope, table, tsCol)
  }

  /** Small-file COMPACTION: rewrite each listed year partition into
    * `ceil(partitionBytes / targetFileBytes)` files — the maintenance
    * op that keeps scan-task counts bounded after many incremental
    * appends (each [[appendSnapshot]] leaves its own files; Iceberg
    * calls this `rewrite_data_files`). File counts derive from the
    * partition's ACTUAL bytes via the table's file listing — never a
    * fixed count — so the same call yields right-sized files whether
    * the partition holds 10 MB or 10 TB. Partitions compact as
    * independent bounded jobs (dynamic overwrite touches only the
    * year being rewritten; an orchestrator parallelizes years), and
    * each rewrite materializes before the overwrite, as
    * [[upsertTable]] does, because Spark refuses to overwrite a path
    * it is still reading.
    *
    * @return year → number of files written, for the maintenance log.
    */
  def compactPartitions(spark: SparkSession, table: String, years: Seq[Int],
                        targetFileBytes: Long = 128L * 1024 * 1024)
      : Map[Int, Int] = {
    val loc = spark.sql(s"DESCRIBE FORMATTED $table")
      .filter(col("col_name") === "Location")
      .select("data_type").head().getString(0)
    val conf = spark.sparkContext.hadoopConfiguration
    years.map { y =>
      val dir = new org.apache.hadoop.fs.Path(loc, s"year=$y")
      val fs = dir.getFileSystem(conf)
      // A listed year with no partition directory is a no-op (logged
      // as 0 files), not a mid-loop crash — the op stays idempotent
      // over a maintenance-schedule year list.
      if (!fs.exists(dir)) y -> 0
      else {
        // Exclude both '_'-metadata (e.g. _SUCCESS) and '.'-hidden
        // files: on ChecksumFileSystem (local FS) every part file has
        // a sibling '.part-*.crc' that would inflate the byte count
        // and thus the size-derived file-count target.
        val bytes = fs.listStatus(dir)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
          .map(_.getLen).sum
        val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        // repartition, not coalesce: coalesce can only REDUCE the
        // scan's task count, silently under-splitting a partition
        // whose scan yields fewer tasks than the size-derived target
        // (e.g. one giant file with targetFileBytes <
        // maxPartitionBytes).
        val compacted = spark.table(table)
          .filter(col("year") === y)
          .repartition(n)
          .localCheckpoint(true)
        dynamicOverwrite(spark)(
          compacted.write.mode(SaveMode.Overwrite).format("parquet")
            .insertInto(table))
        y -> n
      }
    }.toMap
  }

  /** MERGE-style upsert as a pure plan: rows of `target` whose key
    * matches an update are replaced (WHEN MATCHED THEN UPDATE), update
    * rows with unseen keys are appended (WHEN NOT MATCHED THEN
    * INSERT). `updates` must carry the same columns as `target` and
    * one row per key.
    *
    * Scale shape: one left-anti shuffle join on the key plus a union —
    * exactly the join MERGE INTO plans on a transactional catalog;
    * with AQE the anti join broadcasts when the update batch is small,
    * which is the common case for incremental upserts.
    */
  def upsertPlan(target: DataFrame, updates: DataFrame,
                 keys: Seq[String]): DataFrame =
    target.join(updates, keys, "left_anti").unionByName(updates)

  /** Execute [[upsertPlan]] against a catalog table in place. The
    * merged result is materialized (`localCheckpoint`) BEFORE the
    * overwrite — Spark refuses to overwrite a path it is still
    * reading from, and a transactional MERGE belongs to the catalog
    * format; this is the parquet-table equivalent with a read barrier.
    */
  def upsertTable(spark: SparkSession, table: String, updates: DataFrame,
                  keys: Seq[String],
                  partitionCols: Seq[String] = Seq.empty): Unit = {
    // A long-lived session (a streaming foreachBatch sink — G32) can
    // hold a cached file listing from before the PREVIOUS upsert's
    // overwrite; reading through it throws FILE_NOT_EXIST mid-merge.
    // Refresh costs one metadata invalidation and makes repeated
    // upserts safe from any session.
    spark.catalog.refreshTable(table)
    val merged = upsertPlan(spark.table(table), updates, keys)
      .localCheckpoint(true)
    merged.write
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)
    // ... and after: readers holding pre-overwrite plans (the session
    // that drove the G32 stream wiring) must not list the files the
    // overwrite just replaced.
    spark.catalog.refreshTable(table)
  }

  /** A20 — SUBJECT-KEY ERASURE: the right-to-be-forgotten pass
    * (GDPR art. 17) as a PARTITION-PRUNED rewrite — the lakehouse
    * DELETE the A-block's upsert (A8) is missing. One scan finds
    * which partitions contain the subjects (and how many rows — the
    * erasure AUDIT a compliance request must return); only those
    * partitions rewrite, via the same dynamic-overwrite discipline
    * as [[upsertTable]]/`compactPartitions` — untouched partitions
    * keep their files byte-for-byte (spec'd at file level), which at
    * 100 TB is the difference between rewriting a year and
    * rewriting everything.
    *
    * Returns the per-partition erased-row audit; an empty map means
    * the subjects were already absent and NOTHING was rewritten
    * (idempotent — a re-run of a compliance job must not churn
    * files). Erasure here is physical removal from the CURRENT table
    * state; a deployment keeping time-travel snapshots must also
    * expire them (A14 `expireSnapshots` — the two ops compose, and
    * compliance REQUIRES the composition). */
  def eraseKeys(spark: SparkSession, table: String, keyCol: String,
                keys: Seq[Long],
                partitionCol: String = "year"): Map[Int, Long] = {
    require(keys.nonEmpty, "eraseKeys: empty subject list")
    // INT-ONLY partition contract, checked BEFORE any rewrite: the
    // audit map is keyed Int and the DROP PARTITION DDL interpolates
    // the value unquoted — a date/string partition column would
    // otherwise throw (or emit invalid DDL) MID-erasure, after the
    // overwrite already ran. Fail fast while the table is untouched.
    val pType = spark.table(table).schema
      .find(_.name == partitionCol)
      .getOrElse(throw new IllegalArgumentException(
        s"eraseKeys: no column '$partitionCol' in $table"))
      .dataType
    require(pType == org.apache.spark.sql.types.IntegerType,
      s"eraseKeys: partition column '$partitionCol' must be INT " +
        s"(audit map + unquoted DROP PARTITION DDL), got $pType")
    val hits = spark.table(table)
      .filter(col(keyCol).isin(keys: _*))
      .groupBy(col(partitionCol))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (hits.nonEmpty) {
      val affected = hits.keys.toSeq
      val cleaned = spark.table(table)
        .filter(col(partitionCol).isin(affected: _*))
        .filter(!col(keyCol).isin(keys: _*))
        .localCheckpoint(true)
      // Dynamic overwrite only rewrites partitions PRESENT in the
      // written data — a partition whose every row was a subject's
      // would silently keep its old files. Those must DROP instead.
      val remaining = cleaned.groupBy(col(partitionCol)).agg(count(lit(1)))
        .collect().map(_.getInt(0)).toSet
      val emptied = affected.filterNot(remaining)
      dynamicOverwrite(spark)(
        cleaned.write.mode(SaveMode.Overwrite).format("parquet")
          .insertInto(table))
      emptied.foreach(p => spark.sql(
        s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partitionCol=$p)"))
    }
    hits
  }

  /** A17 — additive SCHEMA EVOLUTION on plain parquet (the Iceberg
    * `ALTER TABLE … ADD COLUMN` analog, ref:
    * `Apache Iceberg/iceberg_migration.py` evolves per-symbol DDL):
    * each ingest generation is written under a `gen=<n>` directory
    * and may ADD columns; `mergeSchema` reconciles every
    * generation's footer into one superset schema at read time, with
    * pre-evolution rows surfacing NULL in late-added columns (no
    * rewrite of old files — the whole point at 100 TB). `gen` itself
    * rides partition discovery, so generation predicates prune
    * directories like any partition filter.
    *
    * Schema merging is a FOOTER-level operation (one footer per
    * file, merged on the driver) — the data pages of unchanged
    * columns are untouched, which is why additive evolution is free
    * while type CHANGES (int→string) are a rewrite and deliberately
    * out of scope (mergeSchema fails fast on them rather than
    * guessing a cast). */
  def mergedRead(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** The per-generation BACKFILL report over a [[mergedRead]]: row
    * count and NULL count of each late-added column by generation —
    * the audit that says which generations predate which column (and
    * whether a backfill job is worth scheduling). One scan, one
    * generation-keyed aggregate with map-side partials; `addedCols`
    * is the evolved-column list (bounded by construction). */
  def evolutionReport(spark: SparkSession, path: String,
                      addedCols: Seq[String]): DataFrame = {
    val df = mergedRead(spark, path)
    val aggs = (count(lit(1)).as("n_rows") +: addedCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c")))
    df.groupBy(col("gen"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("gen")
  }

  /** A22 — PARQUET STORAGE PROFILE: per-column bytes, values and
    * encodings read from the FOOTERS of a table's data files — the
    * storage-bill introspection behind every "which column is
    * eating the lake" question and the input to layout decisions
    * (a column compressing 50:1 under RLE says sort by it — H3; a
    * 1.05:1 column says its encoding budget is spent; the reference
    * tunes parquet layout empirically — `spark_session_window_tick
    * _cleaner.py`'s split-size choice — and this is the evidence
    * side of that loop). Footer reads are METADATA-scale: one footer
    * per file regardless of data volume (the same file-count-bounded
    * driver contract as [[removeOrphanFiles]]; a real deployment
    * fans the footer reads out per partition — documented, not
    * needed below ~10⁵ files).
    *
    * Emitted per column: file-spanning totals of compressed/
    * uncompressed bytes, value count, the encoding set actually
    * used (sorted, comma-joined — engine-stable), the codec ratio,
    * and `bytes_per_value` — the number a storage review actually
    * ranks by. NOTE the footer's "uncompressed" is ENCODED-but-
    * uncodec'd bytes: a constant column RLE/dictionary-encodes to
    * almost nothing BEFORE the codec, so its codec ratio can sit
    * near (even below) 1.0 while bytes_per_value — the true cost —
    * is tiny; ranking by codec ratio alone misreads exactly the
    * best-behaved columns. Divisions are unrounded IEEE over exact
    * int64 counts. */
  def storageProfile(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = loc.getFileSystem(conf)
    val agg = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long, Long, Set[String])]
    val it = fs.listFiles(loc, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          reader.getFooter.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala.foreach { c =>
              val key = c.getPath.toDotString
              val (cb, ub, nv, nn, enc) =
                agg.getOrElse(key, (0L, 0L, 0L, 0L, Set.empty[String]))
              // footer statistics carry the chunk's null count — the
              // one LOGICAL number in the profile (and the piece a
              // DuckDB oracle can check); -1 when a writer omitted
              // stats, folded as 0 here (fresh Spark writers always
              // emit them)
              val nulls = Option(c.getStatistics)
                .filter(_.isNumNullsSet).map(_.getNumNulls)
                .getOrElse(0L)
              agg(key) = (cb + c.getTotalSize,
                ub + c.getTotalUncompressedSize,
                nv + c.getValueCount,
                nn + nulls,
                enc ++ c.getEncodings.asScala.map(_.toString))
            }
          }
        } finally reader.close()
      }
    }
    agg.toSeq.map { case (col, (cb, ub, nv, nn, enc)) =>
      (col, nv, nn, cb, ub,
        if (cb > 0) ub.toDouble / cb.toDouble else 0.0,
        if (nv > 0) cb.toDouble / nv.toDouble else 0.0,
        enc.toSeq.sorted.mkString(","))
    }.toDF("column", "n_values", "n_nulls", "compressed_bytes",
        "uncompressed_bytes", "codec_ratio", "bytes_per_value",
        "encodings")
      .orderBy("column")
  }

  /** A21 — ORPHAN-FILE GARBAGE COLLECTION (the Iceberg
    * `remove_orphan_files` maintenance action, ref: `Apache Iceberg/
    * iceberg_migration.py` runs real catalog maintenance): find data
    * files physically present under the table's location that the
    * CURRENT table state does not reference — failed-write leftovers,
    * never-published WAP stages (A19's audit branch), files a killed
    * compaction (A10b) abandoned — and optionally delete them.
    * Without this, A14's snapshot expiry frees only MANIFESTS; the
    * dead bytes themselves stay until an orphan sweep runs — at
    * 100 TB the orphan sweep is where the storage bill actually
    * shrinks, and the two ops compose exactly as Iceberg's
    * expire_snapshots → remove_orphan_files pair does.
    *
    * On this directory-manifested (Hive-layout) emulation a file
    * INSIDE a live partition directory is referenced by construction
    * (the directory IS the manifest), so the orphan class is
    * precisely the files under paths the metastore no longer (or
    * never) registered: a partition DROPped on an external table
    * ([[eraseKeys]]' empty-partition case leaves the directory on
    * external tables), dead WAP stages, killed-overwrite temp dirs.
    * A real Iceberg catalog additionally orphans in-directory files
    * its manifests skip — same sweep, stricter manifest.
    *
    * "Referenced" here is the engine's own answer — the DISTINCT
    * `input_file_name()` set of a full table read (on a real catalog
    * this is the manifest union, a metadata read; both are file-count
    * sized, never data-sized). The disk side is one recursive listing
    * of the table location. Only `*.parquet` data files are
    * candidates — commit markers (`_SUCCESS`) and any `_`/`.`-
    * prefixed bookkeeping files are never touched, same as Iceberg's
    * hidden-file rule. `graceMs` skips files younger than the grace
    * window (an in-flight writer's files LOOK orphaned until its
    * commit lands — the race the production default of days
    * protects; 0 sweeps everything, the test spelling).
    *
    * Returns the per-file audit (path, bytes, referenced, deleted) —
    * the artifact a storage team reviews; `delete = false` is a dry
    * run (Iceberg's default posture too). Deletion is idempotent:
    * a re-run reports zero orphans and rewrites nothing. */
  def removeOrphanFiles(spark: SparkSession, table: String,
                        delete: Boolean = false,
                        graceMs: Long = 0L): DataFrame = {
    import spark.implicits._
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = spark.table(table)
      .select(input_file_name().as("f")).distinct()
      .as[String].collect()
      .map(u => new org.apache.hadoop.fs.Path(
        new java.net.URI(u)).toUri.getPath)
      .toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val it = fs.listFiles(loc, true)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Boolean, Boolean)]
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val hidden = p.getName.startsWith("_") || p.getName.startsWith(".")
      if (!hidden && p.getName.endsWith(".parquet")) {
        val isRef = referenced.contains(p.toUri.getPath)
        val orphan = !isRef && st.getModificationTime <= cutoff
        val doomed = orphan && delete
        if (doomed) fs.delete(p, false)
        rows += ((p.toUri.getPath, st.getLen, isRef, doomed))
      }
    }
    rows.toSeq.toDF("path", "bytes", "referenced", "deleted")
      .orderBy("path")
  }

  /** A24 — MULTI-TABLE ATOMIC PUBLISH (the Iceberg multi-table
    * transaction / Delta multi-statement-commit analog on plain
    * parquet): N tables must flip TOGETHER — a fact and its
    * dimension, a corpus and its manifest — or a reader can join a
    * new fact against an old dim (the cross-table torn read no
    * single-table snapshot isolation prevents). Protocol: every
    * publish writes each updated table into a fresh
    * `<root>/<table>/v<N>/` directory, then commits by writing ONE
    * root-level `manifest-v<N>.json` naming every table's directory
    * (unchanged tables carry forward their old paths) via
    * temp-file + ATOMIC_MOVE — the manifest rename IS the commit
    * point. Readers resolve the LATEST manifest and load the named
    * directories: a crash after the table writes but before the
    * manifest leaves only unreferenced directories (A21's orphan-GC
    * class) and readers pinned to the previous CONSISTENT set —
    * spec'd with a simulated torn publish.
    *
    * Driver work is manifest-sized (file list + tiny JSON — the A19
    * bounded-commit rule); the data writes are ordinary distributed
    * jobs. Version resolution never trusts directory listings of the
    * TABLE dirs (those may contain uncommitted versions) — only the
    * manifest names are authoritative. */
  def publishTables(spark: SparkSession, root: String,
                    updates: Map[String, DataFrame]): Int = {
    require(updates.nonEmpty, "publishTables needs at least one table")
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(dir)
    val vNew = currentManifestVersion(root) + 1
    val prev = readManifest(root)
    updates.foreach { case (t, df) =>
      require(!t.contains("/") && !t.contains("="),
        s"illegal table name: $t")
      df.write.mode("overwrite").parquet(s"$root/$t/v$vNew")
    }
    val entries = prev ++ updates.keys.map(t => t -> s"$t/v$vNew").toMap
    val body = entries.toSeq.sorted
      .map { case (t, p) => s"""  "$t": "$p"""" }
      .mkString("{\n", ",\n", "\n}\n")
    val tmp = dir.resolve(s".manifest-v$vNew.tmp")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, dir.resolve(s"manifest-v$vNew.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    vNew
  }

  private def manifestVersions(root: String): Seq[Int] = {
    val d = new java.io.File(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.map(_.getName)
      .collect { case n if n.startsWith("manifest-v") &&
        n.endsWith(".json") =>
        n.stripPrefix("manifest-v").stripSuffix(".json").toInt }
      .sorted
  }

  def currentManifestVersion(root: String): Int =
    manifestVersions(root).lastOption.getOrElse(0)

  /** The latest committed manifest's table → directory map (empty
    * before the first publish). Tiny hand-rolled JSON — the writer
    * above emits exactly this shape, and depending on a JSON library
    * for a 10-line manifest would be the heavier contract. */
  def readManifest(root: String): Map[String, String] = {
    manifestVersions(root).lastOption match {
      case None => Map.empty
      case Some(v) =>
        val src = scala.io.Source.fromFile(s"$root/manifest-v$v.json")
        val txt = try src.mkString finally src.close()
        """"([^"]+)":\s*"([^"]+)"""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  def readPublished(spark: SparkSession, root: String,
                    table: String): DataFrame = {
    val m = readManifest(root)
    require(m.contains(table),
      s"table $table not in the committed manifest: ${m.keys}")
    Parquet.read(spark, s"$root/${m(table)}")
  }

  /** A23 — PARTITION EVOLUTION on plain parquet (the Iceberg
    * `ALTER TABLE … ADD PARTITION FIELD` analog, ref:
    * `Apache Iceberg/init-iceberg.sql` declares
    * `partitioning = ARRAY['year(datetime)']`; a growing deployment
    * refines it to months without rewriting history): each partition-
    * SPEC generation lives under its own `spec=<n>` root — spec 0
    * year-partitioned, spec 1 (year, month)-partitioned — and NEW
    * appends land in the finest spec while OLD files are NEVER
    * rewritten, exactly Iceberg's contract (old files stay planned
    * under the spec that wrote them).
    *
    * The read side unions the generations with the evolved column
    * DERIVED for pre-evolution rows (`month(ts)` — a projected
    * expression, not a stored column), so every query sees ONE
    * schema. Pruning follows each generation's own depth: a year
    * predicate prunes DIRECTORIES in both specs; a month predicate
    * prunes directories only under spec 1 and falls back to a data
    * filter on the derived column under spec 0 — still correct, just
    * scan-bounded, which is the honest cost of not rewriting
    * history (and why evolution beats re-layout at 100 TB: the new
    * data gets the new pruning immediately, the old data keeps
    * working). Spec'd plan-level: the spec-1 scan carries the month
    * PartitionFilter, the spec-0 scan the same predicate as a data
    * filter. */
  def writePartitionSpec(df: DataFrame, root: String, spec: Int): Unit = {
    require(spec == 0 || spec == 1, s"unknown partition spec: $spec")
    val base = df.withColumn("yr", year(col("ts")))
    if (spec == 0)
      base.write.mode(SaveMode.Overwrite).partitionBy("yr")
        .parquet(s"$root/spec=0")
    else
      base.withColumn("mo", month(col("ts")))
        .write.mode(SaveMode.Overwrite).partitionBy("yr", "mo")
        .parquet(s"$root/spec=1")
  }

  def evolvedPartitionRead(spark: SparkSession, root: String): DataFrame = {
    val s0 = Parquet.read(spark, s"$root/spec=0")
      .withColumn("mo", month(col("ts")))
      .withColumn("spec", lit(0))
    val s1 = Parquet.read(spark, s"$root/spec=1")
      .withColumn("spec", lit(1))
    s0.unionByName(s1)
  }
}
