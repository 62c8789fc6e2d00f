package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.operators.CatalogOps

/** Catalog-backed lakehouse ops: year-partitioned saveAsTable, snapshot
  * appends, dynamic partition overwrite, MERGE-style upsert — and the
  * partition-PRUNING proof (a year predicate must reach the scan as a
  * partition filter and select only matching directories).
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ticksDf = Seq(
    (1L, "EURUSD", ts("2023-03-01 08:00:00"), 1.06, 1.0612),
    (2L, "EURUSD", ts("2023-07-01 09:00:00"), 1.09, 1.0912),
    (3L, "EURUSD", ts("2024-03-01 08:00:00"), 1.08, 1.0812),
    (4L, "USDJPY", ts("2024-05-01 10:00:00"), 151.2, 151.23),
    (5L, "USDJPY", null.asInstanceOf[Timestamp], 0.0, 0.0),
  ).toDF("tick_id", "symbol", "ts", "bid", "ask")

  private def withTable(name: String)(body: => Unit): Unit =
    try body finally spark.sql(s"DROP TABLE IF EXISTS $name")

  test("createGoldTable writes a year-partitioned catalog table, dropping null ts") {
    withTable("gold_create") {
      CatalogOps.createGoldTable(ticksDf, "gold_create")
      val t = spark.table("gold_create")
      assert(t.count() == 4) // null-ts row dropped at the door
      assert(t.schema.fieldNames.contains("year"))
      val parts = spark.sql("SHOW PARTITIONS gold_create")
        .as[String].collect().toSet
      assert(parts == Set("year=2023", "year=2024"))
    }
  }

  test("appendSnapshot adds rows to existing partitions and creates new ones") {
    withTable("gold_append") {
      CatalogOps.createGoldTable(ticksDf, "gold_append")
      CatalogOps.appendSnapshot(Seq(
        (6L, "EURUSD", ts("2024-06-01 08:00:00"), 1.07, 1.0712),
        (7L, "EURUSD", ts("2025-01-02 08:00:00"), 1.05, 1.0512),
      ).toDF("tick_id", "symbol", "ts", "bid", "ask"), "gold_append")
      val byYear = spark.table("gold_append").groupBy("year").count()
        .as[(Int, Long)].collect().toMap
      assert(byYear == Map(2023 -> 2L, 2024 -> 3L, 2025 -> 1L))
    }
  }

  test("overwritePartitions rewrites only the touched year") {
    withTable("gold_dyn") {
      CatalogOps.createGoldTable(ticksDf, "gold_dyn")
      // Rewrite 2023 with a single corrected row; 2024 must survive.
      CatalogOps.overwritePartitions(Seq(
        (10L, "EURUSD", ts("2023-03-01 08:00:00"), 9.99, 9.9912),
      ).toDF("tick_id", "symbol", "ts", "bid", "ask"), "gold_dyn")
      val byYear = spark.table("gold_dyn").groupBy("year").count()
        .as[(Int, Long)].collect().toMap
      assert(byYear == Map(2023 -> 1L, 2024 -> 2L))
      assert(spark.table("gold_dyn").filter($"year" === 2023)
        .select("bid").as[Double].head() == 9.99)
    }
  }

  test("a year predicate prunes partitions in the scan") {
    withTable("gold_prune") {
      CatalogOps.createGoldTable(ticksDf, "gold_prune")
      val q = spark.table("gold_prune").filter($"year" === 2024)
      val scans = q.queryExecution.executedPlan.collect {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collectLeaves()
        case s: FileSourceScanExec => Seq(s)
      }.flatten.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      val scan = scans.head
      // The filter must be a PartitionFilter (directory pruning), not a
      // data filter evaluated per row.
      assert(scan.partitionFilters.exists(_.toString.contains("year")))
      assert(scan.selectedPartitions.partitionCount == 1)
      assert(q.count() == 2)
    }
  }

  test("restorePartitions rolls listed years back to the snapshot state, " +
      "dropping bad-load-only partitions") {
    withTable("gold_restore") {
      CatalogOps.createGoldTable(ticksDf, "gold_restore")
      // Snapshot of the good state BEFORE the bad load (what
      // Lakehouse.rollbackTo reconstructs from the append log).
      val snapshot = ticksDf.filter($"ts".isNotNull)
      // Bad load: corrupts 2024 and invents a 2025 partition.
      CatalogOps.overwritePartitions(Seq(
        (90L, "EURUSD", ts("2024-03-01 08:00:00"), 0.01, 0.0112),
      ).toDF("tick_id", "symbol", "ts", "bid", "ask"), "gold_restore")
      CatalogOps.appendSnapshot(Seq(
        (91L, "EURUSD", ts("2025-01-02 08:00:00"), 0.02, 0.0212),
      ).toDF("tick_id", "symbol", "ts", "bid", "ask"), "gold_restore")
      assert(spark.table("gold_restore").count() == 4) // 2023:2, 2024:1, 2025:1

      CatalogOps.restorePartitions(spark, "gold_restore", snapshot,
        years = Seq(2024, 2025))
      val byYear = spark.table("gold_restore").groupBy("year").count()
        .as[(Int, Long)].collect().toMap
      // 2024 restored (ticks 3,4), 2025 dropped, 2023 never touched.
      assert(byYear == Map(2023 -> 2L, 2024 -> 2L))
      assert(spark.table("gold_restore").filter($"year" === 2024)
        .select("tick_id").as[Long].collect().toSet == Set(3L, 4L))
      val parts = spark.sql("SHOW PARTITIONS gold_restore")
        .as[String].collect().toSet
      assert(parts == Set("year=2023", "year=2024"))
    }
  }

  test("upsertPlan replaces matched keys and appends unmatched ones") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 22.0), (9L, "new", 90.0))
      .toDF("k", "name", "v")
    val out = CatalogOps.upsertPlan(target, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 22.0),
      (3L, "c", 30.0), (9L, "new", 90.0)))
  }

  test("upsertTable merges in place and keeps the partitioning") {
    withTable("gold_upsert") {
      CatalogOps.createGoldTable(ticksDf, "gold_upsert")
      val updates = spark.table("gold_upsert")
        .filter($"tick_id" === 3L)
        .withColumn("bid", lit(7.77))
        .unionByName(Seq((8L, "GBPUSD", ts("2024-08-01 08:00:00"), 1.27, 1.2712))
          .toDF("tick_id", "symbol", "ts", "bid", "ask")
          .withColumn("year", year($"ts")))
      CatalogOps.upsertTable(spark, "gold_upsert", updates, Seq("tick_id"),
        partitionCols = Seq("year"))
      val t = spark.table("gold_upsert")
      assert(t.count() == 5)
      assert(t.filter($"tick_id" === 3L).select("bid").as[Double].head() == 7.77)
      assert(t.filter($"tick_id" === 8L).count() == 1)
      val parts = spark.sql("SHOW PARTITIONS gold_upsert")
        .as[String].collect().toSet
      assert(parts == Set("year=2023", "year=2024"))
    }
  }

  test("compactPartitions collapses a fragmented year to size-derived " +
      "file counts and leaves other partitions untouched") {
    withTable("gold_compact") {
      // 12 appends -> 12+ small files in year=2024; year=2023 keeps its
      // original layout.
      CatalogOps.createGoldTable(ticksDf, "gold_compact")
      (0 until 12).foreach { i =>
        CatalogOps.appendSnapshot(Seq(
          (100L + i, "EURUSD", ts(f"2024-06-${i + 1}%02d 08:00:00"), 1.0, 1.01))
          .toDF("tick_id", "symbol", "ts", "bid", "ask"), "gold_compact")
      }
      def files(year: Int): Array[java.io.File] = {
        val loc = spark.sql("DESCRIBE FORMATTED gold_compact")
          .filter($"col_name" === "Location").select("data_type")
          .head().getString(0).stripPrefix("file:")
        new java.io.File(s"$loc/year=$year").listFiles()
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
      }
      val before2023 = files(2023).map(_.getName).toSet
      assert(files(2024).length >= 12)
      val rows = spark.table("gold_compact").orderBy("tick_id").collect().toSeq
      // huge target -> bytes/target rounds up to exactly 1 file; a
      // listed year with no partition directory is a 0-file no-op,
      // not a mid-loop crash
      val written = CatalogOps.compactPartitions(spark, "gold_compact",
        Seq(2024, 2031), targetFileBytes = 1L << 30)
      assert(written == Map(2024 -> 1, 2031 -> 0))
      assert(files(2024).length == 1)
      assert(files(2023).map(_.getName).toSet == before2023)
      // compaction is a physical rewrite: logical content identical
      assert(spark.table("gold_compact").orderBy("tick_id").collect().toSeq
        == rows)
    }
  }

  test("schema evolution: mergeSchema reconciles generations, old rows " +
      "backfill NULL in late-added columns, gen predicates prune") {
    withTempDir("graft_evo") { tmp =>
      val dir = tmp.toString
      // gen 1: (tick_id, bid); gen 2 adds venue; gen 3 adds venue + qty
      Seq((1L, 1.0), (2L, 1.1)).toDF("tick_id", "bid")
        .write.parquet(s"$dir/gen=1")
      Seq((3L, 1.2, "X")).toDF("tick_id", "bid", "venue")
        .write.parquet(s"$dir/gen=2")
      Seq((4L, 1.3, "Y", 7L), (5L, 1.4, "X", 9L))
        .toDF("tick_id", "bid", "venue", "qty")
        .write.parquet(s"$dir/gen=3")
      val merged = CatalogOps.mergedRead(spark, dir)
      assert(merged.columns.toSet == Set("tick_id", "bid", "venue", "qty", "gen"))
      assert(merged.count() == 5L)
      // late-added columns are NULL exactly for pre-evolution rows
      assert(merged.filter($"venue".isNull).select("tick_id")
        .as[Long].collect().toSet == Set(1L, 2L))
      assert(merged.filter($"qty".isNotNull).count() == 2L)
      val rep = CatalogOps.evolutionReport(spark, dir, Seq("venue", "qty"))
        .as[(Int, Long, Long, Long)].collect().toSeq
      assert(rep == Seq((1, 2L, 2L, 2L), (2, 1L, 0L, 1L), (3, 2L, 0L, 0L)))
      // generation predicate reaches the scan as a partition filter
      val plan = merged.filter($"gen" === 3).queryExecution.executedPlan
      val scans = plan.collect {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
          case f: FileSourceScanExec => f }
        case f: FileSourceScanExec => Seq(f)
      }.flatten
      assert(scans.nonEmpty && scans.forall(
        _.partitionFilters.exists(_.references.exists(_.name == "gen"))))
    }
  }

  test("eraseKeys rewrites only partitions holding subjects, reports " +
      "the audit, no-ops on absent keys, and drops a fully-erased " +
      "partition") {
    withTable("gold_erase") {
      CatalogOps.createGoldTable(ticksDf, "gold_erase")
      def files(year: Int): Set[String] = {
        val loc = spark.sql("DESCRIBE FORMATTED gold_erase")
          .filter($"col_name" === "Location")
          .select("data_type").head().getString(0)
        val dir = new org.apache.hadoop.fs.Path(loc, s"year=$year")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(dir)) Set.empty
        else fs.listStatus(dir).filter(_.isFile)
          .map(f => f.getPath.getName + ":" + f.getModificationTime).toSet
      }
      val before2024 = files(2024)
      // subject tick 2 lives only in year=2023
      assert(CatalogOps.eraseKeys(spark, "gold_erase", "tick_id",
        Seq(2L)) == Map(2023 -> 1L))
      val t = spark.table("gold_erase")
      assert(t.count() == 3 && t.filter($"tick_id" === 2L).count() == 0)
      // the untouched partition keeps its exact files
      assert(files(2024) == before2024)
      // absent subjects: audit empty, nothing rewritten
      val before2023 = files(2023)
      assert(CatalogOps.eraseKeys(spark, "gold_erase", "tick_id",
        Seq(2L, 999L)).isEmpty)
      assert(files(2023) == before2023)
      // erasing the last 2023 row must DROP the partition (dynamic
      // overwrite alone would leave the old files in place)
      assert(CatalogOps.eraseKeys(spark, "gold_erase", "tick_id",
        Seq(1L)) == Map(2023 -> 1L))
      assert(spark.sql("SHOW PARTITIONS gold_erase")
        .as[String].collect().toSet == Set("year=2024"))
      assert(spark.table("gold_erase").count() == 2)
    }
  }

  test("overwritePartitions, compactPartitions and eraseKeys leave the " +
      "session conf as they found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getAll.get(key)
    // unset: an op that pins the default on restore shows in getAll
    spark.conf.unset(key)
    try withTable("gold_conf") {
      CatalogOps.createGoldTable(ticksDf, "gold_conf")
      def unchanged(op: String)(body: => Unit): Unit = {
        val before = spark.conf.getAll
        body
        assert(spark.conf.getAll == before, op)
      }
      unchanged("overwritePartitions")(CatalogOps.overwritePartitions(Seq(
        (10L, "EURUSD", ts("2023-03-01 08:00:00"), 9.99, 9.9912))
        .toDF("tick_id", "symbol", "ts", "bid", "ask"), "gold_conf"))
      unchanged("compactPartitions")(
        CatalogOps.compactPartitions(spark, "gold_conf", Seq(2024)))
      unchanged("eraseKeys")(
        CatalogOps.eraseKeys(spark, "gold_conf", "tick_id", Seq(3L)))
      // a session that set the mode itself keeps its own value
      spark.conf.set(key, "STATIC")
      unchanged("eraseKeys after a session set")(
        CatalogOps.eraseKeys(spark, "gold_conf", "tick_id", Seq(4L)))
      assert(spark.conf.getAll.get(key) == Some("STATIC"))
      assert(spark.table("gold_conf").count() == 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("storageProfile: footer-level per-column telemetry — value " +
      "counts reconcile with rows, the constant column compresses " +
      "far better than the unique one, encodings surface") {
    withTable("a22_prof") {
      spark.range(10000L)
        .selectExpr("id AS uniq", "CAST(7 AS BIGINT) AS const",
          "CAST(id % 3 AS INT) AS lowcard")
        .coalesce(2).write.saveAsTable("a22_prof")
      val prof = CatalogOps.storageProfile(spark, "a22_prof")
        .collect().map(r => r.getAs[String]("column") ->
          (r.getAs[Long]("n_values"), r.getAs[Long]("compressed_bytes"),
            r.getAs[Double]("bytes_per_value"),
            r.getAs[String]("encodings"))).toMap
      assert(prof.keySet == Set("uniq", "const", "lowcard"))
      assert(prof.values.forall(_._1 == 10000L)) // one value per row
      assert(prof.values.forall(_._2 > 0L))
      // the constant column's true storage cost must be a fraction of
      // the unique int64 column's (RLE/dictionary collapse it BEFORE
      // the codec — which is why bytes_per_value, not codec ratio, is
      // the ranking metric; the op's doc carries the distinction)
      assert(prof("const")._3 * 4 < prof("uniq")._3,
        s"const ${prof("const")._3} vs uniq ${prof("uniq")._3}")
      // dictionary/RLE machinery visible on the low-cardinality side
      assert(prof("lowcard")._4.nonEmpty && prof("uniq")._4.nonEmpty)
    }
  }

  test("removeOrphanFiles: dry run reports, delete sweeps only the " +
      "planted orphan, table rows and referenced files survive, " +
      "re-run is idempotent, grace window protects young files") {
    withTable("gold_gc") {
      CatalogOps.createGoldTable(ticksDf, "gold_gc")
      val loc = spark.sql("DESCRIBE FORMATTED gold_gc")
        .filter($"col_name" === "Location")
        .select("data_type").head().getString(0)
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // plant an orphan data file under an UNREGISTERED partition dir
      // (what an eraseKeys partition DROP on an external table, a
      // dead WAP stage, or a killed dynamic overwrite leaves behind —
      // a directory-manifested table reads every file inside LIVE
      // partition dirs, so in-partition files are referenced by
      // construction and the orphan class is exactly the
      // outside-the-manifest dirs) plus a commit marker that must
      // survive any sweep
      val orphan = new org.apache.hadoop.fs.Path(
        loc + "/year=2099/part-orphan-deadbeef.parquet")
      val marker = new org.apache.hadoop.fs.Path(
        loc + "/year=2099/_stray_marker")
      Seq((99L, "X")).toDF("a", "b").coalesce(1).write
        .mode("overwrite").parquet(loc + "/_tmp_orphan_src")
      val src = fs.listStatus(new org.apache.hadoop.fs.Path(
          loc + "/_tmp_orphan_src"))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, orphan, false,
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(loc + "/_tmp_orphan_src"),
        true)
      fs.create(marker).close()
      val rowsBefore = spark.table("gold_gc").orderBy("tick_id")
        .collect().toSeq

      // grace window: a just-written orphan LOOKS in-flight — kept
      val graced = CatalogOps.removeOrphanFiles(spark, "gold_gc",
        delete = true, graceMs = 3600L * 1000)
      assert(graced.filter($"deleted").count() == 0)
      assert(fs.exists(orphan))

      // dry run: the orphan is reported unreferenced, nothing deleted
      val dry = CatalogOps.removeOrphanFiles(spark, "gold_gc")
      val dryOrphans = dry.filter(!$"referenced")
        .select("path").as[String].collect()
      assert(dryOrphans.length == 1 &&
        dryOrphans.head.endsWith("part-orphan-deadbeef.parquet"))
      assert(dry.filter($"deleted").count() == 0 && fs.exists(orphan))

      // delete: exactly the orphan goes; referenced files, the
      // marker, and the table contents survive byte-for-byte
      val swept = CatalogOps.removeOrphanFiles(spark, "gold_gc",
        delete = true)
      assert(swept.filter($"deleted").select("path").as[String]
        .collect().toSeq.forall(_.endsWith("part-orphan-deadbeef.parquet")))
      assert(swept.filter($"deleted").count() == 1)
      assert(!fs.exists(orphan) && fs.exists(marker))
      assert(spark.table("gold_gc").orderBy("tick_id").collect().toSeq
        == rowsBefore)

      // idempotent: second sweep finds nothing
      val again = CatalogOps.removeOrphanFiles(spark, "gold_gc",
        delete = true)
      assert(again.filter(!$"referenced").count() == 0)
    }
  }

  test("A24 multi-table atomic publish: readers see a CONSISTENT " +
      "table set; a torn publish (data written, manifest missing) " +
      "is invisible; unchanged tables carry forward") {
    withTempDir("a24") { tmp =>
      val root = tmp.toString
      import spark.implicits._
      val factV1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      val dimV1 = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
      val v1 = CatalogOps.publishTables(spark, root,
        Map("fact" -> factV1, "dim" -> dimV1))
      assert(v1 == 1)
      assert(CatalogOps.readPublished(spark, root, "fact").count() == 2)
      assert(CatalogOps.readPublished(spark, root, "dim").count() == 2)

      // TORN publish: new fact data lands on disk with NO manifest —
      // readers must stay pinned to v1 for BOTH tables
      Seq((9L, 99.0)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$root/fact/v2")
      assert(CatalogOps.currentManifestVersion(root) == 1)
      assert(CatalogOps.readPublished(spark, root, "fact")
        .as[(Long, Double)].collect().toSet == Set((1L, 10.0), (2L, 20.0)),
        "uncommitted directories must be invisible to readers")

      // real v2 publish updates ONLY the fact; dim carries forward
      val v2 = CatalogOps.publishTables(spark, root,
        Map("fact" -> Seq((3L, 30.0)).toDF("k", "v")))
      assert(v2 == 2)
      assert(CatalogOps.readPublished(spark, root, "fact")
        .as[(Long, Double)].collect().toSeq == Seq((3L, 30.0)))
      assert(CatalogOps.readManifest(root)("dim") == "dim/v1",
        "unchanged table must keep its committed directory")
      assert(CatalogOps.readPublished(spark, root, "dim").count() == 2)
    }
  }

  test("A23 partition evolution: old spec keeps year-only pruning, " +
      "new spec prunes on (year, month); unioned read is one schema " +
      "and month predicates stay correct across both generations") {
    withTempDir("a23") { tmp =>
      val root = tmp.toString
      def t(s: String) = Timestamp.valueOf(s)
      // gen 0 (pre-evolution): 2023 + Jan 2024, year-partitioned
      val g0 = Seq(
        (1L, t("2023-03-01 10:00:00"), 1.0),
        (2L, t("2023-07-01 10:00:00"), 2.0),
        (3L, t("2024-01-05 10:00:00"), 3.0),
        (4L, t("2024-01-20 10:00:00"), 4.0))
        .toDF("id", "ts", "v")
      // gen 1 (post-evolution): Feb/Mar 2024, (year, month)-partitioned
      val g1 = Seq(
        (5L, t("2024-02-10 10:00:00"), 5.0),
        (6L, t("2024-03-15 10:00:00"), 6.0),
        (7L, t("2024-03-20 10:00:00"), 7.0))
        .toDF("id", "ts", "v")
      CatalogOps.writePartitionSpec(g0, root, 0)
      CatalogOps.writePartitionSpec(g1, root, 1)

      val all = CatalogOps.evolvedPartitionRead(spark, root)
      assert(all.count() == 7L)
      // one schema: every row carries mo, derived for gen-0 rows
      assert(all.filter($"spec" === 0 && $"mo" === 1).count() == 2L)

      // year predicate: partition filter on BOTH generation scans
      def scansOf(df: org.apache.spark.sql.DataFrame) = {
        df.count() // settle the AQE final plan before reading it
        df.queryExecution.executedPlan.collect {
          case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
            case f: FileSourceScanExec => f }
          case f: FileSourceScanExec => Seq(f)
        }.flatten
      }
      val byYear = all.filter($"yr" === 2024)
      assert(byYear.count() == 5L)
      val yearScans = scansOf(byYear)
      assert(yearScans.length == 2)
      assert(yearScans.forall(_.partitionFilters.exists(
        _.toString.contains("yr"))),
        "year predicate must prune directories in BOTH specs")

      // month predicate: directory pruning under spec 1, data filter
      // (derived month(ts)) under spec 0 — and the answer is right
      val march = all.filter($"mo" === 3)
      assert(march.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 6L, 7L))
      val marchScans = scansOf(march)
      val s1Scan = marchScans.find(
        _.relation.location.rootPaths.exists(_.toString.contains("spec=1")))
        .get
      val s0Scan = marchScans.find(
        _.relation.location.rootPaths.exists(_.toString.contains("spec=0")))
        .get
      assert(s1Scan.partitionFilters.exists(_.toString.contains("mo")),
        "evolved spec must prune month directories")
      assert(!s0Scan.partitionFilters.exists(_.toString.contains("mo")) &&
        s0Scan.dataFilters.nonEmpty,
        "pre-evolution spec answers the month predicate with a data " +
          "filter, never a wrong prune")
    }
  }
}
