package graft

import java.nio.file.Files
import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** `df`'s executed plan as an input above the advisory gate gets it:
    * built with the gate at 1 byte, where [[SmallPlanToOneStage]] keeps
    * every exchange. These specs stand for the 100 TB plan. */
  private def gatedPlan(df: => org.apache.spark.sql.DataFrame): String =
    withAdvisory(1)(df.queryExecution.executedPlan.toString)

  /** The plan of a toy input under the default gate: one stage, every
    * exchange planned away and the one-partition leaves coalesced. */
  private def oneStage(plan: String): Boolean =
    !plan.contains("Exchange") && plan.contains("Coalesce 1")

  test("zValue interleaves bits: unit vectors, locality, and bounds") {
    val out = Seq((1L, 0L), (0L, 1L), (3L, 0L), (0L, 3L), (3L, 3L))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 16).as("z"))
      .as[Long].collect().toSeq
    // a-bits land at even positions, b-bits at odd: (1,0)->1, (0,1)->2,
    // (3,0)->0b0101=5, (0,3)->0b1010=10, (3,3)->0b1111=15
    assert(out == Seq(1L, 2L, 5L, 10L, 15L))
  }

  test("z-order layout prunes 2-D box predicates where a linear sort " +
      "reads every file") {
    // 64x64 grid, one row per cell; 16 files per layout.
    val grid = spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), (col("id") / 64).as("y"))
    withTempDir("graft_layout") { tmp =>
      val dir = tmp.toString
      val zPath = s"$dir/zorder"
      val linPath = s"$dir/linear"
      Layout.zOrderWrite(grid, zPath, "x", "y", nFiles = 16, bits = 6)
      Layout.linearWrite(grid, linPath, "x", nFiles = 16)

      val zBoxes = Layout.fileBoxes(spark, zPath, "x", "y")
      val linBoxes = Layout.fileBoxes(spark, linPath, "x", "y")
      assert(zBoxes.count() == 16 && linBoxes.count() == 16)

      // Predicate: full x range, narrow y band (y in [8, 15]) — the
      // query shape a single-column sort cannot skip for.
      val zTouched = Layout.filesTouched(zBoxes, 0, 63, 8, 15)
      val linTouched = Layout.filesTouched(linBoxes, 0, 63, 8, 15)
      // linear-by-x: every file spans all y values -> reads all 16
      assert(linTouched == 16L, s"linear layout touched $linTouched")
      // z-order: files are ~square tiles -> only the tiles meeting the
      // band are read
      assert(zTouched <= 8L, s"z-order layout touched $zTouched")

      // Layout is physical only: logical content identical.
      assert(spark.read.parquet(zPath).orderBy("x", "y").collect().toSeq ==
        grid.orderBy("x", "y").collect().toSeq)
    }
  }

  test("partitioned layout: static filters prune directories and a " +
      "dim join plans a dynamicpruning subquery on the fact scan") {
    withTempDir("graft_dpp") { tmp =>
      val dir = tmp.toString
      val fact = spark.range(10000L)
        .select(col("id"), (col("id") % 10).as("yr"),
          (col("id") * 3 % 97).as("v"))
      Layout.partitionedWrite(fact, s"$dir/fact", "yr")

      // Static pruning: a literal partition filter reads 1 of 10 dirs.
      val statRead = spark.read.parquet(s"$dir/fact").filter(col("yr") === 3)
      val statFiles = statRead.select(col("_metadata.file_path")).distinct().count()
      val allFiles = spark.read.parquet(s"$dir/fact")
        .select(col("_metadata.file_path")).distinct().count()
      assert(statFiles < allFiles, s"static pruning read $statFiles/$allFiles")
      assert(statRead.count() == 1000L)

      // Dynamic pruning: join on the partition column against a
      // filtered dim — the fact scan must carry a dynamicpruning
      // subquery (runtime partition filter from the broadcast). Two
      // rules of engagement found by probing the optimizer: the dim
      // must be a SOURCE-backed relation with a surviving Filter node
      // (a local Seq folds the filter into LocalTableScan and the DPP
      // rule sees no predicate), and that filter must be LIKELY
      // SELECTIVE in Spark's heuristic — a comparison/IN/LIKE shape; a
      // bare boolean column does NOT qualify and silently disables DPP.
      Seq((3, "EU"), (7, "EU"), (1, "US"), (4, "US"))
        .toDF("yr", "region")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim")
      val joined = spark.read.parquet(s"$dir/fact")
        .join(dim.filter(col("region") === "EU"), Seq("yr"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamicpruning subquery in plan:\n$plan")
      assert(joined.count() == 2000L) // yr 3 and 7 only
    }
  }

  test("H7: parquet AGGREGATE PUSHDOWN answers count/min/max from " +
      "footer statistics — no data scan (requires the V2 read path)") {
    // At 100 TB a profile query that reads every page to COUNT is a
    // cluster-day; pushed to footer stats it is a metadata listing.
    // Two rules of engagement found by probing: (1) the v1 parquet
    // path silently ignores the conf — parquet must leave
    // useV1SourceList; (2) any residual data filter disables the
    // pushdown (stats cannot answer it) — proven both ways below.
    withTempDir("aggpush") { tmp =>
      val dir = tmp.toString
      spark.range(100000L)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .write.mode("overwrite").parquet(s"$dir/t")
      val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      try {
        val agg = spark.read.parquet(s"$dir/t")
          .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
            max(col("v")).as("hi"))
        val plan = agg.queryExecution.executedPlan.toString
        // the scan prints `PushedAggregation: [...]` even when empty —
        // assert on the pushed COUNT itself
        assert(plan.contains("PushedAggregation: [COUNT(*)"),
          s"aggregation not pushed:\n${plan.take(2000)}")
        val r = agg.collect().head
        assert(r.getAs[Long]("n") == 100000L &&
          r.getAs[Double]("lo") == 0.0 && r.getAs[Double]("hi") == 99999.0)
        // a residual filter must fall back to a real scan
        val filtered = spark.read.parquet(s"$dir/t")
          .filter(col("v") > 10.0).agg(count(lit(1)))
        assert(filtered.queryExecution.executedPlan.toString
          .contains("PushedAggregation: []"))
      } finally {
        spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      }
    }
  }

  test("H8: the F60 gram Aggregator's shuffle payload is N-INVARIANT " +
      "— measured exchange dataSize flat under 10x the rows") {
    // The 100 TB covariance claim (SURVEY §5) as a measurement: the
    // typed Aggregator ships ONE flat d(d+1)/2+1 buffer per task
    // through the exchange, so 10x the rows at the same partition
    // count must move the SAME shuffle bytes. AQE off so the plan
    // keeps a plain ShuffleExchangeExec whose dataSize metric we can
    // read after the action (H6 documented that AQE re-wraps plans).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffleBytes(n: Long): Long = {
        // range with pinned partitions — NO repartition: its exchange
        // would scale with N and pollute the measurement (observed:
        // 165 KB -> 453 KB with repartition(8) in the pipeline).
        val emb = spark.range(0, n, 1, 8)
          .select(expr("transform(sequence(0, 63), i -> " +
            "CAST(id % 7 + i AS FLOAT))").as("embedding"))
        val df = graft.operators.Vectors.gramBuffer(emb, 64)
        val qe = df.queryExecution
        df.collect()
        val sizes = qe.executedPlan.collect {
          case e: ShuffleExchangeExec => e.metrics("dataSize").value
        }
        assert(sizes.nonEmpty, "no exchange in the aggregation plan")
        sizes.sum
      }
      val small = shuffleBytes(2000L)
      val big = shuffleBytes(20000L)
      // 8 buffers of (64*65/2 + 1) doubles ≈ 17 KB each; allow serde
      // overhead but demand N-invariance: 10x rows < 1.2x bytes.
      assert(small > 8 * 2081 * 8 / 2, s"implausibly small: $small")
      assert(big.toDouble < small.toDouble * 1.2,
        s"shuffle payload scaled with N: $small -> $big")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("H10: ANALYZE column statistics flip a selective-filter join " +
      "from sort-merge to broadcast at COMPILE time (CBO)") {
    // The statistics lever a 100 TB deployment pulls BEFORE runtime:
    // without column stats the optimizer prices a Filter at its
    // child's size (file bytes), so a dimension that filters to a
    // handful of rows still plans as a sort-merge join; ANALYZE ...
    // FOR COLUMNS gives the CBO min/max/NDV, the filter estimate
    // collapses, and the SAME query compiles to a broadcast join.
    // AQE can rescue this at runtime from shuffle statistics — H6's
    // lever — but only after paying the map side of the shuffle;
    // compile-time stats skip the shuffle entirely, which is why
    // production catalogs run ANALYZE as part of ingest. AQE off so
    // the compile-time decision is what we read.
    val prev = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS h10_fact")
      spark.sql("DROP TABLE IF EXISTS h10_dim")
      spark.range(20000L).selectExpr("id AS k", "id % 97 AS payload")
        .write.saveAsTable("h10_fact")
      spark.range(20000L).selectExpr("id AS k", "id AS v")
        .write.saveAsTable("h10_dim")
      def joinPlan: String = spark.table("h10_fact")
        .join(spark.table("h10_dim").filter(col("v") < 100), "k")
        .queryExecution.executedPlan.toString
      // threshold sits between the dim's FILE size (~200 KB) and its
      // post-filter estimated size (~100 rows)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "51200")
      val noStats = joinPlan
      assert(noStats.contains("SortMergeJoin"),
        s"expected SMJ without stats:\n$noStats")
      spark.sql("ANALYZE TABLE h10_dim COMPUTE STATISTICS FOR COLUMNS v")
      spark.sql("ANALYZE TABLE h10_fact COMPUTE STATISTICS")
      val withStats = joinPlan
      assert(withStats.contains("BroadcastHashJoin"),
        s"expected BHJ with column stats:\n$withStats")
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS h10_fact")
      spark.sql("DROP TABLE IF EXISTS h10_dim")
    }
  }

  test("H11: a rank<=k filter over a window compiles to " +
      "WindowGroupLimit — per-partition top-k heaps on BOTH sides " +
      "of the exchange, never a full-group sort-then-filter") {
    // The optimizer lever behind every top-k-per-group at 100 TB:
    // Spark rewrites `row_number().over(w) <= k` into a
    // WindowGroupLimit pair (Partial before the shuffle, Final
    // after), so each map task ships at most k rows per group
    // instead of the whole group — the difference between a k-row
    // and a group-sized exchange. C4's operator inherits this by
    // being spelled declaratively; this spec pins the contract so a
    // refactor that breaks the rewrite (e.g. filtering on a derived
    // column) is caught.
    val df = spark.range(100000L)
      .selectExpr("id % 100 AS g", "id AS v", "id AS tid").toDF()
    val top = graft.operators.Analytics.topKPerGroup(df, "g", "v", "tid", 5)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected the group-limit rewrite:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected Partial (map-side) AND Final group limits:\n$plan")
    import spark.implicits._
    assert(top.groupBy("g").count().agg(max("count"))
      .as[Long].head() == 5L)
    assert(top.count() == 500L)
  }

  test("H14: a dim-filtered join against a partitioned fact compiles " +
      "with DYNAMIC PARTITION PRUNING — the fact scan's partition " +
      "filter is the runtime subquery, not a full read") {
    // THE selective-join lever at 100 TB: the dim filter ('2 hot
    // days') is only known at run time; DPP injects it into the fact
    // scan's PartitionFilters so Spark lists/reads only those
    // partitions. Asserted at plan level (dynamicpruning expression
    // present) AND at result level.
    withTempDir("graft_dpp") { tmp =>
      val dir = tmp.toString
      spark.range(1000L)
        .selectExpr("id", "CAST(id % 10 AS INT) AS day")
        .write.partitionBy("day").parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.range(10L).selectExpr("CAST(id AS INT) AS day",
          "id % 5 = 0 AS hot")
        .filter(col("hot"))
      val joined = fact.join(dim, Seq("day"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a DPP subquery in the fact scan:\n$plan")
      assert(joined.count() == 200L) // days 0 and 5 only
    }
  }

  test("H15: the trading-layer plans checkpoint the slot chain once " +
      "and broadcast every model-artifact join — the tick fact is " +
      "never re-derived per consumer") {
    // The D77/D82 shape at 100 TB: the k·|windows| slot frame is the
    // ONLY artifact derived from the tick fact, checkpointed
    // (taggedSlots), so every downstream consumer plan reads the
    // materialized partitions (Scan ExistingRDD) instead of replaying
    // the window chain against the fact; fold grids ride broadcast
    // cross joins; per-(fold-)symbol scaler/centroid/threshold frames
    // join back as broadcasts. A refactor that drops the checkpoint
    // or a broadcast re-plans the tick scan per consumer — this spec
    // catches both.
    val rows = (1 to 20).flatMap { d =>
      (0 to 5).map { i =>
        (d * 10L + i, (d % 3).toLong,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 07:51:0$i"),
          1.0 + i * 0.01, 9.9)
      }
    }
    val ticks = rows.toDF("tick_id", "symbol", "ts", "bid", "ask")
    for ((name, df) <- Seq(
        "walkForwardRetrain" ->
          graft.operators.Features.walkForwardRetrain(ticks, 4, 3, 1, 1),
        "modelParams" -> graft.operators.Features.modelParams(ticks, 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"),
        s"$name lost the slot-chain checkpoint barrier:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$name expected broadcast model-artifact joins:\n$plan")
      assert(!plan.contains("Scan parquet"),
        s"$name re-reads a file fact downstream of the barrier:\n$plan")
    }
  }

  test("H16: the r14 additions keep the slot-chain discipline — the " +
      "GD autoencoder's scoring plan runs off the checkpoint barrier " +
      "with broadcast weight/threshold joins (no SortMergeJoin), and " +
      "pipelineStatus' live branch broadcasts the deployed threshold") {
    val rows = (1 to 20).flatMap { d =>
      (0 to 5).map { i =>
        (d * 10L + i, (d % 3).toLong,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 07:51:0$i"),
          1.0 + i * 0.01, 9.9)
      }
    }
    val ticks = rows.toDF("tick_id", "symbol", "ts", "bid", "ask")
    val gd = graft.operators.Features.gdAutoencoder(ticks, 4)
      .queryExecution.executedPlan.toString
    assert(gd.contains("ExistingRDD"),
      s"gdAutoencoder lost the checkpoint barrier:\n$gd")
    assert(gd.contains("BroadcastHashJoin"),
      s"gdAutoencoder expected broadcast artifact joins:\n$gd")
    assert(!gd.contains("SortMergeJoin"),
      s"gdAutoencoder scoring regressed to SortMergeJoin:\n$gd")
    assert(!gd.contains("Scan parquet"),
      s"gdAutoencoder re-reads a file fact downstream:\n$gd")
    val ps = graft.operators.RunTracker.pipelineStatus(ticks, 4)
      .queryExecution.executedPlan.toString
    assert(ps.contains("ExistingRDD"),
      s"pipelineStatus lost the slot-chain barrier:\n$ps")
    assert(ps.contains("BroadcastHashJoin"),
      s"pipelineStatus expected a broadcast threshold join:\n$ps")
  }

  test("H13: the window-tensor pipelines broadcast every per-symbol " +
      "stats join — no SortMergeJoin survives in the scaling or " +
      "threshold paths") {
    // The D66/D67 shape at 100 TB: the slot frame is k·|windows| rows
    // but the per-symbol scaler stats / train centroids / thresholds
    // are REGISTRY-scale (|symbols| or |symbols|·k rows) — joining
    // them through a sort-merge would shuffle the slot frame once per
    // join. The operators pin broadcast() explicitly; this spec
    // catches a refactor that drops the hint and regresses to SMJ
    // (the pre-fix plan audit showed exactly that).
    val rows = (1 to 20).flatMap { d =>
      (0 to 5).map { i =>
        (d * 10L + i, (d % 3).toLong,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 07:51:0$i"),
          1.0 + i * 0.01, 9.9)
      }
    }
    val ticks = rows.toDF("tick_id", "symbol", "ts", "bid", "ask")
    // the broadcast-scaler proof reads the PRE-barrier plan: the r14
    // slot-chain share checkpoints the scaled frame, so downstream
    // consumers (windowTensors) only see the barrier — the stats
    // join lives in windowSlots' own plan
    val scalePlan = gatedPlan(graft.operators.Features
      .windowSlots(ticks, 4, 0.6, 0.2))
    assert(!scalePlan.contains("SortMergeJoin"),
      s"windowSlots plan regressed to SortMergeJoin:\n$scalePlan")
    assert(scalePlan.contains("BroadcastHashJoin"),
      s"windowSlots expected a broadcast scaler join:\n$scalePlan")
    for ((name, df) <- Seq(
        "windowTensors" -> graft.operators.Features.windowTensors(ticks, 4),
        "anomalyPipeline" ->
          graft.operators.Features.anomalyPipeline(ticks, 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$name plan regressed to SortMergeJoin:\n$plan")
    }
    // the threshold join downstream of the barrier must still be a
    // broadcast (anomalyPipeline joins the per-symbol p99 frame)
    val apPlan = graft.operators.Features.anomalyPipeline(ticks, 4)
      .queryExecution.executedPlan.toString
    assert(apPlan.contains("BroadcastHashJoin"),
      s"anomalyPipeline expected a broadcast threshold join:\n$apPlan")
    // the 120-tick toy input itself runs windowSlots as one stage
    val toyPlan = graft.operators.Features.windowSlots(ticks, 4, 0.6, 0.2)
      .queryExecution.executedPlan.toString
    assert(oneStage(toyPlan), s"windowSlots expected one stage:\n$toyPlan")
  }

  test("H16: the sequential-filter family compiles to exactly ONE " +
      "hash exchange (the day/symbol collapse the fold rides) — the " +
      "recurrence itself adds no shuffle") {
    // The 100 TB contract for every fold-where-the-sequence-lives
    // operator (D86/D87/D89) and the lag-window FFD (D88): the one
    // hash exchange groups/partitions by the bounded sequence key;
    // everything after is per-group projection. A refactor that
    // sneaks in a second data shuffle (e.g. a join for the seed, a
    // re-partition between fold stages) is caught here. The trailing
    // display orderBy contributes range exchanges, not hash ones.
    val d = "/root/testdata/sf0.001"
    val ticks = graft.sources.Tables.ticks(spark, d)
    def hashExchanges(plan: String): Int =
      "Exchange hashpartitioning".r.findAllIn(plan).size
    def filters = Seq(
      "garchFilter" -> graft.operators.Microstructure
        .garchFilter(ticks, SparkEntry.garchOmega,
          SparkEntry.garchAlpha, SparkEntry.garchBeta),
      "kalmanFilter" -> graft.operators.Microstructure
        .kalmanFilter(ticks, SparkEntry.kalmanQ, SparkEntry.kalmanR),
      "cusumFilter" -> graft.operators.Microstructure
        .cusumFilter(ticks, SparkEntry.cusumH),
      "hmmFilter" -> graft.operators.Microstructure
        .hmmFilter(ticks, SparkEntry.hmmParams),
      "fracDiff" -> graft.operators.Microstructure
        .fracDiff(ticks, SparkEntry.ffdD, SparkEntry.ffdK))
    for ((name, df) <- filters) {
      val plan = gatedPlan(df)
      assert(hashExchanges(plan) == 1,
        s"$name expected exactly 1 hash exchange:\n$plan")
    }
    // the sf0.001 tape itself runs each filter as one stage
    for ((name, df) <- filters) {
      val plan = df.queryExecution.executedPlan.toString
      assert(oneStage(plan), s"$name expected one stage:\n$plan")
    }
  }

  test("H17: the BM25 ranker compiles to broadcast joins on the " +
      "tiny df/stats sides and a TakeOrderedAndProject top-k — " +
      "never a sort-merge join or a global sort") {
    // The 100 TB contract for lexical ranking: the posting-list
    // frame (docs with >= 1 query-term hit) joins the term-df and
    // corpus-stats frames as BROADCASTS (df has <= |q| rows, stats
    // exactly 1), and the final top-k plans as per-partition heaps +
    // one k-row driver merge — never a full sort of the scored set.
    // A refactor that makes df/stats shuffle-join or sorts the
    // candidates globally is caught here.
    val docs = spark.range(2000L)
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'kiwi mango pad pad' " +
        "ELSE 'pad pad pad' END AS text",
        "'en' AS lang", "'s' AS source")
    val top = graft.operators.Retrieval.bm25Search(docs, "kiwi mango", 10)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected the top-k heap plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"df/stats must broadcast, not shuffle-join:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1 &&
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast df join + broadcast stats cross join:\n$plan")
    import spark.implicits._
    assert(top.as[(Int, Long, Long, Long, Long)].collect()
      .forall(_._2 % 3 == 0))
  }
}
