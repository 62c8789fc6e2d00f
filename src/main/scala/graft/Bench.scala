package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line for the driver.
  *
  * A warmup pass (schema reads + a tiny job) runs before the clock so
  * per-query numbers measure the query, not JVM/session startup or
  * parquet footer reads. AQE stays on — it is part of the engine under
  * test.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    CkptGc.quietUnpersistWarnings()

    // Warmup: JVM + codegen + parquet footers + the engine's one-time
    // machinery (shuffle system, whole-stage codegen framework,
    // vectorized parquet reader), outside the clock. Reading ONE row
    // per table initializes the scan path without pre-computing any
    // query's work.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(1000L).groupBy(org.apache.spark.sql.functions.expr("id % 10"))
      .count().collect()
    // warm the noop sink (the timed action) so its one-time datasource
    // init is not billed to the alphabetically-first query
    spark.range(1000L).write.format("noop").mode("overwrite").save()
    // warm the ORC/JSON writer+reader stacks (codec init, writer
    // codegen, first-use JIT) so the A29/A30 round-trip keys measure
    // the round trip, not one-time format init (q_orc_roundtrip
    // measured 24.7 s cold vs 3.5 s warm before this)
    locally {
      val fmtDir = java.nio.file.Files
        .createTempDirectory("graft_bench_fmt")
      try {
        spark.range(1000L).selectExpr("id", "CAST(id AS STRING) AS s")
          .write.mode("overwrite").orc(s"$fmtDir/o")
        spark.read.orc(s"$fmtDir/o").head(1)
        spark.range(1000L).selectExpr("id", "CAST(id AS STRING) AS s")
          .write.mode("overwrite").json(s"$fmtDir/j")
        spark.read.json(s"$fmtDir/j").head(1)
      } catch { case scala.util.control.NonFatal(e) =>
        // A failed warm-up silently reverts q_orc_roundtrip /
        // q_jsonl_roundtrip to measuring ~21 s of one-time format
        // init (the documented 24.7 s cold case) — make that visible
        // next to the bench numbers instead of discarding it.
        System.err.println(s"[bench] ORC/JSON warm-up FAILED " +
          s"(A29/A30 keys will include one-time format init): $e")
      } finally LocalFiles.rmTree(fmtDir.toFile)
    }
    // JIT/codegen battery (r18, guide §1: per-query numbers must
    // measure the query, not JVM warm-up): a fresh JVM C2-compiles the
    // whole Catalyst/codegen/exchange/window stack while the FIRST
    // queries of run 1 execute — measured on the r17 driver run as the
    // alphabetically-early keys at 4-8x their warm floor (q_amihud
    // 5.36 s cold vs 1.32 warm; q_ann_ivf 6.60 vs 0.52) and reproduced
    // locally: the first key of a fresh session pays ~7 s that the
    // same key at position 40 does not. The battery exercises the
    // recurring physical shapes of the registry (window functions,
    // sort-merge + broadcast joins, hash + object-hash aggregates,
    // higher-order array funcs, string/date/json expressions, a global
    // sort) over SYNTHETIC spark.range data — no testdata input, no
    // query's work precomputed — repeated so hot paths cross the C2
    // thresholds. Cost: ~15-25 s once, before the clock.
    locally {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      try {
        val base = spark.range(200000L).select(
          col("id"),
          (col("id") % 97).as("k"),
          (col("id") % 1013).cast("double").as("v"),
          concat(lit("s"), (col("id") % 31).cast("string")).as("s"),
          timestamp_micros(col("id") * 1000000L + 1500000000000000L)
            .as("ts"))
        val dim = spark.range(97L).select(col("id").as("k"),
          (col("id") * 3).as("w"))
        for (_ <- 1 to 3) {
          // window battery: lag/row_number/running sum over one exchange
          base.select(col("k"), col("id"), col("v"),
              lag(col("v"), 1).over(org.apache.spark.sql.expressions
                .Window.partitionBy("k").orderBy("id")).as("pv"),
              row_number().over(org.apache.spark.sql.expressions
                .Window.partitionBy("k").orderBy(col("v").desc, col("id")))
                .as("rn"),
              sum(col("v")).over(org.apache.spark.sql.expressions
                .Window.partitionBy("k").orderBy("id")
                .rowsBetween(Long.MinValue, 0)).as("cs"))
            .write.format("noop").mode("overwrite").save()
          // aggregate battery: hash agg + object-hash (percentile,
          // collect_list/sort_array/HOF fold) + date/string/json exprs
          base.withColumn("d", to_date(col("ts")))
            .withColumn("j", concat(lit("""{"k":"""),
              (col("id") % 7).cast("string"), lit("}")))
            .groupBy("k", "d")
            .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
              min(col("id")).as("mn"), max(col("id")).as("mx"),
              expr("percentile(v, 0.5)").as("p50"),
              expr("aggregate(transform(sort_array(collect_list(" +
                "struct(id, v))), x -> x.v), 0.0D, (a, b) -> a + b)")
                .as("fold"),
              sum(coalesce(get_json_object(col("j"), "$.k")
                .cast("long"), lit(0L))).as("jk"))
            .write.format("noop").mode("overwrite").save()
          // join battery: broadcast + sort-merge over the same keys,
          // then a global sort
          base.join(broadcast(dim), Seq("k"))
            .join(base.select(col("id"), col("v").as("v2")), Seq("id"))
            .orderBy(col("v").desc, col("id"))
            .write.format("noop").mode("overwrite").save()
        }
        // streaming machinery: one tiny synthetic tape through the
        // q_stream_* drive initializes StreamExecution / micro-batch
        // planner / state-store stack so the first q_stream_* key
        // measures its drive, not first-use
        implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
        graft.streaming.StreamRegistry.drive(spark,
          Seq(Seq(1L to 2000L, 2001L to 4000L)),
          org.apache.spark.sql.streaming.OutputMode.Update)(
          in => in.head.groupBy((col("value") % 7).as("g")).count())
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] JIT warm-up battery FAILED " +
          s"(run-1 heads will include JVM warm-up): $e")
      }
      System.err.println(f"[bench] warm-up battery: ${
        (System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val df = graft.sources.Tables.table(spark, sfDir, t)
        df.schema
        df.head(1)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

    // Fixture pre-build (r14 verdict #3): the session-shared frames
    // several query families ride (the D66 slot chain, the D84 GD
    // fit, the F71/F74 pair census) build ONCE per session via
    // SessionFrameCache — inside the timed suite that build cost
    // lands on whichever consumer runs FIRST alphabetically
    // (q_nn_recon carried the 12 s slot-chain build in r14's heads).
    // Build them here, before the clock, and report each build as an
    // explicit fixture:* row so per-query numbers are MARGINAL cost
    // and the shared-infrastructure cost stays visible, not hidden.
    def fixture(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try f catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] fixture $name FAILED: ${e.getMessage}")
      }
      (name, (System.nanoTime() - t0) / 1e9)
    }
    val fixtures = Fixtures.all.map { case (name, build) =>
      fixture(name)(build(spark, sfDir))
    }

    // Double-run protocol (round-8): the whole suite executes TWICE
    // back-to-back. Run 1 keeps the historical semantics (cold codegen
    // caches, first-touch page cache) and feeds the stdout metric line,
    // so round-over-round totals stay comparable. Run 2 re-times the
    // identical work warm: a query whose run-1 number spikes but whose
    // run-2 number sits at its usual floor was hit by machine
    // contention or cold-JIT, not a plan regression — this bounds the
    // contention band that previously took a full extra round to
    // adjudicate (r5's q_tz_shift "4.45x regression" et al.).
    def runSuite(): Seq[(String, Double, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // Checkpoint GC (r12: warm run 441 s > cold 412 s — leaked
        // localCheckpoint blocks): snapshot persisted RDDs, sweep
        // everything new after the query's action, keep pinned
        // cross-query caches. The sweep runs INSIDE the timed span?
        // No — after the clock stops: it BLOCKS on block-manager
        // removal (CkptGc.sweep's deliberate choice — see its doc),
        // so billing it to the query would punish checkpoint-using
        // plans for the harness's hygiene.
        val ckptBefore = CkptGc.snapshot(spark)
        val t0 = System.nanoTime()
        // Split plan-build+optimize ("compile") from execution so drift
        // between Catalyst overhead and actual work is attributable.
        // Queries that run jobs while BUILDING the DataFrame (iterative
        // CC, the IVF centroid fetch) charge those jobs to compile —
        // that is genuinely pre-execution work.
        // A failing query must not masquerade as a fast one: record -1.
        val (compile, elapsed) =
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.executedPlan // force analysis + optimization
            val t1 = System.nanoTime()
            // noop sink, NOT count(): under count() Catalyst prunes
            // unreferenced projections and windows, so projection-only
            // queries (fingerprints, scalers, tz shifts, ...) would be
            // timed as a bare scan with the advertised work optimized
            // away. The noop write consumes every output column —
            // the same full evaluation Verify's parquet dump pays.
            df.write.format("noop").mode("overwrite").save()
            ((t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            (-1.0, -1.0)
          }
        CkptGc.sweep(spark, ckptBefore)
        (name, compile, elapsed)
      }
    val results = runSuite()
    // Inter-run hygiene: 278 executed plans leave dead codegen
    // classes/JIT state behind; one explicit full GC between runs
    // keeps run 2 measuring the QUERIES warm rather than the
    // accumulated session (the r12 warm-slower-than-cold lesson —
    // CkptGc removed the block leak, this removes the heap residue).
    // The settle sleep lets the ContextCleaner drain its async
    // broadcast/accumulator removal queue (GC enqueues hundreds of
    // removals; run 2's first queries otherwise compete with that
    // RPC burst — measured as a broad ~0.1 s/query run-2 tax).
    System.gc()
    Thread.sleep(3000)
    val results2 = runSuite()
    // The driver parses the metric line out of a 2000-char stdout tail
    // (sbt's trailing "[success] ..." line eats ~75 of that). Round-3's
    // line carried a second full-precision per-query map and blew past
    // the cap, so the driver recorded parsed:null. Keep the stdout line
    // minimal — 3-decimal times, no compile map — and put the full-
    // precision compile/exec breakdown only in bench_metric.json.
    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // and a comma decimal separator would corrupt the JSON line.
    // 2 decimals since round 8: at 74 queries the 3-decimal line
    // measured ~1824 chars — ~100 under the cap once sbt's ~75-char
    // epilogue is counted. 10 ms granularity is ample for per-query
    // drift reading (full precision lives in bench_metric.json), and
    // the saved 74 chars restore real headroom.
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // failures carry a -1 sentinel; they must not (negatively!) offset
    // the headline total — sum only successful queries
    val total = results.collect { case (_, _, t) if t >= 0 => t }.sum
    // The stdout line must not grow with query count: at 106 queries
    // the full per-query map hit 2357 chars and the driver's 2000-char
    // stdout tail cap recorded BENCH_r08 as parsed:null. The line now
    // carries only the total, SF, query count, any failures, and the
    // slowest five — a fixed-size shape regardless of registry growth.
    // The full per-query/compile maps for both runs live in
    // bench_metric.json (written below, read by the judge).
    val failed = results.collect { case (k, _, t) if t < 0 => k }
    val slow5 = results.filter(_._3 >= 0).sortBy(-_._3).take(5)
    val qs = (slow5.map { case (k, _, v) => "\"" + k + "\":" + fmt(v) } ++
      failed.map { k => "\"" + k + "\":-1" }).mkString("{", ",", "}")
    // run2 = the warm repeat's total (r9 verdict #6): one fixed-size
    // field that lets a round comparison separate contention/cold-JIT
    // noise (run1 spikes, run2 at floor) from real plan regressions
    // (both runs move) without digging into bench_metric.json.
    val total2 = results2.collect { case (_, _, t) if t >= 0 => t }.sum
    // fixtures: fixed-size (3 entries) — the untimed shared-frame
    // build costs, so the headline totals are marginal per-query cost
    // WITHOUT the infrastructure cost disappearing from the record.
    val fixJson = fixtures
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Plan-cost column (r15 verdict #2): min(run1, run2) per key is
    // the stable plan-cost estimate (cold run 1 stays the headline
    // for honesty); keys with run1/run2 > 3 are contention-suspect.
    // ONE construction: the stdout run_min total and the
    // bench_metric.json plan_cost map both derive from planCost so
    // they cannot desynchronize.
    val r2map = results2.map(r => r._1 -> r._3).toMap
    val planCost = results.map { case (k, _, t1) =>
      val t2 = r2map.getOrElse(k, -1.0)
      (k, if (t1 < 0 || t2 < 0) math.max(t1, t2) else math.min(t1, t2))
    }
    val suspects = results.collect {
      case (k, _, t1) if t1 >= 0 && r2map.getOrElse(k, -1.0) > 0 &&
        t1 / r2map(k) > 3.0 => k
    }
    // run_min = Σ plan_cost over keys with at least one successful
    // run (a key that failed both runs carries the -1 sentinel and
    // must not offset the total).
    val totalMin = planCost.collect { case (_, v) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","run2":${fmt(total2)},"run_min":${fmt(totalMin)},"n_queries":${results.size},"fixtures":$fixJson,"queries":$qs,"sf":"$sfDir"}"""
    // Bare line on stdout for the driver's tail parser (build.sbt sets
    // run/outputStrategy := StdoutOutput so sbt adds no "[info] "
    // prefix), plus a file copy as belt-and-braces.
    println(line)
    // Hard tripwire (r8 lesson: the warning fired and was ignored —
    // the round shipped with parsed:null). An oversize line is a bench
    // FAILURE now; it cannot happen with the fixed-size shape above,
    // so tripping means someone re-added a growing field.
    if (line.length > 1800) {
      System.err.println(s"[bench] FATAL: metric line ${line.length} chars " +
        "exceeds the 1800-byte budget (driver cap 2000) — shrink the line")
      spark.stop()
      sys.exit(1)
    }
    // bench_metric.json carries BOTH runs at full precision (the stdout
    // line stays run-1-only: adding a second per-query map is exactly
    // what blew the driver's 2000-char tail cap in round 3). Top-level
    // queries/compile are kept for pre-r8 consumers and are exactly
    // runs[0]'s maps — one construction path, no drift possible.
    def mapJson(rs: Seq[(String, Double, Double)], f: ((String, Double, Double)) => Double): String =
      rs.map { r => "\"" + r._1 + "\":" + f(r) }.mkString("{", ",", "}")
    def runJson(rs: Seq[(String, Double, Double)]): String = {
      val t = rs.collect { case (_, _, v) if v >= 0 => v }.sum
      s"""{"total":$t,"queries":${mapJson(rs, _._3)},"compile":${mapJson(rs, _._2)}}"""
    }
    val fixFull = fixtures
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // (planCost/suspects built above, before the stdout line — the
    // r15 context: official run-1 heads were up to 7.6x the same-tree
    // uncontended numbers, pure cold-cache/contention attribution.)
    val planJson = planCost
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","fixtures":$fixFull,"queries":${
      mapJson(results, _._3)},"compile":${mapJson(results, _._2)
    },"runs":[${runJson(results)},${runJson(results2)}],"plan_cost":$planJson,"contention_suspect":$suspectJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_metric.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    // Round-over-round attribution (r14 verdict #3): the driver
    // overwrites bench_metric.json each round, which is how r13's
    // full per-query map was lost and the r14 regression audit went
    // blind beyond the stdout top-five. Append every run's full map
    // to a history log so no round's numbers are ever dropped.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_metric_history.jsonl"),
      (full + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case scala.util.control.NonFatal(_) => () }
    // GC accounting (stderr only — the stdout metric line is frozen):
    // per-key isolated timings run well under the same key's in-suite
    // number; this says how much of the gap is collector time.
    locally {
      import scala.jdk.CollectionConverters._
      val gcs = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
      val (n, ms) = (gcs.map(_.getCollectionCount).sum,
        gcs.map(_.getCollectionTime).sum)
      System.err.println(s"[bench] GC total: $n collections, ${ms} ms " +
        s"(heap max ${Runtime.getRuntime.maxMemory() / (1 << 20)} MiB)")
    }
    spark.stop()
  }
}
