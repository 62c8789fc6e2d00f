package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Fixtures, GraftSession, SparkEntry}
import graft.sources.Parquet

/** Whole-registry scale sweep over a 10x replica of sf0.1 (first
  * built for the round-8 sf1-scale smoke of the dedup family: evidence
  * beyond sf0.1 that the LSH shuffle sizes scale as designed).
  *
  * No sf1 testdata exists (driver generates up to sf0.1), so this
  * builds a 10x replica of sf0.1's tables under tmp/sf1smoke/: each of
  * 10 replicas keeps the text and remaps ids, e.g.
  * doc_id -> doc_id + replica * 5e9 — multi-billion ids, deliberately
  * past the old `id * K` overflow boundary (~3.5e9), so the sweep also
  * exercises the r6 mod-P-first hash fix on real operator paths.
  *
  * This replica corpus is a WORST-CASE dedup stress, not a neutral
  * sample: every text occurs >= 10 times, so the duplicate rate is
  * ~10x sf0.1's and every minhash band bucket is hot (10+ members per
  * bucket per replicated text). Super-linearity in the band join or
  * the CC iteration shows up here amplified, which is the point.
  *
  * Every key runs twice through the same noop sink Bench uses; the
  * min of the two passes goes to `scale_sweep_<n>x.json`, the bracket
  * `scripts/scale_gate.py` ratchets round over round.
  *
  * Run: sbt "runMain graft.tools.Sf1Smoke"
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR (the source SF),
  * SPARK_GRAFT_REPLICAS, SPARK_GRAFT_ONLY (see below).
  */
object Sf1Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_REPLICAS scales the replica factor (default 10 ≈
    // sf1); 100 gives the second scaling point (~sf10: 500k docs /
    // 200k vectors) for the 1x → 10x → 100x curve in SURVEY §5.
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val outDir =
      if (replicas == 10) "tmp/sf1smoke" else s"tmp/smoke${replicas}x"
    val spark = GraftSession.local(cpus)
    spark.range(1000L).write.format("noop").mode("overwrite").save()

    // `copies` copies of `source` at `target`, written by `remap` over
    // `source` crossed with the copy index in column `replica`. Cache
    // guard on _SUCCESS, not bare directory existence: a killed prior
    // write leaves a partial directory that would silently time the
    // family on a fraction of the corpus. A stale cache (source
    // regenerated since) must fail loudly, not mislabel the results.
    def replicate(source: DataFrame, target: String, copies: Int)(
        remap: DataFrame => DataFrame): Long = {
      val srcN = source.count()
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$target/_SUCCESS")))
        remap(source.crossJoin(
            spark.range(copies).select(col("id").as("replica"))))
          .repartition(8)
          .write.mode("overwrite").parquet(target)
      val n = Parquet.read(spark, target).count()
      require(n == copies * srcN,
        s"$target has $n rows, expected ${copies * srcN} — " +
          s"delete $outDir and rerun")
      n
    }
    // `copies` copies of `$src/$table.parquet` at
    // `$outDir/$table.parquet`, each `keys` column remapped to
    // key + copy * 5e9 so every copy is a disjoint key universe.
    def replicateTable(table: String, copies: Int, keys: String*): Unit = {
      val source = Parquet.read(spark, s"$src/$table.parquet")
      val cols = source.columns.toSeq.map { c =>
        if (keys.contains(c)) (col(c) + col("replica") * lit(5000000000L)).as(c)
        else col(c)
      }
      val n = replicate(source, s"$outDir/$table.parquet", copies)(
        _.select(cols: _*))
      println(s"[sf1-smoke] $table rows=$n (${copies}x $src)")
    }
    replicateTable("documents", replicas, "doc_id")
    // Embeddings replica for the vector ops (round-8 additions).
    // Replica 0 keeps the original vec_ids, so kmeansAssign's 0..k-1
    // init contract holds; the duplicated vectors make every kmeans
    // cell and LSH bucket replicas-hot, same worst-case logic as the
    // docs.
    replicateTable("embeddings", replicas, "vec_id")
    // Events replica for the temporal-join/tick family (round-9: the
    // only block whose scale claims rested solely on plan reads).
    // Symbols remap like doc_id: each replica is a fresh symbol set
    // (user_id + replica * 5e9), so per-symbol tick counts stay at
    // sf0.1 density while the GROUP/JOIN-KEY cardinality — the
    // dimension that actually grows on a real tick lake (more symbols
    // × more days) — scales 10x/100x. The as-of/nearest window state
    // per key is constant; what must NOT blow up is the shuffle and
    // the per-key window machinery across 10-100x more keys.
    // ts is copied as stored, so the replica parquet round-trips
    // through Tables.events identically to the driver-generated table.
    replicateTable("events", replicas, "event_id", "user_id")
    // TPC-H replicas (round-16, whole-registry sweep): the C-family
    // analytics read lineitem/orders/customer/supplier/part. Primary
    // AND foreign keys remap together (+replica·5e9) so every join
    // stays consistent — each replica is a disjoint key universe,
    // which scales the join/agg KEY CARDINALITY 10-100x while
    // per-key density stays at sf0.1 (the same growth axis as the
    // events replica's symbol remap). nation/region are semantic
    // constants (25/5 rows) — copied once, not remapped, so nationkey
    // joins still land.
    replicateTable("lineitem", replicas, "l_orderkey", "l_partkey", "l_suppkey")
    replicateTable("orders", replicas, "o_orderkey", "o_custkey")
    replicateTable("customer", replicas, "c_custkey")
    replicateTable("supplier", replicas, "s_suppkey")
    replicateTable("part", replicas, "p_partkey")
    replicateTable("nation", 1)
    replicateTable("region", 1)

    // STREAMING replica (r16 verdict #2): the 49-key G-family was
    // excluded from the 10x bracket because naive replication repeats
    // the same time span in every +5e9 id block, breaking the tape's
    // GLOBAL ts-monotonicity (the ingest invariant every replay
    // assumes — a replayed non-monotone tape spends the run inside
    // watermark-drop paths and times a corpus the semantics reject).
    // This replica restores the invariant: replica r's events shift
    // forward by r * (day span + 2) WHOLE DAYS, so event_id order
    // (replica-major, driver-monotone within each block) is globally
    // ts-monotone — the concatenated tape is a valid ingest. Whole-day
    // shifts keep the (symbol, day) structure and per-key density at
    // sf0.1 while the SYMBOL cardinality, the tape length, and the
    // keyed-state width scale 10x — exactly the axes a production
    // Kafka deployment grows on. documents/orders ride the plain
    // key-remapped replicas (their tapes re-sort globally by hash/day
    // before the drive, no monotonicity seam).
    val streamDir = s"$outDir/stream"
    def buildStreamTables(): Unit = {
      import org.apache.spark.sql.types.LongType
      val raw = Parquet.read(spark, s"$src/events.parquet")
      val isNanos = raw.schema("ts").dataType == LongType
      val nS = replicate(raw, s"$streamDir/events.parquet", replicas) { x =>
        val shiftDays = (if (isNanos)
          raw.agg(((max(col("ts")) - min(col("ts")))
            / lit(86400L * 1000000000L)).cast("long")).head().getLong(0)
        else
          raw.agg(datediff(max(col("ts").cast("date")),
            min(col("ts").cast("date"))).cast("long")).head().getLong(0)
          ) + 2L
        val ts2 =
          if (isNanos)
            (col("ts") + col("replica") * lit(shiftDays * 86400L
              * 1000000000L)).as("ts")
          else expr(s"timestampadd(DAY, CAST(replica * $shiftDays" +
            " AS INT), ts)").as("ts")
        x.select(
          (col("event_id") + col("replica") * lit(5000000000L))
            .as("event_id"),
          ts2,
          (col("user_id") + col("replica") * lit(5000000000L))
            .as("user_id"),
          col("event_type"), col("value"), col("props"))
      }
      // the invariant the whole exercise exists for: ts-monotone in
      // event_id order (checked on the replica seams, cheap)
      val viol = graft.sources.Tables.events(spark, streamDir)
        .select(col("event_id"), col("ts"))
        .withColumn("block", expr("event_id div 5000000000"))
        .groupBy("block").agg(min("ts").as("lo"), max("ts").as("hi"))
        .orderBy("block").collect()
      viol.sliding(2).foreach { w =>
        if (w.length == 2)
          require(w(0).getTimestamp(2).before(w(1).getTimestamp(1)),
            s"stream replica blocks overlap in time: ${w.toSeq}")
      }
      println(s"[sf1-smoke] stream events rows=$nS " +
        s"(${replicas}x, per-replica day shift)")
      // documents/orders: the same frames the batch replica carries,
      // rewritten under streamDir so the one-dir query contract holds
      Seq("documents", "orders").foreach { t =>
        replicate(Parquet.read(spark, s"$outDir/$t.parquet"),
          s"$streamDir/$t.parquet", 1)(_.drop("replica"))
      }
    }

    // Whole-registry sweep (r15 verdict #4): every SparkEntry key at
    // the 10x replica, timed twice, JSON out — the standing
    // scale-regression bracket scripts/scale_gate.py ratchets against
    // round over round. Exclusions, each with its standing rationale:
    //  - q_dedup_curve / q_lsh_planner: QUADRATIC BY CONSTRUCTION on
    //    the all-dup replica (every band bucket replicas-hot, raw
    //    matches ~replicas² — a measured >11 min non-completion, not
    //    a plan defect; adjudicated in SURVEY §5, r10).
    //  - q_dedup_recall: its mutant-id arithmetic REQUIREs the doc_id
    //    space below 10^7 (so planted mutants cannot collide with
    //    real ids) — the replica's +5e9 offsets violate that contract
    //    by construction. The bench itself is a bounded sampled audit
    //    (its cost does not grow with corpus scale).
    //  - q_stream_media: its media lake is a corpus-independent
    //    fixture (the key ignores the sfDir, so a replica point would
    //    re-time sf0.1).
    // The q_stream_* keys run over the monotone per-replica-shifted
    // tape under streamDir (see buildStreamTables), every other key
    // over outDir.
    // SPARK_GRAFT_ONLY=q_a,q_b narrows a run to named queries (new-op
    // smokes without re-timing the whole registry).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val (streamFamily, registryFamily) = SparkEntry.queries.keys.toSeq
      .sorted
      .filterNot(Set("q_dedup_curve", "q_lsh_planner", "q_dedup_recall",
        "q_stream_media"))
      .filter(q => only.forall(_(q)))
      .partition(_.startsWith("q_stream_"))
    // Pre-build the session-shared fixtures exactly as Bench does
    // (same corpus key = the replica dir, same params), so the per-key
    // numbers are MARGINAL cost and the shared builds are explicit
    // fixture rows in the JSON rather than landing on the
    // alphabetically-first consumer.
    def fixture(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      // A failed fixture records the -1 sentinel, matching the
      // per-key failure convention scale_gate.py checks — its
      // elapsed time is NOT a bracket value, and the dependent
      // keys below silently absorb the un-prebuilt shared cost
      // (r16 advice: a standalone gate run on the JSON must see
      // the failure, not a skewed marginal-cost bracket).
      var failed = false
      try f catch { case scala.util.control.NonFatal(e) =>
        failed = true
        System.err.println(s"[sf1-smoke] fixture $name FAILED: " +
          e.getMessage)
      }
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[sf1-smoke] fixture:$name%-20s $s%.2f s")
      (s"fixture:$name", if (failed) -1.0 else s)
    }
    // Each key over `dir`, bracket value = min of two passes (r17: the
    // ratchet's one false positive — q_ewma 1.55 -> 10.03 "6.5x" — was
    // machine contention, adjudicated by standalone reruns at 2.10 s;
    // min-of-two is Bench's plan_cost discipline and kills the class
    // at the source). A failure records the -1 sentinel (the scale
    // gate fails on it; round_close also greps FAILED), so one broken
    // key can neither abort the sweep nor masquerade as a near-zero
    // timing.
    def timeKeys(keys: Seq[String], dir: String): Seq[(String, Double)] =
      keys.map { q =>
        // per-query checkpoint sweep (the Bench/Verify discipline):
        // without it each query's localCheckpoint barriers — e.g.
        // the dedup band-sketch frame — accumulate across the sweep
        // and later keys run under storage-memory pressure (the r12
        // warm-slower-than-cold regression, here at 10-100x the
        // block sizes). Deliberate cross-query caches stay via their
        // CkptGc pins.
        val before = graft.CkptGc.snapshot(spark)
        var failed = false
        def onePass(label: String): Double = {
          val t0 = System.nanoTime()
          try SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          catch {
            case scala.util.control.NonFatal(e) =>
              failed = true
              System.err.println(s"[sf1-smoke] $q FAILED: ${e.getMessage}")
          }
          val s = (System.nanoTime() - t0) / 1e9
          val name = s"$q $label"
          println(f"[sf1-smoke] $name%-28s $s%.2f s")
          s
        }
        val s = onePass("cold")
        val s2 = if (!failed) math.min(s, onePass("run2")) else s
        graft.CkptGc.sweep(spark, before)
        (q, if (failed) -1.0 else s2)
      }
    // pair_census is NOT prebuilt here (r16 verdict finding): its
    // only consumers (q_dedup_curve / q_lsh_planner) are excluded
    // from this sweep as quadratic-by-construction on the all-dup
    // replica, so the 354 s census (the single largest line of the
    // r16 bracket) priced work nothing in the sweep consumed.
    // Bench still prebuilds it — there the consumers run.
    val fixtures = Seq("slot_chain", "gd_fit", "ivf_cents").map { name =>
      fixture(name)(Fixtures(name)(spark, outDir))
    }
    val timed = timeKeys(registryFamily, outDir)
    val (streamFixtures, streamTimed) =
      if (streamFamily.isEmpty)
        (Seq.empty[(String, Double)], Seq.empty[(String, Double)])
      else {
        buildStreamTables()
        // the G-family's shared builds, prebuilt against streamDir so
        // the per-key rows are marginal cost (the Bench discipline):
        // the session-memoized tick tape (29 drive consumers) and the
        // batch-trained deployment artifacts four serving keys load.
        // (fixture row name -> Fixtures name; the slot chain and GD
        // fit rows carry a _stream suffix to tell them from the batch
        // pass's builds on outDir)
        val sf = Seq("stream_tape" -> "stream_tape",
            "order_tape" -> "order_tape",
            "slot_chain_stream" -> "slot_chain",
            "gd_fit_stream" -> "gd_fit").map { case (row, name) =>
          fixture(row)(Fixtures(name)(spark, streamDir))
        }
        (sf, timeKeys(streamFamily, streamDir))
      }
    // fixture -> dependent-keys attribution (r16 verdict finding: the
    // bracket didn't say which keys consume a fixture's cost, so a
    // fixture regression couldn't be attributed from the JSON alone).
    // Underscore prefix = metadata; scale_gate.py strips it.
    val fixtureDeps: Seq[(String, Seq[String])] = Seq(
      "fixture:slot_chain" -> Seq("q_pipeline_status", "q_stage_lineage",
        "q_window_tensors", "q_anomaly_pipeline", "q_error_profile",
        "q_nn_recon", "q_gd_autoencoder", "q_gd_valcurve",
        "q_signal_backtest", "q_walkforward_model", "q_backtest_report",
        "q_book_report", "q_latency_sensitivity", "q_signal_sweep",
        "q_model_params", "q_staleness_report"),
      "fixture:gd_fit" -> Seq("q_gd_autoencoder", "q_gd_valcurve"),
      "fixture:ivf_cents" -> Seq("q_ann_ivf_served"),
      "fixture:stream_tape" -> Seq("q_stream_anomaly", "q_stream_burst",
        "q_stream_cusum", "q_stream_dormant", "q_stream_downsample",
        "q_stream_drawdown", "q_stream_ewma", "q_stream_ffd",
        "q_stream_garch", "q_stream_gd_scores", "q_stream_hmm",
        "q_stream_interval_join", "q_stream_kalman", "q_stream_moments",
        "q_stream_ohlc", "q_stream_pairz", "q_stream_positions",
        "q_stream_response", "q_stream_retrain", "q_stream_seasonal",
        "q_stream_sessions", "q_stream_spikes", "q_stream_tick_classes",
        "q_stream_triple_barrier", "q_stream_twap", "q_stream_upsert",
        "q_stream_vol_cone", "q_stream_welford",
        "q_stream_window_counts"),
      "fixture:order_tape" -> Seq("q_stream_order_velocity",
        "q_stream_coverage"),
      "fixture:slot_chain_stream" -> Seq("q_stream_anomaly",
        "q_stream_positions", "q_stream_retrain", "q_stream_gd_scores"),
      "fixture:gd_fit_stream" -> Seq("q_stream_gd_scores"))
    // JSON bracket for the scale-regression ratchet:
    // scripts/scale_gate.py compares this file round over round and
    // fails any key > 3x its prior point.
    val present = (fixtures ++ streamFixtures).map(_._1).toSet
    val deps = fixtureDeps.filter(d => present(d._1))
      .map { case (k, ks) =>
        "\"" + k.stripPrefix("fixture:") + "\":" +
          ks.map("\"" + _ + "\"").mkString("[", ",", "]") }
      .mkString("\"_fixture_deps\":{", ",", "}")
    val j = ((fixtures ++ timed ++ streamFixtures ++ streamTimed)
      .map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT,
          "%.3f", Double.box(v)) } :+ deps)
      .mkString("{", ",", "}")
    // A SPARK_GRAFT_ONLY-narrowed run must not overwrite the full
    // bracket (round_close.sh would rotate a partial baseline) —
    // write it aside for manual merging instead.
    val f =
      if (sys.env.contains("SPARK_GRAFT_ONLY"))
        s"scale_sweep_${replicas}x_partial.json"
      else s"scale_sweep_${replicas}x.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      (j + "\n").getBytes("UTF-8"))
    println(s"[sf1-smoke] bracket written: $f (${timed.size} batch + " +
      s"${streamTimed.size} stream keys)")
    spark.stop()
  }
}
