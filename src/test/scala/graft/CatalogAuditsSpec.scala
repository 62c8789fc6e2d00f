package graft

import org.apache.spark.sql.functions._
import graft.operators.CatalogAudits
import graft.sources.Tables
import graft.streaming.StreamRegistry

/** The r15 driver-checkable audit keys: side-effectful A-section ops
  * (CatalogAudits) and the streaming drive protocol (StreamRegistry),
  * each cross-checked against a direct Spark derivation on the
  * smallest real corpus — the same equalities the DuckDB oracle
  * hashes at 3 SFs, proven here inside one engine so a failure
  * localizes to the audit machinery rather than cross-engine
  * spelling. */
class CatalogAuditsSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val P = graft.functions.PortableText.P

  test("ingestRoundTrip: CSV write→read round-trips every symbol's " +
      "count, exact cents sums and ms-timestamp hash") {
    val audit = CatalogAudits.ingestRoundTrip(spark, d)
    val direct = Tables.ticks(spark, d)
      .filter(pmod(col("symbol"), lit(16L)) === 0)
      .groupBy(concat(lit("symbol="), col("symbol").cast("string"))
        .as("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(bid * 100.0, 0) AS BIGINT)"))
          .as("bid_cents"),
        sum(expr("CAST(round(ask * 10000.0, 0) AS BIGINT)"))
          .as("ask_e4"),
        sum(pmod(unix_millis(col("ts")), lit(P))).as("ts_fp"))
      .orderBy("symbol")
    assert(audit.collect().toSeq == direct.collect().toSeq)
  }

  test("orcRoundTrip: ORC write→read round-trips every symbol's " +
      "count, exact cents sums and us-timestamp hash") {
    val audit = CatalogAudits.orcRoundTrip(spark, d)
    val direct = Tables.ticks(spark, d)
      .filter(pmod(col("symbol"), lit(16L)) === 0)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(bid * 100.0, 0) AS BIGINT)"))
          .as("bid_cents"),
        sum(expr("CAST(round(ask * 10000.0, 0) AS BIGINT)"))
          .as("ask_e4"),
        sum(pmod(unix_micros(col("ts")), lit(P))).as("ts_fp"))
      .orderBy("symbol")
    assert(audit.collect().toSeq == direct.collect().toSeq)
  }

  test("jsonRoundTrip: JSONL write→read round-trips every source's " +
      "counts, char sums and text fingerprints; escaping survives " +
      "quotes, backslashes and tabs") {
    val audit = CatalogAudits.jsonRoundTrip(spark, d)
    val direct = Tables.documents(spark, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars_read"),
        sum(col("n_chars")).as("chars_stored"),
        sum(pmod(expr("graft_polyhash(text)"), lit(P))).as("text_fp"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
    assert(audit.collect().toSeq == direct.collect().toSeq)
    // adversarial escaping: quote/backslash/tab/unicode round-trip
    import spark.implicits._
    val nasty = Seq(
      (1L, "he said \"hi\" \\ and \t left", "en", "s0", 0L),
      (2L, "plain", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempDir("graft_jsspec") { dir =>
      nasty.write.mode("overwrite").json(dir.toString)
      val got = spark.read.json(dir.toString)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(got(1L) == "he said \"hi\" \\ and \t left")
      assert(got(2L) == "plain")
    }
  }

  test("compactionAudit: 3+3 appended files compact to exactly one " +
      "per year with rows and content fingerprint unchanged") {
    val rows = CatalogAudits.compactionAudit(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_files_before") == 6L)
      assert(r.getAs[Long]("n_files_planned") == 1L)
      assert(r.getAs[Long]("n_files_after") == 1L)
    }
    val direct = Tables.events(spark, d)
      .groupBy(year(col("ts")).as("year"))
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(pmod(col("event_id") * 31 +
          expr("CAST(round(value * 100.0, 0) AS BIGINT)"), lit(P))),
          lit(P)).as("fp"))
      .orderBy("year").collect()
    assert(rows.map(r => (r.getAs[Int]("year"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("fp"))).toSeq ==
      direct.map(r => (r.getAs[Int]("year"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("fp"))).toSeq)
  }

  test("evolutionAudit: pre-evolution generations surface all-NULL " +
      "late columns; natural nulls ride through") {
    val rows = CatalogAudits.evolutionAudit(spark, d).collect()
      .map(r => r.getAs[Int]("gen") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_null_props"),
          r.getAs[Long]("n_null_event_type")))).toMap
    assert(rows.keySet == Set(0, 1, 2))
    val ev = Tables.events(spark, d)
    (0 to 2).foreach { g =>
      val slice = ev.filter(col("event_id") % 3 === g)
      val n = slice.count()
      val nullProps =
        if (g == 0) n else slice.filter(col("props").isNull).count()
      val nullType =
        if (g < 2) n else slice.filter(col("event_type").isNull).count()
      assert(rows(g) == ((n, nullProps, nullType)), s"gen $g")
    }
  }

  test("orphanAudit: 2 planted orphans swept, 4 live files and every " +
      "table row untouched, re-run idempotent") {
    val r = CatalogAudits.orphanAudit(spark, d).collect().head
    assert(r.getAs[Long]("n_files") == 6L)
    assert(r.getAs[Long]("n_referenced") == 4L)
    assert(r.getAs[Long]("n_orphans") == 2L)
    assert(r.getAs[Long]("n_deleted") == 2L)
    assert(r.getAs[Long]("n_orphans_after") == 0L)
    assert(r.getAs[Long]("n_rows_live") ==
      Tables.events(spark, d).filter(col("event_id") % 5 === 0).count())
  }

  test("storageProfileAudit: footer value counts equal the row count " +
      "for every flat column; footer null stats equal logical nulls") {
    val prof = CatalogAudits.storageProfileAudit(spark, d).collect()
      .map(r => r.getAs[String]("column") ->
        ((r.getAs[Long]("n_values"), r.getAs[Long]("n_nulls")))).toMap
    val ev = Tables.events(spark, d)
    val n = ev.count()
    assert(prof.keySet ==
      Set("event_id", "user_id", "event_type", "value", "props"))
    prof.foreach { case (c, (nv, nn)) =>
      assert(nv == n, s"$c values")
      assert(nn == ev.filter(col(c).isNull).count(), s"$c nulls")
    }
  }

  test("StreamRegistry drive protocol: the streamed Complete-mode " +
      "sink equals the batch run of the same plan, detached from the " +
      "memory sink (no temp view left behind)") {
    val before = spark.catalog.listTables().count()
    val streamed = StreamRegistry.streamOhlc(spark, d)
    val after = spark.catalog.listTables().count()
    assert(after == before, "memory-sink temp view leaked")
    val batch = graft.streaming.Streaming
      .ohlcBars(Tables.ticks(spark, d)
        .select("tick_id", "symbol", "ts", "bid"), "1 hour")
      .orderBy("symbol", "bucket_start")
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("q_stream_welford: the streamed Welford flags equal a driver " +
      "fold replica bit-for-bit (post-update mean, pre-update ±kσ " +
      "verdict), and flags actually fire at the registry k") {
    val got = StreamRegistry
      .streamWelford(spark, d, SparkEntry.welfordK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    val ticks = Tables.ticks(spark, d)
      .select("symbol", "tick_id", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val want = ticks.groupBy(_._1).toSeq.flatMap { case (sym, ts) =>
      var n = 0L; var mean = 0.0; var m2 = 0.0
      ts.map { case (_, _, bid) =>
        val sigma =
          if (n > 1) math.sqrt(m2 / (n - 1)) else Double.PositiveInfinity
        val flag =
          n > 1 && math.abs(bid - mean) > SparkEntry.welfordK * sigma
        n += 1; val dd = bid - mean; mean += dd / n; m2 += dd * (bid - mean)
        (sym, n, mean, flag)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
    assert(got.exists(_._4), "no anomaly fired — k is vacuous here")
    assert(got.exists(!_._4))
  }

  test("q_stream_pairz: the streamed pair z equals a driver replica " +
      "of the rank-roster routing and the spread Welford recurrence") {
    val got = StreamRegistry
      .streamPairZ(spark, d, SparkEntry.pairZCount).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val ticks = Tables.ticks(spark, d)
      .select("tick_id", "symbol", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val syms = ticks.map(_._2).distinct.sorted
    val pairs = syms.grouped(2)
      .collect { case Array(a, b) => (a, b) }
      .take(SparkEntry.pairZCount).toSeq
    val betas = pairs.zipWithIndex
      .map { case (p, j) => p -> (0.5 + 0.25 * j) }.toMap
    val want = pairs.flatMap { case (a, b) =>
      val beta = betas((a, b))
      var la = Double.NaN; var lb = Double.NaN
      var n = 0L; var mean = 0.0; var m2 = 0.0
      ticks.filter(t => t._2 == a || t._2 == b).flatMap {
        case (tid, sym, bid) =>
          if (sym == a) la = bid else lb = bid
          if (la.isNaN || lb.isNaN) None
          else {
            val s = la - beta * lb
            n += 1; val dd = s - mean; mean += dd / n; m2 += dd * (s - mean)
            val z = if (n >= 2 && m2 > 0.0)
              Some((s - mean) / math.sqrt(m2 / n)) else None
            Some((tid, a, b, s, z))
          }
      }
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got == want)
    assert(got.exists(_._5.isEmpty) && got.exists(_._5.nonEmpty))
  }

  test("q_stream_dormant: the streamed dormancy events equal the " +
      "watermark-schedule replica (4 chunks, strict last+gap < W_c, " +
      "register rebirth), with real MID-TAPE deaths on this corpus") {
    val gap = SparkEntry.dormantGapMs
    val got = StreamRegistry.streamDormant(spark, d, gap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getLong(3))).toSeq
    val ticks = Tables.ticks(spark, d)
      .select("tick_id", "symbol", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime))
      .sortBy(_._1)
    val per = math.max(1, (ticks.size + 3) / 4)
    val chunkOf = ticks.zipWithIndex
      .map { case (t, i) => t._1 -> (i / per + 1) }.toMap
    val wm = ticks.groupBy(t => chunkOf(t._1))
      .map { case (c, ts) => c -> ts.map(_._3).max }
    val wRun = (1 to wm.keys.max)
      .scanLeft(0L)((acc, c) => math.max(acc, wm(c))).tail
    val want = ticks.groupBy(_._2).toSeq.flatMap { case (sym, ts) =>
      val ordered = ts.sortBy(_._1)
      var n = 0L
      ordered.zip(ordered.drop(1).map(Some(_)) :+ None).flatMap {
        case ((tid, _, ms), next) =>
          n += 1
          val death = next match {
            case None => true
            case Some((ntid, _, _)) =>
              val c = chunkOf(tid); val nc = chunkOf(ntid)
              nc > c && ms + gap < wRun(nc - 2)
          }
          if (death) { val out = (sym, tid, ms, n); n = 0L; Some(out) }
          else None
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
    val tapeEnd = ticks.map(_._1).toSet
    val lastOf = ticks.groupBy(_._2).map { case (_, ts) => ts.map(_._1).max }.toSet
    assert(got.exists(f => !lastOf.contains(f._2)),
      "no mid-tape death — the timeout-removal + rebirth path is unexercised")
    assert(got.exists(f => f._4 > 1L) && tapeEnd.nonEmpty)
  }

  test("StreamRegistry sentinels close every tape session window: " +
      "the G40 sink covers exactly the batch chain's window set") {
    val streamed = StreamRegistry
      .streamAnomaly(spark, d, SparkEntry.tensorSlots,
        SparkEntry.reconFlagPct)
      .select("symbol", "date", "win").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val h = hour(col("ts")); val m = minute(col("ts"))
    val batchWins = Tables.ticks(spark, d)
      .filter((h === 7 || h === 13) && m >= 50)
      .select(col("symbol"),
        date_format(col("ts"), "yyyy-MM-dd").as("date"),
        when(h === 7, "morning").otherwise("afternoon").as("win"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(streamed == batchWins)
  }
}
