package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streaming
import graft.streaming.Streaming.Tick

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("downsample1s emits first bid per (symbol, second) inside session windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.downsample1s(in.toDF())
      .writeStream.format("memory").queryName("ds1s")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        Tick(1L, 1L, t("2024-01-01 07:55:01.100"), 10.0),
        Tick(2L, 1L, t("2024-01-01 07:55:01.900"), 99.0), // same second -> dropped
        Tick(3L, 1L, t("2024-01-01 09:00:00.000"), 50.0), // outside window
        Tick(5L, 2L, t("2024-01-01 13:55:00.000"), 77.0), // same ts as tick 4...
        Tick(4L, 2L, t("2024-01-01 13:55:00.000"), 20.0)) // ...lower id wins
      q.processAllAvailable()
      // batch-parity tie rule: lowest tick_id represents the second,
      // even for identical timestamps (tick 4 beats tick 5)
      val out = spark.sql("SELECT symbol, tick_id, bid, n_ticks FROM ds1s")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(out == Set((1L, 1L, 10.0, 2L), (2L, 4L, 20.0, 2L)))
    } finally q.stop()
  }

  test("stream-stream intervalJoin pairs trades with in-window quotes only") {
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[Tick]
    val quotes = MemoryStream[Tick]
    val q = Streaming.intervalJoin(trades.toDF(), quotes.toDF(), "1 minute")
      .writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append).start()
    try {
      quotes.addData(
        Tick(101L, 1L, t("2024-01-01 07:54:30"), 1.1), // in window
        Tick(102L, 1L, t("2024-01-01 07:53:00"), 1.0), // too old (>1m before)
        Tick(103L, 2L, t("2024-01-01 07:54:40"), 2.2), // other symbol
        Tick(104L, 1L, t("2024-01-01 07:55:30"), 1.2)) // after the trade
      trades.addData(Tick(1L, 1L, t("2024-01-01 07:55:00"), 10.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT trade_id, quote_bid FROM ij")
        .as[(Long, Double)].collect().toSet
      assert(out == Set((1L, 1.1)))
    } finally q.stop()
  }

  // ---- Batch ↔ streaming parity (G1–G6) -------------------------------
  // Structured Streaming's contract is that the SAME declarative query
  // gives the same answer in both execution modes (watermarks are
  // no-ops in batch; *GroupsWithState runs on batch Datasets with
  // empty initial state). The r2 tie-break work (min_by on
  // (ts, tick_id)) is what makes these comparisons EXACT — assert it.

  // Chronological order: the two-micro-batch split must not create
  // late data under the 10s watermark (batch mode has no lateness, so
  // any drop would be a parity break of the harness, not the operator).
  private val parityTicks = Seq(
    Tick(4L, 2L, t("2024-01-01 07:55:00.000"), 20.0),
    Tick(5L, 2L, t("2024-01-01 07:55:00.000"), 77.0), // ts tie with 4
    Tick(1L, 1L, t("2024-01-01 07:55:01.100"), 10.0),
    Tick(2L, 1L, t("2024-01-01 07:55:01.900"), 99.0),
    Tick(3L, 1L, t("2024-01-01 07:56:10.000"), 11.0),
    Tick(6L, 2L, t("2024-01-01 13:55:30.000"), 30.0),
    Tick(7L, 1L, t("2024-01-01 13:59:59.000"), 12.0))

  /** Runs `plan` over a MemoryStream fed `rows` in two separate
    * micro-batches (state carry exercised), returns the collected set. */
  private def streamed(rows: Seq[Tick], name: String,
                       mode: OutputMode = OutputMode.Complete)(
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Set[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = plan(in.toDF()).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table(name).collect().toSet
    } finally q.stop()
  }

  test("G1 parity: downsample1s batch run == streaming run == secondDownsample") {
    val batch = Streaming.downsample1s(parityTicks.toDF()).collect().toSet
    val stream = streamed(parityTicks, "p_ds1s")(Streaming.downsample1s(_))
    assert(stream == batch)
    // And both agree with the BATCH operator it mirrors (common columns).
    val twin = graft.operators.TickOps.secondDownsample(
      parityTicks.toDF().withColumn("ask", $"bid"))
      .select("symbol", "ts_s", "tick_id", "bid").collect().toSet
    assert(batch.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
      r.getDouble(3))) ==
      twin.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))))
  }

  test("G4 parity: windowCounts batch run == streaming run") {
    val batch = Streaming.windowCounts(parityTicks.toDF(), "10 minutes")
      .collect().toSet
    assert(streamed(parityTicks, "p_wc")(
      Streaming.windowCounts(_, "10 minutes")) == batch)
  }

  test("G8 parity: ohlcBars batch run == streaming run == TickOps.ohlcBars") {
    val batch = Streaming.ohlcBars(parityTicks.toDF(), "1 minute")
      .collect().toSet
    assert(streamed(parityTicks, "p_ohlc")(
      Streaming.ohlcBars(_, "1 minute")) == batch)
    // Batch twin: tick_ids are assigned in ts order here (the ingest
    // invariant), so the (ts, tick_id) and tick_id tie-breaks agree.
    val twin = graft.operators.TickOps.ohlcBars(
      parityTicks.toDF().withColumn("ask", $"bid"), "minute")
      .select($"symbol", $"bar_ts".as("bucket_start"),
        $"open", $"high", $"low", $"close", $"n_ticks")
      .collect().toSet
    assert(batch == twin)
  }

  test("G15 parity: streaming burst flags == batch flags over " +
      "B10-trained thresholds; symbols without a threshold never flag") {
    val bursty = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01.100"), 1.0),
      Tick(2L, 1L, t("2024-01-01 10:00:01.200"), 1.0),
      Tick(3L, 1L, t("2024-01-01 10:00:01.300"), 1.0),
      Tick(4L, 1L, t("2024-01-01 10:00:02.000"), 1.0),
      Tick(5L, 1L, t("2024-01-01 10:00:03.000"), 1.0),
      Tick(6L, 1L, t("2024-01-01 10:00:04.000"), 1.0),
      Tick(7L, 2L, t("2024-01-01 10:00:05.000"), 1.0), // untrained symbol
      Tick(8L, 2L, t("2024-01-01 10:00:05.100"), 1.0))
    // batch job trains the thresholds (symbol 1 only): p75 of
    // (3,1,1,1) = 1.5
    val trained = graft.operators.TickOps.burstDetection(
      bursty.toDF().withColumn("ask", $"bid"), 0.75)
      .filter($"symbol" === 1L).select("symbol", "thr")
    assert(trained.collect().head.getDouble(1) == 1.5)
    val batch = Streaming.burstFlags(bursty.toDF(), trained).collect().toSet
    val stream = streamed(bursty, "p_burst")(Streaming.burstFlags(_, trained))
    assert(stream == batch)
    // exactly B10's burst second, and none from the untrained symbol
    assert(batch.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      == Set((1L, t("2024-01-01 10:00:01"), 3L)))
  }

  test("G13 parity: vwapBars batch run == streaming run == TickOps.vwap") {
    import graft.streaming.Streaming.Ev
    val evs = Seq(
      Ev(1L, 1L, t("2024-01-01 09:00:01"), 100.00, """{"k":3}"""),
      Ev(2L, 1L, t("2024-01-01 09:00:02"), 101.00, """{"k":5}"""),
      Ev(3L, 1L, t("2024-01-02 09:00:03"), 102.00, """{"k":2}"""), // day 2
      Ev(4L, 2L, t("2024-01-01 09:00:04"), 50.00, """{"k":7}"""),
      Ev(5L, 2L, t("2024-01-01 09:00:05"), 50.55, """{"k":0}"""))  // zero qty
    val batch = Streaming.vwapBars(evs.toDF()).collect().toSet
    // two-micro-batch streamed run
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.vwapBars(in.toDF()).writeStream.format("memory")
      .queryName("p_vwap").outputMode(OutputMode.Complete).start()
    val stream = try {
      val (a, b) = evs.splitAt(2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_vwap").collect().toSet
    } finally q.stop()
    assert(stream == batch)
    // batch twin: same bars keyed by day string (session-TZ rendering
    // on both sides, so the comparison is TZ-independent)
    import org.apache.spark.sql.functions.{col, date_format, lit}
    val twin = graft.operators.TickOps.vwap(
      evs.toDF().withColumn("event_type", lit("e")))
      .select("symbol", "date", "vwap", "total_qty", "n_trades")
      .collect().toSet
    val batchKeyed = Streaming.vwapBars(evs.toDF())
      .select(col("symbol"),
        date_format(col("bucket_start"), "yyyy-MM-dd").as("date"),
        col("vwap"), col("total_qty"), col("n_trades"))
      .collect().toSet
    assert(batchKeyed == twin)
  }

  test("G14 parity: streaming CDC register == batch cdcApply after " +
      "delete filtering, with max-seq-wins across micro-batches") {
    import graft.streaming.Streaming.Change
    val changes = Seq(
      Change(1L, 1L, "U", 1.0), Change(2L, 1L, "U", 2.0), // key 1 → 2.0
      Change(3L, 2L, "U", 5.0), Change(4L, 2L, "D", 0.0), // key 2 → gone
      Change(6L, 3L, "U", 7.0), Change(5L, 3L, "D", 0.0)) // late lower seq
    // streamed: first batch carries seq 1,3,6 — the late seq 2,4,5
    // arrive in batch two and must not regress key 3's register
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = Streaming.cdcState(in.toDS()).writeStream.format("memory")
      .queryName("p_cdc").outputMode(OutputMode.Update).start()
    val streamed = try {
      in.addData(changes(0), changes(2), changes(4)); q.processAllAvailable()
      in.addData(changes(1), changes(3), changes(5)); q.processAllAvailable()
      spark.table("p_cdc")
        .as[(Long, Long, String, Double, Long)].collect()
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._5) }.toSet
    } finally q.stop()
    // batch-mode run of the same stateful plan
    val batch = Streaming.cdcState(changes.toDS())
      .as[(Long, Long, String, Double, Long)].collect().toSet
    assert(streamed == batch)
    // both == the batch operator after dropping delete-tailed keys
    val live = streamed.filter(_._3 != "D")
      .map(r => (r._1, r._4, r._5, r._2))
    val twin = graft.operators.Scd.cdcApply(
      changes.map(c => (c.seq, c.key, c.op, c.value))
        .toDF("seq", "key", "op", "value"))
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(live == twin)
  }

  test("G5 parity: sessionWindows batch run == streaming run") {
    val batch = Streaming.sessionWindows(parityTicks.toDF(), "5 minutes")
      .collect().toSet
    assert(streamed(parityTicks, "p_sw")(
      Streaming.sessionWindows(_, "5 minutes")) == batch)
  }

  test("G6 parity: intervalJoin batch run == streaming run") {
    val trades = parityTicks.filter(_.symbol == 1L)
    val quotes = parityTicks.map(tk => tk.copy(ts =
      new Timestamp(tk.ts.getTime - 15000L)))
    val batch = Streaming.intervalJoin(
      trades.toDF(), quotes.toDF(), "1 minute").collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val tIn = MemoryStream[Tick]; val qIn = MemoryStream[Tick]
    val q = Streaming.intervalJoin(tIn.toDF(), qIn.toDF(), "1 minute")
      .writeStream.format("memory").queryName("p_ij")
      .outputMode(OutputMode.Append).start()
    try {
      qIn.addData(quotes: _*); tIn.addData(trades: _*)
      q.processAllAvailable()
      assert(spark.table("p_ij").collect().toSet == batch)
    } finally q.stop()
  }

  test("G2 parity: anomalyFlags batch run == streaming run across batches") {
    val rows = (1 to 12).map(i =>
      Tick(i.toLong, 1L + i % 2, t(f"2024-01-01 07:55:${i * 4}%02d"),
        if (i == 11) 500.0 else 100.0 + i % 3))
    val batch = Streaming.anomalyFlags(rows.toDS(), 3.0).collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.anomalyFlags(in.toDS(), 3.0)
      .writeStream.format("memory").queryName("p_af")
      .outputMode(OutputMode.Update).start()
    try {
      // Batch split respects event-time order, so the carried Welford
      // state must replay to the identical flag sequence.
      val (a, b) = rows.splitAt(6)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      assert(spark.table("p_af")
        .as[graft.streaming.Streaming.AnomalyFlag].collect().toSet == batch)
    } finally q.stop()
  }

  test("G3 parity: dedupExact batch run == streaming run == exactDedup") {
    import graft.streaming.Streaming.Doc
    val docs = Seq(Doc(1L, "aa"), Doc(2L, "bb"), Doc(3L, "aa"),
      Doc(4L, "cc"), Doc(5L, "bb"), Doc(6L, "aa"))
    val batch = Streaming.dedupExact(docs.toDS()).collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streaming.dedupExact(in.toDS())
      .writeStream.format("memory").queryName("p_de")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(3): _*); q.processAllAvailable()
      in.addData(docs.drop(3): _*); q.processAllAvailable()
      val stream = spark.table("p_de")
        .as[graft.streaming.Streaming.DedupDecision].collect().toSet
      assert(stream == batch)
      // Batch twin: isDuplicate == !keep from TextDedup.exactDedup.
      val twin = graft.operators.TextDedup.exactDedup(
        docs.map(d => (d.doc_id, d.text, "en", "s"))
          .toDF("doc_id", "text", "lang", "source"))
        .select("doc_id", "keep").as[(Long, Boolean)].collect()
        .map { case (id, keep) => id -> !keep }.toMap
      assert(stream.map(d => d.doc_id -> d.isDuplicate).toMap == twin)
    } finally q.stop()
  }

  test("G9 parity: tokenBudgetAdmission fed in hash order admits " +
      "exactly tokenBudgetPerSource's kept set, and exhaustion " +
      "persists across batches") {
    import graft.streaming.Streaming.{SourcedDoc, BudgetDecision}
    val P = graft.functions.PortableText.P
    def rank(id: Long): Long = ((id % P) + P) % P * 2654435761L % P
    // 2 sources x 12 docs, 2..7 tokens each — budget 15 crosses
    // mid-stream in both sources.
    val docs = (0L until 24L).map { i =>
      SourcedDoc(i, s"s${i % 2}", ("w " * (i % 6 + 2).toInt).trim)
    }
    val batchKept = graft.operators.CorpusPipeline
      .tokenBudgetPerSource(
        docs.map(d => (d.doc_id, d.text, "en", d.source))
          .toDF("doc_id", "text", "lang", "source"), 15L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    // feed in the batch hash walk, split across two micro-batches
    val walk = docs.sortBy(d => (rank(d.doc_id), d.doc_id))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SourcedDoc]
    val q = Streaming.tokenBudgetAdmission(in.toDS(), 15L)
      .writeStream.format("memory").queryName("p_tb")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(walk.take(9): _*); q.processAllAvailable()
      in.addData(walk.drop(9): _*); q.processAllAvailable()
      val out = spark.table("p_tb").as[BudgetDecision].collect()
      assert(out.length == docs.length)
      // admitted set == batch prefix-cut, with matching running totals
      assert(out.filter(_.admitted).map(d => d.doc_id -> d.cum_tokens).toMap
        == batchKept)
      // the crossing doc and everything after it are rejected, even a
      // doc that would individually still fit (prefix-cut, not refill)
      out.groupBy(_.source).foreach { case (_, rows) =>
        val inWalk = rows.sortBy(d => (rank(d.doc_id), d.doc_id))
        val firstReject = inWalk.indexWhere(!_.admitted)
        assert(firstReject >= 0 && inWalk.drop(firstReject).forall(!_.admitted))
      }
    } finally q.stop()
  }

  test("G12 parity: tickClasses counts match the batch tickRule per " +
      "symbol across micro-batches, first tick unclassified") {
    import graft.streaming.Streaming.TickClass
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.0),  // first
      Tick(2L, 1L, t("2024-01-01 10:00:02"), 11.0),  // up
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 11.0),  // zero (x-batch)
      Tick(4L, 1L, t("2024-01-01 10:00:04"), 10.5),  // down
      Tick(5L, 2L, t("2024-01-01 10:00:01"), 5.0))   // first
    val batch = graft.operators.TickOps.tickRule(
      rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
        .toDF("tick_id", "symbol", "ts", "bid", "ask"))
      .select("symbol", "n_up", "n_down", "n_zero")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.tickClasses(in.toDS())
      .writeStream.format("memory").queryName("p_tc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val out = spark.table("p_tc").as[TickClass].collect()
      assert(out.length == rows.length)
      assert(out.find(_.tick_id == 1L).get.cls == "first")
      assert(out.find(_.tick_id == 3L).get.cls == "zero",
        "state must carry the last bid across micro-batches")
      val counts = out.groupBy(_.symbol).map { case (s, cs) =>
        s -> ((cs.count(_.cls == "up").toLong,
          cs.count(_.cls == "down").toLong,
          cs.count(_.cls == "zero").toLong))
      }
      assert(counts == batch)
    } finally q.stop()
  }

  test("G11 parity: ewmaPoints' last emitted value per (symbol, day) " +
      "equals the batch ewma when ticks arrive in order, state " +
      "persisting across batches") {
    import graft.streaming.Streaming.EwmaPoint
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.0),
      Tick(2L, 1L, t("2024-01-01 10:00:02"), 20.0),
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 40.0),
      Tick(4L, 1L, t("2024-01-02 10:00:01"), 7.0),
      Tick(5L, 2L, t("2024-01-01 10:00:01"), 1.0),
      Tick(6L, 2L, t("2024-01-01 10:00:02"), 3.0))
    val batch = graft.operators.Features.ewma(
      rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
        .toDF("tick_id", "symbol", "ts", "bid", "ask"))
      .select("symbol", "date", "ewma_bid")
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.ewmaPoints(in.toDS())
      .writeStream.format("memory").queryName("p_ewma")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val out = spark.table("p_ewma").as[EwmaPoint].collect()
      assert(out.length == rows.length)
      // running fold: tick 2's point is (20+10)/2 even across batches
      assert(out.find(_.tick_id == 3L).get.ewma == (40.0 + 15.0) * 0.5)
      val lastPerKey = out.groupBy(p => (p.symbol, p.date))
        .map { case (k, ps) => k -> ps.maxBy(_.n_seen).ewma }
      assert(lastPerKey == batch)
    } finally q.stop()
  }

  test("G44 parity: garchPoints replays the exact GARCH(1,1) " +
      "recurrence across a mid-day batch split; the last point per " +
      "(symbol, day) equals the batch garchFilter row; a single-tick " +
      "day emits nothing") {
    import graft.streaming.Streaming.GarchPoint
    val (w, a, b) = (SparkEntry.garchOmega, SparkEntry.garchAlpha,
      SparkEntry.garchBeta)
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.00),
      Tick(2L, 1L, t("2024-01-01 10:00:02"), 60.00), // +5000 c
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 60.10), // +10 c
      Tick(4L, 1L, t("2024-01-01 10:00:04"), 60.05), // -5 c
      Tick(5L, 1L, t("2024-01-02 10:00:01"), 7.0),   // new day, 1 tick
      Tick(6L, 2L, t("2024-01-01 10:00:01"), 1.0),
      Tick(7L, 2L, t("2024-01-01 10:00:02"), 1.02))
    // in-test replica of the recurrence, Scala-order
    def trace(moves: Seq[Double]): Seq[(Double, Boolean)] = {
      val seed = w / (1.0 - a - b)
      var h = 0.0; var prev = 0.0
      moves.zipWithIndex.map { case (m, i) =>
        h = if (i == 0) seed else w + a * prev * prev + b * h
        prev = m
        (h, m * m > 4.0 * h)
      }
    }
    val want1 = trace(Seq(5000.0, 10.0, -5.0))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.garchPoints(in.toDS(), w, a, b)
      .writeStream.format("memory").queryName("p_garch")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(3): _*); q.processAllAvailable()
      in.addData(rows.drop(3): _*); q.processAllAvailable()
      val out = spark.table("p_garch").as[GarchPoint].collect()
      assert(out.count(_.symbol == 1L) == 3) // day-2 single tick: none
      val got1 = out.filter(p => p.symbol == 1L).sortBy(_.n_move)
        .map(p => (p.h, p.breach)).toSeq
      assert(got1 == want1)
      assert(got1.head._2 && !got1(1)._2, "seed breach + calm move")
      val batch = graft.operators.Microstructure.garchFilter(
        rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
          .toDF("tick_id", "symbol", "ts", "bid", "ask"), w, a, b)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(5), r.getLong(6))))
        .toMap
      assert(!batch.contains((1L, "2024-01-02")), "single-tick day")
      val lastPerKey = out.groupBy(p => (p.symbol, p.date))
        .map { case (k, ps) =>
          val n = ps.map(_.n_move).max
          val hs = ps.map(_.h)
          k -> ((n, ps.maxBy(_.n_move).h, hs.max,
            ps.count(_.breach).toLong))
        }
      assert(lastPerKey == batch)
    } finally q.stop()
  }

  test("G45 parity: kalmanPoints replays the Riccati recurrence " +
      "across a batch split; the last point per (symbol, day) equals " +
      "the batch kalmanFilter row; gain shrinks P monotonically " +
      "toward the steady state") {
    import graft.streaming.Streaming.KalmanPoint
    val (qv, rv) = (SparkEntry.kalmanQ, SparkEntry.kalmanR)
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.00),
      Tick(2L, 1L, t("2024-01-01 10:00:02"), 10.10),
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 10.05),
      Tick(4L, 1L, t("2024-01-01 10:00:04"), 10.20),
      Tick(5L, 2L, t("2024-01-01 10:00:01"), 1.0))
    def trace(zs: Seq[Double]): Seq[(Double, Double)] = {
      var x = 0.0; var p = 0.0
      zs.zipWithIndex.map { case (z, i) =>
        if (i == 0) { x = z; p = rv }
        else {
          val pp = p + qv; val k = pp / (pp + rv)
          x = x + k * (z - x); p = (1.0 - k) * pp
        }
        (x, p)
      }
    }
    val want1 = trace(Seq(1000.0, 1010.0, 1005.0, 1020.0))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.kalmanPoints(in.toDS(), qv, rv)
      .writeStream.format("memory").queryName("p_kalman")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val out = spark.table("p_kalman").as[KalmanPoint].collect()
      assert(out.length == rows.length)
      val got1 = out.filter(_.symbol == 1L).sortBy(_.n_seen)
        .map(p => (p.x_filt, p.p)).toSeq
      assert(got1 == want1)
      val ps = got1.map(_._2)
      assert(ps == ps.sorted.reverse && ps.distinct == ps,
        "P must shrink strictly from the R seed toward steady state")
      val batch = graft.operators.Microstructure.kalmanFilter(
        rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
          .toDF("tick_id", "symbol", "ts", "bid", "ask"), qv, rv)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
      val lastPerKey = out.groupBy(p => (p.symbol, p.date))
        .map { case (k, pts) =>
          val zs = pts.sortBy(_.n_seen)
          val innovMax = if (zs.length < 2) 0.0
            else zs.drop(1).zip(zs).map { case (cur, prevP) =>
              math.abs(cur.z - prevP.x_filt) }.max
          k -> ((zs.map(_.n_seen).max, zs.last.x_filt, zs.last.p,
            innovMax))
        }
      assert(lastPerKey == batch)
    } finally q.stop()
  }

  test("G48 parity: hmmPoints replays the exact two-state forward " +
      "recursion across a mid-day batch split; the last point per " +
      "(symbol, day) equals the batch hmmFilter row; big moves push " +
      "the posterior toward the high regime, calm moves decay it") {
    import graft.streaming.Streaming.HmmPoint
    val hp = SparkEntry.hmmParams
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 100.00),
      Tick(2L, 1L, t("2024-01-01 10:00:02"), 250.00), // +15000 c: storm
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 400.00), // +15000 c: storm
      Tick(4L, 1L, t("2024-01-01 10:00:04"), 400.10), // +10 c: calm
      Tick(5L, 1L, t("2024-01-01 10:00:05"), 400.20), // +10 c: calm
      Tick(6L, 1L, t("2024-01-02 10:00:01"), 7.0),    // new day, 1 tick
      Tick(7L, 2L, t("2024-01-01 10:00:01"), 1.0),
      Tick(8L, 2L, t("2024-01-01 10:00:02"), 1.02))
    // in-test replica of the recursion, Scala-order
    def trace(moves: Seq[Double]): Seq[Double] = {
      import hp._
      var pl = 0.0
      moves.zipWithIndex.map { case (m, i) =>
        val eLm = gL / (gL2 + m * m); val eHm = gH / (gH2 + m * m)
        val uL = if (i == 0) piL * eLm
          else eLm * (stayL * pl + toL * (1.0 - pl))
        val uH = if (i == 0) piH * eHm
          else eHm * (toH * pl + stayH * (1.0 - pl))
        pl = uL / (uL + uH)
        1.0 - pl
      }
    }
    val want1 = trace(Seq(15000.0, 15000.0, 10.0, 10.0))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.hmmPoints(in.toDS(), hp)
      .writeStream.format("memory").queryName("p_hmm")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(3): _*); q.processAllAvailable()
      in.addData(rows.drop(3): _*); q.processAllAvailable()
      val out = spark.table("p_hmm").as[HmmPoint].collect()
      assert(out.count(_.symbol == 1L) == 4) // day-2 single tick: none
      val got1 = out.filter(_.symbol == 1L).sortBy(_.n_move)
        .map(_.p_high).toSeq
      assert(got1 == want1)
      // storm moves drive the posterior up, calm moves decay it
      assert(got1(1) > got1.head && got1(1) > 0.5)
      assert(got1(2) < got1(1) && got1(3) < got1(2))
      val batch = graft.operators.Microstructure.hmmFilter(
        rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
          .toDF("tick_id", "symbol", "ts", "bid", "ask"), hp)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
        .toMap
      assert(!batch.contains((1L, "2024-01-02")), "single-tick day")
      val lastPerKey = out.groupBy(p => (p.symbol, p.date))
        .map { case (k, ps) =>
          val sorted = ps.sortBy(_.n_move)
          k -> ((sorted.map(_.n_move).max, sorted.last.p_high,
            sorted.map(_.p_high).max,
            sorted.count(_.is_high).toLong))
        }
      assert(lastPerKey == batch)
    } finally q.stop()
  }

  test("G49 parity: mediaAdmission admits first arrivals and refuses " +
      "replicas across a batch split; the admit set equals the F78 " +
      "batch keep set") {
    import graft.operators.Multimodal
    import graft.streaming.Streaming.MediaDecision
    implicit val sqlCtx = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val lake = Multimodal.syntheticDupMedia(spark, 12)
      .collect().sortBy(_.media_id).toSeq // 12 distinct + 12 replicas
    val in = MemoryStream[Multimodal.MediaRow]
    val q = Streaming.mediaAdmission(in.toDS())
      .writeStream.format("memory").queryName("p_media")
      .outputMode(OutputMode.Append).start()
    try {
      // originals in batch 1, replicas in batch 2 — the replica's
      // refusal depends on CROSS-BATCH keyed state
      in.addData(lake.take(12): _*); q.processAllAvailable()
      in.addData(lake.drop(12): _*); q.processAllAvailable()
      val out = spark.table("p_media").as[MediaDecision].collect()
      assert(out.length == 24)
      out.foreach { dcsn =>
        assert(dcsn.admitted == (dcsn.media_id < 12L), s"$dcsn")
      }
      val batchKeep = Multimodal.mediaDedup(
          Multimodal.syntheticDupMedia(spark, 12))
        .select("media_id", "keep")
        .as[(Long, Boolean)].collect().toMap
      out.foreach { dcsn =>
        assert(dcsn.admitted == batchKeep(dcsn.media_id),
          s"stream/batch drift: $dcsn")
      }
    } finally q.stop()
  }

  test("G46 parity: cusumPoints replays the branchless CUSUM across " +
      "a mid-day batch split; the last point per (symbol, day) " +
      "carries the batch close registers and the day's event total") {
    import graft.streaming.Streaming.CusumPoint
    val h = SparkEntry.cusumH
    // moves: +3000, +3000 (S+ event), -2000, -4000 (S- event), +1000
    val bids = Seq(100.00, 130.00, 160.00, 140.00, 100.00, 110.00)
    val rows = bids.zipWithIndex.map { case (b, i) =>
      Tick((i + 1).toLong, 1L, t(f"2024-01-01 10:00:${i + 1}%02d"), b)
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.cusumPoints(in.toDS(), h)
      .writeStream.format("memory").queryName("p_cusum")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(3): _*); q.processAllAvailable()
      in.addData(rows.drop(3): _*); q.processAllAvailable()
      val out = spark.table("p_cusum").as[CusumPoint].collect()
        .sortBy(_.n_move).toSeq
      assert(out.map(p => (p.n_move, p.s_pos, p.s_neg, p.n_events)) ==
        Seq((1L, 3000L, 0L, 0L), (2L, 0L, 0L, 1L),
          (3L, 0L, -2000L, 1L), (4L, 0L, 0L, 2L),
          (5L, 1000L, 0L, 2L)))
      val batch = graft.operators.Microstructure.cusumFilter(
        rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
          .toDF("tick_id", "symbol", "ts", "bid", "ask"), h)
        .as[(Long, String, Long, Long, Long, Long)].collect().head
      val last = out.last
      assert((batch._4, batch._5, batch._6) ==
        ((last.n_events, last.s_pos, last.s_neg)))
    } finally q.stop()
  }

  test("G47 parity: ffdPoints' sink equals the batch fracDiff frame " +
      "row for row, the lag ring carrying across a batch split and " +
      "across a day boundary") {
    import graft.streaming.Streaming.FfdPoint
    val (d, k) = (SparkEntry.ffdD, 3)
    val bids = Seq(10.00, 10.10, 10.30, 10.20, 10.50, 10.40, 10.80)
    val rows = bids.zipWithIndex.map { case (b, i) =>
      // tick 5 onward lands on day 2: the window must cross it
      val day = if (i < 4) "2024-01-01" else "2024-01-02"
      Tick((i + 1).toLong, 1L, t(f"$day 10:00:${i + 1}%02d"), b)
    }
    val batch = graft.operators.Microstructure.fracDiff(
      rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
        .toDF("tick_id", "symbol", "ts", "bid", "ask"), d, k)
      .as[(Long, Long, Double)].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.ffdPoints(in.toDS(), d, k)
      .writeStream.format("memory").queryName("p_ffd")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(4): _*); q.processAllAvailable()
      in.addData(rows.drop(4): _*); q.processAllAvailable()
      val out = spark.table("p_ffd").as[FfdPoint].collect()
        .sortBy(_.tick_id).map(p => (p.tick_id, p.symbol, p.ffd)).toSeq
      assert(out == batch)
      assert(out.length == bids.length - k, "K warm-up ticks")
    } finally q.stop()
  }

  test("G10 parity: sourceCapAdmission fed in hash order admits exactly " +
      "capPerSource's kept set with identical ranks; the counter " +
      "persists across batches so late docs stay rejected") {
    import graft.streaming.Streaming.{CapDecision, SourcedDoc}
    val P = graft.functions.PortableText.P
    def rank(id: Long): Long = ((id % P) + P) % P * 2654435761L % P
    val docs = (0L until 24L).map { i =>
      SourcedDoc(i, s"s${i % 2}", s"doc $i")
    }
    val batchKept = graft.operators.CorpusPipeline
      .capPerSource(
        docs.map(d => (d.doc_id, d.text, "en", d.source))
          .toDF("doc_id", "text", "lang", "source"), 5)
      .select("doc_id", "rnk").as[(Long, Int)].collect()
      .map(r => r._1 -> r._2.toLong).toMap
    val walk = docs.sortBy(d => (rank(d.doc_id), d.doc_id))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SourcedDoc]
    val q = Streaming.sourceCapAdmission(in.toDS(), 5)
      .writeStream.format("memory").queryName("p_cap")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(walk.take(7): _*); q.processAllAvailable()
      in.addData(walk.drop(7): _*); q.processAllAvailable()
      val out = spark.table("p_cap").as[CapDecision].collect()
      assert(out.length == docs.length)
      assert(out.filter(_.admitted).map(d => d.doc_id -> d.rnk).toMap
        == batchKept)
      // per source: exactly cap admitted, all rejections ranked > cap
      out.groupBy(_.source).foreach { case (_, rows) =>
        assert(rows.count(_.admitted) == 5)
        assert(rows.filter(!_.admitted).forall(_.rnk > 5))
      }
    } finally q.stop()
  }

  test("anomalyFlags keeps per-symbol state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.anomalyFlags(in.toDS(), 3.0)
      .writeStream.format("memory").queryName("flags")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData((1 to 10).map(i =>
        Tick(i.toLong, 1L, t(f"2024-01-01 07:55:$i%02d"), 100.0 + (i % 3))): _*)
      q.processAllAvailable()
      in.addData(Tick(11L, 1L, t("2024-01-01 07:56:00"), 500.0)) // wild outlier
      q.processAllAvailable()
      val flagged = spark.sql("SELECT * FROM flags WHERE isAnomaly").count()
      assert(flagged == 1L)
      // state persisted: count reached 11 across two batches
      val maxN = spark.sql("SELECT max(n) FROM flags").as[Long].collect().head
      assert(maxN == 11L)
    } finally q.stop()
  }

  test("G7 parity: streaming near-dup verdicts == greedyNearDup batch, " +
      "with bucket state crossing batch boundaries") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (1L, base),
      (2L, "an entirely different document about winter mountain storms"),
      (3L, base),                      // batch 2: dups doc 1 via state
      (4L, base),                      // batch 2: dups within + via state
      (5L, "some third unrelated text with many novel words inside it"))
    def docsDF(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source")
    val batchVerdicts = graft.operators.TextDedup.greedyNearDup(docsDF(rows))
      .as[(Long, Boolean)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val verdicts = scala.collection.mutable.Map.empty[Long, Boolean]
    val q = Streaming.nearDupBandFlags(
        in.toDF().toDF("doc_id", "text")
          .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source"))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[_], _: Long) =>
        Streaming.nearDupVerdicts(batch.toDF())
          .as[(Long, Boolean)].collect()
          .foreach { case (id, d) => verdicts(id) = d }
        ()
      }.start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      assert(verdicts.toMap == batchVerdicts)
      assert(verdicts(3L) && verdicts(4L) && !verdicts(1L))
    } finally q.stop()
  }

  test("G17 parity: lateFlags replayed in tick_id order matches the " +
      "batch lateArrivalAudit counts, watermark state crossing batches") {
    import graft.streaming.Streaming.LateFlag
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:00"), 1.0),
      Tick(2L, 1L, t("2024-01-01 10:05:00"), 1.0),
      // 4 min behind the max seen (10:05) — late under 60s, batch 2
      Tick(3L, 1L, t("2024-01-01 10:01:00"), 1.0),
      // 30 s behind the max — within the 60 s allowance
      Tick(4L, 1L, t("2024-01-01 10:04:30"), 1.0),
      Tick(5L, 2L, t("2024-01-01 10:00:00"), 1.0)) // other symbol: first
    val batch = graft.operators.TickOps.lateArrivalAudit(
      rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid))
        .toDF("tick_id", "symbol", "ts", "bid", "ask"),
      60000000L, col("tick_id"))
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.lateFlags(in.toDS(), 60000000L)
      .writeStream.format("memory").queryName("p_lf")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val flags = spark.table("p_lf").as[LateFlag].collect()
      assert(flags.count(_.late) == 1)
      assert(flags.find(_.tick_id == 3L).get.late) // the 4-min straggler
      assert(!flags.find(_.tick_id == 4L).get.late) // inside allowance
      assert(flags.find(_.tick_id == 5L).get.wm_us.isEmpty) // first of sym 2
      // per-symbol late counts equal the batch audit
      val streamCounts = flags.groupBy(_.symbol)
        .map { case (s, fs) => s -> fs.count(_.late).toLong }
      assert(streamCounts(1L) == batch(1L)._3 && streamCounts(2L) == batch(2L)._3)
    } finally q.stop()
  }

  test("G16 parity: funnelProgress fed in event-time order matches the " +
      "batch funnel chain, state persisting across micro-batches") {
    import graft.streaming.Streaming.{FunnelEvent, FunnelAdvance}
    val evs = Seq(
      FunnelEvent(1L, 1L, t("2024-01-01 10:00:00"), "view"),
      FunnelEvent(2L, 1L, t("2024-01-01 10:20:00"), "view"),   // later view: no-op
      FunnelEvent(3L, 1L, t("2024-01-01 10:30:00"), "click"),  // batch 2
      FunnelEvent(4L, 1L, t("2024-01-01 11:00:00"), "purchase"),
      FunnelEvent(5L, 2L, t("2024-01-01 10:00:00"), "view"),
      FunnelEvent(6L, 2L, t("2024-01-01 11:30:00"), "click"))  // past 1h window
    val batch = graft.operators.TemporalJoins.funnel(
      evs.map(e => (e.event_id, e.user_id, e.ts, e.event_type, 0.0, "{}"))
        .toDF("event_id", "user_id", "ts", "event_type", "value", "props"),
      "view", "click", "purchase", 3600000000L)
      .select("user_id", "t1_us", "t2_us", "t3_us")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[FunnelEvent]
    val q = Streaming.funnelProgress(in.toDS(), "view", "click",
      "purchase", 3600000000L)
      .writeStream.format("memory").queryName("p_fn")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(evs.take(2): _*); q.processAllAvailable()
      in.addData(evs.drop(2): _*); q.processAllAvailable()
      val adv = spark.table("p_fn").as[FunnelAdvance].collect()
      // user 1: three advances, times equal the batch chain
      val u1 = adv.filter(_.user_id == 1L).sortBy(_.stage)
      assert(u1.map(_.stage).toSeq == Seq(1, 2, 3))
      assert(u1(0).t_us == batch(1L)._2)
      assert(Some(u1(1).t_us) == batch(1L)._3)
      assert(Some(u1(2).t_us) == batch(1L)._4)
      assert(u1(2).completed && !u1(0).completed)
      // user 2: only stage 1 (click missed the window), same as batch
      val u2 = adv.filter(_.user_id == 2L)
      assert(u2.map(_.stage).toSeq == Seq(1))
      assert(batch(2L)._3.isEmpty)
    } finally q.stop()
  }

  test("G18 parity: streamed volume bars == batch bars minus each " +
      "symbol's trailing partial bar, across micro-batch splits") {
    import graft.streaming.Streaming.BarTrade
    // D30's fixture: k 4,4,4,10,0,3 at V=10 → bars 0 (qty 8),
    // 1 (qty 4), 2 (qty 13, trailing partial). Symbol 2: one bar only
    // (never closed).
    val trades = Seq(
      BarTrade(1L, 1L, t("2024-01-01 00:00:01"), 100L, 4L),
      BarTrade(2L, 1L, t("2024-01-01 00:00:02"), 102L, 4L),
      BarTrade(3L, 1L, t("2024-01-01 00:00:03"), 99L, 4L),
      BarTrade(4L, 1L, t("2024-01-01 00:00:04"), 105L, 10L),
      BarTrade(5L, 1L, t("2024-01-01 00:00:05"), 101L, 0L),
      BarTrade(6L, 1L, t("2024-01-01 00:00:06"), 103L, 3L),
      BarTrade(7L, 2L, t("2024-01-01 00:00:07"), 50L, 6L))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[BarTrade]
    val q = Streaming.volumeBarState(in.toDS(), 10L)
      .writeStream.format("memory").queryName("p_vbars")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      // split INSIDE bar 1's straddling trade's bar: trade 3 closes
      // bar 0 in batch one; trades 4-7 arrive later.
      val (a, b) = trades.splitAt(3)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_vbars")
        .as[graft.streaming.Streaming.VolumeBar].collect().toSet
    } finally q.stop()
    // batch twin on the same rows via the events path
    val evDf = trades.map(bt => (bt.event_id, bt.symbol, bt.ts,
      bt.cents / 100.0, s"""{"k":${bt.k}}""", "trade"))
      .toDF("event_id", "user_id", "ts", "value", "props", "event_type")
    val batch = graft.operators.Microstructure.volumeBars(evDf, 10L)
      .as[graft.streaming.Streaming.VolumeBar].collect().toSeq
    val trailing = batch.groupBy(_.symbol).values
      .map(_.maxBy(_.bar_id)).toSet
    assert(streamed == batch.toSet -- trailing)
    assert(streamed.map(_.bar_id).toSeq.sorted == Seq(0L, 1L))
    val b0 = streamed.find(_.bar_id == 0L).get
    assert(b0.bar_qty == 8L && b0.open_cents == 100L &&
      b0.close_cents == 102L && b0.ts_last == "2024-01-01 00:00:02")
  }

  test("G20 parity: last streamed TWAP point per (symbol, day) == batch " +
      "twap; weightless days never emit") {
    import graft.streaming.Streaming.TwapPoint
    val ticks = Seq(
      Tick(1L, 1L, t("2024-01-01 00:00:00"), 1.00),
      Tick(2L, 1L, t("2024-01-01 00:00:10"), 2.00),
      Tick(3L, 1L, t("2024-01-01 00:00:40"), 1.10),
      Tick(4L, 2L, t("2024-01-01 05:00:00"), 9.00)) // lone tick
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.twapPoints(in.toDS())
      .writeStream.format("memory").queryName("p_twap")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      val (a, b) = ticks.splitAt(2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_twap").as[TwapPoint].collect().toSeq
    } finally q.stop()
    // running points: 1.00 held 10 s -> 1.0, then +2.00 held 30 s
    assert(streamed.map(p => (p.n_weighted, p.twap)).sorted ==
      Seq((1L, 1.0), (2L, 1.75)))
    assert(!streamed.exists(_.symbol == 2L))
    // last point per (symbol, day) == the batch row
    val batch = graft.operators.TickOps.twap(
      ticks.toDF("tick_id", "symbol", "ts", "bid"))
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getAs[Long]("symbol"), r.getAs[String]("date")) ->
        (r.getAs[Double]("twap"), r.getAs[Long]("n_weighted"))).toMap
    val lastPts = streamed.groupBy(p => (p.symbol, p.date))
      .map { case (k, ps) => k -> {
        val p = ps.maxBy(_.n_weighted); (p.twap, p.n_weighted) } }
    assert(lastPts == batch)
  }

  test("G19 parity: streamed spike decisions == batch spikeRepair minus " +
      "each symbol's frontier tick; decision waits for the successor") {
    import graft.streaming.Streaming.SpikeDecision
    // B12's fixture: spike only at tick 5 (250 against 100/101).
    val ticks = Seq(
      Tick(1L, 1L, t("2024-01-01 00:00:01"), 1.00),
      Tick(2L, 1L, t("2024-01-01 00:00:02"), 1.60),
      Tick(3L, 1L, t("2024-01-01 00:00:03"), 1.60),
      Tick(4L, 1L, t("2024-01-01 00:00:04"), 1.00),
      Tick(5L, 1L, t("2024-01-01 00:00:05"), 2.50),
      Tick(6L, 1L, t("2024-01-01 00:00:06"), 1.01),
      Tick(7L, 2L, t("2024-01-01 00:00:07"), 5.00))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.spikeFlags(in.toDS(), 5000L)
      .writeStream.format("memory").queryName("p_spikes")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      // split right before the spike tick: its decision must only
      // appear after tick 6 arrives in the second batch
      val (a, b) = ticks.splitAt(4)
      in.addData(a: _*); q.processAllAvailable()
      val early = spark.table("p_spikes").as[SpikeDecision].collect()
      assert(!early.exists(_.tick_id >= 4L)) // tick 4 still frontier
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_spikes").as[SpikeDecision].collect().toSet
    } finally q.stop()
    val batch = graft.operators.TickOps.spikeRepair(
      ticks.toDF("tick_id", "symbol", "ts", "bid"), 5000L)
      .as[SpikeDecision].collect().toSeq
    val frontier = batch.groupBy(_.symbol).values
      .map(_.maxBy(_.tick_id)).toSet
    assert(streamed == batch.toSet -- frontier)
    assert(streamed.count(_.is_spike) == 1)
    val s5 = streamed.find(_.tick_id == 5L).get
    assert(s5.repaired_cents == 101L)
    // symbol 2 has a single tick: frontier only, nothing emitted
    assert(!streamed.exists(_.symbol == 2L))
  }

  test("G22 parity: last streamed moment point per (symbol, day) == " +
      "the batch realizedMoments row; zero-variance days never emit") {
    import graft.streaming.Streaming.MomentPoint
    val ticks = (1L to 30L).map { i =>
      val c = 1000 + ((i * 97) % 210) - 100 // 900..1109, varied moves
      Tick(i, 1L, t(f"2024-01-01 00:00:${i % 60}%02d"), c / 100.0)
    } ++ Seq( // symbol 2: constant price → zero variance → no points
      Tick(101L, 2L, t("2024-01-01 00:01:00"), 5.0),
      Tick(102L, 2L, t("2024-01-01 00:01:01"), 5.0),
      Tick(103L, 2L, t("2024-01-01 00:01:02"), 5.0))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.momentPoints(in.toDS())
      .writeStream.format("memory").queryName("p_moments")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      val (a, b) = ticks.splitAt(13)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_moments").as[MomentPoint].collect().toSeq
    } finally q.stop()
    assert(!streamed.exists(_.symbol == 2L))
    val lastPoint = streamed.filter(_.symbol == 1L).maxBy(_.n_moves)
    val df = ticks.map(tk => (tk.tick_id, tk.symbol, tk.ts, tk.bid,
      tk.bid + 0.01)).toDF("tick_id", "symbol", "ts", "bid", "ask")
    val batch = graft.operators.Microstructure.realizedMoments(df)
      .collect().filter(r => !r.isNullAt(4))
    assert(batch.length == 1)
    val b1 = batch.head
    assert(lastPoint.n_moves == b1.getAs[Long]("n_moves"))
    assert(lastPoint.variance == b1.getAs[Double]("variance"))
    assert(lastPoint.skewness == b1.getAs[Double]("skewness"))
    assert(lastPoint.ex_kurtosis == b1.getAs[Double]("ex_kurtosis"))
  }

  test("G24 parity: last streamed response point per (symbol, lag) == " +
      "the batch responseFunction row; zero-move ticks never settle") {
    import graft.streaming.Streaming.RespPoint
    val ticks = (1L to 24L).map { i =>
      // varied moves incl. repeats (i=7,8 equal → a zero-move tick)
      val c = 1000 + ((i * 131) % 170) - 85 + (if (i == 8) (7 * 131) % 170 - ((8 * 131) % 170) else 0)
      Tick(i, 1L, t(f"2024-01-01 00:00:${i % 60}%02d"), c / 100.0)
    } ++ (1L to 9L).map { i =>
      Tick(100L + i, 2L, t(f"2024-01-01 00:01:${i % 60}%02d"),
        (1000 + (if (i % 2 == 0) 40 else -40)) / 100.0)
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.responsePoints(in.toDS(), Seq(1, 3))
      .writeStream.format("memory").queryName("p_resp")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      val (a, b) = ticks.splitAt(11) // open ring entries cross batches
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_resp").as[RespPoint].collect().toSeq
    } finally q.stop()
    val df = ticks.map(tk => (tk.tick_id, tk.symbol, tk.ts, tk.bid,
      tk.bid + 0.01)).toDF("tick_id", "symbol", "ts", "bid", "ask")
    val batch = graft.operators.Microstructure
      .responseFunction(df, Seq(1, 3)).collect()
      .map(r => (r.getAs[Long]("symbol"), r.getAs[Int]("lag")) ->
        (r.getAs[Long]("n_obs"), r.getAs[Double]("resp_cents"))).toMap
    assert(batch.nonEmpty)
    for (((sym, lag), (nB, respB)) <- batch if nB > 0) {
      val last = streamed.filter(p => p.symbol == sym && p.lag == lag)
        .maxBy(_.n_obs)
      assert(last.n_obs == nB, s"($sym, $lag) n: ${last.n_obs} != $nB")
      assert(last.resp_cents == respB,
        s"($sym, $lag) resp: ${last.resp_cents} != $respB")
    }
  }

  test("G21 parity: streamed triple-barrier labels == batch rows with " +
      "a hit or a FULL observed horizon; truncated-tail entries stay " +
      "open; decided_idx matches the batch hit index") {
    import graft.streaming.Streaming.BarrierLabel
    val (n, h, bp) = (3, 5, 1500L)
    val ticks = for {
      sym <- Seq(1L, 2L)
      i <- 1L to 25L
    } yield {
      // flat tail (i >= 21): the idx-22 entry cannot hit within its
      // TRUNCATED lookahead → the batch-only label-0 row the parity
      // statement excludes
      val c = if (i >= 21) 1000
              else 1000 + ((i * 173 + sym * 97) % 340) - 170 // 830..1169
      Tick(sym * 1000 + i, sym, t(f"2024-01-01 00:00:${i % 60}%02d"), c / 100.0)
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.tripleBarrierState(in.toDS(), n, h, bp)
      .writeStream.format("memory").queryName("p_tbar")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      // split mid-lookahead so open entries cross a batch boundary
      val (a, b) = ticks.splitAt(11)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      spark.table("p_tbar").as[BarrierLabel].collect().toSet
    } finally q.stop()
    // batch twin over the same rows
    val df = ticks.map(tk => (tk.tick_id, tk.symbol, tk.ts, tk.bid,
      tk.bid + 0.01)).toSeq.toDF("tick_id", "symbol", "ts", "bid", "ask")
    val batch = graft.operators.Features.tripleBarrier(df, n, h, bp)
      .collect().map { r =>
        val label = r.getAs[Int]("label")
        val decided =
          if (label == 1) r.getAs[Long]("up_idx")
          else if (label == -1) r.getAs[Long]("dn_idx")
          else r.getAs[Long]("e_idx") + h
        (BarrierLabel(r.getAs[Long]("symbol"), r.getAs[Long]("e_idx"),
          r.getAs[Long]("entry_id"), r.getAs[Long]("e_c"), label, decided),
          r.getAs[Long]("n_lookahead"))
      }
    val completed = batch.collect {
      case (bl, nLook) if bl.label != 0 || nLook == h => bl
    }.toSet
    assert(streamed == completed)
    assert(streamed.nonEmpty &&
      streamed.exists(_.label == 1) && streamed.exists(_.label == -1))
    // at least one truncated-tail entry exists and stayed open
    assert(batch.exists { case (bl, nLook) => bl.label == 0 && nLook < h })
  }

  test("G23: streaming CMS cells equal the batch sketch cell-for-cell " +
      "after the last micro-batch (counts add across batches)") {
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq("the cat sat", "the dog sat on the mat",
      "a cat and a dog chased the cat", "the end")
    val in = MemoryStream[Streaming.Doc]
    val q = Streaming.cmsCellCounts(in.toDF())
      .writeStream.format("memory").queryName("cmsg")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(Streaming.Doc(0L, texts(0)), Streaming.Doc(1L, texts(1)))
      q.processAllAvailable()
      in.addData(Streaming.Doc(2L, texts(2)), Streaming.Doc(3L, texts(3)))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT rw, cell, cnt FROM cmsg")
        .collect().map(_.toSeq).toSet
      val batch = Streaming.cmsCellCounts(
        texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("doc_id", "text"))
        .select("rw", "cell", "cnt").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // "the" occurs 5 times — its cells count ≥ 5 in every row
      assert(batch.nonEmpty &&
        batch.exists(_.last.asInstanceOf[Long] >= 5L))
    } finally q.stop()
  }

  test("G29 parity: pitServePoints == batch pointInTimeJoin row for " +
      "row; feature registers carry across the micro-batch split") {
    import graft.streaming.Streaming.{PitEvent, PitRow}
    val feed = Seq(
      PitEvent(1L, t("2024-01-01 10:00:00"), 0, 10L, 1.0),
      PitEvent(1L, t("2024-01-01 10:00:05"), 1, 100L, 0.0),
      PitEvent(1L, t("2024-01-01 10:00:10"), 2, 20L, 5.0),
      PitEvent(1L, t("2024-01-01 10:00:10"), 1, 101L, 0.0), // B at same ts
      PitEvent(1L, t("2024-01-01 10:00:20"), 0, 11L, 2.0),
      PitEvent(1L, t("2024-01-01 10:00:30"), 1, 102L, 0.0),
      PitEvent(2L, t("2024-01-01 10:00:30"), 1, 103L, 0.0)) // featureless
    val facts = feed.filter(_.kind == 1)
      .map(e => (e.symbol, e.ts, e.id)).toDF("symbol", "ts", "id")
    def leg(k: Int) = feed.filter(_.kind == k)
      .map(e => (e.symbol, e.ts, e.id, e.v)).toDF("symbol", "ts", "id", "v")
    val batch = graft.operators.TemporalJoins
      .pointInTimeJoin(facts, leg(0), leg(2))
      .as[(Long, Long, Option[Double], Option[Long],
        Option[Double], Option[Long])].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PitEvent]
    val q = Streaming.pitServePoints(in.toDS())
      .writeStream.format("memory").queryName("p_pit")
      .outputMode(OutputMode.Append).start()
    try {
      // split after the same-ts pair: fact 102's A register (updated
      // at 10:00:20) crosses the batch boundary
      val (x, y) = feed.splitAt(4)
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val streamed = spark.table("p_pit").as[PitRow].collect()
        .map(r => (r.fact_id, r.symbol, r.a_val, r.a_age_us,
          r.b_val, r.b_age_us)).toSet
      assert(streamed == batch)
      assert(batch.map(_._1) == Set(100L, 101L, 102L, 103L))
    } finally q.stop()
  }

  test("G28: streaming KS drift vs an offline reference CDF — the " +
      "shifted feed alarms, the conforming feed stays low, and the " +
      "final emission equals the batch twin") {
    import graft.streaming.Streaming.SourcedDoc
    import graft.operators.CorpusPipeline
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val maxLen = 8
    // reference corpus: lens 4 and 6 in equal measure
    val refDocs = (1 to 10).map(i =>
      (i.toLong, words(if (i % 2 == 0) 4 else 6), "en", "ref"))
      .toDF("doc_id", "text", "lang", "source")
    val ref = CorpusPipeline.lengthCdf(refDocs, maxLen)
    // stream: source "ok" mirrors the reference; "short" collapsed to 2
    val live = (1 to 8).map(i =>
      SourcedDoc(i.toLong, "ok", words(if (i % 2 == 0) 4 else 6))) ++
      (11 to 18).map(i => SourcedDoc(i.toLong, "short", words(2)))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SourcedDoc]
    val q = Streaming.ksDriftPoints(in.toDS(), ref, maxLen)
      .writeStream.format("memory").queryName("p_ksdrift")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = live.splitAt(9)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      val ems = spark.table("p_ksdrift")
        .as[(String, Long, Double, Int)].collect()
      // final emission per source = the max-cumulative-count row
      val fin = ems.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
        .toSeq.sortBy(_._1)
      val batch = CorpusPipeline.ksAgainstReference(
        live.map(d => (d.doc_id, d.text, "en", d.source))
          .toDF("doc_id", "text", "lang", "source"), ref, maxLen)
        .as[(String, Long, Double, Int)].collect().toSeq.sortBy(_._1)
      assert(fin == batch)
      val bySrc = fin.map(r => r._1 -> r._3).toMap
      assert(bySrc("short") == 1.0) // whole mass below the ref support
      assert(bySrc("ok") < 0.2)     // conforming feed: small KS
    } finally q.stop()
  }

  test("G27 parity: streaming classifierAdmission == batch " +
      "classifierScore margins and labels, including empty docs") {
    import graft.streaming.Streaming.Doc
    val docs = Seq(
      Doc(1L, "good text here"),
      Doc(2L, ""),               // zero tokens → margin 0, admitted
      Doc(3L, "good good"),      // occurrence-weighted
      Doc(4L, "some other words entirely different"))
    val batch = graft.operators.CorpusPipeline
      .classifierScore(docs.map(d => (d.doc_id, d.text, "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), nBuckets = 7)
      .select("doc_id", "n_tokens", "margin", "label")
      .collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streaming.classifierAdmission(in.toDS(), nBuckets = 7)
      .writeStream.format("memory").queryName("p_admit")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = docs.splitAt(2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      assert(spark.table("p_admit").collect().toSet == batch)
    } finally q.stop()
  }

  test("G26 parity: runningVwapPoints == batch runningVwapSlippage " +
      "with the cumsum spanning the micro-batch split; quotes (k=0) " +
      "neither update nor emit") {
    import graft.streaming.Streaming.{BarTrade, FillPoint}
    val trades = Seq(
      BarTrade(20L, 1L, t("2024-01-01 10:00:00"), 100L, 10L),
      BarTrade(21L, 1L, t("2024-01-01 11:00:00"), 102L, 30L),
      BarTrade(40L, 1L, t("2024-01-01 12:00:00"), 104L, 10L),
      BarTrade(60L, 1L, t("2024-01-01 13:00:00"), 999L, 0L),
      BarTrade(22L, 2L, t("2024-01-01 10:00:00"), 500L, 5L))
    // the equivalent events frame for the batch twin
    val ev = trades.map(b => (b.event_id, b.symbol, b.ts, "trade",
      b.cents / 100.0, s"""{"k":${b.k}}"""))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val batch = graft.operators.Microstructure
      .runningVwapSlippage(ev, 20)
      .as[(Long, Long, String, Long, Long, Double, Double)]
      .collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[BarTrade]
    val q = Streaming.runningVwapPoints(in.toDS(), 20)
      .writeStream.format("memory").queryName("p_runvwap")
      .outputMode(OutputMode.Append).start()
    try {
      // split between trade 21 and fill 40: fill 40's benchmark
      // depends on sums carried across the batch boundary
      val (a, b) = trades.splitAt(2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      val streamed = spark.table("p_runvwap").as[FillPoint].collect()
        .map(f => (f.symbol, f.fill_id, f.day, f.exec_cents, f.cum_qty,
          f.run_vwap_cents, f.slip_bp)).toSet
      assert(streamed == batch)
      assert(batch.map(_._2) == Set(20L, 40L)) // non-vacuous: 2 fills
    } finally q.stop()
  }

  test("G26 parity on a zero-priced day: stream and batch both score " +
      "NULL slippage while the running price·qty is 0") {
    import graft.streaming.Streaming.{BarTrade, FillPoint}
    val trades = Seq(
      BarTrade(20L, 1L, t("2024-01-02 10:00:00"), 0L, 10L),   // cum_pv 0
      BarTrade(21L, 1L, t("2024-01-02 11:00:00"), 100L, 10L),
      BarTrade(40L, 1L, t("2024-01-02 12:00:00"), 0L, 5L))    // cum_pv 1000
    val ev = trades.map(b => (b.event_id, b.symbol, b.ts, "trade",
      b.cents / 100.0, s"""{"k":${b.k}}"""))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val batch = graft.operators.Microstructure.runningVwapSlippage(ev, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(6))).toSet
    assert(batch == Set((1L, 20L, null),
      (1L, 40L, (0L * 25L - 1000L) * 10000L / 1000.0)))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[BarTrade]
    val q = Streaming.runningVwapPoints(in.toDS(), 20)
      .writeStream.format("memory").queryName("p_runvwap_zero")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(trades: _*); q.processAllAvailable()
      val streamed = spark.table("p_runvwap_zero").as[FillPoint].collect()
        .map(f => (f.symbol, f.fill_id, f.slip_bp)).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  /** What a drive must leave as it found it, failed or not: the
    * session conf, this JVM's checkpoint dirs under the checkpoint
    * root and the `graft_stream_sink_*` views. */
  private def driveTraces() = (
    spark.conf.getAll,
    Option(new java.io.File(graft.streaming.StreamRegistry.ckptRoot)
      .list()).toSeq.flatten
      .filter(_.startsWith(graft.streaming.StreamRegistry.ckptPrefix)).toSet,
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_sink_")).toSet)

  /** Both drive shapes, each with its feeds and `noDataBatches`: one
    * source on the defaults, and two sources with no-data batches off
    * (the interval join's drive). */
  private val driveShapes = Seq(
    (Seq(Seq(Seq(1L, 2L))), true),
    (Seq(Seq(Seq(1L, 2L)), Seq(Seq(3L))), false))

  private def assertDriveLeftNoTraces(
      before: (Map[String, String], Set[String], Set[String])): Unit = {
    val (conf, ckpts, views) = driveTraces()
    assert(conf == before._1)
    assert(spark.streams.active.isEmpty)
    assert(ckpts == before._2)
    assert(views == before._3)
  }

  test("a tape drive whose start() fails leaves every session conf " +
      "as it was") {
    driveShapes.foreach { case (feeds, noDataBatches) =>
      val before = driveTraces()
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        // a sort on a non-aggregated stream is rejected at start()
        graft.streaming.StreamRegistry.drive(spark, feeds, OutputMode.Append,
          noDataBatches = noDataBatches) { in =>
          in.reduce(_ union _).toDF().orderBy("value")
        }
      }
      assert(e.getMessage.toLowerCase.contains("sort"), e.getMessage)
      assertDriveLeftNoTraces(before)
    }
  }

  test("a tape drive whose micro-batch fails drops its sink view and " +
      "checkpoint dir and restores the session conf") {
    driveShapes.foreach { case (feeds, noDataBatches) =>
      val before = driveTraces()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        // value 2 fails the assertion inside the first micro-batch
        graft.streaming.StreamRegistry.drive(spark, feeds, OutputMode.Append,
          noDataBatches = noDataBatches) { in =>
          in.reduce(_ union _).toDF().selectExpr("assert_true(value < 2)")
        }
      }
      assertDriveLeftNoTraces(before)
    }
  }

  test("the state-store janitor never unloads while a query is active, " +
      "and unloads on one call in 4 once none is") {
    import graft.streaming.StreamRegistry.unloadDeadStateStores
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val q = in.toDS().writeStream.format("memory").queryName("p_janitor")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(1L, 2L); q.processAllAvailable()
      // 4 consecutive calls hold the 4th of the count, wherever it stands
      assert((1 to 4).map(_ => unloadDeadStateStores(spark)) ==
        Seq.fill(4)(false))
      assert(q.isActive)
    } finally q.stop()
    assert((1 to 4).count(_ => unloadDeadStateStores(spark)) == 1)
  }

  test("G25 parity: seasonalFlags (offline baseline + stream-static " +
      "scoring) == batch seasonalAnomaly; day boundary resets the " +
      "move state") {
    // minute 0 moves across both days: [1, 1, 4] → μ = 2, σ = √3;
    // only the 4-cent move scores |z| = 2/√3 ≈ 1.1547 > 1.0.
    // minute 1 has a single move → σ NULL → never flagged.
    // Day-2 head tick (2.00 after day-1 close 1.03) emits NO move.
    val ticks = Seq(
      Tick(1L, 1L, t("2024-01-01 00:00:01"), 1.00),
      Tick(2L, 1L, t("2024-01-01 00:00:05"), 1.01),
      Tick(3L, 1L, t("2024-01-01 00:00:20"), 1.02),
      Tick(4L, 1L, t("2024-01-01 00:01:10"), 1.03),
      Tick(5L, 1L, t("2024-01-02 00:00:02"), 2.00),
      Tick(6L, 1L, t("2024-01-02 00:00:40"), 2.04),
      Tick(7L, 2L, t("2024-01-01 00:00:30"), 5.00))
    val batch = graft.operators.Microstructure
      .seasonalAnomaly(ticks.toDF(), 1.0).collect().toSet
    assert(batch.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      r.getDouble(3), r.getDouble(4))) ==
      Set((1L, 6L, 0, 4.0, math.rint(2.0 / math.sqrt(3.0) * 1e4) / 1e4)))
    val baseline = graft.operators.Microstructure
      .seasonalBaseline(ticks.toDF())
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.seasonalFlags(in.toDS(), baseline, 1.0)
      .writeStream.format("memory").queryName("p_seasonal")
      .outputMode(OutputMode.Append).start()
    try {
      // split before tick 6: its move spans the batch boundary, so
      // the flag depends on state carried from batch 1
      val (a, b) = (ticks.take(5), ticks.drop(5))
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      assert(spark.table("p_seasonal").collect().toSet == batch)
    } finally q.stop()
  }

  test("G34 parity: streaming manifest accumulation — final emission " +
      "per split equals batch releaseManifest exactly across a " +
      "mid-split batch boundary") {
    import graft.streaming.Streaming.{Doc, ManifestPoint}
    val docsSeq = (1L to 40L).map(i => Doc(i, s"doc number $i words"))
    val batch = graft.operators.CorpusPipeline.releaseManifest(
      docsSeq.map(d => (d.doc_id, d.text, "en", "s"))
        .toDF("doc_id", "text", "lang", "source"))
      .collect().map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("content_checksum"), r.getAs[Long]("min_doc_id"),
          r.getAs[Long]("max_doc_id"))).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streaming.manifestPoints(in.toDS())
      .writeStream.format("memory").queryName("p_manifest")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = docsSeq.splitAt(17) // every split straddles this
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      val pts = spark.table("p_manifest").as[ManifestPoint].collect()
      val last = pts.zipWithIndex.groupBy(_._1.split)
        .map { case (s, xs) => s -> xs.maxBy(_._2)._1 }
      assert(last.keySet == batch.keySet)
      for ((s, m) <- last) {
        assert((m.n_docs, m.n_tokens, m.content_checksum,
          m.min_doc_id, m.max_doc_id) == batch(s), s)
      }
    } finally q.stop()
  }

  test("G33: event-time-timeout dormancy — a quiet key flags with its " +
      "last state once the watermark passes the gap; live keys don't; " +
      "a resumed key can flag again") {
    import graft.streaming.Streaming.{DormantFlag, Tick}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.dormancyFlags(in.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("p_dormant")
      .outputMode(OutputMode.Append).start()
    def flags = spark.table("p_dormant").as[DormantFlag].collect().toSeq
    try {
      // batch 1: symbols 1 and 2 alive at 10:00
      in.addData(
        Tick(1L, 1L, t("2024-01-01 10:00:00"), 1.00),
        Tick(2L, 1L, t("2024-01-01 10:00:30"), 1.01),
        Tick(3L, 2L, t("2024-01-01 10:00:30"), 2.00))
      q.processAllAvailable()
      assert(flags.isEmpty)
      // batch 2: only symbol 2 keeps ticking — watermark moves past
      // symbol 1's 10:00:30 + 60 s (timeouts evaluate on the NEXT
      // batch after the watermark update, hence the empty nudge)
      in.addData(Tick(4L, 2L, t("2024-01-01 10:05:00"), 2.01))
      q.processAllAvailable()
      in.addData(Tick(5L, 2L, t("2024-01-01 10:05:01"), 2.02))
      q.processAllAvailable()
      assert(flags == Seq(DormantFlag(1L, 2L,
        t("2024-01-01 10:00:30"), 2L)))
      // symbol 1 resumes, then goes quiet again — a SECOND dormancy
      // event for the same key (fresh register, n_ticks restarts)
      in.addData(Tick(6L, 1L, t("2024-01-01 10:06:00"), 1.02))
      q.processAllAvailable()
      in.addData(Tick(7L, 2L, t("2024-01-01 10:10:00"), 2.03))
      q.processAllAvailable()
      in.addData(Tick(8L, 2L, t("2024-01-01 10:10:01"), 2.04))
      q.processAllAvailable()
      assert(flags.toSet == Set(
        DormantFlag(1L, 2L, t("2024-01-01 10:00:30"), 2L),
        DormantFlag(1L, 6L, t("2024-01-01 10:06:00"), 1L)))
    } finally q.stop()
  }

  test("G32: idempotent upsert sink — a REPLAYED micro-batch leaves " +
      "the table unchanged; the stream wiring lands every tick once") {
    import graft.streaming.Streaming.Tick
    val ticks = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:00"), 1.00),
      Tick(2L, 1L, t("2024-01-01 10:00:01"), 1.02),
      Tick(3L, 2L, t("2024-01-01 10:00:02"), 2.00))
    try {
      // seed the table with batch 0's shape (the sink's target must
      // exist — production creates it at deploy time)
      Seq(ticks.head).toDF().write.saveAsTable("g32_sink")
      val b1 = ticks.drop(1).toDF()
      Streaming.upsertBatch("g32_sink", Seq("tick_id"))(b1, 1L)
      val once = spark.table("g32_sink").orderBy("tick_id")
        .collect().toSeq
      assert(once.length == 3)
      // THE failure mode: the same micro-batch applies again after a
      // checkpoint-less restart — content must not change
      Streaming.upsertBatch("g32_sink", Seq("tick_id"))(b1, 1L)
      val twice = spark.table("g32_sink").orderBy("tick_id")
        .collect().toSeq
      assert(twice == once)
      // and the real stream wiring drives the same path end-to-end
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Tick]
      val q = Streaming.idempotentTickSink(in.toDS(), "g32_sink").start()
      try {
        in.addData(Tick(4L, 2L, t("2024-01-01 10:00:03"), 2.02))
        q.processAllAvailable()
      } finally q.stop()
      // the stream ran in a CLONED session; its refresh clears the
      // clone's relation cache, not this session's — refresh before
      // reading through the overwrite (the upsert-sink contract:
      // same-session readers are refreshed by upsertTable itself,
      // other sessions refresh on read like any external writer)
      spark.catalog.refreshTable("g32_sink")
      assert(spark.table("g32_sink").count() == 4)
    } finally spark.sql("DROP TABLE IF EXISTS g32_sink")
  }

  test("G31: streaming per-source HLL registers — final emission " +
      "equals batch hllNdv on each source's slice; saturated feed " +
      "stops moving while the novel feed keeps estimating higher") {
    import graft.streaming.Streaming.{HllPoint, SourcedDoc}
    def doc(id: Long, src: String, words: Seq[String]) =
      SourcedDoc(id, src, words.mkString(" "))
    // "novel" keeps producing fresh bigrams; "stale" re-sends one doc
    val novel = (0 until 6).map(b => doc(2L * b, "novel",
      (0 until 8).map(i => s"w${b}_$i")))
    val stale = (0 until 6).map(i => doc(2L * i + 1, "stale",
      Seq("same", "old", "content", "again")))
    val feed = (novel ++ stale).sortBy(_.doc_id) // interleaved: both
      // sources appear on BOTH sides of the batch split below
    // batch dual per source slice
    def batchOf(src: String) = {
      val df = feed.filter(_.source == src)
        .map(d => (d.doc_id, d.text, "en", d.source))
        .toDF("doc_id", "text", "lang", "source")
      val r = graft.operators.TextDedup.hllNdv(df, 2).collect().head
      (r.getAs[Long]("n_zero_registers"), r.getAs[Long]("sum_scaled"),
        r.getAs[Double]("est_ndv"))
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SourcedDoc]
    val q = Streaming.hllNdvPoints(in.toDS(), 2)
      .writeStream.format("memory").queryName("p_hll")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = feed.splitAt(7) // registers cross the boundary
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      val pts = spark.table("p_hll").as[HllPoint].collect()
      // last emission per source == the batch sketch on its slice
      val last = pts.zipWithIndex.groupBy(_._1.source)
        .map { case (s, xs) => s -> xs.maxBy(_._2)._1 }
      for (src <- Seq("novel", "stale")) {
        val (z, ss, est) = batchOf(src)
        assert(last(src).n_zero_registers == z, src)
        assert(last(src).sum_scaled == ss, src)
        assert(last(src).est_ndv == est, src)
      }
      // the stale feed's second batch emission equals its first
      // (idempotent max-merge: no new content, registers frozen);
      // the novel feed's estimate strictly grows across batches
      val bySrc = pts.groupBy(_.source)
      val staleEsts = bySrc("stale").map(_.sum_scaled).toSeq
      assert(staleEsts.distinct.size == 1)
      val novelEsts = bySrc("novel").map(_.est_ndv).toSeq
      assert(novelEsts.length == 2 && novelEsts(1) > novelEsts(0))
    } finally q.stop()
  }

  test("G30 parity: orderVelocityPoints == batch orderVelocity; " +
      "window registers carry and prune across the batch split") {
    import graft.streaming.Streaming.{OrderArrival, VelocityRow}
    // customer 1: days 0, 30, 100, 150 + a same-day sibling at 150
    // (split lands BETWEEN the siblings — the second must still
    // exclude the first's day); customer 2: the exactly-90 boundary
    val feed = Seq(
      OrderArrival(1L, 1L, 0), OrderArrival(2L, 1L, 30),
      OrderArrival(3L, 1L, 100), OrderArrival(4L, 1L, 150),
      OrderArrival(5L, 1L, 150),
      OrderArrival(6L, 2L, 0), OrderArrival(7L, 2L, 90))
    val ordersDf = feed.map(o => (o.o_orderkey, o.o_custkey,
        java.sql.Timestamp.valueOf(java.time.LocalDate.ofEpochDay(
          o.day_i.toLong).atStartOfDay())))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val batch = graft.operators.TemporalJoins.orderVelocity(ordersDf, 90)
      .select("o_orderkey", "n_prior").as[(Long, Long)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[OrderArrival]
    val q = Streaming.orderVelocityPoints(in.toDS(), 90)
      .writeStream.format("memory").queryName("p_velocity")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = feed.splitAt(4) // between the day-150 siblings
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val streamed = spark.table("p_velocity").as[VelocityRow]
        .collect().map(r => r.o_orderkey -> r.n_prior).toMap
      assert(streamed == batch)
      assert(batch == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        5L -> 1L, 6L -> 0L, 7L -> 1L))
    } finally q.stop()
  }

  test("G38 parity: pathEdges' pooled emissions equal the batch " +
      "event-path census edge-for-edge; the last-type register " +
      "carries across the micro-batch split") {
    import graft.streaming.Streaming.{EdgePoint, PathEvent}
    val feed = Seq(
      PathEvent(1L, 1L, t("2024-01-01 10:00:00"), "view"),
      PathEvent(2L, 1L, t("2024-01-01 10:01:00"), "click"),
      // split lands here: user 1's next edge needs the register
      PathEvent(3L, 1L, t("2024-01-01 10:02:00"), "view"),
      PathEvent(4L, 2L, t("2024-01-01 09:00:00"), "view"),
      PathEvent(5L, 2L, t("2024-01-01 09:30:00"), "click"))
    val eventsDf = feed.map(e => (e.event_id, e.user_id, e.ts,
        e.event_type, 0.0, "{}"))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val batch = graft.operators.TemporalJoins.eventPaths(eventsDf, 10)
      .select("prev_type", "next_type", "n_edges")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PathEvent]
    val q = Streaming.pathEdges(in.toDS())
      .writeStream.format("memory").queryName("p_edges")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(feed.take(2): _*); q.processAllAvailable()
      in.addData(feed.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("p_edges").as[EdgePoint].collect()
        .groupBy(e => (e.prev_type, e.next_type))
        .map { case (k, es) => k -> es.length.toLong }
      assert(streamed == batch)
      assert(batch == Map(("view", "click") -> 2L,
        ("click", "view") -> 1L))
    } finally q.stop()
  }

  test("G40: windowAnomalyAlerts scores a session window the moment " +
      "the tape moves past it — pad path exact, deviant window flags " +
      "against the trained threshold, buffer carries across batches, " +
      "untrained symbols never flag, the open window never emits") {
    import graft.streaming.Streaming.WindowScore
    // trained artifacts for symbol 1 (k = 4): scaler (mu=100, sd=2),
    // centroid = the u's of the shape (100,102,104,106), thr 0.5e6
    val scalers = Map(1L -> ((100.0, 2.0)))
    val centroids = Map(1L -> Seq(0L, 1000000L, 2000000L, 3000000L))
    val thresholds = Map(1L -> 500000.0)
    val feed = Seq(
      Tick(1L, 1L, t("2024-01-08 07:30:00"), 1.00), // pre-window: ignored
      // morning, 3 ticks (PAD path): slots (100,102,102,106) ->
      // u = (0,1e6,1e6,3e6); only slot 2 differs from the centroid by
      // 1e6 -> err = 1.0/4 = 0.25 <= thr -> no flag
      Tick(2L, 1L, t("2024-01-08 07:51:00"), 1.00),
      Tick(3L, 1L, t("2024-01-08 07:52:00"), 1.02), // <- batch split
      Tick(4L, 1L, t("2024-01-08 07:55:00"), 1.06),
      // afternoon, 4 ticks, deviant slot 2 (120 -> u 10e6 vs 2e6):
      // err = (8e6)^2/1e12/4 = 16.0 -> u_err 16e6 > thr -> flag
      Tick(5L, 1L, t("2024-01-08 13:51:00"), 1.00), // closes morning
      Tick(6L, 1L, t("2024-01-08 13:52:00"), 1.02),
      Tick(7L, 1L, t("2024-01-08 13:53:00"), 1.20),
      Tick(8L, 1L, t("2024-01-08 13:55:00"), 1.06),
      Tick(9L, 1L, t("2024-01-09 07:51:00"), 1.00), // closes afternoon
      // symbol 2: UNTRAINED; morning window closed by a MIDDAY tick
      Tick(10L, 2L, t("2024-01-08 07:53:00"), 2.00),
      Tick(11L, 2L, t("2024-01-08 10:00:00"), 9.99))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.windowAnomalyAlerts(in.toDS(), 4,
        scalers, centroids, thresholds)
      .writeStream.format("memory").queryName("p_wa")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = feed.partition(_.tick_id <= 3) // split mid-window
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val out = spark.table("p_wa").as[WindowScore].collect()
        .map(w => (w.symbol, w.win) -> ((w.date, w.n_ticks, w.err,
          w.is_anomaly))).toMap
      assert(out.size == 3) // day-9 morning stays open: no emission
      assert(out((1L, "morning")) ==
        (("2024-01-08", 3L, 0.25, false)))
      assert(out((1L, "afternoon")) ==
        (("2024-01-08", 4L, 16.0, true)))
      assert(out((2L, "morning")) ==
        (("2024-01-08", 1L, 0.0, false)))
    } finally q.stop()
  }

  test("G40: a late cross-batch tick from an already-closed session " +
      "window is dropped, never appended to the open window") {
    import graft.streaming.Streaming.WindowScore
    val feed1 = Seq(
      Tick(1L, 1L, t("2024-01-08 07:51:00"), 1.00),
      Tick(2L, 1L, t("2024-01-08 07:52:00"), 1.02),
      Tick(3L, 1L, t("2024-01-08 13:51:00"), 1.00), // closes morning
      Tick(4L, 1L, t("2024-01-08 13:52:00"), 1.02))
    val feed2 = Seq(
      // LATE morning tick arriving while the afternoon window is
      // open: must be dropped (its window already emitted)
      Tick(5L, 1L, t("2024-01-08 07:54:00"), 9.99),
      Tick(6L, 1L, t("2024-01-09 07:51:00"), 1.00)) // closes afternoon
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.windowAnomalyAlerts(in.toDS(), 4,
        Map.empty, Map.empty, Map.empty)
      .writeStream.format("memory").queryName("p_wa_late")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(feed1: _*); q.processAllAvailable()
      in.addData(feed2: _*); q.processAllAvailable()
      val out = spark.table("p_wa_late").as[WindowScore].collect()
        .map(w => (w.date, w.win) -> w.n_ticks).toMap
      // afternoon scored with its own 2 ticks — the late 9.99 morning
      // tick neither re-opened the morning nor polluted the afternoon
      assert(out == Map(("2024-01-08", "morning") -> 2L,
        ("2024-01-08", "afternoon") -> 2L))
    } finally q.stop()
  }

  test("G40: a late tick arriving AFTER its window closed with no " +
      "window open cannot re-open it — no duplicate restated score") {
    import graft.streaming.Streaming.WindowScore
    // batch 1: the morning window closes via a MID-SESSION tick (slot
    // 2 — nothing opens after the close, so the pre-fix code removed
    // the state entirely). batch 2: a late morning tick would then
    // have re-opened 01-08 morning and a second score row for the
    // same window would appear once the tape moved on.
    val feed1 = Seq(
      Tick(1L, 1L, t("2024-01-08 07:51:00"), 1.00),
      Tick(2L, 1L, t("2024-01-08 07:52:00"), 1.02),
      Tick(3L, 1L, t("2024-01-08 10:00:00"), 1.00)) // closes morning
    val feed2 = Seq(
      Tick(4L, 1L, t("2024-01-08 07:54:00"), 9.99), // late, must drop
      Tick(5L, 1L, t("2024-01-08 13:51:00"), 1.00), // afternoon opens
      Tick(6L, 1L, t("2024-01-09 07:00:00"), 1.00)) // closes afternoon
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.windowAnomalyAlerts(in.toDS(), 4,
        Map.empty, Map.empty, Map.empty)
      .writeStream.format("memory").queryName("p_wa_late2")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(feed1: _*); q.processAllAvailable()
      in.addData(feed2: _*); q.processAllAvailable()
      val out = spark.table("p_wa_late2").as[WindowScore].collect()
      // exactly ONE morning row (n_ticks 2) and one afternoon row —
      // the late tick neither restated the morning nor opened a ghost
      assert(out.map(w => (w.date, w.win) -> w.n_ticks).toMap ==
        Map(("2024-01-08", "morning") -> 2L,
          ("2024-01-08", "afternoon") -> 1L))
      assert(out.length == 2)
    } finally q.stop()
  }

  test("G42: retrainAlerts fires once per breach-run at the Nth " +
      "consecutive out-of-band window, streak carrying across " +
      "micro-batches; in-band resets; untrained symbols silent") {
    import graft.streaming.Streaming.RetrainAlert
    // symbol 1 morning windows: d1-d3 trained shape (err 0), d4-d6
    // drift to 110..113 (3 consecutive breaches -> ONE alert at d6),
    // d7 back in band (reset), d8-d9 drift again (streak 2, silent).
    // symbol 2 drifts identically but has no trained artifacts.
    def shape(d: Int): Double =
      if ((d >= 4 && d <= 6) || d == 8 || d == 9) 0.10 else 0.0
    val rows = (1 to 9).flatMap { d =>
      (0 to 3).flatMap { i =>
        val bid = 1.00 + shape(d) + i * 0.01
        Seq((d * 100L + i, 1L, f"2024-01-$d%02d 07:51:0$i", bid),
          (d * 100L + 50 + i, 2L, f"2024-01-$d%02d 07:51:0$i", bid))
      }
    }
    val feed = rows.map { case (id, sym, ts, b) => Tick(id, sym, t(ts), b) } ++
      Seq(Tick(990L, 1L, t("2024-01-10 07:51:00"), 1.00),
        Tick(991L, 2L, t("2024-01-10 07:51:00"), 1.00))
    val mu = (100 + 101 + 102 + 103) / 4.0
    val sd = math.sqrt(
      Seq(100, 101, 102, 103).map(c => c.toDouble * c).sum / 4.0 - mu * mu)
    def q(x: Double): Long =
      if (x >= 0) math.floor(x * 1e6 + 0.5).toLong
      else -math.floor(-x * 1e6 + 0.5).toLong
    val centroid = Seq(100L, 101L, 102L, 103L).map(c => q((c - mu) / sd))
    val e0 = (0 to 3).map { i =>
      val d = (q((110.0 + i - mu) / sd) - centroid(i)).toDouble
      d * d / 1e6 / 1e6
    }.sum
    val expErr = math.floor(e0 / 4 * 1e6 + 0.5).toLong / 1e6
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val alerts = Streaming.retrainAlerts(in.toDS(), 4,
      Map(1L -> ((mu, sd))), Map(1L -> centroid),
      Map(1L -> 500000.0), consecutive = 3)
    val qy = alerts.writeStream.format("memory").queryName("p_retrain")
      .outputMode(OutputMode.Append).start()
    try {
      // split mid-breach-run: d1-d5 land in batch 1, the streak (2)
      // must carry into batch 2 where d6 closes and alerts
      val (x, y) = feed.partition(tk => tk.tick_id % 100 < 50 match {
        case true  => tk.tick_id < 600
        case false => tk.tick_id < 650
      })
      in.addData(x: _*); qy.processAllAvailable()
      in.addData(y: _*); qy.processAllAvailable()
      val out = spark.table("p_retrain").as[RetrainAlert].collect()
      assert(out.length == 1)
      val a = out.head
      assert(a.symbol == 1L)
      assert(a.date == "2024-01-06" && a.win == "morning")
      assert(a.streak == 3L)
      assert(a.err == expErr)
    } finally qy.stop()
  }

  test("G41: signalPositions trades the live windows with D76's exact " +
      "rules — enter on flag against the deviation, exit on recovery, " +
      "exact-cent P&L — and aggregates to the batch backtest row") {
    import graft.streaming.Streaming.SignalPoint
    // The D76 spec corpus: 11 morning windows, train d1-6 (shape
    // 100..103 cents), d10 spikes (flag -> short), d11 drops to
    // 90..93 (recovers -> exit at close 93; P&L +10 cents).
    val rows = (1 to 11).flatMap { d =>
      (0 to 3).map { i =>
        val bid =
          if (d == 10 && i == 1) 5.00
          else if (d == 11) 0.90 + i * 0.01
          else 1.00 + i * 0.01
        (d * 10L + i, 1L, f"2024-01-$d%02d 07:51:0$i", bid, 9.9)
      }
    }
    // stream-only closer: a day-12 tick advances the tape past d11 so
    // the last traded window emits (the open d12 window never does);
    // the BATCH frame deliberately excludes it — parity is over the
    // three closed test windows
    val feed = rows.map { case (id, sym, ts, b, _) =>
      Tick(id, sym, t(ts), b)
    } :+ Tick(200L, 1L, t("2024-01-12 07:51:00"), 1.00)
    // trained artifacts, derived exactly as the batch trains them
    val mu = (100 + 101 + 102 + 103) / 4.0
    val sd = math.sqrt(
      Seq(100, 101, 102, 103).map(c => c.toDouble * c).sum / 4.0 - mu * mu)
    def uOf(c: Long): Long = {
      val x = (c - mu) / sd
      if (x >= 0) math.floor(x * 1e6 + 0.5).toLong
      else -math.floor(-x * 1e6 + 0.5).toLong
    }
    val centroid = Seq(100L, 101L, 102L, 103L).map(uOf)
    // qu = the batch p99 over the three test-window errors, read off
    // the batch pipeline itself (exact interpolation mirrored)
    val ticksDf = rows.map { case (id, sym, ts, b, a) =>
      (id, sym, java.sql.Timestamp.valueOf(ts), b, a)
    }.toDF("tick_id", "symbol", "ts", "bid", "ask")
    val testErrs = graft.operators.Features.anomalyPipeline(ticksDf, 4)
      .collect().filter(_.getAs[String]("split") == "test")
      .map(r => math.floor(r.getAs[Double]("err") * 1e6 + 0.5).toLong)
      .sorted
    assert(testErrs.length == 3)
    val pos99 = 0.99 * 2
    val qu = testErrs(1) + (pos99 - 1) * (testErrs(2) - testErrs(1)).toDouble
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.signalPositions(in.toDS(), 4,
        Map(1L -> ((mu, sd))), Map(1L -> centroid), Map(1L -> qu),
        exitFrac = 0.5, fromDate = "2024-01-09")
      .writeStream.format("memory").queryName("p_sig")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = feed.partition(_.tick_id <= 95) // split mid-test
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val out = spark.table("p_sig").as[SignalPoint].collect()
        .sortBy(_.date)
      // train/val windows never emit (before fromDate)
      assert(out.map(_.date).toSeq ==
        Seq("2024-01-09", "2024-01-10", "2024-01-11"))
      assert(out.map(p => (p.pos, p.pos_prev, p.pnl_step_cents)).toSeq ==
        Seq((0, 0, 0L), (-1, 0, 0L), (0, -1, 10L)))
      // aggregate parity with the batch D76 report
      val batch = graft.operators.Features
        .anomalySignalBacktest(ticksDf, 4).collect().head
      assert(out.length.toLong == batch.getAs[Long]("n_windows"))
      assert(out.count(p => p.pos != 0 && p.pos != p.pos_prev).toLong ==
        batch.getAs[Long]("n_trades"))
      assert(out.count(_.pos != 0).toLong ==
        batch.getAs[Long]("windows_in_pos"))
      assert(out.map(_.pnl_step_cents).sum ==
        batch.getAs[Long]("pnl_cents"))
    } finally q.stop()
  }

  test("G40/G41: an intra-window tick arriving in a LATER micro-batch " +
      "scores and trades exactly as the in-order tape — the close " +
      "buffer re-orders by tick_id (the batch slot-map/close rule), " +
      "never by arrival") {
    import graft.streaming.Streaming.{WindowScore, SignalPoint}
    // trained artifacts as in the G40 spec: scaler (100, 2), centroid
    // u = (0, 1e6, 2e6, 3e6), threshold 0.5e6
    val scalers = Map(1L -> ((100.0, 2.0)))
    val centroids = Map(1L -> Seq(0L, 1000000L, 2000000L, 3000000L))
    val thresholds = Map(1L -> 500000.0)
    // window A (deviant slot 2 -> flags, enters short; close = tick 5
    // = 106c), window B (in-band -> holds; close 103c). Tick 3 of
    // window A arrives in the SECOND micro-batch: pre-fix it landed
    // at the buffer tail, so the slot map saw (100,120,106,102) and
    // the close became 102c — err and the B-window P&L both diverged
    // from the batch (tick_id-ordered) semantics.
    val winA = Seq(
      Tick(2L, 1L, t("2024-01-08 07:51:00"), 1.00),
      Tick(3L, 1L, t("2024-01-08 07:52:00"), 1.02),
      Tick(4L, 1L, t("2024-01-08 07:53:00"), 1.20),
      Tick(5L, 1L, t("2024-01-08 07:55:00"), 1.06))
    val winB = Seq(
      Tick(6L, 1L, t("2024-01-09 07:51:00"), 1.00),
      Tick(7L, 1L, t("2024-01-09 07:52:00"), 1.01),
      Tick(8L, 1L, t("2024-01-09 07:53:00"), 1.02),
      Tick(9L, 1L, t("2024-01-09 07:55:00"), 1.03))
    val closer = Tick(12L, 1L, t("2024-01-10 07:51:00"), 1.00)
    val inOrder = Seq(winA ++ winB :+ closer)
    val outOfOrder = Seq(
      winA.filter(_.tick_id != 3L),                 // batch 1: 2,4,5
      Seq(winA.find(_.tick_id == 3L).get),          // batch 2: tick 3
      winB :+ closer)                               // batch 3: rest
    def runScores(batches: Seq[Seq[Tick]], name: String)
        : Seq[(String, String, Long, Double, Boolean)] = {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Tick]
      val q = Streaming.windowAnomalyAlerts(in.toDS(), 4,
          scalers, centroids, thresholds)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[WindowScore].collect().toSeq
          .map(w => (w.date, w.win, w.n_ticks, w.err, w.is_anomaly))
          .sortBy(x => (x._1, x._2))
      } finally q.stop()
    }
    def runTrades(batches: Seq[Seq[Tick]], name: String)
        : Seq[(String, String, Double, Int, Int, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Tick]
      val q = Streaming.signalPositions(in.toDS(), 4,
          scalers, centroids, thresholds,
          exitFrac = 0.5, fromDate = "2024-01-01")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[SignalPoint].collect().toSeq
          .map(p => (p.date, p.win, p.err, p.pos, p.pos_prev,
            p.pnl_step_cents))
          .sortBy(x => (x._1, x._2))
      } finally q.stop()
    }
    val sIn = runScores(inOrder, "p_ooo_s1")
    val sOut = runScores(outOfOrder, "p_ooo_s2")
    assert(sIn == sOut, "G40 out-of-order arrival diverged")
    // the in-order scores themselves: A err 16.0, B 0.875 — both
    // above the 0.5 threshold
    assert(sIn == Seq(
      ("2024-01-08", "morning", 4L, 16.0, true),
      ("2024-01-09", "morning", 4L, 0.875, true)))
    val tIn = runTrades(inOrder, "p_ooo_t1")
    val tOut = runTrades(outOfOrder, "p_ooo_t2")
    assert(tIn == tOut, "G41 out-of-order arrival diverged")
    // B's P&L steps off A's TICK_ID-max close (106c), not the buffer
    // tail: -1 * (103 - 106) = +3 cents
    assert(tIn.map(x => (x._4, x._5, x._6)) ==
      Seq((-1, 0, 0L), (-1, -1, 3L)))
  }

  test("G43: gdModelScores serves the batch-trained D84 autoencoder " +
      "live — every closed window's error equals the batch scoring " +
      "chain exactly, untrained symbols emit nothing, only the " +
      "deviant window flags, the buffer carries across micro-batches") {
    import graft.streaming.Streaming.GdScore
    val k = 4; val h = 2
    // the D84 spec tape: 9 identical days + a day-10 spike (symbol 1),
    // plus an UNTRAINED symbol 2 (one session window, no model)
    val rows = (1 to 10).flatMap { d =>
      (0 to 3).map { i =>
        val bid = if (d == 10 && i == 1) 5.00 else 1.00 + i * 0.01
        (d * 10L + i, 1L, f"2024-01-$d%02d 07:51:0$i", bid, 9.9)
      }
    }
    val df = rows.map { case (id, sym, ts, b, a) =>
      (id, sym, java.sql.Timestamp.valueOf(ts), b, a)
    }.toDF("tick_id", "symbol", "ts", "bid", "ask")
    // batch-train the model and export its deployable artifacts
    val gd = graft.operators.Features.gdAutoencoder(df, k, h).collect()
    def flat(kind: String): Seq[Double] =
      gd.filter(r => r.getAs[Long]("symbol") == 1L &&
          r.getAs[String]("kind") == kind)
        .sortBy(r => (r.getAs[String]("a"), r.getAs[String]("b")))
        .map(_.getAs[Double]("value")).toSeq
    val we = flat("we"); val wd = flat("wd")
    assert(we.length == h * k && wd.length == k * h)
    val mp = graft.operators.Features.modelParams(df, k).collect()
      .filter(_.getAs[Long]("symbol") == 1L).head
    val scalers = Map(1L ->
      ((mp.getAs[Double]("mu"), mp.getAs[Double]("sd"))))
    val weights = Map(1L -> ((we, wd)))
    // mirror the batch per-window errors off the scored stream chain
    // (the shared SessionScoring spelling) to derive the p99
    // threshold the batch flag rule uses
    val scoreFn = graft.streaming.Streaming.SessionScoring
      .windowGdErr(k, scalers, weights) _
    val mirrorErr = (1 to 10).map { d =>
      val cents = (0 to 3).map { i =>
        math.round((if (d == 10 && i == 1) 5.00
          else 1.00 + i * 0.01) * 100.0)
      }.toList
      f"2024-01-$d%02d" -> scoreFn(1L, cents)
    }.toMap
    // test windows = days 9-10 (n_w = 10, train 6, val 2)
    val te = Seq(mirrorErr("2024-01-09"), mirrorErr("2024-01-10"))
      .sorted
    val qu = te(0) + 0.99 * (te(1) - te(0)).toDouble
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val feed = rows.map { case (id, sym, ts, b, _) =>
      Tick(id, sym, t(ts), b)
    } ++ Seq(
      Tick(500L, 2L, t("2024-01-03 07:52:00"), 2.00), // untrained
      Tick(600L, 1L, t("2024-01-11 07:51:00"), 1.00), // closes day 10
      Tick(601L, 2L, t("2024-01-11 07:51:00"), 2.00)) // closes sym 2
    val q = graft.streaming.Streaming.gdModelScores(in.toDS(), k,
        scalers, weights, Map(1L -> qu))
      .writeStream.format("memory").queryName("p_gd")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = feed.partition(_.tick_id <= 52) // split mid-tape
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val out = spark.table("p_gd").as[GdScore].collect()
      // symbol 2 never emits (no trained weights)
      assert(out.forall(_.symbol == 1L))
      assert(out.length == 10)
      out.foreach { g =>
        assert(g.n_ticks == 4L)
        assert(g.err == mirrorErr(g.date).toDouble / 1e6,
          s"day ${g.date}: stream ${g.err} vs batch chain " +
            s"${mirrorErr(g.date).toDouble / 1e6}")
      }
      // only the day-10 spike clears the batch p99 threshold
      assert(out.filter(_.is_anomaly).map(_.date).toSeq ==
        Seq("2024-01-10"))
    } finally q.stop()
  }

  test("G39: volConeAlerts emits on day close only for FULL h-day " +
      "windows, bands against the trained cone, open-day register " +
      "carrying across micro-batches; untrained symbols flagged") {
    import graft.streaming.Streaming.VolPoint
    val feed = Seq(
      // symbol 1 — day 1 rv 1, day 2 rv 4 (split mid-day-2), day 3 open
      Tick(1L, 1L, t("2024-01-01 10:00:00"), 1.00),
      Tick(2L, 1L, t("2024-01-01 11:00:00"), 1.01),
      Tick(3L, 1L, t("2024-01-02 10:00:00"), 1.00),
      Tick(4L, 1L, t("2024-01-02 11:00:00"), 1.02),
      Tick(5L, 1L, t("2024-01-03 10:00:00"), 1.00),
      // symbol 2 — same shape, no trained cone
      Tick(6L, 2L, t("2024-01-01 10:00:00"), 1.00),
      Tick(7L, 2L, t("2024-01-01 11:00:00"), 1.01),
      Tick(8L, 2L, t("2024-01-02 10:00:00"), 1.00),
      Tick(9L, 2L, t("2024-01-02 11:00:00"), 1.01),
      Tick(10L, 2L, t("2024-01-03 10:00:00"), 1.00))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.volConeAlerts(in.toDS(),
        Map(1L -> ((2.0, 4.5))), h = 2)
      .writeStream.format("memory").queryName("p_vc")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = feed.partition(_.tick_id <= 3) // split mid-day-2
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val out = spark.table("p_vc").as[VolPoint].collect()
      // day 1 closes with only itself in the ring (h=2) → no emit;
      // day 2 closes with [d1, d2] → one emission per symbol;
      // day 3 never closes → no emission.
      assert(out.length == 2)
      val s1 = out.find(_.symbol == 1L).get
      assert((s1.day, s1.roll_rv, s1.band) ==
        (("2024-01-02", 5L, "above")),
        "rv 1+4 = 5 > hi 4.5, open-day register must carry the split")
      val s2 = out.find(_.symbol == 2L).get
      assert((s2.day, s2.roll_rv, s2.band) ==
        (("2024-01-02", 2L, "untrained")))
    } finally q.stop()
  }

  test("G37: pairSpreadZ emits only once both legs ticked, folds the " +
      "Welford register exactly, and carries it across micro-batches") {
    import graft.streaming.Streaming.PairZ
    val feed = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.0), // A alone: no spread
      Tick(2L, 2L, t("2024-01-01 10:00:02"), 9.0),  // spread 1.0, n=1
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 11.0), // spread 2.0, n=2
      Tick(4L, 2L, t("2024-01-01 10:00:04"), 10.5)) // spread 0.5 (x-batch)
    // the exact Welford replay the operator must reproduce
    def fold(spreads: Seq[Double]): Seq[(Double, Option[Double])] =
      spreads.scanLeft((0L, 0.0, 0.0, Option.empty[Double], 0.0)) {
        case ((n, mean, m2, _, _), s) =>
          val n1 = n + 1; val d = s - mean
          val mean1 = mean + d / n1; val m21 = m2 + d * (s - mean1)
          val z = if (n1 >= 2 && m21 > 0.0)
            Some((s - mean1) / math.sqrt(m21 / n1)) else None
          (n1, mean1, m21, z, s)
      }.drop(1).map(r => (r._5, r._4))
    val expected = fold(Seq(1.0, 2.0, 0.5))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.pairSpreadZ(in.toDS(), Seq((1L, 2L)),
        Map((1L, 2L) -> 1.0))
      .writeStream.format("memory").queryName("p_pz")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(feed.take(3): _*); q.processAllAvailable()
      in.addData(feed.drop(3): _*); q.processAllAvailable()
      val out = spark.table("p_pz").as[PairZ].collect()
        .sortBy(_.tick_id)
      assert(out.length == 3, "tick 1 has no opposite leg yet")
      assert(out.map(p => (p.spread, p.z)).toSeq == expected)
      assert(out(0).z.isEmpty, "n = 1 has no variance")
      assert(out(1).z == Some(1.0))
    } finally q.stop()
  }

  test("G36 parity: coveragePoints' final emission per customer == " +
      "batch intervalCoverage; an open island survives the batch " +
      "split and exactly-touching intervals merge") {
    import graft.streaming.Streaming.{CoveragePoint, OrderArrival}
    // customer 1: [0,30)+[14,44) merge, gap, [59,89) — the split
    // lands INSIDE the first (still-open) island, between days 0
    // and 14; customer 3: [0,30)+[30,60) touch exactly → one island
    val feed = Seq(
      OrderArrival(1L, 1L, 0), OrderArrival(2L, 1L, 14),
      OrderArrival(3L, 1L, 59),
      OrderArrival(5L, 3L, 0), OrderArrival(6L, 3L, 30))
    val ordersDf = feed.map(o => (o.o_orderkey, o.o_custkey,
        java.sql.Timestamp.valueOf(java.time.LocalDate.ofEpochDay(
          o.day_i.toLong).atStartOfDay())))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val batch = graft.operators.TemporalJoins.intervalCoverage(ordersDf, 30)
      .select("o_custkey", "n_orders", "n_intervals", "covered_days",
        "span_days")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[OrderArrival]
    val q = Streaming.coveragePoints(in.toDS(), 30)
      .writeStream.format("memory").queryName("p_cov")
      .outputMode(OutputMode.Append).start()
    try {
      val (x, y) = feed.splitAt(1) // inside customer 1's open island
      in.addData(x: _*); q.processAllAvailable()
      in.addData(y: _*); q.processAllAvailable()
      val out = spark.table("p_cov").as[CoveragePoint].collect()
      assert(out.length == feed.length)
      val finals = out.groupBy(_.o_custkey).map { case (c, ps) =>
        val last = ps.maxBy(_.n_orders)
        c -> ((last.n_orders, last.n_intervals, last.covered_days,
          last.span_days))
      }
      assert(finals == batch)
      assert(batch(1L) == ((3L, 2L, 74L, 89L)))
      assert(batch(3L) == ((2L, 1L, 60L, 60L)))
      // the running report after order 2 shows the merged open island
      val mid = out.find(_.o_orderkey == 2L).get
      assert((mid.n_intervals, mid.covered_days) == ((1L, 44L)),
        "open island must merge across the micro-batch split")
    } finally q.stop()
  }

  test("G35 parity: drawdownPoints match the batch drawdown " +
      "row-for-row, peak carrying across micro-batches, zero-peak " +
      "guarded") {
    import graft.streaming.Streaming.DrawdownPoint
    val rows = Seq(
      Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.0),
      Tick(2L, 1L, t("2024-01-01 10:00:02"), 12.0),  // new peak
      Tick(3L, 1L, t("2024-01-01 10:00:03"), 9.0),   // dd vs 12 (x-batch)
      Tick(4L, 1L, t("2024-01-01 10:00:04"), 11.0),  // still below 12
      Tick(5L, 2L, t("2024-01-01 10:00:01"), 0.0))   // zero peak → None
    val batch = graft.operators.Features.drawdown(
      rows.map(r => (r.tick_id, r.symbol, r.ts, r.bid, r.bid + 0.1))
        .toDF("tick_id", "symbol", "ts", "bid", "ask"))
      .select("tick_id", "cummax", "drawdown")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.drawdownPoints(in.toDS())
      .writeStream.format("memory").queryName("p_dd")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val out = spark.table("p_dd").as[DrawdownPoint].collect()
      assert(out.length == rows.length)
      assert(out.find(_.tick_id == 3L).get.cummax == 12.0,
        "running peak must carry across micro-batches")
      assert(out.find(_.tick_id == 5L).get.drawdown.isEmpty)
      out.foreach { p =>
        assert(batch(p.tick_id) == ((p.cummax, p.drawdown)),
          s"tick ${p.tick_id}")
      }
    } finally q.stop()
  }

  test("keyedFold: each key starts from a fresh initial state, folds " +
      "its rows in sort-key order, carries state across micro-batches " +
      "and keeps none when its fold returns null") {
    implicit val sqlCtx = spark.sqlContext
    // one state partition, so both keys fold in one task, where a
    // shared initial array would show
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val in = MemoryStream[(String, Long)]
      // state: a one-slot counter array; each row emits its position
      // in the key's fold; key z returns no state
      val q = Streaming.keyedFold(in.toDS(), OutputMode.Append)(
          (r: (String, Long)) => r._1, (r: (String, Long)) => r._2)(
          new Array[Long](1)) { (k, seen, rows) =>
        val out = rows.map { r => seen(0) += 1; (k, r._2, seen(0)) }
        (if (k == "z") null else seen, out)
      }.writeStream.format("memory").queryName("keyed_fold")
        .outputMode(OutputMode.Append).start()
      try {
        def stateRows = q.lastProgress.stateOperators.head.numRowsTotal
        in.addData(("a", 3L), ("b", 1L), ("a", 1L), ("b", 2L), ("z", 5L),
          ("b", 0L))
        q.processAllAvailable()
        assert(stateRows == 2L)
        in.addData(("a", 2L), ("z", 6L), ("b", 9L))
        q.processAllAvailable()
        assert(stateRows == 2L)
        val out = spark.table("keyed_fold").as[(String, Long, Long)]
          .collect().toSet
        assert(out == Set(
          ("a", 1L, 1L), ("a", 3L, 2L), ("a", 2L, 3L),
          ("b", 0L, 1L), ("b", 1L, 2L), ("b", 2L, 3L), ("b", 9L, 4L),
          ("z", 5L, 1L), ("z", 6L, 1L)))
      } finally q.stop()
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
