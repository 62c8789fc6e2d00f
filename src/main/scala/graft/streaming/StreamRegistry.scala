package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.GraftSession.withConf
import graft.operators.Features
import graft.sources.Tables

/** Driver-checkable STREAMING keys (`q_stream_*`): each G-family
  * operator run as a REAL Structured Streaming query over the sfDir
  * tape — a MemoryStream fed in tape order across several
  * micro-batches (state carry + within-batch re-sort exercised, the
  * same drive protocol as the parity specs) by the one [[drive]], and
  * the sink's final contents returned as a batch DataFrame for the
  * DuckDB oracle hash (ref: README §8.5 — the live monitoring loop's
  * output IS a queryable table).
  *
  * Execution-mode notes, honestly stated:
  *  - windowed aggregations run `Complete` here because the tape is
  *    bounded and the hash covers EVERY window; production watermarked
  *    `Append` semantics (late-data drop, state eviction) are what the
  *    `StreamingSpec` parity suites pin down;
  *  - `flatMapGroupsWithState` operators run `Append` exactly as
  *    deployed; close-on-advance windows get one per-symbol SENTINEL
  *    tick beyond the tape horizon so every tape window closes and
  *    emits (the sentinel's own window stays open and never emits —
  *    the bounded-tape analog of "the still-open final window never
  *    emits");
  *  - the sink rows are collected on the driver when the drive ends
  *    and returned as a fresh frame (a LocalRelation, or a
  *    parallelized one for large sinks — see [[detached]]), so the
  *    result outlives the drive's query and its sink view (Bench runs
  *    every key twice in one session).
  *
  * The tapes are session-memoized driver-side `Seq`s (see [[tape]]).
  * At 100 TB the tape is a Kafka topic and the sink a lakehouse
  * table; everything between — the operators under test — is
  * partition-parallel keyed state, |symbols| wide, rate-independent.
  */
object StreamRegistry {
  import Streaming.{BarTrade, Change, Doc, Ev, FunnelEvent, OrderArrival,
    PathEvent, PitEvent, SourcedDoc, Tick}

  private implicit val tickEnc: Encoder[Tick] = Encoders.product[Tick]
  private implicit val evEnc: Encoder[Ev] = Encoders.product[Ev]
  private implicit val docEnc: Encoder[Doc] = Encoders.product[Doc]
  private implicit val sdEnc: Encoder[SourcedDoc] =
    Encoders.product[SourcedDoc]
  private implicit val btEnc: Encoder[BarTrade] = Encoders.product[BarTrade]
  private implicit val chEnc: Encoder[Change] = Encoders.product[Change]
  private implicit val oaEnc: Encoder[OrderArrival] =
    Encoders.product[OrderArrival]
  private implicit val pitEnc: Encoder[PitEvent] = Encoders.product[PitEvent]
  private implicit val pathEnc: Encoder[PathEvent] =
    Encoders.product[PathEvent]
  private implicit val feEnc: Encoder[FunnelEvent] =
    Encoders.product[FunnelEvent]

  private val sinkCtr = new java.util.concurrent.atomic.AtomicLong(0L)

  /** State-partition count for the drives. A stateful streaming
    * query fixes its state partitioning from
    * `spark.sql.shuffle.partitions` at FIRST-batch planning and every
    * micro-batch then commits one state-store delta per partition per
    * stateful operator: at the session default 32 that is 32·batches·
    * ops small-file commits per key for a tape whose per-partition
    * state is a handful of rows — pure fixed overhead, measured as
    * the bulk of the q_stream_* bench tax. 8 still exercises real
    * multi-partition keyed state (the semantics under test) while
    * sizing state IO to the tape; a production deployment sizes this
    * to load exactly the same way (state partitions follow key
    * cardinality and rate, not a global constant). */
  private val StreamStatePartitions = "8"

  /** Checkpoint root for the drives. A MemoryStream-fed query's
    * checkpoint is NON-RECOVERABLE by construction (the in-memory
    * source cannot replay offsets after a restart — Spark documents
    * the memory source as test-only), so durability buys nothing
    * here, while every micro-batch pays offset-WAL + commit-WAL +
    * per-partition state-delta fsyncs against it (measured ~80 ms of
    * walCommit+commitOffsets per batch on the root disk, ×~5 batches
    * ×49 keys). Place the transient checkpoint on tmpfs when the host
    * has one; a production deployment with a REPLAYABLE source (Kafka)
    * keeps its checkpoint on durable storage exactly as before —
    * override via SPARK_GRAFT_STREAM_CKPT. Each drive gets a fresh
    * [[ckptPrefix]] subdir, deleted on every exit path (tmpfs is
    * RAM — never leak). */
  private[graft] val ckptRoot: String =
    sys.env.get("SPARK_GRAFT_STREAM_CKPT").orElse {
      Some("/dev/shm").filter(p => new java.io.File(p).canWrite)
    }.getOrElse(System.getProperty("java.io.tmpdir"))

  /** Name prefix of this JVM's drive checkpoint dirs. The root is
    * shared by every process on the host, so the pid tells one
    * process's dirs (a leaked one included) from another's. */
  private[graft] val ckptPrefix =
    s"graft_stream_ckpt${ProcessHandle.current().pid()}_"

  private def freshCkptDir(): java.io.File =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckptRoot), ckptPrefix).toFile

  /** Run `body` under the drive's scoped session conf. The drives run
    * sequentially within a session (Verify/Bench both iterate keys one
    * at a time), so the scoped conf cannot bleed into a concurrent
    * batch plan.
    *  - `spark.sql.shuffle.partitions` = [[StreamStatePartitions]].
    *  - `pollingDelay` 1 ms: the no-data polling sleep between
    *    micro-batches (default 10 ms) is crossed once per drained batch
    *    by processAllAvailable; at ~6 batches per drive that is pure
    *    latency. 1 ms keeps the poll loop (the engine's own floor)
    *    without the idle tax.
    *  - `noDataMicroBatches.enabled` = `noDataBatches` (see [[drive]]).
    *  - The NIO checkpoint file manager. The drives checkpoint to a
    *    local (tmpfs) path, where Hadoop's local filesystem — absent
    *    the native library — forks a `chmod` process per file create
    *    and a `readlink` per rename: ~30 forks per micro-batch across
    *    the offset WAL, commit WAL and 8 state deltas, measured as the
    *    bulk of walCommit/commitOffsets. The NIO manager (see its
    *    scaladoc) does the identical create-temp+atomic-rename
    *    protocol in-process. Scoped per drive so a caller
    *    checkpointing to durable storage keeps the default manager. */
  private def withStreamConf[R](s: SparkSession, noDataBatches: Boolean)
                               (body: => R): R =
    withConf(s, "spark.sql.shuffle.partitions", StreamStatePartitions) {
      withConf(s, "spark.sql.streaming.pollingDelay", "1") {
        withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled",
            noDataBatches.toString) {
          withConf(s, "spark.sql.streaming.checkpointFileManagerClass",
            classOf[org.apache.spark.sql.execution.streaming
              .checkpointing.NioCheckpointFileManager].getName)(body)
        }
      }
    }

  /** The Complete-mode drive sink (r18): a foreachBatch collector. The
    * memory sink's `addBatch` collects EVERY batch's rows to the
    * driver — in Complete mode that is the FULL result table
    * re-collected per micro-batch, with all but the last copy
    * discarded by the final rewrite (guide §5: no driver collect in
    * the query path). Here intermediate Complete epochs execute
    * through the noop sink instead — the identical micro-batch plan
    * runs (every stateful operator advances its state exactly as
    * before; the noop write computes every column of every row, the
    * same full evaluation the memory sink's collect paid) but no rows
    * cross to the driver — and only the FINAL epoch's full table is
    * collected. Complete-mode equivalence: the memory sink's final
    * table IS the last epoch's full result (each Complete addBatch
    * replaces the table), which is exactly what the final collect
    * captures. */
  private final class BatchCollector {
    private val buf = scala.collection.mutable.ArrayBuffer[Row]()
    @volatile var finalRound = false
    def add(df: Dataset[Row]): Unit =
      if (!finalRound) df.write.format("noop").mode("overwrite").save()
      else {
        val rows = df.collect()
        buf.synchronized { buf.clear(); buf ++= rows }
        ()
      }
    def rows: Seq[Row] = buf.synchronized(buf.toVector)
  }

  /** Detached result frame from collected sink rows. Small sinks
    * become a LocalRelation (no cluster job at all — the old
    * parallelize detach paid a re-encode stage per drive); large ones
    * keep the distributed re-parallelize so the 100x tape replays do
    * not funnel a big sink through one driver-side encode. */
  private def detached(s: SparkSession, rows: Seq[Row],
                       schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    if (rows.length <= 16384) {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    } else {
      s.createDataFrame(
        s.sparkContext.parallelize(rows, math.max(1, math.min(32,
          rows.length / 4096 + 1))), schema)
    }

  /** Eagerly unload stopped drives' state-store providers instead of
    * leaving them for the 60 s maintenance cycle (see
    * [[org.apache.spark.sql.execution.streaming.state.StreamStateJanitor]]).
    * Every 4th drive, not every drive: the unload itself costs
    * ~0.1-0.2 s (provider close + maintenance-pool churn), so a
    * per-drive call taxes all 49 keys to bound memory that only
    * accumulates meaningfully across MANY drives; a 4-drive bound
    * keeps peak dead-provider state at <= 4 drives' worth (the 100x
    * replay's driver-memory concern) at a quarter of the cost.
    *
    * Precondition: drives run one at a time. `unloadAll` is JVM-wide
    * and would also unload a live query's providers, so it runs only
    * when the session has no active query; a 4th call that finds one
    * skips the unload and the count starts over. The count is one
    * atomic update, so concurrent callers cannot lose a drive.
    * Returns whether this call unloaded. */
  private val drivesSinceUnload = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def unloadDeadStateStores(s: SparkSession): Boolean = {
    val due = drivesSinceUnload.updateAndGet(n => (n + 1) % 4) == 0
    val unload = due && s.streams.active.isEmpty
    if (unload)
      org.apache.spark.sql.execution.streaming.state
        .StreamStateJanitor.unloadAll()
    unload
  }

  /** A tape split into 4 chunks in tape order — the default drive
    * feed (4 micro-batches: state carry across batches and the
    * within-batch re-sort are both exercised). */
  private def quarters[T](tape: Seq[T]): Seq[Seq[T]] =
    tape.grouped(math.max(1, (tape.size + 3) / 4)).toSeq

  /** The default tick drive: the session tick tape ([[tickTape]]) in
    * [[quarters]] through `plan`, the one-source feed of most keys. */
  private def tickDrive(s: SparkSession, d: String, mode: OutputMode)
                       (plan: Dataset[Tick] => Dataset[_]): DataFrame =
    drive(s, Seq(quarters(tickTape(s, d))), mode)(in => plan(in.head).toDF())

  /** THE streaming drive: every `q_stream_*` key (and Bench's warm-up)
    * runs its query through here.
    *
    * Round protocol: `feeds` holds one chunk sequence per source; one
    * MemoryStream per source is handed to `plan` in the same order.
    * In round i the drive adds chunk i of every source that has one,
    * in the order given, then calls ONE processAllAvailable — so a
    * two-source drive can order its legs (the interval join feeds
    * quotes before trades), and sentinel BATCHES are just extra
    * chunks. Empty chunks are skipped. Operators whose emission is
    * driven by the watermark schedule (G33's event-time timeouts fire
    * in the no-data micro-batch that follows each data batch, against
    * that batch's watermark — probed on this Spark: strict `timeout <
    * watermark`, evaluated within the same processAllAvailable) rely
    * on exactly these batch boundaries.
    *
    * Sink by mode, unless `writer` supplies the caller's own:
    *  - Complete: the [[BatchCollector]] through foreachBatch (only
    *    the final round's full table is collected);
    *  - Append/Update: the memory sink under a fresh
    *    `graft_stream_sink_*` view. Its per-epoch emissions must be
    *    captured anyway, and an A/B showed the foreachBatch path costs
    *    a fresh QueryExecution per epoch (~+0.5 s on the
    *    emission-heavy keys) while the memory sink write rides the
    *    micro-batch execution.
    * The collected rows come back [[detached]]; with a `writer` the
    * sink is the caller's, and the drive returns an empty frame of the
    * plan's schema.
    *
    * `noDataBatches = false` skips the no-data micro-batch after each
    * drained round. Only an operator whose no-data batch can change
    * no output may set it: the G6 INNER stream-stream interval join
    * emits a match in the data batch that completes it, and a no-data
    * batch's only work there is state EVICTION of rows past the
    * watermark that no future row can match.
    *
    * Cleanup, on every exit path — a throwing `plan` or `start()`
    * included: the query is stopped, the scoped conf
    * ([[withStreamConf]]) restored, the fresh checkpoint dir removed
    * and the sink view dropped; every drive that started a query
    * counts towards [[unloadDeadStateStores]]. */
  private[graft] def drive[T](
      s: SparkSession, feeds: Seq[Seq[Seq[T]]], mode: OutputMode,
      noDataBatches: Boolean = true,
      writer: Option[DataFrame => DataStreamWriter[Row]] = None)
      (plan: Seq[Dataset[T]] => DataFrame)
      (implicit enc: Encoder[T]): DataFrame =
    withStreamConf(s, noDataBatches) {
      implicit val sqlCtx = s.sqlContext
      val ins = feeds.map(_ => MemoryStream[T])
      val rounds = feeds.map(_.filter(_.nonEmpty))
      val nRounds = (0 +: rounds.map(_.size)).max
      val name = s"graft_stream_sink_${sinkCtr.incrementAndGet()}"
      val ckpt = freshCkptDir()
      try {
        val sdf = plan(ins.map(_.toDS()))
        val coll = new BatchCollector
        val (w, sinkRows): (DataStreamWriter[Row], () => Seq[Row]) =
          writer match {
            case Some(f) => (f(sdf), () => Nil)
            case None if mode == OutputMode.Complete =>
              (sdf.writeStream.foreachBatch(
                (df: Dataset[Row], _: Long) => coll.add(df)),
                () => coll.rows)
            case None =>
              (sdf.writeStream.format("memory").queryName(name),
                () => s.table(name).collect().toIndexedSeq)
          }
        val q = w.option("checkpointLocation", ckpt.getAbsolutePath)
          .outputMode(mode).start()
        try {
          (0 until nRounds).foreach { i =>
            if (i == nRounds - 1) coll.finalRound = true
            ins.zip(rounds).foreach { case (in, chunks) =>
              if (i < chunks.size) in.addData(chunks(i): _*)
            }
            q.processAllAvailable()
          }
          detached(s, sinkRows(), sdf.schema)
        } finally {
          q.stop()
          unloadDeadStateStores(s)
        }
      } finally {
        graft.LocalFiles.rmTree(ckpt)
        s.catalog.dropTempView(name)
        ()
      }
    }

  /** Collapse a small batch-trained frame to a LocalRelation with the
    * identical rows and schema. A stream-static (broadcast) join
    * re-executes the static side's plan on EVERY micro-batch — for a
    * trained artifact derived from a full corpus scan (the G15 p90
    * thresholds, the G25 seasonal baseline) that is one redundant
    * batch training job per micro-batch. The artifact is bounded
    * (|symbols| / minutes-of-day rows) so a driver-side materialize
    * is the same move the Map-collecting drives (G39/G40) already
    * make; the per-batch broadcast rebuild then costs a LocalRelation
    * copy instead of a scan+aggregate. */
  private def localized(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(
      df.collect().toSeq.asJava, df.schema)
  }

  /** Pre-build the session tape (Bench's untimed fixture hook). */
  def warmTape(s: SparkSession, d: String): Int = tickTape(s, d).size

  /** A session-memoized tape: `df`'s rows in `df`'s order as `T`,
    * collected once per (session, memo `key`) through
    * [[graft.SessionFrameCache]]. `T`'s fields bind to `df`'s columns
    * by name; extra columns (a sort key) are dropped. Read-only after
    * construction: every consumer either iterates or concatenates
    * sentinels onto a copy. */
  private def tape[T: Encoder](s: SparkSession, key: String)
                              (df: => DataFrame): Seq[T] =
    graft.SessionFrameCache.getOrBuild(s, key)(df.as[T].collect().toSeq)

  /** The tick tape in tick_id order (globally ts-monotone — verified
    * on the driver corpora; the ingest invariant every tape replay
    * assumes). SESSION-MEMOIZED via [[graft.SessionFrameCache]]: 29
    * registry keys drive this identical tape, and rebuilding it per
    * key (parquet scan + global sort + driver collect) measured as a
    * fixed ~1 s tax on every q_stream_* key at sf0.1 — the tape is
    * the shared fixture of the whole G-family, built once per
    * (session, sfDir). */
  private def tickTape(s: SparkSession, d: String): Seq[Tick] =
    tape[Tick](s, s"stream_tick_tape:$d")(Tables.ticks(s, d)
      .select("tick_id", "symbol", "ts", "bid").orderBy("tick_id"))

  /** The documents tape in doc_id order — SESSION-MEMOIZED like
    * [[tickTape]]: five registry keys (G3 dedup, G7 near-dup, G23 cms,
    * G27 classifier, G34 manifest) drive this identical tape, and each
    * previously paid its own parquet scan + global sort + driver
    * collect per invocation (x2 under the bench's double-run
    * protocol). */
  private def docTape(s: SparkSession, d: String): Seq[Doc] =
    tape[Doc](s, s"stream_doc_tape:$d")(Tables.documents(s, d)
      .select("doc_id", "text").orderBy("doc_id"))

  /** The (doc_id, source, text) tape in doc_id order — shared by G28
    * (KS drift) and G31 (HLL novelty); memoized like [[docTape]]. */
  private def sourcedDocTape(s: SparkSession, d: String): Seq[SourcedDoc] =
    tape[SourcedDoc](s, s"stream_sourceddoc_tape:$d")(Tables.documents(s, d)
      .select("doc_id", "source", "text").orderBy("doc_id"))

  /** The trade tape (event_id, symbol, ts, cents, json k) in event_id
    * order — shared by G18 (volume bars) and G26 (running VWAP);
    * memoized like [[docTape]]. */
  private def barTradeTape(s: SparkSession, d: String): Seq[BarTrade] =
    tape[BarTrade](s, s"stream_bartrade_tape:$d")(Tables.events(s, d)
      .select(col("event_id"), col("user_id").as("symbol"), col("ts"),
        expr("CAST(round(value * 100.0, 0) AS BIGINT)").as("cents"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"),
          lit(0L)).as("k"))
      .orderBy("event_id"))

  /** One sentinel tick per symbol at (tape horizon + 1 day) 07:51 UTC
    * — strictly past every tape (day, slot), so it closes any open
    * session window; its own window never closes and never emits. */
  private def withSentinels(tape: Seq[Tick]): Seq[Tick] = {
    val maxId = tape.map(_.tick_id).max
    val maxDay = java.time.Instant
      .ofEpochMilli(tape.map(_.ts.getTime).max)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val sentTs = java.sql.Timestamp.from(
      maxDay.plusDays(1).atTime(7, 51).toInstant(java.time.ZoneOffset.UTC))
    val sentinels = tape.map(_.symbol).distinct.sorted.zipWithIndex
      .map { case (sym, i) => Tick(maxId + 1 + i, sym, sentTs, 1.0) }
    tape ++ sentinels
  }

  // ===== Complete-mode windowed aggregations =========================

  /** G1 twin key: streaming 1-second session downsample of the tape. */
  def streamDownsample(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Complete)(
      ticks => Streaming.downsample1s(ticks.toDF()))
      .orderBy("symbol", "ts_s")

  /** G4 twin key: per-(symbol, day) streaming tick counts. */
  def streamWindowCounts(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Complete)(
      ticks => Streaming.windowCounts(ticks.toDF(), "1 day"))
      .orderBy("symbol", "win_start")

  /** G8 twin key: streaming hourly OHLC bars. */
  def streamOhlc(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Complete)(
      ticks => Streaming.ohlcBars(ticks.toDF(), "1 hour"))
      .orderBy("symbol", "bucket_start")

  /** G13 twin key: streaming daily VWAP bars over the events tape
    * (json qty rides the tape rows). */
  def streamVwap(s: SparkSession, d: String): DataFrame = {
    val evs = tape[Ev](s, s"stream_ev_tape:$d")(Tables.events(s, d)
      .select("event_id", "user_id", "ts", "value", "props")
      .orderBy("event_id"))
    drive(s, Seq(quarters(evs)), OutputMode.Complete)(
      in => Streaming.vwapBars(in.head.toDF()))
      .orderBy("symbol", "bucket_start")
  }

  /** G5 twin key: native session_window gap sessionization. Session
    * bounds are raw event micros, emitted as exact int64 epoch-µs
    * (the §6 house rule: never hash a sub-second timestamp cell). */
  def streamSessions(s: SparkSession, d: String, gap: String)
      : DataFrame =
    tickDrive(s, d, OutputMode.Complete)(
      ticks => Streaming.sessionWindows(ticks.toDF(), gap))
      .select(col("symbol"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_ticks"), col("first_bid"))
      .orderBy("symbol", "session_start_us")

  /** G23 twin key: the count-min cell grid maintained as a live
    * aggregation over the documents tape — streaming state IS the
    * sketch (≤ 4·1024 int64 cells). */
  def streamCms(s: SparkSession, d: String): DataFrame =
    drive(s, Seq(quarters(docTape(s, d))), OutputMode.Complete)(
      in => Streaming.cmsCellCounts(in.head.toDF()))
      .orderBy("rw", "cell")

  // ===== Append-mode per-row keyed-state operators ===================

  /** G14 twin key: the streaming CDC register over the events
    * changelog (max-seq wins). Update mode emits each key's register
    * per batch; the FINAL register per key is the row with the
    * largest n_changes (strictly increasing per emission). */
  def streamCdc(s: SparkSession, d: String): DataFrame = {
    val changes = tape[Change](s, s"stream_change_tape:$d")(Tables
      .events(s, d)
      .select(col("event_id").as("seq"), col("user_id").as("key"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value"))
      .orderBy("seq"))
    val sink = drive(s, Seq(quarters(changes)), OutputMode.Update)(
      in => Streaming.cdcState(in.head).toDF())
    import org.apache.spark.sql.expressions.Window
    sink.withColumn("_rn", row_number().over(
        Window.partitionBy("key").orderBy(col("n_changes").desc)))
      .filter(col("_rn") === 1).drop("_rn")
      .orderBy("key")
  }

  /** G18 twin key: data-dependent volume bars — Append emits CLOSED
    * bars only, so the sink equals the batch bars minus each
    * symbol's trailing partial bar (no sentinel can close a
    * quantity-threshold bar). */
  def streamVolumeBars(s: SparkSession, d: String, barQty: Long)
      : DataFrame =
    drive(s, Seq(quarters(barTradeTape(s, d))), OutputMode.Append)(
      in => Streaming.volumeBarState(in.head, barQty).toDF())
      .orderBy("symbol", "bar_id")


  /** G20 twin key: per-tick running TWAP through B13's exact-integer
    * half-up formula — every interval-completing arrival emits the
    * TWAP so far (nothing emits while Σdur = 0). */
  def streamTwap(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.twapPoints)
      .orderBy("symbol", "date", "n_weighted")

  /** G19 twin key: one-tick-lookahead spike decisions — each tick's
    * verdict emits when its successor arrives, so the sink is the
    * batch B12 frame minus each symbol's LAST tick (still awaiting a
    * successor in state). */
  def streamSpikes(s: SparkSession, d: String, thresholdBp: Long)
      : DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.spikeFlags(_, thresholdBp))
      .orderBy("tick_id")

  /** G22 twin key: running realized moments per (symbol, day) — a
    * point per cent move once variance is positive; the raw power
    * sums are integer-valued doubles, so prefix sums are exact and
    * the rounded moment formulas evaluate identically batch-side. */
  def streamMoments(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.momentPoints)
      .orderBy("symbol", "date", "n_moves")

  /** G26 twin key: live TCA — fill-aligned running-VWAP slippage
    * points off the two exact int64 state sums (cum qty, cum p·q);
    * the D52 report spelling verbatim, zero-qty quotes transparent. */
  def streamRunningVwap(s: SparkSession, d: String, fillEvery: Int)
      : DataFrame =
    drive(s, Seq(quarters(barTradeTape(s, d))), OutputMode.Append)(
      in => Streaming.runningVwapPoints(in.head, fillEvery).toDF())
      .orderBy("symbol", "fill_id")

  /** G21 twin key: triple-barrier labels emitted at the deciding
    * tick; on a bounded tape the sink is the batch D38 frame minus
    * entries whose horizon was truncated by the feed's end (label 0
    * with n_lookahead < horizon — still open in state). */
  def streamTripleBarrier(s: SparkSession, d: String, entryEvery: Int,
                          horizon: Int, barrierBp: Long): DataFrame =
    tickDrive(s, d, OutputMode.Append)(
      Streaming.tripleBarrierState(_, entryEvery, horizon, barrierBp))
      .orderBy("symbol", "e_idx")

  /** G24 twin key: the running R(l) curve — every arrival settles
    * its l-back ring entries and emits the current per-lag averages
    * (exact int64 sums, one IEEE division per point). */
  def streamResponse(s: SparkSession, d: String, lags: Seq[Int])
      : DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.responsePoints(_, lags))
      .orderBy("symbol", "lag", "n_obs", "resp_cents")

  /** G27 twin key: the learned-quality admission gate scoring the
    * live document feed — stateless per-row margin fold through the
    * native PolyHash, admission on the exact int64 sign. */
  def streamClassifier(s: SparkSession, d: String): DataFrame =
    drive(s, Seq(quarters(docTape(s, d))), OutputMode.Append)(
      in => Streaming.classifierAdmission(in.head))
      .orderBy("doc_id")

  /** G31 twin key: the per-source HLL novelty monitor — each
    * micro-batch emits every touched source's CURRENT 32-register
    * summary, so the sink is the full snapshot LADDER (one row per
    * (source, batch-with-new-grams)); the oracle rebuilds the same
    * ladder from the deterministic 4-chunk tape prefixes. */
  def streamHll(s: SparkSession, d: String): DataFrame =
    drive(s, Seq(quarters(sourcedDocTape(s, d))), OutputMode.Append)(
      in => Streaming.hllNdvPoints(in.head, 2).toDF())
      .orderBy("source", "n_zero_registers", "sum_scaled")

  /** The orders tape in global (day, orderkey) arrival order —
    * SESSION-MEMOIZED like [[tickTape]] (r17: G30 and G36 each paid
    * their own parquet scan + global sort + driver collect; at 100×
    * that is two redundant 15 M-row collects). */
  private def orderTape(s: SparkSession, d: String): Seq[OrderArrival] =
    tape[OrderArrival](s, s"stream_order_tape:$d")(Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).as("day_i"))
      .orderBy("day_i", "o_orderkey"))

  /** Pre-build the session orders tape (Bench/Sf1Smoke fixture). */
  def warmOrderTape(s: SparkSession, d: String): Int =
    orderTape(s, d).size

  /** G30 twin key: trailing-window order velocity served at arrival —
    * the fraud-screen count over the customer's strictly-earlier days
    * inside the window, fed in global (day, orderkey) order. */
  def streamOrderVelocity(s: SparkSession, d: String, windowDays: Int)
      : DataFrame =
    drive(s, Seq(quarters(orderTape(s, d))), OutputMode.Append)(
      in => Streaming.orderVelocityPoints(in.head, windowDays).toDF())
      .orderBy("o_orderkey")

  /** G38 twin key: per-user event-path edges emitted at arrival off
    * the one-string last-type register. */
  def streamPathEdges(s: SparkSession, d: String): DataFrame = {
    val evs = tape[PathEvent](s, s"stream_pathevent_tape:$d")(Tables
      .events(s, d)
      .select("event_id", "user_id", "ts", "event_type").orderBy("event_id"))
    drive(s, Seq(quarters(evs)), OutputMode.Append)(
      in => Streaming.pathEdges(in.head).toDF())
      .orderBy("user_id", "prev_type", "next_type")
  }

  /** G34 twin key: the release-manifest accumulation ladder — each
    * micro-batch emits every touched split's running counts / id
    * bounds / mod-p content checksum (n_docs strictly increases per
    * emission, so the ladder rows are distinct by construction). */
  def streamManifest(s: SparkSession, d: String): DataFrame =
    drive(s, Seq(quarters(docTape(s, d))), OutputMode.Append)(
      in => Streaming.manifestPoints(in.head).toDF())
      .orderBy("split", "n_docs")

  /** G15 twin key: the deployment-split burst flagger — the
    * per-symbol p90 rate thresholds train offline (B10's spelling at
    * MINUTE grain: the driver corpora rarely collide at second
    * grain, so the deployed window is the one that actually flags);
    * the stream applies them to per-minute windowed counts via a
    * broadcast stream-static join (Complete over the bounded tape). */
  def streamBurst(s: SparkSession, d: String, pct: Double): DataFrame = {
    // offline-trained artifact: one batch training job per
    // (session, corpus, pct) — memoized like [[centroidArtifacts]]
    val trained = graft.SessionFrameCache.getOrBuild(
      s, s"stream_burst_trained:$d:$pct") {
      localized(Tables.ticks(s, d)
        .groupBy(col("symbol"), window(col("ts"), "1 minute"))
        .agg(count(lit(1)).as("n"))
        .groupBy("symbol")
        .agg(round(expr(s"percentile(n, $pct)"), 4).as("thr")))
    }
    tickDrive(s, d, OutputMode.Complete)(
      ticks => Streaming.burstFlags(ticks.toDF(), trained,
        windowDur = "1 minute"))
      .orderBy("symbol", "sec")
  }

  /** G25 twin key: seasonal-anomaly scoring in the deployment split —
    * the minute-of-day (mu, sigma) baseline trains offline on the
    * batch history and the stream scores each tick's in-day move
    * against the broadcast table. */
  def streamSeasonal(s: SparkSession, d: String, threshold: Double)
      : DataFrame = {
    val baseline = graft.SessionFrameCache.getOrBuild(
      s, s"stream_seasonal_baseline:$d") {
      localized(graft.operators.Microstructure
        .seasonalBaseline(Tables.ticks(s, d)))
    }
    tickDrive(s, d, OutputMode.Append)(
      Streaming.seasonalFlags(_, baseline, threshold))
      .orderBy("symbol", "tick_id")
  }

  /** G6 twin key: the stream-stream INTERVAL JOIN run as deployed —
    * every 20th tick is the trade leg, the full tape the quote leg,
    * each trade matched to its symbol's quotes in the trailing
    * lookback window. Timestamps emit as exact epoch-µs int64 (§6:
    * never hash a sub-second timestamp cell). */
  def streamIntervalJoin(s: SparkSession, d: String, lookback: String)
      : DataFrame = {
    val quotes = tickTape(s, d)
    val trades = quotes.filter(_.tick_id % 20 == 0)
    // quotes fed before trades in every round, so with both tapes in
    // global event-time order the min-over-inputs watermark always
    // trails every future row by more than the lookback: no buffered
    // row is evicted before its match arrives (the argument a
    // production Kafka deployment makes with per-partition time
    // ordering). No-data batches skipped: see [[drive]].
    drive(s, Seq(quarters(quotes), quarters(trades)), OutputMode.Append,
        noDataBatches = false)(
      in => Streaming.intervalJoin(in(1).toDF(), in(0).toDF(), lookback))
      .select(col("trade_id"), col("symbol"),
        unix_micros(col("trade_ts")).as("trade_us"),
        unix_micros(col("quote_ts")).as("quote_us"), col("quote_bid"))
      .orderBy("trade_id", "quote_us", "quote_bid")
  }

  /** G11 twin key: the per-tick running EWMA monitor — the half-life
    * recursion e' = (bid + e)/2 per (symbol, day), every arrival
    * emitting the current estimate. */
  def streamEwma(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.ewmaPoints)
      .orderBy("tick_id")

  /** G29 twin key: point-in-time feature serving — the two-register
    * online cache fed by click (kind 0) / view (kind 2) features and
    * read by purchase facts (kind 1), matching the E16 offline join
    * row for row. */
  def streamPit(s: SparkSession, d: String): DataFrame = {
    val evs = tape[PitEvent](s, s"stream_pitevent_tape:$d")(Tables
      .events(s, d)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id").as("symbol"), col("ts"),
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "view", 2)
          .otherwise(1).as("kind"),
        col("event_id").as("id"), col("value").as("v"))
      .orderBy("id"))
    drive(s, Seq(quarters(evs)), OutputMode.Append)(
      in => Streaming.pitServePoints(in.head).toDF())
      .orderBy("fact_id")
  }

  /** G28 twin key: the live KS drift monitor — per-source clamped
    * length histograms in keyed state, each touched batch emitting
    * the source's CURRENT KS against the offline reference CDF
    * (trained on the same corpus here — the self-drift audit shape). */
  def streamKsDrift(s: SparkSession, d: String, maxLen: Int)
      : DataFrame = {
    // the offline-trained reference CDF: one batch job per
    // (session, corpus, maxLen) — memoized like [[centroidArtifacts]]
    val ref = graft.SessionFrameCache.getOrBuild(
      s, s"stream_ks_ref:$d:$maxLen") {
      graft.operators.CorpusPipeline.lengthCdf(Tables.documents(s, d),
        maxLen)
    }
    drive(s, Seq(quarters(sourcedDocTape(s, d))), OutputMode.Append)(
      in => Streaming.ksDriftPoints(in.head, ref, maxLen).toDF())
      .orderBy("source", "n_docs")
  }

  /** G36 twin key: interval-union coverage maintained at arrival —
    * six int64 registers per customer, every order emitting the
    * running covered/span report. */
  def streamCoverage(s: SparkSession, d: String, windowDays: Int)
      : DataFrame =
    drive(s, Seq(quarters(orderTape(s, d))), OutputMode.Append)(
      in => Streaming.coveragePoints(in.head, windowDays).toDF())
      .orderBy("o_orderkey")

  /** G17 twin key: late-arrival flags on the B11 jittered-arrival
    * replay — the tape is fed in (deterministic-hash) ARRIVAL order,
    * each tick flagged against its symbol's running max event time.
    * Within a micro-batch the operator re-sorts by tick_id, so the
    * effective process order is (chunk, tick_id) — the oracle
    * replays exactly that order. */
  def streamLate(s: SparkSession, d: String, delayUs: Long): DataFrame = {
    import org.apache.spark.sql.functions.{pmod, unix_micros}
    val ticks = tape[Tick](s, s"stream_late_tape:$d") {
      val p = graft.functions.PortableText.P
      val jitter = pmod(pmod(col("tick_id"), lit(p)) * lit(2654435761L),
        lit(p)).%(lit(1200000000L)).-(lit(600000000L))
      Tables.ticks(s, d)
        .select(col("tick_id"), col("symbol"), col("ts"), col("bid"),
          (unix_micros(col("ts")) + jitter).as("arr"))
        .orderBy("arr", "tick_id")
    }
    drive(s, Seq(quarters(ticks)), OutputMode.Append)(
      in => Streaming.lateFlags(in.head, delayUs).toDF())
      .orderBy("tick_id")
  }

  /** G16 twin key: the greedy funnel over the event-time-ordered
    * feed — one row per stage advance, chained-min parity. */
  def streamFunnel(s: SparkSession, d: String, tauUs: Long): DataFrame = {
    val evs = tape[FunnelEvent](s, s"stream_funnel_tape:$d")(Tables
      .events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .orderBy(unix_micros(col("ts")), col("event_id")))
    drive(s, Seq(quarters(evs)), OutputMode.Append)(
      in => Streaming.funnelProgress(in.head, "view", "click", "purchase",
        tauUs).toDF())
      .orderBy("user_id", "stage")
  }

  /** The documents tape in the batch HASH-WALK order (the G9/G10
    * ordering contract: rank by the multiplicative hash, ties by
    * doc_id — a backfill replaying the batch walk). */
  private def hashWalkTape(s: SparkSession, d: String): Seq[SourcedDoc] =
    tape[SourcedDoc](s, s"stream_hashwalk_tape:$d") {
      val p = graft.functions.PortableText.P
      Tables.documents(s, d).select("doc_id", "source", "text")
        .withColumn("rnk",
          pmod(pmod(col("doc_id"), lit(p)) + lit(p), lit(p))
            * lit(2654435761L) % lit(p))
        .orderBy("rnk", "doc_id")
    }

  /** G9 twin key: token-budget admission on the hash walk — the
    * prefix-cut quota enforced live, decisions matching the batch
    * tokenBudgetPerSource doc for doc. */
  def streamTokenBudget(s: SparkSession, d: String, budget: Long)
      : DataFrame =
    drive(s, Seq(quarters(hashWalkTape(s, d))), OutputMode.Append)(
      in => Streaming.tokenBudgetAdmission(in.head, budget).toDF())
      .orderBy("doc_id")

  /** G10 twin key: per-source doc-count cap admission on the hash
    * walk — position ≤ cap admits, permanent rejection after. */
  def streamSourceCap(s: SparkSession, d: String, cap: Int): DataFrame =
    drive(s, Seq(quarters(hashWalkTape(s, d))), OutputMode.Append)(
      in => Streaming.sourceCapAdmission(in.head, cap).toDF())
      .orderBy("doc_id")

  /** G7 twin key: streaming near-dup admission — each doc's MinHash
    * LSH bands claim keyed (band, hash) buckets, first-writer-wins in
    * doc_id order; a band flags when its bucket was already claimed,
    * so the flag set equals "an earlier doc shares the bucket". */
  def streamNearDup(s: SparkSession, d: String): DataFrame =
    drive(s, Seq(quarters(docTape(s, d))), OutputMode.Append)(
      in => Streaming.nearDupBandFlags(in.head.toDF()).toDF())
      .orderBy("doc_id", "band")

  /** G7b twin key (r16 verdict #4): the STREAMING dup-spectrum —
    * G7's ingest-time near-dup admission driven over the
    * planted-Jaccard dup corpus ([[graft.operators.RichCorpus
    * .dupDocs]], pairs at J = keep/(16−keep) ∈ {0.14 … 0.78}),
    * reporting the per-keep-level flag rate of the planted CHILDREN —
    * the streaming recall-by-similarity curve beside F2e's batch one
    * (q_dedup_spectrum), measured against the same ground truth.
    *
    * Relation to the batch S-curve, exactly: a pair is LSH-caught iff
    * parent and child share a band bucket; the parent (doc_id −
    * doc_id%8) always precedes its child on the tape, so a caught
    * child's bucket is already claimed when it arrives ⇒ flagged.
    * Hence per keep n_flagged ≥ F2e's n_caught, the excess being
    * collisions with OTHER earlier docs (~4% cross-family word noise
    * per pair, priced in the RichCorpus doc) — the admission filter's
    * true operating curve, which is what an ingest deployment acts
    * on. The drive is the G7 protocol verbatim (doc_id-ordered tape,
    * 4 micro-batches, first-writer-wins keyed bucket state); with the
    * within-batch doc_id sort the verdict equals the batch min-over-
    * bucket rule, which is what the oracle replays. */
  def streamDupSpectrum(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
    val docs = tape[Doc](s, s"stream_dup_tape:$d")(graft.operators
      .RichCorpus.dupDocs(base).select("doc_id", "text").orderBy("doc_id"))
    val flags = drive(s, Seq(quarters(docs)), OutputMode.Append)(
      in => Streaming.nearDupBandFlags(in.head.toDF()).toDF())
    val verdict = flags.groupBy("doc_id")
      .agg(expr("bool_or(dup_band)").as("is_dup"))
    graft.operators.RichCorpus.dupPairs(base)
      .join(verdict.select(col("doc_id").as("doc_b"), col("is_dup")),
        Seq("doc_b"), "left")
      .groupBy("keep")
      .agg(count(lit(1)).as("n_planted"),
        sum(when(coalesce(col("is_dup"), lit(false)), lit(1L))
          .otherwise(lit(0L))).as("n_flagged"))
      .withColumn("flag_bp", expr("(n_flagged * 10000) DIV n_planted"))
      .select("keep", "n_planted", "n_flagged", "flag_bp")
      .orderBy("keep")
  }

  /** G39 twin key: the vol-cone regime monitor — D64's p25/p75 cone
    * trains offline at horizon h; the stream keeps each symbol's
    * open-day rv register plus the (h−1)-day closed ring and emits a
    * banded point the moment a day closes with a FULL h-day window
    * (the final open day never emits). */
  def streamVolCone(s: SparkSession, d: String, h: Int): DataFrame = {
    val cones = graft.SessionFrameCache.getOrBuild(
      s, s"stream_volcone_trained:$d:$h") {
      graft.operators.Microstructure
        .volCones(Tables.ticks(s, d), Seq(h))
        .select("symbol", "rv_p25", "rv_p75").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
    }
    tickDrive(s, d, OutputMode.Append)(Streaming.volConeAlerts(_, cones, h))
      .orderBy("symbol", "day")
  }

  /** G32 audit key: the idempotent foreachBatch upsert sink driven
    * END TO END — chunk 0 seeds the catalog table (the deploy-time
    * backfill), the real `idempotentTickSink` wiring streams the
    * rest, then the LAST micro-batch REPLAYS through the same batch
    * function (the at-least-once failure mode itself). The returned
    * audit frame is the final table's per-symbol logical content —
    * equal to the plain tick view iff the sink landed every tick
    * exactly once and the replay was a no-op. */
  def streamUpsertAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.pmod
    val p = graft.functions.PortableText.P
    val table = s"graft_stream_upsert_${sinkCtr.incrementAndGet()}"
    val chunks = quarters(tickTape(s, d))
    try {
      s.createDataFrame(chunks.head).write.saveAsTable(table)
      drive(s, Seq(chunks.drop(1)), OutputMode.Update,
        writer = Some(df => Streaming.idempotentTickSink(df.as[Tick], table)))(
        in => in.head.toDF())
      if (chunks.size > 1)
        Streaming.upsertBatch(table, Seq("tick_id"))(
          s.createDataFrame(chunks.last), chunks.size - 1L)
      s.catalog.refreshTable(table)
      val audit = s.table(table).groupBy("symbol")
        .agg(count(lit(1)).as("n"),
          pmod(sum(pmod(col("tick_id") * 31
              + expr("CAST(round(bid * 100.0, 0) AS BIGINT)"), lit(p))),
            lit(p)).as("content_fp"),
          pmod(sum(expr(s"unix_millis(ts) % $p")), lit(p)).as("ts_fp"))
        .orderBy("symbol")
      val schema = audit.schema
      val rows = audit.collect().toIndexedSeq
      detached(s, rows, schema)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $table")
      ()
    }
  }

  /** G12 twin key: per-tick tick-rule classes off one-double state. */
  def streamTickClasses(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.tickClasses)
      .orderBy("tick_id")

  /** G35 twin key: per-tick drawdown points off the running peak. */
  def streamDrawdown(s: SparkSession, d: String): DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.drawdownPoints)
      .orderBy("tick_id")

  /** G3 twin key: streaming exact dedup over the documents tape in
    * doc_id order — first arrival per md5 content hash wins. */
  def streamDedupExact(s: SparkSession, d: String): DataFrame =
    drive(s, Seq(quarters(docTape(s, d))), OutputMode.Append)(
      in => Streaming.dedupExact(in.head).toDF())
      .orderBy("doc_id")

  // ===== Deployed-model session-window scorers (G40/G43) ============

  /** The G40 deployment artifacts trained by the BATCH side: the D66
    * train scaler (µ, σ), the per-slot train-mean centroid QUANTIZED
    * to int64 micros (sign-split round — the live model ships integer
    * registers; the oracle mirrors the same quantization), and the
    * per-symbol p99 threshold of the quantized-centroid TEST-window
    * errors. Rides the session-shared D66 slot chain. */
  private def centroidArtifacts(s: SparkSession, d: String, k: Int,
                                pct: Double)
      : (Map[Long, (Double, Double)], Map[Long, Seq[Long]],
         Map[Long, Double]) =
    // SESSION-MEMOIZED like [[tickTape]]: G40 (anomaly) and G41
    // (positions) deploy the IDENTICAL batch-trained artifact set
    // (same k, same pct) — each previously re-ran the scaler /
    // centroid / threshold collect jobs on top of the cached slot
    // chain. One build per (session, sfDir, k, pct); G42's p90 band
    // builds its own entry. Read-only maps after construction.
    graft.SessionFrameCache.getOrBuild(s,
      s"centroid_artifacts:$d:$k:$pct") {
      centroidArtifactsBuild(s, d, k, pct)
    }

  private def centroidArtifactsBuild(s: SparkSession, d: String, k: Int,
                                     pct: Double)
      : (Map[Long, (Double, Double)], Map[Long, Seq[Long]],
         Map[Long, Double]) = {
    val chain = Features.slotChain(Tables.ticks(s, d), k, 0.6, 0.2,
      Some(d))
    val scalers = Features.trainScaler(chain.tagged).collect().map { r =>
      r.getLong(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    }.toMap
    val cent = chain.scaled.filter(col("split") === "train")
      .groupBy("symbol", "i")
      .agg(sum(col("u")).as("su"), count(lit(1)).as("n_tr"))
      .withColumn("ubar", expr(
        "CAST(CASE WHEN su >= 0" +
          " THEN floor(CAST(su AS DOUBLE) / n_tr + 0.5)" +
          " ELSE -floor(-(CAST(su AS DOUBLE) / n_tr) + 0.5)" +
          " END AS BIGINT)"))
      .select("symbol", "i", "ubar")
    val centroids = cent.collect()
      .groupBy(_.getLong(0))
      .map { case (sym, rows) =>
        // the slot index column is IntegerType (posexplode index)
        sym -> rows.sortBy(_.getAs[Number]("i").longValue())
          .map(_.getAs[Long]("ubar")).toSeq
      }
    // quantized-centroid per-window errors (the D67 fold with the
    // integer ubar) -> per-symbol p99 of the TEST windows
    val terms = chain.scaled
      .join(broadcast(cent), Seq("symbol", "i"), "left")
      .withColumn("t", expr(
        "CASE WHEN ubar IS NULL THEN 0.0D" +
          " ELSE CAST(u - ubar AS DOUBLE) * CAST(u - ubar AS DOUBLE)" +
          " / 1000000.0D / 1000000.0D END"))
    val errq = terms
      .groupBy("symbol", "date", "win", "split")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("i"), col("t")))),
          x => x.getField("t")),
        lit(0.0), (acc, x) => acc + x).as("e0"))
      .withColumn("u_err", expr(
        s"CAST(floor(e0 / $k * 1000000.0D + 0.5D) AS BIGINT)"))
    val thresholds = errq.filter(col("split") === "test")
      .groupBy("symbol")
      .agg(expr(s"percentile(u_err, $pct)").as("qu"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (scalers, centroids, thresholds)
  }

  /** G40 twin key: every tape session window scored live against the
    * batch-trained scaler/centroid/p99 band (sentinel-closed). */
  def streamAnomaly(s: SparkSession, d: String, k: Int,
                    pct: Double): DataFrame = {
    val (scalers, centroids, thresholds) = centroidArtifacts(s, d, k, pct)
    drive(s, Seq(quarters(withSentinels(tickTape(s, d)))), OutputMode.Append)(
      in => Streaming.windowAnomalyAlerts(in.head, k, scalers, centroids,
        thresholds).toDF())
      .orderBy("symbol", "date", "win")
  }

  /** G41 twin key: D76's backtest run as the LIVE deployment — the
    * batch-trained (quantized-centroid) band drives entries/exits on
    * every closed window at-or-after the go-live date, P&L accruing
    * in exact cents window over window (sentinel-closed). */
  def streamPositions(s: SparkSession, d: String, k: Int, pct: Double,
                      exitFrac: Double, fromDate: String): DataFrame = {
    val (scalers, centroids, thresholds) = centroidArtifacts(s, d, k, pct)
    drive(s, Seq(quarters(withSentinels(tickTape(s, d)))), OutputMode.Append)(
      in => Streaming.signalPositions(in.head, k, scalers, centroids,
        thresholds, exitFrac, fromDate).toDF())
      .orderBy("symbol", "date", "win")
  }

  /** G42 twin key: the retrain monitor on the tape — one alert per
    * consecutive-breach run at the moment it reaches N, against the
    * batch-trained quantized band (sentinel-closed). */
  def streamRetrain(s: SparkSession, d: String, k: Int, pct: Double,
                    consecutive: Int): DataFrame = {
    val (scalers, centroids, thresholds) = centroidArtifacts(s, d, k, pct)
    drive(s, Seq(quarters(withSentinels(tickTape(s, d)))), OutputMode.Append)(
      in => Streaming.retrainAlerts(in.head, k, scalers, centroids,
        thresholds, consecutive).toDF())
      .orderBy("symbol", "date", "win")
  }

  /** G43 twin key: the batch-trained D84 autoencoder SERVED over the
    * tape — every closed window of a trained symbol scored with the
    * final weights, flagged at the batch p99 (sentinel-closed). */
  def streamGdScores(s: SparkSession, d: String, k: Int, h: Int,
                     epochs: Int, lr: Double, pct: Double): DataFrame = {
    // batch-trained artifact set (weights / scalers / p99 band): one
    // build per (session, corpus, hyperparameters) — memoized like
    // [[centroidArtifacts]] (gdFit/slotChain are themselves cached;
    // this also skips the repeated scaler/threshold collect jobs)
    val (scalers, weights, thresholds) =
      graft.SessionFrameCache.getOrBuild(
        s, s"stream_gd_artifacts:$d:$k:$h:$epochs:$lr:$pct") {
        val ticks = Tables.ticks(s, d)
        val fit = Features.gdFit(ticks, k, h, epochs, lr, 0.6, 0.2,
          Some(d))
        val chain = Features.slotChain(ticks, k, 0.6, 0.2, Some(d))
        val sc = Features.trainScaler(chain.tagged).collect().map { r =>
          r.getLong(0) -> ((r.getDouble(1),
            if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
        }.toMap
        val w: Map[Long, (Seq[Double], Seq[Double])] =
          fit.weights.map { case (sym, a) =>
            sym -> ((a.take(h * k).toSeq, a.drop(h * k).toSeq))
          }
        val th = fit.errs.filter(col("split") === "test")
          .groupBy("symbol")
          .agg(expr(s"percentile(err_ppm, $pct)").as("qu"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        (sc, w, th)
      }
    drive(s, Seq(quarters(withSentinels(tickTape(s, d)))), OutputMode.Append)(
      in => Streaming.gdModelScores(in.head, k, scalers, weights,
        thresholds).toDF())
      .orderBy("symbol", "date", "win")
  }

  /** G2 twin key: the Welford anomaly flagger on the tape — one row
    * per tick carrying the post-update running (n, mean) and the
    * PRE-update ±kσ verdict. The fold order is the tape order (the
    * per-batch (ts ms, tick_id) sort composed across chunks — the
    * tape is ts-monotone), so the DuckDB oracle replays the IDENTICAL
    * IEEE recurrence over each symbol's prefix list. */
  def streamWelford(s: SparkSession, d: String, kSigma: Double)
      : DataFrame =
    tickDrive(s, d, OutputMode.Update)(
      Streaming.anomalyFlags(_, kSigma)
        .withColumnRenamed("isAnomaly", "is_anomaly"))
      .orderBy("symbol", "n")

  /** G37 twin key: the pair-spread z-score monitor with a
    * DETERMINISTIC roster — consecutive pairs of the corpus's ranked
    * symbols (pair j = ranked symbols 2j+1, 2j+2), β_j = 0.5 + 0.25·j
    * (exactly representable, spelled identically in the oracle). The
    * batch D60/D62 screens own the REAL roster fit; this key pins the
    * streaming mechanics — leg-state carry, Welford over the spread
    * series, n≥2 + positive-variance gating — against a roster both
    * sides can derive from the data alone. */
  def streamPairZ(s: SparkSession, d: String, nPairs: Int): DataFrame = {
    val syms = graft.SessionFrameCache.getOrBuild(
      s, s"stream_symbol_roster:$d") {
      Tables.ticks(s, d).select("symbol").distinct()
        .orderBy("symbol").collect().map(_.getLong(0)).toSeq
    }
    val pairs = syms.grouped(2)
      .collect { case Seq(a, b) => (a, b) }.take(nPairs).toSeq
    val betas = pairs.zipWithIndex
      .map { case (p, j) => p -> (0.5 + 0.25 * j) }.toMap
    tickDrive(s, d, OutputMode.Append)(Streaming.pairSpreadZ(_, pairs, betas))
      .orderBy("tick_id", "sym_a", "sym_b")
  }

  /** G44 twin key: the fixed-parameter GARCH(1,1) filter on the
    * tape — a point per cent move carrying the variance forecast it
    * was measured against; the oracle replays the identical fold
    * over each move prefix. */
  def streamGarch(s: SparkSession, d: String, omega: Double,
                  alpha: Double, beta: Double): DataFrame =
    tickDrive(s, d, OutputMode.Append)(
      Streaming.garchPoints(_, omega, alpha, beta))
      .orderBy("symbol", "date", "n_move")

  /** G45 twin key: the Kalman local-level filter on the tape — a
    * point per tick carrying the post-update (x̂, P); the oracle
    * replays the identical fold over each tick prefix. */
  def streamKalman(s: SparkSession, d: String, q: Double, r: Double)
      : DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.kalmanPoints(_, q, r))
      .orderBy("symbol", "date", "n_seen")

  /** G46 twin key: the symmetric CUSUM filter on the tape — a point
    * per move with the post-update register pair and running event
    * count; the oracle replays the branchless int64 fold over each
    * move prefix. */
  def streamCusum(s: SparkSession, d: String, h: Long): DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.cusumPoints(_, h))
      .orderBy("symbol", "date", "n_move")

  /** G47 twin key: fixed-width FFD on the tape — a point per tick
    * once the K-lag ring fills; the sink equals the batch q_fracdiff
    * frame row for row, so the oracle is the batch oracle. */
  def streamFfd(s: SparkSession, d: String, dOrd: Double, k: Int)
      : DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.ffdPoints(_, dOrd, k))
      .orderBy("tick_id")

  /** G49 twin key: the F78 media lake replayed as an id-ordered
    * tape — every distinct content admitted on first arrival, every
    * planted replica (ids nDistinct..2n−1, arriving in later chunks)
    * refused. The oracle is the F78 construction formula: id-ordered
    * arrival makes first-seen == min-id == the planted keep rule. */
  def streamMediaAdmission(s: SparkSession, nDistinct: Int): DataFrame = {
    import graft.operators.Multimodal
    implicit val mediaEnc: Encoder[Multimodal.MediaRow] =
      Encoders.product[Multimodal.MediaRow]
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_media_tape:$nDistinct") {
      Multimodal.syntheticDupMedia(s, nDistinct)
        .collect().sortBy(_.media_id).toSeq
    }
    drive(s, Seq(quarters(tape)), OutputMode.Append)(
      in => Streaming.mediaAdmission(in.head).toDF())
      .orderBy("media_id")
  }

  /** G48 twin key: the two-state regime filter on the tape — a point
    * per cent move carrying the post-update P(high) and its regime
    * verdict; the oracle replays the identical rational fold over
    * each move prefix. */
  def streamHmm(s: SparkSession, d: String,
                hp: graft.operators.Microstructure.HmmParams)
      : DataFrame =
    tickDrive(s, d, OutputMode.Append)(Streaming.hmmPoints(_, hp))
      .orderBy("symbol", "date", "n_move")

  /** G33 twin key: the event-time-timeout dormancy detector on the
    * tape. Emission is WATERMARK-driven, so the drive protocol IS
    * part of the contract and the oracle simulates it exactly: 4
    * tape chunks (the [[quarters]] split), then two sentinel BATCHES
    * (an off-roster symbol at maxTs + gap + 1ms and + 2·gap + 2ms).
    * After every data batch this Spark runs a no-data micro-batch
    * that fires timeouts against that batch's watermark (probed:
    * strict `last_ts + gap < W_c`), so a register dies at the first
    * chunk boundary its quiet period crosses with the watermark
    * past — and the sentinels guarantee every register left alive at
    * tape end dies before the sink is read (the second sentinel is a
    * DATA batch, so processAllAvailable cannot return before the
    * first sentinel's timeout evaluation has run). The sentinel's
    * own register never times out and never emits. */
  def streamDormant(s: SparkSession, d: String, gapMs: Long)
      : DataFrame = {
    import Streaming.Tick
    val tape = tickTape(s, d)
    val maxMs = tape.iterator.map(_.ts.getTime).max
    val s1 = Tick(-1L, -1L, new java.sql.Timestamp(maxMs + gapMs + 1), 0.0)
    val s2 = Tick(-2L, -1L, new java.sql.Timestamp(maxMs + 2 * gapMs + 2), 0.0)
    drive(s, Seq(quarters(tape) ++ Seq(Seq(s1), Seq(s2))),
      OutputMode.Append)(in => Streaming.dormancyFlags(in.head, gapMs).toDF())
      .orderBy("symbol", "last_tick_id")
  }
}
