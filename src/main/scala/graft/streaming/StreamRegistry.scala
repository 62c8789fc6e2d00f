package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Features
import graft.sources.Tables

/** Driver-checkable STREAMING keys (`q_stream_*`): each G-family
  * operator run as a REAL Structured Streaming query over the sfDir
  * tape — a MemoryStream fed in tape (tick_id) order across several
  * micro-batches (state carry + within-batch re-sort exercised, the
  * same drive protocol as the parity specs), a memory sink, and the
  * sink's final frame returned as a batch DataFrame for the DuckDB
  * oracle hash (ref: README §8.5 — the live monitoring loop's output
  * IS a queryable table).
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
  *  - the sink is collected and re-parallelized so the returned frame
  *    is detached from the transient memory-sink view (Bench runs
  *    every key twice in one session).
  *
  * At 100 TB the tape is a Kafka topic and the sink a lakehouse
  * table; everything between — the operators under test — is
  * partition-parallel keyed state, |symbols| wide, rate-independent.
  */
object StreamRegistry {
  import Streaming.{Doc, Ev, Tick}

  private implicit val tickEnc: Encoder[Tick] = Encoders.product[Tick]
  private implicit val evEnc: Encoder[Ev] = Encoders.product[Ev]
  private implicit val docEnc: Encoder[Doc] = Encoders.product[Doc]

  private val sinkCtr = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Env-gated micro-batch profiler (GRAFT_STREAM_PROF=1): prints the
    * wall time of each drive phase (query start, every
    * addData+processAllAvailable round, sink collect) to stderr so the
    * fixed micro-batch machinery cost can be decomposed per key
    * without touching the drive protocol. Zero overhead when unset. */
  private val profEnabled = sys.env.contains("GRAFT_STREAM_PROF")
  private def prof[R](label: String)(body: => R): R =
    if (!profEnabled) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[streamprof] $label%-18s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

  /** Drive `plan` over `tape` as a streaming query: `chunks`
    * micro-batches in tape order, memory sink in `mode`, stopped
    * after the final processAllAvailable. Returns the sink detached. */
  private def runTape[T](s: SparkSession, tape: Seq[T], mode: OutputMode,
                         chunks: Int = 4)(plan: Dataset[T] => DataFrame)
                        (implicit enc: Encoder[T]): DataFrame = {
    val per = math.max(1, (tape.size + chunks - 1) / chunks)
    runBatches(s, tape.grouped(per).toSeq, mode)(plan)
  }

  /** [[runTape]] with EXPLICIT batch boundaries — for operators whose
    * emission is driven by the watermark schedule itself (G33's
    * event-time timeouts fire in the no-data micro-batch that follows
    * each data batch, against that batch's watermark — probed on this
    * Spark: strict `timeout < watermark`, evaluated within the same
    * processAllAvailable), where trailing sentinel BATCHES — not just
    * sentinel rows inside the last chunk — are what flush the tail. */
  /** State-partition count for the tape drives. A stateful streaming
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

  /** Checkpoint root for the tape drives. A MemoryStream-fed query's
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
    * subdir, deleted in its finally (tmpfs is RAM — never leak). */
  private val ckptRoot: String =
    sys.env.get("SPARK_GRAFT_STREAM_CKPT").orElse {
      Some("/dev/shm").filter(p => new java.io.File(p).canWrite)
    }.getOrElse(System.getProperty("java.io.tmpdir"))

  private def freshCkptDir(): java.io.File =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckptRoot), "graft_stream_ckpt").toFile

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to the
    * tape-drive value, restoring the session default after. The
    * drives run sequentially within a session (Verify/Bench both
    * iterate keys one at a time), so the scoped conf cannot bleed
    * into a concurrent batch plan. */
  private def withStreamConf[R](s: SparkSession)(body: => R): R =
    withConf(s, "spark.sql.shuffle.partitions", StreamStatePartitions) {
      // No-data polling sleep between micro-batches (default 10 ms):
      // processAllAvailable crosses it once per drained batch; at ~6
      // batches per drive that is pure latency. 1 ms keeps the poll
      // loop (the engine's own floor) without the idle tax.
      withConf(s, "spark.sql.streaming.pollingDelay", "1")(withNioCkpt(s)(body))
    }

  /** Run `body` with session conf `key` set to `value`. The session's
    * own setting is restored on every exit path — re-set if it had
    * one, unset if it ran on the default (`getAll` holds only set
    * keys, where `getOption` would also return a default) — and the
    * `try` begins right after the set, so a throwing `start()` or
    * drive cannot leak the override into the rest of the session. */
  private def withConf[R](s: SparkSession, key: String, value: String)
                         (body: => R): R = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Scope the NIO checkpoint file manager to a tape drive. The drives
    * checkpoint to a local (tmpfs) path, where Hadoop's local
    * filesystem — absent the native library — forks a `chmod` process
    * per file create and a `readlink` per rename: ~30 forks per
    * micro-batch across the offset WAL, commit WAL and 8 state deltas,
    * measured as the bulk of walCommit/commitOffsets. The NIO manager
    * (see its scaladoc) does the identical create-temp+atomic-rename
    * protocol in-process. Scoped per drive so a caller checkpointing
    * to durable storage keeps the default manager. */
  private def withNioCkpt[R](s: SparkSession)(body: => R): R =
    withConf(s, "spark.sql.streaming.checkpointFileManagerClass",
      classOf[org.apache.spark.sql.execution.streaming
        .checkpointing.NioCheckpointFileManager].getName)(body)

  /** The drive sink, replacing the memory sink (r18): a foreachBatch
    * collector. The memory sink's `addBatch` collects EVERY batch's
    * rows to the driver — in Complete mode that is the FULL result
    * table re-collected per micro-batch, with all but the last copy
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
    * captures. Append/Update epochs are collected as they emit (the
    * memory sink collected them too — this drops only the second full
    * copy the old detach paid re-collecting the sink table at the
    * end, plus the temp-view register/drop churn). */
  private final class BatchCollector {
    private val buf =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    @volatile var finalRound = false
    def add(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            complete: Boolean): Unit =
      if (complete && !finalRound) {
        df.write.format("noop").mode("overwrite").save()
      } else {
        val rows = df.collect()
        buf.synchronized {
          if (complete) buf.clear()
          buf ++= rows
        }
        ()
      }
    def rows: Seq[org.apache.spark.sql.Row] = buf.synchronized(buf.toVector)
  }

  /** Detached result frame from collected sink rows. Small sinks
    * become a LocalRelation (no cluster job at all — the old
    * parallelize detach paid a re-encode stage per drive); large ones
    * keep the distributed re-parallelize so the 100x tape replays do
    * not funnel a big sink through one driver-side encode. */
  private def detached(s: SparkSession, rows: Seq[org.apache.spark.sql.Row],
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

  private def runBatches[T](s: SparkSession, batches: Seq[Seq[T]],
                            mode: OutputMode)
                           (plan: Dataset[T] => DataFrame)
                           (implicit enc: Encoder[T]): DataFrame =
    withStreamConf(s) {
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[T]
      val ckpt = freshCkptDir()
      val complete = mode == OutputMode.Complete
      val sdf = plan(in.toDS())
      val outSchema = sdf.schema
      // Complete mode drives through the foreachBatch collector (skip
      // the N-1 intermediate full-table collects); Append/Update keep
      // the memory sink — their per-epoch emissions must be captured
      // anyway, and an A/B showed the foreachBatch path costs a fresh
      // QueryExecution per epoch (~+0.5 s on the emission-heavy keys)
      // while the memory sink write rides the micro-batch execution.
      val coll = new BatchCollector
      val name = s"graft_stream_sink_${sinkCtr.incrementAndGet()}"
      val writer = sdf.writeStream
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode(mode)
      val q = prof("start")(
        (if (complete)
          writer.foreachBatch(
            (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) => coll.add(df, complete = true))
        else writer.format("memory").queryName(name)).start())
      val out =
        try {
          val live = batches.filter(_.nonEmpty)
          live.zipWithIndex.foreach { case (chunk, i) =>
            if (i == live.size - 1) coll.finalRound = true
            prof(s"batch$i(${chunk.size})") {
              in.addData(chunk: _*); q.processAllAvailable()
            }
            if (profEnabled) q.recentProgress.takeRight(2).foreach { p =>
              System.err.println(s"[streamprof]   b=${p.batchId} " +
                s"durationMs=${p.durationMs}")
            }
          }
          if (profEnabled) q.explain() // the executed micro-batch plan
          prof("detach") {
            val rows =
              if (complete) coll.rows
              else s.table(name).collect().toIndexedSeq
            detached(s, rows, outSchema)
          }
        } finally {
          prof("stop")(q.stop()); rmTree(ckpt)
          unloadDeadStateStores(s)
        }
      if (!complete) s.catalog.dropTempView(name)
      out
    }

  /** Two-input variant of [[runTape]] for stream-stream joins: both
    * tapes are fed in aligned chunk rounds (chunk i of B, then chunk
    * i of A, then one processAllAvailable) — with both tapes in
    * global event-time order the min-over-inputs watermark always
    * trails every future row by more than the join lookback, so no
    * buffered row is evicted before its match arrives (the safety
    * argument a production Kafka deployment makes with per-partition
    * time ordering). */
  private[graft] def runTape2[T](s: SparkSession, tapeA: Seq[T],
                                 tapeB: Seq[T], mode: OutputMode,
                                 chunks: Int = 4)
                                (plan: (Dataset[T], Dataset[T]) => DataFrame)
                                (implicit enc: Encoder[T]): DataFrame =
    withStreamConf(s) {
      implicit val sqlCtx = s.sqlContext
      val inA = MemoryStream[T]
      val inB = MemoryStream[T]
      val ckpt = freshCkptDir()
      val sdf = plan(inA.toDS(), inB.toDS())
      val outSchema = sdf.schema
      val name = s"graft_stream_sink_${sinkCtr.incrementAndGet()}"
      // Skip the no-data micro-batch after each drained round (scoped,
      // restored on every exit path): the G6 drive is an INNER
      // stream-stream interval join — matches emit in the data batch
      // that completes them, and a no-data batch's only work is state
      // EVICTION, which cannot change inner-join output (rows evicted
      // are exactly those past the watermark no future row can match).
      // Each round previously ran data-batch + no-data-batch: 8
      // micro-batches' fixed cost (4 state stores x 8 partitions each)
      // for 4 rounds of data. Sink contents are identical —
      // oracle-checked — and a deployment that wants eager eviction
      // keeps the default. The checkpoint dir goes on every exit path
      // too, a failed start() included.
      val out = try withConf(s,
          "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
        val q = prof("start")(sdf.writeStream.format("memory")
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .queryName(name).outputMode(mode).start())
        try {
          val perA = math.max(1, (tapeA.size + chunks - 1) / chunks)
          val perB = math.max(1, (tapeB.size + chunks - 1) / chunks)
          val ga = tapeA.grouped(perA).toSeq
          val gb = tapeB.grouped(perB).toSeq
          (0 until math.max(ga.size, gb.size)).foreach { i =>
            prof(s"batch$i") {
              if (i < gb.size) inB.addData(gb(i): _*)
              if (i < ga.size) inA.addData(ga(i): _*)
              q.processAllAvailable()
            }
            if (profEnabled) q.recentProgress.takeRight(2).foreach { p =>
              System.err.println(s"[streamprof]   b=${p.batchId} " +
                s"durationMs=${p.durationMs}")
            }
          }
          prof("detach")(detached(s,
            s.table(name).collect().toIndexedSeq, outSchema))
        } finally {
          prof("stop")(q.stop())
          unloadDeadStateStores(s)
        }
      } finally rmTree(ckpt)
      s.catalog.dropTempView(name)
      out
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

  /** The tick tape in tick_id order (globally ts-monotone — verified
    * on the driver corpora; the ingest invariant every tape replay
    * assumes). SESSION-MEMOIZED via [[graft.SessionFrameCache]]: 29
    * registry keys drive this identical tape, and rebuilding it per
    * key (parquet scan + global sort + driver collect) measured as a
    * fixed ~1 s tax on every q_stream_* key at sf0.1 — the tape is
    * the shared fixture of the whole G-family, built once per
    * (session, sfDir). Read-only after construction (every consumer
    * either iterates or concatenates sentinels onto a copy). */
  private def tickTape(s: SparkSession, d: String): Seq[Tick] =
    graft.SessionFrameCache.getOrBuild(s, s"stream_tick_tape:$d") {
      Tables.ticks(s, d)
        .select("tick_id", "symbol", "ts", "bid")
        .orderBy("tick_id")
        .collect()
        .map(r => Tick(r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getDouble(3))).toSeq
    }

  /** The documents tape in doc_id order — SESSION-MEMOIZED like
    * [[tickTape]]: five registry keys (G3 dedup, G7 near-dup, G23 cms,
    * G27 classifier, G34 manifest) drive this identical tape, and each
    * previously paid its own parquet scan + global sort + driver
    * collect per invocation (x2 under the bench's double-run
    * protocol). Read-only after construction. */
  private def docTape(s: SparkSession, d: String): Seq[Doc] =
    graft.SessionFrameCache.getOrBuild(s, s"stream_doc_tape:$d") {
      Tables.documents(s, d).select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    }

  /** The (doc_id, source, text) tape in doc_id order — shared by G28
    * (KS drift) and G31 (HLL novelty); memoized like [[docTape]]. */
  private def sourcedDocTape(s: SparkSession, d: String)
      : Seq[Streaming.SourcedDoc] =
    graft.SessionFrameCache.getOrBuild(s, s"stream_sourceddoc_tape:$d") {
      Tables.documents(s, d).select("doc_id", "source", "text")
        .orderBy("doc_id").collect()
        .map(r => Streaming.SourcedDoc(r.getLong(0), r.getString(1),
          r.getString(2))).toSeq
    }

  /** The trade tape (event_id, symbol, ts, cents, json k) in event_id
    * order — shared by G18 (volume bars) and G26 (running VWAP);
    * memoized like [[docTape]]. */
  private def barTradeTape(s: SparkSession, d: String)
      : Seq[Streaming.BarTrade] =
    graft.SessionFrameCache.getOrBuild(s, s"stream_bartrade_tape:$d") {
      Tables.events(s, d)
        .select(col("event_id"), col("user_id").as("symbol"), col("ts"),
          expr("CAST(round(value * 100.0, 0) AS BIGINT)").as("cents"),
          coalesce(get_json_object(col("props"), "$.k").cast("long"),
            lit(0L)).as("k"))
        .orderBy("event_id").collect()
        .map(r => Streaming.BarTrade(r.getLong(0), r.getLong(1),
          r.getTimestamp(2), r.getLong(3), r.getLong(4))).toSeq
    }

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
    runTape(s, tickTape(s, d), OutputMode.Complete)(
      t => Streaming.downsample1s(t.toDF()))
      .orderBy("symbol", "ts_s")

  /** G4 twin key: per-(symbol, day) streaming tick counts. */
  def streamWindowCounts(s: SparkSession, d: String): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Complete)(
      t => Streaming.windowCounts(t.toDF(), "1 day"))
      .orderBy("symbol", "win_start")

  /** G8 twin key: streaming hourly OHLC bars. */
  def streamOhlc(s: SparkSession, d: String): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Complete)(
      t => Streaming.ohlcBars(t.toDF(), "1 hour"))
      .orderBy("symbol", "bucket_start")

  /** G13 twin key: streaming daily VWAP bars over the events tape
    * (json qty rides the tape rows). */
  def streamVwap(s: SparkSession, d: String): DataFrame = {
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_ev_tape:$d") {
      Tables.events(s, d)
        .select("event_id", "user_id", "ts", "value", "props")
        .orderBy("event_id")
        .collect()
        .map(r => Ev(r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getDouble(3), r.getString(4))).toSeq
    }
    runTape(s, tape, OutputMode.Complete)(
      t => Streaming.vwapBars(t.toDF()))
      .orderBy("symbol", "bucket_start")
  }

  /** G5 twin key: native session_window gap sessionization. Session
    * bounds are raw event micros, emitted as exact int64 epoch-µs
    * (the §6 house rule: never hash a sub-second timestamp cell). */
  def streamSessions(s: SparkSession, d: String, gap: String)
      : DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Complete)(
      t => Streaming.sessionWindows(t.toDF(), gap))
      .select(col("symbol"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_ticks"), col("first_bid"))
      .orderBy("symbol", "session_start_us")

  /** G23 twin key: the count-min cell grid maintained as a live
    * aggregation over the documents tape — streaming state IS the
    * sketch (≤ 4·1024 int64 cells). */
  def streamCms(s: SparkSession, d: String): DataFrame = {
    runTape(s, docTape(s, d), OutputMode.Complete)(
      t => Streaming.cmsCellCounts(t.toDF()))
      .orderBy("rw", "cell")
  }

  // ===== Append-mode per-row keyed-state operators ===================

  /** G14 twin key: the streaming CDC register over the events
    * changelog (max-seq wins). Update mode emits each key's register
    * per batch; the FINAL register per key is the row with the
    * largest n_changes (strictly increasing per emission). */
  def streamCdc(s: SparkSession, d: String): DataFrame = {
    import Streaming.Change
    implicit val chEnc: Encoder[Change] = Encoders.product[Change]
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_change_tape:$d") {
      Tables.events(s, d)
        .select(col("event_id").as("seq"), col("user_id").as("key"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value"))
        .orderBy("seq").collect()
        .map(r => Change(r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSeq
    }
    val sink = runTape(s, tape, OutputMode.Update)(
      t => Streaming.cdcState(t).toDF())
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
      : DataFrame = {
    import Streaming.BarTrade
    implicit val btEnc: Encoder[BarTrade] = Encoders.product[BarTrade]
    runTape(s, barTradeTape(s, d), OutputMode.Append)(
      t => Streaming.volumeBarState(t, barQty).toDF())
      .orderBy("symbol", "bar_id")
  }


  /** G20 twin key: per-tick running TWAP through B13's exact-integer
    * half-up formula — every interval-completing arrival emits the
    * TWAP so far (nothing emits while Σdur = 0). */
  def streamTwap(s: SparkSession, d: String): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.twapPoints(t).toDF())
      .orderBy("symbol", "date", "n_weighted")

  /** G19 twin key: one-tick-lookahead spike decisions — each tick's
    * verdict emits when its successor arrives, so the sink is the
    * batch B12 frame minus each symbol's LAST tick (still awaiting a
    * successor in state). */
  def streamSpikes(s: SparkSession, d: String, thresholdBp: Long)
      : DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.spikeFlags(t, thresholdBp).toDF())
      .orderBy("tick_id")

  /** G22 twin key: running realized moments per (symbol, day) — a
    * point per cent move once variance is positive; the raw power
    * sums are integer-valued doubles, so prefix sums are exact and
    * the rounded moment formulas evaluate identically batch-side. */
  def streamMoments(s: SparkSession, d: String): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.momentPoints(t).toDF())
      .orderBy("symbol", "date", "n_moves")

  /** G26 twin key: live TCA — fill-aligned running-VWAP slippage
    * points off the two exact int64 state sums (cum qty, cum p·q);
    * the D52 report spelling verbatim, zero-qty quotes transparent. */
  def streamRunningVwap(s: SparkSession, d: String, fillEvery: Int)
      : DataFrame = {
    import Streaming.BarTrade
    implicit val btEnc: Encoder[BarTrade] = Encoders.product[BarTrade]
    runTape(s, barTradeTape(s, d), OutputMode.Append)(
      t => Streaming.runningVwapPoints(t, fillEvery).toDF())
      .orderBy("symbol", "fill_id")
  }

  /** G21 twin key: triple-barrier labels emitted at the deciding
    * tick; on a bounded tape the sink is the batch D38 frame minus
    * entries whose horizon was truncated by the feed's end (label 0
    * with n_lookahead < horizon — still open in state). */
  def streamTripleBarrier(s: SparkSession, d: String, entryEvery: Int,
                          horizon: Int, barrierBp: Long): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.tripleBarrierState(t, entryEvery, horizon,
        barrierBp).toDF())
      .orderBy("symbol", "e_idx")

  /** G24 twin key: the running R(l) curve — every arrival settles
    * its l-back ring entries and emits the current per-lag averages
    * (exact int64 sums, one IEEE division per point). */
  def streamResponse(s: SparkSession, d: String, lags: Seq[Int])
      : DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.responsePoints(t, lags).toDF())
      .orderBy("symbol", "lag", "n_obs", "resp_cents")

  /** G27 twin key: the learned-quality admission gate scoring the
    * live document feed — stateless per-row margin fold through the
    * native PolyHash, admission on the exact int64 sign. */
  def streamClassifier(s: SparkSession, d: String): DataFrame = {
    runTape(s, docTape(s, d), OutputMode.Append)(
      t => Streaming.classifierAdmission(t))
      .orderBy("doc_id")
  }

  /** G31 twin key: the per-source HLL novelty monitor — each
    * micro-batch emits every touched source's CURRENT 32-register
    * summary, so the sink is the full snapshot LADDER (one row per
    * (source, batch-with-new-grams)); the oracle rebuilds the same
    * ladder from the deterministic 4-chunk tape prefixes. */
  def streamHll(s: SparkSession, d: String): DataFrame = {
    import Streaming.SourcedDoc
    implicit val sdEnc: Encoder[SourcedDoc] = Encoders.product[SourcedDoc]
    runTape(s, sourcedDocTape(s, d), OutputMode.Append)(
      t => Streaming.hllNdvPoints(t, 2).toDF())
      .orderBy("source", "n_zero_registers", "sum_scaled")
  }

  /** The orders tape in global (day, orderkey) arrival order —
    * SESSION-MEMOIZED like [[tickTape]] (r17: G30 and G36 each paid
    * their own parquet scan + global sort + driver collect; at 100×
    * that is two redundant 15 M-row collects). Read-only after
    * construction; both consumers only iterate. */
  private def orderTape(s: SparkSession, d: String)
      : Seq[Streaming.OrderArrival] =
    graft.SessionFrameCache.getOrBuild(s, s"stream_order_tape:$d") {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("day_i"))
        .orderBy("day_i", "o_orderkey").collect()
        .map(r => Streaming.OrderArrival(r.getLong(0), r.getLong(1),
          r.getInt(2))).toSeq
    }

  /** Pre-build the session orders tape (Bench/Sf1Smoke fixture). */
  def warmOrderTape(s: SparkSession, d: String): Int =
    orderTape(s, d).size

  /** G30 twin key: trailing-window order velocity served at arrival —
    * the fraud-screen count over the customer's strictly-earlier days
    * inside the window, fed in global (day, orderkey) order. */
  def streamOrderVelocity(s: SparkSession, d: String, windowDays: Int)
      : DataFrame = {
    import Streaming.OrderArrival
    implicit val oaEnc: Encoder[OrderArrival] =
      Encoders.product[OrderArrival]
    runTape(s, orderTape(s, d), OutputMode.Append)(
      t => Streaming.orderVelocityPoints(t, windowDays).toDF())
      .orderBy("o_orderkey")
  }

  /** G38 twin key: per-user event-path edges emitted at arrival off
    * the one-string last-type register. */
  def streamPathEdges(s: SparkSession, d: String): DataFrame = {
    import Streaming.PathEvent
    implicit val peEnc: Encoder[PathEvent] = Encoders.product[PathEvent]
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_pathevent_tape:$d") {
      Tables.events(s, d)
        .select("event_id", "user_id", "ts", "event_type")
        .orderBy("event_id").collect()
        .map(r => PathEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getString(3))).toSeq
    }
    runTape(s, tape, OutputMode.Append)(
      t => Streaming.pathEdges(t).toDF())
      .orderBy("user_id", "prev_type", "next_type")
  }

  /** G34 twin key: the release-manifest accumulation ladder — each
    * micro-batch emits every touched split's running counts / id
    * bounds / mod-p content checksum (n_docs strictly increases per
    * emission, so the ladder rows are distinct by construction). */
  def streamManifest(s: SparkSession, d: String): DataFrame = {
    runTape(s, docTape(s, d), OutputMode.Append)(
      t => Streaming.manifestPoints(t).toDF())
      .orderBy("split", "n_docs")
  }

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
    runTape(s, tickTape(s, d), OutputMode.Complete)(
      t => Streaming.burstFlags(t.toDF(), trained,
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
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.seasonalFlags(t, baseline, threshold))
      .orderBy("symbol", "tick_id")
  }

  /** G6 twin key: the stream-stream INTERVAL JOIN run as deployed —
    * every 20th tick is the trade leg, the full tape the quote leg,
    * each trade matched to its symbol's quotes in the trailing
    * lookback window. Timestamps emit as exact epoch-µs int64 (§6:
    * never hash a sub-second timestamp cell). */
  def streamIntervalJoin(s: SparkSession, d: String, lookback: String)
      : DataFrame = {
    val tape = tickTape(s, d)
    val trades = tape.filter(_.tick_id % 20 == 0)
    runTape2(s, trades, tape, OutputMode.Append)(
      (t, q) => Streaming.intervalJoin(t.toDF(), q.toDF(), lookback))
      .select(col("trade_id"), col("symbol"),
        unix_micros(col("trade_ts")).as("trade_us"),
        unix_micros(col("quote_ts")).as("quote_us"), col("quote_bid"))
      .orderBy("trade_id", "quote_us", "quote_bid")
  }

  /** G11 twin key: the per-tick running EWMA monitor — the half-life
    * recursion e' = (bid + e)/2 per (symbol, day), every arrival
    * emitting the current estimate. */
  def streamEwma(s: SparkSession, d: String): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.ewmaPoints(t).toDF())
      .orderBy("tick_id")

  /** G29 twin key: point-in-time feature serving — the two-register
    * online cache fed by click (kind 0) / view (kind 2) features and
    * read by purchase facts (kind 1), matching the E16 offline join
    * row for row. */
  def streamPit(s: SparkSession, d: String): DataFrame = {
    import Streaming.PitEvent
    implicit val peEnc: Encoder[PitEvent] = Encoders.product[PitEvent]
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_pitevent_tape:$d") {
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id").as("symbol"), col("ts"),
          when(col("event_type") === "click", 0)
            .when(col("event_type") === "view", 2)
            .otherwise(1).as("kind"),
          col("event_id").as("id"), col("value").as("v"))
        .orderBy("id").collect()
        .map(r => PitEvent(r.getLong(0), r.getTimestamp(1), r.getInt(2),
          r.getLong(3), r.getDouble(4))).toSeq
    }
    runTape(s, tape, OutputMode.Append)(
      t => Streaming.pitServePoints(t).toDF())
      .orderBy("fact_id")
  }

  /** G28 twin key: the live KS drift monitor — per-source clamped
    * length histograms in keyed state, each touched batch emitting
    * the source's CURRENT KS against the offline reference CDF
    * (trained on the same corpus here — the self-drift audit shape). */
  def streamKsDrift(s: SparkSession, d: String, maxLen: Int)
      : DataFrame = {
    import Streaming.SourcedDoc
    implicit val sdEnc: Encoder[SourcedDoc] = Encoders.product[SourcedDoc]
    // the offline-trained reference CDF: one batch job per
    // (session, corpus, maxLen) — memoized like [[centroidArtifacts]]
    val ref = graft.SessionFrameCache.getOrBuild(
      s, s"stream_ks_ref:$d:$maxLen") {
      graft.operators.CorpusPipeline.lengthCdf(Tables.documents(s, d),
        maxLen)
    }
    runTape(s, sourcedDocTape(s, d), OutputMode.Append)(
      t => Streaming.ksDriftPoints(t, ref, maxLen).toDF())
      .orderBy("source", "n_docs")
  }

  /** G36 twin key: interval-union coverage maintained at arrival —
    * six int64 registers per customer, every order emitting the
    * running covered/span report. */
  def streamCoverage(s: SparkSession, d: String, windowDays: Int)
      : DataFrame = {
    import Streaming.OrderArrival
    implicit val oaEnc: Encoder[OrderArrival] =
      Encoders.product[OrderArrival]
    runTape(s, orderTape(s, d), OutputMode.Append)(
      t => Streaming.coveragePoints(t, windowDays).toDF())
      .orderBy("o_orderkey")
  }

  /** G17 twin key: late-arrival flags on the B11 jittered-arrival
    * replay — the tape is fed in (deterministic-hash) ARRIVAL order,
    * each tick flagged against its symbol's running max event time.
    * Within a micro-batch the operator re-sorts by tick_id, so the
    * effective process order is (chunk, tick_id) — the oracle
    * replays exactly that order. */
  def streamLate(s: SparkSession, d: String, delayUs: Long): DataFrame = {
    import org.apache.spark.sql.functions.{pmod, unix_micros}
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_late_tape:$d") {
      val p = graft.functions.PortableText.P
      val jitter = pmod(pmod(col("tick_id"), lit(p)) * lit(2654435761L),
        lit(p)).%(lit(1200000000L)).-(lit(600000000L))
      Tables.ticks(s, d)
        .select(col("tick_id"), col("symbol"), col("ts"), col("bid"),
          (unix_micros(col("ts")) + jitter).as("arr"))
        .orderBy("arr", "tick_id")
        .collect()
        .map(r => Tick(r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getDouble(3))).toSeq
    }
    runTape(s, tape, OutputMode.Append)(
      t => Streaming.lateFlags(t, delayUs).toDF())
      .orderBy("tick_id")
  }

  /** G16 twin key: the greedy funnel over the event-time-ordered
    * feed — one row per stage advance, chained-min parity. */
  def streamFunnel(s: SparkSession, d: String, tauUs: Long): DataFrame = {
    import Streaming.FunnelEvent
    implicit val feEnc: Encoder[FunnelEvent] =
      Encoders.product[FunnelEvent]
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_funnel_tape:$d") {
      Tables.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
        .orderBy(unix_micros(col("ts")), col("event_id")).collect()
        .map(r => FunnelEvent(r.getLong(0), r.getLong(1),
          r.getTimestamp(2), r.getString(3))).toSeq
    }
    runTape(s, tape, OutputMode.Append)(
      t => Streaming.funnelProgress(t, "view", "click", "purchase",
        tauUs).toDF())
      .orderBy("user_id", "stage")
  }

  /** The documents tape in the batch HASH-WALK order (the G9/G10
    * ordering contract: rank by the multiplicative hash, ties by
    * doc_id — a backfill replaying the batch walk). */
  private def hashWalkTape(s: SparkSession, d: String)
      : Seq[Streaming.SourcedDoc] =
    graft.SessionFrameCache.getOrBuild(s, s"stream_hashwalk_tape:$d") {
      import Streaming.SourcedDoc
      val p = graft.functions.PortableText.P
      Tables.documents(s, d).select("doc_id", "source", "text")
        .withColumn("rnk",
          pmod(pmod(col("doc_id"), lit(p)) + lit(p), lit(p))
            * lit(2654435761L) % lit(p))
        .orderBy("rnk", "doc_id").collect()
        .map(r => SourcedDoc(r.getLong(0), r.getString(1),
          r.getString(2))).toSeq
    }

  /** G9 twin key: token-budget admission on the hash walk — the
    * prefix-cut quota enforced live, decisions matching the batch
    * tokenBudgetPerSource doc for doc. */
  def streamTokenBudget(s: SparkSession, d: String, budget: Long)
      : DataFrame = {
    import Streaming.SourcedDoc
    implicit val sdEnc: Encoder[SourcedDoc] = Encoders.product[SourcedDoc]
    runTape(s, hashWalkTape(s, d), OutputMode.Append)(
      t => Streaming.tokenBudgetAdmission(t, budget).toDF())
      .orderBy("doc_id")
  }

  /** G10 twin key: per-source doc-count cap admission on the hash
    * walk — position ≤ cap admits, permanent rejection after. */
  def streamSourceCap(s: SparkSession, d: String, cap: Int): DataFrame = {
    import Streaming.SourcedDoc
    implicit val sdEnc: Encoder[SourcedDoc] = Encoders.product[SourcedDoc]
    runTape(s, hashWalkTape(s, d), OutputMode.Append)(
      t => Streaming.sourceCapAdmission(t, cap).toDF())
      .orderBy("doc_id")
  }

  /** G7 twin key: streaming near-dup admission — each doc's MinHash
    * LSH bands claim keyed (band, hash) buckets, first-writer-wins in
    * doc_id order; a band flags when its bucket was already claimed,
    * so the flag set equals "an earlier doc shares the bucket". */
  def streamNearDup(s: SparkSession, d: String): DataFrame = {
    runTape(s, docTape(s, d), OutputMode.Append)(
      t => Streaming.nearDupBandFlags(t.toDF()).toDF())
      .orderBy("doc_id", "band")
  }

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
    val tape = graft.SessionFrameCache.getOrBuild(
      s, s"stream_dup_tape:$d") {
      graft.operators.RichCorpus.dupDocs(base)
        .select("doc_id", "text").orderBy("doc_id").collect()
        .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    }
    val flags = runTape(s, tape, OutputMode.Append)(
      t => Streaming.nearDupBandFlags(t.toDF()).toDF())
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
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.volConeAlerts(t, cones, h).toDF())
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
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.functions.pmod
    val p = graft.functions.PortableText.P
    val table = s"graft_stream_upsert_${sinkCtr.incrementAndGet()}"
    val tape = tickTape(s, d)
    val per = math.max(1, (tape.size + 3) / 4)
    val chunks = tape.grouped(per).toSeq
    try {
      s.createDataFrame(chunks.head).write.saveAsTable(table)
      val in = MemoryStream[Tick]
      val ckpt = freshCkptDir()
      val q = withNioCkpt(s) {
        Streaming.idempotentTickSink(in.toDS(), table)
          .option("checkpointLocation", ckpt.getAbsolutePath).start()
      }
      try {
        chunks.drop(1).foreach { c =>
          in.addData(c: _*); q.processAllAvailable()
        }
      } finally { q.stop(); rmTree(ckpt); unloadDeadStateStores(s) }
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
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.tickClasses(t).toDF())
      .orderBy("tick_id")

  /** G35 twin key: per-tick drawdown points off the running peak. */
  def streamDrawdown(s: SparkSession, d: String): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.drawdownPoints(t).toDF())
      .orderBy("tick_id")

  /** G3 twin key: streaming exact dedup over the documents tape in
    * doc_id order — first arrival per md5 content hash wins. */
  def streamDedupExact(s: SparkSession, d: String): DataFrame = {
    runTape(s, docTape(s, d), OutputMode.Append)(
      t => Streaming.dedupExact(t).toDF())
      .orderBy("doc_id")
  }

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
    runTape(s, withSentinels(tickTape(s, d)), OutputMode.Append)(
      t => Streaming.windowAnomalyAlerts(t, k, scalers, centroids,
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
    runTape(s, withSentinels(tickTape(s, d)), OutputMode.Append)(
      t => Streaming.signalPositions(t, k, scalers, centroids,
        thresholds, exitFrac, fromDate).toDF())
      .orderBy("symbol", "date", "win")
  }

  /** G42 twin key: the retrain monitor on the tape — one alert per
    * consecutive-breach run at the moment it reaches N, against the
    * batch-trained quantized band (sentinel-closed). */
  def streamRetrain(s: SparkSession, d: String, k: Int, pct: Double,
                    consecutive: Int): DataFrame = {
    val (scalers, centroids, thresholds) = centroidArtifacts(s, d, k, pct)
    runTape(s, withSentinels(tickTape(s, d)), OutputMode.Append)(
      t => Streaming.retrainAlerts(t, k, scalers, centroids,
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
    runTape(s, withSentinels(tickTape(s, d)), OutputMode.Append)(
      t => Streaming.gdModelScores(t, k, scalers, weights,
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
    runTape(s, tickTape(s, d), OutputMode.Update)(
      t => Streaming.anomalyFlags(t, kSigma).toDF()
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
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.pairSpreadZ(t, pairs, betas).toDF())
      .orderBy("tick_id", "sym_a", "sym_b")
  }

  /** G44 twin key: the fixed-parameter GARCH(1,1) filter on the
    * tape — a point per cent move carrying the variance forecast it
    * was measured against; the oracle replays the identical fold
    * over each move prefix. */
  def streamGarch(s: SparkSession, d: String, omega: Double,
                  alpha: Double, beta: Double): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.garchPoints(t, omega, alpha, beta).toDF())
      .orderBy("symbol", "date", "n_move")

  /** G45 twin key: the Kalman local-level filter on the tape — a
    * point per tick carrying the post-update (x̂, P); the oracle
    * replays the identical fold over each tick prefix. */
  def streamKalman(s: SparkSession, d: String, q: Double, r: Double)
      : DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.kalmanPoints(t, q, r).toDF())
      .orderBy("symbol", "date", "n_seen")

  /** G46 twin key: the symmetric CUSUM filter on the tape — a point
    * per move with the post-update register pair and running event
    * count; the oracle replays the branchless int64 fold over each
    * move prefix. */
  def streamCusum(s: SparkSession, d: String, h: Long): DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.cusumPoints(t, h).toDF())
      .orderBy("symbol", "date", "n_move")

  /** G47 twin key: fixed-width FFD on the tape — a point per tick
    * once the K-lag ring fills; the sink equals the batch q_fracdiff
    * frame row for row, so the oracle is the batch oracle. */
  def streamFfd(s: SparkSession, d: String, dOrd: Double, k: Int)
      : DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.ffdPoints(t, dOrd, k).toDF())
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
    runTape(s, tape, OutputMode.Append)(
      m => Streaming.mediaAdmission(m).toDF())
      .orderBy("media_id")
  }

  /** G48 twin key: the two-state regime filter on the tape — a point
    * per cent move carrying the post-update P(high) and its regime
    * verdict; the oracle replays the identical rational fold over
    * each move prefix. */
  def streamHmm(s: SparkSession, d: String,
                hp: graft.operators.Microstructure.HmmParams)
      : DataFrame =
    runTape(s, tickTape(s, d), OutputMode.Append)(
      t => Streaming.hmmPoints(t, hp).toDF())
      .orderBy("symbol", "date", "n_move")

  /** G33 twin key: the event-time-timeout dormancy detector on the
    * tape. Emission is WATERMARK-driven, so the drive protocol IS
    * part of the contract and the oracle simulates it exactly: 4
    * tape chunks (the runTape default), then two sentinel BATCHES
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
    val per = math.max(1, (tape.size + 3) / 4)
    runBatches(s, tape.grouped(per).toSeq ++ Seq(Seq(s1), Seq(s2)),
      OutputMode.Append)(
      t => Streaming.dormancyFlags(t, gapMs).toDF())
      .orderBy("symbol", "last_tick_id")
  }
}
