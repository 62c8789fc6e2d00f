package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** G — Structured Streaming mirrors of the batch tick operators: the
  * reference runs a live endpoint that watches the two session windows
  * and scores incoming ticks (ref: `ML Model/Scripts/main.py` live
  * endpoint + `automate_pipeline.py:478` "Live endpoint monitors:
  * 7:50-8:00 and 13:50-14:00 time windows"). Here that is a streaming
  * plan, not a polling loop: watermarked event-time windows for the
  * downsampler, keyed state for the anomaly scorer.
  *
  * The keyed-state operators share one fold, [[keyedFold]], and with
  * it one contract:
  *  - state is per key: each key starts from the operator's initial
  *    state, a fresh value per key, and carries its own state from
  *    micro-batch to micro-batch;
  *  - inside a micro-batch a key's rows are folded in the operator's
  *    sort key order, whatever order they arrived in ([[unordered]]
  *    only for folds whose result cannot depend on it);
  *  - across micro-batches arrival order governs: a row that arrives
  *    in a later batch folds after every row of the earlier ones, so
  *    batch parity holds when the feed arrives in the sort key's
  *    order;
  *  - the state type is the checkpoint schema: changing an operator's
  *    state class or tuple makes its existing checkpoints unreadable.
  * Only [[dormancyFlags]] keeps its own `flatMapGroupsWithState`: it
  * emits on an event-time timeout, which the fold does not arm.
  */
object Streaming {

  case class Tick(tick_id: Long, symbol: Long, ts: Timestamp, bid: Double)
  case class Ev(event_id: Long, user_id: Long, ts: Timestamp,
                value: Double, props: String)
  case class AnomalyFlag(symbol: Long, n: Long, mean: Double, isAnomaly: Boolean)

  /** The keyed-state fold of every stateful operator here but
    * [[dormancyFlags]]: group `rows` by `key`, sort each key's rows of
    * the micro-batch by `order`, and hand them to `fold` with the
    * key's state, or with `init`, evaluated afresh, when it has none.
    * `fold` runs strictly and returns the state to keep and the rows
    * to emit; a null state keeps none (removes the key's state). No
    * timeout is armed. */
  private[graft] def keyedFold[T, K: Encoder, S: Encoder, U: Encoder,
                               O: Ordering](rows: Dataset[T], mode: OutputMode)
      (key: T => K, order: T => O)(init: => S)
      (fold: (K, S, Seq[T]) => (S, IterableOnce[U])): Dataset[U] =
    rows.groupByKey(key).flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout) {
      (k: K, group: Iterator[T], state: GroupState[S]) =>
        val (s, out) = fold(k, state.getOption.getOrElse(init),
          group.toSeq.sortBy(order))
        if (s == null) state.remove() else state.update(s)
        out.iterator
    }

  /** The sort key of a fold whose result does not depend on row order
    * (counts, max registers, sums mod p): the sort is stable, so it
    * leaves the rows as they come. */
  private val unordered: Any => Unit = _ => ()

  /** (ts ms, tick_id): event time, ties by arrival sequence. */
  private val tsThenId: Tick => (Long, Long) = t => (t.ts.getTime, t.tick_id)

  /** The tick's UTC calendar day, `yyyy-MM-dd`. */
  private def utcDate(ts: Timestamp): String =
    java.time.Instant.ofEpochMilli(ts.getTime)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** The per-(symbol, UTC day) key of the day-scoped tick folds. */
  private val symbolDay: Tick => (Long, String) = t => (t.symbol, utcDate(t.ts))

  /** Exact epoch µs: `getTime` alone is only ms-grained. */
  private def micros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** G1 — streaming 1-second downsample of the session windows: the
    * streaming twin of `TickOps.secondDownsample`, including the tie
    * rule — the surviving tick is the LOWEST tick_id of the second, so
    * a batch backfill and the live stream pick the same representative
    * even when timestamps collide. Watermark bounds state; aggregation
    * is by (symbol, 1s window) so state size is O(active windows),
    * independent of input rate.
    */
  def downsample1s(ticks: DataFrame, watermark: String = "10 seconds"): DataFrame =
    ticks
      // session bounds from TickOps — the single source of truth
      .filter((hour(col("ts")) === graft.operators.TickOps.MorningH ||
          hour(col("ts")) === graft.operators.TickOps.AfternoonH) &&
        minute(col("ts")) >= graft.operators.TickOps.FromMin)
      .withWatermark("ts", watermark)
      .groupBy(col("symbol"), window(col("ts"), "1 second").as("w"))
      .agg(min("tick_id").as("tick_id"),
        min_by(col("bid"), col("tick_id")).as("bid"),
        count(lit(1)).as("n_ticks"))
      .select(col("symbol"), col("w.start").as("ts_s"), col("tick_id"),
        col("bid"), col("n_ticks"))

  /** G2 — stateful streaming anomaly flagger: per-symbol running
    * mean/variance (Welford) kept in keyed state; each batch emits
    * whether its latest bid deviates > `k` sigma from the running
    * estimate — the streaming analog of the reconstruction-error
    * thresholding in the reference's test phase (ref: test.py:333-344).
    */
  def anomalyFlags(ticks: Dataset[Tick], k: Double): Dataset[AnomalyFlag] = {
    import ticks.sparkSession.implicits._
    // (count, mean, m2) Welford accumulator
    keyedFold(ticks, OutputMode.Update)(_.symbol, tsThenId)((0L, 0.0, 0.0)) {
      (symbol, st, rows) =>
        var (n, mean, m2) = st
        var flags = List.empty[AnomalyFlag]
        rows.foreach { t =>
          val sigma = if (n > 1) math.sqrt(m2 / (n - 1)) else Double.PositiveInfinity
          val isAnomaly = n > 1 && math.abs(t.bid - mean) > k * sigma
          n += 1
          val d = t.bid - mean
          mean += d / n
          m2 += d * (t.bid - mean)
          flags = AnomalyFlag(symbol, n, mean, isAnomaly) :: flags
        }
        ((n, mean, m2), flags.reverseIterator)
    }
  }

  /** G4 — streaming per-window tick counts: the live analog of the
    * batch daily-window statistics (`TickOps.dailyWindowCounts`) and of
    * the live endpoint's window monitoring (ref: `ML Model/Scripts/
    * automate_pipeline.py:478`). Watermarked tumbling windows —
    * state is O(open windows × symbols). */
  def windowCounts(ticks: DataFrame, windowDur: String,
                   watermark: String = "10 seconds"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .groupBy(col("symbol"), window(col("ts"), windowDur).as("w"))
      // ties on ts break by tick_id (arrival order), matching batch
      .agg(count(lit(1)).as("n_ticks"),
        min_by(col("bid"), struct(col("ts"), col("tick_id"))).as("first_bid"),
        max_by(col("bid"), struct(col("ts"), col("tick_id"))).as("last_bid"))
      .select(col("symbol"), col("w.start").as("win_start"),
        col("n_ticks"), col("first_bid"), col("last_bid"))

  /** G15 — streaming QUOTE-BURST flagger: B10's live twin, split the
    * way production surveillance actually splits it — the percentile
    * THRESHOLDS are trained by the batch job (B10 needs a global
    * per-symbol quantile, which no bounded-state stream can compute
    * exactly) and the stream APPLIES them: per-second windowed counts
    * (stateless partial agg, state = one count per open window)
    * joined to the BROADCAST threshold table, emitting only seconds
    * whose rate strictly exceeds the symbol's threshold. The
    * stream-side compare uses the same ROUNDED threshold B10 emits,
    * so a flagged second here is exactly a burst second there
    * (parity spec'd). Unknown symbols (no trained threshold) are
    * never flagged — inner join, the conservative surveillance
    * default. */
  def burstFlags(ticks: DataFrame, thresholds: DataFrame,
                 watermark: String = "10 seconds",
                 windowDur: String = "1 second"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .groupBy(col("symbol"), window(col("ts"), windowDur).as("w"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(thresholds.select(col("symbol"), col("thr"))),
        Seq("symbol"))
      .filter(col("n") > col("thr"))
      .select(col("symbol"), col("w.start").as("sec"), col("n"),
        col("thr"))

  /** G5 — streaming gap-based sessionization via the native
    * `session_window` (the streaming twin of
    * `TemporalJoins.sessionize`): a session closes when no tick
    * arrives for `gap`; watermark bounds session state. */
  def sessionWindows(ticks: DataFrame, gap: String,
                     watermark: String = "10 seconds"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .groupBy(col("symbol"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_ticks"),
        min_by(col("bid"), struct(col("ts"), col("tick_id"))).as("first_bid"))
      .select(col("symbol"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_ticks"), col("first_bid"))

  /** G6 — stream-stream INTERVAL join: each trade joins quotes of the
    * same symbol from the preceding `lookback` interval — the live
    * analog of `TemporalJoins.rangeJoinCount`'s shape. Watermarks on
    * BOTH inputs plus the event-time range predicate let Spark expire
    * buffered rows, so join state is bounded by (rate × lookback +
    * watermark), not by stream length — the only formulation of a
    * stream-stream join that survives an unbounded run.
    */
  def intervalJoin(trades: DataFrame, quotes: DataFrame,
                   lookback: String = "1 minute",
                   watermark: String = "10 seconds"): DataFrame = {
    val t = trades.withWatermark("ts", watermark)
      .select(col("tick_id").as("trade_id"), col("symbol"),
        col("ts").as("trade_ts"))
    val q = quotes.withWatermark("ts", watermark)
      .select(col("symbol").as("q_symbol"), col("ts").as("quote_ts"),
        col("bid").as("quote_bid"))
    t.join(q,
      col("symbol") === col("q_symbol") &&
        col("quote_ts") >= col("trade_ts") - expr(s"INTERVAL $lookback") &&
        col("quote_ts") <= col("trade_ts"))
      .select("trade_id", "symbol", "trade_ts", "quote_ts", "quote_bid")
  }

  case class Doc(doc_id: Long, text: String)
  case class DedupDecision(doc_id: Long, content_hash: String, isDuplicate: Boolean)

  /** G3 — streaming exact dedup: keyed state per md5 content hash
    * (128-bit, same key family as the batch `TextDedup.exactDedup`;
    * a 2^30-space polynomial hash here would silently drop distinct
    * docs once the corpus passes ~10^4.5 — birthday bound). State is
    * one boolean per distinct document, the minimum any exact dedup
    * must retain. */
  def dedupExact(docs: Dataset[Doc]): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    keyedFold(docs, OutputMode.Append)(d => md5hex(d.text), _.doc_id)(false) {
      (hash, seenBefore, rows) =>
        (true, rows.zipWithIndex.map { case (d, i) =>
          DedupDecision(d.doc_id, hash, seenBefore || i > 0)
        })
    }
  }

  /** G8 — streaming OHLC candlesticks: the live twin of
    * `TickOps.ohlcBars`, per (symbol, tumbling bucket). Open/close
    * use the same (ts, tick_id) tie-break as batch so backfill and
    * live agree on colliding timestamps; high/low are plain extrema.
    * Watermark bounds state to open buckets. */
  def ohlcBars(ticks: DataFrame, bucket: String,
               watermark: String = "10 seconds"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .groupBy(col("symbol"), window(col("ts"), bucket).as("w"))
      .agg(
        min_by(col("bid"), struct(col("ts"), col("tick_id"))).as("open"),
        max("bid").as("high"),
        min("bid").as("low"),
        max_by(col("bid"), struct(col("ts"), col("tick_id"))).as("close"),
        count(lit(1)).as("n_ticks"))
      .select(col("symbol"), col("w.start").as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))

  /** G13 — streaming VWAP: the live twin of `TickOps.vwap` (B8), same
    * exact-integer-cents arithmetic so the streamed bar equals the
    * batch bar bit-for-bit (the e4 rounding happens in int space —
    * engine- and mode-independent). Day windows + watermark; the
    * whole aggregate is sums and counts, so Spark runs it as a
    * streaming partial-agg with per-key state = four longs per open
    * (symbol, day) window — bounded by live keys, not by rate. */
  def vwapBars(events: DataFrame, bucket: String = "1 day",
               watermark: String = "10 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(
        col("user_id").as("symbol"), col("ts"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        round(col("value") * 100.0, 0).cast("long").as("cents"))
      .groupBy(col("symbol"), window(col("ts"), bucket).as("w"))
      .agg(
        sum(col("cents") * col("k")).as("_n"),
        nullif(sum(col("k")), lit(0)).as("_d"),
        sum(col("k")).as("total_qty"),
        count(lit(1)).as("n_trades"))
      .withColumn("vwap",
        expr("(_n * 200 + _d) div (_d * 2)").cast("double") / 10000.0)
      .select(col("symbol"), col("w.start").as("bucket_start"),
        col("vwap"), col("total_qty"), col("n_trades"))

  case class BandFlag(doc_id: Long, band: Int, dup_band: Boolean)

  /** G7 — streaming near-dup filter at ingest: the live twin of
    * `TextDedup.greedyNearDup`. Each incoming doc's MinHash LSH bands
    * (same PortableText arithmetic as batch) claim keyed state per
    * (band, band_hash) bucket; a band flags `dup_band` when its bucket
    * was claimed by an earlier doc — across batches via state, within
    * a batch by doc_id order. State is one boolean per occupied
    * bucket, bounded by corpus novelty (not rate), and dropped docs
    * still claim buckets, keeping verdicts transitive exactly like
    * the batch greedy pass. Parity contract: batch equivalence holds
    * when docs arrive in doc_id order across micro-batches (doc_id =
    * arrival sequence). The state stores only "claimed", not the
    * claiming id, so an out-of-order replay keeps the FIRST arrival
    * where the batch pass keeps the MIN doc_id — both are valid
    * greedy dedups, but they keep different representatives.
    *
    * Emits per-BAND flags; the per-doc verdict is `bool_or(dup_band)`
    * ([[nearDupVerdicts]]) computed batch-locally in the sink — exact
    * because every band row of a doc is emitted in the doc's own
    * micro-batch. Token-less docs carry no bands and never appear:
    * the caller keeps them unconditionally (same as batch). */
  def nearDupBandFlags(docs: DataFrame): Dataset[BandFlag] = {
    import docs.sparkSession.implicits._
    val bands = graft.operators.TextDedup.minHashBands(docs, ordered = false)
      .filter(col("band_hash").isNotNull)
      .select(col("doc_id").cast("long"), col("band").cast("int"),
        col("band_hash").cast("long"))
      .as[(Long, Int, Long)]
    keyedFold(bands, OutputMode.Append)(r => (r._2, r._3), _._1)(false) {
      (_, claimed, rows) =>
        (true, rows.zipWithIndex.map {
          case ((id, band, _), i) => BandFlag(id, band, claimed || i > 0)
        })
    }
  }

  case class SourcedDoc(doc_id: Long, source: String, text: String)
  case class BudgetDecision(doc_id: Long, source: String, n_tokens: Long,
                            cum_tokens: Long, admitted: Boolean)

  /** G9 — streaming token-budget ADMISSION: the live twin of
    * `CorpusPipeline.tokenBudgetPerSource`'s prefix-cut. Keyed state
    * per source = (cumulative admitted tokens, exhausted flag); a doc
    * is admitted while the source's inclusive running total fits the
    * budget, and the FIRST doc to cross flips `exhausted` — every
    * later doc is rejected outright (prefix-cut, no greedy refill,
    * exactly the batch rule). State is two scalars per source: the
    * minimum any quota enforcer must retain, independent of rate.
    *
    * Ordering contract (same class as G7's): batch ranks docs by the
    * deterministic multiplicative hash; a stream can only rank within
    * a micro-batch, so rows are hash-ordered per batch and arrival
    * order governs across batches. When the producer feeds docs in
    * hash order (e.g. a backfill replaying the batch walk), decisions
    * match `tokenBudgetPerSource` doc-for-doc — spec'd. `cum_tokens`
    * reports the inclusive total for admitted docs and the unchanged
    * prefix total for rejected ones. */
  def tokenBudgetAdmission(docs: Dataset[SourcedDoc],
                           budget: Long): Dataset[BudgetDecision] = {
    import docs.sparkSession.implicits._
    val P = graft.functions.PortableText.P
    def rank(id: Long): Long = ((id % P) + P) % P * 2654435761L % P
    keyedFold(docs, OutputMode.Append)(_.source,
        d => (rank(d.doc_id), d.doc_id))((0L, false)) { (source, st, rows) =>
      var (cum, exhausted) = st
      val out = rows.map { d =>
        // same token rule as PortableText.tokens: whitespace
        // split, empty fragments dropped
        val n = d.text.split(' ').count(_.nonEmpty).toLong
        if (!exhausted && cum + n <= budget) {
          cum += n
          BudgetDecision(d.doc_id, source, n, cum, admitted = true)
        } else {
          exhausted = true
          BudgetDecision(d.doc_id, source, n, cum, admitted = false)
        }
      }
      ((cum, exhausted), out)
    }
  }

  case class Change(seq: Long, key: Long, op: String, value: Double)
  case class CdcRow(key: Long, last_seq: Long, last_op: String,
                    value: Double, n_changes: Long)

  /** G14 — streaming CDC APPLY: the live twin of `Scd.cdcApply`
    * (A16). Keyed state is the minimal CDC register — (last_seq,
    * last_op, value, n_changes), four scalars per key — updated by
    * max-seq wins within and across micro-batches (late/reordered
    * changes with a lower seq never regress the register, the same
    * rule the batch `max_by` encodes). Each batch emits the key's
    * CURRENT register (Update mode); a delete is visible as
    * `last_op = "D"` so the sink can drop or tombstone it —
    * filtering those rows reproduces the batch operator's output
    * exactly (spec'd three ways). */
  def cdcState(changes: Dataset[Change]): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    keyedFold(changes, OutputMode.Update)(_.key, unordered)(
        (Long.MinValue, "", 0.0, 0L)) { (key, st, rows) =>
      var (lseq, lop, v, n) = st
      rows.foreach { c =>
        n += 1
        if (c.seq > lseq) { lseq = c.seq; lop = c.op; v = c.value }
      }
      ((lseq, lop, v, n), Iterator.single(CdcRow(key, lseq, lop, v, n)))
    }
  }

  case class EwmaPoint(tick_id: Long, symbol: Long, date: String,
                       n_seen: Long, ewma: Double)

  /** G11 — streaming per-(symbol, day) EWMA (α = 1/2): the live twin
    * of `Features.ewma`. Keyed state per (symbol, UTC day) is
    * (tick count, current ewma); each tick folds `(bid + e)·0.5` —
    * the identical exact-halving step as the batch fold — and the
    * stream emits the RUNNING value per tick (a monitor reports
    * continuously; the batch op reports each day's final value, which
    * equals the stream's LAST emitted point per key when ticks arrive
    * in (ts, tick_id) order — spec'd). Day keying makes state
    * naturally bounded: one (Long, Double) pair per live
    * (symbol, day). */
  def ewmaPoints(ticks: Dataset[Tick]): Dataset[EwmaPoint] = {
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(symbolDay, tsThenId)((0L, 0.0)) {
      (key, st, rows) =>
        var (n, e) = st
        val out = rows.map { t =>
          e = if (n == 0) t.bid else (t.bid + e) * 0.5
          n += 1
          EwmaPoint(t.tick_id, key._1, key._2, n, e)
        }
        ((n, e), out)
    }
  }

  case class TickClass(tick_id: Long, symbol: Long, cls: String)

  /** G12 — streaming TICK-RULE classification: the live twin of
    * `TickOps.tickRule` (B9). Keyed state per symbol is ONE double —
    * the last bid — and each tick emits its direction class (`up` /
    * `down` / `zero`; the symbol's first-ever tick is `first`,
    * matching the batch rule's unclassified head). Fed in (ts,
    * tick_id) order, the per-symbol class COUNTS equal the batch
    * aggregate's — spec'd; the batch op reports the counts, the
    * stream reports the per-tick stream a live monitor consumes. The
    * state NaN marks a symbol with no tick yet, so a tick after a NaN
    * bid also classes `first` (a NaN compares neither up nor down). */
  def tickClasses(ticks: Dataset[Tick]): Dataset[TickClass] = {
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(_.symbol, tsThenId)(Double.NaN) {
      (symbol, st, rows) =>
        var prev = st
        val out = rows.map { t =>
          val cls =
            if (prev.isNaN) "first"
            else if (t.bid > prev) "up"
            else if (t.bid < prev) "down"
            else "zero"
          prev = t.bid
          TickClass(t.tick_id, symbol, cls)
        }
        (prev, out)
    }
  }

  case class DrawdownPoint(tick_id: Long, symbol: Long, cummax: Double,
                           drawdown: Option[Double])

  /** G35 — STREAMING DRAWDOWN MONITOR: the live twin of
    * `Features.drawdown` (D13). Keyed state per symbol is ONE double
    * — the running peak bid — and each tick emits the current peak
    * and its drawdown ratio `(peak − bid)/peak` (None on a zero
    * peak, the batch NULL guard): the risk monitor a live desk
    * actually watches, where the batch op reports the same series
    * after the fact. Fed in (ts, tick_id) order the per-tick values
    * equal the batch window's row-for-row — spec'd. State is
    * parameter-free and bounded: one double per live symbol. */
  def drawdownPoints(ticks: Dataset[Tick]): Dataset[DrawdownPoint] = {
    import ticks.sparkSession.implicits._
    // no peak yet = −∞: the first tick's max is its own bid
    keyedFold(ticks, OutputMode.Append)(_.symbol, tsThenId)(
        Double.NegativeInfinity) { (symbol, peak, rows) =>
      var p = peak
      val out = rows.map { t =>
        p = math.max(p, t.bid)
        DrawdownPoint(t.tick_id, symbol, p,
          if (p != 0.0) Some((p - t.bid) / p) else None)
      }
      (p, out)
    }
  }

  case class CapDecision(doc_id: Long, source: String, rnk: Long,
                         admitted: Boolean)

  /** G10 — streaming per-source doc-count CAP admission: the live twin
    * of `CorpusPipeline.capPerSource` (F18). Keyed state per source is
    * ONE counter — the number of docs seen in the source's walk; a doc
    * is admitted while its inclusive 1-based position `rnk` is ≤ cap,
    * and every doc after the cap-th is rejected permanently (the
    * counter never resets — re-balancing a source's cap upward is a
    * batch operation, not a stream mutation).
    *
    * Ordering contract (same class as G7/G9's): batch ranks docs by
    * the deterministic multiplicative hash; the stream hash-orders
    * within each micro-batch and arrival order governs across batches.
    * Fed in the batch hash walk, admissions match `capPerSource`
    * doc-for-doc with identical ranks — spec'd. */
  def sourceCapAdmission(docs: Dataset[SourcedDoc],
                         cap: Int): Dataset[CapDecision] = {
    import docs.sparkSession.implicits._
    require(cap >= 0, s"cap must be >= 0: $cap")
    val P = graft.functions.PortableText.P
    def rank(id: Long): Long = ((id % P) + P) % P * 2654435761L % P
    keyedFold(docs, OutputMode.Append)(_.source,
        d => (rank(d.doc_id), d.doc_id))(0L) { (source, seen0, rows) =>
      var seen = seen0
      val out = rows.map { d =>
        seen += 1
        CapDecision(d.doc_id, source, seen, seen <= cap)
      }
      (seen, out)
    }
  }

  case class FunnelEvent(event_id: Long, user_id: Long, ts: Timestamp,
                         event_type: String)
  case class FunnelAdvance(user_id: Long, stage: Int, t_us: Long,
                           completed: Boolean)

  /** G16 — STREAMING FUNNEL: the live twin of `TemporalJoins.funnel`
    * (E9). Per-user keyed state holds the greedy chain's three step
    * times (−1 = unreached); each event either advances the next
    * unreached stage — first `step1`, then the first `step2` strictly
    * after it within τ, then the first `step3` — or is ignored. One
    * FunnelAdvance row is emitted per stage advance, `completed` on
    * the third.
    *
    * Batch parity (spec'd): with events arriving in event-time order,
    * decisions match E9's chained-MIN result exactly — greedy-first
    * IS min when the feed is ordered, and a step that fails the τ
    * window can never be rescued by a later event (timestamps only
    * grow), so "ignore and keep waiting" loses nothing. Within a
    * micro-batch, rows are (ts, event_id)-sorted; across batches
    * arrival order governs (G7's ordering contract). All times exact
    * int64 epoch µs — the same ns→µs truncation as the batch side.
    * State is three scalars per user, independent of rate; completed
    * users' state is left in place (further events no-op). */
  def funnelProgress(events: Dataset[FunnelEvent], step1: String,
                     step2: String, step3: String,
                     tauUs: Long): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    keyedFold(events, OutputMode.Append)(_.user_id,
        e => (micros(e.ts), e.event_id))((-1L, -1L, -1L)) { (uid, st, rows) =>
      var (t1, t2, t3) = st
      val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
      rows.foreach { e =>
        val u = micros(e.ts)
        if (t1 < 0 && e.event_type == step1) {
          t1 = u; out += FunnelAdvance(uid, 1, u, completed = false)
        } else if (t1 >= 0 && t2 < 0 && e.event_type == step2 &&
            u > t1 && u <= t1 + tauUs) {
          t2 = u; out += FunnelAdvance(uid, 2, u, completed = false)
        } else if (t2 >= 0 && t3 < 0 && e.event_type == step3 &&
            u > t2 && u <= t2 + tauUs) {
          t3 = u; out += FunnelAdvance(uid, 3, u, completed = true)
        }
      }
      ((t1, t2, t3), out)
    }
  }

  case class LateFlag(tick_id: Long, symbol: Long, us: Long,
                      wm_us: Option[Long], late: Boolean)

  /** G17 — STREAMING LATE-ARRIVAL FLAGS: B11's live twin — per
    * symbol, keyed state holds the maximum event time seen; a tick is
    * flagged late iff it trails that maximum by more than `delayUs`
    * (the row a real watermark of the same delay would silently
    * DROP — this operator makes the drop set observable, which is how
    * you SIZE the watermark before turning it on). State is one int64
    * per symbol. Parity (spec'd): replayed in tick_id order the flags
    * equal `TickOps.lateArrivalAudit`'s per-tick decisions — the
    * batch running max IS the stream's state max under that order;
    * within a micro-batch rows are (tick_id)-sorted, across batches
    * arrival order governs (G7's contract). `wm_us` reports the max
    * BEFORE this tick (None for a symbol's first tick — on time by
    * definition), exactly the batch op's 1-preceding frame. */
  def lateFlags(ticks: Dataset[Tick], delayUs: Long): Dataset[LateFlag] = {
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(_.symbol, _.tick_id)(Long.MinValue) {
      (symbol, max0, rows) =>
        var maxUs = max0
        val out = rows.map { t =>
          val u = micros(t.ts)
          val wm = if (maxUs == Long.MinValue) None else Some(maxUs)
          val late = wm.exists(m => u < m - delayUs)
          if (u > maxUs) maxUs = u
          LateFlag(t.tick_id, symbol, u, wm, late)
        }
        (maxUs, out)
    }
  }

  /** Per-doc verdict over one micro-batch of [[nearDupBandFlags]]
    * output (use inside `foreachBatch`): duplicate iff any band hit a
    * previously-claimed bucket. */
  def nearDupVerdicts(bandFlags: DataFrame): DataFrame =
    bandFlags.groupBy("doc_id")
      .agg(expr("bool_or(dup_band)").as("is_duplicate"))

  case class TwapPoint(symbol: Long, date: String, n_weighted: Long,
                       twap: Double)

  /** G20 — STREAMING TWAP: the live twin of `TickOps.twap` (B13),
    * completing the execution-benchmark pair (G13 streams the
    * volume-weighted side). Keyed by (symbol, day) like G11; state is
    * the day's register — last tick's cents + µs and the two exact
    * int64 sums Σ(cents·dur), Σdur. Each arriving tick COMPLETES the
    * previous tick's holding interval (B13's next-tick convention
    * falls out of the state machine for free: the day's last tick
    * never completes an interval, so it never contributes) and emits
    * the running TWAP through B8's half-up integer formula — the
    * stream a live execution monitor consumes. Nothing emits while
    * Σdur = 0 (no time has stood yet), mirroring the batch NULL.
    * Parity (spec'd): the LAST emitted point per (symbol, day) equals
    * the batch operator's day row. Timestamps carry µs through
    * `getTime`-ms + nanos re-assembly — `getTime·1000` alone drops
    * sub-ms and would diverge from the batch `unix_micros` sums. */
  def twapPoints(ticks: Dataset[Tick]): Dataset[TwapPoint] = {
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(
        (-1L, 0L, 0L, 0L, 0L)) { (key, st, rows) =>
      var (lastC, lastUs, s, d, n) = st
      var out = List.empty[TwapPoint]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        val us = micros(t.ts)
        if (lastC >= 0L) {
          val dur = us - lastUs
          s += lastC * dur; d += dur; n += 1L
          if (d > 0L)
            out = TwapPoint(key._1, key._2, n,
              ((s * 200L + d) / (d * 2L)).toDouble / 10000.0) :: out
        }
        lastC = c; lastUs = us
      }
      ((lastC, lastUs, s, d, n), out.reverseIterator)
    }
  }

  case class MomentPoint(symbol: Long, date: String, n_moves: Long,
                         variance: Double, skewness: Double,
                         ex_kurtosis: Double)
  /** G22 keyed state: last cents + the four raw power sums. */
  case class MomentState(lastC: Long, n: Long, s1: Double, s2: Double,
                         s3: Double, s4: Double)

  /** G22 — STREAMING REALIZED MOMENTS: the live twin of
    * `Microstructure.realizedMoments` (D39) — per (symbol, day), the
    * running variance / skewness / excess kurtosis of tick cent
    * moves, emitted as a point per arrival (Append; the last point
    * of a day is the day's final statistic). State per key is SEVEN
    * scalars: the previous cents plus count and the four raw power
    * sums — the moment formulas are then the SAME rounded
    * expressions the batch twin evaluates over its avg aggregates.
    *
    * Parity (spec'd): the last streamed point per (symbol, day)
    * equals the batch row EXACTLY while the raw power sums stay
    * inside 2⁵³ (integer-valued doubles add exactly in any order —
    * the spec regime); past that boundary the two accumulation
    * orders can differ in final ulps, which the batch twin's
    * round(4) absorbs except exactly at rounding knots — the same
    * caveat every double-aggregate parity in this file carries.
    * Zero-variance prefixes emit NOTHING (the batch twin's NULL
    * skew/kurt has no streaming analog in a flat case class) — once
    * two distinct moves exist, variance stays positive and every
    * later arrival emits; so the parity set is exactly the batch
    * rows with variance > 0. */
  def momentPoints(ticks: Dataset[Tick]): Dataset[MomentPoint] = {
    import ticks.sparkSession.implicits._
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(
        MomentState(-1L, 0L, 0.0, 0.0, 0.0, 0.0)) { (key, s0, rows) =>
      var s = s0
      var out = List.empty[MomentPoint]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        if (s.lastC >= 0L) {
          val d = (c - s.lastC).toDouble
          s = MomentState(c, s.n + 1L, s.s1 + d, s.s2 + d * d,
            s.s3 + d * d * d, s.s4 + d * d * d * d)
          val n = s.n.toDouble
          val m1 = s.s1 / n; val m2 = s.s2 / n
          val m3 = s.s3 / n; val m4 = s.s4 / n
          val v = m2 - m1 * m1
          if (v > 0)
            out = MomentPoint(key._1, key._2, s.n, r4(v),
              r4((m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1) /
                (v * math.sqrt(v))),
              r4((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 -
                3.0 * m1 * m1 * m1 * m1) / (v * v) - 3.0)) :: out
        } else s = s.copy(lastC = c)
      }
      (s, out.reverseIterator)
    }
  }

  case class SpikeDecision(tick_id: Long, symbol: Long, cents: Long,
                           is_spike: Boolean, repaired_cents: Long)
  /** G19 keyed state: the previous CLASSIFIED tick's cents (−1 = none)
    * plus the tick currently AWAITING its successor (−1 id = none). */
  case class SpikeState(prevCents: Long, curId: Long, curCents: Long)

  /** G19 — STREAMING SPIKE FILTER: the live twin of
    * `TickOps.spikeRepair` (B12), and the canonical ONE-TICK-LOOKAHEAD
    * stateful shape — a spike verdict needs the NEXT tick, so the
    * stream holds each symbol's newest tick in state and emits its
    * decision when the successor arrives (decision latency = one
    * tick, the minimum the semantics permit). Same pure-int64
    * cross-multiplied bp compare and midpoint repair as batch. Parity
    * is exact minus the frontier: streamed == batch minus each
    * symbol's LAST tick (still awaiting a successor in state —
    * spec'd). In-batch rows sort by tick_id; per-symbol in-order feed
    * assumed (G11's contract). */
  def spikeFlags(ticks: Dataset[Tick], thresholdBp: Long)
  : Dataset[SpikeDecision] = {
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(_.symbol, _.tick_id)(
        SpikeState(-1L, -1L, 0L)) { (symbol, s0, rows) =>
      var s = s0
      var out = List.empty[SpikeDecision]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        if (s.curId >= 0L) {
          val cur = s.curCents
          val spike = s.prevCents >= 0L &&
            math.abs(cur - s.prevCents) * 10000L >
              thresholdBp * s.prevCents &&
            math.abs(cur - c) * 10000L > thresholdBp * c &&
            (cur - s.prevCents) * (cur - c) > 0L
          val rep = if (spike) (s.prevCents + c + 1L) / 2L else cur
          out = SpikeDecision(s.curId, symbol, cur, spike, rep) :: out
          s = SpikeState(cur, t.tick_id, c)
        } else {
          s = SpikeState(s.prevCents, t.tick_id, c)
        }
      }
      (s, out.reverseIterator)
    }
  }

  case class BarTrade(event_id: Long, symbol: Long, ts: Timestamp,
                      cents: Long, k: Long)
  /** G18 keyed state: running cum-qty + the OPEN bar's register;
    * `barId < 0` marks "no open bar yet". `accQty` is the quantity
    * ACCUMULATED in the open bar — deliberately not named after the
    * fixed bar-size parameter it is compared against. */
  case class BarState(cum: Long, barId: Long, accQty: Long, nTicks: Long,
                      open: Long, high: Long, low: Long, close: Long,
                      tsFirstMs: Long, tsLastMs: Long)
  case class VolumeBar(symbol: Long, bar_id: Long, bar_qty: Long,
                       n_ticks: Long, open_cents: Long, high_cents: Long,
                       low_cents: Long, close_cents: Long,
                       ts_first: String, ts_last: String)

  /** G18 — STREAMING VOLUME BARS: the live twin of
    * `Microstructure.volumeBars` (D30), and the one bar family a
    * watermarked time window CANNOT express — the bar boundary is a
    * data-dependent running-quantity threshold, not a clock edge, so
    * it is keyed state by construction. State per symbol is the
    * running cum-qty plus the OPEN bar's OHLC register (9 scalars);
    * a trade whose `greatest(cum−1,0) div V` bar id advances past the
    * open bar EMITS the open bar as final and starts the new one with
    * this trade (D30's straddle convention: the trade belongs to the
    * bar of its LAST unit, so the closed bar never contains it).
    * Append mode emits CLOSED bars only; each symbol's live partial
    * bar lives in state — batch parity is therefore
    * `streamed == batch minus each symbol's trailing partial bar`
    * (spec'd). Within a micro-batch rows sort by event_id; across
    * batches the feed must be per-symbol in-order (the same
    * assumption the EWMA/tick-class twins make — G11/G12).
    *
    * CONTRACT: trade quantities must be non-negative (`k >= 0`),
    * same as the batch twin. A negative k regresses the running
    * cum-qty, and the two twins would then DISAGREE (the stream
    * absorbs the trade into the open bar; the batch's computed
    * bar_id assigns it to an earlier, already-closed bar) — so a
    * malformed feed is rejected here rather than silently diverging. */
  // Object-level so the stateful closure resolves it statically —
  // DateTimeFormatter is not Serializable and must not be captured.
  private val barTsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  private def barTs(ms: Long): String =
    barTsFmt.format(java.time.Instant.ofEpochMilli(ms))

  def volumeBarState(trades: Dataset[BarTrade], barQty: Long)
  : Dataset[VolumeBar] = {
    import trades.sparkSession.implicits._
    keyedFold(trades, OutputMode.Append)(_.symbol, _.event_id)(
        BarState(0L, -1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)) { (symbol, s0, rows) =>
      var s = s0
      var out = List.empty[VolumeBar]
      rows.foreach { t =>
        require(t.k >= 0L,
          s"volumeBarState: negative qty ${t.k} (event ${t.event_id})")
        val cum = s.cum + t.k
        val tb = math.max(cum - 1, 0L) / barQty
        val ms = t.ts.getTime
        if (s.barId >= 0L && tb > s.barId) {
          out = VolumeBar(symbol, s.barId, s.accQty, s.nTicks,
            s.open, s.high, s.low, s.close,
            barTs(s.tsFirstMs), barTs(s.tsLastMs)) :: out
          s = s.copy(barId = -1L)
        }
        s = if (s.barId < 0L)
          BarState(cum, tb, t.k, 1L, t.cents, t.cents, t.cents,
            t.cents, ms, ms)
        else
          BarState(cum, s.barId, s.accQty + t.k, s.nTicks + 1L,
            s.open, math.max(s.high, t.cents),
            math.min(s.low, t.cents), t.cents, s.tsFirstMs, ms)
      }
      (s, out.reverseIterator)
    }
  }

  case class BarrierLabel(symbol: Long, e_idx: Long, entry_id: Long,
                          e_c: Long, label: Int, decided_idx: Long)
  /** G21 keyed state: ticks seen so far + the OPEN entries' registers. */
  case class BarrierState(nSeen: Long, open: List[(Long, Long, Long)])

  /** G21 — STREAMING TRIPLE-BARRIER LABELS: the live twin of
    * `Features.tripleBarrier` (D38) — labels stream out the moment
    * the deciding tick arrives (first barrier hit, or the horizon'th
    * lookahead tick without one), which is exactly when a live
    * training-data pipeline can act on them. Keyed state per symbol
    * is the tick count plus the OPEN entries' (idx, cents, tick_id)
    * registers — at most ⌈horizon/entryEvery⌉+1 entries are ever
    * open (an entry lives ≤ horizon ticks and entries open every
    * entryEvery-th), so state is BOUNDED BY PARAMETERS, independent
    * of rate — the D38 lookahead never materializes.
    *
    * Decision order matches batch exactly: a tick is lookahead for
    * every entry already open (hits checked before the timeout at
    * `idx − e_idx = horizon`, and before this tick can open its own
    * entry — an entry is never its own lookahead). Barriers compare
    * cross-multiplied int64 cents (D38's spelling).
    *
    * Batch parity (spec'd): streamed == batch MINUS the rows batch
    * labels 0 on a TRUNCATED horizon (`n_lookahead < horizon` — the
    * feed ended; the stream correctly keeps those entries open
    * awaiting more ticks) — i.e. exactly the batch rows with
    * `label ≠ 0 OR n_lookahead = horizon`. Within a micro-batch rows
    * sort by tick_id; across batches the per-symbol feed must be
    * in-order (G11/G12's assumption). */
  def tripleBarrierState(ticks: Dataset[Tick], entryEvery: Int,
                         horizon: Int, barrierBp: Long)
  : Dataset[BarrierLabel] = {
    require(entryEvery > 0 && horizon > 0,
      s"entryEvery and horizon must be positive: $entryEvery, $horizon")
    require(barrierBp > 0 && barrierBp < 10000,
      s"barrierBp must be in (0, 10000): $barrierBp")
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(_.symbol, _.tick_id)(
        BarrierState(0L, Nil)) { (symbol, s0, rows) =>
      var s = s0
      var out = List.empty[BarrierLabel]
      rows.foreach { t =>
        val idx = s.nSeen + 1L
        val c = math.round(t.bid * 100.0)
        val still = s.open.filter { case (eIdx, eC, eId) =>
          val up = c * 10000L >= eC * (10000L + barrierBp)
          val dn = c * 10000L <= eC * (10000L - barrierBp)
          if (up || dn)
            out = BarrierLabel(symbol, eIdx, eId, eC,
              if (up) 1 else -1, idx) :: out
          else if (idx - eIdx >= horizon)
            out = BarrierLabel(symbol, eIdx, eId, eC, 0, idx) :: out
          !(up || dn || idx - eIdx >= horizon)
        }
        val opened =
          if (idx % entryEvery == 1L % entryEvery)
            still :+ ((idx, c, t.tick_id)) else still
        s = BarrierState(idx, opened)
      }
      (s, out.reverseIterator)
    }
  }

  /** G23 — STREAMING COUNT-MIN SKETCH: the F47 cell grid maintained
    * as a live aggregation over a document stream. The whole point of
    * a CMS is that its cells ADD — across executors, across days,
    * across micro-batches — so the streaming twin is literally the
    * batch cell builder ([[graft.operators.TextDedup.cmsCells]], same
    * portable PolyHash affine family) running in a streaming groupBy:
    * Spark's incremental aggregation state IS the sketch, bounded at
    * ≤ 4·1024 int64 cells regardless of stream length. Complete/update
    * output modes expose the current sketch each micro-batch; a batch
    * rebuild over the same documents produces the IDENTICAL frame
    * (parity spec'd), so a backfilled sketch and the live one can be
    * compared — or summed — cell by cell. */
  def cmsCellCounts(docs: DataFrame): DataFrame = {
    graft.operators.TextDedup.cmsCells(
      docs.select(explode(expr(graft.functions.PortableText.tokens))
          .as("token"))
        .withColumn("h", expr("graft_polyhash(token)")))
  }

  case class RespEntry(cents: Long, sign: Long)
  case class RespState(recent: Seq[RespEntry],
                       counts: Seq[Long], sums: Seq[Long])
  case class RespPoint(symbol: Long, lag: Int, n_obs: Long,
                       resp_cents: Double)

  /** G24 — STREAMING PRICE-RESPONSE FUNCTION: D45's live twin — the
    * running R(ℓ) curve updated the moment the ℓ-ahead price arrives,
    * the market-maker's impact monitor as a live gauge instead of a
    * nightly batch. State per symbol = a ring of the last max(lags)
    * (cents, sign) registers + one exact-int64 (count, sum) pair per
    * lag — BOUNDED BY PARAMETERS, independent of rate (the G21
    * discipline); D45's lead windows never materialize. Each arrival
    * settles every ring entry exactly ℓ back (its forward move is now
    * known), then joins the ring with its own tick-rule sign (zero
    * moves and first ticks sign 0 = never settle, matching the batch
    * NULL). Emitted points divide the exact sums per arrival; parity:
    * the last point per (symbol, lag) == the batch row EXACTLY —
    * same ints, same single IEEE division. */
  def responsePoints(ticks: Dataset[Tick], lags: Seq[Int])
      : Dataset[RespPoint] = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"lags must be >= 1: $lags")
    import ticks.sparkSession.implicits._
    val maxLag = lags.max
    keyedFold(ticks, OutputMode.Append)(_.symbol, _.tick_id)(RespState(
        Seq.empty, lags.map(_ => 0L), lags.map(_ => 0L))) { (symbol, s0, rows) =>
      var s = s0
      var out = List.empty[RespPoint]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        var counts = s.counts
        var sums = s.sums
        lags.zipWithIndex.foreach { case (l, i) =>
          if (s.recent.length >= l) {
            val past = s.recent(l - 1)
            if (past.sign != 0L) {
              counts = counts.updated(i, counts(i) + 1L)
              sums = sums.updated(i,
                sums(i) + past.sign * (c - past.cents))
            }
          }
        }
        val sign =
          if (s.recent.isEmpty) 0L
          else if (c > s.recent.head.cents) 1L
          else if (c < s.recent.head.cents) -1L
          else 0L
        s = RespState((RespEntry(c, sign) +: s.recent).take(maxLag),
          counts, sums)
        lags.zipWithIndex.foreach { case (l, i) =>
          if (counts(i) > 0L)
            out = RespPoint(symbol, l, counts(i),
              sums(i).toDouble / counts(i).toDouble) :: out
        }
      }
      (s, out.reverseIterator)
    }
  }

  case class KsPoint(source: String, n_docs: Long, ks_stat: Double,
                     ks_at_len: Int)

  /** G28 — STREAMING KS DRIFT MONITOR: F76's distribution test as a
    * LIVE per-source alarm — the reference token-length CDF trains
    * offline (`CorpusPipeline.lengthCdf`, a bounded clamped-bin
    * array shipped into the closure like the G18/G21 parameter
    * registers) and each source's keyed state is its own clamped
    * length HISTOGRAM (maxLen+1 int64 bins — bounded by the
    * parameter, never by the stream); every micro-batch folds the
    * new docs in and emits the source's CURRENT KS vs the reference
    * and its location. This is the monitor that pages when a feed's
    * docs quietly get shorter — BEFORE the nightly batch job would
    * notice.
    *
    * The sup walk ascends the bin grid with a strict-greater update,
    * so ties resolve to the lowest bin — the SAME rule as the batch
    * twin `ksAgainstReference` (parity spec'd on the stream's final
    * emission). Token counts use the PortableText whitespace rule. */
  def ksDriftPoints(docs: Dataset[SourcedDoc], refCdf: Array[Double],
                    maxLen: Int): Dataset[KsPoint] = {
    require(maxLen >= 1 && refCdf.length == maxLen + 1,
      s"refCdf must have maxLen+1 bins: ${refCdf.length} vs ${maxLen + 1}")
    import docs.sparkSession.implicits._
    keyedFold(docs, OutputMode.Append)(_.source, unordered)(
        new Array[Long](maxLen + 1)) { (source, h, rows) =>
      rows.foreach { d =>
        val n = d.text.split(" ").count(_.nonEmpty)
        h(math.min(n, maxLen)) += 1
      }
      val total = h.sum
      var cum = 0L; var ks = 0.0; var at = 0
      var i = 0
      while (i <= maxLen) {
        cum += h(i)
        val diff = math.abs(cum.toDouble / total - refCdf(i))
        if (diff > ks) { ks = diff; at = i }
        i += 1
      }
      (h, Iterator.single(
        KsPoint(source, total, math.rint(ks * 1e4) / 1e4, at)))
    }
  }

  case class PitEvent(symbol: Long, ts: Timestamp, kind: Int, id: Long,
                      v: Double)
  /** G29 keyed register: latest (value, event-µs) per feature table. */
  case class PitReg(a: Option[(Double, Long)], b: Option[(Double, Long)])
  case class PitRow(fact_id: Long, symbol: Long,
                    a_val: Option[Double], a_age_us: Option[Long],
                    b_val: Option[Double], b_age_us: Option[Long])

  /** G29 — STREAMING POINT-IN-TIME FEATURE SERVING: E16's twin on
    * the ONLINE side of the feature-store split — the same two
    * feature registers a serving cache keeps per key (latest value +
    * its event time for each table), updated by feature rows and
    * read by fact rows, so online enrichment equals the offline
    * training join ROW FOR ROW (the training-serving-skew guarantee
    * is precisely this parity, and the spec asserts it across a
    * mid-stream batch split). Input is the unioned feed E16 builds
    * internally (kind 0 = feature A, 2 = feature B, 1 = fact);
    * per-symbol state is FOUR scalars; ties at equal ts resolve
    * feature-first via the (ts, kind, id) sort — E16's inclusive
    * rule. Fed per-symbol in-order across batches (G11/G12's
    * assumption). */
  def pitServePoints(events: Dataset[PitEvent]): Dataset[PitRow] = {
    import events.sparkSession.implicits._
    // ties: features (kinds 0 and 2) BEFORE facts (kind 1) — E16's
    // inclusive rule; kind 2 must not sort after facts
    keyedFold(events, OutputMode.Append)(_.symbol,
        e => (micros(e.ts), if (e.kind == 1) 1 else 0, e.id))(
        PitReg(None, None)) { (symbol, reg, rows) =>
      var a = reg.a
      var b = reg.b
      val out = rows.flatMap { e =>
        val us = micros(e.ts)
        e.kind match {
          case 0 => a = Some((e.v, us)); None
          case 2 => b = Some((e.v, us)); None
          case _ =>
            Some(PitRow(e.id, symbol,
              a.map(_._1), a.map(us - _._2),
              b.map(_._1), b.map(us - _._2)))
        }
      }
      (PitReg(a, b), out)
    }
  }

  /** G27 — STREAMING LEARNED-QUALITY ADMISSION: the ingest gate run
    * with F73's hashed-feature classifier — the G25 deployment split
    * (train offline, score the live crawl) applied to ADMISSION,
    * completing the gate family (G13 budgets, G14 source caps, this
    * one learned quality). Stateless by design: each arriving doc
    * tokenizes, feature-hashes through the native PolyHash, sums its
    * bucket weights from the BROADCAST weight table, and is admitted
    * on the sign of the exact int64 margin — the batch spelling
    * verbatim, so live admissions equal F73's labels row for row
    * (parity spec'd). No state, no watermark, no shuffle — the
    * margin folds PER ROW over the token array (a streaming groupBy
    * would demand aggregation state the gate doesn't need; the
    * broadcast-weight-table join is the batch reporting shape, the
    * per-row fold is its streaming-map equivalent — same integer
    * weight formula, occurrence-weighted like the batch explode). */
  def classifierAdmission(docs: Dataset[Doc], nBuckets: Int = 1024)
      : DataFrame = {
    val toks = graft.functions.PortableText.tokens
    docs.toDF().select(
      col("doc_id"),
      expr(s"size($toks)").cast("long").as("n_tokens"),
      expr(s"aggregate(transform($toks, t -> " +
        s"((graft_polyhash(t) % $nBuckets) * 37 + 11) % 21 - 10), " +
        "0L, (a, x) -> a + x)").as("margin"))
      .withColumn("admitted", col("margin") >= 0)
  }

  /** `slip_bp` is NULL while the running price·qty is 0 (the batch
    * twin's zero-divisor rule), hence boxed. */
  case class FillPoint(symbol: Long, fill_id: Long, day: String,
                       exec_cents: Long, cum_qty: Long,
                       run_vwap_cents: Double, slip_bp: java.lang.Double)

  /** G26 — STREAMING RUNNING-VWAP SLIPPAGE: the live twin of
    * `Microstructure.runningVwapSlippage` (D52) — the TCA report a
    * desk watches DURING the day. Keyed state per (symbol, day) is
    * exactly the benchmark's definition: the two running int64 sums
    * (cum qty, cum price·qty); every trade updates them, fill-aligned
    * ids emit their slippage against the vwap-so-far INCLUSIVE of
    * themselves (the batch spelling verbatim — both divisions of
    * exact ints, so live and batch reports reconcile row for row;
    * parity spec splits a micro-batch mid-day). Zero-qty events
    * update nothing and never emit (quotes, not trades). Fed
    * per-symbol in-order (G11/G12's assumption); within a
    * micro-batch rows sort by event_id. */
  def runningVwapPoints(trades: Dataset[BarTrade], fillEvery: Int)
      : Dataset[FillPoint] = {
    require(fillEvery >= 1, s"fillEvery must be >= 1: $fillEvery")
    import trades.sparkSession.implicits._
    keyedFold(trades, OutputMode.Append)(t => (t.symbol, utcDate(t.ts)),
        _.event_id)((0L, 0L)) { (key, st, rows) =>
      var (cumQty, cumPv) = st
      val out = rows.flatMap { t =>
        if (t.k <= 0L) None
        else {
          cumQty += t.k
          cumPv += t.cents * t.k
          if (t.event_id % fillEvery == 0L)
            Some(FillPoint(key._1, t.event_id, key._2, t.cents,
              cumQty,
              cumPv.toDouble / cumQty.toDouble,
              if (cumPv == 0L) null
              else ((t.cents * cumQty - cumPv) * 10000L).toDouble
                / cumPv.toDouble))
          else None
        }
      }
      ((cumQty, cumPv), out)
    }
  }

  case class MovePoint(symbol: Long, tick_id: Long, minute_od: Int,
                       mv: Double)

  /** G25 — STREAMING SEASONAL-ANOMALY SCORING: the live twin of
    * `Microstructure.seasonalAnomaly` (D48) in the deployment split a
    * real surveillance stack runs — the minute-of-day (mu, sigma)
    * baseline is TRAINED OFFLINE on batch history
    * (`Microstructure.seasonalBaseline`, <= 1440 rows) and the live
    * feed is scored against it as a STREAM-STATIC BROADCAST join
    * (G4's pattern at per-tick grain, composed with keyed move
    * state). Keyed state per (symbol, day) is ONE long — the last
    * cents — so the in-day |move| matches the batch lag window
    * exactly; the day key retires naturally at the day boundary
    * (the first tick of a new (symbol, day) emits no move, the
    * batch's NULL-lag rule).
    *
    * The z spelling is the batch's verbatim: NULL when sigma = 0 or
    * the minute is untrained (inner join drops unknown minutes — the
    * conservative G4 default), flag on |z| > threshold against the
    * RAW z, round(4) display. Fed per-symbol in-order (G11/G12's
    * assumption); within a micro-batch rows sort by tick_id. */
  def seasonalFlags(ticks: Dataset[Tick], baseline: DataFrame,
                    threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be > 0: $threshold")
    import ticks.sparkSession.implicits._
    def minuteOd(ts: Timestamp): Int = {
      val t = java.time.Instant.ofEpochMilli(ts.getTime)
        .atZone(java.time.ZoneOffset.UTC).toLocalTime
      t.getHour * 60 + t.getMinute
    }
    val moves = keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(-1L) {
      (key, last0, rows) =>
        var last = last0
        val out = rows.flatMap { t =>
          val c = math.round(t.bid * 100.0)
          val r =
            if (last >= 0L)
              Some(MovePoint(key._1, t.tick_id, minuteOd(t.ts),
                math.abs(c - last).toDouble))
            else None
          last = c
          r
        }
        (last, out)
    }
    val z = when(col("sigma") =!= 0,
      (col("mv") - col("mu")) / col("sigma"))
    moves.toDF()
      .join(broadcast(baseline.select("minute_od", "mu", "sigma")),
        Seq("minute_od"))
      .filter(abs(z) > threshold)
      .select(col("symbol"), col("tick_id"), col("minute_od"),
        col("mv"), round(z, 4).as("zscore"))
  }

  /** G32 — EXACTLY-ONCE-EFFECT SINK (idempotent foreachBatch upsert):
    * Structured Streaming's delivery contract to an external table is
    * AT-LEAST-ONCE per micro-batch — after a failure between the
    * batch commit and the checkpoint write, the SAME batch replays —
    * so the sink must make re-application a no-op. This is the
    * standard production recipe (the foreachBatch + MERGE idiom every
    * Delta/Iceberg streaming guide ships): each micro-batch upserts
    * by key into the catalog table through A8's [[graft.operators
    * .CatalogOps.upsertTable]] plan, and because the batch's rows
    * carry the same keys AND values on replay, the merge rewrites
    * the same state — the table after a duplicated batch is
    * byte-equal in CONTENT to the table after one delivery (spec
    * replays a batch function call directly, the failure mode
    * itself, not a simulation of it).
    *
    * The batch function is exposed separately from the wiring so the
    * spec can drive the replay deterministically; the wiring is ONE
    * line of writeStream.foreachBatch around it. At scale the upsert
    * inherits A8's partition-pruned dynamic-overwrite discipline —
    * a replayed batch rewrites only the partitions its keys touch. */
  def upsertBatch(table: String, keys: Seq[String])
      (batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
    graft.operators.CatalogOps.upsertTable(
      batch.sparkSession, table, batch, keys)

  /** Wire [[upsertBatch]] as the sink of a tick stream. */
  def idempotentTickSink(ticks: Dataset[Tick], table: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ticks.toDF().writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch(upsertBatch(table, Seq("tick_id")) _)

  case class DormantFlag(symbol: Long, last_tick_id: Long,
                         last_ts: Timestamp, n_ticks: Long)

  /** G33 — EVENT-TIME-TIMEOUT DORMANCY DETECTOR: emit a row when a
    * key goes QUIET — no tick for `gapMs` of EVENT time — carrying
    * the key's last-seen state. This is the one stateful-streaming
    * mechanism the G-block hadn't exercised: TIMEOUT-driven emission
    * (every other G op emits on arrival; G5's session_window closes
    * sessions but aggregates — it cannot emit a dormancy EVENT with
    * last-state payload, which is what a stale-feed pager or an
    * abandoned-cart trigger needs). State is one (id, ts, count)
    * register per live key and is REMOVED on timeout — dormant keys
    * cost nothing, the state-TTL discipline any unbounded-key-space
    * deployment requires.
    *
    * Event-time timeouts fire when the WATERMARK passes last_ts +
    * gap, so emission is deterministic under replay (processing-time
    * timeouts are not — deliberately avoided). A key that resumes
    * after dormancy starts a fresh register and may flag again —
    * each quiet period is its own event (spec'd). */
  def dormancyFlags(ticks: Dataset[Tick], gapMs: Long)
      : Dataset[DormantFlag] = {
    import ticks.sparkSession.implicits._
    require(gapMs > 0, s"gapMs must be positive: $gapMs")
    ticks
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (symbol: Long, rows: Iterator[Tick],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (id, tsMs, n) = state.get
            state.remove()
            Iterator.single(
              DormantFlag(symbol, id, new Timestamp(tsMs), n))
          } else {
            var (id, tsMs, n) = state.getOption.getOrElse((0L, 0L, 0L))
            rows.foreach { t =>
              n += 1
              if (t.ts.getTime >= tsMs) { id = t.tick_id; tsMs = t.ts.getTime }
            }
            state.update((id, tsMs, n))
            state.setTimeoutTimestamp(tsMs + gapMs)
            Iterator.empty
          }
      }
  }

  case class HllPoint(source: String, n_zero_registers: Long,
                      sum_scaled: Long, est_ndv: Double)

  /** G31 — STREAMING DISTINCT-CONTENT MONITOR (per-source HLL): the
    * F14b cardinality sketch run LIVE per source — "is this feed
    * still producing new n-grams, or has it saturated into
    * re-crawls?" answered at ingest, the dedup-saturation signal a
    * crawl scheduler reads (G23 monitors FREQUENCY with a count-min;
    * this monitors NOVELTY with the max-rank sketch — the two
    * bounded-state sketches a streaming curation stack actually
    * keeps). Per-source state IS the sketch: 32 int64 registers,
    * parameter-bounded (the G-block contract), merged by max —
    * HLL's merge is idempotent and commutative, so replays and
    * batch splits cannot corrupt it.
    *
    * The per-gram cell math (polyhash → affine → register/rank) is
    * [[graft.operators.TextDedup.hllCells]] — the SAME SQL fragments
    * the batch estimator runs (the G23 shared-cell rule); only the
    * merge differs (keyed state max vs max-aggregate). Every batch
    * emits each touched source's CURRENT register summary and
    * estimate (the batch formula verbatim, same left-assoc IEEE op
    * order); the final emission equals batch [[TextDedup.hllNdv]]
    * run on that source's slice exactly — parity spec'd. */
  def hllNdvPoints(docs: Dataset[SourcedDoc], n: Int = 2)
      : Dataset[HllPoint] = {
    import docs.sparkSession.implicits._
    val cells = graft.operators.TextDedup.hllCells(docs.toDF(), n)
      .as[(String, Long, Long)]
    keyedFold(cells, OutputMode.Append)(_._1, unordered)(
        new Array[Long](graft.operators.TextDedup.HllRegs)) { (source, regs, rows) =>
      rows.foreach { case (_, reg, rho) =>
        val i = reg.toInt
        if (rho > regs(i)) regs(i) = rho
      }
      var zero = 0L
      var sumScaled = 0L
      var i = 0
      while (i < regs.length) {
        if (regs(i) == 0L) zero += 1
        sumScaled += 1L << (26 - regs(i)).toInt
        i += 1
      }
      (regs, Iterator.single(HllPoint(source, zero, sumScaled,
        0.697 * 1024 * 67108864 / sumScaled.toDouble)))
    }
  }

  case class ManifestPoint(split: String, n_docs: Long, n_tokens: Long,
                           content_checksum: Long, min_doc_id: Long,
                           max_doc_id: Long)

  /** G34 — STREAMING RELEASE-MANIFEST ACCUMULATION (F90's online
    * twin): the dataset-card attestation maintained AS the corpus
    * builds — per split, running doc/token counts, id bounds, and
    * the order-free content checksum, emitted each micro-batch so a
    * continuous ingest always has a current, recomputable manifest
    * (the artifact a release cut reads WITHOUT a full batch pass).
    * Keyed state is five int64 registers per split — parameter-
    * bounded by the split alphabet. The checksum folds `(acc + fp)
    * mod p` per doc, exactly equal to F90's sum-then-mod because the
    * accumulator stays sub-p; split assignment and fingerprint use
    * the JVM twins pinned to the Column spellings
    * ([[graft.operators.CorpusPipeline.splitNameJvm]],
    * `PolyHash.hash`), so the final emission equals batch
    * [[graft.operators.CorpusPipeline.releaseManifest]] EXACTLY
    * (parity spec'd across a mid-split batch boundary). */
  def manifestPoints(docs: Dataset[Doc]): Dataset[ManifestPoint] = {
    import docs.sparkSession.implicits._
    val p = graft.functions.PortableText.P
    keyedFold(docs, OutputMode.Append)(
        d => graft.operators.CorpusPipeline.splitNameJvm(d.doc_id), unordered)(
        (0L, 0L, 0L, Long.MaxValue, Long.MinValue)) { (split, st, rows) =>
      var (n, toks, ck, mn, mx) = st
      rows.foreach { d =>
        n += 1
        toks += d.text.split(" ").count(_.nonEmpty).toLong
        ck = (ck + graft.functions.PolyHash.hash(d.text)) % p
        if (d.doc_id < mn) mn = d.doc_id
        if (d.doc_id > mx) mx = d.doc_id
      }
      ((n, toks, ck, mn, mx),
        Iterator.single(ManifestPoint(split, n, toks, ck, mn, mx)))
    }
  }

  case class OrderArrival(o_orderkey: Long, o_custkey: Long, day_i: Int)
  /** G30 keyed state: per-day order counts inside the trailing
    * window — ≤ windowDays + 1 (day, count) registers, PARAMETER-
    * bounded (the G-block state contract): a day older than
    * `current − windowDays` can never re-enter any future order's
    * frame and is pruned on sight. */
  case class VelocityState(days: List[(Int, Long)])
  case class VelocityRow(o_orderkey: Long, o_custkey: Long, day_i: Int,
                         n_prior: Long)

  /** G30 — STREAMING ORDER-VELOCITY (E17's online twin): the
    * trailing-interval count served at ingest time — the shape a
    * live fraud screen actually runs ("how many orders did this
    * customer place in the last 90 days?" answered AT the arriving
    * order, not in a nightly batch). Per-customer state is the
    * day-granular count ring above; each arrival reads the strictly-
    * earlier days inside the window (same-day siblings excluded —
    * E17's symmetric rule, so verdicts match the batch RANGE frame
    * exactly), then increments its own day's register for future
    * frames. Verdicts equal the batch operator row for row PROVIDED
    * per-customer arrivals are day-ordered across micro-batches
    * (G11/G12's assumption; within a batch the fold sorts). Parity
    * spec splits a customer's history mid-window so pruned and
    * carried registers both cross the boundary. */
  def orderVelocityPoints(orders: Dataset[OrderArrival], windowDays: Int)
      : Dataset[VelocityRow] = {
    import orders.sparkSession.implicits._
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    keyedFold(orders, OutputMode.Append)(_.o_custkey,
        o => (o.day_i, o.o_orderkey))(VelocityState(Nil)) { (cust, st, rows) =>
      var days = st.days
      val out = rows.map { o =>
        val n = days.iterator
          .filter(e => e._1 >= o.day_i - windowDays &&
            e._1 <= o.day_i - 1)
          .map(_._2).sum
        val cur = days.find(_._1 == o.day_i).map(_._2).getOrElse(0L)
        days = (o.day_i, cur + 1L) ::
          days.filter(e => e._1 != o.day_i &&
            e._1 >= o.day_i - windowDays)
        VelocityRow(o.o_orderkey, cust, o.day_i, n)
      }
      (VelocityState(days), out)
    }
  }

  case class PathEvent(event_id: Long, user_id: Long, ts: Timestamp,
                       event_type: String)
  case class EdgePoint(user_id: Long, prev_type: String,
                       next_type: String)

  /** G38 — STREAMING EVENT-PATH EDGES: E19's online leg — each
    * user's consecutive `prev → next` transition emitted AT ARRIVAL
    * TIME, so the downstream census (a windowed count on this
    * stream) is maintained continuously instead of recomputed from
    * the log. Keyed state per user is ONE string register (the last
    * event type; G12's last-bid discipline on the categorical
    * alphabet) — a user's first-ever event emits nothing, exactly
    * the batch lag's NULL head. Parity spec: pooled emitted edges
    * across a micro-batch split equal the batch census edge-for-edge
    * (the split landing BETWEEN one user's events — the register
    * must carry). */
  def pathEdges(events: Dataset[PathEvent]): Dataset[EdgePoint] = {
    import events.sparkSession.implicits._
    keyedFold(events, OutputMode.Append)(_.user_id,
        e => (e.ts.getTime, e.event_id))(null: String) { (user, st, rows) =>
      var prev = Option(st)
      val out = rows.flatMap { e =>
        val edge = prev.map(p => EdgePoint(user, p, e.event_type))
        prev = Some(e.event_type)
        edge
      }
      (prev.orNull, out)
    }
  }

  /** G40 keyed state: the OPEN session window's (day, win) and its
    * tick-cents buffer (bounded by construction — a session window is
    * ten minutes of one symbol's tape). */
  /** ONE spelling of the session-window deployment arithmetic shared
    * by G40/G41/G42 (the engine's most parity-critical chain — three
    * private copies drifted in r13 and the review flagged it):
    * UTC calendar parts, the daily session-axis slot, and the exact
    * D66/D67 window scoring (linspace/pad slot map, train-scaler
    * standardization, 1e-6 sign-split quantization, ascending-slot
    * centroid-error fold) returning (uErr micros, scaled LAST slot —
    * the entry-direction signal G41 needs). */
  private[graft] object SessionScoring extends Serializable {
    def sessionUtcParts(ts: Timestamp): (String, Int, Int) = {
      val z = java.time.Instant.ofEpochMilli(ts.getTime)
        .atZone(java.time.ZoneOffset.UTC)
      (z.toLocalDate.toString, z.getHour, z.getMinute)
    }

    def sessionSlotOf(h: Int, m: Int): Int = {
      import graft.operators.TickOps.{MorningH, AfternoonH, FromMin}
      if (h < MorningH || (h == MorningH && m < FromMin)) 0
      else if (h == MorningH) 1
      else if (h < AfternoonH || (h == AfternoonH && m < FromMin)) 2
      else if (h == AfternoonH) 3
      else 4
    }

    /** The D66 linspace/pad slot map + train-scaler standardization
      * into exact int64 micros — shared by the centroid scorer
      * ([[windowUErr]]) and the GD-model scorer ([[windowGdErr]]). */
    def windowSlotU(k: Int, scalers: Map[Long, (Double, Double)])
                   (symbol: Long, buf: List[Long]): IndexedSeq[Long] = {
      val n = buf.length
      val slots = (0 until k).map { i =>
        val j =
          if (n == 1) 0
          else if (n >= k) (i * (n - 1)) / (k - 1)
          else ((i + 1) * (n - 1) - 1) / (k - 1)
        buf(j)
      }
      val (mu, sd) = scalers.getOrElse(symbol, (0.0, 0.0))
      slots.map { c =>
        val x = if (sd > 0) (c - mu) / sd else 0.0
        if (x >= 0) math.floor(x * 1000000.0 + 0.5).toLong
        else -math.floor(-x * 1000000.0 + 0.5).toLong
      }
    }

    def windowUErr(k: Int, scalers: Map[Long, (Double, Double)],
                   centroids: Map[Long, Seq[Long]])
                  (symbol: Long, buf: List[Long]): (Long, Long) = {
      val u = windowSlotU(k, scalers)(symbol, buf)
      val ubar = centroids.getOrElse(symbol, Seq.fill(k)(0L))
      val e0 = u.zip(ubar).foldLeft(0.0) { case (acc, (a, b)) =>
        acc + (a - b).toDouble * (a - b).toDouble / 1000000.0 / 1000000.0
      }
      (math.floor(e0 / k * 1000000.0 + 0.5).toLong, u.last)
    }

    /** D84's final-weight window scoring, live: z = We·x (left-assoc),
      * x̂ = Wd·z, per-slot squared-residual micros, integer sum,
      * div k — EXACTLY the batch gdAutoencoder scoring chain
      * ([[graft.operators.Features.gdZExpr]] family op order), so a
      * window scored on the stream carries the same err_ppm the
      * batch scorer would assign (parity spec'd). `we` is h rows × k
      * cols, `wd` k rows × h cols, both row-major flat. */
    def windowGdErr(k: Int, scalers: Map[Long, (Double, Double)],
                    weights: Map[Long, (Seq[Double], Seq[Double])])
                   (symbol: Long, buf: List[Long]): Long = {
      val u = windowSlotU(k, scalers)(symbol, buf)
      val x = (0 until k).map(i => u(i).toDouble / 1000000.0)
      val (weF, wdF) = weights(symbol)
      val h = weF.length / k
      val z = (0 until h).map { j =>
        var acc = weF(j * k) * x(0)
        var i = 1
        while (i < k) { acc += weF(j * k + i) * x(i); i += 1 }
        acc
      }
      var stq = 0L
      var i = 0
      while (i < k) {
        var xh = wdF(i * h) * z(0)
        var j = 1
        while (j < h) { xh += wdF(i * h + j) * z(j); j += 1 }
        val r = xh - x(i)
        stq += math.floor(r * r * 1000000.0 + 0.5).toLong
        i += 1
      }
      stq / k
    }
  }
  import SessionScoring.{sessionUtcParts, sessionSlotOf, windowUErr}

  /** G40 keyed state: the open-window register plus the last-closed
    * marker — after a close the state must survive (not be removed)
    * so a late cross-batch tick can never re-open and RESTATE an
    * already-scored window (Append cannot retract; found by the r13
    * review — G41/G42 carried the marker, G40 did not). */
  case class WindowAnomState(curDay: String, curWin: String,
                             buf: List[(Long, Long)],
                             lastClosedDay: String = "",
                             lastClosedSlot: Int = -1)
  case class WindowScore(symbol: Long, date: String, win: String,
                         n_ticks: Long, err: Double, is_anomaly: Boolean)

  /** G40 — STREAMING WINDOW-ANOMALY SCORING: the live leg of the
    * reference's product (ref: main.py:99-184 — live anomaly
    * detection during the 7:50–8:00 / 13:50–14:00 windows;
    * live_endpoint.py buffers the open window and scores it with the
    * trained model + threshold), D67's offline-trained/online-scored
    * split: the BATCH pipeline trains per-symbol scaler (µ, σ),
    * centroid ū and p99 threshold; the STREAM buffers each symbol's
    * open session window and, the moment the tape moves PAST it (the
    * first tick in a later window, session gap, or day — G39's
    * close-on-advance rule), replays D66's exact slot arithmetic —
    * linspace/pad slot map, scale, 1e-6 quantization, ascending-slot
    * error fold — and emits the window's score against the trained
    * band. The still-open final window never emits. Trained artifacts
    * ride in as broadcast maps (registry-scale: |symbols| entries);
    * keyed state is one bounded cents buffer per symbol. Symbols
    * outside the trained maps score against zero stats (the batch
    * rule) and never flag. A late cross-batch tick whose (day, slot)
    * sorts EARLIER than the open window is DROPPED (its window
    * already scored and Append mode cannot restate it) — never
    * appended to the open buffer, keeping stream window membership
    * identical to the batch windowSlots assignment. */
  def windowAnomalyAlerts(ticks: Dataset[Tick], k: Int,
                          scalers: Map[Long, (Double, Double)],
                          centroids: Map[Long, Seq[Long]],
                          thresholds: Map[Long, Double])
      : Dataset[WindowScore] = {
    import ticks.sparkSession.implicits._
    require(k >= 2, s"need >= 2 slots: $k")
    // scoring arithmetic: the SHARED G40/G41/G42 spelling (windowUErr)
    def score(symbol: Long, day: String, win: String,
              buf: List[(Long, Long)]): WindowScore = {
      // order by tick_id at close: the batch slot map is row_number
      // over tick_id, and a late intra-window tick arriving in a
      // LATER micro-batch lands at the buffer tail — appending order
      // is not tape order on out-of-order tapes (r13 advice)
      val ordered = buf.sortBy(_._1).map(_._2)
      val (uErr, _) = windowUErr(k, scalers, centroids)(symbol, ordered)
      val flag = thresholds.get(symbol).exists(q => uErr.toDouble > q)
      WindowScore(symbol, day, win, buf.length.toLong,
        uErr.toDouble / 1000000.0, flag)
    }
    closedWindows(ticks)((symbol, day, win, buf) =>
      Iterator.single(score(symbol, day, win, buf)))
  }

  /** The shared G40/G43 CLOSED-WINDOW state machine: buffer a session
    * window's (tick_id, cents) per symbol, close it the moment the
    * tape moves past it (emitting `score`'s rows for the closed
    * window), keep the last-closed marker so Append can never
    * restate, and drop late ticks by G14's discipline. G41/G42 carry
    * extra registers (position, streak) and keep their own explicit
    * machines. */
  private def closedWindows[T](ticks: Dataset[Tick])(
      score: (Long, String, String, List[(Long, Long)]) => Iterator[T])
      (implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    import ticks.sparkSession.implicits._
    val utcParts = sessionUtcParts _
    val slotOf = sessionSlotOf _
    keyedFold(ticks, OutputMode.Append)(_.symbol, tsThenId)(
        null: WindowAnomState) { (symbol, st0, rows) =>
      var st = st0
      val out = scala.collection.mutable.ArrayBuffer.empty[T]
      rows.foreach { t =>
        val (d, h, m) = utcParts(t.ts)
        val slot = slotOf(h, m)
        val curSlot = if (st == null || st.curWin == "morning") 1 else 3
        // close the open window once the tape moves past it —
        // keeping the state alive with the last-closed marker
        // (st = null would let a later late tick re-open and
        // restate the scored window)
        if (st != null && st.buf.nonEmpty &&
            (d > st.curDay || (d == st.curDay && slot > curSlot))) {
          out ++= score(symbol, st.curDay, st.curWin, st.buf)
          st = st.copy(curDay = "", curWin = "", buf = Nil,
            lastClosedDay = st.curDay,
            lastClosedSlot = if (st.curWin == "morning") 1 else 3)
        }
        if (slot == 1 || slot == 3) {
          val w = if (slot == 1) "morning" else "afternoon"
          val c = math.round(t.bid * 100.0)
          // a late cross-batch tick whose (day, slot) sorts
          // EARLIER than the open window — or at-or-before the
          // last CLOSED window — is dropped, not appended:
          // appending would mis-attribute it to the open window,
          // and re-opening a closed window would emit a duplicate
          // restated score (Append mode cannot retract; G14's
          // late-data discipline)
          val late = st != null && ((st.buf.nonEmpty &&
            (d < st.curDay || (d == st.curDay && slot < curSlot))) ||
            d < st.lastClosedDay ||
            (d == st.lastClosedDay && slot <= st.lastClosedSlot))
          if (!late) {
            st =
              if (st == null)
                WindowAnomState(d, w, List((t.tick_id, c)))
              else if (st.buf.isEmpty)
                st.copy(curDay = d, curWin = w,
                  buf = List((t.tick_id, c)))
              else st.copy(buf = st.buf :+ ((t.tick_id, c)))
          }
        }
      }
      (st, out)
    }
  }

  /** G43 output: one row per closed session window of a TRAINED
    * symbol, scored by the deployed D84 autoencoder. */
  case class GdScore(symbol: Long, date: String, win: String,
                     n_ticks: Long, err: Double, is_anomaly: Boolean)

  /** G43 — STREAMING AUTOENCODER INFERENCE: the D84 gradient-trained
    * model SERVED live (ref: main.py's live endpoint scores the
    * session windows with the TRAINED autoencoder artifact — G40
    * deploys the linear centroid model, this deploys the network):
    * the batch side trains `Features.gdAutoencoder` and exports the
    * final weights (the registry's kind='we'/'wd' rows) + train
    * scalers + the p99 threshold; the stream replays the SAME
    * closed-window machine (close-on-advance, late-tick drop,
    * tick_id-ordered buffer) and scores each closed window with the
    * SAME forward chain — linspace/pad slot map, sign-split
    * standardization, z = We·x, x̂ = Wd·z, per-slot squared-residual
    * micros, integer div k — so the streamed err_ppm is EXACTLY what
    * the batch scorer assigns that window (parity spec'd). UNTRAINED
    * symbols emit nothing (D84's no-weights rule: an untrained
    * autoencoder has nothing to score with); symbols without a
    * threshold score but never flag (the batch inner-join
    * conservatism applied to the flag only). Keyed state = G40's
    * bounded window buffer — the weights ride the closure as a
    * broadcast-sized map (|symbols|·2kh doubles: the model registry,
    * not data). */
  def gdModelScores(ticks: Dataset[Tick], k: Int,
                    scalers: Map[Long, (Double, Double)],
                    weights: Map[Long, (Seq[Double], Seq[Double])],
                    thresholds: Map[Long, Double]): Dataset[GdScore] = {
    import ticks.sparkSession.implicits._
    require(k >= 2, s"need >= 2 slots: $k")
    require(weights.values.forall { case (we, wd) =>
      we.nonEmpty && we.length % k == 0 &&
        wd.length == we.length && wd.length % (we.length / k) == 0
    }, s"weights must be h*k-flat encoder/decoder pairs for k = $k")
    val scoreBuf = SessionScoring.windowGdErr(k, scalers, weights) _
    closedWindows(ticks) { (symbol, day, win, buf) =>
      if (!weights.contains(symbol)) Iterator.empty
      else {
        val ordered = buf.sortBy(_._1).map(_._2)
        val errPpm = scoreBuf(symbol, ordered)
        val flag = thresholds.get(symbol)
          .exists(q => errPpm.toDouble > q)
        Iterator.single(GdScore(symbol, day, win, buf.length.toLong,
          errPpm.toDouble / 1000000.0, flag))
      }
    }
  }

  /** G41 keyed state: the G40 open-window register plus the live
    * POSITION block — current position, the last traded window's
    * close cents, and whether one exists yet. */
  case class SignalPosState(curDay: String, curWin: String,
                            buf: List[(Long, Long)], pos: Int,
                            prevClose: Long, hasPrev: Boolean,
                            lastClosedDay: String, lastClosedSlot: Int)
  case class SignalPoint(symbol: Long, date: String, win: String,
                         err: Double, pos: Int, pos_prev: Int,
                         pnl_step_cents: Long)

  /** G41 — STREAMING SIGNAL POSITION TRACKER: D76's backtest as the
    * LIVE deployment (ref README §9.2 — the model's signals traded
    * live after the training cutoff): the batch side trains the
    * scaler/centroid/p99 threshold and picks the go-live date; the
    * stream replays G40's exact window scoring on each CLOSED session
    * window at-or-after `fromDate` and drives the SAME position rules
    * — error above the symbol's threshold ENTERS against the
    * deviation direction (last slot above its trained mean → short,
    * below → long), recovery below `exitFrac`·threshold EXITS,
    * otherwise the position holds — accruing P&L in exact int64 cents
    * `pos_prev·(closeₜ − closeₜ₋₁)` window over window. Emissions
    * aggregate to the batch D76 report exactly (parity spec'd).
    * Keyed state = G40's bounded window buffer + three scalars;
    * symbols without a trained threshold never trade (the batch
    * inner-join rule). Late cross-batch ticks drop (G40's rule). */
  def signalPositions(ticks: Dataset[Tick], k: Int,
                      scalers: Map[Long, (Double, Double)],
                      centroids: Map[Long, Seq[Long]],
                      thresholds: Map[Long, Double],
                      exitFrac: Double, fromDate: String)
      : Dataset[SignalPoint] = {
    import ticks.sparkSession.implicits._
    require(k >= 2, s"need >= 2 slots: $k")
    require(exitFrac > 0 && exitFrac < 1, s"exitFrac in (0,1): $exitFrac")
    // calendar/slot/scoring arithmetic: the SHARED G40/G41/G42
    // spelling — (uErr micros, scaled LAST slot for entry direction)
    val utcParts = sessionUtcParts _
    val slotOf = sessionSlotOf _
    val scoreBuf = windowUErr(k, scalers, centroids) _
    keyedFold(ticks, OutputMode.Append)(_.symbol, tsThenId)(
        null: SignalPosState) { (symbol, st0, rows) =>
      var st = st0
      val out = scala.collection.mutable.ArrayBuffer.empty[SignalPoint]
      def close(): Unit = if (st != null && st.buf.nonEmpty) {
        val closedSlot = if (st.curWin == "morning") 1 else 3
        val traded = st.curDay >= fromDate &&
          thresholds.contains(symbol)
        if (traded) {
          val qu = thresholds(symbol)
          // tick_id order at close (r13 advice): matches the
          // batch slot map (row_number over tick_id) AND the
          // batch close (max_by(cents, tick_id)) on out-of-order
          // tapes — buf.last was append order, which diverges
          // when an intra-window tick arrives in a later batch
          val ordered = st.buf.sortBy(_._1).map(_._2)
          val (uErr, uLast) = scoreBuf(symbol, ordered)
          val closeC = ordered.last
          val posPrev = st.pos
          val pnl = if (st.hasPrev)
            posPrev.toLong * (closeC - st.prevClose) else 0L
          val newPos =
            if (uErr.toDouble > qu) { if (uLast > 0) -1 else 1 }
            else if (uErr.toDouble <= qu * exitFrac) 0
            else posPrev
          out += SignalPoint(symbol, st.curDay, st.curWin,
            uErr.toDouble / 1000000.0, newPos, posPrev, pnl)
          st = st.copy(buf = Nil, pos = newPos,
            prevClose = closeC, hasPrev = true,
            lastClosedDay = st.curDay, lastClosedSlot = closedSlot)
        } else st = st.copy(buf = Nil,
          lastClosedDay = st.curDay, lastClosedSlot = closedSlot)
      }
      rows.foreach { t =>
        val (d, h, m) = utcParts(t.ts)
        val slot = slotOf(h, m)
        val curSlot =
          if (st == null || st.curWin == "morning") 1 else 3
        if (st != null && st.buf.nonEmpty &&
            (d > st.curDay || (d == st.curDay && slot > curSlot))) {
          close()
        }
        if (slot == 1 || slot == 3) {
          val w = if (slot == 1) "morning" else "afternoon"
          val c = math.round(t.bid * 100.0)
          // a tick is LATE if it precedes the open window (G40's
          // rule) OR sorts at-or-before the last CLOSED window —
          // the position register outlives window closes, so a
          // closed window must never re-open and restate
          val late = st != null && ((st.buf.nonEmpty &&
            (d < st.curDay || (d == st.curDay && slot < curSlot))) ||
            d < st.lastClosedDay ||
            (d == st.lastClosedDay && slot <= st.lastClosedSlot))
          if (!late) {
            st =
              if (st == null)
                SignalPosState(d, w, List((t.tick_id, c)), 0, 0L,
                  hasPrev = false, lastClosedDay = "",
                  lastClosedSlot = -1)
              else st.copy(curDay = d, curWin = w,
                buf = st.buf :+ ((t.tick_id, c)))
          }
        }
      }
      (st, out)
    }
  }

  /** G42 keyed state: G40's open-window register plus the
    * consecutive-breach streak counter and the last-closed-window
    * marker (the streak outlives window closes, so a late tick must
    * never re-open and restate a closed window — G41's rule). */
  case class RetrainAlertState(curDay: String, curWin: String,
                               buf: List[(Long, Long)], streak: Int,
                               lastClosedDay: String,
                               lastClosedSlot: Int)
  case class RetrainAlert(symbol: Long, date: String, win: String,
                          streak: Long, err: Double)

  /** G42 — STREAMING RETRAIN ALERT (model-health monitor): the MLOps
    * loop the reference's lifecycle implies (ref: README.md §8.2
    * "mimics production retraining cycles" decides WHEN to retrain;
    * §11 MLflow tracks the metrics that justify it) — G40 watches the
    * TAPE for anomalies, this watches the MODEL: a symbol whose
    * closed session windows score above its trained threshold
    * `consecutive` times IN A ROW is drifting away from the shape the
    * model learned (one anomaly is signal; a run of them is staleness
    * — D77's fold-over-fold degradation read, live). Emits ONE alert
    * per breach-run, at the moment the run reaches `consecutive`; an
    * in-band window resets the streak; untrained symbols never alert
    * (no threshold — the batch inner-join conservatism). Window
    * close/scoring replays G40's exact arithmetic (close-on-advance,
    * late-tick drop, linspace/pad slot map, 1e-6 quantization);
    * keyed state = the bounded open-window buffer + ONE int streak
    * register, carried across micro-batches (spec'd). */
  def retrainAlerts(ticks: Dataset[Tick], k: Int,
                    scalers: Map[Long, (Double, Double)],
                    centroids: Map[Long, Seq[Long]],
                    thresholds: Map[Long, Double],
                    consecutive: Int): Dataset[RetrainAlert] = {
    import ticks.sparkSession.implicits._
    require(k >= 2, s"need >= 2 slots: $k")
    require(consecutive >= 1, s"need >= 1 breach to alert: $consecutive")
    // calendar/slot/scoring arithmetic: the SHARED G40/G41/G42
    // spelling (micros int64)
    val utcParts = sessionUtcParts _
    val slotOf = sessionSlotOf _
    def uErrOf(symbol: Long, buf: List[Long]): Long =
      windowUErr(k, scalers, centroids)(symbol, buf)._1
    keyedFold(ticks, OutputMode.Append)(_.symbol, tsThenId)(
        null: RetrainAlertState) { (symbol, st0, rows) =>
      var st = st0
      val out = scala.collection.mutable.ArrayBuffer.empty[RetrainAlert]
      def close(): Unit = if (st != null && st.buf.nonEmpty) {
        // tick_id order at close — the shared G40/G41 rule
        val uErr = uErrOf(symbol, st.buf.sortBy(_._1).map(_._2))
        val breached = thresholds.get(symbol)
          .exists(q => uErr.toDouble > q)
        val streak = if (breached) st.streak + 1 else 0
        if (breached && streak == consecutive)
          out += RetrainAlert(symbol, st.curDay, st.curWin,
            streak.toLong, uErr.toDouble / 1000000.0)
        st = st.copy(curDay = "", curWin = "", buf = Nil,
          streak = streak, lastClosedDay = st.curDay,
          lastClosedSlot = if (st.curWin == "morning") 1 else 3)
      }
      rows.foreach { t =>
        val (d, h, m) = utcParts(t.ts)
        val slot = slotOf(h, m)
        val curSlot =
          if (st == null || st.curWin == "morning") 1 else 3
        if (st != null && st.buf.nonEmpty &&
            (d > st.curDay || (d == st.curDay && slot > curSlot))) {
          close()
        }
        if (slot == 1 || slot == 3) {
          val w = if (slot == 1) "morning" else "afternoon"
          val c = math.round(t.bid * 100.0)
          // G40's late-tick rule PLUS the closed-window marker: a
          // tick earlier than the open window — or at-or-before
          // the last CLOSED window — drops (its window already
          // scored into the streak; Append cannot restate it)
          val late = st != null && ((st.buf.nonEmpty &&
            (d < st.curDay || (d == st.curDay && slot < curSlot))) ||
            d < st.lastClosedDay ||
            (d == st.lastClosedDay && slot <= st.lastClosedSlot))
          if (!late) {
            st =
              if (st == null)
                RetrainAlertState(d, w, List((t.tick_id, c)),
                  0, "", -1)
              else if (st.buf.isEmpty)
                st.copy(curDay = d, curWin = w,
                  buf = List((t.tick_id, c)))
              else st.copy(buf = st.buf :+ ((t.tick_id, c)))
          }
        }
      }
      (st, out)
    }
  }

  /** G39 keyed state: the OPEN day's (day, prev cents, rv
    * accumulator) plus the ring of the last h−1 CLOSED days' rv. */
  case class VolConeState(curDay: String, prevCents: Long,
                          curRv: Long, ring: List[(String, Long)])
  case class VolPoint(symbol: Long, day: String, roll_rv: Long,
                      band: String)

  /** G39 — STREAMING VOL-CONE REGIME MONITOR: D64's deployment side
    * — the batch job trains the per-symbol cone (p25/p75 of rolling
    * h-day realized variance); the stream maintains each symbol's
    * CURRENT rolling rv and, the moment a day CLOSES (its first
    * next-day tick arrives), emits where the finished window sits
    * against the historical band: `below` / `in` / `above` — the
    * live "is vol regime rich or cheap" signal an options desk
    * watches (G25's offline-trained/online-scored split, on the
    * D63/D64 exact-cents rv). Keyed state is the OPEN day's
    * register (day, previous cents, rv accumulator) plus an
    * (h−1)-entry ring of closed days — parameter-bounded, exact
    * int64 arithmetic identical to the batch collapse. Only FULL
    * h-day windows emit (the D64 rule); the final still-open day
    * never does (a monitor reports finished windows — documented).
    * Symbols absent from the trained cone emit `untrained`. */
  def volConeAlerts(ticks: Dataset[Tick],
                    cones: Map[Long, (Double, Double)], h: Int)
      : Dataset[VolPoint] = {
    import ticks.sparkSession.implicits._
    require(h >= 1, s"h must be >= 1: $h")
    def cents(bid: Double): Long = math.round(bid * 100.0)
    keyedFold(ticks, OutputMode.Append)(_.symbol, tsThenId)(
        null: VolConeState) { (symbol, st0, rows) =>
      var st = st0
      val out = scala.collection.mutable.ArrayBuffer.empty[VolPoint]
      def close(): Unit = if (st != null) {
        val ring1 = (st.ring :+ ((st.curDay, st.curRv))).takeRight(h)
        if (ring1.length == h) {
          val roll = ring1.map(_._2).sum
          val band = cones.get(symbol) match {
            case None => "untrained"
            case Some((lo, hi)) =>
              if (roll < lo) "below"
              else if (roll > hi) "above" else "in"
          }
          out += VolPoint(symbol, st.curDay, roll, band)
        }
        st = VolConeState("", 0L, 0L, ring1.takeRight(h - 1))
      }
      rows.foreach { t =>
        val d = utcDate(t.ts)
        val c = cents(t.bid)
        if (st == null || st.curDay.isEmpty)
          st = VolConeState(d, c, 0L,
            if (st == null) Nil else st.ring)
        else if (d != st.curDay) {
          close()
          st = st.copy(curDay = d, prevCents = c, curRv = 0L)
        } else {
          val dd = c - st.prevCents
          st = st.copy(prevCents = c, curRv = st.curRv + dd * dd)
        }
      }
      (st, out)
    }
  }

  /** G37 keyed state: each leg's last price (NaN = unseen) + the
    * Welford register over the observed spread series. */
  case class PairSpreadState(lastA: Double, lastB: Double, n: Long,
                             mean: Double, m2: Double)
  case class PairZ(tick_id: Long, sym_a: Long, sym_b: Long,
                   spread: Double, z: Option[Double])

  /** G37 — STREAMING PAIR-SPREAD Z-SCORE: the deployment side of the
    * D60 cointegration screen — the batch job picks the pairs and
    * fits β; the stream watches each pair's residual spread
    * `p_a − β·p_b` and emits its running z-score (Welford, G2's
    * register) the moment either leg ticks: the live divergence
    * signal a stat-arb desk actually trades on. Routing is a
    * broadcast-roster flatMap (each tick fans out to the pairs that
    * contain its symbol — |pairs per symbol| copies, the roster is
    * the screen's output and small by construction); keyed state per
    * pair is FIVE registers (two last-leg prices + Welford
    * count/mean/M2). A spread only exists once BOTH legs have
    * ticked; z needs n ≥ 2 and positive variance (else None — no
    * fabricated zeros). In-batch arrivals fold in (ts, tick_id)
    * order like every G-block twin; the spec pins the Welford
    * recurrence step-for-step and the cross-batch register carry. */
  def pairSpreadZ(ticks: Dataset[Tick], pairs: Seq[(Long, Long)],
                  betas: Map[(Long, Long), Double])
      : Dataset[PairZ] = {
    import ticks.sparkSession.implicits._
    require(pairs.nonEmpty, "pair roster must not be empty")
    require(pairs.forall(betas.contains), "every pair needs a beta")
    val routed = ticks.flatMap { t =>
      pairs.collect {
        case (a, b) if a == t.symbol || b == t.symbol =>
          (a, b, t.symbol == a, t.tick_id, t.ts, t.bid)
      }
    }
    keyedFold(routed, OutputMode.Append)(r => (r._1, r._2),
        r => (r._5.getTime, r._4))(
        PairSpreadState(Double.NaN, Double.NaN, 0L, 0.0, 0.0)) { (key, st0, rows) =>
      val beta = betas(key)
      var st = st0
      val out = rows.flatMap { case (_, _, isA, tickId, _, bid) =>
        st = if (isA) st.copy(lastA = bid) else st.copy(lastB = bid)
        if (st.lastA.isNaN || st.lastB.isNaN) None
        else {
          val s = st.lastA - beta * st.lastB
          val n1 = st.n + 1
          val d = s - st.mean
          val mean1 = st.mean + d / n1
          val m21 = st.m2 + d * (s - mean1)
          st = st.copy(n = n1, mean = mean1, m2 = m21)
          val z =
            if (n1 >= 2 && m21 > 0.0)
              Some((s - mean1) / math.sqrt(m21 / n1))
            else None
          Some(PairZ(tickId, key._1, key._2, s, z))
        }
      }
      (st, out)
    }
  }

  /** G36 keyed state: first island start ever, the OPEN island's
    * (start, max end), closed-island covered mass, and counters. */
  case class CoverageState(firstS: Long, islS: Long, islE: Long,
                           closedCov: Long, nIsl: Long, nOrd: Long)
  case class CoveragePoint(o_orderkey: Long, o_custkey: Long,
                           n_orders: Long, n_intervals: Long,
                           covered_days: Long, span_days: Long)

  /** G36 — STREAMING INTERVAL-UNION COVERAGE: E18's online twin —
    * the gaps-and-islands union maintained AT ARRIVAL TIME, so a
    * live feed always holds the current covered/span report without
    * a batch pass. Keyed state is SIX int64 registers (first start,
    * the one OPEN island's start and running max end, closed-island
    * covered mass, island and order counters) — the union never
    * stores intervals because arrivals come in nondecreasing start
    * order per key (an order feed is keyed BY order date — the same
    * stream-order contract G30 documents), so an arrival either
    * extends the open island (start ≤ its max end) or closes it and
    * opens the next. Each arrival emits the running report; the
    * final emission per key equals the batch `intervalCoverage` row
    * exactly — spec'd across a micro-batch split landing INSIDE an
    * open island. */
  def coveragePoints(orders: Dataset[OrderArrival], windowDays: Int)
      : Dataset[CoveragePoint] = {
    import orders.sparkSession.implicits._
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    keyedFold(orders, OutputMode.Append)(_.o_custkey,
        o => (o.day_i, o.o_orderkey))(null: CoverageState) { (cust, st0, rows) =>
      var st = st0
      val out = rows.map { o =>
        val s = o.day_i.toLong
        val e = s + windowDays
        st =
          if (st == null)
            CoverageState(s, s, e, 0L, 1L, 1L)
          else if (s > st.islE)
            // strictly past the open island's end: close it
            CoverageState(st.firstS, s, e,
              st.closedCov + (st.islE - st.islS),
              st.nIsl + 1L, st.nOrd + 1L)
          else
            CoverageState(st.firstS, st.islS,
              math.max(st.islE, e), st.closedCov, st.nIsl,
              st.nOrd + 1L)
        CoveragePoint(o.o_orderkey, cust, st.nOrd, st.nIsl,
          st.closedCov + (st.islE - st.islS),
          st.islE - st.firstS)
      }
      (st, out)
    }
  }

  /** G44 keyed state: last cents (Long.MinValue = none), previous
    * move, current conditional variance, move count. */
  case class GarchState(lastC: Long, prev: Double, h: Double, n: Long)
  case class GarchPoint(tick_id: Long, symbol: Long, date: String,
                        n_move: Long, move: Double, h: Double,
                        breach: Boolean)

  /** G44 — STREAMING GARCH(1,1) FILTER: the live twin of
    * `Microstructure.garchFilter` (D86) — the fixed-parameter
    * conditional-variance recurrence run per (symbol, day) in keyed
    * state (FOUR scalars), a point per cent move carrying the
    * variance FORECAST that move was measured against and its
    * 2σ-surprise verdict (m² > 4·h — the live vol-breach pager).
    * h₁ = ω/(1−α−β) (the unconditional seed, the identical IEEE
    * expression as the batch fold's init); hᵢ = ω + α·mᵢ₋₁² + β·hᵢ₋₁
    * step-for-step the batch lambda, so the last point per
    * (symbol, day) equals the batch row bit-for-bit (spec'd, and the
    * DuckDB oracle replays the same fold over each move prefix). */
  def garchPoints(ticks: Dataset[Tick], omega: Double, alpha: Double,
                  beta: Double): Dataset[GarchPoint] = {
    import ticks.sparkSession.implicits._
    val seed = omega / (1.0 - alpha - beta)
    // Long.MinValue = no tick seen yet (a plain -1 would conflate
    // "unseen" with a genuinely negative price)
    keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(
        GarchState(Long.MinValue, 0.0, 0.0, 0L)) { (key, s0, rows) =>
      var s = s0
      var out = List.empty[GarchPoint]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        if (s.lastC != Long.MinValue) {
          val m = (c - s.lastC).toDouble
          val h = if (s.n == 0L) seed
            else omega + alpha * s.prev * s.prev + beta * s.h
          s = GarchState(c, m, h, s.n + 1L)
          out = GarchPoint(t.tick_id, key._1, key._2, s.n, m, h,
            m * m > 4.0 * h) :: out
        } else s = s.copy(lastC = c)
      }
      (s, out.reverseIterator)
    }
  }

  /** G46 keyed state: last cents (Long.MinValue = none), the CUSUM
    * register pair, move count, running event count. */
  case class CusumState(lastC: Long, sp: Long, sn: Long, n: Long,
                        nev: Long)
  case class CusumPoint(tick_id: Long, symbol: Long, date: String,
                        n_move: Long, s_pos: Long, s_neg: Long,
                        n_events: Long)

  /** G46 — STREAMING CUSUM EVENT FILTER: D89's live twin — the
    * symmetric CUSUM register pair per (symbol, day) in keyed state
    * (FIVE int64s), a point per cent move carrying the post-update
    * registers and the running event count (the live "something
    * happened" sampler a bar builder subscribes to). Pure integer
    * arithmetic, the identical branch structure as the batch fold
    * (clamp, breach, side-local reset — positive side first), so
    * the last point per (symbol, day) equals the batch row with
    * n_events the day total (spec'd across a batch split); the
    * DuckDB oracle replays the branchless fold over each move
    * prefix. */
  def cusumPoints(ticks: Dataset[Tick], h: Long): Dataset[CusumPoint] = {
    import ticks.sparkSession.implicits._
    require(h > 0, s"h must be positive: $h")
    // Long.MinValue = no tick seen yet (not -1: negative prices round
    // to negative cents and must still diff)
    keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(
        CusumState(Long.MinValue, 0L, 0L, 0L, 0L)) { (key, s0, rows) =>
      var s = s0
      var out = List.empty[CusumPoint]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        if (s.lastC != Long.MinValue) {
          val m = c - s.lastC
          val g = math.max(0L, s.sp + m)
          val l = math.min(0L, s.sn + m)
          val bp = if (g > h) 1L else 0L
          val bn = if (l < -h) 1L else 0L
          s = CusumState(c, g * (1L - bp), l * (1L - bn),
            s.n + 1L, s.nev + bp + bn)
          out = CusumPoint(t.tick_id, key._1, key._2, s.n, s.sp,
            s.sn, s.nev) :: out
        } else s = s.copy(lastC = c)
      }
      (s, out.reverseIterator)
    }
  }

  case class FfdPoint(tick_id: Long, symbol: Long, ffd: Double)

  /** G47 — STREAMING FRACTIONAL DIFFERENCING: D88's live twin — the
    * fixed-width FFD dot product per symbol off a (K+1)-deep ring of
    * last cents in keyed state, a point per tick once the window is
    * full. The weights and the left-assoc dot chain are
    * OPERATION-FOR-OPERATION the batch spelling, so the sink IS the
    * batch q_fracdiff frame row for row (spec'd — the oracle is the
    * batch oracle verbatim). State per symbol: K+1 int64s, crossing
    * day boundaries exactly like the batch window (long memory is
    * the point of FFD). */
  def ffdPoints(ticks: Dataset[Tick], d: Double, k: Int)
      : Dataset[FfdPoint] = {
    import ticks.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1: $k")
    val weights = graft.operators.Microstructure.ffdWeights(d, k)
    keyedFold(ticks, OutputMode.Append)(_.symbol, _.tick_id)(
        List.empty[Long]) { (symbol, ring0, rows) =>
      var ring = ring0
      var out = List.empty[FfdPoint]
      rows.foreach { t =>
        ring = (math.round(t.bid * 100.0) :: ring).take(k + 1)
        if (ring.length == k + 1) {
          // ring head = current tick, matching weight order
          val dot = weights.zip(ring)
            .map { case (w, c) => w * c.toDouble }
            .reduce(_ + _)
          out = FfdPoint(t.tick_id, symbol, dot) :: out
        }
      }
      (ring, out.reverseIterator)
    }
  }

  /** G45 keyed state: the filter pair (x̂, P) plus the tick count
    * (n = 0 marks the unseeded register). */
  case class KalmanState(x: Double, p: Double, n: Long)
  case class KalmanPoint(tick_id: Long, symbol: Long, date: String,
                         n_seen: Long, z: Double, x_filt: Double,
                         p: Double)

  /** G45 — STREAMING KALMAN LOCAL-LEVEL FILTER: the live twin of
    * `Microstructure.kalmanFilter` (D87) — the Riccati-gain level
    * tracker per (symbol, day) in keyed state (THREE scalars), a
    * point per tick carrying the filtered level and error variance
    * AFTER absorbing that observation. Seed x₁ = z₁, P₁ = R; then
    * P' = P + Q, K = P'/(P'+R), x += K·(z−x), P = (1−K)·P' —
    * operation-for-operation the batch fold, so the last point per
    * (symbol, day) equals the batch row bit-for-bit (spec'd) and
    * the DuckDB oracle replays the fold over each tick prefix. */
  def kalmanPoints(ticks: Dataset[Tick], q: Double, r: Double)
      : Dataset[KalmanPoint] = {
    import ticks.sparkSession.implicits._
    keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(
        KalmanState(0.0, 0.0, 0L)) { (key, s0, rows) =>
      var s = s0
      var out = List.empty[KalmanPoint]
      rows.foreach { t =>
        val z = math.round(t.bid * 100.0).toDouble
        s = if (s.n == 0L) KalmanState(z, r, 1L)
        else {
          val pp = s.p + q
          val k = pp / (pp + r)
          KalmanState(s.x + k * (z - s.x), (1.0 - k) * pp, s.n + 1L)
        }
        out = KalmanPoint(t.tick_id, key._1, key._2, s.n, z, s.x,
          s.p) :: out
      }
      (s, out.reverseIterator)
    }
  }

  case class MediaDecision(media_id: Long, kind: String,
                           admitted: Boolean)

  /** G49 — STREAMING MEDIA-DEDUP ADMISSION: the multimodal twin of G3
    * (exact text dedup) — binary media decoded with the REAL codec,
    * keyed state per (kind, decoded-content fingerprint), first
    * arrival admitted, every later copy refused. The fingerprint is
    * the SAME `Multimodal.contentFp` the F78 batch dedup keys on (one
    * spelling), so the live admit set equals the batch keep set
    * whenever arrival order is id order (spec'd across a batch
    * split). State: ONE boolean per distinct content — the minimum
    * any exact-content admission gate must retain. */
  def mediaAdmission(media: Dataset[graft.operators.Multimodal.MediaRow])
      : Dataset[MediaDecision] = {
    import media.sparkSession.implicits._
    keyedFold(media, OutputMode.Append)(
        r => (r.kind, graft.operators.Multimodal.contentFp(r)), _.media_id)(false) {
      (_, seen0, rows) =>
        var seen = seen0
        val out = rows.map { r =>
          val admit = !seen
          seen = true
          MediaDecision(r.media_id, r.kind, admit)
        }
        (seen, out)
    }
  }

  /** G48 keyed state: last cents (Long.MinValue = none), the scalar
    * forward posterior P(low), move count. */
  case class HmmState(lastC: Long, pl: Double, n: Long)
  case class HmmPoint(tick_id: Long, symbol: Long, date: String,
                      n_move: Long, move: Double, p_high: Double,
                      is_high: Boolean)

  /** G48 — STREAMING TWO-STATE REGIME FILTER: the live twin of
    * `Microstructure.hmmFilter` (D90) — the normalized forward
    * recursion per (symbol, day) in keyed state (ONE posterior
    * scalar + the cent register), a point per cent move carrying the
    * post-update P(high) and its regime verdict (posterior > 1/2) —
    * the live regime pager an execution scheduler subscribes to.
    * Arithmetic is operation-for-operation the batch fold (Cauchy
    * kernel, stationary seed, single-scalar posterior with
    * p_H ≡ 1 − p_L), so the last point per (symbol, day) equals the
    * batch row bit-for-bit (spec'd) and the DuckDB oracle replays
    * the fold over each move prefix. */
  def hmmPoints(ticks: Dataset[Tick],
                hp: graft.operators.Microstructure.HmmParams)
      : Dataset[HmmPoint] = {
    import ticks.sparkSession.implicits._
    import hp._
    // Long.MinValue = no tick seen yet (not -1: negative prices round
    // to negative cents and must still diff)
    keyedFold(ticks, OutputMode.Append)(symbolDay, _.tick_id)(
        HmmState(Long.MinValue, 0.0, 0L)) { (key, s0, rows) =>
      var s = s0
      var out = List.empty[HmmPoint]
      rows.foreach { t =>
        val c = math.round(t.bid * 100.0)
        if (s.lastC != Long.MinValue) {
          val m = (c - s.lastC).toDouble
          val eLm = gL / (gL2 + m * m)
          val eHm = gH / (gH2 + m * m)
          // identical expression trees as the batch SQL fold
          val uL = if (s.n == 0L) piL * eLm
            else eLm * (stayL * s.pl + toL * (1.0 - s.pl))
          val uH = if (s.n == 0L) piH * eHm
            else eHm * (toH * s.pl + stayH * (1.0 - s.pl))
          val pl = uL / (uL + uH)
          s = HmmState(c, pl, s.n + 1L)
          out = HmmPoint(t.tick_id, key._1, key._2, s.n, m,
            1.0 - pl, (1.0 - pl) > 0.5) :: out
        } else s = s.copy(lastC = c)
      }
      (s, out.reverseIterator)
    }
  }
}
