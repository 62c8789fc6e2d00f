package graft
package registry

import graft.SparkEntry._
import graft.operators._
import graft.streaming.StreamRegistry

/** The SURVEY §2.G registry keys, streaming: one `Key` record per key,
  * its Spark builder beside the DuckDB SQL its result is hash-checked
  * against.
  *
  * The builders run the G family as REAL streaming queries over the
  * sfDir tape (MemoryStream fed in tape order across micro-batches,
  * memory sink hashed against the batch twin's DuckDB oracle —
  * StreamRegistry's drive protocol). Windowed aggs run Complete over
  * the bounded tape; keyed-state operators run Append exactly as
  * deployed, with per-symbol sentinel ticks closing the final session
  * windows.
  *
  * The oracles are the batch twins of the streaming sinks. The tape is
  * tick_id-ordered and tick_id is globally ts-monotone (verified per
  * corpus), so the stream's (ts, tick_id) tie-breaks collapse to plain
  * tick_id arg_min/arg_max. */
object StreamingKeys {

  val streamGoLive = "2024-01-16"  // G41 go-live date (mid-tape: the
                                // deployment trades the back half)
  val retrainPct = 0.90         // G42 monitoring band (p90 — alert
                                // sensitivity, vs the p99 flag band)
  val retrainConsecutive = 1    // G42 alert at the Nth breach in a row
                                // below exitFrac * p99 threshold

  /** G40/G41/G42 oracle body: the D67 slot chain scored against the
    * DEPLOYMENT's centroid — the per-(symbol, slot) train mean
    * QUANTIZED to int64 micros (sign-split round of su/n_tr; a live
    * model ships integer registers — `SessionScoring.windowUErr`'s
    * `Map[Long, Seq[Long]]`), ending in `er` (symbol, date, win,
    * split, n_ticks, u_err). Same shape as [[windowErrSqlG]] so
    * [[positionChainSql]]/[[testThresholdSql]] compose on top. */
  private lazy val quantWindowErrSql: String =
    s"""$tensorSlotsSql,
      |tmq AS (SELECT symbol, i,
      |    CAST(CASE WHEN sum(u) >= 0
      |      THEN floor(CAST(sum(u) AS DOUBLE) / count(*) + 0.5)
      |      ELSE -floor(-(CAST(sum(u) AS DOUBLE) / count(*)) + 0.5)
      |      END AS BIGINT) AS ubar
      |  FROM uq WHERE split = 'train' GROUP BY 1, 2),
      |ttq AS (SELECT q.symbol, q.date, q.win, q.split, q.n_ticks,
      |    q.i,
      |    CASE WHEN m.ubar IS NULL THEN 0.0
      |      ELSE CAST(q.u - m.ubar AS DOUBLE)
      |        * CAST(q.u - m.ubar AS DOUBLE)
      |        / 1000000.0 / 1000000.0 END AS t
      |  FROM uq q LEFT JOIN tmq m ON m.symbol = q.symbol
      |    AND m.i = q.i),
      |er AS (SELECT symbol, date, win, split,
      |    min(n_ticks) AS n_ticks,
      |    CAST(floor(list_reduce(list_prepend(0.0,
      |      list(t ORDER BY i)), (a, b) -> a + b)
      |      / $tensorSlots * 1000000.0 + 0.5) AS BIGINT) AS u_err
      |  FROM ttq GROUP BY 1, 2, 3, 4)""".stripMargin

  lazy val keys: Seq[Key] = Seq(
    // G1 — streaming 1 s session downsample (tie: lowest tick_id).
    // G1 — the sink is the per-second session downsample itself.
    Key("q_stream_downsample", StreamRegistry.streamDownsample(_, _),
      s"""SELECT symbol, date_trunc('second', ts) AS ts_s,
        |  min(tick_id) AS tick_id, arg_min(bid, tick_id) AS bid,
        |  count(*) AS n_ticks
        |FROM $ticksSql t
        |WHERE (hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50
        |GROUP BY 1, 2 ORDER BY symbol, ts_s""".stripMargin),
    // G4 — streaming per-(symbol, day) tick counts + first/last bid.
    // G4 — per-(symbol, UTC day) counts + first/last bid.
    Key("q_stream_window_counts", StreamRegistry.streamWindowCounts(_, _),
      s"""SELECT symbol, date_trunc('day', ts) AS win_start,
        |  count(*) AS n_ticks, arg_min(bid, tick_id) AS first_bid,
        |  arg_max(bid, tick_id) AS last_bid
        |FROM $ticksSql t
        |GROUP BY 1, 2 ORDER BY symbol, win_start""".stripMargin),
    // G8 — streaming hourly OHLC bars (batch tie-breaks).
    // G8 — hourly OHLC bars, batch tie-breaks.
    Key("q_stream_ohlc", StreamRegistry.streamOhlc(_, _),
      s"""SELECT symbol, date_trunc('hour', ts) AS bucket_start,
        |  arg_min(bid, tick_id) AS open, max(bid) AS high,
        |  min(bid) AS low, arg_max(bid, tick_id) AS close,
        |  count(*) AS n_ticks
        |FROM $ticksSql t
        |GROUP BY 1, 2 ORDER BY symbol, bucket_start""".stripMargin),
    // G13 — streaming daily VWAP (exact-integer-cents formula).
    // G13 — daily VWAP, B8's exact-integer-cents spelling on the
    // day-window timestamp key.
    Key("q_stream_vwap", StreamRegistry.streamVwap(_, _),
      """SELECT symbol, bucket_start,
        |  CAST((_n * 200 + _d) // (_d * 2) AS DOUBLE) / 10000.0 AS vwap,
        |  total_qty, n_trades FROM (
        |  SELECT user_id AS symbol, date_trunc('day', ts) AS bucket_start,
        |    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)
        |      * CAST(props->>'$.k' AS INT)) AS BIGINT) AS _n,
        |    CAST(nullif(sum(CAST(props->>'$.k' AS INT)), 0) AS BIGINT)
        |      AS _d,
        |    CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS total_qty,
        |    count(*) AS n_trades
        |  FROM events GROUP BY 1, 2) x
        |ORDER BY symbol, bucket_start""".stripMargin),
    // G12 — per-tick tick-rule classes off one-double keyed state.
    // G12 — per-tick tick-rule classes (lag over the symbol tape).
    Key("q_stream_tick_classes", StreamRegistry.streamTickClasses(_, _),
      s"""SELECT tick_id, symbol,
        |  CASE WHEN prev IS NULL THEN 'first'
        |       WHEN bid > prev THEN 'up'
        |       WHEN bid < prev THEN 'down' ELSE 'zero' END AS cls
        |FROM (SELECT tick_id, symbol, bid,
        |    lag(bid) OVER (PARTITION BY symbol ORDER BY tick_id) AS prev
        |  FROM $ticksSql t) x
        |ORDER BY tick_id""".stripMargin),
    // G35 — per-tick drawdown points off the running-peak register.
    // G35 — per-tick running peak + drawdown ratio (NULL on zero peak).
    Key("q_stream_drawdown", StreamRegistry.streamDrawdown(_, _),
      s"""SELECT tick_id, symbol, cummax,
        |  CASE WHEN cummax != 0 THEN (cummax - bid) / cummax END
        |    AS drawdown
        |FROM (SELECT tick_id, symbol, bid,
        |    max(bid) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cummax
        |  FROM $ticksSql t) x
        |ORDER BY tick_id""".stripMargin),
    // G3 — streaming exact dedup (md5 keyed state, first-in wins).
    // G3 — exact dedup: the doc_id-ordered feed makes the keeper the
    // MIN doc_id of each md5 content class.
    Key("q_stream_dedup_exact", StreamRegistry.streamDedupExact(_, _),
      """SELECT doc_id, md5(text) AS content_hash,
        |  doc_id != min(doc_id) OVER (PARTITION BY md5(text))
        |    AS isDuplicate
        |FROM documents ORDER BY doc_id""".stripMargin),
    // G40 — live window-anomaly scoring with the batch-trained
    // scaler/quantized-centroid/p99 band.
    // G40 — every tape session window scored against the trained
    // band: the D67 chain with the deployment's QUANTIZED int64
    // centroid (sign-split round of su/n_tr — live registers ship
    // as integers) and the p99 threshold over the SAME quantized
    // errors' test split.
    Key("q_stream_anomaly", (s, d) =>
      StreamRegistry.streamAnomaly(s, d, tensorSlots, reconFlagPct),
      s"""WITH $quantWindowErrSql,
        |thq AS (SELECT symbol, quantile_cont(u_err, $reconFlagPct)
        |    AS qu
        |  FROM er WHERE split = 'test' GROUP BY 1)
        |SELECT e.symbol AS symbol, e.date AS date, e.win AS win,
        |  e.n_ticks AS n_ticks,
        |  CAST(u_err AS DOUBLE) / 1000000.0 AS err,
        |  COALESCE(CAST(u_err AS DOUBLE) > t.qu, FALSE) AS is_anomaly
        |FROM er e LEFT JOIN thq t USING (symbol)
        |ORDER BY symbol, date, win""".stripMargin),
    // G43 — the batch-trained D84 autoencoder served live.
    // G43 — the D84 cascade's trained weights score every window of
    // a trained symbol; flag at the test p99 of the SAME errors.
    Key("q_stream_gd_scores", (s, d) =>
      StreamRegistry.streamGdScores(s, d, tensorSlots, 2, 4, 0.0625,
        reconFlagPct),
      (gdCascadeSql(tensorSlots, 2, 4, 0.0625, reconFlagPct,
        withVal = false) +
      s""",
        |gwin AS (SELECT symbol, date, win, min(n_ticks) AS n_ticks
        |  FROM uq GROUP BY 1, 2, 3)
        |SELECT f.symbol AS symbol, f.date AS date, f.win AS win,
        |  g.n_ticks AS n_ticks,
        |  CAST(f.err_ppm AS DOUBLE) / 1000000.0 AS err,
        |  COALESCE(CAST(f.err_ppm AS DOUBLE) > t.qu, FALSE)
        |    AS is_anomaly
        |FROM ferr f JOIN gwin g USING (symbol, date, win)
        |LEFT JOIN fth t USING (symbol)
        |ORDER BY symbol, date, win""".stripMargin)),
    // G41 — the D76 backtest deployed live from the go-live date.
    // G41 — the live position tracker: quantized-band entries/exits
    // via D76's last_value IGNORE NULLS position machine, restricted
    // to the go-live roster (date >= fromDate replaces the batch
    // test-split roster), exact-cent step P&L per traded window.
    Key("q_stream_positions", (s, d) =>
      StreamRegistry.streamPositions(s, d, tensorSlots, reconFlagPct,
        signalExitFrac, streamGoLive),
      s"""WITH $quantWindowErrSql,
        |$testThresholdSql,
        |${positionChainSql("JOIN th ON th.symbol = er.symbol",
          ", th.qu", "symbol",
          bbPred = s"er.date >= '$streamGoLive'")}
        |SELECT symbol, date, win,
        |  CAST(u_err AS DOUBLE) / 1000000.0 AS err,
        |  pos, pos_prev,
        |  CAST(CASE WHEN dc IS NOT NULL THEN pos_prev * dc
        |    ELSE 0 END AS BIGINT) AS pnl_step_cents
        |FROM pp ORDER BY symbol, date, win""".stripMargin),
    // G42 — retrain alerts at the Nth consecutive p90 breach.
    // G42 — the retrain monitor: breach runs over the quantized
    // errors at the deployment's p90 band, one alert per run at the
    // Nth consecutive breach (D83's run-id idiom).
    Key("q_stream_retrain", (s, d) =>
      StreamRegistry.streamRetrain(s, d, tensorSlots, retrainPct,
        retrainConsecutive),
      s"""WITH $quantWindowErrSql,
        |thr AS (SELECT symbol, quantile_cont(u_err, $retrainPct)
        |    AS qu
        |  FROM er WHERE split = 'test' GROUP BY 1),
        |fb AS (SELECT er.symbol, er.date, er.win, er.u_err,
        |    CASE WHEN t.qu IS NOT NULL
        |      AND CAST(er.u_err AS DOUBLE) > t.qu
        |      THEN 1 ELSE 0 END AS breach
        |  FROM er LEFT JOIN thr t ON t.symbol = er.symbol),
        |fs AS (SELECT *, CASE WHEN breach = 1
        |      AND coalesce(lag(breach) OVER w, 0) = 0
        |    THEN 1 ELSE 0 END AS start
        |  FROM fb WINDOW w AS (PARTITION BY symbol ORDER BY date,
        |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END)),
        |fr AS (SELECT *, CAST(sum(start) OVER (PARTITION BY symbol
        |    ORDER BY date, CASE WHEN win = 'morning' THEN 0 ELSE 1 END
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS run_id
        |  FROM fs),
        |fx AS (SELECT *, row_number() OVER (
        |    PARTITION BY symbol, run_id ORDER BY date,
        |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END) AS idx
        |  FROM fr WHERE breach = 1)
        |SELECT symbol, date, win,
        |  CAST($retrainConsecutive AS BIGINT) AS streak,
        |  CAST(u_err AS DOUBLE) / 1000000.0 AS err
        |FROM fx WHERE idx = $retrainConsecutive
        |ORDER BY symbol, date, win""".stripMargin),
    // G5 — native session_window gap sessionization (5 min gap).
    // G5 — gaps-and-islands dual of session_window: a session breaks
    // when the gap to the previous tick reaches the 5-minute gap
    // (session end is exclusive at last + gap); bounds emitted as
    // exact epoch-µs int64 (§6: no sub-second timestamp cells).
    Key("q_stream_sessions", (s, d) =>
      StreamRegistry.streamSessions(s, d, "5 minutes"),
      s"""WITH t AS (SELECT symbol, ts, tick_id, bid FROM $ticksSql t),
        |x AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |    THEN 1 ELSE 0 END AS brk
        |  FROM t WINDOW w AS (PARTITION BY symbol ORDER BY ts, tick_id)),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY symbol
        |    ORDER BY ts, tick_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT symbol, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts) + INTERVAL 5 MINUTE) AS session_end_us,
        |  count(*) AS n_ticks, arg_min(bid, tick_id) AS first_bid
        |FROM g GROUP BY symbol, sid
        |ORDER BY symbol, session_start_us""".stripMargin),
    // G23 — the count-min cell grid as live aggregation state.
    // G23 — the F47 cell derivation, cells only (4 rows × 1024).
    Key("q_stream_cms", StreamRegistry.streamCms(_, _), {
      import graft.functions.PortableText._
      s"""WITH occ AS (SELECT ${duckPolyHash("token")} AS h
        |  FROM (SELECT unnest($duckTokens) AS token FROM documents) t)
        |SELECT CAST(rc.j AS INT) AS rw,
        |  ((2*rc.j+3)*occ.h + 5*rc.j+7) % $P % 1024 AS cell,
        |  count(*) AS cnt
        |FROM occ, (SELECT unnest(range(4)) AS j) rc
        |GROUP BY 1, 2 ORDER BY rw, cell""".stripMargin
    }),
    // G14 — streaming CDC register, max-seq wins per key.
    // G14 — the CDC register's final state per key: max-seq wins,
    // n_changes counts every change seen.
    Key("q_stream_cdc", StreamRegistry.streamCdc(_, _),
      """SELECT user_id AS key, max(event_id) AS last_seq,
        |  arg_max(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END,
        |    event_id) AS last_op,
        |  arg_max(value, event_id) AS value,
        |  count(*) AS n_changes
        |FROM events GROUP BY 1 ORDER BY key""".stripMargin),
    // G18 — volume bars: closed bars only (the open tail lives in
    // keyed state).
    // G18 — the D30 bar ladder minus each symbol's trailing partial
    // bar (Append emits closed bars only; the open bar is state).
    Key("q_stream_volume_bars", (s, d) =>
      StreamRegistry.streamVolumeBars(s, d, barQtyParam),
      s"""SELECT * FROM (
        |  SELECT symbol, bar_id,
        |    CAST(sum(k) AS BIGINT) AS bar_qty,
        |    count(*) AS n_ticks,
        |    arg_min(cents, event_id) AS open_cents,
        |    max(cents) AS high_cents,
        |    min(cents) AS low_cents,
        |    arg_max(cents, event_id) AS close_cents,
        |    strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S')
        |      AS ts_first,
        |    strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S')
        |      AS ts_last
        |  FROM (
        |    SELECT symbol, event_id, ts, cents, k,
        |      CAST(greatest(sum(k) OVER (PARTITION BY symbol
        |        ORDER BY event_id ROWS UNBOUNDED PRECEDING) - 1, 0)
        |        // $barQtyParam AS BIGINT) AS bar_id
        |    FROM (
        |      SELECT user_id AS symbol, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |        CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |        coalesce(CAST(props->>'$$.k' AS BIGINT), 0) AS k
        |      FROM events) y) x
        |  GROUP BY symbol, bar_id
        |  QUALIFY bar_id < max(bar_id) OVER (PARTITION BY symbol)) z
        |ORDER BY symbol, bar_id""".stripMargin),
    // G20 — per-tick running TWAP (exact-integer half-up formula).
    // G20 — running TWAP: prefix sums of B13's exact-integer interval
    // ladder (prev cents × µs gap), emitted once Σdur > 0; n_weighted
    // counts every completed interval including zero-µs ones.
    Key("q_stream_twap", StreamRegistry.streamTwap(_, _),
      s"""WITH p AS (SELECT symbol, CAST(ts AS DATE) AS _date, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS cents,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM $ticksSql t),
        |i AS (SELECT symbol, _date, tick_id,
        |    lag(cents) OVER w AS pc, us - lag(us) OVER w AS dur
        |  FROM p WINDOW w AS (PARTITION BY symbol, _date
        |    ORDER BY tick_id)),
        |c AS (SELECT symbol, _date,
        |    CAST(row_number() OVER (PARTITION BY symbol, _date
        |      ORDER BY tick_id) AS BIGINT) AS n_weighted,
        |    CAST(sum(pc * dur) OVER w2 AS BIGINT) AS s,
        |    CAST(sum(dur) OVER w2 AS BIGINT) AS d
        |  FROM i WHERE dur IS NOT NULL
        |  WINDOW w2 AS (PARTITION BY symbol, _date ORDER BY tick_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, strftime(_date, '%Y-%m-%d') AS date, n_weighted,
        |  CAST((s * 200 + d) // (d * 2) AS DOUBLE) / 10000.0 AS twap
        |FROM c WHERE d > 0
        |ORDER BY symbol, date, n_weighted""".stripMargin),
    // G19 — one-tick-lookahead spike decisions (batch minus each
    // symbol's final tick, still awaiting its successor).
    // G19 — the B12 frame minus each symbol's last tick (its verdict
    // waits on a successor that never arrives on a bounded tape).
    Key("q_stream_spikes", (s, d) =>
      StreamRegistry.streamSpikes(s, d, spikeBp),
      s"""SELECT tick_id, symbol, cents, is_spike,
        |  CASE WHEN is_spike THEN (prev + next + 1) // 2
        |    ELSE cents END AS repaired_cents
        |FROM (
        |  SELECT tick_id, symbol, cents, prev, next,
        |    prev IS NOT NULL AND next IS NOT NULL
        |      AND abs(cents - prev) * 10000 > $spikeBp * prev
        |      AND abs(cents - next) * 10000 > $spikeBp * next
        |      AND (cents - prev) * (cents - next) > 0 AS is_spike
        |  FROM (
        |    SELECT tick_id, symbol,
        |      CAST(round(bid * 100.0, 0) AS BIGINT) AS cents,
        |      lag(CAST(round(bid * 100.0, 0) AS BIGINT), 1)
        |        OVER w AS prev,
        |      lead(CAST(round(bid * 100.0, 0) AS BIGINT), 1)
        |        OVER w AS next
        |    FROM $ticksSql t
        |    WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)) x) y
        |WHERE next IS NOT NULL
        |ORDER BY tick_id""".stripMargin),
    // G22 — running realized moments, a point per move once var > 0.
    // G22 — D39's moment formulas over PREFIX power sums (the cent
    // moves are integer-valued doubles, so the prefix sums are exact
    // in both engines); rows emit once variance is positive.
    Key("q_stream_moments", StreamRegistry.streamMoments(_, _),
      s"""WITH x AS (SELECT symbol, tick_id, CAST(ts AS DATE) AS _date,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS c
        |  FROM $ticksSql t),
        |dd AS (SELECT symbol, _date, tick_id,
        |    CAST(c - lag(c) OVER (PARTITION BY symbol, _date
        |      ORDER BY tick_id) AS DOUBLE) AS d
        |  FROM x),
        |r AS (SELECT symbol, _date,
        |    CAST(row_number() OVER (PARTITION BY symbol, _date
        |      ORDER BY tick_id) AS BIGINT) AS n_moves,
        |    sum(d) OVER w2 AS s1, sum(d * d) OVER w2 AS s2,
        |    sum(d * d * d) OVER w2 AS s3,
        |    sum(d * d * d * d) OVER w2 AS s4
        |  FROM dd WHERE d IS NOT NULL
        |  WINDOW w2 AS (PARTITION BY symbol, _date ORDER BY tick_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT symbol, _date, n_moves,
        |    s1 / n_moves AS m1, s2 / n_moves AS m2,
        |    s3 / n_moves AS m3, s4 / n_moves AS m4
        |  FROM r),
        |v AS (SELECT *, m2 - m1 * m1 AS _var FROM m)
        |SELECT symbol, strftime(_date, '%Y-%m-%d') AS date, n_moves,
        |  round(_var, 4) AS variance,
        |  round((m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
        |    / (_var * sqrt(_var)), 4) AS skewness,
        |  round((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
        |    - 3.0 * m1 * m1 * m1 * m1) / (_var * _var) - 3.0, 4)
        |    AS ex_kurtosis
        |FROM v WHERE _var > 0
        |ORDER BY symbol, date, n_moves""".stripMargin),
    // G26 — live TCA: fill-aligned running-VWAP slippage points.
    // G26 — the D52 fill report verbatim: both divisions of exact
    // int64 prefix sums, zero-qty quotes transparent.
    Key("q_stream_running_vwap", (s, d) =>
      StreamRegistry.streamRunningVwap(s, d, tcaFillEvery),
      s"""WITH p AS (SELECT event_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS BIGINT), 0) AS k
        |  FROM events),
        |t AS (SELECT * FROM p WHERE k > 0),
        |r AS (SELECT symbol, event_id, day, cents,
        |    CAST(sum(k) OVER w2 AS BIGINT) AS cum_qty,
        |    CAST(sum(cents * k) OVER w2 AS BIGINT) AS cum_pv
        |  FROM t
        |  WINDOW w2 AS (PARTITION BY symbol, day ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, event_id AS fill_id,
        |  strftime(day, '%Y-%m-%d') AS day,
        |  cents AS exec_cents, cum_qty,
        |  CAST(cum_pv AS DOUBLE) / cum_qty AS run_vwap_cents,
        |  CAST((cents * cum_qty - cum_pv) * 10000 AS DOUBLE) / cum_pv
        |    AS slip_bp
        |FROM r WHERE event_id % $tcaFillEvery = 0
        |ORDER BY symbol, fill_id""".stripMargin),
    // G21 — triple-barrier labels at the deciding tick (batch minus
    // feed-truncated horizon entries, which stay open in state).
    // G21 — the D38 ladder with the stream's decide-time column:
    // label ±1 decides at the first barrier hit, label 0 at the
    // horizon'th lookahead; feed-truncated label-0 entries (still
    // open in state) are excluded.
    Key("q_stream_triple_barrier", (s, d) =>
      StreamRegistry.streamTripleBarrier(s, d, tbEntryEvery, tbHorizon,
        tbBarrierBp),
      s"""WITH x AS (
        |  SELECT symbol, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY symbol ORDER BY tick_id)
        |      AS BIGINT) AS idx
        |  FROM $ticksSql t),
        |e AS (SELECT symbol, idx AS e_idx, tick_id AS entry_id, c AS e_c
        |  FROM x WHERE idx % $tbEntryEvery = 1),
        |j AS (
        |  SELECT e.symbol, e.e_idx, e.entry_id, e.e_c,
        |    min(CASE WHEN f.c * 10000 >= e.e_c * (10000 + $tbBarrierBp)
        |      THEN f.idx END) AS up_idx,
        |    min(CASE WHEN f.c * 10000 <= e.e_c * (10000 - $tbBarrierBp)
        |      THEN f.idx END) AS dn_idx,
        |    count(*) AS n_lookahead
        |  FROM e JOIN x f ON f.symbol = e.symbol
        |    AND f.idx > e.e_idx AND f.idx <= e.e_idx + $tbHorizon
        |  GROUP BY 1, 2, 3, 4),
        |lb AS (SELECT symbol, e_idx, entry_id, e_c, up_idx, dn_idx,
        |    n_lookahead,
        |  CASE WHEN up_idx IS NOT NULL AND (dn_idx IS NULL OR up_idx < dn_idx)
        |    THEN 1
        |  WHEN dn_idx IS NOT NULL AND (up_idx IS NULL OR dn_idx < up_idx)
        |    THEN -1
        |  ELSE 0 END AS label
        |FROM j)
        |SELECT symbol, e_idx, entry_id, e_c, label,
        |  CASE WHEN label = 1 THEN up_idx
        |       WHEN label = -1 THEN dn_idx
        |       ELSE e_idx + $tbHorizon END AS decided_idx
        |FROM lb WHERE label != 0 OR n_lookahead = $tbHorizon
        |ORDER BY symbol, e_idx""".stripMargin),
    // G24 — running price-response curve, a point per lag per tick.
    // G24 — the running R(l) ladder: per-tick prefix counts/sums of
    // the settle-time contributions (lag-l sign x move), one row per
    // (tick, lag) once the lag has observations. Branches generated
    // from respLags like the batch D45 oracle.
    Key("q_stream_response", (s, d) =>
      StreamRegistry.streamResponse(s, d, respLags),
      s"""WITH x AS (
        |  SELECT symbol, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS c
        |  FROM $ticksSql t),
        |sg AS (SELECT symbol, tick_id, c,
        |    CASE WHEN lag(c) OVER w IS NULL THEN 0
        |         WHEN c > lag(c) OVER w THEN 1
        |         WHEN c < lag(c) OVER w THEN -1 ELSE 0 END AS sgn
        |  FROM x WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)),
        |u AS (
        |${respLags.map(l =>
          s"""  SELECT symbol, tick_id, $l AS lag,
            |    CASE WHEN lag(sgn, $l) OVER wl$l != 0
            |      THEN lag(sgn, $l) OVER wl$l * (c - lag(c, $l) OVER wl$l)
            |    END AS contrib
            |  FROM sg WINDOW wl$l AS (PARTITION BY symbol ORDER BY tick_id)"""
            .stripMargin).mkString("\n  UNION ALL\n")}
        |),
        |r AS (SELECT symbol, lag,
        |    CAST(count(contrib) OVER w2 AS BIGINT) AS n_obs,
        |    CAST(sum(contrib) OVER w2 AS BIGINT) AS s
        |  FROM u
        |  WINDOW w2 AS (PARTITION BY symbol, lag ORDER BY tick_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, lag, n_obs,
        |  CAST(s AS DOUBLE) / n_obs AS resp_cents
        |FROM r WHERE n_obs > 0
        |ORDER BY symbol, lag, n_obs, resp_cents""".stripMargin),
    // G27 — learned-quality admission on the live doc feed.
    // G27 — the F73 margin spelling per doc, admission on the sign.
    Key("q_stream_classifier", StreamRegistry.streamClassifier(_, _), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok
        |  FROM documents),
        |ft AS (SELECT doc_id, ${duckPolyHash("tok")} % 1024 AS bucket
        |  FROM tok),
        |w AS (SELECT r AS bucket, (r * 37 + 11) % 21 - 10 AS w
        |  FROM (SELECT unnest(range(1024)) AS r)),
        |ag AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(w.w) AS BIGINT) AS margin
        |  FROM ft JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(ag.n_tokens, 0) AS n_tokens,
        |  coalesce(ag.margin, 0) AS margin,
        |  coalesce(ag.margin, 0) >= 0 AS admitted
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    }),
    // G31 — per-source HLL novelty snapshots, one per touched batch.
    // G31 — the snapshot ladder: for every (source, chunk) with new
    // grams, the 32-register summary over that source's grams in the
    // deterministic 4-chunk tape prefix (per = ceil(N/4), doc_id
    // order — the drive's `quarters` split verbatim).
    Key("q_stream_hll", StreamRegistry.streamHll(_, _), {
      import graft.functions.PortableText._
      s"""WITH nd AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS per
        |  FROM documents),
        |d1 AS (SELECT source, text,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // per AS chunk
        |  FROM documents, nd),
        |tok AS (SELECT source, chunk, $duckTokens AS tk FROM d1),
        |g AS (SELECT source, chunk,
        |    unnest(list_transform(range(1, length(tk)),
        |      i -> array_to_string(tk[i:i+1], ' '))) AS gram
        |  FROM tok),
        |p1 AS (SELECT source, chunk,
        |    (3 * ${duckPolyHash("gram")} + 7) % $P AS u FROM g),
        |p2 AS (SELECT source, chunk, u % 32 AS reg, u // 32 AS rest
        |  FROM p1),
        |p3 AS (SELECT source, chunk, reg, list_reduce(
        |    list_prepend(CAST(26 AS BIGINT),
        |      list_transform(range(1, 26), j -> j)),
        |    (acc, j) -> CASE WHEN acc = 26
        |        AND (rest >> CAST(25 - j AS INT)) % 2 = 1
        |      THEN j ELSE acc END) AS rho
        |  FROM p2),
        |touched AS (SELECT DISTINCT source, chunk FROM g),
        |pre AS (SELECT t.source, t.chunk, p.reg, max(p.rho) AS m_reg
        |  FROM touched t JOIN p3 p ON p.source = t.source
        |    AND p.chunk <= t.chunk
        |  GROUP BY 1, 2, 3),
        |allr AS (SELECT t.source, t.chunk, r.reg,
        |    coalesce(pre.m_reg, 0) AS m_reg
        |  FROM touched t
        |  CROSS JOIN (SELECT unnest(range(32)) AS reg) r
        |  LEFT JOIN pre ON pre.source = t.source
        |    AND pre.chunk = t.chunk AND pre.reg = r.reg),
        |summ AS (SELECT source, chunk,
        |    CAST(sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_registers,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(26 - m_reg AS INT))
        |      AS BIGINT) AS sum_scaled
        |  FROM allr GROUP BY 1, 2)
        |SELECT source, n_zero_registers, sum_scaled,
        |  cast(0.697 as double) * 1024 * 67108864
        |    / cast(sum_scaled as double) AS est_ndv
        |FROM summ
        |ORDER BY source, n_zero_registers, sum_scaled""".stripMargin
    }),
    // G30 — trailing-window order velocity served at arrival.
    // G30 — E17's RANGE frame verbatim on the epoch-day axis.
    Key("q_stream_order_velocity", (s, d) =>
      StreamRegistry.streamOrderVelocity(s, d, velocityDays),
      s"""SELECT o_orderkey, o_custkey,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS INT) AS day_i,
        |  count(*) OVER (PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN $velocityDays PRECEDING AND 1 PRECEDING)
        |    AS n_prior
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // G38 — per-user path edges off the last-type register.
    // G38 — the per-user lag edges (the E19 census BEFORE counting):
    // event_id order is the tape's arrival order.
    Key("q_stream_path_edges", StreamRegistry.streamPathEdges(_, _),
      """SELECT user_id, prev_type, event_type AS next_type
        |FROM (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS prev_type
        |  FROM events) x
        |WHERE prev_type IS NOT NULL
        |ORDER BY user_id, prev_type, next_type""".stripMargin),
    // G34 — release-manifest accumulation ladder per split.
    // G34 — the F90 manifest as a snapshot ladder over the
    // deterministic 4-chunk tape prefixes (one row per split per
    // touched chunk; checksum = mod-p sum, the fold dual).
    Key("q_stream_manifest", StreamRegistry.streamManifest(_, _), {
      import graft.functions.PortableText._
      s"""WITH nd AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS per
        |  FROM documents),
        |d1 AS (SELECT doc_id,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // per AS chunk,
        |    CASE WHEN ${duckHashOrder("doc_id")} % 100 < 80
        |           THEN 'train'
        |         WHEN ${duckHashOrder("doc_id")} % 100 < 90
        |           THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(length($duckTokens) AS BIGINT) AS n_toks,
        |    $duckDocFingerprint AS fp
        |  FROM documents, nd),
        |touched AS (SELECT DISTINCT split, chunk FROM d1)
        |SELECT t.split AS split, count(*) AS n_docs,
        |  CAST(sum(d.n_toks) AS BIGINT) AS n_tokens,
        |  CAST(CAST(sum(d.fp) AS HUGEINT) % $P AS BIGINT)
        |    AS content_checksum,
        |  min(d.doc_id) AS min_doc_id, max(d.doc_id) AS max_doc_id
        |FROM touched t JOIN d1 d ON d.split = t.split
        |  AND d.chunk <= t.chunk
        |GROUP BY t.split, t.chunk
        |ORDER BY split, n_docs""".stripMargin
    }),
    // G15 — burst flags vs the batch-trained p90 thresholds.
    // G15 — flagged minutes vs the offline-trained rounded p90 rates
    // (B10's threshold spelling at the deployed minute grain).
    Key("q_stream_burst", (s, d) =>
      StreamRegistry.streamBurst(s, d, 0.90),
      s"""WITH per AS (
        |  SELECT symbol, date_trunc('minute', ts) AS sec,
        |    count(*) AS n
        |  FROM $ticksSql t
        |  GROUP BY symbol, date_trunc('minute', ts)),
        |thr AS (
        |  SELECT symbol, round(quantile_cont(n, 0.90), 4) AS thr
        |  FROM per GROUP BY symbol)
        |SELECT p.symbol, p.sec, p.n, t.thr
        |FROM per p JOIN thr t USING (symbol)
        |WHERE p.n > t.thr
        |ORDER BY symbol, sec""".stripMargin),
    // G25 — seasonal-anomaly scoring vs the offline baseline.
    // G25 — the D48 per-tick flag frame verbatim (the stream trains
    // its baseline on the same corpus it scores).
    Key("q_stream_seasonal", (s, d) =>
      StreamRegistry.streamSeasonal(s, d, seasonalZThr),
      s"""WITH mv AS (
        |  SELECT symbol, tick_id,
        |    CAST(hour(ts) * 60 + minute(ts) AS INT) AS minute_od,
        |    CAST(abs(cents - prev) AS DOUBLE) AS mv
        |  FROM (
        |    SELECT symbol, tick_id, ts, cents,
        |      lag(cents) OVER (PARTITION BY symbol, CAST(ts AS DATE)
        |        ORDER BY tick_id) AS prev
        |    FROM (
        |      SELECT symbol, tick_id, ts,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |      FROM $ticksSql t) c) p
        |  WHERE prev IS NOT NULL),
        |base AS (SELECT minute_od, avg(mv) AS mu,
        |    stddev_samp(mv) AS sigma
        |  FROM mv GROUP BY minute_od)
        |SELECT symbol, tick_id, minute_od, mv,
        |  round(CASE WHEN sigma <> 0 THEN (mv - mu) / sigma END, 4)
        |    AS zscore
        |FROM mv JOIN base USING (minute_od)
        |WHERE abs(CASE WHEN sigma <> 0 THEN (mv - mu) / sigma END)
        |  > $seasonalZThr
        |ORDER BY symbol, tick_id""".stripMargin),
    // G6 — stream-stream interval join (1 h lookback, 20th-tick
    // trades vs the full quote tape).
    // G6 — the interval join as plain SQL: 20th-tick trades vs the
    // full quote tape, symbol-matched in the trailing hour,
    // timestamps emitted as exact epoch-µs.
    Key("q_stream_interval_join", (s, d) =>
      StreamRegistry.streamIntervalJoin(s, d, "1 hour"),
      s"""WITH tq AS (SELECT tick_id, symbol, ts, bid FROM $ticksSql t),
        |tr AS (SELECT tick_id AS trade_id, symbol, ts AS trade_ts
        |  FROM tq WHERE tick_id % 20 = 0)
        |SELECT tr.trade_id, tr.symbol,
        |  epoch_us(tr.trade_ts) AS trade_us,
        |  epoch_us(q.ts) AS quote_us, q.bid AS quote_bid
        |FROM tr JOIN tq q ON q.symbol = tr.symbol
        |  AND q.ts >= tr.trade_ts - INTERVAL 1 HOUR
        |  AND q.ts <= tr.trade_ts
        |ORDER BY trade_id, quote_us, quote_bid""".stripMargin),
    // G11 — per-tick running EWMA (half-life recursion per day).
    // G11 — per-tick EWMA: the D15 fold over the PREFIX list (the
    // windowed-list dual of q_ewma's whole-day reduce).
    Key("q_stream_ewma", StreamRegistry.streamEwma(_, _),
      s"""SELECT tick_id, symbol,
        |  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |  CAST(row_number() OVER wn AS BIGINT) AS n_seen,
        |  list_reduce(list(bid) OVER wl,
        |    (acc, x) -> (x + acc) * cast(0.5 as double)) AS ewma
        |FROM $ticksSql t
        |WINDOW wn AS (PARTITION BY symbol, CAST(ts AS DATE)
        |    ORDER BY tick_id),
        |  wl AS (PARTITION BY symbol, CAST(ts AS DATE)
        |    ORDER BY tick_id ROWS UNBOUNDED PRECEDING)
        |ORDER BY tick_id""".stripMargin),
    // G29 — point-in-time feature serving, E16 row for row.
    // G29 — E16's offline join verbatim (the serving cache equals the
    // training join row for row — that parity IS the key's point).
    Key("q_stream_pit", StreamRegistry.streamPit(_, _),
      """SELECT t.event_id AS fact_id, t.user_id AS symbol,
        |  a.value AS a_val,
        |  epoch_us(t.ts) - epoch_us(a.ts) AS a_age_us,
        |  b.value AS b_val,
        |  epoch_us(t.ts) - epoch_us(b.ts) AS b_age_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |ASOF LEFT JOIN (SELECT * FROM events
        |    WHERE event_type = 'click') a
        |  ON t.user_id = a.user_id AND t.ts >= a.ts
        |ASOF LEFT JOIN (SELECT * FROM events
        |    WHERE event_type = 'view') b
        |  ON t.user_id = b.user_id AND t.ts >= b.ts
        |ORDER BY fact_id""".stripMargin),
    // G28 — live KS drift per source vs the offline length CDF.
    // G28 — the KS ladder: per (source, touched chunk), the sup walk
    // of the prefix histogram's CDF against the corpus reference CDF
    // (strict-greater ties to the lowest bin; banker's-rounded
    // display, the rint dual).
    Key("q_stream_ks_drift", (s, d) =>
      StreamRegistry.streamKsDrift(s, d, 128), {
      val maxLen = 128
      import graft.functions.PortableText._
      s"""WITH nd AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS per
        |  FROM documents),
        |d1 AS (SELECT source,
        |    least(length($duckTokens), $maxLen) AS len,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // per AS chunk
        |  FROM documents, nd),
        |touched AS (SELECT DISTINCT source, chunk FROM d1),
        |pre AS (SELECT t.source, t.chunk, d.len, count(*) AS c
        |  FROM touched t JOIN d1 d ON d.source = t.source
        |    AND d.chunk <= t.chunk
        |  GROUP BY 1, 2, 3),
        |tot AS (SELECT source, chunk, CAST(sum(c) AS BIGINT) AS total
        |  FROM pre GROUP BY 1, 2),
        |rh AS (SELECT len, count(*) AS c FROM d1 GROUP BY 1),
        |rt AS (SELECT CAST(sum(c) AS DOUBLE) AS rtotal FROM rh),
        |grid AS (SELECT unnest(range(${maxLen + 1})) AS i),
        |rc AS (SELECT g.i,
        |    CAST(coalesce(sum(rh.c), 0) AS DOUBLE) / rt.rtotal AS ref
        |  FROM grid g CROSS JOIN rt LEFT JOIN rh ON rh.len <= g.i
        |  GROUP BY g.i, rt.rtotal),
        |sc AS (SELECT t.source, t.chunk, g.i,
        |    CAST(coalesce(sum(p.c), 0) AS BIGINT) AS cum
        |  FROM touched t CROSS JOIN grid g
        |  LEFT JOIN pre p ON p.source = t.source AND p.chunk = t.chunk
        |    AND p.len <= g.i
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT sc.source, sc.chunk, sc.i, tot.total,
        |    abs(CAST(sc.cum AS DOUBLE) / tot.total - rc.ref) AS diff
        |  FROM sc JOIN tot ON tot.source = sc.source
        |    AND tot.chunk = sc.chunk
        |  JOIN rc ON rc.i = sc.i),
        |sel AS (SELECT source, chunk, total, i, diff,
        |    row_number() OVER (PARTITION BY source, chunk
        |      ORDER BY diff DESC, i ASC) AS rk
        |  FROM df)
        |SELECT source, total AS n_docs,
        |  roundbankers(diff * 10000.0, 0) / 10000.0 AS ks_stat,
        |  CAST(i AS INT) AS ks_at_len
        |FROM sel WHERE rk = 1
        |ORDER BY source, n_docs""".stripMargin
    }),
    // G36 — running interval-union coverage per customer.
    // G36 — the running gaps-and-islands report: per arrival, closed
    // islands' mass plus the open island's (running-max-end − start),
    // span = running max end − first start. All exact int64.
    Key("q_stream_coverage", (s, d) =>
      StreamRegistry.streamCoverage(s, d, coverageWindowDays),
      s"""WITH o AS (SELECT o_orderkey, o_custkey,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      + $coverageWindowDays AS e
        |  FROM orders),
        |r AS (SELECT *,
        |    CAST(max(e) OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rmax,
        |    CASE WHEN max(e) OVER (PARTITION BY o_custkey
        |        ORDER BY s, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY o_custkey
        |        ORDER BY s, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |g AS (SELECT *,
        |    CAST(sum(brk) OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS isl,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY s, o_orderkey) AS BIGINT) AS n_orders
        |  FROM r),
        |ia AS (SELECT o_custkey, isl, min(s) AS si, max(e) AS ei
        |  FROM g GROUP BY 1, 2),
        |cum AS (SELECT o_custkey, isl, si,
        |    CAST(coalesce(sum(ei - si) OVER (PARTITION BY o_custkey
        |      ORDER BY isl
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS closed
        |  FROM ia),
        |fs AS (SELECT o_custkey, min(s) AS firsts FROM o GROUP BY 1)
        |SELECT g.o_orderkey, g.o_custkey, g.n_orders,
        |  g.isl AS n_intervals,
        |  c.closed + (g.rmax - c.si) AS covered_days,
        |  g.rmax - f.firsts AS span_days
        |FROM g JOIN cum c ON c.o_custkey = g.o_custkey AND c.isl = g.isl
        |JOIN fs f ON f.o_custkey = g.o_custkey
        |ORDER BY g.o_orderkey""".stripMargin),
    // G17 — late flags on the B11 jittered-arrival replay.
    // G17 — the watermark-sizing audit on the jittered-arrival
    // replay: process order is (chunk, tick_id) — the drive's 4-chunk
    // grouping of the arrival order, then the operator's in-batch
    // tick_id sort; wm = the symbol's running max BEFORE the tick.
    Key("q_stream_late", (s, d) =>
      StreamRegistry.streamLate(s, d, 60000000L), {
      import graft.functions.PortableText.P
      s"""WITH nt AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS per
        |  FROM events),
        |j AS (SELECT tick_id, symbol,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + (((tick_id % $P) * 2654435761) % $P) % 1200000000
        |      - 600000000 AS arr
        |  FROM $ticksSql t),
        |r AS (SELECT tick_id, symbol, us,
        |    (row_number() OVER (ORDER BY arr, tick_id) - 1) // per
        |      AS chunk
        |  FROM j, nt),
        |o AS (SELECT tick_id, symbol, us,
        |    max(us) OVER (PARTITION BY symbol ORDER BY chunk, tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS wm_us
        |  FROM r)
        |SELECT tick_id, symbol, us, wm_us,
        |  coalesce(us < wm_us - 60000000, FALSE) AS late
        |FROM o ORDER BY tick_id""".stripMargin
    }),
    // G16 — greedy funnel advances (view -> click -> purchase, 1 d).
    // G16 — the chained-MIN funnel unpivoted to one row per advance.
    Key("q_stream_funnel", (s, d) =>
      StreamRegistry.streamFunnel(s, d, 86400000000L),
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT ev.user_id, min(us) AS t2_us
        |  FROM ev JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us > t1_us
        |    AND us <= t1_us + 86400000000 GROUP BY ev.user_id),
        |t3 AS (SELECT ev.user_id, min(us) AS t3_us
        |  FROM ev JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2_us
        |    AND us <= t2_us + 86400000000 GROUP BY ev.user_id)
        |SELECT user_id, CAST(1 AS INT) AS stage, t1_us AS t_us,
        |  FALSE AS completed FROM t1
        |UNION ALL SELECT user_id, 2, t2_us, FALSE FROM t2
        |UNION ALL SELECT user_id, 3, t3_us, TRUE FROM t3
        |ORDER BY user_id, stage""".stripMargin),
    // G9 — token-budget admission on the hash walk.
    // G9 — the prefix-cut on the hash walk: running per-source token
    // total, admitted while it fits, rejected rows report the frozen
    // admitted-prefix total.
    Key("q_stream_token_budget", (s, d) =>
      StreamRegistry.streamTokenBudget(s, d, 1000L), {
      import graft.functions.PortableText._
      s"""WITH x AS (SELECT doc_id, source,
        |    CAST(length($duckTokens) AS BIGINT) AS n,
        |    ${duckHashOrder("doc_id")} AS rnk0
        |  FROM documents),
        |w AS (SELECT *, CAST(sum(n) OVER (PARTITION BY source
        |      ORDER BY rnk0, doc_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS wcum
        |  FROM x),
        |m AS (SELECT source,
        |    CAST(coalesce(max(CASE WHEN wcum <= 1000 THEN wcum END), 0)
        |      AS BIGINT) AS adm
        |  FROM w GROUP BY source)
        |SELECT doc_id, source, n AS n_tokens,
        |  CASE WHEN wcum <= 1000 THEN wcum ELSE m.adm END AS cum_tokens,
        |  wcum <= 1000 AS admitted
        |FROM w JOIN m USING (source)
        |ORDER BY doc_id""".stripMargin
    }),
    // G10 — per-source cap admission on the hash walk.
    // G10 — cap admission: the source's 1-based hash-walk position.
    Key("q_stream_source_cap", (s, d) =>
      StreamRegistry.streamSourceCap(s, d, 10), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, source,
        |  CAST(row_number() OVER w AS BIGINT) AS rnk,
        |  row_number() OVER w <= 10 AS admitted
        |FROM documents
        |WINDOW w AS (PARTITION BY source
        |  ORDER BY ${duckHashOrder("doc_id")}, doc_id)
        |ORDER BY doc_id""".stripMargin
    }),
    // G7 — streaming near-dup admission (first-writer band buckets).
    // G7 — the band-claim dual: a band flags iff an earlier doc
    // shares its (band, band_hash) bucket (first-writer-wins in
    // doc_id order = min-doc_id-strictly-less); token-less docs
    // carry no bands.
    Key("q_stream_near_dup", StreamRegistry.streamNearDup(_, _), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |b AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31
        |      + mh[CAST(2*band + 2 AS INT)]) % $P AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) bb)
        |SELECT doc_id, CAST(band AS INT) AS band,
        |  min(doc_id) OVER (PARTITION BY band, band_hash) < doc_id
        |    AS dup_band
        |FROM b WHERE band_hash IS NOT NULL
        |ORDER BY doc_id, band""".stripMargin
    }),
    // G7b — streaming dup-spectrum: G7's admission over the planted-
    // Jaccard dup corpus, flag rate per keep level (F2e's live twin).
    // G7b — the streaming dup-spectrum: the tape is fed in doc_id
    // order and the keyed bucket state sorts within batch by doc_id,
    // so the admission verdict equals the batch min-over-bucket rule
    // (the q_stream_near_dup equivalence) — replayed here over the
    // richdup corpus and bucketed by the planted keep level.
    Key("q_stream_dup_spectrum", StreamRegistry.streamDupSpectrum(_, _), {
      import graft.functions.PortableText._
      s"""WITH ${RichCorpus.duckDupCtes},
        |t AS (SELECT doc_id, $duckTokenHashes AS th FROM richdup),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |v AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY band, band_hash) < doc_id
        |      AS dup_band
        |  FROM bands WHERE band_hash IS NOT NULL),
        |fl AS (SELECT doc_id, bool_or(dup_band) AS is_dup
        |  FROM v GROUP BY doc_id)
        |SELECT p.keep, count(*) AS n_planted,
        |  CAST(sum(CASE WHEN coalesce(f.is_dup, false) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged,
        |  (CAST(sum(CASE WHEN coalesce(f.is_dup, false) THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000) // count(*) AS flag_bp
        |FROM richdup_pairs p
        |LEFT JOIN fl f ON f.doc_id = p.doc_b
        |GROUP BY p.keep ORDER BY p.keep""".stripMargin
    }),
    // G39 — vol-cone regime monitor at the 5-day horizon.
    // G39 — day-close banded points: per-symbol per-observed-day rv
    // (0 for single-tick days — the stream ring counts every observed
    // day), full 5-day windows only, final open day never emits; the
    // cone trains on the BATCH rv frame (move-days only — the D64
    // spelling verbatim).
    Key("q_stream_vol_cone", (s, d) =>
      StreamRegistry.streamVolCone(s, d, 5),
      s"""WITH p AS (SELECT symbol, CAST(ts AS DATE) AS _date, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |  FROM $ticksSql t),
        |l AS (SELECT symbol, _date,
        |    cents - lag(cents) OVER (PARTITION BY symbol, _date
        |      ORDER BY tick_id) AS d
        |  FROM p),
        |rvd AS (SELECT symbol, _date,
        |    CAST(coalesce(sum(d * d), 0) AS BIGINT) AS rv
        |  FROM l GROUP BY 1, 2),
        |w AS (SELECT symbol, _date,
        |    CAST(sum(rv) OVER (PARTITION BY symbol ORDER BY _date
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS roll,
        |    count(*) OVER (PARTITION BY symbol ORDER BY _date
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS nw,
        |    row_number() OVER (PARTITION BY symbol ORDER BY _date DESC)
        |      AS rdesc
        |  FROM rvd),
        |rvb AS (SELECT symbol, _date, CAST(sum(d * d) AS BIGINT) AS rv
        |  FROM l WHERE d IS NOT NULL GROUP BY 1, 2),
        |fb AS (SELECT symbol,
        |    sum(rv) OVER (PARTITION BY symbol ORDER BY _date
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_rv,
        |    count(*) OVER (PARTITION BY symbol ORDER BY _date
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS nw
        |  FROM rvb),
        |cones AS (SELECT symbol,
        |    round(quantile_cont(roll_rv, 0.25), 4) AS lo,
        |    round(quantile_cont(roll_rv, 0.75), 4) AS hi
        |  FROM fb WHERE nw = 5 GROUP BY symbol)
        |SELECT w.symbol, strftime(w._date, '%Y-%m-%d') AS day,
        |  w.roll AS roll_rv,
        |  CASE WHEN c.symbol IS NULL THEN 'untrained'
        |       WHEN w.roll < c.lo THEN 'below'
        |       WHEN w.roll > c.hi THEN 'above' ELSE 'in' END AS band
        |FROM w LEFT JOIN cones c USING (symbol)
        |WHERE w.nw = 5 AND w.rdesc > 1
        |ORDER BY symbol, day""".stripMargin),
    // G32 — exactly-once-effect upsert sink audit (replayed batch).
    // G32 — the exactly-once-effect verdict: the final sink table's
    // per-symbol logical content equals the plain tick view iff every
    // tick landed once and the replayed batch was a no-op.
    Key("q_stream_upsert", StreamRegistry.streamUpsertAudit(_, _), {
      import graft.functions.PortableText.P
      // Sign-safe % (r15 ADVICE class, same fix as A28 at the
      // stage-lineage fingerprint): DuckDB's % is SIGNED while the
      // Spark side folds pmod, so a negative term (negative cents —
      // bad prints) would diverge. ((x % P + P) % P) == pmod(x, P)
      // for all x; identical to x % P for the non-negative terms of
      // the standard corpora, so hashes are unchanged there. The
      // inner guard makes every summand non-negative, which keeps the
      // OUTER % equal to pmod too.
      s"""SELECT symbol, count(*) AS n,
        |  CAST(COALESCE(SUM(((tick_id * 31
        |    + CAST(round(bid * 100.0, 0) AS BIGINT)) % $P + $P) % $P),
        |    0) % $P AS BIGINT) AS content_fp,
        |  CAST(COALESCE(SUM((epoch_ms(CAST(ts AS TIMESTAMP)) % $P + $P)
        |    % $P), 0) % $P AS BIGINT) AS ts_fp
        |FROM $ticksSql t
        |GROUP BY symbol ORDER BY symbol""".stripMargin
    }),
    // G2 — Welford ±kσ anomaly flags, one row per tick.
    // G2 — the Welford register replayed per symbol over each tick's
    // prefix list (q_stream_ewma's pattern with a STRUCT
    // accumulator). The flag uses the PRE-update register — the fold
    // over the one-shorter prefix. Struct-literal field ORDER is
    // load-bearing: DuckDB evaluates result-struct fields
    // sequentially into the accumulator, so m2 (which needs the OLD
    // mean) is declared first and every denominator comes from the
    // lambda's iteration index, never from a just-updated field —
    // probed bit-for-bit against the Scala fold on random series.
    Key("q_stream_welford", (s, d) =>
      StreamRegistry.streamWelford(s, d, welfordK), {
      def fold(l: String) =
        s"""list_reduce(list_transform($l,
          |      v -> {m2: CAST(0.0 AS DOUBLE), mean: v,
          |            n: CAST(1 AS BIGINT)}),
          |    (acc, e, i) -> {
          |      m2: acc.m2 + (e.mean - acc.mean) * (e.mean
          |        - (acc.mean + (e.mean - acc.mean) / (i + 1))),
          |      mean: acc.mean + (e.mean - acc.mean) / (i + 1),
          |      n: CAST(i + 1 AS BIGINT)})""".stripMargin
      s"""WITH p AS (SELECT symbol, tick_id, CAST(bid AS DOUBLE) AS bid,
        |    list(CAST(bid AS DOUBLE)) OVER wc AS pre,
        |    list(CAST(bid AS DOUBLE)) OVER wp AS prev
        |  FROM $ticksSql t
        |  WINDOW wc AS (PARTITION BY symbol ORDER BY tick_id
        |      ROWS UNBOUNDED PRECEDING),
        |    wp AS (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |w AS (SELECT symbol, tick_id, bid,
        |    ${fold("pre")} AS cur,
        |    CASE WHEN len(prev) > 0 THEN ${fold("prev")} END AS pv
        |  FROM p)
        |SELECT symbol, cur.n AS n, cur.mean AS mean,
        |  COALESCE(pv.n > 1 AND abs(bid - pv.mean)
        |      > CAST($welfordK AS DOUBLE) * sqrt(pv.m2 / (pv.n - 1)),
        |    FALSE) AS is_anomaly
        |FROM w ORDER BY symbol, n""".stripMargin
    }),
    // G37 — pair-spread running z on the deterministic rank roster.
    // G37 — the pair-spread Welford z replayed per pair. The roster
    // is derived from the data exactly as the registry derives it
    // (consecutive ranked-symbol pairs, β_j = 0.5 + 0.25·j — exactly
    // representable). Leg state is SCALAR window arithmetic
    // (last_value IGNORE NULLS over the routed prefix — the
    // last-leg-price registers), so the lambda fold only ever sees
    // the plain DOUBLE spread series and stays in q_stream_welford's
    // proven index-based shape. (A struct-leg fold with CONDITIONAL
    // in-lambda updates mis-evaluated a handful of late rows in this
    // DuckDB — probed; scalar windows + unconditional fold are
    // bit-stable.) Every row with both legs known advances the
    // register, so the fold index IS the Welford n, exactly as the
    // operator's per-arrival update.
    Key("q_stream_pairz", (s, d) =>
      StreamRegistry.streamPairZ(s, d, pairZCount), {
      def fold(l: String) =
        s"""list_reduce(list_transform($l,
          |      v -> {m2: CAST(0.0 AS DOUBLE), mean: v,
          |            n: CAST(1 AS BIGINT)}),
          |    (acc, e, i) -> {
          |      m2: acc.m2 + (e.mean - acc.mean) * (e.mean
          |        - (acc.mean + (e.mean - acc.mean) / (i + 1))),
          |      mean: acc.mean + (e.mean - acc.mean) / (i + 1),
          |      n: CAST(i + 1 AS BIGINT)})""".stripMargin
      s"""WITH syms AS (SELECT symbol,
        |    row_number() OVER (ORDER BY symbol) AS r
        |  FROM (SELECT DISTINCT symbol FROM $ticksSql t)),
        |roster AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b,
        |    0.5 + 0.25 * CAST((a.r - 1) // 2 AS DOUBLE) AS beta
        |  FROM syms a JOIN syms b ON b.r = a.r + 1 AND a.r % 2 = 1
        |  WHERE (a.r - 1) // 2 < $pairZCount),
        |routed AS (SELECT r.sym_a, r.sym_b, r.beta, t.tick_id,
        |    t.symbol = r.sym_a AS is_a, CAST(t.bid AS DOUBLE) AS bid
        |  FROM $ticksSql t JOIN roster r
        |    ON t.symbol = r.sym_a OR t.symbol = r.sym_b),
        |legs AS (SELECT sym_a, sym_b, beta, tick_id,
        |    last_value(CASE WHEN is_a THEN bid END IGNORE NULLS)
        |      OVER wp AS la,
        |    last_value(CASE WHEN NOT is_a THEN bid END IGNORE NULLS)
        |      OVER wp AS lb
        |  FROM routed
        |  WINDOW wp AS (PARTITION BY sym_a, sym_b ORDER BY tick_id
        |    ROWS UNBOUNDED PRECEDING)),
        |sp AS (SELECT sym_a, sym_b, beta, tick_id,
        |    la - beta * lb AS s
        |  FROM legs WHERE la IS NOT NULL AND lb IS NOT NULL),
        |p AS (SELECT sym_a, sym_b, tick_id, s,
        |    list(s) OVER (PARTITION BY sym_a, sym_b ORDER BY tick_id
        |      ROWS UNBOUNDED PRECEDING) AS pre
        |  FROM sp),
        |f AS (SELECT sym_a, sym_b, tick_id, s, ${fold("pre")} AS st
        |  FROM p)
        |SELECT tick_id, sym_a, sym_b, s AS spread,
        |  CASE WHEN st.n >= 2 AND st.m2 > 0
        |    THEN (s - st.mean) / sqrt(st.m2 / st.n) END AS z
        |FROM f ORDER BY tick_id, sym_a, sym_b""".stripMargin
    }),
    // G33 — event-time-timeout dormancy events (24 h quiet).
    // G33 — the watermark schedule simulated exactly: chunk =
    // the drive's 4-way split in tape order, W_c = the running max
    // event-ms through chunk c, and a register DIES between
    // consecutive same-symbol ticks iff the next tick lands in a
    // later chunk whose preceding watermark strictly passed
    // last_ms + gap (probed: strict `<`, evaluated after every data
    // batch by the no-data micro-batch). The two sentinel BATCHES
    // the registry appends guarantee the final register of every
    // symbol dies, so the tape-end flush needs no special case
    // beyond `next IS NULL`. n_ticks restarts at each death — the
    // register-rebirth rule — which is exactly the row_number within
    // (symbol, preceding-death count).
    Key("q_stream_dormant", (s, d) =>
      StreamRegistry.streamDormant(s, d, dormantGapMs),
      s"""WITH nd AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS per
        |  FROM events),
        |d AS (SELECT symbol, tick_id, epoch_us(ts) // 1000 AS ms,
        |    (row_number() OVER (ORDER BY tick_id) - 1) // per + 1
        |      AS chunk
        |  FROM $ticksSql t, nd),
        |wm AS (SELECT chunk AS wchunk,
        |    max(max(ms)) OVER (ORDER BY chunk) AS w
        |  FROM d GROUP BY chunk),
        |p AS (SELECT symbol, tick_id, ms, chunk,
        |    lead(chunk) OVER (PARTITION BY symbol ORDER BY tick_id)
        |      AS nchunk
        |  FROM d),
        |dd AS (SELECT p.*, CASE WHEN nchunk IS NULL THEN TRUE
        |    WHEN nchunk > chunk AND ms + $dormantGapMs < wm.w
        |      THEN TRUE ELSE FALSE END AS death
        |  FROM p LEFT JOIN wm ON wm.wchunk = p.nchunk - 1),
        |regs AS (SELECT *, COALESCE(SUM(CASE WHEN death THEN 1
        |      ELSE 0 END) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS reg FROM dd),
        |cnt AS (SELECT *, row_number() OVER (PARTITION BY symbol, reg
        |      ORDER BY tick_id) AS n_in_reg FROM regs)
        |SELECT symbol, tick_id AS last_tick_id,
        |  make_timestamp(ms * 1000) AS last_ts,
        |  CAST(n_in_reg AS BIGINT) AS n_ticks
        |FROM cnt WHERE death
        |ORDER BY symbol, last_tick_id""".stripMargin),
    // G44 — the GARCH filter live: a point per move with its
    // variance forecast and 2σ-surprise verdict.
    // G44 — the same GARCH fold replayed over each move PREFIX: one
    // trace row per cent move with its forecast and 2σ verdict.
    Key("q_stream_garch", (s, d) =>
      StreamRegistry.streamGarch(s, d, garchOmega, garchAlpha,
        garchBeta),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs,
        |    list(tick_id ORDER BY tick_id) AS ids
        |  FROM $ticksSql t GROUP BY 1, 2),
        |m AS (SELECT symbol, date, ids,
        |    list_transform(range(2, len(cs) + 1),
        |      k -> CAST(cs[k] - cs[k - 1] AS DOUBLE)) AS mv
        |  FROM g WHERE len(cs) >= 2),
        |rows_ AS (SELECT symbol, date, ids, mv,
        |    unnest(range(1, len(mv) + 1)) AS k FROM m),
        |tr AS (SELECT symbol, date, ids[k + 1] AS tick_id,
        |    CAST(k AS BIGINT) AS n_move, mv[k] AS move,
        |    ${garchFoldSql("mv[1:k]")} AS st
        |  FROM rows_)
        |SELECT tick_id, symbol, date, n_move, move, st.h AS h,
        |  move * move > 4.0 * st.h AS breach
        |FROM tr ORDER BY symbol, date, n_move""".stripMargin),
    // G45 — the Kalman filter live: a point per tick with the
    // post-update level and error variance.
    // G45 — the Kalman fold replayed over each tick PREFIX: one
    // trace row per tick with the post-update (x̂, P).
    Key("q_stream_kalman", (s, d) =>
      StreamRegistry.streamKalman(s, d, kalmanQ, kalmanR),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(CAST(round(bid * 100.0, 0) AS BIGINT) AS DOUBLE)
        |      ORDER BY tick_id) AS zs,
        |    list(tick_id ORDER BY tick_id) AS ids
        |  FROM $ticksSql t GROUP BY 1, 2),
        |rows_ AS (SELECT symbol, date, ids, zs,
        |    unnest(range(1, len(zs) + 1)) AS k FROM g),
        |tr AS (SELECT symbol, date, ids[k] AS tick_id,
        |    CAST(k AS BIGINT) AS n_seen, zs[k] AS z,
        |    ${kalmanFoldSql("zs[1:k]")} AS st
        |  FROM rows_)
        |SELECT tick_id, symbol, date, n_seen, z, st.x AS x_filt,
        |  st.p AS p
        |FROM tr ORDER BY symbol, date, n_seen""".stripMargin),
    // G46 — the CUSUM filter live: a point per move with registers
    // and the running event count.
    // G46 — the shared branchless CUSUM fragment replayed over each
    // move PREFIX: one trace row per move with registers + count.
    Key("q_stream_cusum", (s, d) =>
      StreamRegistry.streamCusum(s, d, cusumH),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs,
        |    list(tick_id ORDER BY tick_id) AS ids
        |  FROM $ticksSql t GROUP BY 1, 2),
        |m AS (SELECT symbol, date, ids,
        |    list_transform(range(2, len(cs) + 1),
        |      k -> cs[k] - cs[k - 1]) AS mv
        |  FROM g WHERE len(cs) >= 2),
        |rows_ AS (SELECT symbol, date, ids, mv,
        |    unnest(range(1, len(mv) + 1)) AS k FROM m),
        |tr AS (SELECT symbol, date, ids[k + 1] AS tick_id,
        |    CAST(k AS BIGINT) AS n_move,
        |    ${cusumFoldSql("mv[1:k]")} AS st
        |  FROM rows_)
        |SELECT tick_id, symbol, date, n_move,
        |  CAST(st.sp AS BIGINT) AS s_pos, CAST(st.sn AS BIGINT) AS s_neg,
        |  st.nev AS n_events
        |FROM tr ORDER BY symbol, date, n_move""".stripMargin),
    // G47 — FFD live: a point per tick once the lag ring fills; the
    // sink equals the batch frame row for row.
    // G47 — the live twin's sink IS the batch frame row for row
    // (parity spec'd), so the oracle is the batch oracle verbatim.
    Key("q_stream_ffd", (s, d) =>
      StreamRegistry.streamFfd(s, d, ffdD, ffdK),
      fracDiffOracleSql),
    // G48 — the regime filter live: a point per move with the
    // post-update P(high) and its regime verdict.
    // G48 — the same regime fold replayed over each move PREFIX: one
    // trace row per cent move with its posterior and regime verdict.
    Key("q_stream_hmm", (s, d) =>
      StreamRegistry.streamHmm(s, d, hmmParams),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs,
        |    list(tick_id ORDER BY tick_id) AS ids
        |  FROM $ticksSql t GROUP BY 1, 2),
        |m AS (SELECT symbol, date, ids,
        |    list_transform(range(2, len(cs) + 1),
        |      k -> CAST(cs[k] - cs[k - 1] AS DOUBLE)) AS mv
        |  FROM g WHERE len(cs) >= 2),
        |rows_ AS (SELECT symbol, date, ids, mv,
        |    unnest(range(1, len(mv) + 1)) AS k FROM m),
        |tr AS (SELECT symbol, date, ids[k + 1] AS tick_id,
        |    CAST(k AS BIGINT) AS n_move, mv[k] AS move,
        |    ${hmmFoldSql("mv[1:k]")} AS st
        |  FROM rows_)
        |SELECT tick_id, symbol, date, n_move, move,
        |  1.0 - st.pl AS p_high,
        |  (1.0 - st.pl) > 0.5 AS is_high
        |FROM tr ORDER BY symbol, date, n_move""".stripMargin),
    // G49 — streaming media-dedup admission over the F78 lake.
    // F78 — media dedup on the planted-dup lake: the oracle IS the
    // construction formula (kind by id % 3 — 96 ≡ 0 mod 3 keeps the
    // replica aligned; keep ⟺ id < 96; every content group size 2,
    // which HOLDS only below the audio content period — see the
    // registry note). A codec/fingerprint corruption flips keep bits
    // or n_copies and goes red — a real check despite no SQL codec
    // math.
    // G49 — the F78 construction formula: the tape is id-ordered, so
    // first-arrival == min-id == the planted keep rule.
    Key("q_stream_media", (s, _) =>
      StreamRegistry.streamMediaAdmission(s, 96),
      """SELECT r AS media_id,
        |  CASE WHEN r % 3 = 1 THEN 'image'
        |       WHEN r % 3 = 2 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  r < 96 AS admitted
        |FROM range(192) t(r) ORDER BY media_id""".stripMargin),
  )
}
