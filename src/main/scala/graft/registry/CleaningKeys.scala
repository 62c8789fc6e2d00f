package graft
package registry

import graft.SparkEntry._
import graft.operators._
import graft.sources.Tables

/** The SURVEY §2.B registry keys, tick cleaning: one `Key` record per
  * key, its Spark builder beside the DuckDB SQL its result is
  * hash-checked against. */
object CleaningKeys {

  lazy val keys: Seq[Key] = Seq(
    Key("q_session_filter", (s, d) => TickOps.sessionWindowFilter(Tables.ticks(s, d)),
      s"""SELECT tick_id, symbol, date_trunc('second', ts) AS ts_s,
        |  bid, ask
        |FROM $ticksSql t
        |WHERE (hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50
        |ORDER BY symbol, tick_id""".stripMargin),
    Key("q_downsample_1s", (s, d) => TickOps.secondDownsample(Tables.ticks(s, d)),
      s"""SELECT symbol, date_trunc('second', ts) AS ts_s,
        |  min(tick_id) AS tick_id,
        |  arg_min(bid, tick_id) AS bid,
        |  arg_min(ask, tick_id) AS ask
        |FROM $ticksSql t
        |WHERE (hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50
        |GROUP BY symbol, date_trunc('second', ts)
        |ORDER BY symbol, ts_s""".stripMargin),
    Key("q_daily_window_counts", (s, d) => TickOps.dailyWindowCounts(Tables.ticks(s, d)),
      s"""SELECT strftime(ts, '%Y-%m-%d') AS date,
        |  count(*) FILTER (WHERE hour(ts) = 7 AND minute(ts) >= 50) AS ticks_window1,
        |  count(*) FILTER (WHERE hour(ts) = 13 AND minute(ts) >= 50) AS ticks_window2
        |FROM $ticksSql t
        |WHERE (hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50
        |GROUP BY strftime(ts, '%Y-%m-%d') ORDER BY date""".stripMargin),
    Key("q_ffill", (s, d) => TickOps.forwardFill(Tables.ticks(s, d), 10.0),
      s"""SELECT tick_id, symbol,
        |  CASE WHEN bid < 10 THEN NULL ELSE bid END AS bid_raw,
        |  last_value(CASE WHEN bid < 10 THEN NULL ELSE bid END IGNORE NULLS)
        |    OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bid_filled
        |FROM $ticksSql t ORDER BY symbol, tick_id""".stripMargin),
    Key("q_tick_dedup", (s, d) => TickOps.tickDedup(Tables.ticks(s, d)),
      s"""SELECT tick_id, symbol, ts_m, bid FROM (
        |  SELECT tick_id, symbol, date_trunc('minute', ts) AS ts_m, bid,
        |    row_number() OVER (PARTITION BY symbol, date_trunc('minute', ts)
        |      ORDER BY tick_id) AS rn
        |  FROM $ticksSql t) x
        |WHERE rn = 1 ORDER BY symbol, ts_m""".stripMargin),
    Key("q_tz_shift", (s, d) => TickOps.shiftTz(Tables.ticks(s, d), 2),
      s"""SELECT tick_id, symbol,
        |  date_trunc('second', ts + INTERVAL 2 HOUR) AS ts_shifted,
        |  hour(ts + INTERVAL 2 HOUR) AS hour_shifted
        |FROM $ticksSql t ORDER BY tick_id""".stripMargin),
    Key("q_ohlc_bars", (s, d) => TickOps.ohlcBars(Tables.ticks(s, d), "hour"),
      s"""SELECT symbol, date_trunc('hour', ts) AS bar_ts,
        |  arg_min(bid, tick_id) AS open, max(bid) AS high,
        |  min(bid) AS low, arg_max(bid, tick_id) AS close,
        |  count(*) AS n_ticks
        |FROM $ticksSql t GROUP BY symbol, date_trunc('hour', ts)
        |ORDER BY symbol, bar_ts""".stripMargin),
    Key("q_vwap", (s, d) => TickOps.vwap(Tables.events(s, d)),
      """SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  CAST((_n * 200 + _d) // (_d * 2) AS DOUBLE) / 10000.0 AS vwap,
        |  total_qty, n_trades FROM (
        |  SELECT user_id AS symbol, CAST(ts AS DATE) AS _date,
        |    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)
        |      * CAST(props->>'$.k' AS INT)) AS BIGINT) AS _n,
        |    CAST(nullif(sum(CAST(props->>'$.k' AS INT)), 0) AS BIGINT) AS _d,
        |    CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS total_qty,
        |    count(*) AS n_trades
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)) x
        |ORDER BY symbol, date""".stripMargin),
    // B9 — tick-rule up/down/zero classification per symbol.
    Key("q_tick_rule", (s, d) => TickOps.tickRule(Tables.ticks(s, d)),
      s"""SELECT symbol,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND bid > prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND bid < prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND bid = prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND bid > prev
        |    THEN 1 ELSE 0 END)
        |   - sum(CASE WHEN prev IS NOT NULL AND bid < prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS net_flow
        |FROM (SELECT symbol, bid,
        |    lag(bid, 1) OVER (PARTITION BY symbol ORDER BY tick_id)
        |      AS prev
        |  FROM $ticksSql t) x
        |GROUP BY symbol ORDER BY symbol""".stripMargin),
    // B10 — quote-burst seconds above the per-symbol p90 rate.
    // knots — the rounded value is the only safe comparand).
    Key("q_burst_detect", (s, d) =>
      TickOps.burstDetection(Tables.ticks(s, d), 0.90),
      s"""WITH per AS (
        |  SELECT symbol, date_trunc('second', ts) AS sec,
        |    count(*) AS n
        |  FROM $ticksSql t
        |  GROUP BY symbol, date_trunc('second', ts)),
        |thr AS (
        |  SELECT symbol, round(quantile_cont(n, 0.90), 4) AS thr
        |  FROM per GROUP BY symbol)
        |SELECT p.symbol, count(*) AS n_seconds,
        |  CAST(sum(CASE WHEN n > thr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_burst,
        |  max(n) AS max_rate, thr
        |FROM per p JOIN thr USING (symbol)
        |GROUP BY p.symbol, thr
        |ORDER BY symbol""".stripMargin),
    // B11 — late-arrival audit replaying a ±10 min hash-jittered feed
    // against a 60 s watermark (the watermark-sizing backtest).
    // B10 — burst detection: threshold = exact percentile ROUNDED
    // before the strict compare (integer rates sit on interpolation
    // B11 — late audit: jittered arrival = us + pmod-hash(tick_id) %
    // 20min − 10min (the F16 hash, first reduction pmod-spelled);
    // running max over (arrival, tick_id) with a 1-PRECEDING frame
    // (never late against itself); all µs exact int64.
    Key("q_late_audit", (s, d) => {
      import org.apache.spark.sql.functions.{col, lit, pmod, unix_micros}
      val jitter = pmod(
        pmod(col("tick_id"), lit(graft.functions.PortableText.P)) *
          lit(2654435761L), lit(graft.functions.PortableText.P))
        .%(lit(1200000000L)).-(lit(600000000L))
      TickOps.lateArrivalAudit(Tables.ticks(s, d), 60000000L,
        unix_micros(col("ts")) + jitter)
    }, {
      import graft.functions.PortableText._
      s"""WITH t AS (
        |  SELECT symbol, tick_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + (${duckHashOrder("tick_id")}) % 1200000000 - 600000000
        |      AS arr
        |  FROM $ticksSql t),
        |w AS (
        |  SELECT symbol, us,
        |    max(us) OVER (PARTITION BY symbol ORDER BY arr, tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM t)
        |SELECT symbol, count(*) AS n_ticks,
        |  CAST(sum(CASE WHEN wm IS NOT NULL AND us < wm - 60000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(max(CASE WHEN wm IS NOT NULL AND wm - us > 0
        |    THEN wm - us ELSE 0 END) AS BIGINT) AS max_lateness_us,
        |  CAST(sum(CASE WHEN wm IS NOT NULL AND us < wm - 60000000
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS late_ratio
        |FROM w GROUP BY symbol ORDER BY symbol""".stripMargin
    }),
    // B12 — spike-tick repair: 50% jumps reverting against both
    // neighbors flag + midpoint-repair (synthetic feed is iid-noisy,
    // so both classes are dense at every threshold).
    // B12 — bp compare cross-multiplied to pure int64; repair is the
    // neighbor midpoint via the half-up integer formula.
    Key("q_spike_repair", (s, d) =>
      TickOps.spikeRepair(Tables.ticks(s, d), spikeBp),
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
        |ORDER BY tick_id""".stripMargin),
    // B13 — TWAP per (symbol, day), next-tick holding intervals.
    Key("q_twap", (s, d) => TickOps.twap(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  CAST((_s * 200 + _d) // (_d * 2) AS DOUBLE) / 10000.0 AS twap,
        |  n_weighted
        |FROM (
        |  SELECT symbol, _date,
        |    CAST(sum(CASE WHEN dur IS NOT NULL THEN cents * dur
        |      ELSE 0 END) AS BIGINT) AS _s,
        |    nullif(CAST(sum(coalesce(dur, 0)) AS BIGINT), 0) AS _d,
        |    count(dur) AS n_weighted
        |  FROM (
        |    SELECT symbol, _date, cents,
        |      lead(us) OVER (PARTITION BY symbol, _date
        |        ORDER BY tick_id) - us AS dur
        |    FROM (
        |      SELECT symbol, CAST(ts AS DATE) AS _date, tick_id,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS cents,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM $ticksSql t) p) q
        |  GROUP BY symbol, _date) agg
        |ORDER BY symbol, date""".stripMargin),
  )
}
