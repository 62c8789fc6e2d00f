package graft
package registry

import graft.SparkEntry._
import graft.operators._
import graft.sources.Tables

/** The SURVEY §2.E registry keys, temporal joins and sessionization:
  * one `Key` record per key, its Spark builder beside the DuckDB SQL
  * its result is hash-checked against. */
object TemporalKeys {

  val bitemporalTxId = 5000L    // E13 transaction-time cutoff
  val bitemporalTxEarly = 2500L // E20 earlier knowledge cutoff
  val validTsLit = "2024-01-15 00:00:00" // E13/D8 valid-time cut
  val sessionGapSec = 86400L    // E12 browsing-session gap (24 h —
                                // probed: ~50/50 contained/orphan at
                                // the gate SFs, 0 interval overlaps)
  val pathTopK = 25             // E19 reported transition head

  lazy val keys: Seq[Key] = Seq(
    // E13 — bitemporal as-of: history as known at ingestion id 5000,
    // attribute in effect mid-month.
    Key("q_bitemporal", (s, d) =>
      Scd.bitemporalAsOf(Tables.events(s, d), bitemporalTxId,
        validTsLit),
      s"""WITH tiered AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts_s,
        |    CASE WHEN value < 25.0 THEN 'low'
        |         WHEN value < 75.0 THEN 'mid'
        |         ELSE 'high' END AS tier
        |  FROM events WHERE event_id <= $bitemporalTxId),
        |chg AS (
        |  SELECT user_id, ts_s, event_id, tier FROM (
        |    SELECT user_id, ts_s, event_id, tier,
        |      lag(tier, 1) OVER (PARTITION BY user_id
        |        ORDER BY ts_s, event_id) AS prev_tier
        |    FROM tiered) x
        |  WHERE prev_tier IS NULL OR tier <> prev_tier),
        |hist AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS version,
        |    tier, ts_s AS valid_from,
        |    lead(ts_s, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS valid_to,
        |    lead(ts_s, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) IS NULL AS is_current
        |  FROM chg)
        |SELECT * FROM hist
        |WHERE valid_from <= TIMESTAMP '$validTsLit'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '$validTsLit')
        |ORDER BY user_id""".stripMargin),
    // E20 — bitemporal restatement diff between two knowledge times.
    // A15 — SCD2: order by (second-truncated ts, event_id) — the
    // only cross-engine-total order (raw ts is ns in DuckDB, µs in
    // Spark); consecutive-equal tiers collapse into the earlier row.
    // E13 — q_scd2's history restricted to the tx cutoff, then the
    // valid-interval membership filter.
    // E20 — restatement diff: the SAME generated bitemporal-read CTE
    // group at TWO cutoffs (one spelling, two instantiations — the
    // bpeCascadeSql rule), full-outer joined, CASE verdict.
    Key("q_restatement", (s, d) =>
      Scd.bitemporalRestatement(Tables.events(s, d), bitemporalTxEarly,
        bitemporalTxId, validTsLit), {
      def read(tag: String, cutoff: Long): String =
        s"""${tag}t AS (SELECT user_id, event_id,
          |    date_trunc('second', ts) AS ts_s,
          |    CASE WHEN value < 25.0 THEN 'low'
          |         WHEN value < 75.0 THEN 'mid'
          |         ELSE 'high' END AS tier
          |  FROM events WHERE event_id <= $cutoff),
          |${tag}c AS (SELECT user_id, ts_s, event_id, tier FROM (
          |    SELECT user_id, ts_s, event_id, tier,
          |      lag(tier, 1) OVER (PARTITION BY user_id
          |        ORDER BY ts_s, event_id) AS prev_tier
          |    FROM ${tag}t) x
          |  WHERE prev_tier IS NULL OR tier <> prev_tier),
          |${tag}h AS (SELECT user_id, tier, ts_s AS valid_from,
          |    lead(ts_s, 1) OVER (PARTITION BY user_id
          |      ORDER BY ts_s, event_id) AS valid_to
          |  FROM ${tag}c),
          |${tag}r AS (SELECT user_id, tier FROM ${tag}h
          |  WHERE valid_from <= TIMESTAMP '$validTsLit'
          |    AND (valid_to IS NULL
          |      OR valid_to > TIMESTAMP '$validTsLit'))""".stripMargin
      s"""WITH ${read("e", bitemporalTxEarly)},
        |${read("l", bitemporalTxId)}
        |SELECT coalesce(er.user_id, lr.user_id) AS user_id,
        |  er.tier AS tier_early, lr.tier AS tier_late,
        |  CASE WHEN er.tier IS NULL THEN 'appeared'
        |       WHEN lr.tier IS NULL THEN 'retracted'
        |       WHEN er.tier = lr.tier THEN 'unchanged'
        |       ELSE 'restated' END AS verdict
        |FROM er FULL OUTER JOIN lr ON er.user_id = lr.user_id
        |ORDER BY user_id""".stripMargin
    }),
    // E5 — nearest-event join (closest quote either side, ties back).
    // Nearest join: backward ASOF inclusive + forward ASOF strict,
    // closer candidate wins, exact-µs ties go backward.
    Key("q_nearest_join", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"))
      TemporalJoins.nearestJoin(trades, quotes, "symbol", "ts",
        "trade_id", "quote_id", Seq("bid"))
    },
      """WITH tr AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |qu AS (SELECT * FROM events
        |  WHERE event_type IN ('click','view')),
        |b AS (SELECT t.event_id AS trade_id, t.user_id AS symbol, t.ts,
        |    q.event_id AS b_id, q.value AS b_bid,
        |    epoch_us(t.ts) - epoch_us(q.ts) AS b_age
        |  FROM tr t ASOF LEFT JOIN qu q
        |    ON t.user_id = q.user_id AND t.ts >= q.ts),
        |f AS (SELECT t.event_id AS trade_id,
        |    q.event_id AS f_id, q.value AS f_bid,
        |    epoch_us(q.ts) - epoch_us(t.ts) AS f_age
        |  FROM tr t ASOF LEFT JOIN qu q
        |    ON t.user_id = q.user_id AND t.ts < q.ts)
        |SELECT trade_id, symbol, date_trunc('second', ts) AS ts_s,
        |  CASE WHEN useback THEN b_id
        |       WHEN f_id IS NOT NULL THEN f_id END AS near_id,
        |  CASE WHEN useback THEN 'back'
        |       WHEN f_id IS NOT NULL THEN 'fwd' END AS direction,
        |  CASE WHEN useback THEN b_age
        |       WHEN f_id IS NOT NULL THEN f_age END AS near_age_us,
        |  CASE WHEN useback THEN b_bid
        |       WHEN f_id IS NOT NULL THEN f_bid END AS near_bid
        |FROM (SELECT b.*, f.f_id, f.f_bid, f.f_age,
        |    b_id IS NOT NULL AND (f_id IS NULL OR b_age <= f_age)
        |      AS useback
        |  FROM b JOIN f USING (trade_id)) x
        |ORDER BY trade_id""".stripMargin),
    // E17 — trailing-interval count join: orders per customer in the
    // prior 90 strictly-earlier days.
    // E17 — trailing-interval count: the same integer-epoch-day RANGE
    // frame, strictly-earlier days, empty frame an exact 0.
    Key("q_order_velocity", (s, d) =>
      TemporalJoins.orderVelocity(Tables.orders(s, d), velocityDays),
      s"""SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_day,
        |  count(*) OVER (PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN $velocityDays PRECEDING AND 1 PRECEDING)
        |    AS n_prior
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // E18 — interval-union coverage: per-customer gaps-and-islands
    // merge of [orderdate, +30d) activity intervals.
    // E18 — interval-union coverage: strictly-preceding running-max
    // window for island starts, running sum for island ids, exact
    // int64 epoch-day arithmetic throughout; coverage is one IEEE
    // division of exact ints. Tied same-day orders carry identical
    // (s, e), so tie order cannot move any aggregate.
    Key("q_interval_coverage", (s, d) =>
      TemporalJoins.intervalCoverage(Tables.orders(s, d),
        coverageWindowDays),
      s"""WITH iv AS (SELECT o_custkey,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      + $coverageWindowDays AS e
        |  FROM orders),
        |m AS (SELECT o_custkey, s, e,
        |    max(e) OVER (PARTITION BY o_custkey ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |m2 AS (SELECT *, CASE WHEN pme IS NULL OR s > pme
        |    THEN 1 ELSE 0 END AS ni FROM m),
        |m3 AS (SELECT *, sum(ni) OVER (PARTITION BY o_custkey ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m2),
        |isl AS (SELECT o_custkey, island, count(*) AS n_orders,
        |    min(s) AS i_s, max(e) AS i_e
        |  FROM m3 GROUP BY 1, 2)
        |SELECT o_custkey, CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |  count(*) AS n_intervals,
        |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_days,
        |  CAST(max(i_e) - min(i_s) AS BIGINT) AS span_days,
        |  CAST(sum(i_e - i_s) AS DOUBLE)
        |    / CAST(max(i_e) - min(i_s) AS DOUBLE) AS coverage
        |FROM isl GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // E19 — event-path census: consecutive-transition Markov table.
    // E19 — event-path census: per-user lag over (ts, event_id) total
    // order, alphabet-bounded edge aggregate, exact-int share
    // division, termSearch heap top-k.
    Key("q_event_paths", (s, d) =>
      TemporalJoins.eventPaths(Tables.events(s, d), pathTopK),
      s"""WITH lg AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |e AS (SELECT prev_type, event_type AS next_type,
        |    count(*) AS n_edges
        |  FROM lg WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type),
        |m AS (SELECT prev_type, CAST(sum(n_edges) AS BIGINT) AS n_out
        |  FROM e GROUP BY prev_type),
        |k AS (SELECT e.prev_type, e.next_type, e.n_edges, m.n_out,
        |    CAST(e.n_edges AS DOUBLE) / CAST(m.n_out AS DOUBLE)
        |      AS share
        |  FROM e JOIN m USING (prev_type)
        |  ORDER BY e.n_edges DESC, e.prev_type, e.next_type
        |  LIMIT $pathTopK)
        |SELECT row_number() OVER (ORDER BY n_edges DESC, prev_type,
        |    next_type) AS rnk,
        |  prev_type, next_type, n_edges, n_out, share
        |FROM k ORDER BY rnk""".stripMargin),
    Key("q_asof_join", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"))
      TemporalJoins.asOfJoin(trades, quotes, "symbol", "ts",
        "trade_id", "quote_id", Seq("bid"))
    },
      """SELECT t.event_id AS trade_id, t.user_id AS symbol,
        |  date_trunc('second', t.ts) AS ts_s,
        |  q.event_id AS asof_id, q.value AS asof_bid
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |ASOF JOIN (SELECT * FROM events WHERE event_type IN ('click','view')) q
        |  ON t.user_id = q.user_id AND t.ts >= q.ts
        |ORDER BY trade_id""".stripMargin),
    // E6 — FORWARD as-of: the next quote at-or-after each trade.
    // E7 — lead-lag cross-correlation on the daily grid, lag 1 day.
    // E6 — forward as-of: DuckDB ASOF with the inequality flipped.
    // E7 — lead-lag: grid = first tick per (symbol, day) by tick_id
    // (B2's rule), moves exact cents on the grid, corr round(4); pairs
    // with no overlap drop out (inner join) on both sides.
    Key("q_leadlag_corr", (s, d) =>
      TemporalJoins.leadLagCorr(Tables.ticks(s, d),
        symPairs, "day", 1),
      s"""WITH grid AS (
        |  SELECT symbol, date_trunc('day', ts) AS bucket,
        |    arg_min(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      AS cents
        |  FROM $ticksSql t
        |  GROUP BY symbol, date_trunc('day', ts)),
        |rets AS (
        |  SELECT symbol, bucket,
        |    CAST(cents - lag(cents, 1) OVER (
        |      PARTITION BY symbol ORDER BY bucket) AS DOUBLE) AS d
        |  FROM grid),
        |pairs(sym_lead, sym_lag) AS (
        |  VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        |         (CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        |         (CAST(1 AS BIGINT), CAST(3 AS BIGINT)))
        |SELECT p.sym_lead, p.sym_lag, count(*) AS n_pairs,
        |  round(corr(a.d, b.d), 4) AS leadlag_corr
        |FROM pairs p
        |JOIN rets a ON a.symbol = p.sym_lead AND a.d IS NOT NULL
        |JOIN rets b ON b.symbol = p.sym_lag AND b.d IS NOT NULL
        |  AND b.bucket = a.bucket + INTERVAL 1 DAY
        |GROUP BY p.sym_lead, p.sym_lag
        |ORDER BY sym_lead, sym_lag""".stripMargin),
    // E9 — view→click→purchase funnel, greedy earliest chain, τ=1 day.
    // E9 — funnel: chained conditional MINs in exact int64 epoch µs
    // (ns→µs cast rule); dropouts keep NULLs via left joins.
    Key("q_funnel", (s, d) =>
      TemporalJoins.funnel(Tables.events(s, d), "view", "click",
        "purchase", 86400000000L),
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
        |SELECT t1.user_id, t1_us, t2_us, t3_us,
        |  t3_us IS NOT NULL AS completed
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin),
    // E15 — sequence match with negation: view → purchase within 1
    // day and NO click strictly between.
    // E15 — negation funnel: E9's chained conditional mins + ONE
    // decorrelated blocker count over the matched window; blocked is
    // three-valued (NULL when no chain), exact int64 µs throughout.
    Key("q_funnel_negation", (s, d) =>
      TemporalJoins.funnelWithout(Tables.events(s, d), "view",
        "purchase", "click", 86400000000L),
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT ev.user_id, min(us) AS t2_us
        |  FROM ev JOIN t1 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t1_us
        |    AND us <= t1_us + 86400000000 GROUP BY ev.user_id),
        |w AS (SELECT t1.user_id, t1_us, t2_us
        |  FROM t1 LEFT JOIN t2 USING (user_id)),
        |b AS (SELECT ev.user_id, count(*) AS n_blockers
        |  FROM ev JOIN w USING (user_id)
        |  WHERE event_type = 'click' AND w.t2_us IS NOT NULL
        |    AND us > w.t1_us AND us < w.t2_us
        |  GROUP BY ev.user_id)
        |SELECT w.user_id, w.t1_us, w.t2_us,
        |  CASE WHEN w.t2_us IS NOT NULL
        |    THEN coalesce(b.n_blockers, 0) END AS n_blockers,
        |  CASE WHEN w.t2_us IS NOT NULL
        |    THEN coalesce(b.n_blockers, 0) > 0 END AS blocked,
        |  w.t2_us IS NOT NULL AND coalesce(b.n_blockers, 0) = 0
        |    AS completed
        |FROM w LEFT JOIN b USING (user_id)
        |ORDER BY user_id""".stripMargin),
    // E10 — per-symbol calendar coverage / missing-day report.
    // E10 — coverage: per-symbol generate_series day grid left-joined
    // to the collapsed (symbol, day) frame; exact int counts, one
    // unrounded division.
    Key("q_calendar_coverage", (s, d) =>
      TemporalJoins.calendarCoverage(Tables.ticks(s, d)),
      s"""WITH days AS (
        |  SELECT symbol, CAST(ts AS DATE) AS d, count(*) AS n_ticks
        |  FROM $ticksSql t GROUP BY symbol, CAST(ts AS DATE)),
        |span AS (SELECT symbol, min(d) AS d0, max(d) AS d1
        |  FROM days GROUP BY symbol),
        |grid AS (SELECT symbol, CAST(g.g AS DATE) AS d
        |  FROM span, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(g))
        |SELECT symbol,
        |  count(*) AS n_days_span,
        |  CAST(sum(CASE WHEN days.n_ticks IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_days_active,
        |  CAST(sum(CASE WHEN days.n_ticks IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_days_missing,
        |  CAST(sum(CASE WHEN days.n_ticks IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS coverage
        |FROM grid LEFT JOIN days USING (symbol, d)
        |GROUP BY symbol ORDER BY symbol""".stripMargin),
    // E14 — cohort retention matrix: first-seen-day cohorts × day
    // offsets, distinct active users + retention share.
    // E14 — cohort retention: distinct (user, day) frame, first-seen
    // min as the cohort, calendar²-bounded matrix; counts exact int64,
    // retention ONE IEEE division of exact ints (unrounded).
    Key("q_cohort_retention", (s, d) =>
      TemporalJoins.cohortRetention(Tables.events(s, d)),
      """WITH days AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day
        |  FROM days GROUP BY user_id),
        |sz AS (SELECT cohort_day, count(*) AS cohort_size
        |  FROM coh GROUP BY cohort_day),
        |act AS (SELECT c.cohort_day,
        |    CAST(date_diff('day', c.cohort_day, d.day) AS BIGINT)
        |      AS day_offset,
        |    count(*) AS n_active
        |  FROM days d JOIN coh c USING (user_id) GROUP BY 1, 2)
        |SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_date,
        |  a.day_offset, a.n_active, s.cohort_size,
        |  CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention
        |FROM act a JOIN sz s USING (cohort_day)
        |ORDER BY cohort_date, day_offset""".stripMargin),
    // E16 — multi-table point-in-time feature join: purchases
    // enriched with the latest click AND view values in ONE pass.
    // Tolerance as-of: ASOF LEFT JOIN keeps every trade; the staleness
    // gate nullifies the match columns (age in exact integer µs; both
    // engines floor ns→µs identically).
    // E16 — the two-ASOF dual of the one-union-one-window plan;
    // values picked raw, ages exact µs, left semantics.
    Key("q_pit_features", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      def leg(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("id"), col("value").as("v"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("id"))
      TemporalJoins.pointInTimeJoin(facts, leg("click"), leg("view"))
    },
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
    // E11 — linear-interpolation gap fill onto the hourly grid.
    // E11 — interpolation never leaves int64: grid INDEX as time
    // (uniform grid ⇒ index interp ≡ time interp), B8's half-up
    // integer rounding formula, both engines' integer division
    // truncates toward zero on the non-negative operands.
    Key("q_interp_grid", (s, d) =>
      TemporalJoins.interpolateGrid(Tables.ticks(s, d), "hour"),
      s"""WITH anchors AS (
        |  SELECT symbol, date_trunc('hour', ts) AS bucket,
        |    arg_min(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      AS a_cents
        |  FROM $ticksSql t GROUP BY symbol, date_trunc('hour', ts)),
        |span AS (SELECT symbol, min(bucket) AS b0, max(bucket) AS b1
        |  FROM anchors GROUP BY symbol),
        |grid AS (SELECT symbol, CAST(g.g AS TIMESTAMP) AS bucket
        |  FROM span, unnest(generate_series(b0, b1, INTERVAL 1 HOUR))
        |    AS g(g)),
        |j AS (SELECT grid.symbol, grid.bucket, a.a_cents,
        |    row_number() OVER (PARTITION BY grid.symbol
        |      ORDER BY grid.bucket) AS idx
        |  FROM grid LEFT JOIN anchors a
        |    ON a.symbol = grid.symbol AND a.bucket = grid.bucket),
        |f AS (SELECT symbol, bucket, a_cents, idx,
        |    last_value(a_cents IGNORE NULLS) OVER wp AS p_cents,
        |    last_value(CASE WHEN a_cents IS NOT NULL THEN idx END
        |      IGNORE NULLS) OVER wp AS p_idx,
        |    first_value(a_cents IGNORE NULLS) OVER wn AS n_cents,
        |    first_value(CASE WHEN a_cents IS NOT NULL THEN idx END
        |      IGNORE NULLS) OVER wn AS n_idx
        |  FROM j
        |  WINDOW wp AS (PARTITION BY symbol ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING),
        |    wn AS (PARTITION BY symbol ORDER BY bucket
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT symbol,
        |  strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
        |  CASE WHEN a_cents IS NOT NULL THEN a_cents
        |    ELSE (2 * (p_cents * (n_idx - idx) + n_cents * (idx - p_idx))
        |      + (n_idx - p_idx)) // (2 * (n_idx - p_idx)) END AS cents,
        |  a_cents IS NOT NULL AS is_observed
        |FROM f ORDER BY symbol, bucket_ts""".stripMargin),
    // E12 — purchases assigned to their enclosing browsing session
    // (sessions from non-purchase activity, 24 h gap); orphans NULL.
    // E12 — containment: non-overlapping gap sessions ⇒ LEFT range
    // join matches at most one interval; second-grain compares.
    Key("q_session_assign", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val src = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id").as("tick_id"),
          col("user_id").as("symbol"), col("ts"))
      val pts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("point_id"),
          col("user_id").as("symbol"), col("ts"))
      TemporalJoins.sessionAssign(src, pts, sessionGapSec)
    },
      s"""WITH t AS (SELECT event_id AS tick_id, user_id AS symbol, ts
        |  FROM events WHERE event_type <> 'purchase'),
        |s AS (SELECT tick_id, symbol, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL $sessionGapSec SECOND
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM t WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)),
        |s2 AS (SELECT symbol, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM s),
        |sess AS (SELECT symbol, session_id,
        |    date_trunc('second', min(ts)) AS st,
        |    date_trunc('second', max(ts)) AS en
        |  FROM s2 GROUP BY symbol, session_id),
        |p AS (SELECT event_id AS point_id, user_id AS symbol,
        |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_s
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.point_id, p.symbol,
        |  strftime(p.ts_s, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  sess.session_id,
        |  sess.session_id IS NOT NULL AS in_session
        |FROM p LEFT JOIN sess ON sess.symbol = p.symbol
        |  AND p.ts_s >= sess.st AND p.ts_s <= sess.en
        |ORDER BY point_id""".stripMargin),
    Key("q_asof_forward", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"))
      TemporalJoins.asOfJoinForward(trades, quotes, "symbol", "ts",
        "trade_id", "quote_id", Seq("bid"))
    },
      """SELECT t.event_id AS trade_id, t.user_id AS symbol,
        |  date_trunc('second', t.ts) AS ts_s,
        |  q.event_id AS next_id, q.value AS next_bid
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |ASOF JOIN (SELECT * FROM events WHERE event_type IN ('click','view')) q
        |  ON t.user_id = q.user_id AND t.ts <= q.ts
        |ORDER BY trade_id""".stripMargin),
    // E4 — tolerance as-of: quotes older than 600 s must not price a
    // trade (left flavor; this corpus yields fresh + stale + no-match).
    Key("q_asof_tolerance", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"))
      TemporalJoins.asOfJoinTolerance(trades, quotes, "symbol", "ts",
        "trade_id", "quote_id", Seq("bid"), 600L)
    },
      """SELECT trade_id, symbol, ts_s,
        |  CASE WHEN fresh THEN qid END AS asof_id,
        |  CASE WHEN fresh THEN qbid END AS asof_bid,
        |  CASE WHEN fresh THEN age_us END AS age_us
        |FROM (
        |  SELECT t.event_id AS trade_id, t.user_id AS symbol,
        |    date_trunc('second', t.ts) AS ts_s,
        |    q.event_id AS qid, q.value AS qbid,
        |    epoch_us(t.ts) - epoch_us(q.ts) AS age_us,
        |    q.event_id IS NOT NULL
        |      AND epoch_us(t.ts) - epoch_us(q.ts) <= 600000000 AS fresh
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |  ASOF LEFT JOIN (SELECT * FROM events
        |    WHERE event_type IN ('click','view')) q
        |    ON t.user_id = q.user_id AND t.ts >= q.ts) x
        |ORDER BY trade_id""".stripMargin),
    Key("q_range_join", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"))
      val clicks = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"))
      TemporalJoins.rangeJoinCount(trades, clicks, "symbol", "ts",
        "trade_id", 3600L)
    },
      """SELECT t.event_id AS trade_id, t.user_id AS symbol,
        |  count(q.ts) AS n_in_window
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') t
        |LEFT JOIN (SELECT user_id, ts FROM events
        |      WHERE event_type IN ('click','view')) q
        |  ON q.user_id = t.user_id
        |  AND q.ts >= t.ts - INTERVAL 3600 SECONDS AND q.ts < t.ts
        |GROUP BY t.event_id, t.user_id ORDER BY trade_id""".stripMargin),
    Key("q_sessionize", (s, d) =>
      TemporalJoins.sessionize(Tables.ticks(s, d), "symbol", "ts", 6 * 3600L),
      """WITH t AS (SELECT event_id AS tick_id, user_id AS symbol, ts FROM events),
        |s AS (SELECT tick_id, symbol, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
        |  FROM t WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)),
        |s2 AS (SELECT symbol, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM s)
        |SELECT symbol, session_id, count(*) AS n_ticks,
        |  date_trunc('second', min(ts)) AS session_start,
        |  date_trunc('second', max(ts)) AS session_end
        |FROM s2 GROUP BY symbol, session_id
        |ORDER BY symbol, session_id""".stripMargin),
    // E8 — co-trading session overlap for the E7 pair list, same gap.
    // E8 — session overlap: second-truncated bounds → exact int64
    // second durations, all sums order-free (CAST — HUGEINT rule).
    Key("q_session_overlap", (s, d) =>
      TemporalJoins.sessionOverlap(Tables.ticks(s, d), "symbol", "ts",
        6 * 3600L, symPairs),
      """WITH t AS (SELECT event_id AS tick_id, user_id AS symbol, ts FROM events),
        |s AS (SELECT tick_id, symbol, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
        |  FROM t WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)),
        |s2 AS (SELECT symbol, ts,
        |    sum(new_s) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM s),
        |sess AS (SELECT symbol,
        |    date_trunc('second', min(ts)) AS st,
        |    date_trunc('second', max(ts)) AS en
        |  FROM s2 GROUP BY symbol, session_id),
        |pairs(sym_a, sym_b) AS (
        |  VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        |         (CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        |         (CAST(1 AS BIGINT), CAST(3 AS BIGINT)))
        |SELECT p.sym_a, p.sym_b, count(*) AS n_overlaps,
        |  CAST(sum(date_diff('second',
        |    greatest(a.st, b.st), least(a.en, b.en))) AS BIGINT)
        |    AS total_overlap_s
        |FROM pairs p
        |JOIN sess a ON a.symbol = p.sym_a
        |JOIN sess b ON b.symbol = p.sym_b
        |  AND b.st <= a.en AND a.st <= b.en
        |GROUP BY p.sym_a, p.sym_b
        |ORDER BY sym_a, sym_b""".stripMargin),
  )
}
