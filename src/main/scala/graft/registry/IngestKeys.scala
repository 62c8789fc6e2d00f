package graft
package registry

import graft.SparkEntry._
import graft.operators._
import graft.sources.Tables

/** The SURVEY §2.A registry keys, ingest and storage: one `Key` record
  * per key, its Spark builder beside the DuckDB SQL its result is
  * hash-checked against. */
object IngestKeys {

  val runCutoff = "2024-01-20"  // A25 as-of cutoff (mid-history)
  // A28 stage params (small config longs — lineageParamsFp bound):
  // identical in the registry's prior/current manifests, so the only
  // verdict driver is the as-of data diff; the SPEC varies them.
  val lineageParams: Map[String, Long] = Map(
    "schema" -> 1L, "ingest" -> 2L, "clean" -> 750L,
    "features" -> 16L, "train" -> 62500L, "evaluate" -> 990000L)

  /** A28 oracle generator: BOTH manifests' slot chains via
    * [[windowErrSqlG]] (suffix "" = current, "p" = as-of prior), the
    * five content-fp aggregates per manifest, the stage-DAG ladder as
    * sequential CTE stages, and the 6-row verdict union. Params fps
    * are compile-time constants ([[RunTracker.lineageParamsFp]] —
    * the same function the operator folds). */
  private def stageLineageOracleSql(cutoff: String,
                                    priorParams: Map[String, Long],
                                    curParams: Map[String, Long])
      : String = {
    val P = graft.functions.PortableText.P
    def pf(m: Map[String, Long])(st: String): Long =
      RunTracker.lineageParamsFp(m(st))
    val pc = pf(curParams) _; val pp = pf(priorParams) _
    val pred = s"CAST(date_trunc('day', ts) AS DATE) <= DATE '$cutoff'"
    def fpCtes(x: String): String =
      s"""fc$x AS (SELECT
        |    CAST(COALESCE(SUM(((tick_id * 31 + cents) % $P + $P) % $P),
        |      0) % $P AS BIGINT) AS raw,
        |    CAST(COALESCE(SUM(CASE WHEN (hour(ts) = 7 OR hour(ts) = 13)
        |        AND minute(ts) >= 50
        |      THEN ((tick_id * 31 + cents) % $P + $P) % $P END), 0) % $P
        |      AS BIGINT) AS clean
        |  FROM rawc$x),
        |fs$x AS (SELECT CAST(COALESCE(SUM(
        |    ((symbol * 8191 + i * 127 + u) % $P + $P) % $P), 0) % $P
        |    AS BIGINT) AS v FROM uq$x),
        |ft$x AS (SELECT CAST(COALESCE(SUM(
        |    ((symbol * 8191 + i * 127 + su * 31 + n_tr) % $P + $P)
        |      % $P), 0) % $P AS BIGINT) AS v FROM tm$x),
        |fe$x AS (SELECT CAST(COALESCE(SUM(
        |    ((symbol * 8191 + u_err) % $P + $P) % $P), 0) % $P
        |    AS BIGINT) AS v FROM er$x),
        |lad0$x AS (SELECT fc$x.raw AS raw, fc$x.clean AS clean,
        |    fs$x.v AS slots, ft$x.v AS train, fe$x.v AS err
        |  FROM fc$x, fs$x, ft$x, fe$x)""".stripMargin
    def ladder(x: String, p: String => Long): String =
      s"""l1$x AS (SELECT *,
        |    (raw * 961 + raw * 31 + ${p("ingest")}) % $P AS o_ingest
        |  FROM lad0$x),
        |l2$x AS (SELECT *,
        |    (o_ingest * 961 + clean * 31 + ${p("clean")}) % $P
        |      AS o_clean FROM l1$x),
        |l3$x AS (SELECT *,
        |    (o_clean * 961 + slots * 31 + ${p("features")}) % $P
        |      AS o_features FROM l2$x),
        |l4$x AS (SELECT *,
        |    (o_features * 961 + train * 31 + ${p("train")}) % $P
        |      AS o_train FROM l3$x),
        |l5$x AS (SELECT *,
        |    (o_train * 31 + o_features) % $P AS i_eval FROM l4$x),
        |lad$x AS (SELECT *,
        |    (i_eval * 961 + err * 31 + ${p("evaluate")}) % $P
        |      AS o_eval FROM l5$x)""".stripMargin
    def vrow(ord: Int, st: String, in: String, out: String,
             pin: String): String = {
      val sameP = if (pc(st) == pp(st)) "TRUE" else "FALSE"
      s"""SELECT $ord AS stage_ord, '$st' AS stage,
        |  CAST($in AS BIGINT) AS input_fp,
        |  CAST(${pc(st)} AS BIGINT) AS params_fp,
        |  CAST($out AS BIGINT) AS output_fp,
        |  CAST($pin AS BIGINT) AS prior_input_fp,
        |  CAST(${pp(st)} AS BIGINT) AS prior_params_fp,
        |  CASE WHEN CAST($in AS BIGINT) = CAST($pin AS BIGINT)
        |    AND $sameP THEN 'cache' ELSE 'reproduce' END AS verdict
        |FROM lad c, ladp p""".stripMargin
    }
    val rows = Seq(
      vrow(0, "schema", "0", pc("schema").toString, "0"),
      vrow(1, "ingest", "c.raw",
        s"(c.raw * 961 + c.raw * 31 + ${pc("ingest")}) % $P", "p.raw"),
      vrow(2, "clean", "c.o_ingest", "c.o_clean", "p.o_ingest"),
      vrow(3, "features", "c.o_clean", "c.o_features", "p.o_clean"),
      vrow(4, "train", "c.o_features", "c.o_train", "p.o_features"),
      vrow(5, "evaluate", "c.i_eval", "c.o_eval", "p.i_eval")
    ).mkString("\nUNION ALL\n")
    s"""WITH ${windowErrSqlG("", "")},
      |${windowErrSqlG("p", pred)},
      |rawc AS (SELECT event_id AS tick_id, ts,
      |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents
      |  FROM events),
      |rawcp AS (SELECT * FROM rawc WHERE $pred),
      |${fpCtes("")},
      |${fpCtes("p")},
      |${ladder("", pc)},
      |${ladder("p", pp)}
      |SELECT * FROM (
      |$rows
      |) ORDER BY stage_ord""".stripMargin
  }

  lazy val keys: Seq[Key] = Seq(
    // A18 — declarative constraint audit over lineitem (one scan) +
    // referential orphan check, one report.
    // A18 — all row predicates in ONE conditional aggregate; the
    // referential check is an anti-join count UNION'd in.
    Key("q_constraint_audit", (s, d) => {
      import org.apache.spark.sql.functions.col
      val row = Lakehouse.constraintAudit(Tables.lineitem(s, d), Seq(
        ("quantity_positive", col("l_quantity") <= 0),
        ("discount_in_range", col("l_discount") < 0 || col("l_discount") > 1),
        ("shipdate_not_null", col("l_shipdate").isNull),
        ("price_positive", col("l_extendedprice") <= 0)))
      val ref = Lakehouse.referentialViolations(Tables.lineitem(s, d),
        "l_orderkey", Tables.orders(s, d), "o_orderkey", "orderkey_in_orders")
      row.unionByName(ref
        .select(col("constraint_name"), col("n_violations"),
          col("total_rows"), col("pass")))
        .orderBy(col("constraint_name"))
    },
      """WITH base AS (
        |  SELECT count(*) AS total_rows,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_qty,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ship,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_price
        |  FROM lineitem),
        |ref AS (
        |  SELECT (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |      (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |    AS n_violations,
        |    (SELECT count(*) FROM lineitem) AS total_rows)
        |SELECT constraint_name, n_violations, total_rows,
        |  n_violations = 0 AS pass
        |FROM (
        |  SELECT 'quantity_positive' AS constraint_name, v_qty AS n_violations,
        |    total_rows FROM base
        |  UNION ALL SELECT 'discount_in_range', v_disc, total_rows FROM base
        |  UNION ALL SELECT 'shipdate_not_null', v_ship, total_rows FROM base
        |  UNION ALL SELECT 'price_positive', v_price, total_rows FROM base
        |  UNION ALL SELECT 'orderkey_in_orders', n_violations, total_rows
        |    FROM ref) u
        |ORDER BY constraint_name""".stripMargin),
    // A25 — run-tracking lineage (mlflow phase-tracker analog): as of
    // the cutoff, each symbol's best validation run and — via the
    // parent link — the train run's params + model artifact.
    // A25 — run registry re-derived end-to-end: per-(symbol, day)
    // cycle, D7's split arithmetic slices the day's ticks per phase,
    // loss ppm-exact in int64; ids/params/artifacts pure functions of
    // (symbol, day index, phase); as-of = pushed-down date predicate.
    Key("q_run_history", (s, d) =>
      RunTracker.bestRunsAsOf(Tables.ticks(s, d), runCutoff),
      s"""WITH t AS (SELECT event_id AS tick_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM t),
        |e AS (SELECT tick_id, symbol, day, (day - d0.d0) AS di, cents
        |  FROM t, d0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY symbol, day
        |      ORDER BY tick_id) AS rn,
        |    count(*) OVER (PARTITION BY symbol, day) AS cnt FROM e),
        |p AS (SELECT *, CASE WHEN rn <= floor(cnt * 0.6) THEN 'train'
        |      WHEN rn <= floor(cnt * 0.6) + floor(cnt * 0.2) THEN 'val'
        |      ELSE 'test' END AS phase FROM r),
        |dd AS (SELECT *, abs(cents - lag(cents) OVER (PARTITION BY
        |      symbol, day, phase ORDER BY tick_id)) AS d_cents FROM p),
        |runs AS (SELECT symbol, day, di, phase,
        |    count(d_cents) AS n_diffs,
        |    CAST(sum(d_cents) AS BIGINT) AS sum_abs
        |  FROM dd GROUP BY 1, 2, 3, 4),
        |rr AS (SELECT symbol, day, di, phase,
        |    CASE WHEN n_diffs > 0
        |      THEN CAST((sum_abs * 1000000) // n_diffs AS BIGINT)
        |    END AS loss_ppm,
        |    CAST(symbol * 10000000 + di * 3 + (CASE phase WHEN 'train'
        |      THEN 0 WHEN 'val' THEN 1 ELSE 2 END) AS BIGINT) AS run_id,
        |    CAST(symbol * 10000000 + di * 3 AS BIGINT) AS parent_run_id,
        |    CAST(1000000 // (di + 10) AS BIGINT) AS lr_ppm,
        |    CASE WHEN phase = 'train' THEN 'models/'
        |      || CAST(symbol AS VARCHAR) || '/d' || CAST(di AS VARCHAR)
        |      || '.pt' END AS artifact_path
        |  FROM runs),
        |ao AS (SELECT * FROM rr WHERE day <= DATE '$runCutoff'),
        |best AS (SELECT symbol, run_id AS best_run_id,
        |    loss_ppm AS best_val_loss_ppm, parent_run_id
        |  FROM (SELECT *, row_number() OVER (PARTITION BY symbol
        |      ORDER BY loss_ppm ASC NULLS LAST, run_id) AS rk
        |    FROM ao WHERE phase = 'val' AND loss_ppm IS NOT NULL) x
        |  WHERE rk = 1),
        |tr AS (SELECT run_id AS parent_run_id, lr_ppm, artifact_path
        |  FROM ao WHERE phase = 'train'),
        |cnts AS (SELECT symbol, count(*) AS n_runs FROM ao GROUP BY 1)
        |SELECT c.symbol, c.n_runs, b.best_run_id, b.best_val_loss_ppm,
        |  tr.lr_ppm, tr.artifact_path
        |FROM cnts c LEFT JOIN best b ON b.symbol = c.symbol
        |LEFT JOIN tr ON tr.parent_run_id = b.parent_run_id
        |ORDER BY c.symbol""".stripMargin),
    // A26 — pipeline phase-status table (main.py /status analog):
    // per (symbol, day) cycle the train/val/test slice bounds +
    // ok/error verdicts and the live session-window monitor row
    // (error on a deployed-threshold breach — D83's rule).
    // A26 — pipeline phase status: the A25 slice CTEs with ts bounds
    // kept, ok/error from the metric-existence predicate; live rows
    // from the session-window collapse + the shared windowErrSql
    // error chain vs the deployed test-percentile threshold.
    Key("q_pipeline_status", (s, d) =>
      RunTracker.pipelineStatus(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |t2 AS (SELECT event_id AS tick_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day, ts,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        |  FROM events),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY symbol, day
        |      ORDER BY tick_id) AS rn,
        |    count(*) OVER (PARTITION BY symbol, day) AS cnt FROM t2),
        |p2 AS (SELECT *, CASE WHEN rn <= floor(cnt * 0.6) THEN 'train'
        |      WHEN rn <= floor(cnt * 0.6) + floor(cnt * 0.2) THEN 'val'
        |      ELSE 'test' END AS phase FROM r2),
        |dd2 AS (SELECT *, abs(cents - lag(cents) OVER (PARTITION BY
        |      symbol, day, phase ORDER BY tick_id)) AS d_cents FROM p2),
        |met AS (SELECT symbol, strftime(day, '%Y-%m-%d') AS day, phase,
        |    date_trunc('second', min(ts)) AS started,
        |    date_trunc('second', max(ts)) AS finished,
        |    count(*) AS n_ticks,
        |    CASE WHEN count(d_cents) > 0 THEN 'ok' ELSE 'error' END
        |      AS status
        |  FROM dd2 GROUP BY 1, 2, 3),
        |sess AS (SELECT user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day, ts
        |  FROM events
        |  WHERE (hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50),
        |lb AS (SELECT symbol, day,
        |    date_trunc('second', min(ts)) AS started,
        |    date_trunc('second', max(ts)) AS finished,
        |    count(*) AS n_ticks
        |  FROM sess GROUP BY 1, 2),
        |thr2 AS (SELECT symbol,
        |    quantile_cont(u_err, $reconFlagPct) AS qu
        |  FROM er WHERE split = 'test' GROUP BY 1),
        |br AS (SELECT er.symbol AS symbol, er.date AS date,
        |    max(CASE WHEN t.qu IS NOT NULL
        |      AND CAST(er.u_err AS DOUBLE) > t.qu THEN 1 ELSE 0 END)
        |      AS breached
        |  FROM er LEFT JOIN thr2 t ON t.symbol = er.symbol
        |  GROUP BY 1, 2),
        |liv AS (SELECT lb.symbol, strftime(lb.day, '%Y-%m-%d') AS day,
        |    'live' AS phase,
        |    lb.started, lb.finished, lb.n_ticks,
        |    CASE WHEN br.breached = 1 THEN 'error' ELSE 'ok' END
        |      AS status
        |  FROM lb LEFT JOIN br ON br.symbol = lb.symbol
        |    AND br.date = strftime(lb.day, '%Y-%m-%d'))
        |SELECT * FROM (SELECT * FROM met UNION ALL SELECT * FROM liv)
        |ORDER BY symbol, day,
        |  CASE phase WHEN 'train' THEN 0 WHEN 'val' THEN 1
        |    WHEN 'test' THEN 2 ELSE 3 END""".stripMargin),
    // A28 — DVC-analog stage-lineage manifest: per pipeline stage the
    // (input, params, output) fingerprints of the current run vs the
    // as-of-cutoff prior run, with the cache/reproduce verdict.
    // A28 — stage-lineage manifest: two generated slot chains (full
    // vs as-of), content-fp aggregates, the stage-DAG ladder, verdict
    // per stage.
    Key("q_stage_lineage", (s, d) =>
      RunTracker.stageLineage(Tables.ticks(s, d), tensorSlots,
        runCutoff, lineageParams, lineageParams,
        cacheKey = Some(d)),
      stageLineageOracleSql(runCutoff, lineageParams, lineageParams)),
    // MERGE-style upsert (CatalogOps.upsertPlan): every 97th order is
    // updated (price doubled) and re-inserted under a shifted key;
    // src marks kept/updated/inserted provenance.
    Key("q_upsert", (s, d) => {
      import org.apache.spark.sql.functions._
      val t = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val m = t.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val updates = m.unionByName(
        m.withColumn("o_orderkey", col("o_orderkey") + 1000000000000L))
      CatalogOps.upsertPlan(t, updates, Seq("o_orderkey"))
        .withColumn("src", when(col("o_orderkey") >= 1000000000000L, "I")
          .when(col("o_orderkey") % 97 === 0, "U").otherwise("K"))
        .orderBy("o_orderkey")
    },
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
        |      o_orderstatus
        |    FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000000, o_custkey, o_totalprice * 2,
        |      o_orderstatus
        |    FROM orders WHERE o_orderkey % 97 = 0),
        |m AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |    FROM orders
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        |  CASE WHEN o_orderkey >= 1000000000000 THEN 'I'
        |       WHEN o_orderkey % 97 = 0 THEN 'U' ELSE 'K' END AS src
        |FROM m ORDER BY o_orderkey""".stripMargin),
    // A15 — SCD2 compaction: per-user value-tier version history.
    Key("q_scd2", (s, d) => Scd.scd2History(Tables.events(s, d)),
      """WITH tiered AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts_s,
        |    CASE WHEN value < 25.0 THEN 'low'
        |         WHEN value < 75.0 THEN 'mid'
        |         ELSE 'high' END AS tier
        |  FROM events),
        |chg AS (
        |  SELECT user_id, ts_s, event_id, tier FROM (
        |    SELECT user_id, ts_s, event_id, tier,
        |      lag(tier, 1) OVER (PARTITION BY user_id
        |        ORDER BY ts_s, event_id) AS prev_tier
        |    FROM tiered) x
        |  WHERE prev_tier IS NULL OR tier <> prev_tier)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id) AS version,
        |  tier, ts_s AS valid_from,
        |  lead(ts_s, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id) AS valid_to,
        |  lead(ts_s, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id) IS NULL AS is_current
        |FROM chg ORDER BY user_id, version""".stripMargin),
    // A16 — CDC apply: error events are deletes, everything else an
    // upsert; last writer (by event_id) wins per user.
    // A16 — CDC apply: arg_max twice on the unique seq (deterministic),
    // delete-tailed keys dropped in HAVING.
    Key("q_cdc_apply", (s, d) => Scd.cdcApply(
      Tables.events(s, d).select(
        org.apache.spark.sql.functions.col("user_id").as("key"),
        org.apache.spark.sql.functions.col("event_id").as("seq"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        org.apache.spark.sql.functions.col("value"))),
      """SELECT user_id AS key,
        |  arg_max(value, event_id) AS value,
        |  count(*) AS n_changes,
        |  CAST(max(event_id) AS BIGINT) AS last_seq
        |FROM events
        |GROUP BY user_id
        |HAVING arg_max(CASE WHEN event_type = 'error' THEN 'D'
        |  ELSE 'U' END, event_id) <> 'D'
        |ORDER BY key""".stripMargin),
    Key("q_quality_scan", (s, d) =>
      Lakehouse.qualityScan(Tables.events(s, d), "event_type",
        Seq("user_id", "value", "props")),
      """SELECT event_type, count(*) AS total_rows,
        |  count(*) FILTER (WHERE user_id IS NULL) AS user_id_nulls,
        |  count(*) FILTER (WHERE value IS NULL) AS value_nulls,
        |  count(*) FILTER (WHERE props IS NULL) AS props_nulls
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // A27 — partition-skew report (ppm max-share + exact-int Gini).
    // A27 — day-partition counts, pairwise exact-int Gini, ppm ints.
    Key("q_partition_skew", (s, d) =>
      Lakehouse.partitionSkew(Tables.events(s, d), "ts"),
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(sum(abs(a.n - b.n)) AS BIGINT) AS sad
        |  FROM c a, c b),
        |s AS (SELECT count(*) AS n_partitions,
        |    CAST(sum(n) AS BIGINT) AS total_rows,
        |    max(n) AS max_rows, min(n) AS min_rows FROM c)
        |SELECT n_partitions, total_rows, max_rows, min_rows,
        |  CAST((max_rows * 1000000) // total_rows AS BIGINT)
        |    AS max_share_ppm,
        |  CAST((sad * 1000000) // (2 * n_partitions * total_rows)
        |    AS BIGINT) AS gini_ppm
        |FROM s, p""".stripMargin),
    Key("q_partition_stats", (s, d) =>
      Lakehouse.partitionStats(Tables.orders(s, d), "o_orderdate", "o_totalprice"),
      """SELECT year(o_orderdate) AS yr, count(*) AS n_rows,
        |  round(sum(o_totalprice),4) AS sum_val
        |FROM orders GROUP BY year(o_orderdate) ORDER BY yr""".stripMargin),
    Key("q_time_travel", (s, d) =>
      Lakehouse.snapshotAsOf(Tables.events(s, d),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.lit("2024-01-15 00:00:00").cast("timestamp"),
        "event_type"),
      """SELECT event_type, count(*) AS n_rows FROM events
        |WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Key("q_snapshot_log", (s, d) =>
      Lakehouse.snapshotHistory(Tables.events(s, d), "event_id", 2000L),
      """SELECT snapshot_id, added,
        |  CAST(sum(added) OVER (ORDER BY snapshot_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS total
        |FROM (SELECT event_id // 2000 AS snapshot_id, count(*) AS added
        |  FROM events GROUP BY event_id // 2000) s
        |ORDER BY snapshot_id""".stripMargin),
    // A14 — retention: expire all but the 3 newest snapshots (log audit;
    // head state untouched, expired ids lose time travel only).
    // Expiry report: same history CTE as q_snapshot_log plus the
    // retain-last-3 verdict against the max id.
    Key("q_snapshot_expire", (s, d) =>
      Lakehouse.expireSnapshots(Tables.events(s, d), "event_id", 2000L, 3),
      """SELECT snapshot_id, added, total,
        |  snapshot_id <= h - 3 AS expired,
        |  NOT (snapshot_id <= h - 3) AS time_travelable
        |FROM (
        |  SELECT snapshot_id, added,
        |    CAST(sum(added) OVER (ORDER BY snapshot_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS total,
        |    max(snapshot_id) OVER () AS h
        |  FROM (SELECT event_id // 2000 AS snapshot_id, count(*) AS added
        |    FROM events GROUP BY event_id // 2000) s) x
        |ORDER BY snapshot_id""".stripMargin),
    // Rollback to snapshot 2: history keeps every append AND gains the
    // head `rollback` entry (Iceberg writes a snapshot; it never erases).
    // The rollback row comes from a FROM-clause join against the
    // target snapshot's history row, NOT a scalar subquery: when the
    // target snapshot does not exist (sf0.001 has one snapshot), the
    // join is empty and no rollback entry appears — matching the
    // Spark side's empty-crossJoin semantics, where a scalar subquery
    // would instead fabricate a NULL-total row.
    Key("q_rollback", (s, d) =>
      Lakehouse.rollbackHistory(Tables.events(s, d), "event_id", 2000L, 2L),
      """WITH s AS (SELECT event_id // 2000 AS snapshot_id, count(*) AS added
        |  FROM events GROUP BY event_id // 2000),
        |h AS (SELECT snapshot_id, added,
        |  CAST(sum(added) OVER (ORDER BY snapshot_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS total,
        |  'append' AS operation FROM s)
        |SELECT snapshot_id, added, total, operation FROM h
        |UNION ALL
        |SELECT mx.m + 1 AS snapshot_id, CAST(0 AS BIGINT) AS added,
        |  t.total, 'rollback' AS operation
        |FROM (SELECT total FROM h WHERE snapshot_id = 2) t,
        |     (SELECT max(snapshot_id) AS m FROM h) mx
        |ORDER BY snapshot_id""".stripMargin),
    // Diff snapshots 2 and 5 (as-of counts — ids beyond head compare
    // against head, so the row is well-defined at every SF).
    Key("q_snapshot_diff", (s, d) =>
      Lakehouse.diffSnapshots(Tables.events(s, d), "event_id", 2000L, 2L, 5L),
      """SELECT CAST(2 AS BIGINT) AS snap_a, CAST(5 AS BIGINT) AS snap_b,
        |  count(*) FILTER (WHERE event_id // 2000 <= 2) AS rows_a,
        |  count(*) FILTER (WHERE event_id // 2000 <= 5) AS rows_b,
        |  count(*) FILTER (WHERE event_id // 2000 <= 5)
        |    - count(*) FILTER (WHERE event_id // 2000 <= 2) AS delta
        |FROM events""".stripMargin),
    Key("q_partitions_asof", (s, d) =>
      Lakehouse.partitionsAsOf(Tables.events(s, d), "event_id", 2000L, 2L,
        "ts", "value"),
      """SELECT year(ts) AS yr, count(*) AS n_rows,
        |  round(sum(value),4) AS sum_val
        |FROM events WHERE event_id // 2000 <= 2
        |GROUP BY year(ts) ORDER BY yr""".stripMargin),
    Key("q_ndv_profile", (s, d) =>
      Lakehouse.ndvProfile(Tables.events(s, d),
        Seq("user_id", "event_type", "value")),
      """SELECT count(*) AS total_rows,
        |  count(DISTINCT user_id) AS ndv_user_id,
        |  count(DISTINCT event_type) AS ndv_event_type,
        |  count(DISTINCT value) AS ndv_value
        |FROM events""".stripMargin),
    Key("q_json_extract", (s, d) =>
      Lakehouse.jsonExtractStats(Tables.events(s, d), "props", "$.k", "event_type"),
      """SELECT event_type,
        |  count(CAST(props->>'$.k' AS INT)) AS n_with_key,
        |  round(avg(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
        |  max(CAST(props->>'$.k' AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Side-effect audits: real on-disk state built in a throwaway
    // location, the maintenance op run, and a LOGICAL audit frame
    // returned whose cells a DuckDB oracle can derive from sfDir. The
    // oracles are the logical halves of the side-effectful maintenance
    // ops: file-count cells are layout constants pinned by the audit's
    // build parameters (3+3 appended files compacting to 1; 4 live + 2
    // planted orphans); content cells derive from the sfDir tables.
    // A1 — CSV→parquet ingest round-trip audit per symbol.
    // A1 — the CSV tree is symbol=<id> dirs; the reader surfaces the
    // dir name as the symbol string. Timestamps round-trip at the
    // Dukascopy format's ms precision (epoch_ms).
    Key("q_ingest_roundtrip", CatalogAudits.ingestRoundTrip(_, _), {
      import graft.functions.PortableText.P
      s"""SELECT 'symbol=' || CAST(symbol AS VARCHAR) AS symbol,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(bid * 100.0, 0) AS BIGINT)) AS BIGINT)
        |    AS bid_cents,
        |  CAST(sum(CAST(round(ask * 10000.0, 0) AS BIGINT)) AS BIGINT)
        |    AS ask_e4,
        |  CAST(sum(epoch_ms(ts) % $P) AS BIGINT) AS ts_fp
        |FROM $ticksSql t
        |WHERE symbol % 16 = 0
        |GROUP BY 1 ORDER BY symbol""".stripMargin
    }),
    // A29 — ORC interchange round-trip audit per symbol.
    // A29 — the ORC round-trip must change nothing: the oracle
    // prices the audit cells straight off the parquet source (µs
    // fingerprints — ORC stores ns, so µs survives exactly).
    Key("q_orc_roundtrip", CatalogAudits.orcRoundTrip(_, _), {
      import graft.functions.PortableText.P
      s"""SELECT symbol, count(*) AS n,
        |  CAST(sum(CAST(round(bid * 100.0, 0) AS BIGINT)) AS BIGINT)
        |    AS bid_cents,
        |  CAST(sum(CAST(round(ask * 10000.0, 0) AS BIGINT)) AS BIGINT)
        |    AS ask_e4,
        |  CAST(sum(epoch_us(ts) % $P) AS BIGINT) AS ts_fp
        |FROM $ticksSql t
        |WHERE symbol % 16 = 0
        |GROUP BY 1 ORDER BY symbol""".stripMargin
    }),
    // A30 — JSONL interchange round-trip audit per source.
    // A30 — the JSONL escape/parse cycle must change nothing: the
    // oracle prices the audit cells straight off the parquet source.
    Key("q_jsonl_roundtrip", CatalogAudits.jsonRoundTrip(_, _), {
      import graft.functions.PortableText._
      s"""SELECT source, count(*) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS chars_read,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_stored,
        |  CAST(sum(${duckPolyHash("text")} % $P) AS BIGINT) AS text_fp,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents
        |GROUP BY 1 ORDER BY source""".stripMargin
    }),
    // A11 — small-file compaction: lossless rewrite + planned layout.
    // A11 — two 3-file appends compact to exactly 1 file per year at
    // an unbounded byte target; rows and the order-free content fp
    // must survive the rewrite untouched.
    Key("q_compaction_audit", CatalogAudits.compactionAudit(_, _), {
      import graft.functions.PortableText.P
      // ((x % P + P) % P) == pmod — the operator folds pmod while
      // DuckDB's % is signed; identity for the non-negative terms of
      // the standard corpora, sign-safe for negative event values.
      s"""SELECT year(ts) AS year, 6 AS n_files_before,
        |  1 AS n_files_planned, CAST(1 AS BIGINT) AS n_files_after,
        |  count(*) AS n_rows,
        |  CAST(COALESCE(SUM(((event_id * 31
        |    + CAST(round(value * 100.0, 0) AS BIGINT)) % $P + $P) % $P),
        |    0) % $P AS BIGINT) AS fp
        |FROM events GROUP BY 1 ORDER BY year""".stripMargin
    }),
    // A17 — merged-schema read: per-generation backfill report.
    // A17 — gen 0 lacks props+event_type (all-NULL backfill), gen 1
    // lacks event_type; natural nulls ride through unchanged.
    Key("q_schema_evolution", CatalogAudits.evolutionAudit(_, _),
      """SELECT CAST(event_id % 3 AS INT) AS gen, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN event_id % 3 = 0 OR props IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
        |  CAST(sum(CASE WHEN event_id % 3 < 2 OR event_type IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_event_type
        |FROM events GROUP BY 1 ORDER BY gen""".stripMargin),
    // A21 — orphan sweep: dry/delete/re-run counts + live rows.
    // A21 — 4 live + 2 planted orphan files; the sweep deletes the 2,
    // the re-run finds none, the table rows survive.
    Key("q_orphan_audit", CatalogAudits.orphanAudit(_, _),
      """SELECT CAST(6 AS BIGINT) AS n_files,
        |  CAST(4 AS BIGINT) AS n_referenced,
        |  CAST(2 AS BIGINT) AS n_orphans,
        |  CAST(2 AS BIGINT) AS n_deleted,
        |  CAST(0 AS BIGINT) AS n_orphans_after,
        |  count(*) AS n_rows_live
        |FROM events WHERE event_id % 5 = 0
        |ORDER BY n_files""".stripMargin),
    // A22 — storage profile, logical slice (value/null counts).
    // A22 — parquet footer value counts include nulls on flat
    // schemas; footer-stats null counts are the logical cell the
    // oracle prices per column.
    Key("q_storage_profile", CatalogAudits.storageProfileAudit(_, _),
      """SELECT col AS "column", count(*) AS n_values,
        |  CAST(sum(CASE col
        |    WHEN 'event_id' THEN CASE WHEN event_id IS NULL THEN 1 ELSE 0 END
        |    WHEN 'user_id' THEN CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
        |    WHEN 'event_type' THEN CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
        |    WHEN 'value' THEN CASE WHEN value IS NULL THEN 1 ELSE 0 END
        |    WHEN 'props' THEN CASE WHEN props IS NULL THEN 1 ELSE 0 END
        |  END) AS BIGINT) AS n_nulls
        |FROM events
        |CROSS JOIN (SELECT unnest(['event_id', 'user_id', 'event_type',
        |  'value', 'props']) AS col) c
        |GROUP BY 1 ORDER BY "column"""".stripMargin),
  )
}
