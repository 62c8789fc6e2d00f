package graft
package registry

import graft.SparkEntry._
import graft.operators._
import graft.sources.Tables

/** The SURVEY §2.D registry keys, feature engineering and the anomaly
  * pipeline: one `Key` record per key, its Spark builder beside the
  * DuckDB SQL its result is hash-checked against. */
object FeatureKeys {

  val symPairsSql: String =
    symPairs.map { case (a, b) => s"($a, $b)" }.mkString(", ")
  val vpinWindowBars = 3        // D31 trailing bucket count
  val eppsScales: Seq[Long] = Seq(60L, 600L, 3600L, 86400L)
  val sigScales: Seq[Long] = Seq(60L, 600L, 3600L) // D43 RV ladder (s)
  val eppsScalesSql: String = eppsScales.map(s => s"($s)").mkString(", ")
  val hyBucketSec = 3600L       // D33 overlap-bucket grain
  val rollCorrDays = 5          // D29 trailing window (days)
  val nwMaxLag = 3              // D51 Newey–West bandwidth
  val rsHorizon = 5             // D54 realized-spread settle (trades)
  val shockBpParam = 3000L      // D58 jump threshold (basis points) —
                                // probed at sf0.01 with recover 1000:
                                // 8216 shocks, 63% recover, mean 11.7
                                // ticks — two-sided
  val shockRecoverBp = 1000L    // D58 recovery band (basis points)
  val sortQuantiles = 5         // D59 portfolio-sort buckets
  val pairsEnterZ = 2.0         // D62 entry |z| threshold
  val pairsExitZ = 0.5          // D62 exit |z| threshold
  val harWeek = 5               // D63 weekly-horizon day count
  val coneHorizons = Seq(1, 5)  // D64 cone horizons (days)

  /** The D91/D92 factor-model WITH-body (deterministic roster →
    * exact-int64 daily-return gram/sums → covariance cells → the
    * shared unrolled power cascade), GENERATED from (factorSyms,
    * factorComps, factorIters) — shared by the q_factor_pca and
    * q_factor_resid oracles so the grid, the covariance spelling and
    * the recurrence have ONE SQL spelling (the dual of
    * `Microstructure.factorCore`). */
  private lazy val factorCascadeSql: String = {
    val dim = factorSyms
    val head =
      s"""r AS (SELECT symbol FROM (SELECT symbol, count(*) AS n
        |    FROM $ticksSql t GROUP BY 1
        |    ORDER BY n DESC, symbol LIMIT $dim) z),
        |pos AS (SELECT symbol,
        |    CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT)
        |      AS p
        |  FROM r),
        |ret AS (SELECT p, CAST(t.ts AS DATE) AS d,
        |    max_by(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      - min_by(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      AS ret
        |  FROM $ticksSql t JOIN pos USING (symbol) GROUP BY 1, 2),
        |okd AS (SELECT d FROM ret GROUP BY d
        |  HAVING count(*) = $dim),
        |rr AS (SELECT ret.* FROM ret JOIN okd USING (d)),
        |pair AS (SELECT a.p AS i, b.p AS j,
        |    CAST(sum(a.ret * b.ret) AS BIGINT) AS g
        |  FROM rr a JOIN rr b USING (d) WHERE a.p <= b.p
        |  GROUP BY 1, 2),
        |sums AS (SELECT p AS i, CAST(sum(ret) AS BIGINT) AS s
        |  FROM rr GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM okd),
        |cell AS (
        |  SELECT p.i AS i, p.j AS j,
        |    (CAST(p.g AS DOUBLE) - CAST(si.s AS DOUBLE)
        |      * CAST(sj.s AS DOUBLE) / nn.n) / (nn.n - 1.0) AS cv
        |  FROM pair p JOIN sums si ON si.i = p.i
        |    JOIN sums sj ON sj.i = p.j, nn
        |  UNION ALL
        |  SELECT p.j, p.i,
        |    (CAST(p.g AS DOUBLE) - CAST(si.s AS DOUBLE)
        |      * CAST(sj.s AS DOUBLE) / nn.n) / (nn.n - 1.0)
        |  FROM pair p JOIN sums si ON si.i = p.i
        |    JOIN sums sj ON sj.i = p.j, nn
        |  WHERE p.i < p.j),
        |cm0 AS (
        |  SELECT list(rw ORDER BY i) AS c FROM (
        |    SELECT i, list(cv ORDER BY j) AS rw FROM cell GROUP BY i)
        |    rows_),
        |trace AS (
        |  SELECT list_reduce(list_prepend(0.0, list_transform(
        |    range($dim), i -> c[CAST(i + 1 AS INT)][CAST(i + 1 AS INT)])),
        |    (a, b) -> a + b) AS tr FROM cm0)""".stripMargin
    (Seq(head) ++ powerCascadeBlocks(dim, factorComps, factorIters))
      .mkString(",\n")
  }
  val ewmaVolLambdas = Seq(0.8, 0.9, 0.94, 0.97) // D93 decay grid
                                // (0.94 = the RiskMetrics daily λ)
  val factorSyms = 8            // D91 roster size (top by tick count)
  val factorComps = 2           // D91 components reported
  val factorIters = 40          // D91 power-iteration rounds

  val cointBands = 2            // D65 LSH bands
  val cointBandBits = 7         // D65 bits per band (candidates ~
                                // bands * n^2 / 2^(bandBits+1))
  val cointSampleMod = 3        // D60 registry roster sample: keep
                                // symbol % 3 == 0 → 1/9 of the
                                // quadratic pair grid (r13; full
                                // screen = spec baseline, full
                                // roster = D65 blocked screen)
  val sweepPcts = Seq(0.9, 0.95, 0.99) // D81 swept flag percentiles
  val stalenessRun = 3          // D83/G42 consecutive breaches → alert
  val wfFolds = 3               // D77 walk-forward retrain folds
  val wfMinTrain = 1            // D77 seed train windows (the tape
                                // carries 1-5 session windows/symbol)
  val wfStep = 1                // D77 eval windows per fold
  val gdPatience = 2            // D85 early-stopping patience
  val fracD = 0.4               // D71 differentiation order
  val fracK = 10                // D71 truncation lags
  val cpcvGroups = 5            // D72 CPCV calendar groups (C(5,2)
                                // = 10 test combinations)
  val psiBuckets = 10           // D74 PSI histogram buckets

  /** D60/D65 shared oracle fragments: the daily-close CTE and the
    * OLS + residual-AR(1) fit tail over a `grid` CTE (sym_a, sym_b,
    * day, ca, cb) — factored so the exact and the blocked screen
    * interpolate ONE spelling of the regression arithmetic. */
  private lazy val cointClosesSql: String =
    """closes AS (SELECT user_id AS symbol,
      |    CAST(date_trunc('day', ts) AS DATE) AS day,
      |    max_by(CAST(round(value * 100.0, 0) AS BIGINT), event_id)
      |      AS cents
      |  FROM events GROUP BY 1, 2)""".stripMargin

  private lazy val cointFitTailSql: String =
    s"""lg AS (SELECT *,
        |    lag(ca) OVER (PARTITION BY sym_a, sym_b ORDER BY day) AS ya,
        |    lag(cb) OVER (PARTITION BY sym_a, sym_b ORDER BY day) AS xa
        |  FROM grid),
        |fit AS (SELECT sym_a, sym_b, count(*) AS n_days,
        |    CAST(sum(cb) AS BIGINT) AS sx,
        |    CAST(sum(ca) AS BIGINT) AS sy,
        |    CAST(sum(cb * ca) AS BIGINT) AS sxy,
        |    CAST(sum(cb * cb) AS BIGINT) AS sxx,
        |    count(ya) AS n1,
        |    CAST(sum(ca * ya) AS BIGINT) AS c_yy1,
        |    CAST(sum(ca * xa) AS BIGINT) AS c_yx1,
        |    CAST(sum(cb * ya) AS BIGINT) AS c_xy1,
        |    CAST(sum(cb * xa) AS BIGINT) AS c_xx1,
        |    CAST(sum(CASE WHEN ya IS NOT NULL THEN ca END) AS BIGINT)
        |      AS c_y,
        |    CAST(sum(CASE WHEN ya IS NOT NULL THEN cb END) AS BIGINT)
        |      AS c_x,
        |    CAST(sum(ya) AS BIGINT) AS c_y1,
        |    CAST(sum(xa) AS BIGINT) AS c_x1,
        |    CAST(sum(ya * ya) AS BIGINT) AS c_y1sq,
        |    CAST(sum(xa * xa) AS BIGINT) AS c_x1sq,
        |    CAST(sum(ya * xa) AS BIGINT) AS c_x1y1
        |  FROM lg GROUP BY sym_a, sym_b),
        |fb AS (SELECT *, ${Microstructure.olsSlopeFromSums("sx", "sy",
             "sxy", "sxx", "n_days")} AS beta FROM fit),
        |fab AS (SELECT *, ${Microstructure.olsInterceptFromSums("sx",
             "sy", "beta", "n_days")} AS alpha FROM fb
        |  WHERE beta IS NOT NULL),
        |s AS (SELECT sym_a, sym_b, n_days, beta,
        |    ${Microstructure.arCrossFromSums} AS s_cross,
        |    ${Microstructure.arLag2FromSums} AS s_lag2
        |  FROM fab),
        |rr AS (SELECT sym_a, sym_b, n_days, beta,
        |    CASE WHEN s_lag2 > 0 THEN round(s_cross / s_lag2, 4) + 0.0 END
        |      AS rho
        |  FROM s)
        |SELECT sym_a, sym_b, n_days, round(beta, 4) + 0.0 AS beta, rho,
        |  CASE WHEN rho > 0 AND rho < 1
        |    THEN round(-ln(2.0) / ln(rho), 4) END AS half_life_days
        |FROM rr ORDER BY sym_a, sym_b""".stripMargin

  /** D84 oracle generator: the full-batch GD autoencoder training
    * loop as an unrolled per-epoch CTE cascade (the F61/F59
    * generated-oracle discipline). Every float the cascade produces
    * comes from the SAME fragment texts and constants the Spark
    * operator uses ([[Features.gdZExpr]] family, [[Features.gdWe0]]
    * init, [[Features.gdUpdExpr]] update, [[Features.gdLossExpr]]
    * loss), so DuckDB re-derives bit-identical weights, losses and
    * flags. */
  private def gdOracleSql(k: Int, h: Int, epochs: Int, lr: Double,
                          pct: Double): String =
    gdCascadeSql(k, h, epochs, lr, pct, withVal = false) +
      gdReportSelectSql(k, h, epochs)

  /** D85 oracle: the SAME cascade carrying the val split (gradients
    * stay train-conditional — identical weights), then the curve:
    * per-epoch losses at w_e (job e+1's pre-update pass / the final
    * pass for w_E), running-min improvement windows, the patience
    * counter and the best-epoch pick. */
  private def gdValOracleSql(k: Int, h: Int, epochs: Int, lr: Double,
                             patience: Int): String = {
    val vlChain = s"(CAST(sl_va AS DOUBLE)/CAST(n_va AS DOUBLE)" +
      s"/${Features.dlit(k.toDouble)}/1.0E6)"
    val epochLossSelects = (1 until epochs).map { e =>
      s"""SELECT symbol, $e AS epoch, sl, sl_va FROM g$e"""
    } :+
      s"""SELECT symbol, $epochs AS epoch, sl, sl_va FROM ftr"""
    // pct only shapes the cascade's fth CTE, which this oracle's
    // final SELECT never references — any value is equivalent here
    gdCascadeSql(k, h, epochs, lr, 0.99, withVal = true) +
      s""",
      |vcnt AS (SELECT symbol, count(*) AS n_va FROM piv
      |  WHERE split = 'val' GROUP BY 1),
      |ftr AS (SELECT symbol,
      |    CAST(sum(CASE WHEN split = 'train' THEN stq END) AS BIGINT)
      |      AS sl,
      |    CAST(sum(CASE WHEN split = 'val' THEN stq END) AS BIGINT)
      |      AS sl_va
      |  FROM fsq GROUP BY 1),
      |vc AS (
      |${epochLossSelects.mkString("\nUNION ALL\n")}
      |),
      |cl AS (SELECT v.symbol AS symbol, v.epoch AS epoch,
      |    ${Features.gdLossExpr("sl", k)} AS train_loss,
      |    CASE WHEN n_va > 0 AND sl_va IS NOT NULL THEN $vlChain END
      |      AS val_loss
      |  FROM vc v JOIN tc USING (symbol) LEFT JOIN vcnt USING (symbol)),
      |wv1 AS (SELECT *, min(val_loss) OVER (PARTITION BY symbol
      |    ORDER BY epoch
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    AS prev_min FROM cl),
      |wv2 AS (SELECT *, CASE WHEN val_loss IS NOT NULL
      |    AND (prev_min IS NULL OR val_loss < prev_min) THEN epoch END
      |    AS imp_e FROM wv1),
      |wv3 AS (SELECT *, max(imp_e) OVER (PARTITION BY symbol
      |    ORDER BY epoch) AS last_imp FROM wv2),
      |se AS (SELECT symbol, COALESCE(min(CASE WHEN last_imp IS NOT NULL
      |      AND epoch - last_imp >= $patience THEN epoch END), $epochs)
      |    AS stop_epoch
      |  FROM wv3 GROUP BY 1),
      |bs AS (SELECT symbol, epoch AS best_epoch FROM (
      |    SELECT c.symbol AS symbol, c.epoch AS epoch,
      |      c.val_loss AS val_loss, row_number() OVER (
      |      PARTITION BY c.symbol
      |      ORDER BY c.val_loss ASC NULLS LAST, c.epoch) AS rk
      |    FROM cl c JOIN se USING (symbol)
      |    WHERE c.epoch <= se.stop_epoch) x
      |  WHERE rk = 1 AND val_loss IS NOT NULL)
      |SELECT c.symbol AS symbol, c.epoch AS epoch,
      |  c.train_loss AS train_loss, c.val_loss AS val_loss,
      |  COALESCE(c.epoch = bs.best_epoch, FALSE) AS is_best,
      |  se.stop_epoch AS stop_epoch
      |FROM cl c JOIN se USING (symbol) LEFT JOIN bs USING (symbol)
      |ORDER BY symbol, epoch""".stripMargin
  }

  /** The D84 report's final SELECT (loss unpivot + final weights +
    * flags) over [[gdCascadeSql]]'s CTEs. */
  private def gdReportSelectSql(k: Int, h: Int, epochs: Int)
      : String = {
    val weNames = for (j <- 0 until h; i <- 0 until k)
      yield (j, i, s"we_${j}_$i")
    val wdNames = for (i <- 0 until k; j <- 0 until h)
      yield (i, j, s"wd_${i}_$j")
    val lossSelects = (0 until epochs).map { e =>
      f"""SELECT g.symbol AS symbol, 'loss' AS kind, 'e$e%02d' AS a,
        |    '' AS b, ${Features.gdLossExpr("sl", k)} AS value
        |  FROM g$e%d g JOIN tc USING (symbol)""".stripMargin
    } :+
      f"""SELECT f.symbol AS symbol, 'loss' AS kind,
        |    'e$epochs%02d' AS a, '' AS b,
        |    ${Features.gdLossExpr("sl", k)} AS value
        |  FROM fsl f JOIN tc USING (symbol)""".stripMargin
    val weightSelects = weNames.map { case (j, i, n) =>
      f"SELECT symbol, 'we' AS kind, 'j$j' AS a, 'i$i%02d' AS b," +
        s" $n AS value FROM w$epochs"
    } ++ wdNames.map { case (i, j, n) =>
      f"SELECT symbol, 'wd' AS kind, 'i$i%02d' AS a, 'j$j' AS b," +
        s" $n AS value FROM w$epochs"
    }
    val flagSelect =
      s"""SELECT e2.symbol AS symbol, 'flag' AS kind, e2.date AS a,
        |    e2.win AS b, CAST(e2.err_ppm AS DOUBLE)/1.0E6 AS value
        |  FROM ferr e2 JOIN fth t USING (symbol)
        |  WHERE e2.split = 'test'
        |    AND CAST(e2.err_ppm AS DOUBLE) > t.qu""".stripMargin
    s"""
      |SELECT * FROM (
      |${(lossSelects ++ weightSelects :+ flagSelect)
        .mkString("\nUNION ALL\n")}
      |) ORDER BY symbol, kind, a, b""".stripMargin
  }

  lazy val keys: Seq[Key] = Seq(
    Key("q_corr_stats", (s, d) => Features.corrStats(Tables.ticks(s, d)),
      s"""SELECT symbol, round(corr(bid, ask), 4) AS bid_ask_corr,
        |  round(covar_samp(bid, ask), 4) AS bid_ask_covar,
        |  count(*) AS n
        |FROM $ticksSql t GROUP BY symbol ORDER BY symbol""".stripMargin),
    Key("q_minmax_scale", (s, d) => Features.minMaxScale(Tables.ticks(s, d)),
      s"""SELECT tick_id, symbol,
        |  CASE WHEN mx <> mn THEN (bid - mn) / (mx - mn) END AS bid_scaled
        |FROM (SELECT tick_id, symbol, bid,
        |    min(bid) OVER (PARTITION BY symbol) AS mn,
        |    max(bid) OVER (PARTITION BY symbol) AS mx
        |  FROM $ticksSql t) x
        |ORDER BY symbol, tick_id""".stripMargin),
    // D18 — per-symbol beta vs the equal-weight per-second market.
    // Market beta: per-(symbol, second) first tick, per-second
    // equal-weight mean ROUNDED to 4 before the covar/var (kills avg
    // reduction-order noise at the join boundary), grouped beta
    // rounded per the D10 corr convention.
    Key("q_market_beta", (s, d) => Features.marketBeta(Tables.ticks(s, d)),
      s"""WITH ps AS (SELECT symbol, date_trunc('second', ts) AS sec,
        |    arg_min(bid, tick_id) AS bid
        |  FROM $ticksSql t GROUP BY symbol, date_trunc('second', ts)),
        |mk AS (SELECT sec, round(avg(bid), 4) AS mkt FROM ps GROUP BY sec)
        |SELECT symbol,
        |  CASE WHEN var_pop(mkt) > 0 THEN
        |    round(covar_pop(bid, mkt) / var_pop(mkt), 4) END AS beta,
        |  count(*) AS n_obs
        |FROM ps JOIN mk USING (sec)
        |GROUP BY symbol ORDER BY symbol""".stripMargin),
    Key("q_features_spread", (s, d) => Features.tickFeatures(Tables.ticks(s, d)),
      s"""SELECT tick_id, symbol, greatest(ask - bid, 0) AS spread,
        |  (bid + ask) / 2.0 AS mid
        |FROM $ticksSql t ORDER BY tick_id""".stripMargin),
    Key("q_rolling_stats", (s, d) => Features.rollingStats(Tables.ticks(s, d), 5),
      s"""SELECT tick_id, symbol,
        |  round(avg(bid) OVER w, 4) AS roll_avg,
        |  round(stddev_samp(bid) OVER w, 4) AS roll_std
        |FROM $ticksSql t
        |WINDOW w AS (PARTITION BY symbol ORDER BY tick_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY symbol, tick_id""".stripMargin),
    Key("q_log_returns", (s, d) => Features.logReturns(Tables.ticks(s, d)),
      s"""SELECT tick_id, symbol,
        |  CASE WHEN prev > 0 AND bid > 0 THEN ln(bid / prev) END
        |    AS log_ret
        |FROM (SELECT tick_id, symbol, bid,
        |    lag(bid, 1) OVER (PARTITION BY symbol ORDER BY tick_id) AS prev
        |  FROM $ticksSql t) x
        |ORDER BY symbol, tick_id""".stripMargin),
    // D4 — `round(z,4) + 0.0`: the D60 negative-zero normalization
    // (tiny negative z rounds to -0.0 under DuckDB's fp round, +0.0
    // under Spark's BigDecimal round; 3 cells at sf0.1 — found by the
    // round-12 full-registry strict sweep before the driver could).
    Key("q_anomaly_zscore", (s, d) => Features.zScoreAnomaly(Tables.ticks(s, d), 3.0),
      s"""SELECT tick_id, symbol, round(z, 4) + 0.0 AS zscore, abs(z) > 3.0 AS is_anomaly
        |FROM (SELECT tick_id, symbol,
        |    CASE WHEN stddev_samp(bid) OVER (PARTITION BY symbol) <> 0 THEN
        |      (bid - avg(bid) OVER (PARTITION BY symbol))
        |        / stddev_samp(bid) OVER (PARTITION BY symbol) END AS z
        |  FROM $ticksSql t) x
        |ORDER BY symbol, tick_id""".stripMargin),
    Key("q_anomaly_threshold", (s, d) =>
      Features.anomalyThresholds(Tables.events(s, d), "value", Seq(92.0, 99.5)),
      """WITH thr AS (SELECT quantile_cont(value, 0.92) AS t0,
        |    quantile_cont(value, 0.995) AS t1 FROM events)
        |SELECT 92.0 AS pct, round(t0, 4) AS threshold,
        |  (SELECT count(*) FROM events WHERE value > thr.t0) AS n_above FROM thr
        |UNION ALL
        |SELECT 99.5 AS pct, round(t1, 4) AS threshold,
        |  (SELECT count(*) FROM events WHERE value > thr.t1) AS n_above FROM thr
        |ORDER BY pct""".stripMargin),
    Key("q_resample_ticks", (s, d) => Features.resampleWindow(Tables.ticks(s, d), 8),
      s"""WITH b AS (SELECT tick_id, symbol, strftime(ts, '%Y-%m-%d') AS date, bid,
        |    row_number() OVER (PARTITION BY symbol, strftime(ts, '%Y-%m-%d')
        |      ORDER BY tick_id) AS rn,
        |    count(*) OVER (PARTITION BY symbol, strftime(ts, '%Y-%m-%d')) AS cnt
        |  FROM $ticksSql t),
        |g AS (SELECT DISTINCT symbol, date, cnt FROM b),
        |idx AS (SELECT symbol, date, i,
        |    CASE WHEN cnt = 1 THEN 1 ELSE (i * (cnt - 1)) // 7 + 1 END AS target_rn
        |  FROM g, (SELECT unnest(range(8)) AS i) s)
        |SELECT idx.symbol, idx.date, idx.i, b.rn AS src_rn, b.bid AS bid
        |FROM idx JOIN b ON b.symbol = idx.symbol AND b.date = idx.date
        |  AND b.rn = idx.target_rn
        |ORDER BY idx.symbol, idx.date, idx.i""".stripMargin),
    Key("q_resample_session", (s, d) =>
      Features.resampleSessionWindow(Tables.ticks(s, d), 8),
      s"""WITH b0 AS (SELECT tick_id, symbol, strftime(ts, '%Y-%m-%d') AS date,
        |    CASE WHEN hour(ts) = 7 AND minute(ts) >= 50 THEN 'morning'
        |         WHEN hour(ts) = 13 AND minute(ts) >= 50 THEN 'afternoon'
        |    END AS win, bid
        |  FROM $ticksSql t),
        |b AS (SELECT tick_id, symbol, date, win, bid,
        |    row_number() OVER (PARTITION BY symbol, date, win ORDER BY tick_id) AS rn,
        |    count(*) OVER (PARTITION BY symbol, date, win) AS cnt
        |  FROM b0 WHERE win IS NOT NULL),
        |g AS (SELECT DISTINCT symbol, date, win, cnt FROM b),
        |idx AS (SELECT symbol, date, win, i,
        |    CASE WHEN cnt = 1 THEN 1 ELSE (i * (cnt - 1)) // 7 + 1 END AS target_rn
        |  FROM g, (SELECT unnest(range(8)) AS i) s)
        |SELECT idx.symbol, idx.date, idx.win, idx.i, b.rn AS src_rn, b.bid AS bid
        |FROM idx JOIN b ON b.symbol = idx.symbol AND b.date = idx.date
        |  AND b.win = idx.win AND b.rn = idx.target_rn
        |ORDER BY idx.symbol, idx.date, idx.win, idx.i""".stripMargin),
    Key("q_chrono_split", (s, d) => Features.chronoSplit(Tables.ticks(s, d), 0.6, 0.2),
      """WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date FROM events),
        |d2 AS (SELECT date, row_number() OVER (ORDER BY date) AS rn,
        |    count(*) OVER () AS n FROM days)
        |SELECT date, rn,
        |  CASE WHEN rn <= floor(n * 0.6) THEN 'train'
        |       WHEN rn <= floor(n * 0.6) + floor(n * 0.2) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM d2 ORDER BY date""".stripMargin),
    Key("q_standard_scale", (s, d) =>
      Features.standardScale(Tables.events(s, d), "value", "event_id",
        org.apache.spark.sql.functions.col("ts") <=
          org.apache.spark.sql.functions.lit("2024-01-15 00:00:00").cast("timestamp")),
      """WITH s AS (SELECT avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        |SELECT event_id,
        |  CASE WHEN sigma <> 0 THEN round((value - mu) / sigma, 4) + 0.0
        |    END AS scaled
        |FROM events, s ORDER BY event_id""".stripMargin),
    Key("q_standard_scale_multi", (s, d) =>
      Features.standardScaleMulti(Tables.ticks(s, d), Seq("bid", "ask"),
        "tick_id",
        org.apache.spark.sql.functions.col("ts") <=
          org.apache.spark.sql.functions.lit("2024-01-15 00:00:00").cast("timestamp")),
      s"""WITH t AS (SELECT * FROM $ticksSql tk),
        |s AS (SELECT avg(bid) AS mu_bid, stddev_samp(bid) AS sigma_bid,
        |    avg(ask) AS mu_ask, stddev_samp(ask) AS sigma_ask
        |  FROM t WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        |SELECT tick_id,
        |  CASE WHEN sigma_bid <> 0
        |    THEN round((bid - mu_bid) / sigma_bid, 4) + 0.0 END AS bid_scaled,
        |  CASE WHEN sigma_ask <> 0
        |    THEN round((ask - mu_ask) / sigma_ask, 4) + 0.0 END AS ask_scaled
        |FROM t, s ORDER BY tick_id""".stripMargin),
    Key("q_walk_forward", (s, d) => Features.walkForward(Tables.ticks(s, d), 4, 5, 10, 3),
      """SELECT fold, date, role FROM (
        |  SELECT fold, date,
        |    CASE WHEN rn >= fold * 5 + 1 AND rn < fold * 5 + 11 THEN 'train'
        |         WHEN rn >= fold * 5 + 11 AND rn < fold * 5 + 14 THEN 'test'
        |    END AS role
        |  FROM (SELECT date, row_number() OVER (ORDER BY date) AS rn
        |    FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date FROM events) d) d2,
        |    (SELECT unnest(range(4)) AS fold) f) x
        |WHERE role IS NOT NULL ORDER BY fold, date""".stripMargin),
    // D69 — purged + embargoed walk-forward (leakage-controlled D9).
    // D69 — D9's ranges with the purge tail carved out of each train
    // window and the embargo band after each test window (folds 4,
    // step 5, train 10, test 3, purge 2, embargo 2 — the registry
    // constants spelled inline like D9).
    Key("q_purged_cv", (s, d) =>
      Features.purgedWalkForward(Tables.ticks(s, d), 4, 5, 10, 3, 2, 2),
      """SELECT fold, date, role FROM (
        |  SELECT fold, date,
        |    CASE WHEN rn >= fold * 5 + 1 AND rn < fold * 5 + 9
        |        THEN 'train'
        |      WHEN rn >= fold * 5 + 9 AND rn < fold * 5 + 11
        |        THEN 'purged'
        |      WHEN rn >= fold * 5 + 11 AND rn < fold * 5 + 14
        |        THEN 'test'
        |      WHEN rn >= fold * 5 + 14 AND rn < fold * 5 + 16
        |        THEN 'embargo'
        |    END AS role
        |  FROM (SELECT date, row_number() OVER (ORDER BY date) AS rn
        |    FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date
        |      FROM events) d) d2,
        |    (SELECT unnest(range(4)) AS fold) f) x
        |WHERE role IS NOT NULL ORDER BY fold, date""".stripMargin),
    // D66 — windowed-tensor export: fixed-length scaled tick slots
    // per (symbol, day, session window), the reference's ML handoff —
    // registered as the scalar per-slot frame (one row per slot i);
    // the ARRAY spelling (windowTensors) stays the library API but
    // array cells are unhashable in pandas comparators (r12 driver).
    // D66 — windowed-tensor export: the shared slot chain, elements
    // re-derived from the exact int64 micros (r11 signed-zero
    // discipline: never round(double, d) on element-wise values).
    // Scalar per-slot rows — the ARRAY spelling is unhashable in the
    // driver's pandas comparator (the r12 red).
    Key("q_window_tensors", (s, d) =>
      Features.windowTensorRows(Tables.ticks(s, d), tensorSlots,
        cacheKey = Some(d)),
      s"""WITH $tensorSlotsSql
        |SELECT symbol, date, win, split, n_ticks, i,
        |  CAST(u AS DOUBLE) / 1000000.0 + 0.0 AS el
        |FROM uq
        |ORDER BY symbol, date, win, i""".stripMargin),
    // D67 — end-to-end per-symbol anomaly pipeline: session filter →
    // window tensors → train-centroid error → p99 test-window flags.
    Key("q_anomaly_pipeline", (s, d) =>
      Features.anomalyPipeline(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |$testThresholdSql
        |SELECT er.symbol, er.date, er.win, er.split,
        |  CAST(u_err AS DOUBLE) / 1000000.0 + 0.0 AS err,
        |  (er.split = 'test' AND th.qu IS NOT NULL
        |    AND CAST(u_err AS DOUBLE) > th.qu) AS is_anomaly
        |FROM er LEFT JOIN th ON th.symbol = er.symbol
        |ORDER BY er.symbol, er.date, er.win""".stripMargin),
    // D68 — test-phase evaluation table: per split, mean error and
    // per-percentile thresholds + anomaly counts (test.py report).
    // D67 — the composed pipeline: D66's slot chain, per-(symbol,
    // slot) exact-int train sums, ascending-slot ordered list fold
    // for each window error (never an unordered double SUM),
    // sign-split floor quantization, per-symbol quantile_cont p99
    // flag on test windows (the reference's test.py thresholding).
    // D68 — same error chain, per-split quantile_cont thresholds +
    // one counting aggregate, UNION per percentile (D5's shape).
    Key("q_error_profile", (s, d) =>
      Features.errorProfile(Tables.ticks(s, d), tensorSlots,
        cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |thr AS (SELECT split, quantile_cont(u_err, 0.92) AS t0,
        |    quantile_cont(u_err, 0.995) AS t1
        |  FROM er GROUP BY 1),
        |one AS (SELECT er.split, count(*) AS n_windows,
        |    CAST(sum(u_err) // count(*) AS BIGINT) AS mean_err_ppm,
        |    CAST(sum(CASE WHEN CAST(u_err AS DOUBLE) > thr.t0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN CAST(u_err AS DOUBLE) > thr.t1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    min(thr.t0) AS t0, min(thr.t1) AS t1
        |  FROM er JOIN thr USING (split) GROUP BY 1)
        |SELECT * FROM (
        |  SELECT split, n_windows, mean_err_ppm,
        |    CAST(92.0 AS DOUBLE) AS pct,
        |    round(t0, 4) + 0.0 AS threshold_ppm, n0 AS n_above
        |  FROM one
        |  UNION ALL
        |  SELECT split, n_windows, mean_err_ppm, CAST(99.5 AS DOUBLE),
        |    round(t1, 4) + 0.0, n1 FROM one) u
        |ORDER BY split, pct""".stripMargin),
    // D75 — ELM autoencoder: fixed dyadic hidden layer (softsign),
    // per-symbol ridge output layer solved closed-form (unrolled
    // Cholesky over exact int64 sums), p99 reconstruction flags.
    // D75 — ELM autoencoder: the full train-and-score loop re-derived
    // in SQL — pivoted slots, the SAME dyadic hidden weights (shared
    // elmZExpr/elmVExpr fragments — LCG ints over 4096 parse to
    // identical doubles), exact int64 Gram/cross sums, the SAME
    // unrolled Cholesky + substitution stages (shared elmCholStages/
    // elmSolveStages text), per-term quantized errors, integer div k,
    // quantile_cont p99 flag (the D67 pairing).
    Key("q_nn_recon", (s, d) =>
      Features.elmRecon(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, cacheKey = Some(d)), {
      val k = tensorSlots
      val piv = (0 until k)
        .map(i => s"max(CASE WHEN i = $i THEN u END) AS s$i")
        .mkString(", ")
      val zs = (1 to Features.ElmHidden)
        .map(j => s"${Features.elmZExpr(j, k)} AS z$j").mkString(", ")
      val vs = (1 to Features.ElmHidden)
        .map(j => s"${Features.elmVExpr(s"z$j")} AS v$j").mkString(", ")
      val aCols = Features.elmAExprs
        .map { case (n, e) => s"$e AS $n" }.mkString(", ")
      val cholCtes = Features.elmCholStages.zipWithIndex.map {
        case (st, ix) =>
          val prev = if (ix == 0) "aa" else s"ch$ix"
          s"ch${ix + 1} AS (SELECT *, " +
            st.map { case (n, e) => s"$e AS $n" }.mkString(", ") +
            s" FROM $prev)"
      }.mkString(",\n")
      val lCols = Features.elmCholStages.flatten
        .map { case (n, _) => s"ch.$n AS $n" }.mkString(", ")
      val solveCtes = Features.elmSolveStages.zipWithIndex.map {
        case (st, ix) =>
          val prev = if (ix == 0) "f0" else s"f$ix"
          s"f${ix + 1} AS (SELECT *, " +
            st.map { case (n, e) => s"$e AS $n" }.mkString(", ") +
            s" FROM $prev)"
      }.mkString(",\n")
      val nStages = Features.elmSolveStages.length
      s"""WITH $tensorSlotsSql,
        |piv AS (SELECT symbol, date, win, split, $piv
        |  FROM uq GROUP BY 1, 2, 3, 4),
        |hz AS (SELECT *, $zs FROM piv),
        |hid AS (SELECT symbol, date, win, split, $vs FROM hz),
        |gs AS (SELECT symbol, count(*) AS n_tr,
        |    CAST(sum(v1*v1) AS BIGINT) AS g11,
        |    CAST(sum(v2*v1) AS BIGINT) AS g21,
        |    CAST(sum(v2*v2) AS BIGINT) AS g22,
        |    CAST(sum(v3*v1) AS BIGINT) AS g31,
        |    CAST(sum(v3*v2) AS BIGINT) AS g32,
        |    CAST(sum(v3*v3) AS BIGINT) AS g33,
        |    CAST(sum(v1) AS BIGINT) AS sv1,
        |    CAST(sum(v2) AS BIGINT) AS sv2,
        |    CAST(sum(v3) AS BIGINT) AS sv3
        |  FROM hid WHERE split = 'train' GROUP BY symbol),
        |aa AS (SELECT *, $aCols FROM gs),
        |$cholCtes,
        |rh AS (SELECT uq.symbol AS symbol, uq.i AS i,
        |    CAST(sum(h.v1*uq.u) AS BIGINT) AS c1,
        |    CAST(sum(h.v2*uq.u) AS BIGINT) AS c2,
        |    CAST(sum(h.v3*uq.u) AS BIGINT) AS c3,
        |    CAST(sum(uq.u) AS BIGINT) AS c0
        |  FROM uq JOIN hid h ON h.symbol = uq.symbol
        |    AND h.date = uq.date AND h.win = uq.win
        |  WHERE uq.split = 'train' GROUP BY 1, 2),
        |f0 AS (SELECT rh.symbol AS symbol, rh.i AS i,
        |    (CAST(c1 AS DOUBLE)/1.0E12) AS r1,
        |    (CAST(c2 AS DOUBLE)/1.0E12) AS r2,
        |    (CAST(c3 AS DOUBLE)/1.0E12) AS r3,
        |    (CAST(c0 AS DOUBLE)/1.0E6) AS r4,
        |    $lCols
        |  FROM rh JOIN ch${Features.elmCholStages.length} ch
        |    ON ch.symbol = rh.symbol),
        |$solveCtes,
        |beta AS (SELECT symbol, i, b1, b2, b3, b4 FROM f$nStages),
        |px AS (SELECT uq.symbol AS symbol, uq.date AS date,
        |    uq.win AS win, uq.split AS split, uq.u AS u,
        |    b.b1 AS b1, b.b2 AS b2, b.b3 AS b3, b.b4 AS b4,
        |    h.v1 AS v1, h.v2 AS v2, h.v3 AS v3
        |  FROM uq JOIN hid h ON h.symbol = uq.symbol
        |    AND h.date = uq.date AND h.win = uq.win
        |  LEFT JOIN beta b ON b.symbol = uq.symbol AND b.i = uq.i),
        |p2 AS (SELECT *, ${Features.elmXhExpr} AS xh FROM px),
        |pr AS (SELECT symbol, date, win, split,
        |    CASE WHEN b1 IS NULL THEN 0
        |      ELSE ${Features.elmTqExpr} END AS tq
        |  FROM p2),
        |er2 AS (SELECT symbol, date, win, split,
        |    CAST(sum(tq) // $k AS BIGINT) AS err_ppm
        |  FROM pr GROUP BY 1, 2, 3, 4),
        |th AS (SELECT symbol, quantile_cont(err_ppm, $reconFlagPct) AS qu
        |  FROM er2 WHERE split = 'test' GROUP BY 1)
        |SELECT er2.symbol, er2.date, er2.win, er2.split, er2.err_ppm,
        |  (er2.split = 'test' AND th.qu IS NOT NULL
        |    AND CAST(er2.err_ppm AS DOUBLE) > th.qu) AS is_anomaly
        |FROM er2 LEFT JOIN th ON th.symbol = er2.symbol
        |ORDER BY er2.symbol, er2.date, er2.win""".stripMargin
    }),
    // D84 — gradient-descent autoencoder (train.py:292-416 analog):
    // fixed-epoch full-batch GD on the D66 slot tensors, driver-side
    // weight updates over exact int64 gradient sums; output = loss
    // curve + final weights + p99-flagged test windows.
    // D84 — gradient-descent autoencoder: the ENTIRE training loop
    // re-derived in SQL as a GENERATED unrolled per-epoch CTE cascade
    // from the same constants (dyadic init weights, shared forward/
    // backward fragment texts, sign-split int64 gradient sums, the
    // exact gdUpdExpr/gdLossExpr IEEE chains), then the final-weight
    // scoring, loss/weight unpivot and p99 flags.
    Key("q_gd_autoencoder", (s, d) =>
      Features.gdAutoencoder(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, cacheKey = Some(d)),
      gdOracleSql(tensorSlots, 2, 4, 0.0625, reconFlagPct)),
    // D85 — GD validation curve + early-stopping verdict (train.py's
    // per-epoch val loss, best-model pick, patience stop).
    // D85 — validation curve: the val-aware cascade (identical weight
    // trajectory), per-epoch losses at w_e, improvement windows,
    // patience counter, best-epoch pick.
    Key("q_gd_valcurve", (s, d) =>
      Features.gdValCurve(Tables.ticks(s, d), tensorSlots,
        patience = gdPatience, cacheKey = Some(d)),
      gdValOracleSql(tensorSlots, 2, 4, 0.0625, gdPatience)),
    // D76 — model-signal backtest: D67 anomaly flags enter, error
    // recovery exits, exact-cent close-to-close P&L per symbol.
    // D76 — model-signal backtest: D67's error chain (shared
    // windowErrSql), per-symbol p99 threshold, D62's last_value
    // IGNORE NULLS position machine over the TEST window roster,
    // exact-int close-to-close P&L (no float surface at all).
    Key("q_signal_backtest", (s, d) =>
      Features.anomalySignalBacktest(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, exitFrac = signalExitFrac,
        cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |$testThresholdSql,
        |${positionChainSql("JOIN th ON th.symbol = er.symbol",
          ", th.qu", "symbol")}
        |SELECT symbol, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN pos <> 0 AND pos <> pos_prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
        |  CAST(sum(CASE WHEN pos <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS windows_in_pos,
        |  CAST(sum(CASE WHEN dc IS NOT NULL THEN pos_prev * dc
        |    ELSE 0 END) AS BIGINT) AS pnl_cents
        |FROM pp GROUP BY 1 ORDER BY symbol""".stripMargin),
    // D77 — walk-forward model retrain: expanding-origin per-fold
    // scaler/centroid/threshold re-fit, next-step out-of-sample
    // scoring (README §9.2 retraining cycles). minTrain=1/step=1
    // because the synthetic tape carries 1-5 session windows per
    // symbol; deeper folds populate only where history allows.
    // D77 — walk-forward model retrain: the slot chain's `slots`/`rk`
    // CTEs crossed with the fold grid, the scaler/centroid/error
    // chain re-run per fold with the fold key riding along, fold-train
    // quantile_cont thresholds (the percentile pairing), report per
    // (fold, symbol). Eval-exhausted symbols drop per fold (D7).
    Key("q_walkforward_model", (s, d) =>
      Features.walkForwardRetrain(Tables.ticks(s, d), tensorSlots,
        folds = wfFolds, minTrain = wfMinTrain, step = wfStep,
        pct = reconFlagPct, cacheKey = Some(d)),
      s"""WITH $tensorSlotsSql,
        |fg AS (SELECT unnest(range($wfFolds)) AS fold),
        |fr AS (SELECT sl.symbol, sl.date, sl.win, sl.i, sl.cents,
        |    rk.rn_w, fg.fold, $wfMinTrain + fg.fold * $wfStep AS origin
        |  FROM slots sl JOIN rk ON rk.symbol = sl.symbol
        |    AND rk.date = sl.date AND rk.win = sl.win CROSS JOIN fg),
        |ftt AS (SELECT *, CASE WHEN rn_w <= origin THEN 'train'
        |    WHEN rn_w <= origin + $wfStep THEN 'eval' END AS role
        |  FROM fr WHERE rn_w <= origin + $wfStep),
        |wst AS (SELECT fold, symbol, count(*) AS n_tr,
        |    CAST(sum(cents) AS BIGINT) AS sa,
        |    CAST(sum(cents * cents) AS BIGINT) AS sq
        |  FROM ftt WHERE role = 'train' GROUP BY 1, 2),
        |wsc AS (SELECT fold, symbol, CAST(sa AS DOUBLE) / n_tr AS mu,
        |    CASE WHEN CAST(sq AS DOUBLE) / n_tr
        |        - (CAST(sa AS DOUBLE) / n_tr) * (CAST(sa AS DOUBLE) / n_tr)
        |        > 0
        |      THEN sqrt(CAST(sq AS DOUBLE) / n_tr
        |        - (CAST(sa AS DOUBLE) / n_tr) * (CAST(sa AS DOUBLE) / n_tr))
        |      END AS sd
        |  FROM wst),
        |wsx AS (SELECT f.fold, f.symbol, f.date, f.win, f.role, f.i,
        |    CASE WHEN c.sd IS NOT NULL AND c.sd > 0
        |      THEN (f.cents - c.mu) / c.sd ELSE 0.0 END AS x
        |  FROM ftt f LEFT JOIN wsc c ON c.fold = f.fold
        |    AND c.symbol = f.symbol),
        |wuq AS (SELECT fold, symbol, date, win, role, i,
        |    CAST(CASE WHEN x >= 0 THEN floor(x * 1000000.0 + 0.5)
        |      ELSE -floor(-x * 1000000.0 + 0.5) END AS BIGINT) AS u
        |  FROM wsx),
        |wtm AS (SELECT fold, symbol, i, CAST(sum(u) AS BIGINT) AS su,
        |    count(*) AS n_ct
        |  FROM wuq WHERE role = 'train' GROUP BY 1, 2, 3),
        |wtt AS (SELECT q.fold, q.symbol, q.date, q.win, q.role, q.i,
        |    CASE WHEN m.n_ct IS NULL THEN 0.0
        |      ELSE (CAST(q.u AS DOUBLE) - CAST(m.su AS DOUBLE) / m.n_ct)
        |        * (CAST(q.u AS DOUBLE) - CAST(m.su AS DOUBLE) / m.n_ct)
        |        / 1000000.0 / 1000000.0 END AS t
        |  FROM wuq q LEFT JOIN wtm m ON m.fold = q.fold
        |    AND m.symbol = q.symbol AND m.i = q.i),
        |wer AS (SELECT fold, symbol, date, win, role,
        |    CAST(floor(list_reduce(list_prepend(0.0, list(t ORDER BY i)),
        |      (a, b) -> a + b) / $tensorSlots * 1000000.0 + 0.5)
        |      AS BIGINT) AS u_err
        |  FROM wtt GROUP BY 1, 2, 3, 4, 5),
        |wthr AS (SELECT fold, symbol,
        |    quantile_cont(u_err, $reconFlagPct) AS qu,
        |    count(*) AS n_train_w
        |  FROM wer WHERE role = 'train' GROUP BY 1, 2)
        |SELECT e.fold, e.symbol, max(t.n_train_w) AS n_train_w,
        |  count(*) AS n_eval_w,
        |  CAST(CAST(sum(e.u_err) AS BIGINT) AS DOUBLE) / count(*)
        |    / 1000000.0 AS mean_err,
        |  CAST(sum(CASE WHEN CAST(e.u_err AS DOUBLE) > t.qu
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM wer e JOIN wthr t ON t.fold = e.fold AND t.symbol = e.symbol
        |WHERE e.role = 'eval' GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // D78 — backtest performance report: hit rate, exact-cent P&L and
    // max equity-curve drawdown over D76's per-window frame.
    // D78 — backtest performance report: q_signal_backtest's position
    // chain extended with the running equity curve (windowed exact-int
    // sums, CAST AS BIGINT against the HUGEINT widening), running-peak
    // drawdown, win/loss step counts and the one IEEE hit-rate
    // division.
    Key("q_backtest_report", (s, d) =>
      Features.backtestReport(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, exitFrac = signalExitFrac,
        cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |$testThresholdSql,
        |${positionChainSql("JOIN th ON th.symbol = er.symbol",
          ", th.qu", "symbol")},
        |pw AS (SELECT *, CAST(CASE WHEN dc IS NOT NULL
        |    THEN pos_prev * dc ELSE 0 END AS BIGINT) AS pnl FROM pp),
        |cm AS (SELECT *, CAST(sum(pnl) OVER wr AS BIGINT) AS cum
        |  FROM pw WINDOW wr AS (PARTITION BY symbol ORDER BY date,
        |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dd AS (SELECT *, max(cum) OVER wr - cum AS ddv
        |  FROM cm WINDOW wr AS (PARTITION BY symbol ORDER BY date,
        |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ag AS (SELECT symbol, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN pos <> 0 AND pos <> pos_prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
        |  CAST(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_win_steps,
        |  CAST(sum(CASE WHEN pnl < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_loss_steps,
        |  CAST(sum(pnl) AS BIGINT) AS pnl_cents,
        |  max(ddv) AS max_dd_cents
        |FROM dd GROUP BY 1)
        |SELECT symbol, n_windows, n_trades, n_win_steps, n_loss_steps,
        |  pnl_cents, max_dd_cents,
        |  CASE WHEN n_win_steps + n_loss_steps > 0 THEN
        |    CAST(n_win_steps AS DOUBLE) / (n_win_steps + n_loss_steps)
        |    END AS hit_rate
        |FROM ag ORDER BY symbol""".stripMargin),
    // D79 — book-level roll-up: portfolio equity curve + max drawdown
    // across symbols, best/worst contributors (min-id tie-break).
    // D79 — book-level roll-up: the same position chain collapsed to
    // per-(date, win) book P&L steps, ONE global running-curve window
    // over the calendar step roster, extreme contributors via
    // min-over-equality (engine-stable tie-break).
    Key("q_book_report", (s, d) =>
      Features.bookReport(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, exitFrac = signalExitFrac,
        cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |$testThresholdSql,
        |${positionChainSql("JOIN th ON th.symbol = er.symbol",
          ", th.qu", "symbol")},
        |pw AS (SELECT *, CAST(CASE WHEN dc IS NOT NULL
        |    THEN pos_prev * dc ELSE 0 END AS BIGINT) AS pnl FROM pp),
        |stp AS (SELECT date, win, CAST(sum(pnl) AS BIGINT) AS book_pnl
        |  FROM pw GROUP BY 1, 2),
        |bcm AS (SELECT *, CAST(sum(book_pnl) OVER wr AS BIGINT) AS cum
        |  FROM stp WINDOW wr AS (ORDER BY date,
        |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |bdd AS (SELECT *, max(cum) OVER wr - cum AS ddv
        |  FROM bcm WINDOW wr AS (ORDER BY date,
        |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |bk AS (SELECT count(*) AS n_steps,
        |    CAST(sum(book_pnl) AS BIGINT) AS pnl_cents,
        |    max(ddv) AS max_dd_cents FROM bdd),
        |sy AS (SELECT symbol, CAST(sum(pnl) AS BIGINT) AS sym_pnl
        |  FROM pw GROUP BY 1),
        |ex AS (SELECT count(*) AS n_symbols,
        |    max(sym_pnl) AS best_pnl_cents,
        |    min(sym_pnl) AS worst_pnl_cents FROM sy),
        |pk AS (SELECT
        |    min(CASE WHEN s.sym_pnl = e.best_pnl_cents
        |      THEN s.symbol END) AS best_symbol,
        |    min(CASE WHEN s.sym_pnl = e.worst_pnl_cents
        |      THEN s.symbol END) AS worst_symbol
        |  FROM sy s CROSS JOIN ex e)
        |SELECT bk.n_steps, ex.n_symbols, bk.pnl_cents, bk.max_dd_cents,
        |  pk.best_symbol, ex.best_pnl_cents, pk.worst_symbol,
        |  ex.worst_pnl_cents
        |FROM bk CROSS JOIN ex CROSS JOIN pk""".stripMargin),
    // D80 — execution-latency sensitivity: paper vs one-window-late
    // P&L and the decay between them, exact cents.
    // D80 — latency sensitivity: the q_signal_backtest chain with one
    // extra lag (position decided two windows back) re-pricing each
    // step; decay = paper − delayed, all exact int64.
    Key("q_latency_sensitivity", (s, d) =>
      Features.latencySensitivity(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, exitFrac = signalExitFrac,
        cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |$testThresholdSql,
        |${positionChainSql("JOIN th ON th.symbol = er.symbol",
          ", th.qu", "symbol",
          " coalesce(lag(pos, 2) OVER w, 0) AS pos_prev2,")}
        |SELECT symbol, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN dc IS NOT NULL THEN pos_prev * dc
        |    ELSE 0 END) AS BIGINT) AS pnl_cents,
        |  CAST(sum(CASE WHEN dc IS NOT NULL THEN pos_prev2 * dc
        |    ELSE 0 END) AS BIGINT) AS pnl_delayed_cents,
        |  CAST(sum(CASE WHEN dc IS NOT NULL THEN pos_prev * dc
        |    ELSE 0 END) AS BIGINT)
        |    - CAST(sum(CASE WHEN dc IS NOT NULL THEN pos_prev2 * dc
        |    ELSE 0 END) AS BIGINT) AS decay_cents
        |FROM pp GROUP BY 1 ORDER BY symbol""".stripMargin),
    // D81 — threshold sweep: the position machine at every candidate
    // flag percentile, one error frame, |pcts| report rows.
    // D81 — threshold sweep: all swept thresholds from generated
    // per-pct quantile_cont aggregates (string pct keys), the machine
    // partitioned (symbol, pct), |pcts| report rows.
    Key("q_signal_sweep", (s, d) =>
      Features.signalSweep(Tables.ticks(s, d), tensorSlots, sweepPcts,
        exitFrac = signalExitFrac, cacheKey = Some(d)), {
      val thrUnion = sweepPcts.map { p =>
        s"""SELECT symbol, '${Features.pctTag(p)}' AS pct,
          |    quantile_cont(u_err, $p) AS qu
          |  FROM er WHERE split = 'test' GROUP BY 1""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH $windowErrSql,
        |thr3 AS ($thrUnion),
        |${positionChainSql("JOIN thr3 t ON t.symbol = er.symbol",
          ", t.pct, t.qu", "symbol, pct")}
        |SELECT pct, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN pos <> 0 AND pos <> pos_prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
        |  CAST(sum(CASE WHEN pos <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS windows_in_pos,
        |  count(DISTINCT CASE WHEN pos <> 0 THEN symbol END)
        |    AS n_symbols_pos,
        |  CAST(sum(CASE WHEN dc IS NOT NULL THEN pos_prev * dc
        |    ELSE 0 END) AS BIGINT) AS pnl_cents
        |FROM pp GROUP BY 1 ORDER BY pct""".stripMargin
    }),
    // D82 — model-parameter manifest: centroid/scaler/threshold as a
    // queryable table, one row per (symbol, slot).
    // D82 — model-parameter manifest: the slot chain's own `sc`
    // scaler CTE re-emitted, per-slot train centroids off `uq`,
    // window counts + threshold off `er` — serving parity by SELECT.
    Key("q_model_params", (s, d) =>
      Features.modelParams(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |tm2 AS (SELECT symbol, i, CAST(sum(u) AS BIGINT) AS su,
        |    count(*) AS n_ct
        |  FROM uq WHERE split = 'train' GROUP BY 1, 2),
        |tw AS (SELECT symbol,
        |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_train_w,
        |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_test_w
        |  FROM er GROUP BY 1),
        |$testThresholdSql
        |SELECT m.symbol, m.i, CAST(m.su AS DOUBLE) / m.n_ct
        |    AS centroid_u,
        |  t.n_train_w, t.n_test_w, s.mu, s.sd, th.qu
        |FROM tm2 m JOIN tw t ON t.symbol = m.symbol
        |  LEFT JOIN sc s ON s.symbol = m.symbol
        |  LEFT JOIN th ON th.symbol = m.symbol
        |ORDER BY m.symbol, m.i""".stripMargin),
    // D83 — staleness report: consecutive-breach runs over the window
    // errors vs the deployed threshold, retrain alerts per G42's rule.
    // D83 — staleness report: the error chain joined to the deployed
    // threshold, D26's run-id idiom (lag + running start sum) over
    // the per-symbol window roster, runs collapsed to the report.
    Key("q_staleness_report", (s, d) =>
      Features.stalenessReport(Tables.ticks(s, d), tensorSlots,
        pct = reconFlagPct, consecutive = stalenessRun,
        cacheKey = Some(d)),
      s"""WITH $windowErrSql,
        |$testThresholdSql,
        |fb AS (SELECT er.symbol, er.date, er.win,
        |    CASE WHEN CAST(er.u_err AS DOUBLE) > th.qu
        |      THEN 1 ELSE 0 END AS breach
        |  FROM er JOIN th ON th.symbol = er.symbol),
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
        |rr AS (SELECT *, row_number() OVER (PARTITION BY symbol, run_id
        |    ORDER BY date, CASE WHEN win = 'morning' THEN 0 ELSE 1 END)
        |    AS rn_in_run
        |  FROM fr WHERE breach = 1),
        |runs AS (SELECT symbol, run_id, count(*) AS run_len,
        |    min(CASE WHEN rn_in_run = $stalenessRun THEN date END)
        |      AS alert_date
        |  FROM rr GROUP BY 1, 2),
        |ps AS (SELECT symbol,
        |    CAST(sum(run_len) AS BIGINT) AS n_breach_w,
        |    count(*) AS n_runs, max(run_len) AS longest_run,
        |    CAST(sum(CASE WHEN run_len >= $stalenessRun
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
        |    min(alert_date) AS first_alert_date
        |  FROM runs GROUP BY 1),
        |nw AS (SELECT symbol, count(*) AS n_windows FROM fb GROUP BY 1)
        |SELECT nw.symbol, nw.n_windows,
        |  coalesce(ps.n_breach_w, 0) AS n_breach_w,
        |  coalesce(ps.n_runs, 0) AS n_runs,
        |  coalesce(ps.longest_run, 0) AS longest_run,
        |  coalesce(ps.n_alerts, 0) AS n_alerts,
        |  ps.first_alert_date
        |FROM nw LEFT JOIN ps ON ps.symbol = nw.symbol
        |ORDER BY nw.symbol""".stripMargin),
    Key("q_drawdown", (s, d) => Features.drawdown(Tables.ticks(s, d)),
      s"""SELECT tick_id, symbol, cummax,
        |  CASE WHEN cummax <> 0 THEN (cummax - bid) / cummax END AS drawdown
        |FROM (SELECT tick_id, symbol, bid,
        |    max(bid) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cummax
        |  FROM $ticksSql t) x
        |ORDER BY symbol, tick_id""".stripMargin),
    // D26 — time-under-water stretches per symbol (exact-int windows).
    // D26 — all exact ints: cent compares, tick counts, window sums
    // CAST AS BIGINT (HUGEINT rule); zero-fill via the roster join.
    Key("q_drawdown_duration", (s, d) =>
      Features.drawdownDuration(Tables.ticks(s, d)),
      s"""WITH m AS (
        |  SELECT symbol, below,
        |    CAST(sum(strt) OVER (PARTITION BY symbol ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS stretch_id
        |  FROM (
        |    SELECT symbol, tick_id, below,
        |      CASE WHEN below = 1 AND coalesce(lag(below, 1) OVER (
        |        PARTITION BY symbol ORDER BY tick_id), 0) = 0
        |        THEN 1 ELSE 0 END AS strt
        |    FROM (
        |      SELECT symbol, tick_id,
        |        CASE WHEN cents < max(cents) OVER (
        |          PARTITION BY symbol ORDER BY tick_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          THEN 1 ELSE 0 END AS below
        |      FROM (SELECT symbol, tick_id,
        |          CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |        FROM $ticksSql t) y) z) zz),
        |st AS (SELECT symbol, stretch_id, count(*) AS len
        |  FROM m WHERE below = 1 GROUP BY symbol, stretch_id),
        |per AS (SELECT symbol, count(*) AS n_stretches,
        |    CAST(sum(len) AS BIGINT) AS n_underwater,
        |    max(len) AS max_stretch_ticks
        |  FROM st GROUP BY symbol)
        |SELECT r.symbol,
        |  coalesce(per.n_stretches, 0) AS n_stretches,
        |  coalesce(per.n_underwater, 0) AS n_underwater,
        |  coalesce(per.max_stretch_ticks, 0) AS max_stretch_ticks
        |FROM (SELECT DISTINCT symbol FROM $ticksSql t) r
        |LEFT JOIN per ON r.symbol = per.symbol
        |ORDER BY r.symbol""".stripMargin),
    Key("q_interarrival", (s, d) => Features.interArrival(Tables.ticks(s, d)),
      s"""SELECT symbol, round(avg(gap_us) / 1000000.0, 4) AS avg_gap_sec,
        |  round(max(gap_us) / 1000000.0, 4) AS max_gap_sec,
        |  count(gap_us) AS n_gaps
        |FROM (SELECT symbol, epoch_us(CAST(ts AS TIMESTAMP))
        |    - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |      OVER (PARTITION BY symbol ORDER BY tick_id) AS gap_us
        |  FROM $ticksSql t) x
        |GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D15 — per-(symbol, day) EWMA of the bid, α = 1/2.
    // EWMA: same ordered list, same left-to-right (x+acc)*0.5 fold —
    // DuckDB list_reduce seeds with the FIRST element and folds the
    // rest, exactly the Spark slice(...,2)+init spelling, so the
    // unrounded doubles are bit-identical.
    Key("q_ewma", (s, d) => Features.ewma(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |  count(*) AS n_ticks,
        |  list_reduce(list(bid ORDER BY ts, tick_id),
        |    (acc, x) -> (x + acc) * cast(0.5 as double)) AS ewma_bid
        |FROM $ticksSql t
        |GROUP BY symbol, CAST(ts AS DATE)
        |ORDER BY symbol, date""".stripMargin),
    // D16 — lag-5 autocorrelation of the bid per symbol.
    Key("q_autocorr", (s, d) => Features.autocorr(Tables.ticks(s, d), 5),
      s"""SELECT symbol, round(corr(bid, lag_bid), 4) AS autocorr_5,
        |  count(lag_bid) AS n_pairs
        |FROM (SELECT symbol, bid,
        |    lag(bid, 5) OVER (PARTITION BY symbol ORDER BY tick_id)
        |      AS lag_bid
        |  FROM $ticksSql t) x
        |GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D17 — realized volatility (sum of squared intraday log returns).
    // Realized vol: intraday lag (partition includes the day), ln
    // parity per q_log_returns, aggregate round(4).
    Key("q_realized_vol", (s, d) => Features.realizedVol(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  round(sum(r * r), 4) AS realized_vol,
        |  count(r) AS n_returns
        |FROM (SELECT symbol, _date,
        |    CASE WHEN prev > 0 AND bid > 0
        |      THEN ln(bid / prev) END AS r
        |  FROM (SELECT symbol, CAST(ts AS DATE) AS _date, bid,
        |      lag(bid, 1) OVER (PARTITION BY symbol, CAST(ts AS DATE)
        |        ORDER BY tick_id) AS prev
        |    FROM $ticksSql t) y) x
        |GROUP BY symbol, _date
        |ORDER BY symbol, date""".stripMargin),
    // D42 — AR(1) mean-reversion half-life per symbol.
    // D42 — slope = quotient of unrounded aggregates over exact int
    // cents, round(4) once; half-life = hard −ln2 literal over ln of
    // the ROUNDED slope, NULL outside 0 < rho < 1.
    Key("q_mean_reversion", (s, d) =>
      Features.meanReversion(Tables.ticks(s, d)),
      s"""SELECT symbol, n_pairs, rho,
        |  CASE WHEN rho > 0 AND rho < 1
        |    THEN round(-0.6931471805599453 / ln(rho), 4)
        |  END AS halflife_ticks
        |FROM (
        |  SELECT symbol, count(cp) AS n_pairs,
        |    CASE WHEN var_pop(cp) > 0
        |      THEN round(covar_pop(c, cp) / var_pop(cp), 4)
        |    END AS rho
        |  FROM (
        |    SELECT symbol, c,
        |      lag(c) OVER (PARTITION BY symbol ORDER BY tick_id) AS cp
        |    FROM (
        |      SELECT symbol, tick_id,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS c
        |      FROM $ticksSql t) p) q
        |  GROUP BY symbol) agg
        |ORDER BY symbol""".stripMargin),
    // D43 — volatility signature: RV across the sampling-scale ladder.
    // D43 — the oracle computes each rung DIRECTLY from the fact
    // (per-scale arg_min grids); equivalent to the Spark cascade
    // because first-tick-per-bucket is associative over nested
    // scales. Generated from the same sigScales constant.
    Key("q_vol_signature", (s, d) =>
      Microstructure.volSignature(Tables.ticks(s, d), sigScales),
      (sigScales.map { s =>
      s"""SELECT symbol, CAST($s AS BIGINT) AS scale_s, rv, n_ret,
        |  CASE WHEN n_ret > 0 THEN rv / CAST(n_ret AS DOUBLE)
        |  END AS rv_per_ret
        |FROM (
        |  SELECT symbol, round(sum(r * r), 4) AS rv, count(r) AS n_ret
        |  FROM (
        |    SELECT symbol,
        |      CASE WHEN prev > 0 AND bid > 0 THEN ln(bid / prev)
        |        END AS r
        |    FROM (
        |      SELECT symbol, _date, bucket, bid,
        |        lag(bid) OVER (PARTITION BY symbol, _date
        |          ORDER BY bucket) AS prev
        |      FROM (
        |        SELECT symbol, CAST(ts AS DATE) AS _date,
        |          epoch_us(CAST(ts AS TIMESTAMP)) // ${s * 1000000L}
        |            AS bucket,
        |          arg_min(bid, tick_id) AS bid
        |        FROM $ticksSql t
        |        GROUP BY 1, 2, 3) g) l) q
        |  GROUP BY symbol) a""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY symbol, scale_s")),
    // D32 — order-flow sign persistence (zero-ticks transparent).
    // D32 — signs int64, zero-ticks carry the previous nonzero sign
    // (IGNORE NULLS lag); persistence one IEEE division of exact ints.
    Key("q_sign_persistence", (s, d) =>
      Microstructure.signPersistence(Tables.ticks(s, d)),
      s"""SELECT symbol,
        |  CAST(sum(CASE WHEN sign IS NOT NULL AND prev_sign IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN sign IS NOT NULL AND prev_sign IS NOT NULL
        |    AND sign = prev_sign THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeat,
        |  CASE WHEN sum(CASE WHEN sign IS NOT NULL
        |      AND prev_sign IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(sum(CASE WHEN sign IS NOT NULL AND prev_sign IS NOT NULL
        |      AND sign = prev_sign THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CASE WHEN sign IS NOT NULL
        |      AND prev_sign IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS persistence
        |FROM (
        |  SELECT symbol, sign,
        |    last_value(sign IGNORE NULLS) OVER (PARTITION BY symbol
        |      ORDER BY tick_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_sign
        |  FROM (
        |    SELECT symbol, tick_id,
        |      CASE WHEN prev IS NOT NULL AND cents > prev THEN 1
        |        WHEN prev IS NOT NULL AND cents < prev THEN -1 END AS sign
        |    FROM (
        |      SELECT symbol, tick_id,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS cents,
        |        lag(CAST(round(bid * 100.0, 0) AS BIGINT), 1) OVER (
        |          PARTITION BY symbol ORDER BY tick_id) AS prev
        |      FROM $ticksSql t) a) b) c
        |GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D34 — bipower variation + jump share per (symbol, day).
    // D34 — RV and the bipower sum round(4) as aggregates; BV =
    // rounded-sum × π/2 HARD literal, re-rounded; jump share divides
    // the two ROUNDED aggregates (derived-from-rounded).
    Key("q_bipower", (s, d) =>
      Microstructure.bipowerVariation(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date, n_pairs,
        |  rv, sum_bp,
        |  round(sum_bp * 1.5707963267948966, 4) AS bv,
        |  CASE WHEN rv > 0 THEN greatest(0.0,
        |    1.0 - round(sum_bp * 1.5707963267948966, 4) / rv)
        |  END AS jump_share
        |FROM (
        |  SELECT symbol, _date,
        |    round(sum(r * r), 4) AS rv,
        |    round(sum(abs(r) * abs(r_prev)), 4) AS sum_bp,
        |    count(CASE WHEN r IS NOT NULL AND r_prev IS NOT NULL
        |      THEN 1 END) AS n_pairs
        |  FROM (
        |    SELECT symbol, _date, r,
        |      lag(r) OVER (PARTITION BY symbol, _date ORDER BY tick_id)
        |        AS r_prev
        |    FROM (
        |      SELECT symbol, _date, tick_id,
        |        CASE WHEN prev > 0 AND bid > 0 THEN ln(bid / prev)
        |          END AS r
        |      FROM (
        |        SELECT symbol, CAST(ts AS DATE) AS _date, tick_id, bid,
        |          lag(bid) OVER (PARTITION BY symbol, CAST(ts AS DATE)
        |            ORDER BY tick_id) AS prev
        |        FROM $ticksSql t) p) q) s
        |  GROUP BY symbol, _date) agg
        |ORDER BY symbol, date""".stripMargin),
    // D40 — realized semivariance halves + signed-jump variation.
    // D40 — each semivariance half round(4) as an aggregate; SJ and
    // up_share derive from the ROUNDED halves. Zero returns join
    // neither half; an all-NULL day emits NULL halves (outer CASE).
    Key("q_semivariance", (s, d) =>
      Microstructure.realizedSemivariance(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  n_ret, n_up, n_down, rs_up, rs_down,
        |  rs_up - rs_down AS signed_jump,
        |  CASE WHEN rs_up + rs_down > 0
        |    THEN rs_up / (rs_up + rs_down) END AS up_share
        |FROM (
        |  SELECT symbol, _date,
        |    round(sum(CASE WHEN r IS NOT NULL THEN
        |      CASE WHEN r > 0 THEN r * r ELSE 0.0 END END), 4) AS rs_up,
        |    round(sum(CASE WHEN r IS NOT NULL THEN
        |      CASE WHEN r < 0 THEN r * r ELSE 0.0 END END), 4) AS rs_down,
        |    count(r) AS n_ret,
        |    CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(sum(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down
        |  FROM (
        |    SELECT symbol, _date,
        |      CASE WHEN prev > 0 AND bid > 0 THEN ln(bid / prev)
        |        END AS r
        |    FROM (
        |      SELECT symbol, CAST(ts AS DATE) AS _date, tick_id, bid,
        |        lag(bid) OVER (PARTITION BY symbol, CAST(ts AS DATE)
        |          ORDER BY tick_id) AS prev
        |      FROM $ticksSql t) p) q
        |  GROUP BY symbol, _date) agg
        |ORDER BY symbol, date""".stripMargin),
    // D41 — median realized variance (jump-robust IV) + jump share.
    // D41 — 3-median as a+b+c−max−min (branch-free, identical IEEE
    // spelling); Σmed² and RV round(4) as aggregates; MedRV = rounded
    // sum × HARD constant 1.4193583020224412 × exact-int N/(N−2),
    // re-rounded; jump share divides the two rounded aggregates.
    Key("q_medrv", (s, d) =>
      Microstructure.medianRealizedVariance(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  n_trip, rv, sum_med2,
        |  CASE WHEN n_trip > 2 THEN
        |    round(1.4193583020224412 * sum_med2 *
        |      (CAST(n_trip AS DOUBLE) / CAST(n_trip - 2 AS DOUBLE)), 4)
        |  END AS medrv,
        |  CASE WHEN rv > 0 AND n_trip > 2 THEN greatest(0.0,
        |    1.0 - round(1.4193583020224412 * sum_med2 *
        |      (CAST(n_trip AS DOUBLE) / CAST(n_trip - 2 AS DOUBLE)), 4)
        |      / rv)
        |  END AS med_jump_share
        |FROM (
        |  SELECT symbol, _date,
        |    round(sum(r * r), 4) AS rv,
        |    round(sum(med3 * med3), 4) AS sum_med2,
        |    count(med3) AS n_trip
        |  FROM (
        |    SELECT symbol, _date,  r,
        |      CASE WHEN r IS NOT NULL AND r1 IS NOT NULL
        |          AND r2 IS NOT NULL THEN
        |        abs(r) + abs(r1) + abs(r2)
        |          - greatest(abs(r), abs(r1), abs(r2))
        |          - least(abs(r), abs(r1), abs(r2))
        |      END AS med3
        |    FROM (
        |      SELECT symbol, _date, r,
        |        lag(r) OVER (PARTITION BY symbol, _date ORDER BY tick_id)
        |          AS r1,
        |        lag(r, 2) OVER (PARTITION BY symbol, _date
        |          ORDER BY tick_id) AS r2
        |      FROM (
        |        SELECT symbol, _date, tick_id,
        |          CASE WHEN prev > 0 AND bid > 0 THEN ln(bid / prev)
        |            END AS r
        |        FROM (
        |          SELECT symbol, CAST(ts AS DATE) AS _date, tick_id, bid,
        |            lag(bid) OVER (PARTITION BY symbol, CAST(ts AS DATE)
        |              ORDER BY tick_id) AS prev
        |          FROM $ticksSql t) p) q) s) m
        |  GROUP BY symbol, _date) agg
        |ORDER BY symbol, date""".stripMargin),
    // D44 — BNS jump test: z-stat from RV/BV/tri-power quarticity.
    // D44 — BNS jump test: RV / Σ|r||r₋₁| / Σ tri-power all round(4)
    // as aggregates (sf0.01 day sums 5.8e-6..1.25e3 — the tolerance
    // swallows sum-order drift AND pow() libm ulps); BV/TQ multiply
    // the rounded sums by HARD literals (π/2, μ₄⁄₃⁻³) + exact-int
    // n_trip; z derives from the rounded aggregates with θ as the
    // hard literal; jump_99 compares rounded z to Φ⁻¹(0.99).
    Key("q_bns_jump", (s, d) =>
      Microstructure.bnsJumpTest(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  n_ret, n_trip, rv, bv, tq, z_stat,
        |  CASE WHEN z_stat IS NOT NULL THEN z_stat > 2.3263 END
        |    AS jump_99
        |FROM (
        |  SELECT symbol, _date, n_ret, n_trip, rv, bv, tq,
        |    CASE WHEN rv > 0 AND bv > 0 AND n_ret > 0 THEN
        |      round((1.0 - bv / rv) / sqrt(0.6089937538621326 *
        |        greatest(1.0, tq / (bv * bv)) /
        |        CAST(n_ret AS DOUBLE)), 4)
        |    END AS z_stat
        |  FROM (
        |    SELECT symbol, _date, n_ret, n_trip, rv,
        |      round(sum_bp * 1.5707963267948966, 4) AS bv,
        |      round(1.7434720745319836 * CAST(n_trip AS DOUBLE) *
        |        sum_tp, 4) AS tq
        |    FROM (
        |      SELECT symbol, _date,
        |        round(sum(r * r), 4) AS rv,
        |        round(sum(abs(r) * abs(r1)), 4) AS sum_bp,
        |        round(sum(tp), 4) AS sum_tp,
        |        count(r) AS n_ret,
        |        count(tp) AS n_trip
        |      FROM (
        |        SELECT symbol, _date, r, r1,
        |          CASE WHEN r IS NOT NULL AND r1 IS NOT NULL
        |              AND r2 IS NOT NULL THEN
        |            pow(abs(r), 1.3333333333333333) *
        |              pow(abs(r1), 1.3333333333333333) *
        |              pow(abs(r2), 1.3333333333333333)
        |          END AS tp
        |        FROM (
        |          SELECT symbol, _date, r,
        |            lag(r) OVER (PARTITION BY symbol, _date
        |              ORDER BY tick_id) AS r1,
        |            lag(r, 2) OVER (PARTITION BY symbol, _date
        |              ORDER BY tick_id) AS r2
        |          FROM (
        |            SELECT symbol, _date, tick_id,
        |              CASE WHEN prev > 0 AND bid > 0 THEN ln(bid / prev)
        |                END AS r
        |            FROM (
        |              SELECT symbol, CAST(ts AS DATE) AS _date, tick_id,
        |                bid,
        |                lag(bid) OVER (PARTITION BY symbol,
        |                  CAST(ts AS DATE) ORDER BY tick_id) AS prev
        |              FROM $ticksSql t) p) q) s) u
        |      GROUP BY symbol, _date) agg) d1) d2
        |ORDER BY symbol, date""".stripMargin),
    // D45 — Bouchaud price-response function R(lag) per symbol.
    // D45 — exact int64 contributions sign·(cents_{t+l} − cents_t);
    // the avg is one IEEE division of exact sums, UNROUNDED (D21's
    // rule). Lead columns and union branches GENERATED from respLags
    // so the lag list has one spelling in both engines.
    Key("q_price_response", (s, d) =>
      Microstructure.responseFunction(Tables.ticks(s, d), respLags),
      s"""WITH base AS (
        |  SELECT symbol, tick_id, cents,
        |    lag(cents) OVER w AS prev,
        |${respLags.map(l =>
            s"    lead(cents, $l) OVER w AS fwd_$l").mkString(",\n")}
        |  FROM (
        |    SELECT symbol, tick_id,
        |      CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |    FROM $ticksSql t)
        |  WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)
        |), signed AS (
        |  SELECT symbol, cents,
        |    CASE WHEN prev IS NOT NULL AND cents > prev THEN 1
        |      WHEN prev IS NOT NULL AND cents < prev THEN -1
        |    END AS sign,
        |${respLags.map(l => s"    fwd_$l").mkString(",\n")}
        |  FROM base
        |), u AS (
        |${respLags.map(l =>
            s"""  SELECT symbol, $l AS lag,
              |    CASE WHEN sign IS NOT NULL AND fwd_$l IS NOT NULL
              |      THEN sign * (fwd_$l - cents) END AS contrib
              |  FROM signed""".stripMargin).mkString("\n  UNION ALL\n")}
        |)
        |SELECT symbol, lag, count(contrib) AS n_obs,
        |  avg(contrib) AS resp_cents
        |FROM u GROUP BY symbol, lag
        |ORDER BY symbol, lag""".stripMargin),
    // D46 — LMF flow-persistence curve over the same lag ladder.
    // D46 — the ℓ-back nonzero sign is lag(sign, ℓ) over the FILTERED
    // frame (D32's zero-transparency generalized); counts exact
    // int64, repeat fraction one IEEE division, unrounded. Lag
    // branches generated from respLags.
    Key("q_flow_persistence", (s, d) =>
      Microstructure.flowPersistenceCurve(Tables.ticks(s, d), respLags),
      s"""WITH sg AS (
        |  SELECT symbol, tick_id,
        |    CASE WHEN prev IS NOT NULL AND cents > prev THEN 1
        |      WHEN prev IS NOT NULL AND cents < prev THEN -1
        |    END AS sign
        |  FROM (
        |    SELECT symbol, tick_id, cents,
        |      lag(cents) OVER (PARTITION BY symbol ORDER BY tick_id)
        |        AS prev
        |    FROM (
        |      SELECT symbol, tick_id,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |      FROM $ticksSql t) c) p),
        |f AS (SELECT symbol, tick_id, sign FROM sg
        |  WHERE sign IS NOT NULL),
        |l AS (
        |  SELECT symbol, sign,
        |${respLags.map(l =>
            s"""    lag(sign, $l) OVER (PARTITION BY symbol
              |      ORDER BY tick_id) AS back_$l""".stripMargin)
           .mkString(",\n")}
        |  FROM f),
        |u AS (
        |${respLags.map(l =>
            s"""  SELECT symbol, $l AS lag, sign, back_$l AS back
              |  FROM l""".stripMargin).mkString("\n  UNION ALL\n")}
        |),
        |agg AS (
        |  SELECT symbol, lag, count(back) AS n_pairs,
        |    CAST(sum(CASE WHEN back = sign THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_repeat
        |  FROM u GROUP BY symbol, lag)
        |SELECT symbol, lag, n_pairs, n_repeat,
        |  CASE WHEN n_pairs > 0 THEN
        |    CAST(n_repeat AS DOUBLE) / CAST(n_pairs AS DOUBLE)
        |  END AS p_repeat
        |FROM agg
        |ORDER BY symbol, lag""".stripMargin),
    // D47 — hourly volume participation curve (exact int64 bps).
    // D47 — all-integer participation curve: hourly/total/cumulative
    // quantity sums are exact int64 (CAST — the r8 HUGEINT lesson),
    // shares in bps via exact integer division. Zero rounding
    // discipline needed anywhere.
    Key("q_participation", (s, d) =>
      Microstructure.participationCurve(Tables.events(s, d)),
      """WITH p AS (SELECT user_id AS symbol, hour(ts) AS hour_od,
        |    coalesce(CAST(props->>'$.k' AS INT), 0) AS k FROM events),
        |h AS (SELECT symbol, hour_od, count(*) AS n_trades,
        |    CAST(sum(k) AS BIGINT) AS hour_qty
        |  FROM p GROUP BY symbol, hour_od),
        |w AS (SELECT symbol, hour_od, n_trades, hour_qty,
        |    CAST(sum(hour_qty) OVER (PARTITION BY symbol) AS BIGINT)
        |      AS total_qty,
        |    CAST(sum(hour_qty) OVER (PARTITION BY symbol
        |      ORDER BY hour_od ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_qty
        |  FROM h)
        |SELECT symbol, hour_od, n_trades, hour_qty,
        |  CASE WHEN total_qty > 0 THEN (hour_qty * 10000) // total_qty
        |    END AS share_bp,
        |  CASE WHEN total_qty > 0 THEN (cum_qty * 10000) // total_qty
        |    END AS cum_share_bp
        |FROM w
        |ORDER BY symbol, hour_od""".stripMargin),
    // D48 — minute-of-day-adjusted anomaly scan (de-seasonalized D4).
    // D48 — D4's discipline: μ/σ unrounded aggregate doubles, z
    // derived then round(4) once, flag on the unrounded z; moves are
    // exact |Δcents| per (symbol, day).
    Key("q_seasonal_anomaly", (s, d) =>
      Microstructure.seasonalAnomaly(Tables.ticks(s, d), seasonalZThr),
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
    // D49 — overnight vs intraday variance decomposition (French–Roll).
    // D49 — French–Roll decomposition: first/last cents per (symbol,
    // day) by tick_id, exact int diffs, variance via the SHARED
    // Microstructure.varFromSums spelling (exact sums — no engine
    // var_samp), share of RAW vars, round(4) display only.
    Key("q_overnight_intraday", (s, d) =>
      Microstructure.overnightIntraday(Tables.ticks(s, d)), {
      import graft.operators.Microstructure.varFromSums
      s"""WITH daily AS (SELECT symbol, date_trunc('day', ts) AS day,
        |    arg_min(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      AS open_c,
        |    arg_max(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      AS close_c
        |  FROM $ticksSql t GROUP BY symbol, date_trunc('day', ts)),
        |rets AS (SELECT symbol,
        |    open_c - lag(close_c, 1) OVER (PARTITION BY symbol
        |      ORDER BY day) AS r_on,
        |    close_c - open_c AS r_id
        |  FROM daily),
        |ag AS (SELECT symbol, count(*) AS n_days, count(r_on) AS n_on,
        |    CAST(sum(r_on) AS BIGINT) AS s_on,
        |    CAST(sum(r_on * r_on) AS BIGINT) AS sq_on,
        |    CAST(sum(r_id) AS BIGINT) AS s_id,
        |    CAST(sum(r_id * r_id) AS BIGINT) AS sq_id
        |  FROM rets GROUP BY symbol),
        |v AS (SELECT symbol, n_days,
        |    ${varFromSums("s_on", "sq_on", "n_on")} AS v_on,
        |    ${varFromSums("s_id", "sq_id", "n_days")} AS v_id
        |  FROM ag)
        |SELECT symbol, n_days,
        |  round(v_on, 4) AS var_overnight,
        |  round(v_id, 4) AS var_intraday,
        |  round(CASE WHEN v_on IS NOT NULL AND v_id IS NOT NULL
        |      AND v_on + v_id > 0
        |    THEN v_on / (v_on + v_id) END, 4) AS overnight_share
        |FROM v ORDER BY symbol""".stripMargin
    }),
    // D50 — TCA: sampled fills benchmarked against day VWAP, signed bp.
    // D50 — TCA: (symbol, day) VWAP sums exact int64 (HUGEINT CAST
    // back), both vwap_cents and slip_bp ONE IEEE division of exact
    // ints (signed integer div deliberately avoided — Spark truncates
    // where DuckDB floors), day-frame join, fills every Nth event.
    Key("q_vwap_slippage", (s, d) =>
      Microstructure.vwapSlippage(Tables.events(s, d), tcaFillEvery),
      s"""WITH p AS (SELECT event_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS INT), 0) AS k
        |  FROM events),
        |t AS (SELECT * FROM p WHERE k > 0),
        |d AS (SELECT symbol, day, CAST(sum(k) AS BIGINT) AS day_qty,
        |    CAST(sum(cents * k) AS BIGINT) AS day_pv
        |  FROM t GROUP BY symbol, day)
        |SELECT t.symbol, t.event_id AS fill_id,
        |  strftime(t.day, '%Y-%m-%d') AS day,
        |  t.cents AS exec_cents, d.day_qty,
        |  CAST(d.day_pv AS DOUBLE) / d.day_qty AS vwap_cents,
        |  CAST((t.cents * d.day_qty - d.day_pv) * 10000 AS DOUBLE)
        |    / d.day_pv AS slip_bp
        |FROM t JOIN d USING (symbol, day)
        |WHERE t.event_id % $tcaFillEvery = 0
        |ORDER BY symbol, fill_id""".stripMargin),
    // D51 — Newey–West long-run variance (Bartlett, L=3) + inflation.
    // D51 — Newey–West: per-lag exact sums via generated UNION ALL
    // (the stack dual), γ̂ and the Bartlett combination through the
    // SHARED nwGammaExpr / nwSigmaExpr spellings — no float aggregate
    // past the exact sums in either engine.
    Key("q_newey_west", (s, d) =>
      Microstructure.neweyWestVariance(Tables.ticks(s, d), nwMaxLag), {
      import graft.operators.Microstructure.{nwGammaExpr, nwSigmaExpr}
      val perK = (0 to nwMaxLag).map { k =>
        if (k == 0)
          """SELECT symbol, 0 AS k, count(*) AS n_k,
            |    CAST(sum(d * d) AS BIGINT) AS sxy,
            |    CAST(sum(d) AS BIGINT) AS sx,
            |    CAST(sum(d) AS BIGINT) AS sy
            |  FROM moves GROUP BY symbol""".stripMargin
        else
          s"""SELECT symbol, $k AS k, count(*) AS n_k,
            |    CAST(sum(d * dl) AS BIGINT) AS sxy,
            |    CAST(sum(d) AS BIGINT) AS sx,
            |    CAST(sum(dl) AS BIGINT) AS sy
            |  FROM (SELECT symbol, d, lag(d, $k) OVER (
            |      PARTITION BY symbol ORDER BY tick_id) AS dl
            |    FROM moves) x
            |  WHERE dl IS NOT NULL GROUP BY symbol""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val pivots = (0 to nwMaxLag).map(k =>
        s"max(CASE WHEN k = $k THEN gamma END) AS g$k").mkString(",\n    ")
      s"""WITH c AS (SELECT symbol, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |  FROM $ticksSql t),
        |moves AS (SELECT symbol, tick_id, d FROM (
        |    SELECT symbol, tick_id, cents - lag(cents, 1) OVER (
        |      PARTITION BY symbol ORDER BY tick_id) AS d FROM c) x
        |  WHERE d IS NOT NULL),
        |tot AS (SELECT symbol, count(*) AS n, CAST(sum(d) AS BIGINT) AS s
        |  FROM moves GROUP BY symbol),
        |pk AS ($perK),
        |gg AS (SELECT pk.symbol, pk.k, pk.n_k, pk.sxy, pk.sx, pk.sy,
        |    tot.n, CAST(tot.s AS DOUBLE) / tot.n AS m
        |  FROM pk JOIN tot USING (symbol)),
        |ga AS (SELECT symbol, k, n, $nwGammaExpr AS gamma FROM gg),
        |pv AS (SELECT symbol, max(n) AS n_moves,
        |    $pivots
        |  FROM ga GROUP BY symbol)
        |SELECT symbol, n_moves, round(g0, 4) AS gamma0,
        |  round(${nwSigmaExpr(nwMaxLag)}, 4) AS nw_var,
        |  round(CASE WHEN g0 <> 0
        |    THEN (${nwSigmaExpr(nwMaxLag)}) / g0 END, 4) AS inflation
        |FROM pv ORDER BY symbol""".stripMargin
    }),
    // D52 — running-VWAP (participation-benchmark) slippage; the G26
    // streaming twin carries the same two running sums as state.
    // D52 — running-VWAP slippage: one running window per (symbol,
    // day), fills filtered AFTER the cumsum, both outputs ONE IEEE
    // division of exact ints (D50's signed-div rule).
    Key("q_running_vwap", (s, d) =>
      Microstructure.runningVwapSlippage(Tables.events(s, d),
        tcaFillEvery),
      s"""WITH p AS (SELECT event_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS INT), 0) AS k
        |  FROM events),
        |t AS (SELECT * FROM p WHERE k > 0),
        |r AS (SELECT symbol, event_id, day, cents,
        |    CAST(sum(k) OVER (PARTITION BY symbol, day ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_qty,
        |    CAST(sum(cents * k) OVER (PARTITION BY symbol, day
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_pv
        |  FROM t)
        |SELECT symbol, event_id AS fill_id,
        |  strftime(day, '%Y-%m-%d') AS day,
        |  cents AS exec_cents, cum_qty,
        |  CAST(cum_pv AS DOUBLE) / cum_qty AS run_vwap_cents,
        |  CAST((cents * cum_qty - cum_pv) * 10000 AS DOUBLE) / cum_pv
        |    AS slip_bp
        |FROM r WHERE event_id % $tcaFillEvery = 0
        |ORDER BY symbol, fill_id""".stripMargin),
    // D53 — Ané–Geman clock comparison: time- vs volume-clock kurtosis.
    // D53 — clock kurtosis: D39's adjudicated moment spelling run on
    // both clocks (time = per-day print moves; volume = D30 bar-close
    // moves with the q_volume_bars window verbatim); ratio divides
    // the two ROUNDED finals.
    Key("q_clock_kurtosis", (s, d) =>
      Microstructure.clockKurtosis(Tables.events(s, d), barQtyParam),
      s"""WITH p AS (SELECT user_id AS symbol, event_id,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS BIGINT), 0) AS k
        |  FROM events),
        |td AS (SELECT symbol,
        |    CAST(cents - lag(cents) OVER (PARTITION BY symbol,
        |      CAST(ts AS DATE) ORDER BY event_id) AS DOUBLE) AS d
        |  FROM p),
        |ta AS (SELECT symbol, count(d) AS n_time, avg(d) AS m1,
        |    avg(d * d) AS m2, avg(d * d * d) AS m3,
        |    avg(d * d * d * d) AS m4
        |  FROM td WHERE d IS NOT NULL GROUP BY symbol),
        |tk AS (SELECT symbol, n_time,
        |    CASE WHEN m2 - m1 * m1 > 0 THEN
        |      round((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
        |        - 3.0 * m1 * m1 * m1 * m1)
        |        / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0, 4)
        |    END AS kurt_time
        |  FROM ta),
        |bars AS (SELECT symbol, bar_id,
        |    arg_max(cents, event_id) AS close_cents
        |  FROM (SELECT symbol, event_id, cents,
        |      CAST(greatest(sum(k) OVER (PARTITION BY symbol
        |        ORDER BY event_id ROWS UNBOUNDED PRECEDING) - 1, 0)
        |        // $barQtyParam AS BIGINT) AS bar_id
        |    FROM p) x
        |  GROUP BY symbol, bar_id),
        |vd AS (SELECT symbol,
        |    CAST(close_cents - lag(close_cents) OVER (
        |      PARTITION BY symbol ORDER BY bar_id) AS DOUBLE) AS d
        |  FROM bars),
        |va AS (SELECT symbol, count(d) AS n_vol, avg(d) AS m1,
        |    avg(d * d) AS m2, avg(d * d * d) AS m3,
        |    avg(d * d * d * d) AS m4
        |  FROM vd WHERE d IS NOT NULL GROUP BY symbol),
        |vk AS (SELECT symbol, n_vol,
        |    CASE WHEN m2 - m1 * m1 > 0 THEN
        |      round((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
        |        - 3.0 * m1 * m1 * m1 * m1)
        |        / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0, 4)
        |    END AS kurt_vol
        |  FROM va)
        |SELECT tk.symbol, tk.n_time, tk.kurt_time, vk.n_vol, vk.kurt_vol,
        |  CASE WHEN tk.kurt_time IS NOT NULL AND vk.kurt_vol IS NOT NULL
        |      AND tk.kurt_time <> 0
        |    THEN vk.kurt_vol / tk.kurt_time END AS kurt_ratio
        |FROM tk JOIN vk USING (symbol)
        |ORDER BY symbol""".stripMargin),
    // D55 — square-root-law fit: ln|slip| on ln(participation) slope.
    // D55 — impact exponent: D50's tape/fill derivation, ln of exact
    // ratio divisions, covar_pop/var_pop slope round(4) (D18 class),
    // singular fills excluded.
    Key("q_impact_exponent", (s, d) =>
      Microstructure.impactExponent(Tables.events(s, d), tcaFillEvery),
      s"""WITH p AS (SELECT event_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS INT), 0) AS k
        |  FROM events),
        |t AS (SELECT * FROM p WHERE k > 0),
        |d AS (SELECT symbol, day, CAST(sum(k) AS BIGINT) AS day_qty,
        |    CAST(sum(cents * k) AS BIGINT) AS day_pv
        |  FROM t GROUP BY symbol, day),
        |f AS (SELECT t.symbol,
        |    CAST((t.cents * d.day_qty - d.day_pv) * 10000 AS DOUBLE)
        |      / d.day_pv AS slip_bp,
        |    CAST(t.k AS DOUBLE) / d.day_qty AS part,
        |    t.k, d.day_qty
        |  FROM t JOIN d USING (symbol, day)
        |  WHERE t.event_id % $tcaFillEvery = 0),
        |g AS (SELECT symbol, ln(part) AS x, ln(abs(slip_bp)) AS y
        |  FROM f WHERE abs(slip_bp) > 0 AND k < day_qty)
        |SELECT symbol, count(*) AS n_fills,
        |  round(CASE WHEN var_pop(x) > 0
        |    THEN covar_pop(y, x) / var_pop(x) END, 4) AS impact_exp
        |FROM g GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D55 over PLANTED-impact events (r15 verdict #1's D55 leg): the
    // same operator on RichCorpus.eventsImpact's sqrt-law prices —
    // the fitted exponent recovers the planted ~0.5 (median 0.52 at
    // sf0.1) instead of the base corpus's uninformative noise fit.
    // fillEvery=1: the one-day collapse leaves ~66 fills per symbol,
    // all informative — sampling would re-starve the regression.
    // D55 over the PLANTED-impact events: q_impact_exponent's body
    // on the richimpact CTE (sqrt-law cents, engine-identical).
    Key("q_impact_exponent_rich", (s, d) =>
      Microstructure.impactExponent(
        RichCorpus.eventsImpact(Tables.events(s, d)), 1),
      s"""WITH ${RichCorpus.duckImpactCte},
        |p AS (SELECT event_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS INT), 0) AS k
        |  FROM richimpact),
        |t AS (SELECT * FROM p WHERE k > 0),
        |d AS (SELECT symbol, day, CAST(sum(k) AS BIGINT) AS day_qty,
        |    CAST(sum(cents * k) AS BIGINT) AS day_pv
        |  FROM t GROUP BY symbol, day),
        |f AS (SELECT t.symbol,
        |    CAST((t.cents * d.day_qty - d.day_pv) * 10000 AS DOUBLE)
        |      / d.day_pv AS slip_bp,
        |    CAST(t.k AS DOUBLE) / d.day_qty AS part,
        |    t.k, d.day_qty
        |  FROM t JOIN d USING (symbol, day)
        |  WHERE t.event_id % 1 = 0),
        |g AS (SELECT symbol, ln(part) AS x, ln(abs(slip_bp)) AS y
        |  FROM f WHERE abs(slip_bp) > 0 AND k < day_qty)
        |SELECT symbol, count(*) AS n_fills,
        |  round(CASE WHEN var_pop(x) > 0
        |    THEN covar_pop(y, x) / var_pop(x) END, 4) AS impact_exp
        |FROM g GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D56 — leverage-effect corr(move, next |move|) on exact cents.
    // D56 — leverage effect: exact-cent diffs, five exact int64 sums,
    // the shared corrFromSums IEEE spelling, round(4) once.
    Key("q_leverage_effect", (s, d) =>
      Microstructure.leverageEffect(Tables.ticks(s, d)),
      s"""WITH t AS (SELECT symbol, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS c
        |  FROM $ticksSql t),
        |d AS (SELECT symbol, tick_id,
        |    c - lag(c) OVER (PARTITION BY symbol ORDER BY tick_id) AS d
        |  FROM t),
        |p AS (SELECT symbol, d,
        |    abs(lead(d) OVER (PARTITION BY symbol ORDER BY tick_id))
        |      AS a_next
        |  FROM d),
        |g AS (SELECT symbol, count(*) AS n_pairs,
        |    CAST(sum(d) AS BIGINT) AS sx,
        |    CAST(sum(a_next) AS BIGINT) AS sy,
        |    CAST(sum(d * a_next) AS BIGINT) AS sxy,
        |    CAST(sum(d * d) AS BIGINT) AS sxx,
        |    CAST(sum(a_next * a_next) AS BIGINT) AS syy
        |  FROM p WHERE d IS NOT NULL AND a_next IS NOT NULL
        |  GROUP BY symbol)
        |SELECT symbol, n_pairs,
        |  round(${Microstructure.corrFromSums("sx", "sy", "sxy",
             "sxx", "syy", "n_pairs")}, 4) AS leverage_corr
        |FROM g ORDER BY symbol""".stripMargin),
    // D58 — shock-recovery event study (D38's lookahead machinery).
    // D58 — shock recovery: D38's oracle shape (plain range join at
    // gate SFs), cross-multiplied exact-cent thresholds, first
    // recovery one conditional MIN, non-negative exact div move.
    Key("q_shock_recovery", (s, d) =>
      Features.shockRecovery(Tables.ticks(s, d), shockBpParam,
        shockRecoverBp, tbHorizon),
      s"""WITH x AS (
        |  SELECT symbol, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY symbol ORDER BY tick_id)
        |      AS BIGINT) AS idx
        |  FROM $ticksSql t),
        |s AS (SELECT symbol, idx AS s_idx, tick_id AS shock_id,
        |    lag(c) OVER (PARTITION BY symbol ORDER BY idx) AS pre_c,
        |    c AS shock_c
        |  FROM x),
        |sh AS (SELECT * FROM s WHERE pre_c > 0
        |  AND abs(shock_c - pre_c) * 10000 >= pre_c * $shockBpParam),
        |j AS (
        |  SELECT sh.symbol, sh.s_idx, sh.shock_id, sh.pre_c, sh.shock_c,
        |    min(CASE WHEN abs(f.c - sh.pre_c) * 10000
        |      <= sh.pre_c * $shockRecoverBp THEN f.idx END) AS r_idx,
        |    count(*) AS n_lookahead
        |  FROM sh JOIN x f ON f.symbol = sh.symbol
        |    AND f.idx > sh.s_idx AND f.idx <= sh.s_idx + $tbHorizon
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT symbol, shock_id, pre_c, shock_c,
        |  (abs(shock_c - pre_c) * 10000) // pre_c AS abs_move_bp,
        |  r_idx - s_idx AS recovery_ticks,
        |  r_idx IS NOT NULL AS recovered,
        |  n_lookahead
        |FROM j ORDER BY symbol, shock_id""".stripMargin),
    // D59 — cross-sectional reversal spread (portfolio sort, q=5).
    // D59 — reversal spread: B7's exact-cent OHLC collapse, one
    // identically-spelled IEEE bp return, ntile over a total order,
    // bucket means round(4), spread from the rounded finals.
    Key("q_reversal_spread", (s, d) =>
      Microstructure.reversalSpread(Tables.ticks(s, d), sortQuantiles),
      s"""WITH d AS (SELECT user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    min_by(CAST(round(value * 100.0, 0) AS BIGINT), event_id)
        |      AS o,
        |    max_by(CAST(round(value * 100.0, 0) AS BIGINT), event_id)
        |      AS cl
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT symbol, day,
        |    CAST(cl - o AS DOUBLE) / o * 10000 AS ret_bp,
        |    lag(CAST(cl - o AS DOUBLE) / o * 10000)
        |      OVER (PARTITION BY symbol ORDER BY day) AS prev_bp
        |  FROM d WHERE o > 0),
        |rk AS (SELECT day, ret_bp,
        |    ntile($sortQuantiles)
        |      OVER (PARTITION BY day ORDER BY prev_bp, symbol) AS q
        |  FROM r WHERE prev_bp IS NOT NULL),
        |g AS (SELECT strftime(day, '%Y-%m-%d') AS day,
        |    count(*) AS n_symbols,
        |    round(avg(CASE WHEN q = 1 THEN ret_bp END), 4) AS loser_bp,
        |    round(avg(CASE WHEN q = $sortQuantiles THEN ret_bp END), 4)
        |      AS winner_bp
        |  FROM rk GROUP BY 1)
        |SELECT day, n_symbols, loser_bp, winner_bp,
        |  round(loser_bp - winner_bp, 4) AS reversal_spread_bp
        |FROM g ORDER BY day""".stripMargin),
    // D60 — Engle–Granger pairwise cointegration screen on the daily
    // close grid: hedge ratio, residual AR(1), half-life. Registered
    // on the deterministic mod-cointSampleMod roster sample: the full
    // screen is quadratic in symbols (r12's #1 bench head, 38 s /
    // 1.12M pairs) and stays as the spec baseline; the full-roster
    // path is D65's blocked screen. Per-pair values bit-identical.
    // D60 — negative-zero discipline: DuckDB's round() is an fp
    // multiply (round(-1e-9, 4) = -0.0) while Spark's is BigDecimal
    // (always +0.0); the driver's hash stringifies, so "-0.0" vs
    // "0.0" is a mismatch on numerically equal cells (the ONLY r11
    // drift — 2 cells of 67,050). `round(..) + 0.0` normalizes
    // (-0.0 + 0.0 = +0.0 in IEEE; NULL propagates) on every slope-
    // like column that can legitimately round to a signed zero.
    Key("q_cointegration", (s, d) =>
      Microstructure.cointegrationScreenSampled(Tables.ticks(s, d),
        cointSampleMod, Some(d)),
      s"""WITH $cointClosesSql,
        |grid AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.day,
        |    a.cents AS ca, b.cents AS cb
        |  FROM closes a JOIN closes b
        |    ON a.day = b.day AND a.symbol < b.symbol
        |  WHERE a.symbol % $cointSampleMod = 0
        |    AND b.symbol % $cointSampleMod = 0),
        |$cointFitTailSql""".stripMargin),
    // D65 — blocked screen: LSH-banded candidate prune, exact fit on
    // survivors only (the 100x-scale path for the quadratic D60).
    // D65 — blocked screen: stage-1 LSH banding over fixed-calendar
    // up-move bits (exact ints both engines), stage-2 the SHARED fit
    // tail — candidates only. Same negative-zero discipline as D60.
    Key("q_cointegration_blocked", (s, d) =>
      Microstructure.cointegrationScreenBlocked(Tables.ticks(s, d),
        cointBands, cointBandBits, Some(d)), {
      val nBits = cointBands * cointBandBits
      val loHis = (0 until nBits).map(b =>
        s"max(CASE WHEN j = ${2 * b} THEN cents END) AS lo$b, " +
          s"max(CASE WHEN j = ${2 * b + 1} THEN cents END) AS hi$b")
        .mkString(",\n|    ")
      val sigSum = (0 until nBits).map(b =>
        s"CASE WHEN hi$b > lo$b THEN CAST(${1L << b} AS BIGINT) " +
          "ELSE 0 END").mkString(" + ")
      s"""WITH $cointClosesSql,
        |d0 AS (SELECT min(day) AS d0 FROM closes),
        |rel AS (SELECT symbol, (day - d0.d0) AS j, cents
        |  FROM closes, d0 WHERE (day - d0.d0) < ${2 * nBits}),
        |lohi AS (SELECT symbol,
        |    $loHis
        |  FROM rel GROUP BY symbol),
        |sig AS (SELECT symbol, $sigSum AS sig FROM lohi),
        |bandrows AS (SELECT symbol, i AS band_idx,
        |    (sig // CAST(pow(2, i * $cointBandBits) AS BIGINT))
        |      % ${1L << cointBandBits} AS band_val
        |  FROM sig, (SELECT unnest(range($cointBands)) AS i) t),
        |cand AS (SELECT DISTINCT a.symbol AS sym_a, b.symbol AS sym_b
        |  FROM bandrows a JOIN bandrows b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |    AND a.symbol < b.symbol),
        |grid AS (SELECT c.sym_a, c.sym_b, a.day,
        |    a.cents AS ca, b.cents AS cb
        |  FROM cand c JOIN closes a ON a.symbol = c.sym_a
        |    JOIN closes b ON b.symbol = c.sym_b AND b.day = a.day),
        |$cointFitTailSql""".stripMargin
    }),
    // D62 — pairs-trade backtest on the symPairs roster: z-scored
    // hedge spread, window state machine, P&L per pair.
    // D62 — pairs backtest: the D60 close grid on the roster, β/mean/σ
    // from exact-int sums (σ via the arCrossFromSums expansion
    // discipline), the position state machine as last_value IGNORE
    // NULLS over threshold-crossing signals, P&L round(4).
    Key("q_pairs_backtest", (s, d) =>
      Microstructure.pairsBacktest(Tables.ticks(s, d), symPairs,
        pairsEnterZ, pairsExitZ, Some(d)),
      s"""WITH closes AS (SELECT user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    max_by(CAST(round(value * 100.0, 0) AS BIGINT), event_id)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.day,
        |    a.cents AS ca, b.cents AS cb
        |  FROM closes a JOIN closes b ON a.day = b.day
        |  JOIN (VALUES $symPairsSql) r(pa, pb)
        |    ON a.symbol = r.pa AND b.symbol = r.pb),
        |st AS (SELECT sym_a, sym_b, count(*) AS n_days,
        |    CAST(sum(cb) AS BIGINT) AS sx,
        |    CAST(sum(ca) AS BIGINT) AS sy,
        |    CAST(sum(cb * ca) AS BIGINT) AS sxy,
        |    CAST(sum(cb * cb) AS BIGINT) AS sxx,
        |    CAST(sum(ca * ca) AS BIGINT) AS syy
        |  FROM grid GROUP BY 1, 2),
        |sb AS (SELECT *, ${Microstructure.olsSlopeFromSums("sx", "sy",
             "sxy", "sxx", "n_days")} AS beta FROM st),
        |sm AS (SELECT *,
        |    (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / n_days
        |      AS mean_s
        |  FROM sb WHERE beta IS NOT NULL),
        |sv AS (SELECT *,
        |    (CAST(syy AS DOUBLE) - 2 * beta * CAST(sxy AS DOUBLE)
        |      + beta * beta * CAST(sxx AS DOUBLE)) / n_days
        |      - mean_s * mean_s AS var_s
        |  FROM sm),
        |ss AS (SELECT sym_a, sym_b, n_days, beta, mean_s,
        |    sqrt(var_s) AS sd_s
        |  FROM sv WHERE var_s > 0),
        |tz AS (SELECT g.sym_a, g.sym_b, s.n_days, g.day,
        |    CAST(g.ca AS DOUBLE) - s.beta * CAST(g.cb AS DOUBLE) AS sp,
        |    (CAST(g.ca AS DOUBLE) - s.beta * CAST(g.cb AS DOUBLE)
        |      - s.mean_s) / s.sd_s AS z
        |  FROM grid g JOIN ss s USING (sym_a, sym_b)),
        |sg AS (SELECT *, CASE
        |    WHEN abs(z) >= $pairsEnterZ THEN
        |      CASE WHEN z > 0 THEN -1 ELSE 1 END
        |    WHEN abs(z) <= $pairsExitZ THEN 0 END AS sig
        |  FROM tz),
        |ps AS (SELECT *, coalesce(last_value(sig IGNORE NULLS)
        |      OVER (PARTITION BY sym_a, sym_b ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |      AS pos
        |  FROM sg),
        |pp AS (SELECT *,
        |    coalesce(lag(pos) OVER (PARTITION BY sym_a, sym_b
        |      ORDER BY day), 0) AS pos_prev,
        |    sp - lag(sp) OVER (PARTITION BY sym_a, sym_b
        |      ORDER BY day) AS ds
        |  FROM ps)
        |SELECT sym_a, sym_b, n_days,
        |  CAST(sum(CASE WHEN pos <> 0 AND pos <> pos_prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
        |  CAST(sum(CASE WHEN pos <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS days_in_pos,
        |  round(sum(CASE WHEN ds IS NOT NULL
        |    THEN CAST(pos_prev AS DOUBLE) * ds ELSE 0.0 END), 4)
        |    AS pnl_cents
        |FROM pp GROUP BY 1, 2, 3 ORDER BY sym_a, sym_b""".stripMargin),
    // D63 — HAR-RV two-horizon regression (2x2 normal equations).
    // D63 — HAR-RV: per-day rv exact int64, full-week rows only, the
    // six centered moments via the shared cmom spelling, Cramer 2x2,
    // round(4) (float sweep).
    Key("q_har_rv", (s, d) =>
      Microstructure.harRv(Tables.ticks(s, d), harWeek), {
      val c11 = Microstructure.cmom("sx1x1", "sx1", "sx1", "n_days")
      val c22 = Microstructure.cmom("sx2x2", "sx2", "sx2", "n_days")
      val c12 = Microstructure.cmom("sx1x2", "sx1", "sx2", "n_days")
      val c1y = Microstructure.cmom("sx1y", "sx1", "sy", "n_days")
      val c2y = Microstructure.cmom("sx2y", "sx2", "sy", "n_days")
      val cyy = Microstructure.cmom("syy", "sy", "sy", "n_days")
      s"""WITH p AS (SELECT user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS _date, event_id,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        |  FROM events),
        |l AS (SELECT symbol, _date,
        |    cents - lag(cents) OVER (PARTITION BY symbol, _date
        |      ORDER BY event_id) AS d
        |  FROM p),
        |rv AS (SELECT symbol, _date, CAST(sum(d * d) AS BIGINT) AS rv
        |  FROM l WHERE d IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT symbol, rv,
        |    lag(rv) OVER (PARTITION BY symbol ORDER BY _date) AS x1,
        |    sum(rv) OVER (PARTITION BY symbol ORDER BY _date
        |      ROWS BETWEEN $harWeek PRECEDING AND 1 PRECEDING) AS x2,
        |    count(*) OVER (PARTITION BY symbol ORDER BY _date
        |      ROWS BETWEEN $harWeek PRECEDING AND 1 PRECEDING) AS nw
        |  FROM rv),
        |s AS (SELECT symbol, count(*) AS n_days,
        |    CAST(sum(x1) AS BIGINT) AS sx1,
        |    CAST(sum(x2) AS BIGINT) AS sx2,
        |    CAST(sum(rv) AS BIGINT) AS sy,
        |    sum(CAST(x1 AS HUGEINT) * CAST(x1 AS HUGEINT)) AS sx1x1,
        |    sum(CAST(x2 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS sx2x2,
        |    sum(CAST(x1 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS sx1x2,
        |    sum(CAST(x1 AS HUGEINT) * CAST(rv AS HUGEINT)) AS sx1y,
        |    sum(CAST(x2 AS HUGEINT) * CAST(rv AS HUGEINT)) AS sx2y,
        |    sum(CAST(rv AS HUGEINT) * CAST(rv AS HUGEINT)) AS syy
        |  FROM f WHERE nw = $harWeek GROUP BY symbol),
        |dd AS (SELECT *, ($c11 * $c22 - $c12 * $c12) AS det FROM s),
        |bb AS (SELECT *,
        |    CASE WHEN n_days > 2 AND det > 0
        |      THEN ($c1y * $c22 - $c2y * $c12) / det END AS beta_d,
        |    CASE WHEN n_days > 2 AND det > 0
        |      THEN ($c2y * $c11 - $c1y * $c12) / det END AS beta_w
        |  FROM dd)
        |SELECT symbol, n_days, round(beta_d, 4) AS beta_d,
        |  round(beta_w, 4) AS beta_w,
        |  round(CASE WHEN beta_d IS NOT NULL AND $cyy > 0
        |    THEN (beta_d * $c1y + beta_w * $c2y) / $cyy END, 4) AS r2
        |FROM bb ORDER BY symbol""".stripMargin
    }),
    // D64 — volatility cones: rolling-RV quantile bands by horizon.
    // D60 — cointegration screen: exact-cent daily closes (max_by
    // tick_id), ONE lag window + ONE 17-sum aggregate, beta/alpha via
    // the shared olsSlopeFromSums spellings, the residual AR(1) sums
    // expanded algebraically (arCrossFromSums — shared verbatim with
    // the Spark side), rho round(4), half-life from the ROUNDED rho
    // (float sweep).
    // D64 — volatility cones: the D63 daily-rv frame, per-horizon
    // rolling ROWS sums (full windows only), engine exact-percentile
    // round(4) with picked-int min/max; horizon CTEs GENERATED from
    // the shared coneHorizons constant.
    Key("q_vol_cones", (s, d) =>
      Microstructure.volCones(Tables.ticks(s, d), coneHorizons), {
      val hs = coneHorizons.map { h =>
        s"""f$h AS (SELECT symbol,
          |    sum(rv) OVER (PARTITION BY symbol ORDER BY _date
          |      ROWS BETWEEN ${h - 1} PRECEDING AND CURRENT ROW)
          |      AS roll_rv,
          |    count(*) OVER (PARTITION BY symbol ORDER BY _date
          |      ROWS BETWEEN ${h - 1} PRECEDING AND CURRENT ROW) AS nw
          |  FROM rv),
          |s$h AS (SELECT symbol, CAST($h AS INT) AS horizon_days,
          |    roll_rv
          |  FROM f$h WHERE nw = $h)""".stripMargin
      }.mkString(",\n")
      val u = coneHorizons.map(h => s"SELECT * FROM s$h")
        .mkString("\n UNION ALL ")
      s"""WITH p AS (SELECT user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS _date, event_id,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        |  FROM events),
        |l AS (SELECT symbol, _date,
        |    cents - lag(cents) OVER (PARTITION BY symbol, _date
        |      ORDER BY event_id) AS d
        |  FROM p),
        |rv AS (SELECT symbol, _date, CAST(sum(d * d) AS BIGINT) AS rv
        |  FROM l WHERE d IS NOT NULL GROUP BY 1, 2),
        |$hs,
        |u AS ($u)
        |SELECT symbol, horizon_days, count(*) AS n_windows,
        |  CAST(min(roll_rv) AS BIGINT) AS rv_min,
        |  round(quantile_cont(roll_rv, 0.25), 4) AS rv_p25,
        |  round(quantile_cont(roll_rv, 0.5), 4) AS rv_med,
        |  round(quantile_cont(roll_rv, 0.75), 4) AS rv_p75,
        |  CAST(max(roll_rv) AS BIGINT) AS rv_max
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),
    // D57 — Clark MDH test: ln(day |move| mass) on ln(day volume).
    // D57 — volume–volatility elasticity: within-day exact-cent move
    // mass vs exact volume, ln of exact ints, covar_pop/var_pop slope
    // round(4) (D55's accepted spelling), zero days dropped pre-ln.
    Key("q_volume_elasticity", (s, d) =>
      Microstructure.volumeVolElasticity(Tables.events(s, d)),
      s"""WITH p AS (SELECT event_id, user_id AS symbol,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |    coalesce(CAST(props->>'$$.k' AS BIGINT), 0) AS k
        |  FROM events),
        |l AS (SELECT symbol, day, k,
        |    abs(cents - lag(cents) OVER (PARTITION BY symbol, day
        |      ORDER BY event_id)) AS ad
        |  FROM p),
        |d AS (SELECT symbol, day, CAST(sum(ad) AS BIGINT) AS move,
        |    CAST(sum(k) AS BIGINT) AS vol
        |  FROM l GROUP BY symbol, day
        |  HAVING CAST(sum(ad) AS BIGINT) > 0
        |    AND CAST(sum(k) AS BIGINT) > 0),
        |g AS (SELECT symbol, ln(CAST(vol AS DOUBLE)) AS x,
        |    ln(CAST(move AS DOUBLE)) AS y
        |  FROM d)
        |SELECT symbol, count(*) AS n_days,
        |  round(CASE WHEN var_pop(x) > 0
        |    THEN covar_pop(y, x) / var_pop(x) END, 4) AS elasticity
        |FROM g GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D61 — time-weighted quoted spread (+ flicker-bias contrast).
    // B13 — TWAP: int64 time-weighted cent sums (day-bounded, no
    // overflow), B8's half-up integer e4 formula — no double sum.
    // D61 — TW quoted spread: the TWAP holding-interval discipline on
    // exact-cent spreads; both ratios single IEEE divisions of exact
    // int sums, unrounded; single-tick days NULL via nullif.
    Key("q_tw_spread", (s, d) => TickOps.twQuotedSpread(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date, n_ticks,
        |  CAST(_s AS DOUBLE) / CAST(_d AS DOUBLE) AS twq_spread_cents,
        |  CAST(_ss AS DOUBLE) / CAST(n_ticks AS DOUBLE)
        |    AS avg_spread_cents
        |FROM (
        |  SELECT symbol, _date,
        |    CAST(sum(CASE WHEN dur IS NOT NULL THEN sp * dur
        |      ELSE 0 END) AS BIGINT) AS _s,
        |    nullif(CAST(sum(coalesce(dur, 0)) AS BIGINT), 0) AS _d,
        |    CAST(sum(sp) AS BIGINT) AS _ss,
        |    count(*) AS n_ticks
        |  FROM (
        |    SELECT symbol, _date, sp,
        |      lead(us) OVER (PARTITION BY symbol, _date
        |        ORDER BY tick_id) - us AS dur
        |    FROM (
        |      SELECT symbol, CAST(ts AS DATE) AS _date, tick_id,
        |        CAST(round(ask * 100.0, 0) AS BIGINT)
        |          - CAST(round(bid * 100.0, 0) AS BIGINT) AS sp,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM $ticksSql t) p) q
        |  GROUP BY symbol, _date) agg
        |ORDER BY symbol, date""".stripMargin),
    // D19 — Roll implied effective spread from serial covariance.
    // D19 — Roll spread: Δp in exact integer cents, covar_samp
    // rounded to 4, spread DERIVED from the rounded covariance so the
    // sqrt sees bit-identical inputs in both engines (SURVEY §6).
    Key("q_roll_spread", (s, d) => Microstructure.rollSpread(Tables.ticks(s, d)),
      s"""SELECT symbol, n_pairs, cov_cents2,
        |  CASE WHEN cov_cents2 < 0
        |    THEN round(2.0 * sqrt(-cov_cents2), 4) END
        |    AS roll_spread_cents
        |FROM (
        |  SELECT symbol,
        |    round(covar_samp(dp, dp_prev), 4) AS cov_cents2,
        |    count(CASE WHEN dp IS NOT NULL AND dp_prev IS NOT NULL
        |      THEN 1 END) AS n_pairs
        |  FROM (
        |    SELECT symbol, dp,
        |      lag(dp, 1) OVER (PARTITION BY symbol ORDER BY tick_id)
        |        AS dp_prev
        |    FROM (
        |      SELECT symbol, tick_id,
        |        CAST(cents - lag(cents, 1) OVER (PARTITION BY symbol
        |          ORDER BY tick_id) AS DOUBLE) AS dp
        |      FROM (SELECT symbol, tick_id,
        |          CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |        FROM $ticksSql t) c) d) e
        |  GROUP BY symbol) x
        |ORDER BY symbol""".stripMargin),
    // D20 — Amihud illiquidity: avg |log return| per traded dollar.
    // D20 — Amihud: intraday lag in exact cents; the ln/divide/avg
    // chain matches the Spark expression term-for-term; aggregate
    // double → round(4).
    Key("q_amihud", (s, d) => Microstructure.amihud(Tables.events(s, d)),
      """SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  round(avg(impact), 4) AS amihud_e9,
        |  count(impact) AS n_obs
        |FROM (
        |  SELECT symbol, _date,
        |    CASE WHEN prev > 0 AND cents > 0 AND k > 0 THEN
        |      abs(ln(CAST(cents AS DOUBLE) / prev))
        |        / CAST(cents * k AS DOUBLE) * 1e9
        |    END AS impact
        |  FROM (
        |    SELECT user_id AS symbol, CAST(ts AS DATE) AS _date,
        |      CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |      CAST(props->>'$.k' AS INT) AS k,
        |      lag(CAST(round(value * 100.0, 0) AS BIGINT), 1) OVER (
        |        PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY event_id) AS prev
        |    FROM events) y) x
        |GROUP BY symbol, _date
        |ORDER BY symbol, date""".stripMargin),
    // D21 — tick-rule signed order-flow imbalance per symbol-day.
    // D21 — flow imbalance: int64-exact signed-volume sums (CAST AS
    // BIGINT — the r8 HUGEINT lesson), ratio one IEEE division of
    // exact ints, unrounded.
    Key("q_flow_imbalance", (s, d) =>
      Microstructure.flowImbalance(Tables.events(s, d)),
      """SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  buy_qty, sell_qty,
        |  CASE WHEN buy_qty + sell_qty > 0 THEN
        |    CAST(buy_qty - sell_qty AS DOUBLE)
        |      / CAST(buy_qty + sell_qty AS DOUBLE) END AS imbalance,
        |  n_classified
        |FROM (
        |  SELECT symbol, _date,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND cents > prev
        |      THEN k ELSE 0 END) AS BIGINT) AS buy_qty,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND cents < prev
        |      THEN k ELSE 0 END) AS BIGINT) AS sell_qty,
        |    count(prev) AS n_classified
        |  FROM (
        |    SELECT user_id AS symbol, CAST(ts AS DATE) AS _date,
        |      CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |      CAST(props->>'$.k' AS INT) AS k,
        |      lag(CAST(round(value * 100.0, 0) AS BIGINT), 1) OVER (
        |        PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY event_id) AS prev
        |    FROM events) y
        |  GROUP BY symbol, _date) x
        |ORDER BY symbol, date""".stripMargin),
    // D22 — Lo–MacKinlay variance ratio, q=4.
    Key("q_variance_ratio", (s, d) =>
      Microstructure.varianceRatio(Tables.ticks(s, d), 4),
      s"""SELECT symbol, n_obs, var_1, var_q,
        |  CASE WHEN var_1 > 0
        |    THEN round(var_q / (4 * var_1), 4) END AS vr
        |FROM (
        |  SELECT symbol,
        |    round(var_samp(dp1), 4) AS var_1,
        |    round(var_samp(dpq), 4) AS var_q,
        |    count(dpq) AS n_obs
        |  FROM (
        |    SELECT symbol,
        |      CAST(cents - lag(cents, 1) OVER w AS DOUBLE) AS dp1,
        |      CAST(cents - lag(cents, 4) OVER w AS DOUBLE) AS dpq
        |    FROM (SELECT symbol, tick_id,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |      FROM $ticksSql t) c
        |    WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)) d
        |  GROUP BY symbol) x
        |ORDER BY symbol""".stripMargin),
    // D24 — Kyle's lambda: price-impact OLS slope from exact int sums.
    // D24 — Kyle's lambda: all five regression sums CAST AS BIGINT (the
    // r8 HUGEINT rule), slope ONE division of exact ints, unrounded.
    Key("q_kyle_lambda", (s, d) =>
      Microstructure.kyleLambda(Tables.events(s, d)),
      """SELECT symbol, n_obs, sx,
        |  CASE WHEN n_obs * sxx - sx * sx > 0 THEN
        |    CAST(n_obs * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_obs * sxx - sx * sx AS DOUBLE) END AS kyle_lambda
        |FROM (
        |  SELECT symbol,
        |    CAST(sum(sv * dp) AS BIGINT) AS sxy,
        |    CAST(sum(sv) AS BIGINT) AS sx,
        |    CAST(sum(CASE WHEN sv IS NOT NULL THEN dp END) AS BIGINT)
        |      AS sy,
        |    CAST(sum(sv * sv) AS BIGINT) AS sxx,
        |    count(sv) AS n_obs
        |  FROM (
        |    SELECT symbol, cents - prev AS dp,
        |      CASE WHEN cents > prev THEN CAST(k AS BIGINT)
        |           WHEN cents < prev THEN -CAST(k AS BIGINT)
        |           WHEN prev IS NOT NULL THEN 0 END AS sv
        |    FROM (
        |      SELECT user_id AS symbol,
        |        CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |        CAST(props->>'$.k' AS INT) AS k,
        |        lag(CAST(round(value * 100.0, 0) AS BIGINT), 1) OVER (
        |          PARTITION BY user_id, CAST(ts AS DATE)
        |          ORDER BY event_id) AS prev
        |      FROM events) y) z
        |  GROUP BY symbol) agg
        |ORDER BY symbol""".stripMargin),
    // D36 — Lee-Ready: purchases are trades, click/view are quotes
    // (the q_asof_forward split); mid test in doubled int cents.
    // D36 — Lee-Ready: as-of via the union + IGNORE NULLS running
    // last (quotes sort before trades at equal ts); mid test pure
    // int64 in doubled cents; ask spelled exactly as ticksSql.
    Key("q_lee_ready", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"), col("value").as("price"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"),
          (col("value") * 1.0002 + 0.01).as("ask"))
      Microstructure.leeReady(trades, quotes)
    },
      """WITH q AS (
        |  SELECT user_id AS symbol, ts, 0 AS kind, event_id AS id,
        |    CAST(NULL AS BIGINT) AS p,
        |    CAST(round(value * 100.0, 0) AS BIGINT)
        |      + CAST(round((value*1.0002+0.01) * 100.0, 0) AS BIGINT)
        |      AS mid2
        |  FROM events WHERE event_type IN ('click', 'view')),
        |t AS (
        |  SELECT user_id AS symbol, ts, 1 AS kind, event_id AS id,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS p,
        |    CAST(NULL AS BIGINT) AS mid2
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT *, last_value(mid2 IGNORE NULLS) OVER (
        |    PARTITION BY symbol ORDER BY ts, kind, id
        |    ROWS UNBOUNDED PRECEDING) AS q_mid2
        |  FROM (SELECT * FROM q UNION ALL SELECT * FROM t) z),
        |c AS (
        |  SELECT symbol, p, q_mid2,
        |    lag(p) OVER (PARTITION BY symbol ORDER BY ts, id) AS prev_p
        |  FROM u WHERE kind = 1),
        |d AS (
        |  SELECT symbol,
        |    CASE WHEN q_mid2 IS NOT NULL AND p * 2 > q_mid2 THEN 'buy'
        |         WHEN q_mid2 IS NOT NULL AND p * 2 < q_mid2 THEN 'sell'
        |         WHEN prev_p IS NOT NULL AND p > prev_p THEN 'buy'
        |         WHEN prev_p IS NOT NULL AND p < prev_p THEN 'sell'
        |         ELSE 'none' END AS cls,
        |    CASE WHEN q_mid2 IS NOT NULL AND p * 2 <> q_mid2 THEN 'mid'
        |         WHEN prev_p IS NOT NULL AND p <> prev_p THEN 'tick'
        |         ELSE 'none' END AS method
        |  FROM c)
        |SELECT symbol, count(*) AS n_trades,
        |  CAST(sum(CASE WHEN cls = 'buy' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_buy,
        |  CAST(sum(CASE WHEN cls = 'sell' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sell,
        |  CAST(sum(CASE WHEN method = 'mid' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_by_mid,
        |  CAST(sum(CASE WHEN method = 'tick' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_by_tick,
        |  CAST(sum(CASE WHEN cls = 'none' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unclassified
        |FROM d GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D37 — effective spread / price improvement vs prevailing quote.
    Key("q_effective_spread", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"), col("value").as("price"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"),
          (col("value") * 1.0002 + 0.01).as("ask"))
      Microstructure.effectiveSpread(trades, quotes)
    },
      """WITH q AS (
        |  SELECT user_id AS symbol, ts, 0 AS kind, event_id AS id,
        |    CAST(NULL AS BIGINT) AS p,
        |    CAST(round(value * 100.0, 0) AS BIGINT)
        |      + CAST(round((value*1.0002+0.01) * 100.0, 0) AS BIGINT)
        |      AS mid2,
        |    (CAST(round((value*1.0002+0.01) * 100.0, 0) AS BIGINT)
        |      - CAST(round(value * 100.0, 0) AS BIGINT)) * 2 AS spread2
        |  FROM events WHERE event_type IN ('click', 'view')),
        |t AS (
        |  SELECT user_id AS symbol, ts, 1 AS kind, event_id AS id,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS p,
        |    CAST(NULL AS BIGINT) AS mid2, CAST(NULL AS BIGINT) AS spread2
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT *,
        |    last_value(mid2 IGNORE NULLS) OVER w AS q_mid2,
        |    last_value(spread2 IGNORE NULLS) OVER w AS q_spread2
        |  FROM (SELECT * FROM q UNION ALL SELECT * FROM t) z
        |  WINDOW w AS (PARTITION BY symbol ORDER BY ts, kind, id
        |    ROWS UNBOUNDED PRECEDING)),
        |c AS (
        |  SELECT symbol,
        |    CASE WHEN q_mid2 IS NOT NULL THEN abs(p * 2 - q_mid2) END
        |      AS es2,
        |    q_spread2
        |  FROM u WHERE kind = 1)
        |SELECT symbol, count(*) AS n_trades, count(es2) AS n_quoted,
        |  CASE WHEN count(es2) > 0 THEN
        |    CAST((CAST(sum(coalesce(es2, 0)) AS BIGINT) * 100
        |      + count(es2)) // (count(es2) * 2) AS DOUBLE) / 10000.0
        |  END AS avg_eff_spread,
        |  CAST(sum(CASE WHEN es2 < q_spread2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_inside,
        |  CAST(sum(CASE WHEN es2 > q_spread2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outside,
        |  CASE WHEN count(es2) > 0 THEN
        |    CAST(sum(CASE WHEN es2 < q_spread2 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(es2) END AS inside_share
        |FROM c GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D54 — Huang–Stoll decomposition: eff = realized + impact over
    // the same trade/quote derivation as D37, horizon 5 trades.
    // D37 — effective spread: es2 = |2p − mid2| vs spread2 in doubled
    // cents; avg e4 via the half-up integer spelling (Σ·100+n) div 2n.
    // D54 — decomposition: D37's union/carry dual + a lead over the
    // trade frame; exact signed int sums, one division chain to
    // dollars, midpoint trades excluded (sign NULL).
    Key("q_spread_decomp", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("trade_id"), col("value").as("price"))
      val quotes = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("symbol"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("bid"),
          (col("value") * 1.0002 + 0.01).as("ask"))
      Microstructure.spreadDecomposition(trades, quotes, rsHorizon)
    },
      s"""WITH q AS (
        |  SELECT user_id AS symbol, ts, 0 AS kind, event_id AS id,
        |    CAST(NULL AS BIGINT) AS p,
        |    CAST(round(value * 100.0, 0) AS BIGINT)
        |      + CAST(round((value*1.0002+0.01) * 100.0, 0) AS BIGINT)
        |      AS mid2
        |  FROM events WHERE event_type IN ('click', 'view')),
        |t AS (
        |  SELECT user_id AS symbol, ts, 1 AS kind, event_id AS id,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS p,
        |    CAST(NULL AS BIGINT) AS mid2
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT *,
        |    last_value(mid2 IGNORE NULLS) OVER w AS q_mid2
        |  FROM (SELECT * FROM q UNION ALL SELECT * FROM t) z
        |  WINDOW w AS (PARTITION BY symbol ORDER BY ts, kind, id
        |    ROWS UNBOUNDED PRECEDING)),
        |tr AS (
        |  SELECT symbol, p, q_mid2,
        |    lead(q_mid2, $rsHorizon) OVER (PARTITION BY symbol
        |      ORDER BY ts, id) AS mid2_fut
        |  FROM u WHERE kind = 1),
        |c AS (
        |  SELECT symbol, p, q_mid2, mid2_fut,
        |    CASE WHEN p * 2 > q_mid2 THEN 1
        |         WHEN p * 2 < q_mid2 THEN -1 END AS sgn
        |  FROM tr
        |  WHERE q_mid2 IS NOT NULL AND mid2_fut IS NOT NULL),
        |s AS (
        |  SELECT symbol, count(*) AS n_signed,
        |    CAST(sum(sgn * (p * 2 - q_mid2)) AS BIGINT) AS s_eff,
        |    CAST(sum(sgn * (p * 2 - mid2_fut)) AS BIGINT) AS s_real,
        |    CAST(sum(sgn * (mid2_fut - q_mid2)) AS BIGINT) AS s_imp
        |  FROM c WHERE sgn IS NOT NULL GROUP BY symbol)
        |SELECT symbol, n_signed,
        |  CAST(s_eff AS DOUBLE) / n_signed / 2.0 / 10000.0 AS avg_eff,
        |  CAST(s_real AS DOUBLE) / n_signed / 2.0 / 10000.0
        |    AS avg_realized,
        |  CAST(s_imp AS DOUBLE) / n_signed / 2.0 / 10000.0 AS avg_impact
        |FROM s ORDER BY symbol""".stripMargin),
    // D27 — Parkinson + Garman-Klass range volatility per symbol.
    // D27 — daily OHLC in exact cents; elementwise ln on identical
    // inputs; pooled sums round(4); estimator constants as HARD double
    // literals (4·ln2, 2·ln2−1) so neither engine computes its own ln2.
    Key("q_range_vol", (s, d) =>
      Microstructure.rangeVolatility(Tables.ticks(s, d)),
      s"""SELECT symbol, n_days, sum_lhl2, sum_lco2,
        |  round(sum_lhl2 / (CAST(n_days AS DOUBLE) * 2.772588722239781), 4)
        |    AS parkinson_var,
        |  round((0.5 * sum_lhl2 - 0.3862943611198906 * sum_lco2)
        |    / CAST(n_days AS DOUBLE), 4) AS gk_var
        |FROM (
        |  SELECT symbol, count(*) AS n_days,
        |    round(sum(lhl * lhl), 4) AS sum_lhl2,
        |    round(sum(lco * lco), 4) AS sum_lco2
        |  FROM (
        |    SELECT symbol,
        |      ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)) AS lhl,
        |      ln(CAST(c AS DOUBLE) / CAST(o AS DOUBLE)) AS lco
        |    FROM (
        |      SELECT symbol, CAST(ts AS DATE) AS d,
        |        arg_min(cents, tick_id) AS o, max(cents) AS h,
        |        min(cents) AS l, arg_max(cents, tick_id) AS c
        |      FROM (SELECT symbol, tick_id, ts,
        |          CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |        FROM $ticksSql t) c
        |      GROUP BY symbol, CAST(ts AS DATE)) ohlc
        |    WHERE l > 0 AND o > 0) terms
        |  GROUP BY symbol) agg
        |ORDER BY symbol""".stripMargin),
    // D28 — Corwin-Schultz high-low spread per (symbol, day-pair).
    // D22 — variance ratio: Δp in exact cents, var_samp round(4),
    // ratio derived from the ROUNDED variances (D19's rule).
    // D28 — Corwin-Schultz: daily H/L exact cents; beta/gamma ROUNDED
    // (4dp) BEFORE alpha — at the beta=gamma boundary alpha cancels to
    // ±1e-16 with engine-dependent sign, flipping the >=0 gate; from
    // identical rounded inputs the sqrt/exp chain is bit-identical.
    // 3−2√2 as a HARD literal; negative alpha → NULL spread.
    Key("q_cs_spread", (s, d) =>
      Microstructure.corwinSchultz(Tables.ticks(s, d)),
      s"""SELECT symbol, strftime(_date, '%Y-%m-%d') AS date,
        |  beta, gamma, alpha,
        |  CASE WHEN alpha >= 0
        |    THEN 2.0 * (exp(alpha) - 1.0) / (exp(alpha) + 1.0)
        |  END AS cs_spread
        |FROM (
        |  SELECT symbol, _date, beta, gamma,
        |    (sqrt(2.0 * beta) - sqrt(beta)) / 0.1715728752538099
        |      - sqrt(gamma / 0.1715728752538099) AS alpha
        |  FROM (
        |    SELECT symbol, _date,
        |      round(ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
        |        * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
        |      + ln(CAST(h_next AS DOUBLE) / CAST(l_next AS DOUBLE))
        |        * ln(CAST(h_next AS DOUBLE) / CAST(l_next AS DOUBLE)), 4)
        |        AS beta,
        |      round(ln(CAST(greatest(h, h_next) AS DOUBLE)
        |          / CAST(least(l, l_next) AS DOUBLE))
        |      * ln(CAST(greatest(h, h_next) AS DOUBLE)
        |          / CAST(least(l, l_next) AS DOUBLE)), 4) AS gamma
        |    FROM (
        |      SELECT symbol, _date, h, l,
        |        lead(h) OVER w AS h_next, lead(l) OVER w AS l_next
        |      FROM (
        |        SELECT symbol, CAST(ts AS DATE) AS _date,
        |          max(cents) AS h, min(cents) AS l
        |        FROM (SELECT symbol, ts,
        |            CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |          FROM $ticksSql t) c
        |        GROUP BY symbol, CAST(ts AS DATE)
        |        HAVING min(cents) > 0) d
        |      WINDOW w AS (PARTITION BY symbol ORDER BY _date)) p
        |    WHERE h_next IS NOT NULL) g) a
        |ORDER BY symbol, date""".stripMargin),
    // D30 — volume bars: OHLC cut every 500 traded units.
    // D30 — volume bars: running-qty bucket in pure int64 (both
    // engines' integer division truncates toward zero), OHLC in exact
    // cents via arg_min/arg_max, bar edges second-truncated strings.
    Key("q_volume_bars", (s, d) =>
      Microstructure.volumeBars(Tables.events(s, d), barQtyParam),
      s"""SELECT symbol, bar_id,
        |  CAST(sum(k) AS BIGINT) AS bar_qty,
        |  count(*) AS n_ticks,
        |  arg_min(cents, event_id) AS open_cents,
        |  max(cents) AS high_cents,
        |  min(cents) AS low_cents,
        |  arg_max(cents, event_id) AS close_cents,
        |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S')
        |    AS ts_first,
        |  strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S')
        |    AS ts_last
        |FROM (
        |  SELECT symbol, event_id, ts, cents, k,
        |    CAST(greatest(sum(k) OVER (PARTITION BY symbol ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) - 1, 0) // $barQtyParam AS BIGINT) AS bar_id
        |  FROM (
        |    SELECT user_id AS symbol, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |      CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |      coalesce(CAST(props->>'$$.k' AS BIGINT), 0) AS k
        |    FROM events) y) x
        |GROUP BY symbol, bar_id
        |ORDER BY symbol, bar_id""".stripMargin),
    // D31 — VPIN toxicity on the 500-unit volume clock, 3-bucket window.
    // D31 — VPIN: tick-rule sign lags across bucket boundaries; the
    // trailing 3-bucket ratio is two int64 window sums, one IEEE
    // division of exact ints (D21's rule, unrounded).
    Key("q_vpin", (s, d) =>
      Microstructure.vpin(Tables.events(s, d), barQtyParam, vpinWindowBars),
      s"""SELECT symbol, bar_id, buy_qty, sell_qty,
        |  CASE WHEN buy_qty + sell_qty > 0 THEN
        |    CAST(abs(buy_qty - sell_qty) AS DOUBLE)
        |      / CAST(buy_qty + sell_qty AS DOUBLE) END AS toxicity,
        |  CASE WHEN _vol > 0 THEN
        |    CAST(_imb AS DOUBLE) / CAST(_vol AS DOUBLE) END AS vpin,
        |  n_bars_in_window
        |FROM (
        |  SELECT symbol, bar_id, buy_qty, sell_qty,
        |    CAST(sum(abs(buy_qty - sell_qty)) OVER w AS BIGINT) AS _imb,
        |    CAST(sum(buy_qty + sell_qty) OVER w AS BIGINT) AS _vol,
        |    CAST(count(*) OVER w AS BIGINT) AS n_bars_in_window
        |  FROM (
        |    SELECT symbol, bar_id,
        |      CAST(sum(CASE WHEN prev IS NOT NULL AND cents > prev
        |        THEN k ELSE 0 END) AS BIGINT) AS buy_qty,
        |      CAST(sum(CASE WHEN prev IS NOT NULL AND cents < prev
        |        THEN k ELSE 0 END) AS BIGINT) AS sell_qty
        |    FROM (
        |      SELECT symbol, event_id, cents, k,
        |        lag(cents, 1) OVER (PARTITION BY symbol ORDER BY event_id)
        |          AS prev,
        |        CAST(greatest(sum(k) OVER (PARTITION BY symbol
        |          ORDER BY event_id ROWS UNBOUNDED PRECEDING) - 1, 0) // $barQtyParam
        |          AS BIGINT) AS bar_id
        |      FROM (
        |        SELECT user_id AS symbol, event_id,
        |          CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
        |          coalesce(CAST(props->>'$$.k' AS BIGINT), 0) AS k
        |        FROM events) z) y
        |    GROUP BY symbol, bar_id) b
        |  WINDOW w AS (PARTITION BY symbol ORDER BY bar_id
        |    ROWS BETWEEN ${vpinWindowBars - 1} PRECEDING AND CURRENT ROW)) v
        |ORDER BY symbol, bar_id""".stripMargin),
    // D25 — Hurst exponent from the dyadic variance ladder.
    Key("q_hurst", (s, d) =>
      Microstructure.hurstExponent(Tables.ticks(s, d)),
      s"""SELECT symbol, n_obs, var_1, var_8,
        |  CASE WHEN var_1 > 0 AND var_2 > 0 AND var_4 > 0 AND var_8 > 0
        |    THEN round(((-3.0 * ln(var_1) - ln(var_2) + ln(var_4)
        |      + 3.0 * ln(var_8)) / (10.0 * ln(2.0))) / 2.0, 4) + 0.0
        |  END AS hurst
        |FROM (
        |  SELECT symbol,
        |    round(var_samp(d1), 4) AS var_1,
        |    round(var_samp(d2), 4) AS var_2,
        |    round(var_samp(d4), 4) AS var_4,
        |    round(var_samp(d8), 4) AS var_8,
        |    count(d8) AS n_obs
        |  FROM (
        |    SELECT symbol,
        |      CAST(cents - lag(cents, 1) OVER w AS DOUBLE) AS d1,
        |      CAST(cents - lag(cents, 2) OVER w AS DOUBLE) AS d2,
        |      CAST(cents - lag(cents, 4) OVER w AS DOUBLE) AS d4,
        |      CAST(cents - lag(cents, 8) OVER w AS DOUBLE) AS d8
        |    FROM (
        |      SELECT symbol, tick_id,
        |        CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |      FROM $ticksSql t) y
        |    WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)) z
        |  GROUP BY symbol) agg
        |ORDER BY symbol""".stripMargin),
    // D38 — triple-barrier labels: every 25th tick enters, ±8000 bp
    // barriers, 40-tick horizon (all three classes present at every
    // gate SF — probed).
    // D25 — Hurst: lns see ROUNDED variances (identical inputs both
    // engines), slope a fixed linear combination spelled identically.
    // D38 — triple barrier: the oracle spells the RANGE join directly
    // (DuckDB handles it at gate scale); the Spark plan's block-
    // bucketed equi-join is semantically identical. Barriers compare
    // cross-multiplied int64 — no ratio double on either engine.
    Key("q_triple_barrier", (s, d) =>
      Features.tripleBarrier(Tables.ticks(s, d), tbEntryEvery, tbHorizon,
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
        |  GROUP BY 1, 2, 3, 4)
        |SELECT symbol, e_idx, entry_id, e_c, up_idx, dn_idx, n_lookahead,
        |  CASE WHEN up_idx IS NOT NULL AND (dn_idx IS NULL OR up_idx < dn_idx)
        |    THEN 1
        |  WHEN dn_idx IS NOT NULL AND (up_idx IS NULL OR dn_idx < up_idx)
        |    THEN -1
        |  ELSE 0 END AS label
        |FROM j ORDER BY symbol, e_idx""".stripMargin),
    // D70 — label-uniqueness sample weights over D38's entry grid.
    // D70 — label uniqueness: the D38 entry grid's span coverage, per
    // covered tick the exact-int concurrency, per entry the ordered
    // ascending-f_idx fold of the shared `CAST(1 AS DOUBLE)/c`
    // inverses, mean quantized via the sign-split floor spelling.
    // DuckDB side enumerates spans with a plain range join (IEJoin —
    // oracle scale); the Spark side uses D38's bucketize equi-join.
    Key("q_label_uniqueness", (s, d) =>
      Features.labelUniqueness(Tables.ticks(s, d), tbEntryEvery,
        tbHorizon),
      s"""WITH x AS (SELECT user_id AS symbol, event_id AS tick_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS BIGINT) AS idx
        |  FROM events),
        |e AS (SELECT symbol, idx AS e_idx, tick_id AS entry_id
        |  FROM x WHERE idx % $tbEntryEvery = 1 % $tbEntryEvery),
        |cov AS (SELECT e.symbol, e.e_idx, e.entry_id, f.idx AS f_idx
        |  FROM e JOIN x f ON f.symbol = e.symbol
        |    AND f.idx > e.e_idx AND f.idx <= e.e_idx + $tbHorizon),
        |cc AS (SELECT symbol, f_idx, count(*) AS c
        |  FROM cov GROUP BY 1, 2),
        |iv AS (SELECT cov.symbol, cov.e_idx, cov.entry_id, cov.f_idx,
        |    CAST(1 AS DOUBLE) / cc.c AS inv
        |  FROM cov JOIN cc ON cc.symbol = cov.symbol
        |    AND cc.f_idx = cov.f_idx)
        |SELECT symbol, e_idx, entry_id, count(*) AS n_span,
        |  CAST(floor(list_reduce(list_prepend(0.0,
        |      list(inv ORDER BY f_idx)), (a, b) -> a + b)
        |    / count(*) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 + 0.0
        |    AS uniqueness
        |FROM iv GROUP BY 1, 2, 3 ORDER BY symbol, e_idx""".stripMargin),
    // D71 — fixed-width fractional differentiation (FFD features).
    // D71 — fracdiff: driver-computed (1-B)^d weights interpolated as
    // shortest-round-trip literals into BOTH engines; the K-lag
    // combination is one explicit left-associated chain over exact
    // int64 cents; sign-split floor quantization; complete windows
    // only.
    Key("q_frac_diff", (s, d) =>
      Features.fracDiff(Tables.ticks(s, d), fracD, fracK), {
      val ws = Features.fracDiffWeights(fracD, fracK)
      val comb = (1 to fracK).foldLeft(s"${ws(0)} * CAST(c AS DOUBLE)")(
        (acc, i) => s"($acc + ${ws(i)} * CAST(c$i AS DOUBLE))")
      val lags = (1 to fracK).map(i =>
        s"lag(c, $i) OVER (PARTITION BY symbol ORDER BY tick_id) AS c$i")
        .mkString(",\n|    ")
      s"""WITH b AS (SELECT user_id AS symbol, event_id AS tick_id,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS idx
        |  FROM events),
        |l AS (SELECT symbol, tick_id, idx, c,
        |    $lags
        |  FROM b)
        |SELECT symbol, tick_id,
        |  CAST(CASE WHEN ($comb) >= 0
        |    THEN floor(($comb) * 1000000.0 + 0.5)
        |    ELSE -floor(-($comb) * 1000000.0 + 0.5) END AS BIGINT)
        |    / 1000000.0 + 0.0 AS ffd
        |FROM l WHERE idx > $fracK ORDER BY symbol, tick_id""".stripMargin
    }),
    // D72 — combinatorial purged CV: every C(N,2) test-group pair.
    // D72 — CPCV: group bounds FROM the day roster (one aggregate),
    // the C(N,2) combo grid via two ranges, integer-range roles.
    Key("q_combinatorial_cv", (s, d) =>
      Features.combinatorialCv(Tables.ticks(s, d), cpcvGroups, 1),
      s"""WITH d0 AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date
        |    FROM events),
        |nd AS (SELECT count(*) AS n FROM d0),
        |r AS (SELECT date, row_number() OVER (ORDER BY date) AS rn
        |  FROM d0),
        |g AS (SELECT date, rn, ((rn - 1) * $cpcvGroups) // nd.n AS g
        |  FROM r, nd),
        |bd AS (SELECT g, min(rn) AS lo, max(rn) AS hi FROM g GROUP BY 1),
        |cmb AS (SELECT a.a, b.b, a.a * $cpcvGroups + b.b AS combo_id
        |  FROM (SELECT unnest(range($cpcvGroups)) AS a) a,
        |    (SELECT unnest(range($cpcvGroups)) AS b) b
        |  WHERE a.a < b.b),
        |cb AS (SELECT cmb.combo_id, cmb.a, cmb.b, ba.lo AS lo_a,
        |    ba.hi AS hi_a, bb.lo AS lo_b, bb.hi AS hi_b
        |  FROM cmb JOIN bd ba ON ba.g = cmb.a
        |    JOIN bd bb ON bb.g = cmb.b)
        |SELECT cb.combo_id, g.date,
        |  CASE WHEN g.g = cb.a OR g.g = cb.b THEN 'test'
        |    WHEN (g.rn >= cb.lo_a - 1 AND g.rn <= cb.hi_a + 1)
        |      OR (g.rn >= cb.lo_b - 1 AND g.rn <= cb.hi_b + 1)
        |      THEN 'purged'
        |    ELSE 'train' END AS role
        |FROM g, cb ORDER BY combo_id, date""".stripMargin),
    // D73 — vol-adaptive triple barrier: yesterday's realized vol
    // sets today's profit-take/stop distance per symbol.
    // D73 — vol-adaptive barriers: exact-int day rv, one correctly-
    // rounded sqrt + floor(+0.5) into int64 CENTS (the compare stays
    // pure integer), D38's lookahead shape; first days drop.
    Key("q_vol_barrier", (s, d) =>
      Features.volAdaptiveBarrier(Tables.ticks(s, d), tbEntryEvery,
        tbHorizon, 2),
      s"""WITH x AS (SELECT user_id AS symbol, event_id AS tick_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS BIGINT) AS idx
        |  FROM events),
        |dd AS (SELECT *, c - lag(c) OVER (PARTITION BY symbol, day
        |    ORDER BY tick_id) AS dd FROM x),
        |rv AS (SELECT symbol, day, CAST(sum(dd * dd) AS BIGINT) AS rv
        |  FROM dd GROUP BY 1, 2),
        |rp AS (SELECT symbol, day, lag(rv) OVER (PARTITION BY symbol
        |    ORDER BY day) AS rv_prev FROM rv),
        |bcs AS (SELECT symbol, day, greatest(1, CAST(floor(
        |    2 * sqrt(CAST(rv_prev AS DOUBLE)) + 0.5) AS BIGINT)) AS bc
        |  FROM rp WHERE rv_prev IS NOT NULL),
        |e AS (SELECT x.symbol, x.idx AS e_idx, x.tick_id AS entry_id,
        |    x.c AS e_c, bcs.bc
        |  FROM x JOIN bcs ON bcs.symbol = x.symbol AND bcs.day = x.day
        |  WHERE x.idx % $tbEntryEvery = 1 % $tbEntryEvery),
        |j AS (SELECT e.symbol, e.e_idx, e.entry_id, e.e_c, e.bc,
        |    min(CASE WHEN f.c >= e.e_c + e.bc THEN f.idx END) AS up_idx,
        |    min(CASE WHEN f.c <= e.e_c - e.bc THEN f.idx END) AS dn_idx,
        |    count(*) AS n_lookahead
        |  FROM e JOIN x f ON f.symbol = e.symbol
        |    AND f.idx > e.e_idx AND f.idx <= e.e_idx + $tbHorizon
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT symbol, e_idx, entry_id, e_c, bc, up_idx, dn_idx,
        |  n_lookahead,
        |  CASE WHEN up_idx IS NOT NULL
        |      AND (dn_idx IS NULL OR up_idx < dn_idx) THEN 1
        |    WHEN dn_idx IS NOT NULL
        |      AND (up_idx IS NULL OR dn_idx < up_idx) THEN -1
        |    ELSE 0 END AS label
        |FROM j ORDER BY symbol, e_idx""".stripMargin),
    // D74 — PSI feature drift between the chrono train/test slices.
    // D74 — PSI drift: integer buckets off the exact train range,
    // +1 smoothing in int space, ONE ln per bucket over a ratio of
    // exact int64 products, ascending-bucket ordered fold, sign-split
    // quantization. Single-row output (ORDER BY vacuous).
    Key("q_psi_drift", (s, d) =>
      Features.psiDrift(Tables.ticks(s, d), psiBuckets),
      s"""WITH dd AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date
        |    FROM events),
        |rk AS (SELECT date, row_number() OVER (ORDER BY date) AS rn,
        |    (SELECT count(*) FROM dd) AS n FROM dd),
        |sp AS (SELECT date, CASE WHEN rn <= floor(n * 0.6) THEN 'train'
        |    WHEN rn <= floor(n * 0.6) + floor(n * 0.2) THEN 'val'
        |    ELSE 'test' END AS split FROM rk),
        |x AS (SELECT sp.split,
        |    CAST(round(e.value * 100.0, 0) AS BIGINT) AS c
        |  FROM events e JOIN sp ON sp.date = strftime(e.ts, '%Y-%m-%d')
        |  WHERE sp.split <> 'val'),
        |r AS (SELECT min(c) AS mn, max(c) AS mx FROM x
        |  WHERE split = 'train'),
        |h AS (SELECT CAST(least(${psiBuckets - 1}, greatest(0,
        |      ((c - mn) * $psiBuckets) // (mx - mn + 1))) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tr,
        |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS te
        |  FROM x, r GROUP BY 1),
        |f AS (SELECT i.b, coalesce(h.tr, 0) AS tr, coalesce(h.te, 0) AS te
        |  FROM (SELECT unnest(range($psiBuckets)) AS b) i
        |  LEFT JOIN h ON h.b = i.b),
        |t AS (SELECT CAST(sum(tr) AS BIGINT) AS n_tr,
        |    CAST(sum(te) AS BIGINT) AS n_te FROM f),
        |cb AS (SELECT f.b, n_tr, n_te,
        |    (CAST(tr + 1 AS DOUBLE) / (n_tr + $psiBuckets)
        |      - CAST(te + 1 AS DOUBLE) / (n_te + $psiBuckets))
        |    * ln(CAST((tr + 1) * (n_te + $psiBuckets) AS DOUBLE)
        |      / CAST((te + 1) * (n_tr + $psiBuckets) AS DOUBLE)) AS contrib
        |  FROM f, t)
        |SELECT CAST($psiBuckets AS BIGINT) AS n_buckets, n_tr AS n_train,
        |  n_te AS n_test,
        |  CAST(CASE WHEN s0 >= 0 THEN floor(s0 * 1000000.0 + 0.5)
        |    ELSE -floor(-s0 * 1000000.0 + 0.5) END AS BIGINT)
        |    / 1000000.0 + 0.0 AS psi
        |FROM (SELECT n_tr, n_te, list_reduce(list_prepend(0.0,
        |    list(contrib ORDER BY b)), (a, y) -> a + y) AS s0
        |  FROM cb GROUP BY n_tr, n_te) z""".stripMargin),
    // D39 — realized skewness / excess kurtosis per (symbol, day).
    // D39 — realized moments: unrounded avg moments (corr-aggregate
    // discipline — raw power sums pass 2^53 where rounding is
    // meaningless), scale-invariant finals round(4); var^1.5 spelled
    // var*sqrt(var) on both engines (pow is not correctly rounded).
    Key("q_realized_moments", (s, d) =>
      Microstructure.realizedMoments(Tables.ticks(s, d)),
      s"""WITH d AS (
        |  SELECT symbol, _date,
        |    CAST(c - lag(c) OVER (PARTITION BY symbol, _date
        |      ORDER BY tick_id) AS DOUBLE) AS d
        |  FROM (SELECT symbol, tick_id, CAST(ts AS DATE) AS _date,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS c FROM $ticksSql t) x),
        |a AS (
        |  SELECT symbol, _date, count(d) AS n_moves,
        |    avg(d) AS m1, avg(d * d) AS m2, avg(d * d * d) AS m3,
        |    avg(d * d * d * d) AS m4
        |  FROM d GROUP BY 1, 2),
        |v AS (SELECT *, m2 - m1 * m1 AS _var FROM a)
        |SELECT symbol, strftime(_date, '%Y-%m-%d') AS date, n_moves,
        |  round(_var, 4) AS variance,
        |  CASE WHEN _var > 0 THEN
        |    round((m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
        |      / (_var * sqrt(_var)), 4) END AS skewness,
        |  CASE WHEN _var > 0 THEN
        |    round((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
        |      - 3.0 * m1 * m1 * m1 * m1) / (_var * _var) - 3.0, 4)
        |  END AS ex_kurtosis
        |FROM v ORDER BY symbol, date""".stripMargin),
    // D23 — intraday seasonality: |move| by minute of day.
    // D23 — intraday profile: within-day lag in exact cents, pooled
    // mean round(4); minute-of-day via hour·60+minute in both engines.
    Key("q_intraday_profile", (s, d) =>
      Microstructure.intradayProfile(Tables.ticks(s, d)),
      s"""SELECT hour(ts) * 60 + minute(ts) AS minute_od,
        |  count(*) AS n_ticks,
        |  round(avg(mv), 4) AS avg_abs_move_cents
        |FROM (
        |  SELECT ts, CAST(abs(cents - lag(cents, 1) OVER (
        |      PARTITION BY symbol, CAST(ts AS DATE) ORDER BY tick_id))
        |    AS DOUBLE) AS mv
        |  FROM (SELECT symbol, tick_id, ts,
        |      CAST(round(bid * 100.0, 0) AS BIGINT) AS cents
        |    FROM $ticksSql t) c) d
        |GROUP BY hour(ts) * 60 + minute(ts)
        |ORDER BY minute_od""".stripMargin),
    // D33 — Hayashi-Yoshida async covariance, hourly overlap buckets.
    // D33 — HY: exact cent-delta products summed int64; overlap pairs
    // counted once in the bucket of the overlap START (integer div on
    // both engines); hy_corr IEEE sqrt/mul/div on identical exact ints.
    Key("q_hy_cov", (s, d) =>
      TemporalJoins.hayashiYoshida(Tables.ticks(s, d),
        symPairs, hyBucketSec),
      s"""WITH rets AS (
        |  SELECT symbol, cents - prev_c AS r, prev_us AS t0, us AS t1
        |  FROM (
        |    SELECT symbol, tick_id,
        |      CAST(round(bid * 100.0, 0) AS BIGINT) AS cents,
        |      epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |      lag(CAST(round(bid * 100.0, 0) AS BIGINT)) OVER w AS prev_c,
        |      lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
        |    FROM $ticksSql t
        |    WINDOW w AS (PARTITION BY symbol ORDER BY tick_id)) x
        |  WHERE prev_c IS NOT NULL),
        |pairs AS (SELECT * FROM (VALUES $symPairsSql)
        |  AS p(sym_a, sym_b)),
        |ex AS (SELECT symbol, r, t0, t1, CAST(g.g AS BIGINT) AS bucket
        |  FROM rets, unnest(generate_series(t0 // ${hyBucketSec * 1000000L},
        |    t1 // ${hyBucketSec * 1000000L})) AS g(g)),
        |cov AS (
        |  SELECT p.sym_a, p.sym_b, count(*) AS n_overlaps,
        |    CAST(sum(a.r * b.r) AS BIGINT) AS hy_cov_cc2
        |  FROM pairs p
        |  JOIN ex a ON a.symbol = p.sym_a
        |  JOIN ex b ON b.symbol = p.sym_b AND b.bucket = a.bucket
        |  WHERE a.t0 < b.t1 AND b.t0 < a.t1
        |    AND greatest(a.t0, b.t0) // ${hyBucketSec * 1000000L} = a.bucket
        |  GROUP BY p.sym_a, p.sym_b),
        |vars AS (SELECT symbol, CAST(sum(r * r) AS BIGINT) AS v
        |  FROM rets GROUP BY symbol)
        |SELECT sym_a, sym_b, n_overlaps, hy_cov_cc2,
        |  va.v AS var_a_cc2, vb.v AS var_b_cc2,
        |  CASE WHEN va.v > 0 AND vb.v > 0 THEN
        |    CAST(hy_cov_cc2 AS DOUBLE)
        |      / (sqrt(CAST(va.v AS DOUBLE)) * sqrt(CAST(vb.v AS DOUBLE)))
        |  END AS hy_corr
        |FROM cov
        |JOIN vars va ON va.symbol = cov.sym_a
        |JOIN vars vb ON vb.symbol = cov.sym_b
        |ORDER BY sym_a, sym_b""".stripMargin),
    // D35 — Epps curve: grid corr swept over 1min/10min/1h/1day.
    // D35 — Epps curve: per-scale anchors via arg_min, moves exact
    // cents, bucket ids integer div (no double quotient), corr
    // round(4), <2-point pair-scales NULL.
    Key("q_epps_curve", (s, d) =>
      TemporalJoins.eppsCurve(Tables.ticks(s, d),
        symPairs, eppsScales),
      s"""WITH scales AS (SELECT CAST(s.scale_sec AS BIGINT) AS scale_sec
        |  FROM (VALUES $eppsScalesSql) AS s(scale_sec)),
        |t AS (SELECT symbol, tick_id,
        |    CAST(round(bid * 100.0, 0) AS BIGINT) AS cents,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM $ticksSql tk),
        |anchors AS (
        |  SELECT symbol, scale_sec,
        |    us // (scale_sec * 1000000) AS bucket,
        |    arg_min(cents, tick_id) AS a_cents
        |  FROM t, scales
        |  GROUP BY symbol, scale_sec, us // (scale_sec * 1000000)),
        |moves AS (
        |  SELECT symbol, scale_sec, bucket,
        |    CAST(a_cents - lag(a_cents) OVER (
        |      PARTITION BY symbol, scale_sec ORDER BY bucket)
        |      AS DOUBLE) AS mv
        |  FROM anchors),
        |m AS (SELECT * FROM moves WHERE mv IS NOT NULL),
        |pairs AS (SELECT * FROM (VALUES $symPairsSql)
        |  AS p(sym_a, sym_b))
        |SELECT p.sym_a, p.sym_b, a.scale_sec,
        |  count(*) AS n_buckets,
        |  round(CASE WHEN stddev_samp(a.mv) > 0 AND stddev_samp(b.mv) > 0
        |    THEN covar_samp(a.mv, b.mv)
        |      / (stddev_samp(a.mv) * stddev_samp(b.mv)) END, 4)
        |    AS grid_corr
        |FROM pairs p
        |JOIN m a ON a.symbol = p.sym_a
        |JOIN m b ON b.symbol = p.sym_b AND b.scale_sec = a.scale_sec
        |  AND b.bucket = a.bucket
        |GROUP BY p.sym_a, p.sym_b, a.scale_sec
        |ORDER BY sym_a, sym_b, a.scale_sec""".stripMargin),
    // D29 — trailing 5-day rolling correlation per symbol pair.
    // D29 — rolling corr over a ROWS frame on the shared daily grid;
    // moves exact cents, corr round(4), <2-point windows NULL.
    Key("q_rolling_corr", (s, d) =>
      TemporalJoins.rollingPairCorr(Tables.ticks(s, d),
        symPairs, rollCorrDays),
      s"""WITH grid AS (
        |  SELECT symbol, CAST(ts AS DATE) AS d,
        |    arg_min(CAST(round(bid * 100.0, 0) AS BIGINT), tick_id)
        |      AS cents
        |  FROM $ticksSql t GROUP BY symbol, CAST(ts AS DATE)),
        |rets AS (
        |  SELECT symbol, d,
        |    CAST(cents - lag(cents) OVER (PARTITION BY symbol ORDER BY d)
        |      AS DOUBLE) AS mv
        |  FROM grid),
        |r AS (SELECT * FROM rets WHERE mv IS NOT NULL),
        |pairs AS (SELECT * FROM (VALUES $symPairsSql)
        |  AS p(sym_a, sym_b)),
        |al AS (
        |  SELECT p.sym_a, p.sym_b, a.d, a.mv AS d_a, b.mv AS d_b
        |  FROM pairs p
        |  JOIN r a ON a.symbol = p.sym_a
        |  JOIN r b ON b.symbol = p.sym_b AND b.d = a.d)
        |SELECT sym_a, sym_b, strftime(d, '%Y-%m-%d') AS date,
        |  round(corr(d_a, d_b) OVER w, 4) AS roll_corr,
        |  CAST(count(*) OVER w AS BIGINT) AS n_in_window
        |FROM al
        |WINDOW w AS (PARTITION BY sym_a, sym_b ORDER BY d
        |  ROWS BETWEEN ${rollCorrDays - 1} PRECEDING AND CURRENT ROW)
        |ORDER BY sym_a, sym_b, date""".stripMargin),
    Key("q_group_percentile", (s, d) =>
      Features.groupPercentiles(Tables.ticks(s, d), Seq(0.5, 0.9)),
      s"""SELECT symbol, round(quantile_cont(ask - bid, 0.5), 4) AS p0,
        |  round(quantile_cont(ask - bid, 0.9), 4) AS p1,
        |  count(*) AS n
        |FROM $ticksSql t GROUP BY symbol ORDER BY symbol""".stripMargin),
    // D86 — GARCH(1,1) day-close conditional-variance filter state.
    // D86 — the GARCH(1,1) filter fold per (symbol, day): same
    // lambda, same left-to-right order as the Spark aggregate; the
    // transform maps each move to the as-if-first state so
    // list_reduce's first-element init IS the batch init (same field
    // order as every fold oracle: readers of acc.h before its
    // writer — the struct fields evaluate sequentially in-place in
    // this DuckDB).
    Key("q_garch", (s, d) => graft.operators.Microstructure
      .garchFilter(Tables.ticks(s, d), garchOmega, garchAlpha,
        garchBeta),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs
        |  FROM $ticksSql t GROUP BY 1, 2),
        |m AS (SELECT symbol, date,
        |    list_transform(range(2, len(cs) + 1),
        |      k -> CAST(cs[k] - cs[k - 1] AS DOUBLE)) AS mv
        |  FROM g WHERE len(cs) >= 2),
        |f AS (SELECT symbol, date, len(mv) AS n_moves,
        |    ${garchFoldSql("mv")} AS st
        |  FROM m)
        |SELECT symbol, date, CAST(n_moves AS BIGINT) AS n_moves,
        |  st.h AS h_close, sqrt(st.h) AS sigma_close,
        |  st.hmax AS h_max, st.breach AS n_breach
        |FROM f ORDER BY symbol, date""".stripMargin),
    // D87 — Kalman local-level day-close filter state.
    // D87 — the Kalman local-level fold per (symbol, day), same
    // discipline.
    Key("q_kalman", (s, d) => graft.operators.Microstructure
      .kalmanFilter(Tables.ticks(s, d), kalmanQ, kalmanR),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(CAST(round(bid * 100.0, 0) AS BIGINT) AS DOUBLE)
        |      ORDER BY tick_id) AS zs
        |  FROM $ticksSql t GROUP BY 1, 2)
        |SELECT symbol, date, CAST(len(zs) AS BIGINT) AS n_ticks,
        |  st.x AS x_close, st.p AS p_close, st.imax AS innov_max
        |FROM (SELECT symbol, date, zs, ${kalmanFoldSql("zs")} AS st
        |  FROM g) f
        |ORDER BY symbol, date""".stripMargin),
    // D88 — fixed-width fractional differencing per symbol.
    // D88 — the FFD dot product: the SAME Scala-computed weights
    // interpolated as round-trip literals, one fixed left-assoc
    // chain over the K-lag window; warm-up rows (no full window)
    // excluded on both sides.
    Key("q_fracdiff", (s, d) => graft.operators.Microstructure
      .fracDiff(Tables.ticks(s, d), ffdD, ffdK),
      fracDiffOracleSql),
    // D89 — symmetric CUSUM event filter per (symbol, day).
    // D89 — the CUSUM day-close fold per (symbol, day): the shared
    // branchless fragment over the whole move list.
    Key("q_cusum", (s, d) => graft.operators.Microstructure
      .cusumFilter(Tables.ticks(s, d), cusumH),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs
        |  FROM $ticksSql t GROUP BY 1, 2),
        |m AS (SELECT symbol, date,
        |    list_transform(range(2, len(cs) + 1),
        |      k -> cs[k] - cs[k - 1]) AS mv
        |  FROM g WHERE len(cs) >= 2),
        |f AS (SELECT symbol, date, len(mv) AS n_moves,
        |    ${cusumFoldSql("mv")} AS st
        |  FROM m)
        |SELECT symbol, date, CAST(n_moves AS BIGINT) AS n_moves,
        |  st.nev AS n_events, CAST(st.sp AS BIGINT) AS s_pos_close,
        |  CAST(st.sn AS BIGINT) AS s_neg_close
        |FROM f ORDER BY symbol, date""".stripMargin),
    // D90 — two-state regime filter day-close posterior state.
    // D90 — the two-state forward-filter fold per (symbol, day):
    // same rational lambda, same left-to-right order as the Spark
    // aggregate (p_H ≡ 1 − p_L spelled identically in both engines).
    Key("q_hmm_regime", (s, d) => graft.operators.Microstructure
      .hmmFilter(Tables.ticks(s, d), hmmParams),
      s"""WITH g AS (SELECT symbol,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs
        |  FROM $ticksSql t GROUP BY 1, 2),
        |m AS (SELECT symbol, date,
        |    list_transform(range(2, len(cs) + 1),
        |      k -> CAST(cs[k] - cs[k - 1] AS DOUBLE)) AS mv
        |  FROM g WHERE len(cs) >= 2),
        |f AS (SELECT symbol, date, len(mv) AS n_moves,
        |    ${hmmFoldSql("mv")} AS st
        |  FROM m)
        |SELECT symbol, date, CAST(n_moves AS BIGINT) AS n_moves,
        |  1.0 - st.pl AS p_high_close, st.pmax AS p_high_max,
        |  st.nhi AS n_high
        |FROM f ORDER BY symbol, date""".stripMargin),
    // D91 — cross-symbol market-mode PCA over daily cent returns.
    // D91 — the factor-model oracle: deterministic roster + exact
    // int64 daily-return gram/sums, covariance cells through the
    // identical double expression, then the SHARED unrolled power
    // cascade (one spelling per engine — powerCascadeBlocks is the
    // SQL twin of Vectors.powerIterate).
    Key("q_factor_pca", (s, d) => graft.operators.Microstructure
      .factorPca(Tables.ticks(s, d), factorSyms, factorComps,
        factorIters), {
      val dim = factorSyms
      val finals = (0 until factorComps).map { m =>
        s"SELECT CAST($m AS BIGINT) AS comp, pos.p AS pos, " +
          "pos.symbol AS symbol, " +
          "round(v[CAST(pos.p + 1 AS INT)], 6) + 0.0 AS loading, " +
          "round(lam, 6) + 0.0 AS eigenvalue, " +
          "round(lam / tr, 6) + 0.0 AS explained_share " +
          s"FROM p${m}e, trace, pos"
      }
      s"WITH $factorCascadeSql\nSELECT * FROM (" +
        finals.mkString(" UNION ALL ") + ") u ORDER BY comp, pos"
    }),
    // D92 — per-symbol variance decomposition off the same factor fit.
    // D92 — the residual-decomposition oracle: the SAME head +
    // cascade, read per symbol — variance = the C0 diagonal,
    // explained = the fixed left-assoc Σ λ·v² chain from a 0.0 seed
    // (the Scala fold's exact order), residual from the UNROUNDED
    // share; signed-zero guards on every round (shares and loadings
    // straddle zero).
    Key("q_factor_resid", (s, d) => graft.operators.Microstructure
      .factorResiduals(Tables.ticks(s, d), factorSyms, factorComps,
        factorIters), {
      val explSum = "0.0 + " + (0 until factorComps).map { m =>
        s"t$m.lam * t$m.v[CAST(pos.p + 1 AS INT)] " +
          s"* t$m.v[CAST(pos.p + 1 AS INT)]"
      }.mkString(" + ")
      val varCell =
        "cm0.c[CAST(pos.p + 1 AS INT)][CAST(pos.p + 1 AS INT)]"
      val froms = (0 until factorComps).map(m => s"p${m}e t$m")
        .mkString(", ")
      s"""WITH $factorCascadeSql
        |SELECT pos.p AS pos, pos.symbol AS symbol,
        |  round($varCell, 6) + 0.0 AS variance,
        |  round(t0.v[CAST(pos.p + 1 AS INT)], 6) + 0.0 AS mode_loading,
        |  round(($explSum) / $varCell, 6) + 0.0 AS factor_share,
        |  round(1.0 - ($explSum) / $varCell, 6) + 0.0 AS resid_share
        |FROM cm0, $froms, pos
        |ORDER BY pos""".stripMargin
    }),
    // D93 — RiskMetrics-λ grid: EWMA daily-vol forecast MSE/symbol.
    // D93 — the λ-grid oracle: exact int64 daily rv, the same
    // sequential fold per λ in day order (1−λ Scala-interpolated, the
    // D86 DECIMAL lesson), one UNION ALL branch per grid point over
    // the shared day-list CTE.
    Key("q_ewma_vol_grid", (s, d) => graft.operators.Microstructure
      .ewmaVolGrid(Tables.ticks(s, d), ewmaVolLambdas), {
      val branches = ewmaVolLambdas.map { l =>
        val oneMinus = 1.0 - l
        s"""SELECT symbol, CAST($l AS DOUBLE) AS lambda,
          |  CAST(len(rvs) AS BIGINT) AS n_days,
          |  st.err / CAST(len(rvs) - 1 AS DOUBLE) AS mse,
          |  st.f AS f_next
          |FROM (SELECT symbol, rvs,
          |    list_reduce(list_transform(rvs, v -> {
          |        err: CAST(0.0 AS DOUBLE), f: v, rv: v}),
          |      (acc, e) -> {
          |        err: acc.err + (acc.f - e.rv) * (acc.f - e.rv),
          |        f: $l * acc.f + $oneMinus * e.rv,
          |        rv: e.rv}) AS st
          |  FROM l) z""".stripMargin
      }
      s"""WITH g AS (SELECT symbol, CAST(ts AS DATE) AS d,
        |    list(CAST(round(bid * 100.0, 0) AS BIGINT)
        |      ORDER BY tick_id) AS cs
        |  FROM $ticksSql t GROUP BY 1, 2),
        |r AS (SELECT symbol, d,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(2, len(cs) + 1),
        |        k -> cs[k] - cs[k - 1])),
        |      (a, m) -> a + m * m) AS rv
        |  FROM g WHERE len(cs) >= 2),
        |l AS (SELECT symbol,
        |    list(CAST(rv AS DOUBLE) ORDER BY d) AS rvs
        |  FROM r GROUP BY symbol HAVING count(*) >= 2)
        |SELECT * FROM (${branches.mkString(" UNION ALL ")}) u
        |ORDER BY symbol, lambda""".stripMargin
    }),
  )
}
