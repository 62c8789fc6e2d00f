package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables
import graft.operators._
import graft.registry._

/** Driver contract: `queries` (key → Spark builder over
  * `(session, sfDir)`) and `oracleSql` (key → DuckDB SQL over the same
  * tables), views built once per JVM from the `Key` records of the
  * SURVEY §2 family objects in `graft.registry`. Column names are
  * aliased identically in the Spark plan and the DuckDB oracle SQL
  * (driver hash-compares by sorted column name); floating aggregates
  * round(·,4); result ordering explicit.
  *
  * Besides the views and `entry`, this object holds only the
  * parameters specs and `Fixtures` read and the oracle helpers and
  * parameters two or more families share; one family's own live in
  * its object.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Analytics.pricingSummary(Tables.lineitem(spark, d), "1998-09-02 00:00:00")
  }

  /** Tick view over events — same derivation as Tables.ticks (SURVEY §3). */
  val ticksSql: String =
    "(SELECT event_id AS tick_id, user_id AS symbol, ts, value AS bid, value*1.0002+0.01 AS ask FROM events)"

  // Shared registry↔oracle parameters: each constant is spelled ONCE
  // and interpolated into both the operator call and its oracle SQL,
  // so editing a registry argument cannot silently diverge from the
  // oracle literal (same discipline ticksSql applies to the ask
  // formula).
  val symPairs: Seq[(Long, Long)] = Seq((1L, 2L), (2L, 3L), (1L, 3L))
  val barQtyParam = 500L        // D30/D31 volume-bar size
  val spikeBp = 5000L           // B12 spike threshold (basis points)
  val tbEntryEvery = 25         // D38 entry sampling stride
  val tcaFillEvery = 20         // D50 fill sampling stride
  val tbHorizon = 40            // D38/D58 lookahead ticks
  val tbBarrierBp = 8000L       // D38 symmetric barrier (basis points)
  val velocityDays = 90         // E17 trailing-interval window (days)
  val coverageWindowDays = 30   // E18 activity-interval length (days)
  val respLags: Seq[Int] = Seq(1, 5, 10) // D45 response-function lags
  /** D88/G47 shared oracle: the FFD dot product — Scala-computed
    * weights as round-trip literals, one fixed left-assoc chain over
    * the K-lag symbol window; warm-up rows excluded. The G47 stream's
    * sink equals this frame row for row (parity spec'd). */
  private[graft] def fracDiffOracleSql: String = {
    val weights = Microstructure.ffdWeights(ffdD, ffdK)
    val lags = (1 to ffdK).map(i =>
      s"lag(c0, $i) OVER win AS c$i").mkString(",\n      |    ")
    val dot = weights.zipWithIndex
      .map { case (wk, i) => s"CAST($wk AS DOUBLE) * c$i" }
      .mkString("\n      |  + ")
    s"""WITH b AS (SELECT tick_id, symbol,
      |    CAST(CAST(round(bid * 100.0, 0) AS BIGINT) AS DOUBLE)
      |      AS c0
      |  FROM $ticksSql t),
      |l AS (SELECT tick_id, symbol, c0,
      |    $lags
      |  FROM b
      |  WINDOW win AS (PARTITION BY symbol ORDER BY tick_id))
      |SELECT tick_id, symbol,
      |  $dot AS ffd
      |FROM l WHERE c$ffdK IS NOT NULL
      |ORDER BY tick_id""".stripMargin
  }

  /** D89/G46 shared oracle fragment: the branchless CUSUM fold over
    * a move list — pure int64 algebra (clamp via greatest/least,
    * reset via ×(1 − breach flag)); an acc-conditional CASE inside a
    * list_reduce lambda mis-evaluates final iterations under this
    * DuckDB's vectorized execution (probed), so the lambda stays
    * condition-free. Elements carry the raw move in `m`; their state
    * fields are the as-if-first fold state so the first element IS
    * the init. */
  private[graft] def cusumFoldSql(mv: String): String = {
    val z = "CAST(0 AS BIGINT)"
    val spNew = s"greatest($z, acc.sp + e.m)"
    val snNew = s"least($z, acc.sn + e.m)"
    s"""list_reduce(list_transform($mv, v -> {
      |        nev: CAST(greatest($z, v) > $cusumH AS BIGINT)
      |          + CAST(least($z, v) < -$cusumH AS BIGINT),
      |        sp: greatest($z, v)
      |          * (1 - CAST(greatest($z, v) > $cusumH AS BIGINT)),
      |        sn: least($z, v)
      |          * (1 - CAST(least($z, v) < -$cusumH AS BIGINT)),
      |        m: v}),
      |      (acc, e) -> {
      |        nev: acc.nev + CAST($spNew > $cusumH AS BIGINT)
      |          + CAST($snNew < -$cusumH AS BIGINT),
      |        sp: $spNew
      |          * (1 - CAST($spNew > $cusumH AS BIGINT)),
      |        sn: $snNew
      |          * (1 - CAST($snNew < -$cusumH AS BIGINT)),
      |        m: e.m})""".stripMargin
  }

  /** D86/G44 shared oracle fragment: the GARCH(1,1) left fold over a
    * move list `mv` — list_reduce with the batch aggregate's exact
    * lambda. Field order is load-bearing (this DuckDB evaluates
    * result-struct fields sequentially in-place): every reader of
    * acc.h/acc.prev is declared before their writers. */
  private[graft] def garchFoldSql(mv: String): String = {
    // Scala-computed seed interpolated as its round-trip literal —
    // spelled as SQL arithmetic it would parse as exact DECIMAL and
    // sit 1 ulp off the streaming twin's binary value
    val seed =
      s"CAST(${garchOmega / (1.0 - garchAlpha - garchBeta)} AS DOUBLE)"
    val hNew =
      s"($garchOmega + $garchAlpha * acc.prev * acc.prev" +
        s" + $garchBeta * acc.h)"
    s"""list_reduce(list_transform($mv,
      |      v -> {hmax: $seed,
      |            breach: CAST(CASE WHEN v * v > 4.0 * $seed
      |              THEN 1 ELSE 0 END AS BIGINT),
      |            h: $seed, prev: v}),
      |    (acc, e) -> {
      |      hmax: greatest(acc.hmax, $hNew),
      |      breach: acc.breach + CASE WHEN e.prev * e.prev
      |          > 4.0 * $hNew THEN 1 ELSE 0 END,
      |      h: $hNew,
      |      prev: e.prev})""".stripMargin
  }

  /** D87/G45 shared oracle fragment: the Kalman local-level fold
    * over an observation list `zs` — same field-order discipline
    * (imax reads acc.x before x writes it; x reads acc.p before p
    * writes it). */
  private[graft] def kalmanFoldSql(zs: String): String = {
    val kGain = s"((acc.p + $kalmanQ) / ((acc.p + $kalmanQ) + $kalmanR))"
    s"""list_reduce(list_transform($zs,
      |      v -> {imax: CAST(0.0 AS DOUBLE), x: v,
      |            p: CAST($kalmanR AS DOUBLE)}),
      |    (acc, e) -> {
      |      imax: greatest(acc.imax, abs(e.x - acc.x)),
      |      x: acc.x + $kGain * (e.x - acc.x),
      |      p: (1.0 - $kGain) * (acc.p + $kalmanQ)})""".stripMargin
  }

  /** D90/G48 shared oracle fragment: the two-state forward-filter
    * fold over a move list `mv` — the normalized HMM posterior as
    * ONE scalar (p_L; p_H ≡ 1 − p_L spelled identically everywhere).
    * Rational Cauchy-kernel emissions keep every step +/·// on
    * doubles (no exp — libm-free, bit-identical across engines).
    * Field order is load-bearing (sequential in-place struct
    * evaluation): nhi/pmax read acc.pl before pl writes it; the
    * element's raw move rides in `m`. */
  private[graft] def hmmFoldSql(mv: String): String = {
    val hp = hmmParams
    import hp._
    def eL(m: String) = s"($gL / ($gL2 + $m * $m))"
    def eH(m: String) = s"($gH / ($gH2 + $m * $m))"
    val uL0 = s"($piL * ${eL("v")})"
    val uH0 = s"($piH * ${eH("v")})"
    val pl0 = s"($uL0 / ($uL0 + $uH0))"
    val uL =
      s"(${eL("e.m")} * ($stayL * acc.pl + $toL * (1.0 - acc.pl)))"
    val uH =
      s"(${eH("e.m")} * ($toH * acc.pl + $stayH * (1.0 - acc.pl)))"
    val plN = s"($uL / ($uL + $uH))"
    s"""list_reduce(list_transform($mv, v -> {
      |        nhi: CAST((1.0 - $pl0) > 0.5 AS BIGINT),
      |        pmax: (1.0 - $pl0),
      |        pl: $pl0,
      |        m: v}),
      |      (acc, e) -> {
      |        nhi: acc.nhi + CAST((1.0 - $plN) > 0.5 AS BIGINT),
      |        pmax: greatest(acc.pmax, (1.0 - $plN)),
      |        pl: $plN,
      |        m: e.m})""".stripMargin
  }

  /** D90/G48 parameters — emission scales bracket the tape's move
    * distribution (|move| median ≈ 3.5k cents, p99 ≈ 22k at sf0.01:
    * γ_L sits below the median, γ_H above p90, so the posterior
    * actually travels), sticky transitions keep regimes persistent. */
  val hmmParams = graft.operators.Microstructure.HmmParams(
    gL = 2000.0, gH = 12000.0, stayL = 0.95, stayH = 0.90)
  val ffdD = 0.4                // D88 fractional-differencing order
  val ffdK = 8                  // D88 fixed window width (lags)
  val cusumH = 5000L            // D89 CUSUM threshold (cents)
  val garchOmega = 1.0          // D86/G44 GARCH(1,1) ω (cents²)
  val garchAlpha = 0.1          // D86/G44 ARCH loading
  val garchBeta = 0.85          // D86/G44 persistence (α+β < 1)
  val kalmanQ = 0.01            // D87/G45 level-drift variance
  val kalmanR = 4.0             // D87/G45 observation variance (cents²)
  val welfordK = 1.5            // G2 ±kσ flag band — probed: wide
                                // enough that most ticks pass, tight
                                // enough that flags fire at every SF
  val pairZCount = 8            // G37 roster size (consecutive pairs
                                // of ranked symbols; β_j = 0.5+0.25·j)
  val dormantGapMs = 86400000L  // G33 quiet threshold (24 h) —
                                // probed: 19/205/2006 dormancy events
                                // at the three SFs, of which
                                // 4/55/506 are MID-TAPE deaths (the
                                // timeout-removal + rebirth path),
                                // the rest tape-end flushes
  val seasonalZThr = 1.4        // D48 |z| cutoff — probed: the
                                // synthetic moves are near-uniform,
                                // so max |z| is only 1.47/2.88/4+ at
                                // the three SFs; 1.4 keeps the scan
                                // non-vacuous at EVERY gate SF
                                // (1/589/5821 rows)
  /** F7d serving fixture: the trained coarse-quantizer centroids,
    * built ONCE per (session, corpus) — the k·dim-float artifact a
    * serving tier caches (ingest-time at 100 TB). Same params as
    * q_kmeans / q_ann_ivf_trained (k=8, iters=2, scale=32), so the
    * oracle's duckKmeansCtes chain replays the training exactly;
    * Bench/Sf1Smoke prebuild it as the `ivf_cents` fixture row. */
  def servedIvfCentroids(s: SparkSession, d: String): Array[Seq[Float]] =
    graft.SessionFrameCache.getOrBuild(s, s"ivf_cents:$d") {
      Vectors.trainedCentroids(Tables.embeddings(s, d), 8, 2, 32)
    }

  val tensorSlots = 16          // D66 ticks per window tensor (the
                                // reference uses 600; same arithmetic)
  val reconFlagPct = 0.99       // F99 anomaly flag: err above the p99
                                // error percentile (ref test.py:334)
  val signalExitFrac = 0.5      // D76 exit once window error recovers

  /** The power-iteration/deflation cascade as generated unrolled CTE
    * blocks over a head-provided `cm0` (dim×dim covariance list) —
    * the SQL twin of `Vectors.powerIterate`, shared by the embedding
    * PCA oracles (via [[pcaCascadeSql]]) and the D91 factor-model
    * oracle so the recurrence has ONE spelling per engine. Emits
    * `p{m}e` (loadings `v` + eigenvalue `lam`) per component. */
  private[graft] def powerCascadeBlocks(dim: Int, comps: Int,
                                 iters: Int): Seq[String] = {
    def mv(c: String, v: String): String =
      s"list_transform(range($dim), i -> list_reduce(list_prepend(0.0, " +
        s"list_transform(range($dim), j -> $c[CAST(i + 1 AS INT)]" +
        s"[CAST(j + 1 AS INT)] * $v[CAST(j + 1 AS INT)])), " +
        "(a, b) -> a + b))"
    (0 until comps).flatMap { m =>
      val iterBlocks = (1 to iters).map { t =>
        s"p${m}v$t AS (SELECT c, list_transform(w, x -> x / " +
          "sqrt(list_reduce(list_prepend(0.0, list_transform(w, " +
          "y -> y * y)), (a, b) -> a + b))) AS v " +
          s"FROM (SELECT c, ${mv("c", "v")} AS w FROM p${m}v${t - 1}) t$t)"
      }
      Seq(s"p${m}v0 AS (SELECT c, list_transform(range($dim), " +
          s"x -> 1.0) AS v FROM cm$m)") ++ iterBlocks ++ Seq(
        s"p${m}f AS (SELECT c, CASE WHEN v[CAST(list_position(" +
          "list_transform(v, x -> abs(x)), list_max(list_transform(v, " +
          "x -> abs(x)))) AS INT)] < 0 THEN list_transform(v, x -> -x) " +
          s"ELSE v END AS v FROM p${m}v$iters)",
        s"p${m}e AS (SELECT c, v, list_reduce(list_prepend(0.0, " +
          s"list_transform(range($dim), i -> v[CAST(i + 1 AS INT)] * " +
          "w[CAST(i + 1 AS INT)])), (a, b) -> a + b) AS lam " +
          s"FROM (SELECT c, v, ${mv("c", "v")} AS w FROM p${m}f) tf)",
        s"cm${m + 1} AS (SELECT list_transform(range($dim), i -> " +
          s"list_transform(range($dim), j -> c[CAST(i + 1 AS INT)]" +
          "[CAST(j + 1 AS INT)] - lam * v[CAST(i + 1 AS INT)] * " +
          s"v[CAST(j + 1 AS INT)])) AS c FROM p${m}e)")
    }
  }


  /** F12 fixture — the media feature frame RE-DERIVED from the
    * generator's integer formulas alone (direct pixel/sample/frame
    * arithmetic — no PPM/WAV/Y4M encode→decode roundtrip), the
    * independent spelling the q_media_features oracle interpolates as
    * a VALUES table. The two implementations must agree cell-for-cell
    * (MediaSummarySpec asserts it per-run; the driver re-asserts via
    * the hash). Quantization mirrors Spark's `round(x·1e6, 0)`
    * exactly: BigDecimal HALF_UP on the double. */
  private[graft] def mediaFixture(n: Int): Seq[(Long, String, Long)] = {
    def q6(v: Double): Long =
      java.math.BigDecimal.valueOf(v * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    (0L until n.toLong).flatMap { key =>
      (key % 3) match {
        case 1 => // image: w = 4 + key%3 = 5, h = 3 + key%2
          val w = 5; val h = 3 + (key % 2).toInt
          val rgb = Array.tabulate(w * h * 3)(i =>
            ((key * 11 + i * 5) % 256).toInt)
          def bright(px: Array[Int]): Double = {
            var acc = 0.0; var i = 0
            while (i < px.length) {
              acc += 0.299 * px(i) + 0.587 * px(i + 1) + 0.114 * px(i + 2)
              i += 3
            }
            acc / (px.length / 3)
          }
          val thumb = new Array[Int](8 * 8 * 3)
          for (y <- 0 until 8; x <- 0 until 8) {
            val si = ((y * h / 8) * w + (x * w / 8)) * 3
            val di = (y * 8 + x) * 3
            thumb(di) = rgb(si); thumb(di + 1) = rgb(si + 1)
            thumb(di + 2) = rgb(si + 2)
          }
          Seq((key, "brightness", q6(bright(rgb))),
            (key, "thumb_brightness", q6(bright(thumb))))
        case 2 => // audio: ±1000 square wave, period 8, len 64 + key%32
          val len = 64 + (key % 32).toInt
          val s = Array.tabulate(len)(i =>
            if ((i / 4) % 2 == 0) 1000.0 else -1000.0)
          val rms = math.sqrt(s.foldLeft(0.0)((a, x) => a + x * x) / len)
          val zc = (1 until len).count(i => (s(i - 1) < 0) != (s(i) < 0))
          Seq((key, "rms", q6(rms)), (key, "zero_crossings", q6(zc.toDouble)))
        case _ => // video: 8x6 scrolling gradient, nf = 4 + key%5
          val w = 8; val h = 6; val nf = 4 + (key % 5).toInt
          def lum(f: Int, i: Int): Int =
            (((i % w) * 32 + f * 16 + key * 7) % 256).toInt
          def meanLuma(f: Int): Double =
            (0 until w * h).foldLeft(0L)((a, i) => a + lum(f, i))
              .toDouble / (w * h)
          val luma = (0 until nf).map(meanLuma).sum / nf
          val motion = (1 until nf).map { f =>
            (0 until w * h).foldLeft(0L)((a, i) =>
              a + math.abs(lum(f, i) - lum(f - 1, i))).toDouble / (w * h)
          }.sum / (nf - 1)
          Seq((key, "mean_luma", q6(luma)), (key, "motion", q6(motion)),
            (key, "n_frames", q6(nf.toDouble)))
      }
    }.sortBy(t => (t._1, t._2))
  }

  /** D66/D67 shared oracle body: the session-window slot CTE chain
    * ending in `uq` (symbol, date, win, split, cnt, i, u int64
    * micros) — one spelling for the tensor export and the pipeline. */
  /** [[tensorSlotsSql]] GENERATOR: every CTE name carries suffix `x`
    * and `pred` (optional) further filters the session-tick source —
    * the seam that lets one oracle carry TWO slot chains (A28's
    * current-vs-prior manifests) without copy-pasting the spelling.
    * `tensorSlotsSqlG("", "")` is byte-equivalent to the historic
    * shared fragment (aliases aside). */
  private[graft] def tensorSlotsSqlG(x: String, pred: String): String = {
    val k = tensorSlots
    val and = if (pred.isEmpty) "" else s" AND ($pred)"
    s"""w$x AS (SELECT event_id AS tick_id, user_id AS symbol,
      |    strftime(ts, '%Y-%m-%d') AS date,
      |    CASE WHEN hour(ts) = 7 AND minute(ts) >= 50 THEN 'morning'
      |         WHEN hour(ts) = 13 AND minute(ts) >= 50 THEN 'afternoon'
      |    END AS win,
      |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents
      |  FROM events
      |  WHERE ((hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50)$and),
      |base$x AS (SELECT *, row_number() OVER (PARTITION BY symbol, date,
      |    win ORDER BY tick_id) AS rn FROM w$x),
      |g$x AS (SELECT symbol, date, win, count(*) AS cnt
      |  FROM w$x GROUP BY 1, 2, 3),
      |idx$x AS (SELECT symbol, date, win, cnt, i,
      |    CASE WHEN cnt = 1 THEN 1
      |      WHEN cnt >= $k THEN (i * (cnt - 1)) // ${k - 1} + 1
      |      ELSE ((i + 1) * (cnt - 1) - 1) // ${k - 1} + 1
      |    END AS target_rn
      |  FROM g$x, (SELECT unnest(range($k)) AS i) ti),
      |slots$x AS (SELECT ix.symbol AS symbol, ix.date AS date,
      |    ix.win AS win, ix.cnt AS cnt, ix.i AS i, b.cents AS cents
      |  FROM idx$x ix JOIN base$x b ON b.symbol = ix.symbol
      |    AND b.date = ix.date AND b.win = ix.win
      |    AND b.rn = ix.target_rn),
      |rk$x AS (SELECT symbol, date, win,
      |    row_number() OVER (PARTITION BY symbol ORDER BY date,
      |      CASE WHEN win = 'morning' THEN 0 ELSE 1 END) AS rn_w,
      |    count(*) OVER (PARTITION BY symbol) AS n_w
      |  FROM g$x),
      |sp$x AS (SELECT symbol, date, win,
      |    CASE WHEN rn_w <= floor(n_w * 0.6) THEN 'train'
      |      WHEN rn_w <= floor(n_w * 0.6) + floor(n_w * 0.2) THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM rk$x),
      |st$x AS (SELECT sl.symbol AS symbol, count(*) AS n_tr,
      |    CAST(sum(sl.cents) AS BIGINT) AS sa,
      |    CAST(sum(sl.cents * sl.cents) AS BIGINT) AS sq
      |  FROM slots$x sl JOIN sp$x sq2 ON sq2.symbol = sl.symbol
      |    AND sq2.date = sl.date AND sq2.win = sl.win
      |  WHERE sq2.split = 'train' GROUP BY 1),
      |sc$x AS (SELECT symbol, CAST(sa AS DOUBLE) / n_tr AS mu,
      |    CASE WHEN CAST(sq AS DOUBLE) / n_tr
      |        - (CAST(sa AS DOUBLE) / n_tr) * (CAST(sa AS DOUBLE) / n_tr)
      |        > 0
      |      THEN sqrt(CAST(sq AS DOUBLE) / n_tr
      |        - (CAST(sa AS DOUBLE) / n_tr) * (CAST(sa AS DOUBLE) / n_tr))
      |      END AS sd
      |  FROM st$x),
      |sx$x AS (SELECT sl.symbol AS symbol, sl.date AS date,
      |    sl.win AS win, sq2.split AS split, sl.cnt AS n_ticks, sl.i AS i,
      |    CASE WHEN c.sd IS NOT NULL AND c.sd > 0
      |      THEN (sl.cents - c.mu) / c.sd ELSE 0.0 END AS x
      |  FROM slots$x sl
      |  JOIN sp$x sq2 ON sq2.symbol = sl.symbol AND sq2.date = sl.date
      |    AND sq2.win = sl.win
      |  LEFT JOIN sc$x c ON c.symbol = sl.symbol),
      |uq$x AS (SELECT symbol, date, win, split, n_ticks, i,
      |    CAST(CASE WHEN x >= 0 THEN floor(x * 1000000.0 + 0.5)
      |      ELSE -floor(-x * 1000000.0 + 0.5) END AS BIGINT) AS u
      |  FROM sx$x)""".stripMargin
  }

  private[graft] lazy val tensorSlotsSql: String = tensorSlotsSqlG("", "")

  /** D67/D68 shared oracle body: the slot chain plus the per-window
    * train-centroid error CTEs, ending in `er` (symbol, date, win,
    * split, u_err int64 micros). Generator form for the same reason
    * as [[tensorSlotsSqlG]]. */
  private[graft] def windowErrSqlG(x: String, pred: String): String =
    s"""${tensorSlotsSqlG(x, pred)},
      |tm$x AS (SELECT symbol, i, CAST(sum(u) AS BIGINT) AS su,
      |    count(*) AS n_tr
      |  FROM uq$x WHERE split = 'train' GROUP BY 1, 2),
      |tt$x AS (SELECT q.symbol, q.date, q.win, q.split, q.i,
      |    CASE WHEN m.n_tr IS NULL THEN 0.0
      |      ELSE (CAST(q.u AS DOUBLE) - CAST(m.su AS DOUBLE) / m.n_tr)
      |        * (CAST(q.u AS DOUBLE) - CAST(m.su AS DOUBLE) / m.n_tr)
      |        / 1000000.0 / 1000000.0 END AS t
      |  FROM uq$x q LEFT JOIN tm$x m ON m.symbol = q.symbol
      |    AND m.i = q.i),
      |er$x AS (SELECT symbol, date, win, split,
      |    CAST(floor(list_reduce(list_prepend(0.0, list(t ORDER BY i)),
      |      (a, b) -> a + b) / $tensorSlots * 1000000.0 + 0.5)
      |      AS BIGINT) AS u_err
      |  FROM tt$x GROUP BY 1, 2, 3, 4)""".stripMargin

  private[graft] lazy val windowErrSql: String = windowErrSqlG("", "")

  /** The D84 cascade (pivot, init weights, per-epoch forward/backward
    * + update CTEs, final scoring). `withVal` carries the val split
    * through the epoch stages — gradient sums stay train-conditional,
    * so the weight trajectory is IDENTICAL; the epoch aggregates
    * additionally price the epoch's val loss (`sl_va`). */
  private[graft] def gdCascadeSql(k: Int, h: Int, epochs: Int, lr: Double,
                           pct: Double, withVal: Boolean): String = {
    val piv = (0 until k)
      .map(i => s"max(CASE WHEN i = $i THEN u END) AS s$i")
      .mkString(", ")
    val weNames = for (j <- 0 until h; i <- 0 until k)
      yield (j, i, s"we_${j}_$i")
    val wdNames = for (i <- 0 until k; j <- 0 until h)
      yield (i, j, s"wd_${i}_$j")
    val w0Cols = (weNames.map { case (j, i, n) =>
      s"${Features.dlit(Features.gdWe0(j, i, k))} AS $n"
    } ++ wdNames.map { case (i, j, n) =>
      s"${Features.dlit(Features.gdWd0(i, j, h))} AS $n"
    }).mkString(",\n    ")
    val sCols = (0 until k).map(i => s"p.s$i AS s$i").mkString(", ")
    val wdSel = wdNames.map { case (_, _, n) => s"w.$n AS $n" }
      .mkString(", ")
    val zc = (0 until h).map(j => s"${Features.gdZExpr(j, k)} AS z$j")
      .mkString(", ")
    val xc = (0 until k).map(i => s"${Features.gdXhExpr(i, h)} AS xh$i")
      .mkString(", ")
    val rc = (0 until k).map(i => s"${Features.gdRExpr(i)} AS r$i")
      .mkString(", ")
    val ec = (0 until h).map(j => s"${Features.gdEExpr(j, k)} AS e$j")
      .mkString(", ")
    def tsum(e: String): String =
      if (withVal) s"CAST(sum(CASE WHEN split = 'train' THEN $e END) AS BIGINT)"
      else s"CAST(sum($e) AS BIGINT)"
    val gds = wdNames.map { case (i, j, _) =>
      s"${tsum(Features.gdQExpr(s"r$i*z$j"))} AS gd_${i}_$j"
    }.mkString(",\n    ")
    val ges = weNames.map { case (j, i, _) =>
      s"${tsum(Features.gdQExpr(s"e$j*(CAST(s$i AS DOUBLE)/1.0E6)"))}" +
        s" AS ge_${j}_$i"
    }.mkString(",\n    ")
    val upd = (weNames.map { case (j, i, n) =>
      s"${Features.gdUpdExpr(s"w.$n", s"g.ge_${j}_$i", lr)} AS $n"
    } ++ wdNames.map { case (i, j, n) =>
      s"${Features.gdUpdExpr(s"w.$n", s"g.gd_${i}_$j", lr)} AS $n"
    }).mkString(",\n    ")
    val splitSel = if (withVal) ", p.split AS split" else ""
    val splitPred =
      if (withVal) "p.split IN ('train', 'val')" else "p.split = 'train'"
    val slVa =
      if (withVal)
        s""",
        |    CAST(sum(CASE WHEN split = 'val' THEN ${Features.gdLqExpr(k)}
        |      END) AS BIGINT) AS sl_va""".stripMargin
      else ""
    val epochCtes = (0 until epochs).map { e =>
      s"""fz$e AS MATERIALIZED (SELECT p.symbol AS symbol$splitSel, $sCols,
        |    $wdSel, $zc
        |  FROM piv p JOIN w$e w USING (symbol)
        |  WHERE $splitPred),
        |fx$e AS (SELECT *, $xc FROM fz$e),
        |fr$e AS (SELECT *, $rc FROM fx$e),
        |fe$e AS (SELECT *, $ec FROM fr$e),
        |g$e AS MATERIALIZED (SELECT symbol,
        |    $gds,
        |    $ges,
        |    ${tsum(Features.gdLqExpr(k))} AS sl$slVa
        |  FROM fe$e GROUP BY 1),
        |w${e + 1} AS MATERIALIZED (SELECT w.symbol AS symbol,
        |    w.n_tr AS n_tr,
        |    $upd
        |  FROM w$e w JOIN g$e g USING (symbol))""".stripMargin
    }.mkString(",\n")
    s"""WITH $tensorSlotsSql,
      |piv AS MATERIALIZED (SELECT symbol, date, win, split, $piv
      |  FROM uq GROUP BY 1, 2, 3, 4),
      |tc AS MATERIALIZED (SELECT symbol, count(*) AS n_tr
      |  FROM piv WHERE split = 'train' GROUP BY 1),
      |w0 AS MATERIALIZED (SELECT symbol, n_tr,
      |    $w0Cols
      |  FROM tc),
      |$epochCtes,
      |fzf AS MATERIALIZED (SELECT p.symbol AS symbol, p.date AS date,
      |    p.win AS win, p.split AS split, $sCols, $wdSel, $zc
      |  FROM piv p JOIN w$epochs w USING (symbol)),
      |fxf AS (SELECT *, $xc FROM fzf),
      |frf AS (SELECT *, $rc FROM fxf),
      |fsq AS MATERIALIZED (SELECT symbol, date, win, split,
      |    ${Features.gdLqExpr(k)} AS stq
      |  FROM frf),
      |ferr AS MATERIALIZED (SELECT *,
      |    CAST(stq // $k AS BIGINT) AS err_ppm FROM fsq),
      |fth AS (SELECT symbol, quantile_cont(err_ppm, $pct) AS qu
      |  FROM ferr WHERE split = 'test' GROUP BY 1),
      |fsl AS (SELECT symbol, CAST(sum(stq) AS BIGINT) AS sl
      |  FROM fsq WHERE split = 'train' GROUP BY 1)""".stripMargin
  }

  /** D76-family shared oracle fragments (r13 review dedup): the
    * session-close collapse and the position-machine CTE chain —
    * ONE spelling interpolated into all five trading-layer duals
    * (q_signal_backtest / q_backtest_report / q_book_report /
    * q_latency_sensitivity / q_signal_sweep), so a fix can never
    * desynchronize the copies. */
  private[graft] lazy val sessionClosesSql: String =
    s"""closes AS (SELECT user_id AS symbol,
      |    strftime(ts, '%Y-%m-%d') AS date,
      |    CASE WHEN hour(ts) = 7 AND minute(ts) >= 50 THEN 'morning'
      |         WHEN hour(ts) = 13 AND minute(ts) >= 50
      |           THEN 'afternoon' END AS win,
      |    max_by(CAST(round(value * 100.0, 0) AS BIGINT), event_id)
      |      AS close_cents
      |  FROM events
      |  WHERE (hour(ts) = 7 OR hour(ts) = 13) AND minute(ts) >= 50
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** The position machine over the TEST windows: lastu (entry
    * direction) + closes + threshold join → signals → running
    * position → pos_prev/dc, ending in `pp`. `thrJoin` supplies the
    * threshold CTE join (plain `th` or the sweep's `thr3 t`),
    * `extraBbCols` its projected columns, `part` the machine's
    * partition keys, `extraPpCols` optional extra lag columns. */
  private[graft] def positionChainSql(thrJoin: String, extraBbCols: String,
                               part: String,
                               extraPpCols: String = "",
                               bbPred: String = "er.split = 'test'")
      : String =
    s"""lastu AS (SELECT symbol, date, win, u AS u_last
      |  FROM uq WHERE i = ${tensorSlots - 1}),
      |$sessionClosesSql,
      |bb AS (SELECT er.symbol, er.date, er.win, er.u_err,
      |    l.u_last, c.close_cents$extraBbCols
      |  FROM er
      |  JOIN lastu l ON l.symbol = er.symbol AND l.date = er.date
      |    AND l.win = er.win
      |  JOIN closes c ON c.symbol = er.symbol AND c.date = er.date
      |    AND c.win = er.win
      |  $thrJoin
      |  WHERE $bbPred),
      |sg AS (SELECT *, CASE
      |    WHEN CAST(u_err AS DOUBLE) > qu THEN
      |      CASE WHEN u_last > 0 THEN -1 ELSE 1 END
      |    WHEN CAST(u_err AS DOUBLE) <= qu * ${Features.dlit(signalExitFrac)}
      |      THEN 0 END AS sig
      |  FROM bb),
      |ps AS (SELECT *, coalesce(last_value(sig IGNORE NULLS)
      |      OVER (PARTITION BY $part ORDER BY date,
      |        CASE WHEN win = 'morning' THEN 0 ELSE 1 END
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
      |      AS pos
      |  FROM sg),
      |pp AS (SELECT *, coalesce(lag(pos) OVER w, 0) AS pos_prev,$extraPpCols
      |    close_cents - lag(close_cents) OVER w AS dc
      |  FROM ps WINDOW w AS (PARTITION BY $part ORDER BY date,
      |    CASE WHEN win = 'morning' THEN 0 ELSE 1 END))""".stripMargin

  private[graft] lazy val testThresholdSql: String =
    s"""th AS (SELECT symbol, quantile_cont(u_err, $reconFlagPct) AS qu
      |  FROM er WHERE split = 'test' GROUP BY 1)""".stripMargin

  /** Every registry key, one record per key in the SURVEY family
    * objects under `graft.registry`; built once per JVM, and a name
    * declared twice fails the build here. */
  private lazy val registry: Map[String, Key] = Key.byName(
    IngestKeys.keys ++ CleaningKeys.keys ++ AnalyticsKeys.keys ++
      FeatureKeys.keys ++ TemporalKeys.keys ++ CorpusKeys.keys ++
      StreamingKeys.keys)

  /** Key → Spark builder over `(session, sfDir)`. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, k) => n -> k.build }

  /** Key → DuckDB oracle SQL over the sfDir tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, k) => n -> k.oracle }
}
