package graft

import java.sql.Timestamp

import graft.operators.Microstructure

/** Hand-computed oracles for the D19–D21 microstructure estimators. */
class MicrostructureSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)
  private def ticks(rows: (Long, Long, String, Double, Double)*) =
    rows.toSeq.map { case (id, sym, ts, b, a) => (id, sym, t(ts), b, a) }
      .toDF("tick_id", "symbol", "ts", "bid", "ask")
  private def events(rows: (Long, Long, String, Double, Int)*) =
    rows.toSeq.map { case (id, u, ts, v, k) =>
      (id, u, t(ts), "trade", v, s"""{"k":$k}""") }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")

  test("D88 fracDiff: the FFD dot product equals the hand fold " +
      "(w0=1, wk=-w(k-1)(d-k+1)/k) and warm-up rows emit nothing") {
    val d = SparkEntry.ffdD; val k = SparkEntry.ffdK
    val bids = Seq(10.00, 10.10, 10.30, 10.20, 10.50, 10.40, 10.80,
      10.60, 11.00, 10.90, 11.20)
    val rows = bids.zipWithIndex.map { case (b, i) =>
      ((i + 1).toLong, 1L, f"2024-01-01 00:00:${i + 1}%02d", b, b + 0.1)
    }
    val out = Microstructure.fracDiff(ticks(rows: _*), d, k)
      .as[(Long, Long, Double)].collect().toSeq
    val w = Iterator.iterate((1.0, 0)) { case (wk, i) =>
      (-wk * (d - (i + 1) + 1) / (i + 1), i + 1)
    }.map(_._1).take(k + 1).toSeq
    val cents = bids.map(b => math.round(b * 100.0).toDouble)
    val want = (k until bids.length).map { i =>
      ((i + 1).toLong, 1L,
        w.zipWithIndex.map { case (wk, j) => wk * cents(i - j) }
          .reduce(_ + _))
    }
    assert(out == want)
    assert(out.length == bids.length - k, "first K ticks are warm-up")
  }

  test("D89 cusumFilter: hand tape — a breach fires once and resets " +
      "its side only; sub-threshold drift accumulates; both sides " +
      "fire independently; single-tick days emit nothing") {
    val h = SparkEntry.cusumH // 5000 cents
    // moves (cents): +3000, +3000 (S+ 6000 -> event, reset),
    //   -2000, -4000 (S- -6000 -> event, reset), +1000
    val bids = Seq(100.00, 130.00, 160.00, 140.00, 100.00, 110.00)
    val rows = bids.zipWithIndex.map { case (b, i) =>
      ((i + 1).toLong, 1L, f"2024-01-01 00:00:${i + 1}%02d", b, b + 0.1)
    } :+ ((99L, 2L, "2024-01-01 00:00:01", 5.0, 5.1)) // single tick
    val out = Microstructure.cusumFilter(ticks(rows: _*), h)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, "2024-01-01", 5L, 2L, 1000L, 0L)))
  }

  test("rollSpread: bid-bounce series has negative autocov and a spread") {
    // Price alternates 10.00 / 10.02: Δp = +2,−2,+2,… (cents). Over
    // the 7 (Δpₜ₋₁, Δpₜ) pairs: Σxy = −28, Σx = 2, Σy = −2, so
    // covar_samp = (−28 + 4/7)/6 = −32/7 = −4.5714 (round 4).
    val rows = (1 to 9).map { i =>
      (i.toLong, 1L, f"2024-01-01 00:00:$i%02d",
        if (i % 2 == 0) 10.02 else 10.00, 10.03)
    }
    val r = Microstructure.rollSpread(ticks(rows: _*)).collect().head
    assert(r.getAs[Long]("n_pairs") == 7L)
    assert(r.getAs[Double]("cov_cents2") == -4.5714)
    assert(math.abs(r.getAs[Double]("roll_spread_cents")
      - math.rint(2.0 * math.sqrt(4.5714) * 1e4) / 1e4) < 1e-9)
  }

  test("rollSpread: trending symbol (positive autocov) reports NULL spread") {
    val rows = (1 to 6).map { i =>
      (i.toLong, 1L, f"2024-01-01 00:00:$i%02d", 10.0 + i * 0.05, 11.0)
    }
    val r = Microstructure.rollSpread(ticks(rows: _*)).collect().head
    assert(r.isNullAt(r.fieldIndex("roll_spread_cents")))
  }

  test("drawdownDuration: stretches split at peak recoveries; " +
      "never-underwater symbol reports zeros") {
    // symbol 1 cents: 100,99,98,100,101,100,99,101 —
    //   ticks 2-3 below peak 100 (stretch 1, len 2); tick 4 recovers
    //   to the peak (equal is NOT below); tick 5 sets peak 101;
    //   ticks 6-7 below it (stretch 2, len 2); tick 8 recovers.
    val prices = Seq(1.00, 0.99, 0.98, 1.00, 1.01, 1.00, 0.99, 1.01)
    val rows = prices.zipWithIndex.map { case (p, i) =>
      (i.toLong + 1, 1L, f"2024-01-01 00:00:${i + 1}%02d", p, 9.9)
    } ++ Seq((100L, 2L, "2024-01-01 00:00:01", 5.0, 9.9),
      (101L, 2L, "2024-01-01 00:00:02", 6.0, 9.9)) // rising: never below
    val out = graft.operators.Features.drawdownDuration(ticks(rows: _*))
      .collect()
    val s1 = out.find(_.getAs[Long]("symbol") == 1L).get
    assert(s1.getAs[Long]("n_stretches") == 2L)
    assert(s1.getAs[Long]("n_underwater") == 4L)
    assert(s1.getAs[Long]("max_stretch_ticks") == 2L)
    val s2 = out.find(_.getAs[Long]("symbol") == 2L).get
    assert((s2.getAs[Long]("n_stretches"), s2.getAs[Long]("n_underwater"),
      s2.getAs[Long]("max_stretch_ticks")) == ((0L, 0L, 0L)))
  }

  test("hurstExponent: matches the formula computed directly from the " +
      "series; constant-price symbol reports NULL") {
    // symbol 1: +2/−1 zig-zag with drift; symbol 2: constant.
    val cents = Seq(10000, 10002, 10001, 10005, 10004, 10008, 10007,
      10011, 10010, 10014, 10013, 10017)
    val rows = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong + 1, 1L, f"2024-01-01 00:00:${i + 1}%02d", c / 100.0, 99.0)
    } ++ (1 to 12).map { i =>
      (100L + i, 2L, f"2024-01-01 00:00:$i%02d", 50.0, 99.0)
    }
    def varSamp(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)
    }
    def rv(k: Int): Double = {
      val ds = cents.drop(k).zip(cents.dropRight(k))
        .map { case (a, b) => (a - b).toDouble }
      math.rint(varSamp(ds) * 1e4) / 1e4
    }
    val expected = math.rint(
      ((-3.0 * math.log(rv(1)) - math.log(rv(2)) + math.log(rv(4))
        + 3.0 * math.log(rv(8))) / (10.0 * math.log(2.0))) / 2.0 * 1e4) / 1e4
    val out = Microstructure.hurstExponent(ticks(rows: _*)).collect()
    val s1 = out.find(_.getAs[Long]("symbol") == 1L).get
    assert(s1.getAs[Long]("n_obs") == 4L)
    assert(s1.getAs[Double]("hurst") == expected)
    val s2 = out.find(_.getAs[Long]("symbol") == 2L).get
    assert(s2.isNullAt(s2.fieldIndex("hurst")))
  }

  test("kyleLambda: slope equals the hand-built OLS ratio of exact " +
      "integer sums; constant-price symbol reports NULL") {
    // symbol 1, one day: (dp, sv) pairs after the unclassified first
    // tick are (2,2), (-1,-4), (0,0), (2,1):
    //   Σxy=10 Σx=-1 Σy=3 Σxx=21, n=4
    //   λ = (4·10 − (−1)·3) / (4·21 − 1) = 43/83
    // symbol 2: constant price → every sv=0 → zero regressor variance.
    val ev = events(
      (1L, 1L, "2024-01-01 10:00:01", 10.00, 5),
      (2L, 1L, "2024-01-01 10:00:02", 10.02, 2),
      (3L, 1L, "2024-01-01 10:00:03", 10.01, 4),
      (4L, 1L, "2024-01-01 10:00:04", 10.01, 3),
      (5L, 1L, "2024-01-01 10:00:05", 10.03, 1),
      (6L, 2L, "2024-01-01 10:00:01", 20.00, 9),
      (7L, 2L, "2024-01-01 10:00:02", 20.00, 9),
      (8L, 2L, "2024-01-01 10:00:03", 20.00, 9))
    val out = Microstructure.kyleLambda(ev).collect()
    val s1 = out.find(_.getAs[Long]("symbol") == 1L).get
    assert(s1.getAs[Long]("n_obs") == 4L)
    assert(s1.getAs[Long]("sx") == -1L)
    assert(s1.getAs[Double]("kyle_lambda") == 43.0 / 83.0)
    val s2 = out.find(_.getAs[Long]("symbol") == 2L).get
    assert(s2.getAs[Long]("n_obs") == 2L)
    assert(s2.isNullAt(s2.fieldIndex("kyle_lambda")))
  }

  test("varianceRatio: perfect bounce gives VR 0, constant drift gives " +
      "NULL (zero base variance)") {
    // symbol 1 alternates 10.00/10.02: every 4-period change is 0 →
    // var_q = 0 → vr = 0. symbol 2 climbs 1 cent per tick: dp1 is
    // constant → var_1 = 0 → vr NULL.
    val rows = (1 to 9).map { i =>
      (i.toLong, 1L, f"2024-01-01 00:00:$i%02d",
        if (i % 2 == 0) 10.02 else 10.00, 11.0)
    } ++ (1 to 9).map { i =>
      (100L + i, 2L, f"2024-01-01 00:01:$i%02d", 10.00 + i * 0.01, 11.0)
    }
    val out = Microstructure.varianceRatio(ticks(rows: _*), 4).collect()
    val bysym = out.map(r => r.getAs[Long]("symbol") -> r).toMap
    assert(bysym(1L).getAs[Double]("vr") == 0.0)
    assert(bysym(1L).getAs[Long]("n_obs") == 5L) // 9 ticks, lag 4
    assert(bysym(2L).isNullAt(bysym(2L).fieldIndex("vr")))
    assert(bysym(2L).getAs[Double]("var_q") == 0.0)
  }

  test("intradayProfile pools |moves| by minute of day across days, " +
      "day-first ticks contribute activity but no move") {
    val out = Microstructure.intradayProfile(ticks(
      (1L, 1L, "2024-01-01 00:05:01", 10.00, 11.0),
      (2L, 1L, "2024-01-01 00:05:30", 10.02, 11.0), // move 2 cents
      (3L, 1L, "2024-01-02 00:05:10", 10.10, 11.0), // new day: no move
      (4L, 1L, "2024-01-02 00:07:00", 10.06, 11.0)) // move 4, min 7
    ).collect()
    val byMin = out.map(r => r.getAs[Int]("minute_od") -> r).toMap
    assert(byMin(5).getAs[Long]("n_ticks") == 3L)
    assert(byMin(5).getAs[Double]("avg_abs_move_cents") == 2.0)
    assert(byMin(7).getAs[Double]("avg_abs_move_cents") == 4.0)
  }

  test("amihud: single return, hand-computed impact") {
    // 100.00 -> 101.00, k=5: |ln(10100/10000)| / (10100*5) * 1e9
    val e = events(
      (1L, 1L, "2024-01-01 00:00:01", 100.00, 3),
      (2L, 1L, "2024-01-01 00:00:02", 101.00, 5))
    val r = Microstructure.amihud(e).collect().head
    val expected = math.abs(math.log(10100.0 / 10000.0)) / (10100.0 * 5) * 1e9
    assert(r.getAs[Long]("n_obs") == 1L)
    assert(math.abs(r.getAs[Double]("amihud_e9")
      - math.rint(expected * 1e4) / 1e4) < 1e-9)
  }

  test("amihud: overnight gap contributes no observation") {
    val e = events(
      (1L, 1L, "2024-01-01 23:59:59", 100.00, 1),
      (2L, 1L, "2024-01-02 00:00:01", 200.00, 1))
    val rs = Microstructure.amihud(e).collect()
    assert(rs.length == 2 && rs.forall(_.getAs[Long]("n_obs") == 0L))
  }

  test("flowImbalance: signed volume and ratio") {
    // day 1 for symbol 1: prev-less head, then up(k=3), down(k=1),
    // zero(k=7): buy=3 sell=1 imbalance=0.5, n_classified=3
    val e = events(
      (1L, 1L, "2024-01-01 00:00:01", 10.00, 9),
      (2L, 1L, "2024-01-01 00:00:02", 10.01, 3),
      (3L, 1L, "2024-01-01 00:00:03", 10.00, 1),
      (4L, 1L, "2024-01-01 00:00:04", 10.00, 7))
    val r = Microstructure.flowImbalance(e).collect().head
    assert(r.getAs[Long]("buy_qty") == 3L)
    assert(r.getAs[Long]("sell_qty") == 1L)
    assert(r.getAs[Double]("imbalance") == 0.5)
    assert(r.getAs[Long]("n_classified") == 3L)
  }

  test("flowImbalance: flat-only day yields NULL imbalance") {
    val e = events(
      (1L, 1L, "2024-01-01 00:00:01", 10.00, 2),
      (2L, 1L, "2024-01-01 00:00:02", 10.00, 2))
    val r = Microstructure.flowImbalance(e).collect().head
    assert(r.isNullAt(r.fieldIndex("imbalance")))
    assert(r.getAs[Long]("n_classified") == 1L)
  }

  test("corwinSchultz: beta=gamma boundary is deterministic, widening " +
      "ranges drive alpha negative (NULL spread), pairs need a next day") {
    val tk = ticks(
      // day 1: range [8.00, 12.00]
      (1L, 1L, "2024-01-01 10:00:00", 12.00, 0.0),
      (2L, 1L, "2024-01-01 11:00:00", 8.00, 0.0),
      // day 2: constant 10.00 inside day 1's range → beta == gamma,
      // alpha cancels to ±1e-16 — deterministic from rounded inputs
      (3L, 1L, "2024-01-02 10:00:00", 10.00, 0.0),
      // day 3: [1.00, 100.00] contains day 2 → beta == gamma again
      (4L, 1L, "2024-01-03 10:00:00", 100.00, 0.0),
      (5L, 1L, "2024-01-03 11:00:00", 1.00, 0.0),
      // day 4: constant far outside day 3 → gamma >> beta, alpha < 0
      (6L, 1L, "2024-01-04 10:00:00", 200.00, 0.0))
    val out = Microstructure.corwinSchultz(tk).collect()
    assert(out.length == 3) // last day has no successor
    val p1 = out(0) // (day1, day2): boundary — spread NULL or ≈0
    assert(p1.getAs[Double]("beta") == p1.getAs[Double]("gamma"))
    assert(math.abs(p1.getAs[Double]("alpha")) < 1e-10)
    assert(p1.isNullAt(p1.fieldIndex("cs_spread")) ||
      math.abs(p1.getAs[Double]("cs_spread")) < 1e-10)
    val p2 = out(1) // (day2, day3): boundary again, same guarantee
    assert(p2.getAs[Double]("beta") == p2.getAs[Double]("gamma"))
    assert(math.abs(p2.getAs[Double]("alpha")) < 1e-10)
    val p3 = out(2) // (day3, day4): gamma >> beta
    assert(p3.getAs[Double]("gamma") > p3.getAs[Double]("beta"))
    assert(p3.getAs[Double]("alpha") < -1.0)
    assert(p3.isNullAt(p3.fieldIndex("cs_spread")))
  }

  test("rangeVolatility: OHLC by tick order, Parkinson/GK from the " +
      "literal constants, non-positive days excluded") {
    val tk = ticks(
      // day 1: o=10.00 h=12.00 l=8.00 c=9.00 (open/close by tick_id)
      (1L, 1L, "2024-01-01 10:00:00", 10.00, 0.0),
      (2L, 1L, "2024-01-01 11:00:00", 12.00, 0.0),
      (3L, 1L, "2024-01-01 12:00:00", 8.00, 0.0),
      (4L, 1L, "2024-01-01 13:00:00", 9.00, 0.0),
      // day 2 has a non-positive low → excluded entirely
      (5L, 1L, "2024-01-02 10:00:00", 0.00, 0.0),
      (6L, 1L, "2024-01-02 11:00:00", 5.00, 0.0))
    val r = Microstructure.rangeVolatility(tk).collect().head
    assert(r.getAs[Long]("n_days") == 1L)
    val lhl = math.log(1200.0 / 800.0)
    val lco = math.log(900.0 / 1000.0)
    val sumLhl2 = BigDecimal(lhl * lhl)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sumLco2 = BigDecimal(lco * lco)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("sum_lhl2") == sumLhl2)
    assert(r.getAs[Double]("sum_lco2") == sumLco2)
    val park = BigDecimal(sumLhl2 / 2.772588722239781)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("parkinson_var") == park)
    val gk = BigDecimal(0.5 * sumLhl2 - 0.3862943611198906 * sumLco2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("gk_var") == gk)
  }

  test("volumeBars: straddling trade lands in the bar of its LAST unit, " +
      "zero-qty rows ride along, trailing bar is partial") {
    // V=10. k: 4,4,4,10,0,3 → cum 4,8,12,22,22,25 → bars 0,0,1,2,2,2.
    val ev = events(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 4),
      (2L, 1L, "2024-01-01 00:00:02", 1.02, 4),
      (3L, 1L, "2024-01-01 00:00:03", 0.99, 4),
      (4L, 1L, "2024-01-01 00:00:04", 1.05, 10),
      (5L, 1L, "2024-01-01 00:00:05", 1.01, 0),
      (6L, 1L, "2024-01-01 00:00:06", 1.03, 3))
    val out = Microstructure.volumeBars(ev, 10L).collect()
    assert(out.length == 3)
    val b0 = out(0); val b1 = out(1); val b2 = out(2)
    assert(b0.getAs[Long]("bar_id") == 0L &&
      b0.getAs[Long]("bar_qty") == 8L && b0.getAs[Long]("n_ticks") == 2L)
    assert(b0.getAs[Long]("open_cents") == 100L &&
      b0.getAs[Long]("close_cents") == 102L)
    assert(b1.getAs[Long]("bar_id") == 1L &&
      b1.getAs[Long]("bar_qty") == 4L &&
      b1.getAs[Long]("open_cents") == 99L)
    assert(b2.getAs[Long]("bar_id") == 2L &&
      b2.getAs[Long]("bar_qty") == 13L && b2.getAs[Long]("n_ticks") == 3L)
    assert(b2.getAs[Long]("open_cents") == 105L &&
      b2.getAs[Long]("high_cents") == 105L &&
      b2.getAs[Long]("low_cents") == 101L &&
      b2.getAs[Long]("close_cents") == 103L)
    assert(b2.getAs[String]("ts_first") == "2024-01-01 00:00:04" &&
      b2.getAs[String]("ts_last") == "2024-01-01 00:00:06")
  }

  test("vpin: tick-rule sign crosses bucket boundaries; trailing window " +
      "ratio is exact-int sums; first trade is unclassified") {
    // V=10, window 2. cents/k: (100,4) (102,4) (99,4) (105,10) (95,5)
    // (103,3) → bars 0,0,1,2,2,2. Signs: -,up,down,up,down,up.
    val ev = events(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 4),
      (2L, 1L, "2024-01-01 00:00:02", 1.02, 4),
      (3L, 1L, "2024-01-01 00:00:03", 0.99, 4),
      (4L, 1L, "2024-01-01 00:00:04", 1.05, 10),
      (5L, 1L, "2024-01-01 00:00:05", 0.95, 5),
      (6L, 1L, "2024-01-01 00:00:06", 1.03, 3))
    val out = Microstructure.vpin(ev, 10L, 2).collect()
    assert(out.length == 3)
    val b0 = out(0); val b1 = out(1); val b2 = out(2)
    // bar0: buy 4 (trade 2), sell 0 (trade 1 unclassified).
    assert(b0.getAs[Long]("buy_qty") == 4L && b0.getAs[Long]("sell_qty") == 0L)
    assert(b0.getAs[Double]("toxicity") == 1.0)
    // bar1: sell 4. bar2: buy 10+3, sell 5.
    assert(b1.getAs[Long]("sell_qty") == 4L)
    assert(b2.getAs[Long]("buy_qty") == 13L && b2.getAs[Long]("sell_qty") == 5L)
    assert(b2.getAs[Double]("toxicity") == 8.0 / 18.0)
    // vpin at bar2 over (bar1, bar2): (4 + 8) / (4 + 18).
    assert(b2.getAs[Double]("vpin") == 12.0 / 22.0)
    assert(b2.getAs[Long]("n_bars_in_window") == 2L)
  }

  test("signPersistence: zero-ticks are transparent to the sign chain; " +
      "ratio is exact-count division") {
    // cents 100,101,102,102,101,100 → signs -,+,+,0,-,- :
    // pairs (+,+) repeat, (+,-) across the zero-tick, (-,-) repeat.
    val tk = ticks(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 0.0),
      (2L, 1L, "2024-01-01 00:00:02", 1.01, 0.0),
      (3L, 1L, "2024-01-01 00:00:03", 1.02, 0.0),
      (4L, 1L, "2024-01-01 00:00:04", 1.02, 0.0),
      (5L, 1L, "2024-01-01 00:00:05", 1.01, 0.0),
      (6L, 1L, "2024-01-01 00:00:06", 1.00, 0.0))
    val r = Microstructure.signPersistence(tk).collect().head
    assert(r.getAs[Long]("n_pairs") == 3L)
    assert(r.getAs[Long]("n_repeat") == 2L)
    assert(r.getAs[Double]("persistence") == 2.0 / 3.0)
  }

  test("leeReady: above/below mid classifies by quote, at-mid falls " +
      "back to tick rule, tied-tick stays unclassified") {
    // mid = 1.05 (mid2 = 210). trades: 1.06 buy-by-mid, 1.05 at-mid ->
    // tick vs 1.06 -> sell, 1.05 again -> tick tied -> none.
    val quotes = Seq(
      (1L, t("2024-01-01 00:00:01"), 100L, 1.00, 1.10))
      .toDF("symbol", "ts", "quote_id", "bid", "ask")
    val trades = Seq(
      (1L, t("2024-01-01 00:00:02"), 1L, 1.06),
      (1L, t("2024-01-01 00:00:03"), 2L, 1.05),
      (1L, t("2024-01-01 00:00:04"), 3L, 1.05),
      (2L, t("2024-01-01 00:00:01"), 4L, 5.00)) // no quote, no prev
      .toDF("symbol", "ts", "trade_id", "price")
    val out = Microstructure.leeReady(trades, quotes).collect()
    val s1 = out.find(_.getAs[Long]("symbol") == 1L).get
    assert(s1.getAs[Long]("n_trades") == 3L)
    assert(s1.getAs[Long]("n_buy") == 1L && s1.getAs[Long]("n_sell") == 1L)
    assert(s1.getAs[Long]("n_by_mid") == 1L &&
      s1.getAs[Long]("n_by_tick") == 1L &&
      s1.getAs[Long]("n_unclassified") == 1L)
    val s2 = out.find(_.getAs[Long]("symbol") == 2L).get
    assert(s2.getAs[Long]("n_unclassified") == 1L)
  }

  test("effectiveSpread: es in doubled cents vs quoted spread; " +
      "inside/at/outside classification; unquoted trades excluded") {
    // quote: bid 1.00 ask 1.10 -> mid2 210, spread2 20.
    // trades: 1.06 -> es2 2 (inside), 1.15 -> es2 20 (AT quote,
    // neither inside nor outside), 1.30 -> es2 50 (outside).
    // avg = (2+20+50)/(2*3) = 12 cents = 0.12.
    val quotes = Seq((1L, t("2024-01-01 00:00:01"), 100L, 1.00, 1.10))
      .toDF("symbol", "ts", "quote_id", "bid", "ask")
    val trades = Seq(
      (1L, t("2024-01-01 00:00:02"), 1L, 1.06),
      (1L, t("2024-01-01 00:00:03"), 2L, 1.15),
      (1L, t("2024-01-01 00:00:04"), 3L, 1.30),
      (2L, t("2024-01-01 00:00:01"), 4L, 5.00)) // unquoted
      .toDF("symbol", "ts", "trade_id", "price")
    val out = Microstructure.effectiveSpread(trades, quotes).collect()
    val s1 = out.find(_.getAs[Long]("symbol") == 1L).get
    assert(s1.getAs[Long]("n_trades") == 3L &&
      s1.getAs[Long]("n_quoted") == 3L)
    assert(s1.getAs[Double]("avg_eff_spread") == 0.12)
    assert(s1.getAs[Long]("n_inside") == 1L &&
      s1.getAs[Long]("n_outside") == 1L)
    assert(s1.getAs[Double]("inside_share") == 1.0 / 3.0)
    val s2 = out.find(_.getAs[Long]("symbol") == 2L).get
    assert(s2.getAs[Long]("n_quoted") == 0L)
    assert(s2.isNullAt(s2.fieldIndex("avg_eff_spread")))
  }

  test("bipowerVariation: BV from adjacent |return| products, jump " +
      "share from the rounded aggregates, day boundary resets pairs") {
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // day 1: bids 1,2,1,2 → r = ln2, −ln2, ln2: rv = 3ln²2,
    // sum_bp = 2ln²2. day 2 (one tick): no returns at all.
    val tk = ticks(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 0.0),
      (2L, 1L, "2024-01-01 00:00:02", 2.00, 0.0),
      (3L, 1L, "2024-01-01 00:00:03", 1.00, 0.0),
      (4L, 1L, "2024-01-01 00:00:04", 2.00, 0.0),
      (5L, 1L, "2024-01-02 00:00:05", 9.00, 0.0))
    val out = Microstructure.bipowerVariation(tk).collect()
    val d1 = out.find(_.getAs[String]("date") == "2024-01-01").get
    val l2 = math.log(2.0)
    assert(d1.getAs[Long]("n_pairs") == 2L)
    assert(d1.getAs[Double]("rv") == r4(3 * l2 * l2))
    assert(d1.getAs[Double]("sum_bp") == r4(2 * l2 * l2))
    val bv = r4(r4(2 * l2 * l2) * 1.5707963267948966)
    assert(d1.getAs[Double]("bv") == bv)
    assert(d1.getAs[Double]("jump_share") ==
      math.max(0.0, 1.0 - bv / r4(3 * l2 * l2)))
    val d2 = out.find(_.getAs[String]("date") == "2024-01-02").get
    assert(d2.getAs[Long]("n_pairs") == 0L)
  }

  test("realizedMoments: hand-computed skew/kurtosis on a known move " +
      "set; constant day NULL; single-tick day NULL with n_moves 0") {
    // day 1 moves (cents): +100, +100, -200  → m1 = 0, m2 = 60000/3,
    // m3 = (1e6 + 1e6 - 8e6)/3, m4 = (1e8+1e8+16e8)/3
    val df = ticks(
      (1L, 1L, "2024-01-01 00:00:01", 10.00, 10.1),
      (2L, 1L, "2024-01-01 00:00:02", 11.00, 11.1),
      (3L, 1L, "2024-01-01 00:00:03", 12.00, 12.1),
      (4L, 1L, "2024-01-01 00:00:04", 10.00, 10.1),
      // day 2: constant price → zero variance → NULL stats
      (5L, 1L, "2024-01-02 00:00:01", 10.00, 10.1),
      (6L, 1L, "2024-01-02 00:00:02", 10.00, 10.1),
      // day 3: single tick → no moves
      (7L, 1L, "2024-01-03 00:00:01", 10.00, 10.1))
    val out = Microstructure.realizedMoments(df).collect()
    val d1 = out(0)
    assert(d1.getAs[Long]("n_moves") == 3L)
    val m1 = 0.0; val m2 = 60000.0 / 3; val m3 = -6e6 / 3; val m4 = 18e8 / 3
    val v = m2 - m1 * m1
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(d1.getAs[Double]("variance") == r4(v))
    assert(d1.getAs[Double]("skewness") ==
      r4((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / (v * math.sqrt(v))))
    assert(d1.getAs[Double]("ex_kurtosis") ==
      r4((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) /
        (v * v) - 3.0))
    val d2 = out(1)
    assert(d2.getAs[Long]("n_moves") == 1L && d2.isNullAt(4) && d2.isNullAt(5))
    val d3 = out(2)
    assert(d3.getAs[Long]("n_moves") == 0L && d3.isNullAt(3))
  }

  test("volSignature: cascade rungs equal direct per-scale grids; " +
      "non-nested scales rejected") {
    def r4(x: Double) = math.rint(x * 10000) / 10000
    val l2 = math.log(2.0)
    // seconds 0..3, bids 1,2,4,8: scale 1 → returns ln2×3, rv=3ln²2;
    // scale 2 → first ticks of {0,1},{2,3} = bids 1,4 → rv=ln²4=4ln²2
    val tk = ticks(
      (1L, 1L, "2024-01-01 00:00:00", 1.00, 0.0),
      (2L, 1L, "2024-01-01 00:00:01", 2.00, 0.0),
      (3L, 1L, "2024-01-01 00:00:02", 4.00, 0.0),
      (4L, 1L, "2024-01-01 00:00:03", 8.00, 0.0))
    val out = Microstructure.volSignature(tk, Seq(1L, 2L)).collect()
    val s1 = out.find(_.getAs[Long]("scale_s") == 1L).get
    val s2 = out.find(_.getAs[Long]("scale_s") == 2L).get
    assert(s1.getAs[Long]("n_ret") == 3L)
    assert(s1.getAs[Double]("rv") == r4(3 * l2 * l2))
    assert(s1.getAs[Double]("rv_per_ret") == r4(3 * l2 * l2) / 3.0)
    assert(s2.getAs[Long]("n_ret") == 1L)
    assert(s2.getAs[Double]("rv") == r4(4 * l2 * l2))
    intercept[IllegalArgumentException] {
      Microstructure.volSignature(tk, Seq(2L, 3L))
    }
  }

  test("realizedSemivariance: halves split by return sign, zero " +
      "returns join neither, SJ/up_share from rounded halves, " +
      "single-tick day NULL") {
    def r4(x: Double) = math.rint(x * 10000) / 10000
    // day 1: bids 1,2,1,1 → r = ln2, −ln2, 0:
    //   rs_up = ln²2, rs_down = ln²2, zero return in neither half.
    val tk = ticks(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 0.0),
      (2L, 1L, "2024-01-01 00:00:02", 2.00, 0.0),
      (3L, 1L, "2024-01-01 00:00:03", 1.00, 0.0),
      (4L, 1L, "2024-01-01 00:00:04", 1.00, 0.0),
      // day 2: rising only → rs_down = 0, up_share = 1
      (5L, 1L, "2024-01-02 00:00:01", 1.00, 0.0),
      (6L, 1L, "2024-01-02 00:00:02", 4.00, 0.0),
      // day 3: single tick → no returns, NULL halves
      (7L, 1L, "2024-01-03 00:00:01", 9.00, 0.0))
    val out = Microstructure.realizedSemivariance(tk).collect()
    val l2 = math.log(2.0)
    val d1 = out(0)
    assert(d1.getAs[Long]("n_ret") == 3L)
    assert(d1.getAs[Long]("n_up") == 1L && d1.getAs[Long]("n_down") == 1L)
    assert(d1.getAs[Double]("rs_up") == r4(l2 * l2))
    assert(d1.getAs[Double]("rs_down") == r4(l2 * l2))
    assert(d1.getAs[Double]("signed_jump") == 0.0)
    assert(d1.getAs[Double]("up_share") == 0.5)
    val d2 = out(1)
    assert(d2.getAs[Double]("rs_down") == 0.0)
    assert(d2.getAs[Double]("up_share") == 1.0)
    assert(d2.getAs[Double]("signed_jump") == r4(math.log(4.0) *
      math.log(4.0)))
    val d3 = out(2)
    assert(d3.getAs[Long]("n_ret") == 0L)
    assert(d3.isNullAt(d3.fieldIndex("rs_up")))
    assert(d3.isNullAt(d3.fieldIndex("up_share")))
  }

  test("medianRealizedVariance: med3 = a+b+c−max−min over |returns|, " +
      "MedRV scales the rounded Σmed² by the hard constant and " +
      "N/(N−2), short days NULL") {
    def r4(x: Double) = math.rint(x * 10000) / 10000
    // day 1: bids 1,2,1,2,1,2 → r = ln2,−ln2,ln2,−ln2,ln2 (5 returns,
    // 3 triplets, every |r| = ln2 → med3 = ln2 each).
    val rows = (1 to 6).map { i =>
      (i.toLong, 1L, f"2024-01-01 00:00:$i%02d",
        if (i % 2 == 0) 2.00 else 1.00, 0.0)
    } ++ Seq(
      // day 2: 3 ticks → 2 returns → 0 triplets → NULL medrv
      (7L, 1L, "2024-01-02 00:00:01", 1.00, 0.0),
      (8L, 1L, "2024-01-02 00:00:02", 2.00, 0.0),
      (9L, 1L, "2024-01-02 00:00:03", 4.00, 0.0))
    val out = Microstructure.medianRealizedVariance(ticks(rows: _*))
      .collect()
    val l2 = math.log(2.0)
    val d1 = out(0)
    assert(d1.getAs[Long]("n_trip") == 3L)
    assert(d1.getAs[Double]("rv") == r4(5 * l2 * l2))
    assert(d1.getAs[Double]("sum_med2") == r4(3 * l2 * l2))
    val expected = r4(1.4193583020224412 * r4(3 * l2 * l2) * (3.0 / 1.0))
    assert(d1.getAs[Double]("medrv") == expected)
    assert(d1.getAs[Double]("med_jump_share") ==
      math.max(0.0, 1.0 - expected / r4(5 * l2 * l2)))
    val d2 = out(1)
    assert(d2.getAs[Long]("n_trip") == 0L)
    assert(d2.isNullAt(d2.fieldIndex("medrv")))
    assert(d2.isNullAt(d2.fieldIndex("med_jump_share")))
  }

  test("bnsJumpTest: z replicates the hand-built BNS ratio statistic " +
      "from the rounded RV/BV/TQ aggregates; pairless days NULL") {
    def r4(x: Double) = math.rint(x * 10000) / 10000
    // day 1: bids 1,2,1,2,1,2 → 5 returns all |ln2|, 4 bipower
    // pairs, 3 tri-power triplets (each term = (ln2^(4/3))^3).
    val rows = (1 to 6).map { i =>
      (i.toLong, 1L, f"2024-01-01 00:00:$i%02d",
        if (i % 2 == 0) 2.00 else 1.00, 0.0)
    } ++ Seq(
      // day 2: 2 ticks → 1 return, 0 pairs → bv NULL → z NULL.
      (7L, 1L, "2024-01-02 00:00:01", 1.00, 0.0),
      (8L, 1L, "2024-01-02 00:00:02", 2.00, 0.0))
    val out = Microstructure.bnsJumpTest(ticks(rows: _*)).collect()
    val l2 = math.log(2.0)
    val x = math.pow(l2, 1.3333333333333333)
    val d1 = out(0)
    assert(d1.getAs[Long]("n_ret") == 5L && d1.getAs[Long]("n_trip") == 3L)
    val rv = r4(5 * l2 * l2)
    val bv = r4(r4(4 * l2 * l2) * 1.5707963267948966)
    val tq = r4(1.7434720745319836 * 3.0 * r4(3 * x * x * x))
    assert(d1.getAs[Double]("rv") == rv)
    assert(d1.getAs[Double]("bv") == bv)
    assert(d1.getAs[Double]("tq") == tq)
    val z = r4((1.0 - bv / rv) / math.sqrt(0.6089937538621326 *
      math.max(1.0, tq / (bv * bv)) / 5.0))
    assert(d1.getAs[Double]("z_stat") == z)
    assert(d1.getAs[Boolean]("jump_99") == (z > 2.3263))
    val d2 = out(1)
    assert(d2.getAs[Long]("n_ret") == 1L)
    assert(d2.isNullAt(d2.fieldIndex("bv")))
    assert(d2.isNullAt(d2.fieldIndex("z_stat")))
    assert(d2.isNullAt(d2.fieldIndex("jump_99")))
  }

  test("seasonalAnomaly: z against the minute-of-day baseline by " +
      "hand; only outliers emit") {
    // minute-0 moves: 1,1,1,10 → μ=3.25, σ_samp=4.5; z(10)=1.5,
    // z(1)=−0.5 — threshold 1.4 flags only the 10-cent move.
    val out = Microstructure.seasonalAnomaly(ticks(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 0.0),
      (2L, 1L, "2024-01-01 00:00:02", 1.01, 0.0),
      (3L, 1L, "2024-01-01 00:00:03", 1.02, 0.0),
      (4L, 1L, "2024-01-01 00:00:04", 1.03, 0.0),
      (5L, 1L, "2024-01-01 00:00:05", 1.13, 0.0)), 1.4).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("tick_id") == 5L &&
      r.getAs[Int]("minute_od") == 0 &&
      r.getAs[Double]("mv") == 10.0 &&
      r.getAs[Double]("zscore") == 1.5)
  }

  test("participationCurve: exact-bps hourly shares with running " +
      "cumulative; zero-volume symbols NULL") {
    val out = Microstructure.participationCurve(events(
      (1L, 1L, "2024-01-01 01:10:00", 1.0, 10),
      (2L, 1L, "2024-01-01 01:20:00", 1.0, 20),
      (3L, 1L, "2024-01-02 02:00:00", 1.0, 30),
      (4L, 2L, "2024-01-01 03:00:00", 1.0, 0))).collect()
    val h1 = out(0)
    assert(h1.getAs[Int]("hour_od") == 1 &&
      h1.getAs[Long]("n_trades") == 2L &&
      h1.getAs[Long]("hour_qty") == 30L &&
      h1.getAs[Long]("share_bp") == 5000L &&
      h1.getAs[Long]("cum_share_bp") == 5000L)
    val h2 = out(1)
    assert(h2.getAs[Int]("hour_od") == 2 &&
      h2.getAs[Long]("share_bp") == 5000L &&
      h2.getAs[Long]("cum_share_bp") == 10000L)
    val s2 = out(2)
    assert(s2.getAs[Long]("symbol") == 2L &&
      s2.isNullAt(s2.fieldIndex("share_bp")) &&
      s2.isNullAt(s2.fieldIndex("cum_share_bp")))
  }

  test("flowPersistenceCurve: repeat fractions over the nonzero-sign " +
      "sequence at each lag; zero moves are transparent; pairless " +
      "symbols NULL") {
    // cents 100,101,102,101,101,102,103 → nonzero signs
    // [+1,+1,−1,+1,+1] (the equal pair at t4/t5 is transparent).
    val rows = Seq(1.00, 1.01, 1.02, 1.01, 1.01, 1.02, 1.03)
      .zipWithIndex.map { case (b, i) =>
        ((i + 1).toLong, 1L, f"2024-01-01 00:00:0${i + 1}", b, 0.0)
      } ++ Seq(
      (11L, 2L, "2024-01-01 00:00:01", 1.00, 0.0),
      (12L, 2L, "2024-01-01 00:00:02", 1.01, 0.0))
    val out = Microstructure.flowPersistenceCurve(ticks(rows: _*),
      Seq(1, 2)).collect()
    val m = out.map(r => (r.getAs[Long]("symbol"), r.getAs[Int]("lag")) -> r)
      .toMap
    val s1l1 = m((1L, 1))
    assert(s1l1.getAs[Long]("n_pairs") == 4L &&
      s1l1.getAs[Long]("n_repeat") == 2L &&
      s1l1.getAs[Double]("p_repeat") == 0.5)
    val s1l2 = m((1L, 2))
    assert(s1l2.getAs[Long]("n_pairs") == 3L &&
      s1l2.getAs[Long]("n_repeat") == 1L &&
      s1l2.getAs[Double]("p_repeat") == 1.0 / 3.0)
    val s2l1 = m((2L, 1))
    assert(s2l1.getAs[Long]("n_pairs") == 0L &&
      s2l1.isNullAt(s2l1.fieldIndex("p_repeat")))
  }

  test("responseFunction: hand-built R(1)/R(2) — zero moves and the " +
      "first tick carry no sign, tail ticks without the lead drop") {
    // cents: 100, 102, 101, 103, 103, 105
    // signs:   -,  +1,  -1,  +1,   -,  +1 (t5 zero move, t1 first)
    val out = Microstructure.responseFunction(ticks(
      (1L, 1L, "2024-01-01 00:00:01", 1.00, 0.0),
      (2L, 1L, "2024-01-01 00:00:02", 1.02, 0.0),
      (3L, 1L, "2024-01-01 00:00:03", 1.01, 0.0),
      (4L, 1L, "2024-01-01 00:00:04", 1.03, 0.0),
      (5L, 1L, "2024-01-01 00:00:05", 1.03, 0.0),
      (6L, 1L, "2024-01-01 00:00:06", 1.05, 0.0)), Seq(1, 2)).collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[Int]("lag") == 1)
    // t2: +1·(101−102) = −1; t3: −1·(103−101) = −2; t4: +1·0 = 0
    assert(r1.getAs[Long]("n_obs") == 3L)
    assert(r1.getAs[Double]("resp_cents") == -1.0)
    val r2 = out(1)
    assert(r2.getAs[Int]("lag") == 2)
    // t2: +1·(103−102) = 1; t3: −1·(103−101) = −2; t4: +1·(105−103) = 2
    assert(r2.getAs[Long]("n_obs") == 3L)
    assert(r2.getAs[Double]("resp_cents") == 1.0 / 3.0)
  }

  test("overnightIntraday: exact-sum variances of gap vs session moves, " +
      "single-day symbols report NULL") {
    // symbol 1 daily (open, close) cents:
    //   d1 (100, 110), d2 (112, 109), d3 (115, 120)
    //   r_on = [2, 6]        → var = ((4+36) − 8²/2) / 1 = 8
    //   r_id = [10, −3, 5]   → var = (134 − 12²/3) / 2 = 43
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1.00), // d1 open
      (2L, 1L, "2024-01-01 15:00:00", 1.10), // d1 close
      (3L, 1L, "2024-01-02 10:00:00", 1.12),
      (4L, 1L, "2024-01-02 15:00:00", 1.09),
      (5L, 1L, "2024-01-03 10:00:00", 1.15),
      (6L, 1L, "2024-01-03 15:00:00", 1.20),
      (7L, 2L, "2024-01-01 10:00:00", 5.00), // one day only
      (8L, 2L, "2024-01-01 15:00:00", 5.50))
      .map { case (id, sym, ts, b) => (id, sym, ts, b, b + 0.01) }
    val out = Microstructure.overnightIntraday(ticks(rows: _*))
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out == Seq(
      (1L, 3L, Some(8.0), Some(43.0), Some(math.rint(8.0 / 51.0 * 1e4) / 1e4)),
      (2L, 1L, None, None, None))) // 1 day: both vars need n > 1
  }

  test("neweyWestVariance: bid-bounce series — negative lag-1 autocov " +
      "shrinks the long-run variance; missing lags give NULL, zero " +
      "gamma0 gives NULL inflation") {
    // symbol 1 moves d = [1,−1,1,−1] (m = 0): γ = [1, −0.75, 0.5,
    // −0.25]; Bartlett L=3 → σ² = 1 − 2·0.75·0.75 + 2·0.5·0.5
    // − 2·0.25·0.25 = 0.25 — bounce noise, so long-run < naive.
    // symbol 2 has 2 moves: no lag-3 pairs → NULL σ²; constant moves
    // → γ₀ = 0 → NULL inflation.
    val rows = Seq(
      (1L, 1L, "2024-01-01 00:00:01", 1.00), (2L, 1L, "2024-01-01 00:00:02", 1.01),
      (3L, 1L, "2024-01-01 00:00:03", 1.00), (4L, 1L, "2024-01-01 00:00:04", 1.01),
      (5L, 1L, "2024-01-01 00:00:05", 1.00),
      (6L, 2L, "2024-01-01 00:00:01", 2.00), (7L, 2L, "2024-01-01 00:00:02", 2.01),
      (8L, 2L, "2024-01-01 00:00:03", 2.02))
      .map { case (id, sym, ts, b) => (id, sym, ts, b, b + 0.01) }
    val out = Microstructure.neweyWestVariance(ticks(rows: _*), 3)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out == Seq(
      (1L, 4L, Some(1.0), Some(0.25), Some(0.25)),
      (2L, 2L, Some(0.0), None, None)))
  }

  test("impactExponent: OLS slope of ln|slip| on ln(participation) " +
      "matches the scalar re-derivation; singular fills excluded") {
    val ev = events(
      (20L, 1L, "2024-01-01 10:00:00", 1.00, 10),
      (21L, 1L, "2024-01-01 10:30:00", 1.02, 30),
      (40L, 1L, "2024-01-01 11:00:00", 1.04, 10),
      (60L, 1L, "2024-01-01 12:00:00", 1.03, 5),
      (80L, 1L, "2024-01-01 13:00:00", 0.99, 45),
      // symbol 2: two fills at EQUAL participation → x-variance 0
      (100L, 2L, "2024-01-01 10:00:00", 5.00, 10),
      (120L, 2L, "2024-01-01 11:00:00", 5.10, 10),
      (121L, 2L, "2024-01-01 12:00:00", 5.05, 20))
    val out = Microstructure.impactExponent(ev, 20)
      .as[(Long, Long, Option[Double])].collect().toSeq
    // scalar re-derivation from the same tape math
    val dayQty = 100L; val dayPv = 10070L
    val fills = Seq((100L, 10L), (104L, 10L), (103L, 5L), (99L, 45L))
    val pts = fills.map { case (c, k) =>
      (math.log(k.toDouble / dayQty),
        math.log(math.abs((c * dayQty - dayPv) * 10000L.toDouble / dayPv)))
    }
    val n = pts.size
    val mx = pts.map(_._1).sum / n; val my = pts.map(_._2).sum / n
    val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
      pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 4L), (2L, 2L)))
    assert(math.abs(out.head._3.get - slope) < 1e-3)
    assert(out(1)._3.isEmpty) // equal participations → zero x-var → NULL
  }

  test("spreadDecomposition: eff = realized + impact exactly; " +
      "midpoint trades and unsettled tail trades are excluded") {
    val quotes = Seq(
      (1L, t("2024-01-01 00:00:01"), 100L, 1.00, 1.02), // mid2 202
      (1L, t("2024-01-01 00:00:03"), 101L, 1.01, 1.03), // mid2 204
      (1L, t("2024-01-01 00:00:05"), 102L, 1.02, 1.04)) // mid2 206
      .toDF("symbol", "ts", "quote_id", "bid", "ask")
    val trades = Seq(
      (1L, t("2024-01-01 00:00:02"), 1L, 1.02), // buy at 204 > 202
      (1L, t("2024-01-01 00:00:04"), 2L, 1.01), // sell at 202 < 204
      (1L, t("2024-01-01 00:00:06"), 3L, 1.03), // AT mid 206 → excluded
      (1L, t("2024-01-01 00:00:07"), 4L, 1.04)) // no next trade → out
      .toDF("symbol", "ts", "trade_id", "price")
    val out = Microstructure.spreadDecomposition(trades, quotes, 1)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // T1: eff2 +2, real2 0, imp2 +2; T2: eff2 +2, real2 +4, imp2 −2.
    // averages over 2 signed trades, ÷2 to cents, ÷1e4 to dollars.
    assert(out == Seq((1L, 2L, 0.0001, 0.0001, 0.0)))
    assert(out.head._3 == out.head._4 + out.head._5) // the identity
  }

  test("clockKurtosis: re-derived moments on both clocks; the bar " +
      "clock absorbs the jump that fattens the time-clock tail") {
    def kurt(moves: Seq[Double]): Option[Double] = {
      val n = moves.size.toDouble
      val m1 = moves.sum / n
      val m2 = moves.map(d => d * d).sum / n
      val m3 = moves.map(d => d * d * d).sum / n
      val m4 = moves.map(d => d * d * d * d).sum / n
      val v = m2 - m1 * m1
      if (v <= 0) None
      else Some(math.rint(((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
        - 3.0 * m1 * m1 * m1 * m1) / (v * v) - 3.0) * 1e4) / 1e4)
    }
    // one +50 jump among ±1 bounces; barQty=4 with k=1 per trade
    val cents = Seq(100, 101, 100, 101, 100, 150, 149, 150, 149, 150,
      149, 150, 149)
    val ev = events(cents.zipWithIndex.map { case (c, i) =>
      ((i + 1).toLong, 1L, f"2024-01-01 10:00:${i}%02d", c / 100.0, 1)
    }: _*)
    val out = Microstructure.clockKurtosis(ev, 4L).collect().head
    val tMoves = cents.sliding(2).map(p => (p(1) - p(0)).toDouble).toSeq
    // bars close at trades 4/8/12 (101, 150, 150), partial bar at 149
    val vMoves = Seq(49.0, 0.0, -1.0)
    assert(out.getAs[Long]("n_time") == 12L)
    assert(Option(out.getAs[java.lang.Double]("kurt_time"))
      .map(_.toDouble) == kurt(tMoves))
    assert(out.getAs[Long]("n_vol") == 3L)
    assert(Option(out.getAs[java.lang.Double]("kurt_vol"))
      .map(_.toDouble) == kurt(vMoves))
    // the jump dominates calendar time but spreads into one bar move
    assert(kurt(tMoves).get > kurt(vMoves).get)
  }

  test("runningVwapSlippage: benchmark is the vwap-so-far inclusive " +
      "of the fill — first fill scores zero, later fills score " +
      "against accumulated tape only") {
    val ev = events(
      (20L, 1L, "2024-01-01 10:00:00", 1.00, 10),  // fill: vwap-so-far 100
      (21L, 1L, "2024-01-01 11:00:00", 1.02, 30),
      (40L, 1L, "2024-01-01 12:00:00", 1.04, 10),  // fill: vwap-so-far 102
      (60L, 1L, "2024-01-01 13:00:00", 9.99, 0),   // quote, never counted
      (22L, 2L, "2024-01-01 10:00:00", 5.00, 5))   // no fill-aligned id
    val out = Microstructure.runningVwapSlippage(ev, 20)
      .as[(Long, Long, String, Long, Long, Double, Double)]
      .collect().toSeq
    assert(out == Seq(
      (1L, 20L, "2024-01-01", 100L, 10L, 100.0, 0.0),
      (1L, 40L, "2024-01-01", 104L, 50L, 102.0,
        (104L * 50L - 5100L) * 10000L / 5100.0)))
  }

  test("vwapSlippage: signed bp vs the day VWAP from exact int sums; " +
      "zero-qty events join neither tape nor fills") {
    // day tape (symbol 1): 100c×10 + 102c×30 + 104c×10 → VWAP 102c.
    val ev = events(
      (20L, 1L, "2024-01-01 10:00:00", 1.00, 10),  // fill (20 % 20 = 0)
      (21L, 1L, "2024-01-01 11:00:00", 1.02, 30),
      (40L, 1L, "2024-01-01 12:00:00", 1.04, 10),  // fill
      (60L, 1L, "2024-01-01 13:00:00", 9.99, 0),   // quote: k = 0
      (22L, 2L, "2024-01-01 10:00:00", 5.00, 5))   // no fill-aligned id
    val out = Microstructure.vwapSlippage(ev, 20)
      .as[(Long, Long, String, Long, Long, Double, Double)]
      .collect().toSeq
    assert(out == Seq(
      (1L, 20L, "2024-01-01", 100L, 50L, 102.0,
        (100L * 50L - 5100L) * 10000L / 5100.0),
      (1L, 40L, "2024-01-01", 104L, 50L, 102.0,
        (104L * 50L - 5100L) * 10000L / 5100.0)))
    assert(out.head._7 < 0 && out(1)._7 > 0) // buy below / above VWAP
  }

  test("vwapSlippage, runningVwapSlippage and impactExponent: a day " +
      "whose trades are all priced 0.00 scores NULL slippage (the " +
      "oracle's x / 0) instead of failing the report") {
    val ev = events(
      (20L, 1L, "2024-01-01 10:00:00", 1.00, 10),  // fill on a priced day
      (21L, 1L, "2024-01-01 11:00:00", 1.02, 30),
      (40L, 1L, "2024-01-02 10:00:00", 0.00, 5),   // fill, zero-priced day
      (41L, 1L, "2024-01-02 11:00:00", 0.00, 3))
    def slips(df: org.apache.spark.sql.DataFrame) =
      df.select("fill_id", "slip_bp").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val day = Microstructure.vwapSlippage(ev, 20)
    assert(slips(day) == Map(
      20L -> Some((100L * 40L - 4060L) * 10000L / 4060.0), 40L -> None))
    assert(day.filter("fill_id = 40").select("vwap_cents").head().getDouble(0) == 0.0)
    assert(slips(Microstructure.runningVwapSlippage(ev, 20)) ==
      Map(20L -> Some(0.0), 40L -> None))
    // the NULL slip drops with the zero-slip fills (ln singularity)
    val imp = Microstructure.impactExponent(ev, 20).collect()
    assert(imp.map(_.getLong(0)).toSeq == Seq(1L) && imp.head.getLong(1) == 1L)
  }

  test("reversalSpread: losers/winners by PREVIOUS-day rank, spread " +
      "from rounded finals; an under-populated day reports NULL " +
      "winner and spread") {
    // day1 ret for symbol s = s*100 bp (sets day2's ranking);
    // day2 ret for symbol s = (6-s)*100 bp ⇒ yesterday's loser
    // (s=1) earns 500 bp, yesterday's winner (s=5) earns 100 bp.
    // day3 has only symbols 1-2 ⇒ ntile(5) never fills bucket 5.
    val rows = (1 to 5).flatMap { s =>
      Seq(
        (s * 10L + 1, s.toLong, "2024-01-01 10:00:00", 1.00, 1.01),
        (s * 10L + 2, s.toLong, "2024-01-01 11:00:00", 1.00 + s * 0.01, 1.2),
        (s * 10L + 3, s.toLong, "2024-01-02 10:00:00", 1.00, 1.01),
        (s * 10L + 4, s.toLong, "2024-01-02 11:00:00", 1.00 + (6 - s) * 0.01, 1.2))
    } ++ Seq(
      (101L, 1L, "2024-01-03 10:00:00", 1.00, 1.01),
      (102L, 1L, "2024-01-03 11:00:00", 1.02, 1.03),
      (103L, 2L, "2024-01-03 10:00:00", 1.00, 1.01),
      (104L, 2L, "2024-01-03 11:00:00", 1.01, 1.02))
    val out = Microstructure.reversalSpread(ticks(rows: _*), 5)
      .collect().map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("n_symbols"), Option(r.getAs[java.lang.Double]("loser_bp")),
          Option(r.getAs[java.lang.Double]("winner_bp")),
          Option(r.getAs[java.lang.Double]("reversal_spread_bp")))).toMap
    assert(out("2024-01-02") ==
      (5L, Some(500.0), Some(100.0), Some(400.0)))
    val d3 = out("2024-01-03")
    assert(d3._1 == 2L && d3._3.isEmpty && d3._4.isEmpty)
    // day-3 ranking: symbol 1's day-2 ret (500bp) > symbol 2's
    // (400bp) ⇒ q1 = symbol 2, whose day-3 ret is 100 bp
    assert(d3._2 == Some(100.0))
  }

  test("leverageEffect: hand-computed corr on a signed/magnitude " +
      "series; constant symbol reports NULL") {
    // Symbol 1 cents: 100, 102, 101, 104, 102, 107 ⇒
    // d = [+2, −1, +3, −2, +5]; pairs (d, |d_next|):
    // (2,1), (−1,3), (3,2), (−2,5) — n=4
    // Σx=2 Σy=11 Σxy=(2−3+6−10)=−5 Σx²=18 Σy²=39
    // cov = −5 − 2·11/4 = −10.5; vx = 18 − 1 = 17; vy = 39 − 121/4 = 8.75
    // corr = −10.5/√(17·8.75) = −0.860983… → −0.8610
    val prices = Seq(1.00, 1.02, 1.01, 1.04, 1.02, 1.07)
    val rows = prices.zipWithIndex.map { case (p, i) =>
      ((i + 1).toLong, 1L, f"2024-01-01 00:00:${i + 1}%02d", p, p + 0.01)
    } ++ (1 to 4).map { i => // constant symbol: every d = 0, vx = 0
      ((i + 100).toLong, 2L, f"2024-01-01 00:00:$i%02d", 5.00, 5.01)
    }
    val out = Microstructure.leverageEffect(ticks(rows: _*)).collect()
    val s1 = out.find(_.getAs[Long]("symbol") == 1L).get
    assert(s1.getAs[Long]("n_pairs") == 4L)
    assert(s1.getAs[Double]("leverage_corr") ==
      math.rint(-10.5 / math.sqrt(17.0 * 8.75) * 1e4) / 1e4)
    val s2 = out.find(_.getAs[Long]("symbol") == 2L).get
    assert(s2.isNullAt(s2.fieldIndex("leverage_corr")))
  }

  test("volumeVolElasticity: move == volume days fit slope exactly 1; " +
      "zero-volume and zero-move days drop; overnight gap excluded") {
    // Symbol 1: three days, each day two prints so the within-day
    // |Δcents| mass equals the chosen move; volumes equal the move ⇒
    // ln(move) = ln(vol) exactly ⇒ OLS slope 1. Day boundaries carry
    // a huge level jump that MUST NOT enter any day's move.
    val rows = Seq(
      // day 1: 100 → 102 cents (move 2), k: 1 + 1 (vol 2)
      (1L, 1L, "2024-01-01 10:00:00", 1.00, 1),
      (2L, 1L, "2024-01-01 11:00:00", 1.02, 1),
      // day 2: 900 → 904 (move 4), vol 4
      (3L, 1L, "2024-01-02 10:00:00", 9.00, 2),
      (4L, 1L, "2024-01-02 11:00:00", 9.04, 2),
      // day 3: 100 → 108 (move 8), vol 8
      (5L, 1L, "2024-01-03 10:00:00", 1.00, 3),
      (6L, 1L, "2024-01-03 11:00:00", 1.08, 5),
      // symbol 2: a zero-volume day and a zero-move day only → no rows
      (7L, 2L, "2024-01-01 10:00:00", 1.00, 0),
      (8L, 2L, "2024-01-01 11:00:00", 1.05, 0),
      (9L, 2L, "2024-01-02 10:00:00", 2.00, 5),
      (10L, 2L, "2024-01-02 11:00:00", 2.00, 5))
    val out = Microstructure.volumeVolElasticity(events(rows: _*))
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("symbol") == 1L)
    assert(out.head.getAs[Long]("n_days") == 3L)
    assert(out.head.getAs[Double]("elasticity") == 1.0)
  }

  test("volCones: rolling-RV quantile bands per horizon — exact " +
      "interpolated percentiles on the hand-traced series, partial " +
      "windows excluded") {
    // daily rv = [1,4,9,16,25,36] (one Δ=k-cent move per day).
    // h=1: band over the six values — p25 = 5.25, med = 12.5,
    // p75 = 22.75. h=5: windows [55, 90] — p25 = 63.75, med = 72.5.
    val rows = (1 to 6).flatMap { i =>
      val day = f"2024-01-${i}%02d"
      Seq((i * 10L + 1, 1L, s"$day 10:00:00", 1.00, 9.9),
        (i * 10L + 2, 1L, s"$day 11:00:00", 1.00 + i * 0.01, 9.9))
    }
    val out = Microstructure.volCones(ticks(rows: _*), Seq(1, 5))
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getLong(7)))).toMap
    assert(out(1) == ((6L, 1L, 5.25, 12.5, 22.75, 36L)))
    assert(out(5) == ((2L, 55L, 63.75, 72.5, 81.25, 90L)),
      "only FULL 5-day windows may enter the long-horizon cone")
  }

  test("harRv: hand-solved 2x2 normal equations — rv path " +
      "[1,1,1,1,1,4,1,4] fits y = 5 − x1 exactly (beta_d=−1, " +
      "beta_w=0, R²=1); a constant-rv symbol reports NULLs") {
    // Regression rows (full 5-day window): (y,x1,x2) = (4,1,5),
    // (1,4,8), (4,1,8). Centered moments: C11=6 C22=6 C12=3
    // C1y=−6 C2y=−3 Cyy=6 ⇒ det=27, beta_d=−27/27=−1,
    // beta_w=0/27=0, R²=6/6=1 — every division exact in doubles.
    val rvs1 = Seq(1, 1, 1, 1, 1, 4, 1, 4) // Δcents per day = √rv
    val rows = rvs1.zipWithIndex.flatMap { case (rv, i) =>
      val day = f"2024-01-${i + 1}%02d"
      val dlt = math.sqrt(rv).toInt
      Seq((i * 10L + 1, 1L, s"$day 10:00:00", 1.00, 9.9),
        (i * 10L + 2, 1L, s"$day 11:00:00", 1.00 + dlt * 0.01, 9.9),
        (i * 10L + 3, 2L, s"$day 10:00:00", 1.00, 9.9),
        (i * 10L + 4, 2L, s"$day 11:00:00", 1.01, 9.9))
    }
    val out = Microstructure.harRv(ticks(rows: _*), 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getAs[java.lang.Double]("beta_d")),
          Option(r.getAs[java.lang.Double]("beta_w")),
          Option(r.getAs[java.lang.Double]("r2"))))).toMap
    assert(out(1L) == ((3L, Some(-1.0), Some(0.0), Some(1.0))))
    val s2 = out(2L)
    assert(s2._1 == 3L && s2._2.isEmpty && s2._3.isEmpty &&
      s2._4.isEmpty, "constant rv ⇒ det = 0 ⇒ NULL fit")
  }

  test("pairsBacktest: exact z path (β=1, σ=20 by construction) — " +
      "spike enters short at z=2.0, exits at |z|<=0.5, P&L = the " +
      "spread give-back; a sub-threshold pair never trades") {
    // Pair (1,2): cb = [100,200,150,200,100] cents, spread
    // s = [10,10,60,10,10] (orthogonal to cb by construction ⇒ the
    // OLS β is EXACTLY 1; mean_s = 20, var_s = 400, σ = 20) ⇒
    // z = [−.5, −.5, 2.0, −.5, −.5]: day 3 enters pos −1 (rich
    // spread), day 4 exits; pnl = (−1)·(10 − 60) = +50.
    // Pair (3,4): dev pattern [−10,10,0,−10,10] ⇒ |z| ≤ 1.12, and
    // 1.12 is between exit (0.5) and entry (2.0) ⇒ never trades.
    val cb = Seq(100, 200, 150, 200, 100)
    val ca1 = Seq(110, 210, 210, 210, 110)
    val ca2 = Seq(110, 230, 170, 210, 130)
    val rows = (0 until 5).flatMap { i =>
      val day = f"2024-01-${i + 1}%02d 10:00:00"
      Seq((i * 10L + 1, 1L, day, ca1(i) / 100.0, 9.9),
        (i * 10L + 2, 2L, day, cb(i) / 100.0, 9.9),
        (i * 10L + 3, 3L, day, ca2(i) / 100.0, 9.9),
        (i * 10L + 4, 4L, day, cb(i) / 100.0, 9.9))
    }
    val out = Microstructure.pairsBacktest(ticks(rows: _*),
        Seq((1L, 2L), (3L, 4L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out((1L, 2L)) == ((5L, 1L, 1L, 50.0)))
    assert(out((3L, 4L)) == ((5L, 0L, 0L, 0.0)))
  }

  test("cointegrationScreen: hand-computed hedge ratio, intercept-" +
      "consistent residual AR(1); constant-b pairs dropped; " +
      "negative rho reports NULL half-life") {
    // Pair (1,2): b-leg (sym 2) closes 100/200/300 cents, a-leg
    // (sym 1) 200/410/590 = 2x + [0,+10,−10].
    // Σx=600 Σy=1200 Σxy=279000 Σxx=140000 ⇒ vx=20000, cxy=39000
    // beta = 1.95, alpha = 400 − 1.95·200 = 10
    // e = [−5, 10, −5] ⇒ s_cross = −100, s_lag2 = 125 ⇒ rho = −0.8
    // (not in (0,1) ⇒ half-life NULL).
    // Sym 4 is constant ⇒ every (a, 4) pair has vx = 0 ⇒ dropped.
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 2.00, 2.1),
      (2L, 1L, "2024-01-02 10:00:00", 4.10, 4.2),
      (3L, 1L, "2024-01-03 10:00:00", 5.90, 6.0),
      (4L, 2L, "2024-01-01 10:00:00", 1.00, 1.1),
      (5L, 2L, "2024-01-02 10:00:00", 2.00, 2.1),
      (6L, 2L, "2024-01-03 10:00:00", 3.00, 3.1),
      (7L, 4L, "2024-01-01 10:00:00", 1.00, 1.1),
      (8L, 4L, "2024-01-02 10:00:00", 1.00, 1.1),
      (9L, 4L, "2024-01-03 10:00:00", 1.00, 1.1))
    val out = Microstructure.cointegrationScreen(ticks(rows: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3),
          Option(r.getAs[java.lang.Double]("rho")),
          Option(r.getAs[java.lang.Double]("half_life_days"))))).toMap
    assert(out((1L, 2L)) == ((3L, 1.95, Some(-0.8), None)))
    assert(!out.contains((1L, 4L)) && !out.contains((2L, 4L)),
      "constant b-leg pairs must drop with NULL beta")
    // (4, a>4) pairs do not exist here (no symbols above 4), and the
    // a-leg-constant direction (4 as a) keeps its pair only when the
    // b-leg varies — not applicable in this roster either way.
    assert(out.keySet == Set((1L, 2L)))
  }

  test("cointegrationScreenBlocked: banding keeps only shared-band " +
      "pairs, and every survivor carries the exact screen's stats") {
    // 4 symbols x 12 days, bands = 2 x 3 bits. Up-move bits per
    // consecutive day pair (2b, 2b+1):
    //   sym1: 1,0,1 | 0,1,0  -> bands (5, 2)
    //   sym2 = 2*sym1 + 10   -> same bits -> both bands match sym1
    //   sym3: 0,1,0 | 1,0,1  -> bands (2, 5): band_idx differs, no match
    //   sym4: 1,0,1 | 1,1,1  -> bands (5, 7): band0 matches sym1/sym2
    // Expected candidates: (1,2), (1,4), (2,4) of the 6 grid pairs.
    val s1 = Seq(100, 110, 120, 115, 110, 130, 140, 135, 130, 150, 160, 155)
    val s2 = s1.map(2 * _ + 10)
    val s3 = Seq(200, 190, 180, 195, 210, 205, 195, 220, 230, 225, 220, 240)
    val s4 = Seq(500, 510, 520, 515, 510, 530, 540, 545, 545, 550, 550, 560)
    val rows = Seq((1L, s1), (2L, s2), (3L, s3), (4L, s4)).flatMap {
      case (sym, cs) => cs.zipWithIndex.map { case (c, d) =>
        (sym * 100 + d, sym, f"2024-01-${d + 1}%02d 10:00:00",
          c / 100.0, 9.9)
      }
    }
    val df = ticks(rows: _*)
    def keyed(out: org.apache.spark.sql.DataFrame) =
      out.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.toSeq)).toMap
    val blocked = keyed(
      Microstructure.cointegrationScreenBlocked(df, bands = 2, bandBits = 3))
    assert(blocked.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    val exact = keyed(Microstructure.cointegrationScreen(df))
    assert(exact.size == 6)
    // zero false positives: a survivor's row is the exact screen's row
    blocked.foreach { case (k, v) => assert(exact(k) == v) }
    // sampled screen (mod 2 → symbols 2, 4): the one surviving pair
    // carries the exact screen's row bit-for-bit — the sample is a
    // roster filter before the grid, never a math change
    val sampled = keyed(
      Microstructure.cointegrationScreenSampled(df, sampleMod = 2))
    assert(sampled.keySet == Set((2L, 4L)))
    sampled.foreach { case (k, v) => assert(exact(k) == v) }
  }

  test("D93 ewmaVolGrid: the lambda recurrence equals the hand fold, " +
      "MSE averages the out-of-sample errors, single-day symbols drop") {
    // symbol 1: day rvs 100^2=10000, (200^2+100^2)=50000, 300^2=90000
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 10.00, 10.1),
      (2L, 1L, "2024-01-01 16:00:00", 11.00, 11.1),   // +100 c
      (3L, 1L, "2024-01-02 10:00:00", 10.00, 10.1),
      (4L, 1L, "2024-01-02 12:00:00", 12.00, 12.1),   // +200 c
      (5L, 1L, "2024-01-02 16:00:00", 13.00, 13.1),   // +100 c
      (6L, 1L, "2024-01-03 10:00:00", 10.00, 10.1),
      (7L, 1L, "2024-01-03 16:00:00", 13.00, 13.1),   // +300 c
      (8L, 2L, "2024-01-01 10:00:00", 5.00, 5.1),
      (9L, 2L, "2024-01-01 16:00:00", 5.50, 5.6))     // 1 day only
    val out = Microstructure.ewmaVolGrid(ticks(rows: _*), Seq(0.5))
      .as[(Long, Double, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(1L), "single-day symbol 2 must drop")
    val (rv1, rv2, rv3) = (10000.0, 50000.0, 90000.0)
    var f = rv1; var err = 0.0
    for (rv <- Seq(rv2, rv3)) {
      err += (f - rv) * (f - rv); f = 0.5 * f + 0.5 * rv
    }
    val r = out.head
    assert(r._3 == 3L)
    assert(r._4 == err / 2.0, s"mse: ${r._4} want ${err / 2.0}")
    assert(r._5 == f, s"f_next: ${r._5} want $f")
  }

  test("D91 factorPca: perfectly co-moving symbols load equally on a " +
      "market mode explaining ~everything; incomplete days drop; the " +
      "roster keeps the most-active symbols") {
    // 3 roster symbols with IDENTICAL daily returns (+100, -200, +300
    // cents over days 1-3); day 4 misses symbol 3 -> dropped; symbol
    // 9 has one lonely tick and must fall off the nSyms=3 roster.
    val dayRets = Seq(1.00, -2.00, 3.00)
    val rows = (for {
      (ret, di) <- dayRets.zipWithIndex
      sym <- Seq(1L, 2L, 3L)
    } yield {
      val base = 10.0 * sym
      Seq((di * 100L + sym * 10L, sym, f"2024-01-0${di + 1} 10:00:00",
            base, base + 0.1),
          (di * 100L + sym * 10L + 1L, sym,
            f"2024-01-0${di + 1} 16:00:00", base + ret, base + ret + 0.1))
    }).flatten ++ Seq(
      (900L, 1L, "2024-01-04 10:00:00", 10.0, 10.1),
      (901L, 2L, "2024-01-04 10:00:00", 20.0, 20.1),
      (999L, 9L, "2024-01-01 10:00:00", 5.0, 5.1))
    val out = Microstructure.factorPca(ticks(rows: _*), nSyms = 3,
        nComp = 2, iters = 40)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.length == 6)
    assert(out.map(_._3).distinct.sorted == Seq(1L, 2L, 3L))
    val mode = out.filter(_._1 == 0L)
    // identical return series -> equal loadings 1/sqrt(3), share ~ 1
    val expected = 1.0 / math.sqrt(3.0)
    mode.foreach { r =>
      assert(math.abs(r._4 - expected) < 1e-6, s"loading: $r")
      assert(math.abs(r._6 - 1.0) < 1e-6, s"share: $r")
    }
    // second component of a rank-1 covariance carries ~zero share
    out.filter(_._1 == 1L).foreach { r =>
      assert(math.abs(r._6) < 1e-6, s"residual share: $r")
    }
    // D92 on the same corpus: every symbol's variance is the
    // hand-computed sample variance of (+100, -200, +300) cents and
    // the market mode explains ~all of it
    val rets = Seq(100.0, -200.0, 300.0)
    val mean = rets.sum / rets.length
    val wantVar = rets.map(r => (r - mean) * (r - mean)).sum /
      (rets.length - 1)
    val resid = Microstructure.factorResiduals(ticks(rows: _*),
        nSyms = 3, nComp = 2, iters = 40)
      .as[(Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(resid.map(_._2).sorted == Seq(1L, 2L, 3L))
    resid.foreach { r =>
      assert(math.abs(r._3 - wantVar) < 1e-6, s"variance: $r")
      assert(math.abs(r._4 - expected) < 1e-6, s"mode loading: $r")
      assert(math.abs(r._5 - 1.0) < 1e-6, s"factor share: $r")
      assert(math.abs(r._6) < 1e-6, s"resid share: $r")
    }
  }
}
