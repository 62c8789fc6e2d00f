package graft

import java.nio.file.Files
import graft.streaming.Streaming
import graft.streaming.Streaming.Doc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Durability: keyed dedup state must survive a query restart from
  * its checkpoint — the property that makes streaming dedup usable in
  * production (the live endpoint restarts; the reference's polling
  * loop has no such guarantee).
  */
object CheckpointRecoverySpec {
  // foreachBatch sink targets; static so executors/driver share them
  val seen = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
  val nearDup = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
  val ewma = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()
  val velocity = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val ddown = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  val pairz =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[Double]]()
  val winScore = new java.util.concurrent.ConcurrentHashMap[
    (Long, String), (Long, Double, Boolean)]()
}

class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("dedup state survives a stop/restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[Doc]
      // memory sink does not support recovery; foreachBatch does
      def start() = Streaming.dedupExact(in.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.DedupDecision], _: Long) =>
          batch.collect().foreach(d =>
            CheckpointRecoverySpec.seen.put(d.doc_id, d.isDuplicate))
        }
        .start()

      val q1 = start()
      try {
        in.addData(Doc(1L, "hello"), Doc(2L, "world"))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(CheckpointRecoverySpec.seen.get(1L) == false)

      // restart against the SAME checkpoint; keyed state must be restored
      val q2 = start()
      try {
        in.addData(Doc(3L, "hello")) // duplicate of a pre-restart doc
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.seen.get(3L) == true,
          "post-restart duplicate must be flagged from recovered state")
      } finally q2.stop()
    }
  }

  test("near-dup bucket state survives a stop/restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_nd") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[(Long, String)]
      def start() = Streaming.nearDupBandFlags(
          in.toDF().toDF("doc_id", "text")
            .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[_], _: Long) =>
          Streaming.nearDupVerdicts(batch.toDF())
            .as[(Long, Boolean)].collect()
            .foreach { case (id, d) => CheckpointRecoverySpec.nearDup.put(id, d) }
          ()
        }.start()

      val base = "the quick brown fox jumps over the lazy dog again and again"
      val q1 = start()
      try {
        in.addData((1L, base),
          (2L, "an unrelated document about winter mountain storms"))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(CheckpointRecoverySpec.nearDup.get(1L) == false)

      val q2 = start()
      try {
        in.addData((3L, base)) // near-dups a PRE-restart doc's buckets
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.nearDup.get(3L) == true,
          "post-restart near-dup must be flagged from recovered bucket state")
      } finally q2.stop()
    }
  }

  test("ewma (count, value) state survives a stop/restart from " +
      "checkpoint: the fold continues, not restarts") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_ew") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[Streaming.Tick]
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      def start() = Streaming.ewmaPoints(in.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[Streaming.EwmaPoint],
           _: Long) =>
            batch.collect().foreach(p =>
              CheckpointRecoverySpec.ewma.put(p.tick_id, (p.n_seen, p.ewma)))
        }
        .start()

      val q1 = start()
      try {
        in.addData(
          Streaming.Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.0),
          Streaming.Tick(2L, 1L, t("2024-01-01 10:00:02"), 20.0))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(CheckpointRecoverySpec.ewma.get(2L) == ((2L, 15.0)))

      val q2 = start()
      try {
        // continues from e=15, n=2 — a fold that RESTARTED would emit
        // (1, 40.0) here
        in.addData(Streaming.Tick(3L, 1L, t("2024-01-01 10:00:03"), 40.0))
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.ewma.get(3L) == ((3L, 27.5)),
          "post-restart tick must fold onto the recovered (n, ewma) state")
      } finally q2.stop()
    }
  }

  test("order-velocity day-ring state survives a stop/restart from " +
      "checkpoint (G30)") {
    import graft.streaming.Streaming.{OrderArrival, VelocityRow}
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_vel") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[OrderArrival]
      def start() = Streaming.orderVelocityPoints(in.toDS(), 90)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[VelocityRow],
                         _: Long) =>
          batch.collect().foreach(r =>
            CheckpointRecoverySpec.velocity.put(r.o_orderkey, r.n_prior))
        }
        .start()
      val q1 = start()
      try {
        in.addData(OrderArrival(1L, 7L, 0), OrderArrival(2L, 7L, 30))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(CheckpointRecoverySpec.velocity.get(2L) == 1L)
      // restart against the SAME checkpoint: the day ring (days 0 and
      // 30) must be restored — the day-100 order sees ONLY day 30
      // (day 0 pruned from its window), and a day-100 sibling-day
      // order arriving later still excludes same-day counts
      val q2 = start()
      try {
        in.addData(OrderArrival(3L, 7L, 100))
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.velocity.get(3L) == 1L,
          "post-restart count must come from the recovered day ring")
        in.addData(OrderArrival(4L, 7L, 100))
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.velocity.get(4L) == 1L,
          "same-day sibling must not count post-restart either")
      } finally q2.stop()
    }
  }

  test("drawdown running-peak state survives a stop/restart from " +
      "checkpoint: the peak carries, not resets") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_dd") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[Streaming.Tick]
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      def start() = Streaming.drawdownPoints(in.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[Streaming.DrawdownPoint],
           _: Long) =>
            batch.collect().foreach(p =>
              CheckpointRecoverySpec.ddown.put(p.tick_id, p.cummax))
        }
        .start()
      val q1 = start()
      try {
        in.addData(Streaming.Tick(1L, 1L, t("2024-01-01 10:00:01"), 12.0))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // a RESTARTED fold would report cummax 9.0 here
        in.addData(Streaming.Tick(2L, 1L, t("2024-01-01 10:00:02"), 9.0))
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.ddown.get(2L) == 12.0,
          "post-restart tick must see the recovered running peak")
      } finally q2.stop()
    }
  }

  test("pair-spread Welford registers survive a stop/restart from " +
      "checkpoint: n/mean/M2 continue, not restart") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_pz") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[Streaming.Tick]
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      def start() = Streaming.pairSpreadZ(in.toDS(), Seq((1L, 2L)),
          Map((1L, 2L) -> 1.0))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[Streaming.PairZ],
           _: Long) =>
            batch.collect().foreach(p =>
              CheckpointRecoverySpec.pairz.put(p.tick_id, p.z))
        }
        .start()
      val q1 = start()
      try {
        in.addData(
          Streaming.Tick(1L, 1L, t("2024-01-01 10:00:01"), 10.0),
          Streaming.Tick(2L, 2L, t("2024-01-01 10:00:02"), 9.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // spread 1.0 observed once; n=1 → no z yet
      assert(CheckpointRecoverySpec.pairz.get(2L) == None)
      val q2 = start()
      try {
        // leg A ticks to 11 → spread 2.0 is the SECOND observation on
        // the recovered register: n=2, mean 1.5, m2 0.5 → z = 1.0.
        // A restarted register would have n=1 and emit no z.
        in.addData(Streaming.Tick(3L, 1L, t("2024-01-01 10:00:03"), 11.0))
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.pairz.get(3L) == Some(1.0),
          "post-restart spread must fold onto the recovered Welford " +
            "register (and the recovered last-leg prices)")
      } finally q2.stop()
    }
  }

  test("G40: the open session-window buffer survives a stop/restart " +
      "from checkpoint — the closed window scores ALL buffered ticks") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    withTempDir("graft_ckpt_wa") { tmp =>
      val ckpt = tmp.toString
      val in = MemoryStream[Streaming.Tick]
      // the StreamingSpec pad-path artifacts: expected err 0.25, no flag
      val scalers = Map(1L -> ((100.0, 2.0)))
      val centroids = Map(1L -> Seq(0L, 1000000L, 2000000L, 3000000L))
      val thresholds = Map(1L -> 500000.0)
      def start() = Streaming.windowAnomalyAlerts(in.toDS(), 4,
          scalers, centroids, thresholds)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[Streaming.WindowScore],
           _: Long) =>
            batch.collect().foreach(w =>
              CheckpointRecoverySpec.winScore.put((w.symbol, w.win),
                (w.n_ticks, w.err, w.is_anomaly)))
        }
        .start()
      val q1 = start()
      try {
        in.addData(
          Streaming.Tick(1L, 1L, t("2024-01-08 07:51:00"), 1.00),
          Streaming.Tick(2L, 1L, t("2024-01-08 07:52:00"), 1.02))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // third window tick + the closer arrive AFTER the restart: the
        // score must see all 3 buffered ticks (n=3, the pad-path err
        // 0.25); a lost buffer would score n=1 with a different error.
        in.addData(
          Streaming.Tick(3L, 1L, t("2024-01-08 07:55:00"), 1.06),
          Streaming.Tick(4L, 1L, t("2024-01-08 13:51:00"), 1.00))
        q2.processAllAvailable()
        assert(CheckpointRecoverySpec.winScore.get((1L, "morning")) ==
          ((3L, 0.25, false)),
          "post-restart close must score the recovered buffer")
      } finally q2.stop()
    }
  }
}
