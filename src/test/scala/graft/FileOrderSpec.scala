package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.sources.FileOrder
import graft.streaming.Streaming
import graft.streaming.Streaming.Tick
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class FileOrderSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("fileRanges orders files chronologically in one job") {
    withTempDir("graft_order") { dir =>
      // three files written out of name-order vs time-order
      Seq((1L, t("2024-03-01 00:00:00"), 1.0))
        .toDF("tick_id", "ts", "bid").write.parquet(s"$dir/c.parquet")
      Seq((2L, t("2024-01-01 00:00:00"), 2.0), (3L, t("2024-01-02 00:00:00"), 3.0))
        .toDF("tick_id", "ts", "bid").coalesce(1).write.parquet(s"$dir/a.parquet")
      Seq((4L, t("2024-02-01 00:00:00"), 4.0))
        .toDF("tick_id", "ts", "bid").write.parquet(s"$dir/b.parquet")
      val df = spark.read.parquet(s"$dir/c.parquet", s"$dir/a.parquet", s"$dir/b.parquet")
      val ranges = FileOrder.fileRanges(df, "ts").collect()
      assert(ranges.length == 3)
      val ordered = ranges.sortBy(_.getAs[Int]("file_order"))
        .map(r => (r.getAs[String]("file").split("/").takeRight(2).head,
          r.getAs[Long]("n_ticks")))
      assert(ordered.toSeq == Seq(("a.parquet", 2L), ("b.parquet", 1L), ("c.parquet", 1L)))

      val withOrder = FileOrder.withFileOrder(df, "ts")
      val byTick = withOrder.select("tick_id", "file_order")
        .as[(Long, Int)].collect().toMap
      assert(byTick == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2))
    }
  }

  test("streaming sessionWindows merges ticks within the gap, splits beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.sessionWindows(in.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        Tick(1L, 1L, t("2024-01-01 10:00:00"), 10.0),
        Tick(2L, 1L, t("2024-01-01 10:03:00"), 11.0), // same session (gap 3m)
        Tick(3L, 1L, t("2024-01-01 10:30:00"), 12.0), // gap 27m -> new session
        Tick(4L, 2L, t("2024-01-01 10:01:00"), 20.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT symbol, n_ticks, first_bid FROM sess")
        .as[(Long, Long, Double)].collect().toSet
      assert(out == Set((1L, 2L, 10.0), (1L, 1L, 12.0), (2L, 1L, 20.0)))
    } finally q.stop()
  }

  test("stream-static join enriches live ticks with a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "EURUSD"), (2L, "XAUUSD")).toDF("symbol", "name")
    val in = MemoryStream[Tick]
    val q = in.toDF().join(dim, "symbol")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Tick(5L, 1L, t("2024-01-01 07:55:01"), 10.0),
        Tick(6L, 3L, t("2024-01-01 07:55:02"), 30.0)) // no dim row -> dropped
      q.processAllAvailable()
      val out = spark.sql("SELECT symbol, name, bid FROM enriched")
        .as[(Long, String, Double)].collect().toSeq
      assert(out == Seq((1L, "EURUSD", 10.0)))
    } finally q.stop()
  }

  test("streaming windowCounts aggregates per (symbol, window)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.windowCounts(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        Tick(7L, 1L, t("2024-01-01 07:51:00"), 10.0),
        Tick(8L, 1L, t("2024-01-01 07:53:00"), 11.0),
        Tick(9L, 1L, t("2024-01-01 08:01:00"), 12.0), // next window
        Tick(10L, 2L, t("2024-01-01 07:52:00"), 20.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT symbol, win_start, n_ticks, first_bid, last_bid FROM wc")
        .as[(Long, Timestamp, Long, Double, Double)].collect().toSet
      assert(out == Set(
        (1L, t("2024-01-01 07:50:00"), 2L, 10.0, 11.0),
        (1L, t("2024-01-01 08:00:00"), 1L, 12.0, 12.0),
        (2L, t("2024-01-01 07:50:00"), 1L, 20.0, 20.0)))
    } finally q.stop()
  }
}
