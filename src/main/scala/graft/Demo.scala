package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.{CsvTickIngest, Parquet}
import graft.operators.Multimodal
import graft.streaming.Streaming
import graft.streaming.Streaming.Tick

/** Executable end-to-end example of the non-query surface: CSV tick
  * ingest → partitioned gold layout, multimodal feature extraction,
  * and the streaming downsampler/anomaly flagger. `sbt "runMain
  * graft.Demo"` prints each stage's output.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("4")
    import spark.implicits._

    // --- A1: CSV ingest → partitioned parquet ---
    val dir = Files.createTempDirectory("graft_demo")
    val sym = Files.createDirectory(dir.resolve("XAUUSD"))
    Files.writeString(sym.resolve("ticks.csv"),
      "DateTime,Bid,Ask,Volume\n" +
        "20240101 07:55:01.123,2050.10,2050.35,1.0\n" +
        "20240101 13:55:02.456,2051.20,2051.40,2.0\n")
    val ingested = CsvTickIngest.read(spark, dir.toString + "/*/*.csv")
    CsvTickIngest.write(ingested, dir.resolve("gold").toString)
    println("=== ingested gold layout ===")
    Parquet.read(spark, dir.resolve("gold").toString).show(false)

    // --- A: cross-file chronological ordering over the gold layout ---
    println("=== file ranges (chronological order) ===")
    val gold = Parquet.read(spark, dir.resolve("gold").toString)
    graft.sources.FileOrder.fileRanges(gold, "ts").show(false)

    // --- F12: multimodal features over REAL codecs (PPM/WAV/Y4M) ---
    val media = Multimodal.syntheticRealMedia(spark, 9)
    println("=== image features (real PPM decode) ===")
    Multimodal.imageFeatures(media).show(false)
    println("=== audio features (real WAV decode) ===")
    Multimodal.audioFeatures(media).show(false)
    println("=== video features + sampled frames (real Y4M decode) ===")
    Multimodal.videoFeatures(media).show(false)
    Multimodal.sampleVideoFrames(media, 3).show(false)

    // --- F15/F16/F2c: corpus pipeline over a toy batch ---
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over a lazy dog and then runs " +
        "through green fields of tall grass to find cool water"),
      (2L, "the quick brown fox jumps over a lazy dog and then runs " +
        "through green fields of tall grass to find cool water"),
      (3L, ("spam " * 30).trim),
      (4L, "short one"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source")
    println("=== quality filter (reason-coded drop report) ===")
    graft.operators.CorpusPipeline.qualityFilter(corpus).show(false)
    println("=== deterministic hash split + greedy near-dup ===")
    graft.operators.CorpusPipeline.hashSplit(corpus).show(false)
    graft.operators.TextDedup.greedyNearDup(corpus).show(false)

    // --- G1/G2: streaming ---
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = Streaming.downsample1s(in.toDF())
      .writeStream.format("memory").queryName("demo_ds")
      .outputMode(OutputMode.Complete).start()
    in.addData(
      Tick(1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 07:55:01.100"), 10.0),
      Tick(2L, 1L, java.sql.Timestamp.valueOf("2024-01-01 07:55:01.900"), 99.0),
      Tick(3L, 2L, java.sql.Timestamp.valueOf("2024-01-01 13:55:00.000"), 20.0))
    q.processAllAvailable()
    println("=== streaming 1s downsample ===")
    spark.sql("SELECT * FROM demo_ds ORDER BY symbol").show(false)
    q.stop()

    val inW = MemoryStream[Tick]
    val qW = Streaming.windowCounts(inW.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("demo_wc")
      .outputMode(OutputMode.Complete).start()
    inW.addData(
      Tick(4L, 1L, java.sql.Timestamp.valueOf("2024-01-01 07:51:00"), 10.0),
      Tick(5L, 1L, java.sql.Timestamp.valueOf("2024-01-01 07:53:00"), 11.0),
      Tick(6L, 1L, java.sql.Timestamp.valueOf("2024-01-01 08:01:00"), 12.0))
    qW.processAllAvailable()
    println("=== streaming 10-minute window counts ===")
    spark.sql("SELECT * FROM demo_wc ORDER BY win_start").show(false)
    qW.stop()

    val inS = MemoryStream[Tick]
    val qS = Streaming.sessionWindows(inS.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("demo_sess")
      .outputMode(OutputMode.Complete).start()
    inS.addData(
      Tick(7L, 1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10.0),
      Tick(8L, 1L, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), 11.0),
      Tick(9L, 1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 12.0))
    qS.processAllAvailable()
    println("=== streaming session windows (5m gap) ===")
    spark.sql("SELECT * FROM demo_sess ORDER BY session_start").show(false)
    qS.stop()

    // --- D82 → G40 → G42: the model lifecycle — train offline, read
    // the parameter manifest by SELECT, deploy those exact numbers to
    // the stream, watch the live scores for staleness ---
    val tape = (1 to 5).flatMap { d =>
      (0 to 3).map { i =>
        (d * 10L + i, 1L,
          java.sql.Timestamp.valueOf(f"2024-01-0$d 07:51:0$i"),
          1.00 + i * 0.01, 9.9)
      }
    }.toDF("tick_id", "symbol", "ts", "bid", "ask")
    val manifest = graft.operators.Features.modelParams(tape, 4)
    println("=== trained model manifest (D82) ===")
    manifest.show(false)
    val mrows = manifest.collect().sortBy(_.getAs[Int]("i"))
    val (mMu, mSd) = (mrows.head.getAs[Double]("mu"),
      mrows.head.getAs[Double]("sd"))
    // half-up sign-split quantization — the engine's rule, NOT
    // .toLong truncation (a fractional centroid would deploy 1 micro
    // low and silently diverge from the batch model)
    val mCentroid = mrows.map { r =>
      val x = r.getAs[Double]("centroid_u")
      if (x >= 0) math.floor(x + 0.5).toLong
      else -math.floor(-x + 0.5).toLong
    }.toSeq
    val band = 500000.0 // ops-chosen alert band (err micros)
    val inL = MemoryStream[Tick]
    val qL = Streaming.retrainAlerts(inL.toDS(), 4,
        Map(1L -> ((mMu, mSd))), Map(1L -> mCentroid),
        Map(1L -> band), consecutive = 2)
      .writeStream.format("memory").queryName("demo_retrain")
      .outputMode(OutputMode.Append).start()
    // two drifted sessions in a row, then a closer tick
    inL.addData((6 to 7).flatMap { d =>
      (0 to 3).map { i =>
        Tick(200L + d * 10 + i, 1L,
          java.sql.Timestamp.valueOf(f"2024-01-0$d 07:51:0$i"),
          1.10 + i * 0.01)
      }
    } :+ Tick(299L, 1L,
      java.sql.Timestamp.valueOf("2024-01-08 07:51:00"), 1.00): _*)
    qL.processAllAvailable()
    println("=== live retrain alert (G42: 2 consecutive drifted windows) ===")
    spark.sql("SELECT * FROM demo_retrain").show(false)
    qL.stop()

    val in2 = MemoryStream[Tick]
    val q2 = Streaming.anomalyFlags(in2.toDS(), 3.0)
      .writeStream.format("memory").queryName("demo_flags")
      .outputMode(OutputMode.Update).start()
    in2.addData((1 to 10).map(i =>
      Tick(100L + i, 1L, java.sql.Timestamp.valueOf(f"2024-01-01 07:55:$i%02d"), 100.0 + i % 3)): _*)
    q2.processAllAvailable()
    in2.addData(Tick(111L, 1L, java.sql.Timestamp.valueOf("2024-01-01 07:56:00"), 500.0))
    q2.processAllAvailable()
    println("=== streaming anomaly flags (anomalies only) ===")
    spark.sql("SELECT * FROM demo_flags WHERE isAnomaly").show(false)
    q2.stop()
    spark.stop()
  }
}
