package graft

import java.nio.file.Files
import graft.sources.CsvTickIngest
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class IngestMultimodalSpec extends SparkSpec {

  test("CsvTickIngest reads the Dukascopy CSV format, prunes Volume, tags symbol") {
    withTempDir("graft_csv") { dir =>
      val sym = Files.createDirectory(dir.resolve("EURUSD"))
      Files.writeString(sym.resolve("part1.csv"),
        "DateTime,Bid,Ask,Volume\n" +
          "20240101 07:55:01.123,1.1001,1.1003,2.5\n" +
          "20240101 07:55:02.456,1.1002,1.1004,1.0\n")
      val df = CsvTickIngest.read(spark, dir.toString + "/*/*.csv")
      val rows = df.collect()
      assert(rows.length == 2)
      assert(df.columns.toSeq == Seq("ts", "bid", "ask", "symbol"))
      assert(rows.forall(_.getAs[String]("symbol") == "EURUSD"))
      assert(rows.head.getAs[java.sql.Timestamp]("ts").toString
        .startsWith("2024-01-01 07:55:01"))

      // round-trip: partitioned write preserves content and layout
      val out = dir.resolve("gold").toString
      CsvTickIngest.write(df, out)
      val back = spark.read.parquet(out)
      assert(back.count() == 2)
      assert(back.select("symbol").distinct().collect().head.getString(0) == "EURUSD")
      assert(Files.exists(java.nio.file.Paths.get(out, "symbol=EURUSD", "year=2024")))
    }
  }

  /** A Dukascopy-style tree `<symbol>/<day>.csv`: 4 symbols x 12 days
    * (2023-12-26 .. 2024-01-06, so each symbol spans two years) x 5
    * ticks. Even days' files are 5 bytes longer (Volume `1.00`), so the
    * scan's largest-first packing is fixed: 48 files in 4 splits of 12,
    * two of even days and two of odd days, and every (symbol, year)
    * has files in two splits, under `dir`. Returns the source's (rows,
    * bid cents sum, ts millis sum). */
  private def csvTree(dir: java.nio.file.Path): (Long, Long, Long) = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd HH:mm:ss.SSS")
    def price(c: Int) = f"${c / 100}.${c % 100}%02d"
    var rows = 0L; var cents = 0L; var millis = 0L
    for (k <- 0 until 4; d <- 0 until 12) {
      val day = java.time.LocalDate.of(2023, 12, 26).plusDays(d)
      val sym = Files.createDirectories(dir.resolve(s"SYM$k"))
      val volume = if (d % 2 == 0) "1.00" else "1.0"
      val lines = (0 until 5).map { i =>
        val ts = day.atTime(7, 55, i, 123000000)
        val c = 100 + k * 100 + d * 5 + i
        rows += 1; cents += c
        millis += ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        s"${ts.format(fmt)},${price(c)},${price(c + 1)},$volume"
      }
      Files.writeString(sym.resolve(s"$day.csv"),
        ("DateTime,Bid,Ask,Volume" +: lines).mkString("", "\n", "\n"))
    }
    (rows, cents, millis)
  }

  /** Task counts of the stages `body` submits. The listener bus is
    * asynchronous but ordered, so a marker job run after `body` is
    * seen only once every earlier stage event has been. */
  private def stageTasks(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = "graft-stage-tasks-marker"
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var seen = Seq.empty[Int]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        tasks.add(e.stageInfo.numTasks); ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) {
          import scala.jdk.CollectionConverters._
          seen = tasks.asScala.toSeq
          flushed.countDown()
        }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    seen
  }

  test("CsvTickIngest.read lists a many-file glob in at most " +
      "shufflePartitions tasks and reads the same rows as Spark's default") {
    withTempDir("graft_csv_tree") { dir =>
      val (nRows, _, _) = csvTree(dir)
      val glob = dir.toString + "/*/*.csv"
      val cores = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
      assert(spark.conf.get(key) == cores.toString) // set by GraftSession
      var rows = Array.empty[org.apache.spark.sql.Row]
      val bounded = stageTasks { rows = CsvTickIngest.read(spark, glob).collect() }
      // 48 root paths > the 32-path threshold: the listing is a job
      assert(bounded.nonEmpty && bounded.max <= cores, s"stage tasks: $bounded")
      // Spark's default parallelism lists one path per task
      var dflt = Array.empty[org.apache.spark.sql.Row]
      val unbounded = try {
        spark.conf.set(key, "10000")
        stageTasks { dflt = CsvTickIngest.read(spark, glob).collect() }
      } finally spark.conf.set(key, cores.toString)
      assert(unbounded.contains(48), s"stage tasks: $unbounded")
      assert(rows.length == nRows)
      assert(rows.map(_.toString).sorted.toSeq == dflt.map(_.toString).sorted.toSeq)
    }
  }

  test("CsvTickIngest.write leaves one part file per (symbol, year) " +
      "with the source's rows, bid cents and ts millis") {
    withTempDir("graft_csv_tree") { dir =>
      val (nRows, cents, millis) = csvTree(dir)
      val out = dir.resolve("gold")
      CsvTickIngest.write(CsvTickIngest.read(spark, dir.toString + "/*/*.csv"),
        out.toString)
      val leaves = for {
        s <- out.toFile.listFiles().toSeq if s.getName.startsWith("symbol=")
        y <- s.listFiles().toSeq if y.getName.startsWith("year=")
      } yield s.getName + "/" + y.getName ->
        y.listFiles().count(_.getName.startsWith("part-"))
      assert(leaves.length == 8, leaves) // 4 symbols x 2 years
      assert(leaves.forall(_._2 == 1), leaves)
      val a = spark.read.parquet(out.toString)
        .agg(count(lit(1)), sum(round(col("bid") * 100).cast("long")),
          sum(unix_millis(col("ts")))).head()
      assert((a.getLong(0), a.getLong(1), a.getLong(2)) == ((nRows, cents, millis)))
    }
  }

  test("the symbol taken from the file path equals the old per-row " +
      "regex on directory names with '-', '.' and digits") {
    withTempDir("graft_csv_syms") { dir =>
      val syms = Seq("EUR-USD", "1000SHIB.P", "x.9-2024", "BTC-USD.v2")
      syms.foreach { sym =>
        val d = Files.createDirectories(dir.resolve(sym))
        Files.writeString(d.resolve("2024-01-02.csv"),
          "DateTime,Bid,Ask,Volume\n20240102 07:55:01.123,1.1,1.2,1.0\n")
      }
      val csv = CsvTickIngest.read(spark, dir.toString + "/*/*.csv")
        .select(col("symbol"),
          regexp_extract(input_file_name(), "([^/]+)/[^/]+$", 1).as("old"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(csv.map(_._1).sorted.toSeq == syms.sorted)
      assert(csv.forall { case (now, old) => now == old }, csv.toSeq)

      val gold = dir.resolve("gold").toString
      syms.foreach { sym =>
        spark.range(3).select(lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
            .as("datetime"), lit(1.0).as("bid"), lit(1.1).as("ask"))
          .write.parquet(s"$gold/$sym")
      }
      val path = col("_metadata.file_path")
      val paths = spark.read.parquet(s"$gold/*")
        .select(CsvTickIngest.symbolFromPath(path),
          regexp_extract(path, ".*/([^/]+)/[^/]+$", 1))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(paths.forall { case (now, old) => now == old }, paths.toSeq)
      assert(graft.sources.GoldIngest.readDir(spark, gold).select("symbol")
        .distinct().collect().map(_.getString(0)).sorted.toSeq == syms.sorted)
    }
  }

  test("multimodal feature extraction is deterministic over binary payloads") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 30)
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
    assert(feats.forall(f => f.brightness >= 0 && f.brightness <= 255))
  }

  test("frame sampling emits k linspace frames per video row only") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.sampleFrames(media, 4)
    val perId = frames.collect().groupBy(_.media_id)
    val videoIds = media.filter(_.kind == "video").collect().map(_.media_id).toSet
    assert(perId.keySet == videoIds)
    assert(perId.values.forall(_.length <= 4))
    // frame indices are within range and start at 0
    assert(frames.collect().forall(f => f.frame_idx >= 0))
  }

  test("PPM codec round-trips, resizes, and rejects malformed payloads") {
    import graft.operators.MediaCodecs.Ppm
    val rgb = Array.tabulate(4 * 2 * 3)(i => i * 10 % 256)
    val bytes = Ppm.encode(4, 2, rgb)
    val (w, h, back) = Ppm.decode(bytes)
    assert((w, h) == (4, 2) && back.toSeq == rgb.toSeq)
    // 1x1 resize picks the top-left pixel
    assert(Ppm.resize(4, 2, rgb, 1, 1).toSeq == rgb.take(3).toSeq)
    // brightness of a uniform gray-128 image is 128 (luma weights sum to 1)
    val gray = Array.fill(6 * 3)(128)
    assert(math.abs(Ppm.brightness(gray) - 128.0) < 1e-9)
    intercept[IllegalArgumentException](Ppm.decode("P6\n4 2\n255\n".getBytes))
    intercept[IllegalArgumentException](Ppm.decode(Array[Byte](1, 2, 3)))
  }

  test("WAV codec round-trips PCM16 and extracts rms/zero-crossings") {
    import graft.operators.MediaCodecs.Wav
    val samples = Array[Short](1000, 1000, -1000, -1000, 1000, 1000)
    val (rate, back) = Wav.decode(Wav.encode(8000, samples))
    assert(rate == 8000 && back.toSeq == samples.toSeq)
    assert(math.abs(Wav.rms(samples) - 1000.0) < 1e-9)
    assert(Wav.zeroCrossings(samples) == 2)
    intercept[IllegalArgumentException](Wav.decode(Array.fill[Byte](10)(0)))
  }

  test("imageFeatures and audioFeatures decode real payloads end-to-end") {
    val media = Multimodal.syntheticRealMedia(spark, 30)
    val img = Multimodal.imageFeatures(media).collect()
    assert(img.length == 10) // ids % 3 == 1
    img.foreach { f =>
      assert(f.width >= 4 && f.height >= 3)
      assert(f.brightness > 0 && f.brightness < 255)
      assert(f.thumb_brightness > 0 && f.thumb_brightness < 255)
    }
    val aud = Multimodal.audioFeatures(media).collect()
    assert(aud.length == 10)
    aud.foreach { f =>
      assert(f.sample_rate == 8000 && f.n_samples >= 64)
      assert(math.abs(f.rms - 1000.0) < 1e-9) // constant-magnitude square wave
      assert(f.zero_crossings > 0)
    }
  }

  test("Y4M codec round-trips luma frames and rejects malformed payloads") {
    import graft.operators.MediaCodecs.Y4m
    val f0 = Array.tabulate[Byte](8 * 6)(i => (i * 3).toByte)
    val f1 = Array.tabulate[Byte](8 * 6)(i => (i * 3 + 40).toByte)
    val (w, h, frames) = Y4m.decode(Y4m.encode(8, 6, 25, Seq(f0, f1)))
    assert((w, h) == (8, 6) && frames.length == 2)
    assert(frames(0).toSeq == f0.toSeq && frames(1).toSeq == f1.toSeq)
    // uniform gray frame has mean luma 128; identical frames: zero motion
    val gray = Array.fill[Byte](8 * 6)(128.toByte)
    assert(math.abs(Y4m.meanLuma(gray) - 128.0) < 1e-9)
    assert(Y4m.motion(f0, f0) == 0.0)
    assert(Y4m.motion(f0, f1) == 40.0) // constant +40 offset
    // mono colorspace carries no chroma planes
    val monoBytes = ("YUV4MPEG2 W4 H2 F25:1 Cmono\nFRAME\n").getBytes("US-ASCII") ++
      Array.tabulate[Byte](8)(_.toByte)
    assert(Y4m.decode(monoBytes)._3.head.length == 8)
    intercept[IllegalArgumentException](Y4m.decode("nope".getBytes))
    intercept[IllegalArgumentException]( // truncated frame data
      Y4m.decode("YUV4MPEG2 W8 H6 F25:1\nFRAME\n".getBytes ++ Array[Byte](1, 2)))
    intercept[IllegalArgumentException]( // odd dims under C420
      Y4m.decode("YUV4MPEG2 W3 H2 F25:1\nFRAME\n".getBytes ++ Array.fill[Byte](9)(0)))
    intercept[IllegalArgumentException]( // dims overflow must not wrap
      Y4m.decode("YUV4MPEG2 W1073741824 H4 F25:1\nFRAME\n".getBytes))
    intercept[IllegalArgumentException]( // nor wrap past 2^63 in w*h itself
      Y4m.decode("YUV4MPEG2 W4294967296 H4294967296 F25:1\nFRAME\n".getBytes))
  }

  test("videoFeatures and sampleVideoFrames decode real Y4M end-to-end") {
    val media = Multimodal.syntheticRealMedia(spark, 30)
    val vids = Multimodal.videoFeatures(media).collect()
    assert(vids.length == 10) // ids % 3 == 0
    vids.foreach { f =>
      assert(f.width == 8 && f.height == 6 && f.n_frames >= 4)
      assert(f.mean_luma > 0 && f.mean_luma < 255)
      assert(f.motion > 0) // scrolling gradient: consecutive frames differ
    }
    val frames = Multimodal.sampleVideoFrames(media, 3).collect()
    val perId = frames.groupBy(_.media_id)
    assert(perId.keySet == vids.map(_.media_id).toSet)
    perId.values.foreach { fs =>
      assert(fs.length <= 3 && fs.map(_.frame_idx).distinct.length == fs.length)
      assert(fs.forall(f => f.mean_luma > 0 && f.mean_luma < 255))
    }
  }

  // ---------- F78 mediaDedup ----------

  test("mediaDedup on the planted-dup lake: replicas drop, originals " +
      "keep, every content group has exactly its pair") {
    import spark.implicits._
    val out = Multimodal.mediaDedup(Multimodal.syntheticDupMedia(spark, 6))
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(out.map(_._1) == (0L until 12L))
    out.foreach { case (id, kind, nCopies, keep) =>
      assert(nCopies == 2L, s"id $id grouped $nCopies")
      assert(keep == (id < 6L), s"id $id keep=$keep")
      val expectKind = (id % 3) match {
        case 1 => "image"; case 2 => "audio"; case _ => "video"
      }
      assert(kind == expectKind)
    }
  }

  test("mediaDedup keys on decoded CONTENT, not payload bytes: two " +
      "PPM encodings of one pixel grid collide") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    val rgb = Array.tabulate(4 * 3 * 3)(i => (i * 7) % 256)
    val canonical = graft.operators.MediaCodecs.Ppm.encode(4, 3, rgb)
    // same pixels, header whitespace respelled: "P6 4 3 255 " (spaces)
    val respelled = "P6 4 3 255 ".getBytes("US-ASCII") ++
      rgb.map(v => (v & 0xff).toByte)
    assert(!java.util.Arrays.equals(canonical, respelled))
    val media = Seq(
      MediaRow(1L, "image", canonical, 4, 3, 1),
      MediaRow(2L, "image", respelled, 4, 3, 1)).toDS()
    val out = Multimodal.mediaDedup(media)
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, "image", 2L, true), (2L, "image", 2L, false)))
  }
}
