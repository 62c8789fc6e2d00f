package graft

import java.sql.Timestamp
import graft.operators.{Features, Skew}
import graft.streaming.Streaming
import graft.streaming.Streaming.Doc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class SkewStreamDedupSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the plain-join result") {
    val fact = (1 to 1000).map(i => (i.toLong, (i % 3).toLong, i * 1.0))
      .toDF("tick_id", "symbol", "bid") // symbol 0 is hot by construction
    val dim = Seq((0L, "HOT"), (1L, "A"), (2L, "B")).toDF("symbol", "name")
    val salted = Skew.saltedJoin(fact, dim, "symbol", "tick_id", 8)
      .select("tick_id", "symbol", "name")
    val plain = fact.join(dim, "symbol").select("tick_id", "symbol", "name")
    assert(salted.count() == 1000)
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("tiledSelfPairs == naive bucket self-join pairs, every pair " +
      "exactly once, and the hot bucket spreads across tiles") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // one hot bucket (60 docs) + one small bucket (5 docs) + a
    // 1-doc bucket (no pairs)
    val rows = ((1 to 60).map(i => ("b0", i.toLong)) ++
      (101 to 105).map(i => ("b1", i.toLong)) ++ Seq(("b2", 200L)))
      .toDF("bucket", "doc_id")
    val tiled = Skew.tiledSelfPairs(rows, Seq("bucket"), "doc_id", 4)
    val naiveA = rows.select(col("bucket"), col("doc_id").as("id_a"))
    val naive = naiveA
      .join(rows.select(col("bucket"), col("doc_id").as("id_b")), "bucket")
      .filter(col("id_a") < col("id_b"))
    assert(tiled.count() == 60L * 59 / 2 + 5L * 4 / 2) // exactly once
    assert(tiled.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(tiled).count() == 0)
    // balance: the hot bucket's 1770 pairs split over the 10 tiles,
    // no tile holding more than ~a quarter (one reducer's share drops
    // from 100% to the max tile's)
    val perTile = Skew.tiledSelfPairs(rows, Seq("bucket"), "doc_id", 4)
      .filter(col("bucket") === "b0")
    val counts = rows.filter(col("bucket") === "b0")
      .withColumn("c", pmod(xxhash64(col("doc_id")), lit(4L)))
      .groupBy("c").count().as[(Long, Long)].collect().toMap
    val maxTile = (for {
      i <- 0L until 4L; j <- i until 4L
    } yield if (i == j) counts.getOrElse(i, 0L) * (counts.getOrElse(i, 0L) - 1) / 2
      else counts.getOrElse(i, 0L) * counts.getOrElse(j, 0L)).max
    assert(perTile.count() == 1770L)
    assert(maxTile < 1770L / 3, s"max tile $maxTile of 1770")
  }

  test("candidatePairsFromSigs hot regime: the EXECUTED plan carries " +
      "the tile-keyed exchange and spreads a hot bucket's pairs " +
      "across partitions where the plain band join serializes them " +
      "(r14 verdict #4 — TiledAb measured wall-time; this pins the " +
      "plan shape)") {
    import org.apache.spark.sql.functions.{col, expr, lit}
    import graft.functions.PortableText.{tokenHashes, minHashes}
    // one maximally hot bucket: 60 identical docs, every band bucket
    // holds the whole corpus, 1770 true pairs (emitted at band 0 by
    // the first-match rule)
    val sigs = spark.range(60L)
      .select(col("id").as("doc_id"),
        lit("the quick brown fox jumps over the lazy dog again and " +
          "again building one maximally hot band bucket").as("text"))
      .withColumn("th", expr(tokenHashes))
      .withColumn("mh", expr(minHashes))
      .select("doc_id", "mh")
      .localCheckpoint(true)
    val expected = 60L * 59 / 2
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" ->
        spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.shuffle.partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions"))
    try {
      // the CLUSTER regime the tiles target: bands too big to
      // broadcast (forced), static plan (AQE off — §5 records that
      // local AQE can also skew-split the hot SMJ partition; the
      // tiled layout is the lever for fused pre-exchange work and
      // AQE-less plans, so the proof must not lean on AQE), and
      // enough reducers that tile keys can actually spread.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      def partCounts(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.rdd.mapPartitions(it => Iterator.single(it.size.toLong))
          .collect().toSeq
      // HOT path (threshold 10 < 60): tile-keyed exchange
      val hot = graft.operators.TextDedup.candidatePairsFromSigs(sigs,
        10L, tiles = 4)
      val hotParts = partCounts(hot)
      assert(hotParts.sum == expected)
      val hotPlan = hot.queryExecution.executedPlan.toString
      assert(("hashpartitioning\\(band#\\d+[^,]*, band_hash#\\d+L?" +
        ", _i#\\d+L?, _j#\\d+L?").r.findFirstIn(hotPlan).isDefined,
        s"no tile-keyed exchange in the hot plan:\n${hotPlan.take(3000)}")
      // the bucket's pairs spread: >= 4 reducers carry pairs and no
      // single reducer owns the bucket
      assert(hotParts.count(_ > 0) >= 4,
        s"pairs on ${hotParts.count(_ > 0)} partitions: $hotParts")
      assert(hotParts.max < expected,
        s"one reducer still owns the whole bucket: $hotParts")
      // COLD path under the same forced-SMJ regime: the band join
      // keys at (band, band_hash) only — identical docs collapse to
      // one emitting bucket and ONE reducer owns every pair (the
      // serialization the switch exists to break), while the
      // user-numbered round-robin repartition stays exactly as
      // written (no AQE rewrite — the §5 caveat, pinned here)
      val cold = graft.operators.TextDedup.candidatePairsFromSigs(sigs,
        Long.MaxValue,
        tiles = 4)
      val coldParts = partCounts(cold)
      assert(coldParts.sum == expected)
      assert(coldParts.max == expected,
        s"expected the hot bucket on one reducer in the cold " +
          s"layout: $coldParts")
      val coldPlan = cold.queryExecution.executedPlan.toString
      assert(coldPlan.contains("RoundRobinPartitioning(32"),
        s"user-numbered repartition missing:\n${coldPlan.take(3000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AQE splits a skewed shuffle-join partition at runtime " +
      "(H6: the built-in complement to H1's manual salting)") {
    // 200k rows on ONE key vs 2k spread over 200 keys — a single
    // shuffle partition carries ~99% of the data.
    val fact = spark.range(202000L)
      .selectExpr("id", "CASE WHEN id < 200000 THEN 0 ELSE id % 200 END AS k")
    val dim = spark.range(200L).selectExpr("id AS k", "id * 7 AS attr")
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"))
    try {
      // force a sort-merge join (no broadcast escape hatch) and set
      // the skew thresholds low enough that test-sized partitions
      // qualify: factor 2 over the median, 64 KB absolute floor,
      // 32 KB advisory target for the split pieces.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val joined = fact.join(dim, "k")
      // collect() executes THIS DataFrame's adaptive plan (count()
      // would wrap it in a new aggregate plan and leave this one
      // un-finalized at isFinalPlan=false)
      assert(joined.collect().length == 202000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-split in the final adaptive plan:\n$plan")
    } finally prev.foreach { case (key, v) => spark.conf.set(key, v) }
  }

  test("resampleSessionWindow keeps morning/afternoon groups separate") {
    def t(s: String) = Timestamp.valueOf(s)
    val rows = (0 until 10).map(i =>
      (i.toLong, 1L, t(f"2024-01-01 07:5${5 + i % 5}%d:0$i.0"), i * 1.0, i + 0.1)) ++
      (10 until 14).map(i =>
        (i.toLong, 1L, t(s"2024-01-01 13:55:0${i - 10}.0"), i * 1.0, i + 0.1)) :+
      ((20L, 1L, t("2024-01-01 09:00:00.0"), 99.0, 99.1)) // outside windows
    val df = rows.toDF("tick_id", "symbol", "ts", "bid", "ask")
    val out = Features.resampleSessionWindow(df, 4).collect()
    val wins = out.map(_.getAs[String]("win")).distinct.sorted
    assert(wins.toSeq == Seq("afternoon", "morning"))
    assert(out.count(_.getAs[String]("win") == "morning") == 4)
    assert(out.count(_.getAs[String]("win") == "afternoon") == 4)
    assert(!out.exists(_.getAs[Double]("bid") == 99.0))
  }

  test("streaming dedupExact flags later arrivals of the same content across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streaming.dedupExact(in.toDS())
      .writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Doc(1L, "hello"), Doc(2L, "world"), Doc(3L, "hello"))
      q.processAllAvailable()
      in.addData(Doc(4L, "hello")) // duplicate from a LATER batch
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, isDuplicate FROM sdedup")
        .as[(Long, Boolean)].collect().toMap
      assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true))
    } finally q.stop()
  }
}
