package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import graft.sources.{Parquet, Tables}

/** [[Parquet.read]] opens a table without a Spark job and with the
  * schema `spark.read.parquet` infers, on every layout the program
  * reads. */
class ParquetSpec extends SparkSpec {

  private val testdata = "/root/testdata"
  private val baseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Jobs started while `body` runs. The listener bus is asynchronous
    * but ordered, so a marker job run after `body` is seen only once
    * every earlier job event has been. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = "graft-parquet-jobs-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var seen = -1
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) {
          seen = jobs.get()
          flushed.countDown()
        } else { jobs.incrementAndGet(); () }
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

  private def sameSchema(s: SparkSession, path: String): Unit = {
    val ours = Parquet.read(s, path).schema
    val theirs = s.read.parquet(path).schema
    assert(ours == theirs, s"$path:\n$ours\nvs Spark's\n$theirs")
  }

  test("Tables.table opens the 10 base tables without a Spark job; " +
      "spark.read.parquet runs one per table") {
    val d = s"$testdata/sf0.001"
    // a fresh session: the base-table memo of the shared one may be warm
    val ours = jobsDuring {
      val s = spark.newSession()
      baseTables.foreach(t => Tables.table(s, d, t).schema)
    }
    val sparks = jobsDuring {
      baseTables.foreach(t => spark.read.parquet(s"$d/$t.parquet").schema)
    }
    assert(ours == 0, s"Tables.table ran $ours jobs")
    assert(sparks == baseTables.size, s"spark.read.parquet ran $sparks jobs")
  }

  test("the opener's schema is Spark's for every base table at sf0.001, " +
      "sf0.01 and sf0.1") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- baseTables)
      sameSchema(spark, s"$testdata/$sf/$t.parquet")
  }

  test("events.ts in either encoding: TIMESTAMP(MICROS) as TIMESTAMP_NTZ, " +
      "TIMESTAMP(NANOS) as raw nanos under nanosAsLong") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withTempDir("graft_nanos") { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val conf = spark.sessionState.newHadoopConf()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      val file = new Path(dir.resolve("events.parquet").toUri)
      val w = ExampleParquetWriter.builder(file).withConf(conf).build()
      try {
        val f = new SimpleGroupFactory(schema)
        w.write(f.newGroup().append("event_id", 1L)
          .append("ts", 1704095701123456789L))
      } finally w.close()
      sameSchema(spark, file.toString)
      assert(Parquet.read(spark, file.toString).schema("ts").dataType == LongType)
      val micros = s"$testdata/sf0.001/events.parquet"
      sameSchema(spark, micros)
      assert(Parquet.read(spark, micros).schema("ts").dataType.typeName ==
        "timestamp_ntz")
    }
  }

  test("a glob of symbol directories, as GoldIngest.readDir reads it, " +
      "and a partitionBy tree get Spark's schema") {
    import spark.implicits._
    withTempDir("graft_parquet_layouts") { dir =>
      val ticks = Seq((1L, "2024-01-01 07:55:01", 1.5), (2L, "2025-02-01 08:00:00", 1.6))
        .toDF("id", "ts", "bid").withColumn("ts", col("ts").cast("timestamp"))
      Seq("XAUUSD", "BTCUSD").foreach(s =>
        ticks.write.parquet(dir.resolve(s"gold/$s").toString))
      sameSchema(spark, s"$dir/gold/*")
      val tree = dir.resolve("tree").toString
      ticks.withColumn("yr", year(col("ts"))).write.partitionBy("yr").parquet(tree)
      sameSchema(spark, tree)
      // the partition column is still inferred and appended
      assert(Parquet.read(spark, tree).columns.toSeq == Seq("id", "ts", "bid", "yr"))
      // a data column that also names a partition directory keeps its
      // data position and takes the directory's inferred type
      val overlap = dir.resolve("overlap").toString
      ticks.select(lit("7").as("yr"), col("id")).write.parquet(s"$overlap/yr=2024")
      sameSchema(spark, overlap)
    }
  }

  test("the footer read is the one Spark's inference reads: a " +
      "_common_metadata, else a _metadata summary, else the first " +
      "data file by path; never a hidden file") {
    withTempDir("graft_pick") { dir =>
      val t = java.nio.file.Files.createDirectory(dir.resolve("t"))
      // one single-column parquet file named `name` under t
      def file(column: String, name: String): Unit = {
        val tmp = dir.resolve(s"tmp_$name")
        spark.range(1).toDF(column).coalesce(1).write.parquet(tmp.toString)
        val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath, t.resolve(name))
      }
      file("hidden", ".0.parquet")
      file("first", "0.parquet")
      file("second", "1.parquet")
      file("metadata", "_metadata")
      file("common", "_common_metadata")
      def columns: Seq[String] = {
        sameSchema(spark, t.toString)
        Parquet.read(spark, t.toString).columns.toSeq
      }
      assert(columns == Seq("common"))
      java.nio.file.Files.delete(t.resolve("_common_metadata"))
      assert(columns == Seq("metadata"))
      java.nio.file.Files.delete(t.resolve("_metadata"))
      assert(columns == Seq("first"))
    }
  }

  test("a Spark-written file's row-metadata schema is honoured") {
    withTempDir("graft_row_metadata") { dir =>
      val md = new MetadataBuilder().putString("graft_unit", "cents").build()
      val p = dir.resolve("priced").toString
      spark.range(3).select(col("id"), (col("id") * 100).as("price", md))
        .write.parquet(p)
      sameSchema(spark, p)
      // field metadata exists only in Spark's row-metadata footer key
      assert(Parquet.read(spark, p).schema("price").metadata == md)
    }
  }

  test("mergeSchema=true still merges every footer") {
    withTempDir("graft_merge") { dir =>
      val p = dir.toString
      spark.range(2).toDF("a").write.parquet(s"$p/gen=0")
      spark.range(2).select(col("id").as("a"), col("id").as("b"))
        .write.parquet(s"$p/gen=1")
      GraftSession.withConf(spark, "spark.sql.parquet.mergeSchema", "true") {
        sameSchema(spark, p)
        assert(Parquet.read(spark, p).columns.toSeq == Seq("a", "b", "gen"))
      }
    }
  }

  test("an empty directory raises Spark's error") {
    withTempDir("graft_empty") { dir =>
      def error(read: => DataFrame): AnalysisException =
        intercept[AnalysisException](read)
      val ours = error(Parquet.read(spark, dir.toString))
      val sparks = error(spark.read.parquet(dir.toString))
      assert(ours.getCondition == sparks.getCondition, ours.getMessage)
      assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA", ours.getMessage)
    }
  }
}
