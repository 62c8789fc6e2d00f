package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The session [[GraftSession.builder]] ships: the two AQE rules of
  * [[GraftExtensions]] and the session confs it sets once. */
class GraftSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Jobs and tasks `body` submits. The listener bus is asynchronous
    * but ordered, so a marker job run after `body` is seen only once
    * every earlier job start and stage submission has been. */
  private def jobsAndTasks(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val marker = "graft-jobs-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var seen = (-1, -1)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) {
          seen = (started.get(), tasks.get())
          flushed.countDown()
        } else { started.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (flushed.getCount > 0) { tasks.addAndGet(e.stageInfo.numTasks); () }
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

  private def jobs(body: => Unit): Int = jobsAndTasks(body)._1

  /** Partitionings of the shuffles in an executed frame's final plan. */
  private def shuffles(df: DataFrame): Seq[Partitioning] =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }

  /** Nodes of an executed frame's final plan, stages included. */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  private def ranged(ps: Seq[Partitioning]): Boolean =
    ps.exists(_.isInstanceOf[RangePartitioning])

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private def advisory: Long =
    spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  private val n = 4000L
  /** 4000 rows in 4 slices; k = id * 7919 mod 1000 repeats each k 4x. */
  private def keyed: DataFrame =
    spark.range(0, n, 1, 4).selectExpr("(id * 7919) % 1000 AS k", "id")
  private def sorted: DataFrame = keyed.orderBy(col("k").desc, col("id"))
  private val expected: Seq[(Long, Long)] =
    (0L until n).map(id => ((id * 7919) % 1000, id))
      .sortBy { case (k, id) => (-k, id) }
  private def pairs(rows: Array[Row]): Seq[(Long, Long)] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))

  test("a small global sort plans Exchange SinglePartition, runs no " +
      "sampling job and returns the Scala-side sort order") {
    val conf0 = spark.conf.getOption(advisoryKey)
    val df = sorted
    var rows = Array.empty[Row]
    val small = jobs { rows = df.collect() }
    assert(shuffles(df).contains(SinglePartition), shuffles(df))
    assert(!ranged(shuffles(df)), shuffles(df))
    assert(pairs(rows) == expected)
    // the same sort with the gate below its input: range shuffle, whose
    // partitioner samples the input in a job of its own first
    val gated = sorted
    var gatedRows = Array.empty[Row]
    val withSampling = withAdvisory(1024) { jobs { gatedRows = gated.collect() } }
    assert(ranged(shuffles(gated)), shuffles(gated))
    assert(withSampling == small + 1, s"jobs: range $withSampling, single $small")
    assert(pairs(gatedRows) == expected)
    assert(spark.conf.getOption(advisoryKey) == conf0)
  }

  test("a sort over an aggregate is rewritten from the aggregate " +
      "stage's runtime size when the static estimate is above the gate") {
    // the filter keeps 1 row in 1000, which a size-only estimate cannot
    // see: statically the sort input is over the gate, at runtime tiny
    val df = spark.range(0, 200000, 1, 4).filter(col("id") % 1000 === 7)
      .groupBy((col("id") % 50).as("k")).agg(count(lit(1)).as("c"))
      .orderBy(col("k"))
    val gate = 64L * 1024
    withAdvisory(gate) {
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > gate)
      val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(rows == (0L until 50L).map(k => (k, if (k == 7) 200L else 0L))
        .filter(_._2 > 0))
      // the re-plan after the aggregate stage runs one-stages the rest:
      // the sort runs on that stage's one-partition read, no exchange
      assert(shuffles(df).forall(_.isInstanceOf[HashPartitioning]), shuffles(df))
      assert(shuffles(df).size == 1, shuffles(df))
      assert(nodes(df).exists(_.isInstanceOf[CoalesceExec]))
    }
  }

  test("a sort over a union of two aggregates plans Exchange " +
      "SinglePartition from the stages' runtime size") {
    // the Union keeps the re-plan multi-stage, so the sort's shuffle is
    // the small-sort rule's to rewrite
    def agg(m: Long) = spark.range(0, 200000, 1, 4).filter(col("id") % 1000 === m)
      .groupBy((col("id") % 50).as("k")).agg(count(lit(1)).as("c"))
    val df = agg(7).union(agg(8)).orderBy(col("k"), col("c"))
    val gate = 64L * 1024
    withAdvisory(gate) {
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > gate)
      val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(rows == Seq((7L, 200L), (8L, 200L)))
      assert(shuffles(df).contains(SinglePartition), shuffles(df))
      assert(!ranged(shuffles(df)), shuffles(df))
    }
  }

  test("repartitionByRange keeps its range shuffle and partition count") {
    val df = keyed.repartitionByRange(8, col("k"))
    df.collect()
    assert(shuffles(df).exists {
      case RangePartitioning(_, 8) => true
      case _ => false
    }, shuffles(df))
    assert(df.rdd.getNumPartitions == 8)
  }

  test("a sort over explode output keeps the range shuffle: the size " +
      "estimate does not grow with a generator's rows") {
    val df = spark.range(0, 20, 1, 2)
      .select(col("id"), explode(sequence(lit(0L), lit(199L))).as("x"))
      .orderBy(col("x").desc, col("id"))
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes <= advisory)
    val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(ranged(shuffles(df)), shuffles(df))
    assert(rows == (for (x <- 199L to 0L by -1; id <- 0L until 20L) yield (id, x)))
  }

  /** Runs `body` over one-split parquet tables in a fresh temp dir:
    * `orders(o_id, cust, amount)` with 4000 rows over 300 customers,
    * `customer(cust, nation)` with 300 rows over 7 nations. */
  private def withTables[T](body: (DataFrame, DataFrame) => T): T =
    withTempDir("graft_one_stage") { tmp =>
      val d = tmp.toString
      spark.range(0, 4000, 1, 1).selectExpr("id AS o_id", "(id * 37) % 300 AS cust",
          "(id * 7919) % 1000 AS amount")
        .write.parquet(s"$d/orders")
      spark.range(0, 300, 1, 1).selectExpr("id AS cust", "(id * 13) % 7 AS nation")
        .write.parquet(s"$d/customer")
      body(spark.read.parquet(s"$d/orders"), spark.read.parquet(s"$d/customer"))
    }

  /** Aggregate ⋈ table → rank window → sort, the shape of most small
    * registry keys. */
  private def ranked(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.groupBy("cust").agg(sum("amount").as("total"))
      .join(customer, "cust")
      .withColumn("rk", rank().over(
        Window.partitionBy("nation").orderBy(col("total").desc, col("cust"))))
      .orderBy("nation", "rk")

  private def rankedRows(rows: Array[Row]): Seq[(Long, Long, Long, Int)] =
    rows.toSeq.map(r => (r.getAs[Long]("nation"), r.getAs[Long]("cust"),
      r.getAs[Long]("total"), r.getAs[Int]("rk")))

  test("an aggregate ⋈ table → rank window → sort over one-split parquet " +
      "runs as one job, with the rows of the run gated at 1 KB") {
    withTables { (orders, customer) =>
      val df = ranked(orders, customer)
      var rows = Array.empty[Row]
      val one = jobs { rows = df.collect() }
      assert(one == 1, s"jobs: $one\n${df.queryExecution.executedPlan}")
      assert(shuffles(df).isEmpty, shuffles(df))
      assert(!nodes(df).exists(_.isInstanceOf[BroadcastExchangeExec]))
      assert(nodes(df).exists(_.isInstanceOf[CoalesceExec]))
      val gated = ranked(orders, customer)
      var gatedRows = Array.empty[Row]
      val many = withAdvisory(1024) { jobs { gatedRows = gated.collect() } }
      assert(many > 1, s"jobs at the 1 KB gate: $many")
      assert(rankedRows(rows) == rankedRows(gatedRows))
      assert(rows.length == 300)
    }
  }

  test("the 1 KB gate keeps every shuffle of the ranked plan") {
    withTables { (orders, customer) =>
      val df = ranked(orders, customer)
      withAdvisory(1024) { df.collect() }
      val ps = shuffles(df)
      // the aggregate's and the window's hash shuffles, the sort's range
      // shuffle, and the join's broadcast
      assert(ps.count(_.isInstanceOf[HashPartitioning]) == 2, ps)
      assert(ps.count(_.isInstanceOf[RangePartitioning]) == 1, ps)
      assert(nodes(df).count(_.isInstanceOf[BroadcastExchangeExec]) == 1)
      assert(nodes(df).exists(_.isInstanceOf[BroadcastHashJoinExec]))
      assert(!nodes(df).exists(p => p.isInstanceOf[CoalesceExec] ||
        p.isInstanceOf[ShuffledHashJoinExec]))
    }
  }

  test("a join with one multi-partition side keeps both exchanges") {
    withTables { (_, customer) =>
      GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
        val df = customer.join(
          spark.range(0, 300, 1, 4).selectExpr("id AS cust", "id * 2 AS twice"), "cust")
        val rows = df.collect().toSeq.map(r => (r.getAs[Long]("cust"), r.getAs[Long]("twice")))
        assert(rows.sorted == (0L until 300L).map(c => (c, 2 * c)))
        assert(shuffles(df).count(_.isInstanceOf[HashPartitioning]) == 2, shuffles(df))
        assert(!nodes(df).exists(_.isInstanceOf[CoalesceExec]))
      }
    }
  }

  test("an aggregate over a 4-file parquet scan keeps its shuffle") {
    withTables { (orders, _) =>
      withTempDir("graft_four_files") { tmp =>
        val d = tmp.toString
        orders.repartition(4).write.parquet(s"$d/orders")
        val df = spark.read.parquet(s"$d/orders").groupBy("cust").agg(count(lit(1)).as("c"))
        val rows = df.collect()
        assert(rows.length == 300 && rows.map(_.getLong(1)).sum == 4000L)
        assert(shuffles(df).exists(_.isInstanceOf[HashPartitioning]), shuffles(df))
        assert(!nodes(df).exists(_.isInstanceOf[CoalesceExec]))
      }
    }
  }

  test("a 3-branch Union of one-split scans keeps its tasks") {
    withTables { (orders, _) =>
      val df = orders.union(orders).union(orders)
        .groupBy("cust").agg(count(lit(1)).as("c"))
      var rows = Array.empty[Row]
      val (_, tasks) = jobsAndTasks { rows = df.collect() }
      assert(rows.map(_.getLong(1)).sum == 3 * 4000L)
      assert(nodes(df).exists(_.isInstanceOf[UnionExec]))
      assert(!nodes(df).exists(_.isInstanceOf[CoalesceExec]))
      // one scan task per branch, then the aggregate's coalesced read
      assert(tasks >= 4, s"tasks: $tasks")
    }
  }

  test("NOT IN keeps its null-aware BroadcastHashJoin") {
    withTables { (orders, customer) =>
      orders.createOrReplaceTempView("graft_one_stage_orders")
      customer.createOrReplaceTempView("graft_one_stage_customer")
      val df = spark.sql("SELECT cust FROM graft_one_stage_customer WHERE cust NOT IN " +
        "(SELECT cust FROM graft_one_stage_orders WHERE amount < 50) ORDER BY cust")
      val rows = df.collect().toSeq.map(_.getLong(0))
      val kept = (0L until 4000L).filter(id => (id * 7919) % 1000 < 50)
        .map(id => (id * 37) % 300).toSet
      assert(rows.nonEmpty && rows == (0L until 300L).filterNot(kept))
      assert(nodes(df).exists {
        case j: BroadcastHashJoinExec => j.isNullAwareAntiJoin
        case _ => false
      }, df.queryExecution.executedPlan)
    }
  }

  test("explode over a one-split scan keeps its shuffle") {
    withTables { (_, customer) =>
      val df = customer
        .select(col("cust"), explode(sequence(lit(0L), lit(199L))).as("x"))
        .groupBy("x").agg(sum("cust").as("s"))
      val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sorted == (0L until 200L).map(x => (x, 300L * 299 / 2)))
      assert(shuffles(df).exists(_.isInstanceOf[HashPartitioning]), shuffles(df))
      assert(!nodes(df).exists(_.isInstanceOf[CoalesceExec]))
    }
  }

  test("nanosAsLong is set once by the session; Tables.events writes no " +
      "session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.sparkContext.getConf.get(key) == "true")
    val old = spark.conf.getOption(key)
    try {
      // unset, so a reader that sets it again shows in getAll
      spark.conf.unset(key)
      withTempDir("graft_events") { tmp =>
        val d = tmp.toString
        spark.range(3).selectExpr("id AS event_id",
          "TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts")
          .write.parquet(s"$d/events.parquet")
        val before = spark.conf.getAll
        val ev = Tables.events(spark, d)
        assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
        assert(ev.count() == 3)
        assert(spark.conf.getAll == before)
      }
    } finally old.foreach(spark.conf.set(key, _))
  }

  private val graftFunctions = Seq("graft_polyhash", "graft_grams",
    "graft_vecdot", "graft_minhashes", "graft_simhash", "graft_wordgrams",
    "graft_pqcodes", "graft_winnow", "graft_charentropy", "graft_cdc",
    "graft_sorted_ncommon")

  test("GraftExtensions alone resolves all eleven graft_* functions in a " +
      "fresh session, before any operator registers one") {
    // a new session gets the extensions' functions and nothing
    // registered on another session
    val fresh = spark.newSession()
    val missing = graftFunctions.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved: $missing")
  }

  test("building and running registry keys leaves each graft_* registry " +
      "entry the one GraftExtensions installed") {
    val registry = spark.sessionState.functionRegistry
    def entries = graftFunctions.map { name =>
      val id = FunctionIdentifier(name)
      (name, registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get)
    }
    val before = entries
    // a tiny corpus in the registry's table layout: the three keys use
    // graft_polyhash, graft_vecdot, graft_charentropy and graft_grams
    withTempDir("graft_registry_keys") { d =>
      spark.range(0, 8, 1, 1).selectExpr("id AS doc_id",
          "concat('doc ', CAST(id AS STRING), ' text ', repeat('ab', CAST(id AS INT))) AS text",
          "'en' AS lang", "'web' AS source", "CAST(0 AS BIGINT) AS n_chars")
        .write.parquet(s"$d/documents.parquet")
      spark.range(0, 20, 1, 1).selectExpr("id AS vec_id",
          "transform(sequence(0, 63), i -> CAST((id * 7 + i) % 11 - 5 AS FLOAT)) AS embedding",
          "CAST(id % 3 AS INT) AS label")
        .write.parquet(s"$d/embeddings.parquet")
      for (key <- Seq("q_doc_fingerprint", "q_ann_topk", "q_char_entropy"))
        assert(SparkEntry.queries(key)(spark, d.toString).collect().nonEmpty, key)
    }
    before.zip(entries).foreach { case ((name, info0, build0), (_, info1, build1)) =>
      assert(info1 eq info0, s"$name: ExpressionInfo replaced")
      assert(build1 eq build0, s"$name: builder replaced")
    }
  }
}
