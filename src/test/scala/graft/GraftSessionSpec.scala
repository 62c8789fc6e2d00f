package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The session [[GraftSession.builder]] ships: the small-sort rule of
  * [[GraftExtensions]] and the session confs it sets once. */
class GraftSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Jobs `body` submits. The listener bus is asynchronous but
    * ordered, so a marker job run after `body` is seen only once every
    * earlier job start has been. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "graft-jobs-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var seen = -1
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) {
          seen = started.get()
          flushed.countDown()
        } else { started.incrementAndGet(); () }
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

  /** Partitionings of the shuffles in an executed frame's final plan. */
  private def shuffles(df: DataFrame): Seq[Partitioning] =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }

  private def ranged(ps: Seq[Partitioning]): Boolean =
    ps.exists(_.isInstanceOf[RangePartitioning])

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private def advisory: Long =
    spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  private def withAdvisory[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.getOption(advisoryKey)
    spark.conf.set(advisoryKey, bytes.toString)
    try body finally old.fold(spark.conf.unset(advisoryKey))(spark.conf.set(advisoryKey, _))
  }

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

  test("nanosAsLong is set once by the session; Tables.events writes no " +
      "session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.sparkContext.getConf.get(key) == "true")
    val old = spark.conf.getOption(key)
    try {
      // unset, so a reader that sets it again shows in getAll
      spark.conf.unset(key)
      val d = java.nio.file.Files.createTempDirectory("graft_events").toString
      spark.range(3).selectExpr("id AS event_id",
        "TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts")
        .write.parquet(s"$d/events.parquet")
      val before = spark.conf.getAll
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(ev.count() == 3)
      assert(spark.conf.getAll == before)
    } finally old.foreach(spark.conf.set(key, _))
  }
}
