package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{CkptGc, GraftSession, SparkEntry}
import graft.operators.{CatalogOps, Lakehouse}
import graft.sources.{CsvTickIngest, GoldIngest, Tables}
import graft.streaming.StreamRegistry

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  * Closed loop, one client: the main thread issues each operation only
  * after the previous one returned. Every layer is timed from outside,
  * around the calls this file makes into the library; with `--trace 1`
  * a `SparkListener` and a `StreamingQueryListener` registered here
  * attribute jobs, stages and micro-batches to the operation that ran
  * them, and the spans are written to `--spans` at the end.
  *
  * Usage: Main --mode keys|ingest --data DIR --tmp DIR --out FILE
  *   [--keys k1,k2] [--fixtures f1,f2] [--seconds N] [--trace 0|1]
  *   [--dump DIR] [--spans FILE] [--warm-pass 0|1]
  *
  * Pass 0 (with `--warm-pass 1`) warms caches and writes the outputs
  * for the oracle check to `--dump`; it is not timed. Timed passes then
  * repeat until `--seconds` have passed: at least one, and with
  * tracing three (untraced, traced, untraced). Set-up runs
  * [[SetupReps]] times, the first in a fresh JVM.
  */
object Main {
  private def now(): Long = System.nanoTime()

  // ---- spans ------------------------------------------------------------

  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        start: Long, var end: Long)

  final class Spans {
    val all = ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, layer: String, s: Long, e: Long): Int = {
      val id = all.size
      all += Span(id, parent, name, layer, s, e)
      id
    }
  }

  // ---- listeners (trace mode only) --------------------------------------

  final case class Job(id: Int, group: String, start: Long, var end: Long,
                       stages: Seq[Int])
  final case class Stage(id: Int, submit: Long, done: Long, tasks: Int,
                         runMs: Long, cpuNs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, gcMs: Long,
                         result: Long)
  final case class Batch(triggerMs: Long, addBatchMs: Long, planningMs: Long,
                         walMs: Long, offsetsMs: Long, stateRows: Long,
                         stateMem: Long, stateCommitMs: Long, query: String)

  /** Records jobs, stages and streaming progress. Listener callbacks run
    * on the bus thread; the main thread reads after [[PerfbenchBus.drain]]. */
  final class Recorder extends SparkListener {
    private val jobs = ArrayBuffer.empty[Job]
    private val stages = ArrayBuffer.empty[Stage]
    private val batches = ArrayBuffer.empty[Batch]
    // listener timestamps are epoch ms; spans use nanoTime
    val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def toNs(ms: Long): Long = ms * 1000000L - offsetNs

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs += Job(e.jobId, g, toNs(e.time), -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = toNs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val submit = si.submissionTime.map(toNs).getOrElse(-1L)
      val done = si.completionTime.map(toNs).getOrElse(-1L)
      if (m == null) stages += Stage(si.stageId, submit, done, si.numTasks, 0, 0, 0, 0, 0, 0, 0)
      else stages += Stage(si.stageId, submit, done, si.numTasks, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime, m.resultSize)
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Recorder.this.synchronized {
          val p = e.progress
          def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          val ops = p.stateOperators
          batches += Batch(d("triggerExecution"), d("addBatch"), d("queryPlanning"),
            d("walCommit"), d("commitOffsets"), ops.map(_.numRowsTotal).sum,
            ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum, p.runId.toString)
        }
    }

    /** Take (and forget) everything recorded so far. */
    def take(): (Seq[Job], Seq[Stage], Seq[Batch]) = synchronized {
      val r = (jobs.toList, stages.toList, batches.toList)
      jobs.clear(); stages.clear(); batches.clear()
      r
    }
  }

  // ---- interval arithmetic ----------------------------------------------

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionLen(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  // ---- one operation ----------------------------------------------------

  final class OpRec(val pass: Int, val name: String, val kind: String) {
    var wall: Long = 0L
    var error: String = null
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
  }

  final case class Ctx(spark: SparkSession, data: String, tmp: String, trace: Boolean,
                       rec: Recorder, spans: Spans)

  /** Runs `phases` in order as one operation, spans pass → op → phase.
    * In trace mode the op's jobs (by job group, else by time, since the
    * loop is closed) and stages are folded into per-layer self times. */
  def runOp(c: Ctx, pass: Int, passSpan: Int, name: String, kind: String,
            phases: Seq[(String, () => Unit)]): OpRec = {
    val r = new OpRec(pass, name, kind)
    val sc = c.spark.sparkContext
    val group = s"perfbench-$pass-$name"
    if (c.trace) sc.setJobGroup(group, name, interruptOnCancel = false)
    val bounds = ArrayBuffer.empty[(String, Long, Long)]
    val t0 = now()
    var failed = false
    phases.foreach { case (ph, f) =>
      val s = now()
      if (!failed || ph == "sweep") {
        try f() catch { case NonFatal(e) =>
          failed = true
          r.error = s"$ph: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      val e = now()
      bounds += ((ph, s, e))
      r.add(s"phase.${ph}_s", (e - s) / 1e9)
    }
    val t1 = now()
    r.wall = t1 - t0
    heapMax = math.max(heapMax, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    if (c.trace) {
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      val (jobs, stages, batches) = c.rec.take()
      val opId = c.spans.add(passSpan, name, "op", t0, t1)
      val mine = jobs.filter(j => j.group == group ||
        (j.group == null || !j.group.startsWith("perfbench-")) && j.start >= t0 && j.start <= t1)
      val stageIds = mine.flatMap(_.stages).toSet
      val myStages = stages.filter(s => stageIds.contains(s.id))
      val jobIv = mine.map(j => (j.start, if (j.end < 0) t1 else j.end))
      val stageIv = myStages.filter(_.submit >= 0).map(s => (s.submit, if (s.done < 0) t1 else s.done))
      var covered = 0L
      bounds.foreach { case (ph, s, e) =>
        val pid = c.spans.add(opId, s"$name/$ph", ph, s, e)
        mine.filter(j => j.start >= s && j.start <= e).foreach { j =>
          val jid = c.spans.add(pid, s"job ${j.id}", "job", j.start, if (j.end < 0) e else j.end)
          myStages.filter(st => j.stages.contains(st.id) && st.submit >= 0).foreach { st =>
            c.spans.add(jid, s"stage ${st.id}", "stage", st.submit, st.done)
          }
        }
        val stagesLen = unionLen(stageIv, s, e)
        val sparkLen = unionLen(jobIv ++ stageIv, s, e)
        val driver = (e - s) - sparkLen
        val layer = ph match {
          case "build" => "registry.build"
          case "plan" => "catalyst"
          case "sweep" => "ckptgc.sweep"
          case _ => s"$kind.driver"
        }
        r.add(s"self.$layer", driver / 1e9)
        r.add("self.exec.sched", (sparkLen - stagesLen) / 1e9)
        r.add("self.exec.stages", stagesLen / 1e9)
        covered += driver + sparkLen
        if (ph == "build") {
          r.add("registry.build_jobs", mine.count(j => j.start >= s && j.start <= e))
          r.add("registry.build_job_s", unionLen(jobIv, s, e) / 1e9)
        }
        if (ph == "exec") r.add("exec.scheduler_gap_s", ((e - s) - stagesLen) / 1e9)
      }
      r.add("self.harness", (r.wall - covered) / 1e9)
      r.add("exec.jobs", mine.size)
      r.add("exec.stages", myStages.size)
      r.add("exec.tasks", myStages.map(_.tasks).sum)
      r.add("exec.executor_run_s", myStages.map(_.runMs).sum / 1e3)
      r.add("exec.executor_cpu_s", myStages.map(_.cpuNs).sum / 1e9)
      r.add("exec.shuffle_read_bytes", myStages.map(_.shuffleRead).sum)
      r.add("exec.shuffle_write_bytes", myStages.map(_.shuffleWrite).sum)
      r.add("exec.spill_bytes", myStages.map(_.spill).sum)
      r.add("exec.task_gc_s", myStages.map(_.gcMs).sum / 1e3)
      r.add("exec.result_bytes", myStages.map(_.result).sum)
      if (batches.nonEmpty) {
        r.add("streaming.batches", batches.size)
        r.add("streaming.trigger_ms", batches.map(_.triggerMs).sum)
        r.add("streaming.add_batch_ms", batches.map(_.addBatchMs).sum)
        r.add("streaming.query_planning_ms", batches.map(_.planningMs).sum)
        r.add("streaming.wal_commit_ms", batches.map(_.walMs).sum)
        r.add("streaming.commit_offsets_ms", batches.map(_.offsetsMs).sum)
        r.add("streaming.state_commit_ms", batches.map(_.stateCommitMs).sum)
        // state size: the last progress of each query in the drive
        val last = batches.groupBy(_.query).values.map(_.last)
        r.add("streaming.state_rows", last.map(_.stateRows).sum)
        r.add("streaming.state_mem_bytes", last.map(_.stateMem).sum)
        r.add("streaming.drive_outside_batches_s",
          (r.wall - batches.map(_.triggerMs).sum * 1000000L) / 1e9)
        batches.foreach(b => batchMs += b.triggerMs)
      }
    }
    r
  }

  val batchMs = ArrayBuffer.empty[Long]
  /** Largest heap in use at the end of an operation. */
  var heapMax = 0L

  // ---- registry keys ----------------------------------------------------

  def keyOp(c: Ctx, pass: Int, passSpan: Int, key: String, dump: Option[String]): OpRec = {
    val fn = SparkEntry.queries(key)
    var df: DataFrame = null
    var before: Set[Int] = Set.empty
    var persisted = 0
    val r = runOp(c, pass, passSpan, key, if (key.startsWith("q_stream_")) "stream" else "exec", Seq(
      "build" -> (() => { before = CkptGc.snapshot(c.spark); df = fn(c.spark, c.data) }),
      "plan" -> (() => { df.queryExecution.executedPlan; () }),
      "exec" -> (() => dump match {
        case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$key")
        case None => df.write.format("noop").mode("overwrite").save()
      }),
      "sweep" -> (() => {
        persisted = c.spark.sparkContext.getPersistentRDDs.size
        CkptGc.sweep(c.spark, before)
      })))
    r.add("ckptgc.rdds_swept", persisted - c.spark.sparkContext.getPersistentRDDs.size)
    if (c.trace && df != null && r.error == null) {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        r.add(s"catalyst.${p}_s", ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      }
    }
    r
  }

  // ---- the lake sequence ------------------------------------------------

  val Table = "perfbench_gold"

  /** Files and bytes of the table's data files. */
  def dataFiles(spark: SparkSession, dir: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0, 0L)
    val it = fs.listFiles(p, true)
    var n = 0; var b = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; b += f.getLen }
    }
    (n, b)
  }

  def ingestPass(c: Ctx, pass: Int, passSpan: Int, checks: scala.collection.mutable.Map[String, Double]): Seq[OpRec] = {
    val spark = c.spark
    val csvGlob = s"${c.data}/csv/*/*.csv"
    val gold = s"${c.tmp}/gold-$pass"
    val out = ArrayBuffer.empty[OpRec]
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    def op(name: String)(f: => Unit): OpRec = {
      val r = runOp(c, pass, passSpan, name, "ingest", Seq("exec" -> (() => f)))
      out += r; r
    }
    // rows carry the snapshot that committed them: create = 0,
    // the k-th daily append = k (days 16..30)
    def rows(from: Int, to: Int): DataFrame = spark.read.parquet(gold)
      .filter(dayofmonth(col("ts")).between(from, to))
      .select(col("ts"), col("bid"), col("ask"), col("symbol").cast("string").as("symbol"),
        greatest(lit(0), dayofmonth(col("ts")) - 15).as("snap"))
    op("csv_read") {
      CsvTickIngest.read(spark, csvGlob).write.format("noop").mode("overwrite").save()
    }
    val w = op("gold_write") { CsvTickIngest.write(CsvTickIngest.read(spark, csvGlob), gold) }
    w.add("sources.files_written", dataFiles(spark, gold)._1)
    op("gold_readdir") {
      checks("readdir_rows") = GoldIngest.readDir(spark, s"${c.data}/gold_sym").count().toDouble
    }
    op("catalog_create") { CatalogOps.createGoldTable(rows(1, 15), Table) }
    val loc = s"${c.tmp}/warehouse/$Table"  // the managed table's directory
    for (d <- 16 to 30) op("catalog_append") { CatalogOps.appendSnapshot(rows(d, d), Table) }
    op("catalog_overwrite") { CatalogOps.overwritePartitions(rows(1, 31), Table) }
    op("catalog_upsert") {
      CatalogOps.upsertTable(spark, Table,
        rows(30, 30).filter(pmod(hash(col("ts")), lit(10)) === 0)
          .withColumn("year", year(col("ts"))),
        Seq("symbol", "ts"), Seq("year"))
    }
    val (nBefore, _) = dataFiles(spark, loc)
    val cp = op("catalog_compact") { CatalogOps.compactPartitions(spark, Table, Seq(2024)); () }
    val (nAfter, bytesAfter) = dataFiles(spark, loc)
    cp.add("catalog.files_before_compact", nBefore)
    cp.add("catalog.files_after_compact", nAfter)
    cp.add("catalog.bytes_rewritten", bytesAfter)
    op("catalog_orphan_gc") { CatalogOps.removeOrphanFiles(spark, Table, delete = true).count(); () }
    op("catalog_read_back") {
      spark.catalog.refreshTable(Table)
      val t = spark.table(Table)
      val a = t.agg(count(lit(1)), sum(round(col("bid") * 100).cast("long")),
        sum(round(col("ask") * 1000000).cast("long")), sum(unix_millis(col("ts")))).head()
      checks("rows") = a.getLong(0).toDouble
      checks("bid_cents") = a.getLong(1).toDouble
      checks("ask_micros") = a.getLong(2).toDouble
      checks("ts_millis") = a.getLong(3).toDouble
      checks("asof0_rows") = Lakehouse.snapshotAsOf(t, col("snap"), lit(0), "year")
        .agg(sum("n_rows")).head().getLong(0).toDouble
    }
    checks("gold_bytes") = bytesAfter.toDouble
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    rmTree(new File(gold))
    out.toSeq
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  // ---- set-up -----------------------------------------------------------

  def newSession(tmp: String, cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Warm the engine's one-time machinery on synthetic data only; for
    * the lake also the CSV reader, the partitioned parquet writer and a
    * catalog table, so the timed pass does not pay their first use. */
  def warmUp(spark: SparkSession, mode: String, tmp: String): Unit = {
    spark.range(200000L).selectExpr("id % 97 AS k", "id").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    spark.range(1000L).write.format("noop").mode("overwrite").save()
    if (mode == "ingest") {
      val dir = s"$tmp/warm-${System.nanoTime()}"
      spark.range(20000L).select(
        date_format(timestamp_micros(col("id") * 997000L + 1704067200000000L),
          "yyyyMMdd HH:mm:ss.SSS").as("DateTime"),
        (col("id") % 1000 / 10.0).as("Bid"), (col("id") % 1000 / 10.0 + 0.01).as("Ask"),
        lit(1.0).as("Volume"))
        .write.option("header", "true").csv(s"$dir/csv/SYM")
      val ticks = CsvTickIngest.read(spark, s"$dir/csv/*/*.csv")
      ticks.write.format("noop").mode("overwrite").save()
      CsvTickIngest.write(ticks, s"$dir/gold")
      val t = "perfbench_warm"
      CatalogOps.createGoldTable(spark.read.parquet(s"$dir/gold").drop("year"), t)
      CatalogOps.appendSnapshot(spark.read.parquet(s"$dir/gold").drop("year"), t)
      spark.table(t).agg(count(lit(1))).head()
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmTree(new File(dir))
    }
  }

  /** The session-shared fixtures a workload builds during set-up, by
    * the same calls (and so the same memo keys) its registry keys make. */
  def fixture(spark: SparkSession, d: String, name: String): Unit = name match {
    case "stream_tape" => StreamRegistry.warmTape(spark, d); ()
    case other => sys.error(s"unknown fixture $other")
  }

  val SetupReps = 3

  // ---- main -------------------------------------------------------------

  /** JSON string literal; control characters are escaped as \\uXXXX. */
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val mode = a("mode")
    val data = a("data")
    val tmp = a("tmp")
    val trace = a.getOrElse("trace", "0") == "1"
    val seconds = a.getOrElse("seconds", "10").toDouble
    val keys = a.get("keys").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val fixtures = a.get("fixtures").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val dump = a.get("dump")
    val warmPass = a.getOrElse("warm-pass", "1") == "1"
    val minPasses = if (trace) 3 else 1
    val cores = Runtime.getRuntime.availableProcessors()
    CkptGc.quietUnpersistWarnings()

    keys.foreach(k => require(SparkEntry.queries.contains(k), s"unknown registry key $k"))

    // set-up, repeated: a fresh session each time, so the median is a
    // warm-JVM set-up and the first sample shows the cold one
    val setupSamples = ArrayBuffer.empty[Double]
    val setupParts = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (_ <- 0 until SetupReps) {
      val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val t0 = now()
      spark = if (spark == null) newSession(tmp, cores) else {
        // a fresh session on the same context: every session-scoped
        // memo (base tables, fixtures, tapes) is rebuilt
        val prev = spark
        val s = prev.newSession()
        prev.conf.getAll.foreach { case (k, v) =>
          if (s.conf.isModifiable(k) && !s.conf.getOption(k).contains(v)) s.conf.set(k, v)
        }
        s
      }
      parts("session.create_s") = (now() - t0) / 1e9
      var t = now()
      warmUp(spark, mode, tmp)
      parts("session.warmup_s") = (now() - t) / 1e9
      t = now()
      if (mode == "keys") {
        val present = new File(data).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
        present.sorted.foreach(n => Tables.table(spark, data, n).schema)
      }
      parts("session.base_tables_s") = (now() - t) / 1e9
      fixtures.foreach { f =>
        t = now()
        fixture(spark, data, f)
        parts(s"fixtures.${f}_s") = (now() - t) / 1e9
      }
      setupSamples += (now() - t0) / 1e9
      setupParts += parts.toMap
    }

    val rec = new Recorder
    val spans = new Spans
    val ctx = Ctx(spark, data, tmp, trace, rec, spans)
    val sc = spark.sparkContext

    val ops = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def attach(on: Boolean): Unit =
      if (on) { sc.addSparkListener(rec); spark.streams.addListener(rec.streams) }
      else { sc.removeSparkListener(rec); spark.streams.removeListener(rec.streams) }

    def onePass(c: Ctx, p: Int, dumpTo: Option[String]): Seq[OpRec] = {
      val ps = now()
      val passSpan = if (c.trace) spans.add(-1, s"pass $p", "pass", ps, ps) else -1
      val rs = mode match {
        case "keys" => keys.map(k => keyOp(c, p, passSpan, k, dumpTo))
        case "ingest" => ingestPass(c, p, passSpan, checks)
      }
      if (c.trace) spans.all(passSpan).end = now()
      passes += ((p, c.trace, (now() - ps) / 1e9))
      rs
    }

    if (trace) attach(true)
    // pass 0: warm-up and correctness dump, untimed
    dump.foreach { d =>
      new File(d).mkdirs()
      Files.write(Paths.get(d, "oracle_sql.json"), keys.filter(SparkEntry.oracleSql.contains)
        .map(k => s"${js(k)}:${js(SparkEntry.oracleSql(k))}").mkString("{", ",", "}").getBytes("UTF-8"))
    }
    val warm = if (warmPass) onePass(ctx, 0, dump) else Nil
    var firstChecks = checks.toMap
    passes.clear()
    if (trace) { PerfbenchBus.drain(sc); rec.take(); spans.all.clear(); batchMs.clear() }

    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    System.gc()
    val gc0 = (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
    val tStart = now()
    heapMax = 0L
    var p = 1
    // in trace mode passes alternate untraced / traced (listeners
    // detached on odd passes), so the tracing overhead is measured
    // within one run against the untraced passes on either side
    while (p <= minPasses || (now() - tStart) / 1e9 < seconds) {
      val traced = trace && p % 2 == 0
      if (trace && !traced) attach(false)
      ops ++= onePass(ctx.copy(trace = traced), p, if (warmPass) None else dump.filter(_ => p == 1))
      if (trace && !traced) attach(true)
      if (!warmPass && p == 1) firstChecks = checks.toMap
      p += 1
    }
    val heapPeak = heapMax / (1024.0 * 1024.0)
    val gc1 = (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed / (1024.0 * 1024.0)).getOrElse(0.0)

    // self-time check: per traced op, the share of its wall time that no
    // named layer span covers (the harness residual between phases)
    val selfErr = ops.flatMap(o => o.layers.get("self.harness").map(_ / math.max(o.wall / 1e9, 1e-9)))

    val sb = new StringBuilder
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"${js(k)}:${num(v)}" }.mkString("{", ",", "}")
    def opJson(o: OpRec): String =
      s"""{"pass":${o.pass},"name":${js(o.name)},"kind":${js(o.kind)},"wall_s":${o.wall / 1e9},""" +
        s""""error":${if (o.error == null) "null" else js(o.error)},"layers":${obj(o.layers)}}"""
    sb ++= "{"
    sb ++= s""""env":{"spark":${js(spark.version)},"jdk":${js(System.getProperty("java.version"))},""" +
      s""""cores":$cores,"heap_max_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
      s""""codegen_cache_conf":${js(spark.conf.get("spark.sql.codegen.cache.maxEntries", ""))}},"""
    sb ++= s""""setup_s":${setupSamples.map(num).mkString("[", ",", "]")},"""
    sb ++= s""""setup_parts":${setupParts.map(obj).mkString("[", ",", "]")},"""
    sb ++= s""""warm_ops":${warm.map(opJson).mkString("[", ",", "]")},"""
    sb ++= s""""ops":${ops.map(opJson).mkString("[", ",", "]")},"""
    sb ++= s""""passes":${passes.map { case (i, t, w) => s"""{"pass":$i,"traced":$t,"wall_s":$w}""" }.mkString("[", ",", "]")},"""
    sb ++= s""""batch_ms":${batchMs.mkString("[", ",", "]")},"""
    sb ++= s""""checks":${obj(firstChecks)},"checks_last":${obj(checks)},"""
    sb ++= s""""jvm":{"heap_peak_mb":$heapPeak,"gc_count":${gc1._1 - gc0._1},"gc_s":${(gc1._2 - gc0._2) / 1e3},"metaspace_mb":$metaspace},"""
    sb ++= s""""self_err_max":${num(if (selfErr.isEmpty) 0.0 else selfErr.max)},"measure_s":${(now() - tStart) / 1e9}"""
    sb ++= "}"
    Files.write(Paths.get(a("out")), sb.toString.getBytes("UTF-8"))

    if (trace) a.get("spans").foreach { f =>
      val lines = spans.all.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${js(s.name)},"layer":${js(s.layer)},"start_ns":${s.start},"end_ns":${s.end}}""")
      Files.write(Paths.get(f), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
