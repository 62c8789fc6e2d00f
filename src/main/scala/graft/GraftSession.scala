package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the
  * knobs that matter at 100 TB, set once (callers may override any of
  * them before `getOrCreate`).
  *
  * - AQE on (runtime coalescing, skew-join splitting, plan re-opt).
  * - `maxPartitionBytes` 160 MB: the reference's empirically-chosen
  *   split size for tick parquet (ref: `Data Preprocessing and
  *   Cleaning/spark_session_window_tick_cleaner.py:36`); keeps scan
  *   tasks big enough to amortize open costs, small enough to fit
  *   executor memory alongside a shuffle.
  * - shuffle partitions sized to the machine locally; on a cluster set
  *   it to ~2-3× total cores (AQE coalesces the excess).
  * - UTC session timezone: tick timestamps are exchange-local UTC; a
  *   machine-local timezone silently shifts every session window.
  * - file-listing parallelism sized like the shuffle: a read with more
  *   than `parallelPartitionDiscovery.threshold` (32) root paths lists
  *   them in a Spark job of min(paths, parallelism) tasks. At Spark's
  *   default parallelism (10000) that is one task per path, and a glob
  *   over `csv/<symbol>/<day>.csv` yields one root path per file: a
  *   480-file tick tree paid a 480-task stage of 2.4–2.6 s on 4 cores
  *   just to list, per read. Bounded at `shufflePartitions`, the same
  *   listing is one task per core locally (46–69 ms) and still fans
  *   out to every core of a cluster. The bound applies as well to
  *   partitioned trees with more than 32 directories, e.g.
  *   `GoldIngest.readDir` over thousands of symbols.
  * - [[GraftExtensions]] installed through `withExtensions`: the graft
  *   functions plus two AQE query-stage preparation rules. The
  *   extension is the only source of the `graft_*` functions the
  *   operators call, so a library caller builds its session here or
  *   sets `spark.sql.extensions=graft.GraftExtensions`; a session with
  *   neither fails analysis on the first `graft_*` call. Both rules
  *   are gated on `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  *   the size AQE coalesces shuffle reads toward (no conf of their
  *   own):
  *   - [[SmallPlanToOneStage]] runs a plan as one stage when every leaf
  *     already runs as one partition (a one-split file scan, a local
  *     table, a one-partition checkpoint, a materialized stage AQE
  *     would read as one partition) and the leaves together fit the
  *     gate: it drops every `ENSURE_REQUIREMENTS` shuffle, hash-joins
  *     in place of each pending broadcast, and coalesces each leaf to
  *     `SinglePartition`. A tick-sized key then pays one job, not one
  *     per stage. It keeps the plan whole under a generator, a
  *     null-aware anti join, a dynamic-pruning subquery or a `Union`,
  *     and never touches a user `repartition`, so every leaf keeps its
  *     one task;
  *   - [[SmallSortToSinglePartition]] plans a global sort whose input
  *     fits the gate (by the plan's size estimate, runtime stats once
  *     upstream stages have run) as an `Exchange SinglePartition`
  *     instead of a range shuffle. That skips the range partitioner's
  *     sampling job, a full recompute of the sort's input that AQE
  *     would coalesce back to one partition anyway.
  *   Scale-safe: the gate is AQE's own advisory size, estimates under
  *   Filter, Aggregate and Join are upper bounds, and at 100 TB every
  *   scan has many splits and every input is far above the gate, so
  *   such plans keep every exchange.
  * - `spark.sql.legacy.parquet.nanosAsLong`, so `Tables.events` can read
  *   the older TIMESTAMP(NANOS) testdata encoding as raw nanos (Spark 4
  *   refuses that type otherwise); set here once, not per read.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (160L * 1024 * 1024).toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        shufflePartitions.toString)
      // Whole-stage-codegen class cache (static conf, default 100
      // entries). The engine's registry runs hundreds of distinct
      // queries per session that share generated fragments (the
      // common scan projections, exchanges, window shapes); at the
      // default size the cache thrashes and shared fragments —
      // and every repeat execution — pay janino recompilation.
      // Generated classes are small; 4096 entries is a few hundred
      // MB of metaspace at worst and is workload-independent (a
      // cluster driver compiles per-executor anyway: this cache is
      // per-JVM and the same reasoning applies at any scale).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // file: scheme without per-file process forks (see
      // graft.hadoop.FastLocalFileSystem — absent the native Hadoop
      // library, every local file create forks `chmod`). Behavior
      // identical; cluster schemes (hdfs:, s3a:) untouched.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.hadoop.FastLocalFileSystem].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Run `body` with session conf `key` set to `value`. The session's
    * own setting is restored on every exit path — re-set if it had
    * one, unset if it ran on the default (`getAll` holds only set
    * keys, where `getOption` would also return a default and the
    * restore would pin it) — and the `try` begins right after the set,
    * so a throwing body cannot leak the override into the rest of the
    * session. */
  private[graft] def withConf[R](s: SparkSession, key: String, value: String)
                                (body: => R): R = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Local session for the driver-contract mains. */
  def local(cores: String): SparkSession = {
    val s = builder(s"local[$cores]",
      cores.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors()))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
