package graft

import org.apache.spark.sql.SparkSession

/** Session-level checkpoint garbage collection for the driver-contract
  * mains (Bench/Verify), which run the full ~270-key registry in one
  * SparkSession.
  *
  * The engine leans on eager `localCheckpoint(true)` as its barrier
  * discipline (~90 call sites): each one persists the materialized
  * partitions in the block manager, and nothing unpersists them — the
  * ContextCleaner only reclaims a checkpointed RDD once the JVM GC
  * collects it, which under a 270-query session lags far behind
  * allocation. Round 12 measured the consequence: the WARM repeat of
  * the full registry ran SLOWER than the cold pass (441 s vs 412 s) as
  * accumulated checkpoint blocks filled storage memory and pushed
  * evictions/GC into the second run. On a real cluster the same leak
  * consumes executor storage memory fleet-wide.
  *
  * The fix is deterministic, not GC-dependent: the runner snapshots
  * `sc.getPersistentRDDs` before each query and unpersists everything
  * NEW once the query's action completes. Frames that must outlive a
  * single query — deliberate cross-query caches such as the shared
  * F71/F74 candidate-pair census — register themselves via [[pin]]
  * and are never swept.
  *
  * Unpersisting a locally-checkpointed RDD after its consumer finished
  * is safe by construction here: each registry entry builds, executes,
  * and discards its DataFrame within one runner iteration, so no live
  * plan references the swept blocks (a localCheckpoint cannot be
  * recomputed once its blocks are dropped — hence pin() for anything
  * shared).
  */
object CkptGc {
  // Pins are keyed "applicationId:rddId", never a bare RDD id: RDD
  // ids are per-SparkContext counters starting at 0, so a bare id
  // pinned by one session would wrongly shield a SAME-NUMBERED
  // checkpoint of any later session in the same JVM from sweeping —
  // re-creating the very leak this class exists to fix (r13 review
  // finding; sbt test JVMs and repeated mains run many sessions).
  private val pinnedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def pinKey(spark: SparkSession, id: Int): String =
    s"${spark.sparkContext.applicationId}:$id"

  /** Quiet two cosmetic WARN floods in the contract mains ONLY
    * (tests and library users keep full logging):
    *
    *  - rdd package: unpersisting a locally-checkpointed RDD logs
    *    "lineage has been truncated and cannot be recomputed" —
    *    correct here by design (the consumer is done; see class doc)
    *    and at ~90 ckpt sites × 270 queries it would drown the
    *    driver's stdout tail.
    *  - WindowExec: "No Partition Defined for Window operation" fires
    *    on every GLOBAL window. Every such site in this engine runs
    *    on a bounded-by-construction frame — calendar/day rosters,
    *    vocab/bucket/histogram frames, snapshot logs, file manifests
    *    (audited site-by-site, r12 verdict §"What's wrong" #4; the
    *    four named sites carry in-code pins). ~90% of the r12 driver
    *    tail was this one message repeated. A future UNBOUNDED global
    *    window would still surface in `sbt test` runs and in plan
    *    audits (H-block WindowGroupLimit proofs), which keep the
    *    warning enabled. */
  def quietUnpersistWarnings(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Mark every persistent RDD NOT yet tracked as pinned. Call
    * immediately after creating a deliberate cross-query cache (the
    * creating thread sees its own localCheckpoint registered). */
  def pinNewSince(spark: SparkSession, before: Set[Int]): Unit = {
    val now = spark.sparkContext.getPersistentRDDs.keySet
    now.diff(before).foreach(id => pinnedIds.add(pinKey(spark, id)))
  }

  /** Snapshot the currently-persisted RDD ids (pass to [[sweep]] /
    * [[pinNewSince]]). */
  def snapshot(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop every pin belonging to `appId` — called by
    * [[SessionFrameCache]]'s application-end listener so a stopped
    * session's pins never outlive its (unrecoverable) checkpoint
    * blocks. Without this the pin set grows monotonically across
    * sessions in long-lived JVMs such as sbt test runners (r13
    * advice). */
  private[graft] def unpinApp(appId: String): Unit = {
    val it = pinnedIds.iterator()
    while (it.hasNext) if (it.next().startsWith(appId + ":")) it.remove()
  }

  /** Unpersist every RDD persisted since `before`, except pinned
    * ones. Blocking: the block-manager removal completes before the
    * next query starts, so storage memory is deterministically free
    * (the async spelling let removals lag behind a 272-query session
    * and the tail of run 2 still ran under pressure). The sweep runs
    * OUTSIDE the per-query timed span either way. */
  def sweep(spark: SparkSession, before: Set[Int]): Unit = {
    // Spark allows ONE live SparkContext per JVM, so any pin from a
    // different applicationId is a dead session's — prune them here
    // (belt to the listener's braces in SessionFrameCache).
    val liveApp = spark.sparkContext.applicationId
    val pit = pinnedIds.iterator()
    while (pit.hasNext)
      if (!pit.next().startsWith(liveApp + ":")) pit.remove()
    val now = spark.sparkContext.getPersistentRDDs
    now.foreach { case (id, rdd) =>
      if (!before.contains(id) && !pinnedIds.contains(pinKey(spark, id)))
        rdd.unpersist(blocking = true)
    }
  }
}
