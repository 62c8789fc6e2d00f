package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, GenerateExec, LocalTableScanExec, RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, CoalesceShufflePartitions, QueryStageExec, ShufflePartitionsUtil, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, EnsureRequirements, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.internal.SQLConf
import graft.functions.{CdcChunks, CharEntropy, CharGrams, MinHashes, PolyHash, PqCodes, SimHash64, SortedCommon, VecDot, Winnow, WordGrams}

/** Canonical extension injection point. [[GraftSession.builder]]
  * installs it through `withExtensions`, and `--conf
  * spark.sql.extensions=graft.GraftExtensions` does the same for every
  * session of a cluster deployment. It adds:
  *
  *  - all eleven `graft_*` functions. This is the only place they are
  *    registered: an operator that calls one needs a session built
  *    with this extension (through [[GraftSession]] or the conf
  *    above). `newSession()` keeps them;
  *  - two AQE query-stage preparation rules, applied in this order to
  *    the initial plan and at every AQE re-plan:
  *    [[SmallPlanToOneStage]], so a plan whose leaves each run as one
  *    partition and together fit one advisory partition runs as one
  *    stage, and [[SmallSortToSinglePartition]], so a small global sort
  *    over a multi-partition input skips the range-sampling job.
  *
  * Both rules gate on `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * the partition size AQE coalesces shuffle reads toward. At cluster
  * scale every scan has many splits and every input is far above that
  * size, so neither rule changes such a plan; without AQE neither runs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(SmallPlanToOneStage(_))
    ext.injectQueryStagePrepRule(_ => SmallSortToSinglePartition)
    // Builders are the validated fromArgs factories — arity/literal
    // misuse fails analysis with the function signature in the message.
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("graft_polyhash", classOf[PolyHash], PolyHash.fromArgs),
      ("graft_grams", classOf[CharGrams], CharGrams.fromArgs),
      ("graft_vecdot", classOf[VecDot], VecDot.fromArgs),
      ("graft_minhashes", classOf[MinHashes], MinHashes.fromArgs),
      ("graft_simhash", classOf[SimHash64], SimHash64.fromArgs),
      ("graft_wordgrams", classOf[WordGrams], WordGrams.fromArgs),
      ("graft_pqcodes", classOf[PqCodes], PqCodes.fromArgs),
      ("graft_winnow", classOf[Winnow], Winnow.fromArgs),
      ("graft_charentropy", classOf[CharEntropy], CharEntropy.fromArgs),
      ("graft_cdc", classOf[CdcChunks], CdcChunks.fromArgs),
      ("graft_sorted_ncommon", classOf[SortedCommon], SortedCommon.fromArgs)
    ).foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}

/** Size and generator checks shared by [[SmallPlanToOneStage]] and
  * [[SmallSortToSinglePartition]]. */
private[graft] object SmallInput {
  def advisoryBytes: Long = SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The plan's size estimate (its `logicalLink` stats, which carry the
    * runtime size of every materialized stage below it). */
  def estimate(p: SparkPlan): Option[BigInt] = p.logicalLink.map(_.stats.sizeInBytes)

  /** `bytes` fits one advisory partition, the size AQE coalesces to. */
  def fits(bytes: BigInt): Boolean = bytes <= advisoryBytes

  /** A generator between `p` and its nearest scans or materialized
    * stages (an unmaterialized stage's size is still an estimate):
    * Spark's size-only estimate does not grow with a generator's
    * output rows. */
  def generatesRows(p: SparkPlan): Boolean = p match {
    case _: GenerateExec => true
    case q: QueryStageExec => !q.isMaterialized && generatesRows(q.plan)
    case r: ReusedExchangeExec => generatesRows(r.child)
    case _ => p.children.exists(generatesRows)
  }
}

/** AQE query-stage preparation rule: a plan whose every leaf already
  * runs as one partition, and whose leaves together fit one advisory
  * partition, runs as one stage.
  *
  * A tick-sized registry key pays for Spark stages, not for its data:
  * Spark plans `Exchange hashpartitioning(k, n)` even over a scan of one
  * split (a file scan reports `UnknownPartitioning`), AQE then coalesces
  * each such shuffle back to one partition, and every stage boundary
  * costs a job submission, a scheduler round trip and a shuffle write
  * and read of the whole intermediate result.
  *
  * The rule fires only when all of these hold:
  *
  *  - every leaf runs as one partition: a file scan with one split, a
  *    `LocalTableScan`, an `RDDScan` of one partition (a checkpoint), a
  *    materialized shuffle stage whose AQE read would coalesce it to one
  *    partition (Spark's own `ShufflePartitionsUtil.coalescePartitions`
  *    over the stages' map statistics decides), or a materialized
  *    broadcast stage. Any other leaf (a range, a cache, a DSv2 scan,
  *    an unmaterialized stage) keeps the plan as it is;
  *  - the leaves' summed size (runtime size for a stage, the size
  *    estimate otherwise) is at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`;
  *  - the plan has no generator below its nearest materialized stages
  *    (see [[SmallInput.generatesRows]]), no null-aware anti join (only
  *    `BroadcastHashJoin` implements `NOT IN`'s semantics), no dynamic
  *    pruning subquery, and no `Union` of two or more branches: each
  *    branch of a union runs its own tasks today, and one stage would
  *    run them one after another in a single task.
  *
  * When it fires it removes every `ENSURE_REQUIREMENTS` shuffle, turns
  * each `BroadcastHashJoin` over an unmaterialized `BroadcastExchange`
  * into a `ShuffledHashJoin` with the same keys, join type, build side
  * and condition, declares each leaf `SinglePartition` through
  * `CoalesceExec(1)` (the identity on a one-partition RDD), and re-runs
  * `EnsureRequirements`, so any requirement left unmet (above a user
  * `repartition`, say) gets its exchange back.
  *
  * Stage boundaries vanish, but every leaf keeps its one task, a union's
  * branches keep theirs, and user `repartition`/`repartitionByRange`
  * shuffles and rebalances stay, and so does `BroadcastNestedLoopJoin`
  * with its broadcast (a `CartesianProduct` in its place would be a plan
  * regression). The gate is the advisory size, not AQE's
  * parallelism-first target: a shuffle of more than
  * `coalescePartitions.minPartitionSize` (1 MB) that AQE would read with
  * up to `defaultParallelism` tasks is read inside the one stage, in one
  * task. [[SmallSortToSinglePartition]] stays beside this rule: a sort
  * over a multi-partition input is not a one-stage plan, but it still
  * needs no sampling job when its input fits the gate.
  *
  * AQE applies the rule to the initial plan and at every re-plan, so a
  * plan that does not fire at first (a leaf over the gate by its static
  * estimate) can fire once its upstream stages have materialized and
  * are known to be small. Scale-safe by construction: the gate is AQE's
  * own advisory partition size, and at 100 TB every scan has many
  * splits and every input is far above it.
  */
case class SmallPlanToOneStage(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!plan.exists(removable) || plan.exists(guarded) ||
        SmallInput.generatesRows(plan) || !leavesFit(plan.collectLeaves())) plan
    else EnsureRequirements(optimizeOutRepartition = false).apply(plan.transformUp {
      case ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS, _) => child
      case j: BroadcastHashJoinExec if broadcastsUnmaterialized(j) =>
        def unwrap(p: SparkPlan) = p match {
          case b: BroadcastExchangeExec => b.child
          case other => other
        }
        ShuffledHashJoinExec(j.leftKeys, j.rightKeys, j.joinType, j.buildSide,
          j.condition, unwrap(j.left), unwrap(j.right))
      case leaf if leaf.children.isEmpty && !leaf.isInstanceOf[BroadcastQueryStageExec] =>
        CoalesceExec(1, leaf)
    })

  private def broadcastsUnmaterialized(j: BroadcastHashJoinExec): Boolean =
    (j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    }).isInstanceOf[BroadcastExchangeExec]

  /** What the rule would take away: a stage boundary. */
  private def removable(p: SparkPlan): Boolean = p match {
    case ShuffleExchangeExec(_, _, ENSURE_REQUIREMENTS, _) => true
    case j: BroadcastHashJoinExec => broadcastsUnmaterialized(j)
    case _ => false
  }

  private def guarded(p: SparkPlan): Boolean = p match {
    case j: BroadcastHashJoinExec => j.isNullAwareAntiJoin
    case u: UnionExec => u.children.size >= 2
    case _ => p.expressions.exists(_.exists(_.isInstanceOf[DynamicPruning]))
  }

  private def leavesFit(leaves: Seq[SparkPlan]): Boolean = {
    val sizes = leaves.map(onePartitionSize)
    sizes.forall(_.isDefined) && SmallInput.fits(sizes.flatten.sum) &&
      coalescesToOne(leaves.collect {
        case s: ShuffleQueryStageExec if s.outputPartitioning.numPartitions != 1 => s
      })
  }

  /** The leaf's size when it runs as one partition (a shuffle stage's
    * partition count is checked in [[coalescesToOne]]). */
  private def onePartitionSize(leaf: SparkPlan): Option[BigInt] = leaf match {
    case s: FileSourceScanExec if oneSplit(s) => SmallInput.estimate(s)
    case s: LocalTableScanExec => SmallInput.estimate(s)
    case s: RDDScanExec if s.rdd.getNumPartitions == 1 => SmallInput.estimate(s)
    case q: ShuffleQueryStageExec if q.isMaterialized => Some(q.getRuntimeStatistics.sizeInBytes)
    case q: BroadcastQueryStageExec if q.isMaterialized => Some(q.getRuntimeStatistics.sizeInBytes)
    case _ => None
  }

  /** The scan reads at most one file, and that file fits one split at
    * the split size Spark derives for this listing, so its RDD has one
    * partition. Decided from the file listing alone: building the scan's
    * RDD here would cost a reader setup per plan, and a plan that is
    * re-planned (a write, a second action) builds its own. */
  private def oneSplit(s: FileSourceScanExec): Boolean = !s.bucketedScan && {
    val files = s.selectedPartitions
    files.totalNumberOfFiles <= 1 &&
      files.totalFileSize <= FilePartition.maxSplitBytes(s.relation.sparkSession, files)
  }

  /** AQE's read of these materialized shuffle stages would coalesce each
    * to one partition: the same call, with the same targets, that
    * `CoalesceShufflePartitions` makes. */
  private def coalescesToOne(stages: Seq[ShuffleQueryStageExec]): Boolean = stages.isEmpty || {
    val coalesce = CoalesceShufflePartitions(session)
    conf.coalesceShufflePartitionsEnabled && stages.forall(s => coalesce.isSupported(s.shuffle)) && {
      val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1)
      val specs = ShufflePartitionsUtil.coalescePartitions(stages.map(_.mapStats),
        stages.map(_ => None), SmallInput.advisoryBytes, minPartitions,
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      specs.nonEmpty && specs.forall(_.size == 1)
    }
  }
}

/** AQE query-stage preparation rule: a global sort whose input fits
  * one advisory partition shuffles to a single partition instead of
  * range-partitioning.
  *
  * A range shuffle first runs a separate sampling job (Spark's
  * `RangePartitioner`) that recomputes the sort's whole input just to
  * pick partition bounds. When that input is small, AQE then coalesces
  * the shuffle back to one partition anyway, so the sampling job is a
  * whole extra job, with its stages and tasks, for nothing.
  * [[SmallPlanToOneStage]] removes such a shuffle altogether when the
  * whole plan runs on one-partition leaves; this rule covers the sort
  * whose input comes from a multi-partition leaf (a multi-split scan, a
  * range, a cache), whose stages keep their tasks.
  *
  * The rule rewrites only an `ENSURE_REQUIREMENTS` shuffle with
  * `RangePartitioning`, i.e. the one `EnsureRequirements` plans for a
  * global sort's `OrderedDistribution`. `SinglePartition` satisfies that
  * distribution, so the `SortExec` above stays as it is and the rows
  * come out in the same order. It fires only when both hold:
  *
  *  - the shuffle input's size estimate ([[SmallInput.estimate]]) is at
  *    most `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size
  *    AQE coalesces to. AQE applies the rule to the initial plan and
  *    again at every re-plan, when the logical plan carries the runtime
  *    size of each materialized upstream stage, so the estimate tightens
  *    as stages finish and a re-plan can undo an earlier rewrite;
  *  - no generator sits between the shuffle and its nearest scan or
  *    materialized stage ([[SmallInput.generatesRows]]).
  *
  * Scale-safe by construction: Spark's estimates for Filter, Aggregate
  * and Join are upper bounds, so an unsure estimate keeps the sampled
  * range sort, and at 100 TB every sort is far above the gate. A scan of
  * a checkpoint or cache carries the estimate of the plan it stores, so
  * a generator below it is not seen; the input is still bounded by that
  * plan's scanned size. Other shuffles (`repartitionByRange`, rebalance,
  * hash) are never touched, and without AQE the rule does not run.
  */
object SmallSortToSinglePartition extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
        if SmallInput.estimate(child).exists(SmallInput.fits) &&
          !SmallInput.generatesRows(child) =>
      s.copy(outputPartitioning = SinglePartition)
  }
}
