package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import graft.functions.{CharEntropy, CharGrams, MinHashes, PolyHash, PqCodes, SimHash64, VecDot, Winnow, WordGrams}

/** Canonical extension injection point. [[GraftSession.builder]]
  * installs it through `withExtensions`, and `--conf
  * spark.sql.extensions=graft.GraftExtensions` does the same for every
  * session of a cluster deployment. It adds:
  *
  *  - all graft functions (operators also self-register defensively
  *    for sessions created without extensions, e.g. a caller's own);
  *  - [[SmallSortToSinglePartition]] as an AQE query-stage preparation
  *    rule, so small global sorts skip the range-sampling job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(_ => SmallSortToSinglePartition)
    // Builders are the validated fromArgs factories — arity/literal
    // misuse fails analysis with the function signature in the message.
    ext.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
      (exprs: Seq[Expression]) => PolyHash.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_grams"),
      new ExpressionInfo(classOf[CharGrams].getName, "graft_grams"),
      (exprs: Seq[Expression]) => CharGrams.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_vecdot"),
      new ExpressionInfo(classOf[VecDot].getName, "graft_vecdot"),
      (exprs: Seq[Expression]) => VecDot.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhashes"),
      new ExpressionInfo(classOf[MinHashes].getName, "graft_minhashes"),
      (exprs: Seq[Expression]) => MinHashes.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => SimHash64.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_wordgrams"),
      new ExpressionInfo(classOf[WordGrams].getName, "graft_wordgrams"),
      (exprs: Seq[Expression]) => WordGrams.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_pqcodes"),
      new ExpressionInfo(classOf[PqCodes].getName, "graft_pqcodes"),
      (exprs: Seq[Expression]) => PqCodes.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
      (exprs: Seq[Expression]) => Winnow.fromArgs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_charentropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "graft_charentropy"),
      (exprs: Seq[Expression]) => CharEntropy.fromArgs(exprs)))
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
  * whole extra job, with its stages and tasks, for nothing. That is one
  * job per sort-terminated registry key, and most keys end in an
  * `orderBy`.
  *
  * The rule rewrites only an `ENSURE_REQUIREMENTS` shuffle with
  * `RangePartitioning`, i.e. the one `EnsureRequirements` plans for a
  * global sort's `OrderedDistribution`. `SinglePartition` satisfies that
  * distribution, so the `SortExec` above stays as it is and the rows
  * come out in the same order. It fires only when both hold:
  *
  *  - the shuffle input's size estimate (its `logicalLink` stats) is at
  *    most `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size
  *    AQE coalesces to. AQE applies the rule to the initial plan and
  *    again at every re-plan, when the logical plan carries the runtime
  *    size of each materialized upstream stage, so the estimate tightens
  *    as stages finish and a re-plan can undo an earlier rewrite;
  *  - no generator (`explode`) sits between the shuffle and its nearest
  *    scan or materialized stage: Spark's size-only estimate does not
  *    grow with a generator's output rows.
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
        if fitsOnePartition(child) =>
      s.copy(outputPartitioning = SinglePartition)
  }

  private def fitsOnePartition(input: SparkPlan): Boolean =
    input.logicalLink.exists(_.stats.sizeInBytes <=
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) &&
      !generatesRows(input)

  /** A generator between `p` and its nearest scans or materialized
    * stages (an unmaterialized stage's size is still an estimate). */
  private def generatesRows(p: SparkPlan): Boolean = p match {
    case _: GenerateExec => true
    case q: QueryStageExec => !q.isMaterialized && generatesRows(q.plan)
    case r: ReusedExchangeExec => generatesRows(r.child)
    case _ => p.children.exists(generatesRows)
  }
}
