package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, LocalTableScanExec, RangeExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import graft.expressions.{DotProduct, HyperplaneSig}

/** SparkSessionExtensions entry point. [[GraftSession]] registers it on
  * every session it builds; elsewhere activate it with
  * `spark.sql.extensions=graft.GraftExtensions` (or `.withExtensions`).
  * It injects
  *  - graft's native expressions as SQL functions:
  *    {{{ SELECT graft_dot(a.v, b.v) FROM ... }}}
  *    {{{ SELECT graft_hyperplane_sig(v, 42, 8, 10) FROM ... }}}
  *  - [[SmallSortInOneTask]], an AQE query-stage-prep rule: a global sort
  *    whose input fits one partition runs in one task, with no
  *    range-sampling job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.hyperplaneSigFunction)
    ext.injectQueryStagePrepRule(SmallSortInOneTask)
  }
}
object GraftExtensions {
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })

  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case _ => throw new IllegalArgumentException(
      s"graft_hyperplane_sig: $what must be an integer literal, got $e")
  }

  /** Banded hyperplane-LSH signature as a SQL function:
    * graft_hyperplane_sig(vec, seed, bands, bits) — seed/bands/bits must be
    * literals (they parameterize the generated code, like the DataFrame API).
    */
  val hyperplaneSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hyperplane_sig"),
    new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hyperplane_sig"),
    (children: Seq[Expression]) => {
      require(children.size == 4,
        "graft_hyperplane_sig takes (vec, seed, bands, bits)")
      HyperplaneSig(children.head, litLong(children(1), "seed"),
        litLong(children(2), "bands").toInt, litLong(children(3), "bits").toInt)
    })
}

/** Runs a small global sort in one task. For a global `SortExec`,
  * EnsureRequirements inserts a `RangePartitioning` shuffle, and building
  * that shuffle's partitioner runs a sampling job that executes the
  * sort stage's child once more before the shuffle itself runs it. When
  * the sort stage's input is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (Spark's own size
  * for one post-shuffle partition, 64 MB by default), this rule swaps that
  * exchange for a `SinglePartition` one: the same total order, produced
  * by one task, with no sampling job and no second run of the child.
  *
  * The input is summed over the stage's leaves: a materialized query
  * stage counts its runtime size, a file scan its files' size, and a
  * relation the plan itself spells out (`range`, a local table) its rows'
  * size. Any other leaf (an exchange or a stage not yet run, an RDD or
  * data-source-v2 scan) makes the input unknown, so the range exchange
  * stays. AQE re-applies the rule each time a stage completes, so a sort
  * over joins or aggregates is decided once its inputs have run. A sort
  * Spark already satisfies has no exchange of its own and is not
  * touched, nor is a user `repartitionByRange` (its shuffle origin is
  * not ENSURE_REQUIREMENTS).
  */
final case class SmallSortInOneTask(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val bound = session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case sort @ SortExec(_, true,
          ex @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if inputBytes(child).exists(_ <= bound) =>
        val single = ex.copy(outputPartitioning = SinglePartition)
        single.copyTagsFrom(ex)
        sort.withNewChildren(Seq(single))
    }
  }

  /** The bytes a stage reads, or None when some leaf's size is unknown. */
  private def inputBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec =>
      if (s.isMaterialized) Some(s.getRuntimeStatistics.sizeInBytes) else None
    case f: FileSourceScanExec => Some(BigInt(f.relation.location.sizeInBytes))
    case r: RangeExec => Some(r.range.numElements * 8)
    case l: LocalTableScanExec => Some(EstimationUtils.getSizePerRow(l.output) * l.rows.size)
    case _: Exchange | _: LeafExecNode => None
    case _ => p.children.foldLeft(Option(BigInt(0))) { (sum, c) =>
      for (a <- sum; b <- inputBytes(c)) yield a + b
    }
  }
}
