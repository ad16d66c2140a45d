package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, LocalTableScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}

/** Small plans run as ONE job of ONE task: a batch plan whose inputs fit in
  * one broadcast gets no shuffle and no broadcast exchange.
  *
  * An interactive read over a few MB (the `graft.query.Analytics` surface)
  * otherwise pays Spark's fixed cost per stage: each broadcast dim and each
  * AQE shuffle stage is its own job, and the data needs none of them.
  *
  * When it fires. Every leaf is a file scan, a local table or a range, and
  * their bytes (the scanned files' on-disk size; rows × row width for the
  * in-memory leaves) total at most `spark.sql.autoBroadcastJoinThreshold`.
  * That is Spark's own bound for "small enough to hold in one task's
  * memory", so there is no knob of ours, and `-1` turns this rule off
  * together with broadcasts. A plan that already carries an exchange (a
  * user `repartition`) keeps the partitioning it asked for. Streaming runs
  * without AQE, so a micro-batch never reaches this rule; a plan with a
  * streaming logical link is refused all the same.
  *
  * What it does. Each `BroadcastHashJoinExec` that is not null-aware becomes
  * a `ShuffledHashJoinExec` with the same build side (every broadcast join
  * type is a valid shuffled-hash one), and every child that a node needs
  * distributed (final aggregates, global sorts, joins, windows, global
  * limits) is wrapped in `CoalesceExec(1)`, which satisfies every
  * distribution, so `EnsureRequirements` adds nothing. Null-aware anti
  * joins and nested-loop joins keep their broadcast.
  *
  * Why physical, after planning. `EnsureRequirements` keeps a join's inputs
  * unshuffled only if each is exactly `SinglePartition` and its logical link
  * estimates at most `spark.sql.maxSinglePartitionBytes`. A logical
  * `Repartition(1)` above a join inherits the join's product-of-sizes
  * estimate and is shuffled again; a `CoalesceExec` inserted here has no
  * logical link and passes. Registered through
  * [[graft.functions.GraftExtensions]] as a query post-planner strategy rule,
  * which Spark applies only inside AQE. That suffices: a plan AQE leaves
  * alone needs no exchange and is already one job.
  */
object SingleTaskPlan extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (fits(plan)) plan.transformUp {
      case j: BroadcastHashJoinExec if !j.isNullAwareAntiJoin =>
        singleInputs(ShuffledHashJoinExec(
          j.leftKeys, j.rightKeys, j.joinType, j.buildSide, j.condition, j.left, j.right))
      case p => singleInputs(p)
    } else plan

  /** Input bytes of a leaf this rule can reason about; `None` for any
    * other leaf (cached relations, RDD and stream scans), which vetoes. */
  private def leafBytes(leaf: SparkPlan): Option[BigInt] = leaf match {
    case s: FileSourceScanExec => Some(BigInt(s.relation.location.sizeInBytes))
    case l: LocalTableScanExec => Some(EstimationUtils.getSizePerRow(l.output) * l.rows.size)
    case r: RangeExec          => Some(r.range.numElements * 8)
    case _                     => None
  }

  private def fits(plan: SparkPlan): Boolean = {
    val sizes = plan.collectLeaves().map(leafBytes)
    !plan.logicalLink.exists(_.isStreaming) &&
      !plan.exists(_.isInstanceOf[Exchange]) &&
      sizes.forall(_.isDefined) &&
      sizes.flatten.sum <= conf.autoBroadcastJoinThreshold
  }

  /** Wrap every child that must arrive distributed in `CoalesceExec(1)`.
    * A single child that already satisfies its distribution (a final
    * aggregate over its partial one) stays in its parent's codegen stage;
    * join sides are always wrapped, for the logical-link check above. */
  private def singleInputs(p: SparkPlan): SparkPlan =
    p.withNewChildren(p.children.zip(p.requiredChildDistribution).map {
      case (c, UnspecifiedDistribution | _: BroadcastDistribution)              => c
      case (c, d) if p.children.size == 1 && c.outputPartitioning.satisfies(d) => c
      case (c, _)                                                               => CoalesceExec(1, c)
    })
}
