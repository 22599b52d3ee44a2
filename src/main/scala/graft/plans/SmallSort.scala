package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort over a small, already-materialized input in one
  * partition: `SortExec(global) ← OnePartitionExec`, which
  * `EnsureRequirements` completes with an `Exchange SinglePartition` where
  * the input spans more than one partition.
  *
  * Spark plans every global `Sort` with a range exchange, and the
  * exchange's `RangePartitioner` samples the sort's input in a job of its
  * own, which computes that input a second time. A registry query ends in
  * one `orderBy` over a result that is then collected or written, so every
  * such query pays that extra job, and q136 computes its sorted-neighbourhood
  * join and both edit-distance kernels twice.
  *
  * The strategy fires only when every leaf of the sort's input is already
  * materialized (a completed AQE stage, a loaded cache, a local relation)
  * and those leaves hold at most `spark.sql.maxSinglePartitionBytes`
  * together. AQE re-plans after each stage completes, so it sees exact
  * runtime sizes. Otherwise (a bare scan under the sort, a large input) it
  * declines and Spark plans the range exchange; `orderBy(...).limit(n)`
  * never reaches it (`SpecialLimits` plans `TakeOrderedAndProject` from the
  * limit).
  *
  * The single-partition exchange is left to `EnsureRequirements`, which
  * alone knows the planned input's partitioning: an input already in one
  * partition (a cached single-partition frame, the sort's own finished
  * stage on AQE's last re-plan) gets no exchange. Over a finished stage
  * that already satisfies the sort (the range exchange Spark planned
  * before the input was materialized) the strategy declines, so it never
  * proposes an exchange that Spark's plan does not need. */
object SmallSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !satisfied(order, child) && fitsOnePartition(child) =>
      SortExec(order, global = true, OnePartitionExec(planLater(child))) :: Nil
    case _ => Nil
  }

  private def satisfied(order: Seq[SortOrder], child: LogicalPlan): Boolean = child match {
    case s: LogicalQueryStage =>
      s.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order))
    case _ => false
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean = {
    val sizes = child.collectLeaves().map(materializedBytes)
    sizes.forall(_.isDefined) &&
      sizes.flatten.sum <= SQLConf.get.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)
  }

  /** The runtime size of a materialized leaf; None for any other leaf. */
  private def materializedBytes(leaf: LogicalPlan): Option[BigInt] = leaf match {
    case s: LogicalQueryStage if s.isMaterialized => Some(s.computeStats().sizeInBytes)
    case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
      Some(r.computeStats().sizeInBytes)
    case r: LocalRelation => Some(r.computeStats().sizeInBytes)
    case _ => None
  }
}

/** Passes its child's rows through and requires them in one partition
  * (`AllTuples`), so the global sort above it needs no range exchange. */
final case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
