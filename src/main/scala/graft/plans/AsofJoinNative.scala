package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{StructField, StructType}

/** The as-of join as a FIRST-CLASS plan node — the brief's extension
  * ladder rung (c): a custom `LogicalPlan` + `Strategy` + `SparkPlan`
  * registered through the public extension points, for an operator whose
  * WHOLE semantics Spark's built-ins can't express as one operator
  * (reference surface: `expr.py`'s record-joining idiom has no temporal
  * join at all; DuckDB spells it `ASOF JOIN`, kdb `aj`).
  *
  * [[graft.operators.AsofJoin.asofJoin]] keeps the composed formulation
  * (union + one window pass) — the SURVEY §7 preference order says exhaust
  * composition first, and that shape is what the oracle checks. This node
  * is the step past it: the same semantics as ONE physical operator, a
  * per-partition merge-sweep over the two sorted children.
  *
  * Why a physical operator wins at 100 TB:
  *  - the composed form UNIONs both sides through one exchange and sorts
  *    the union (left rows ride the shuffle padded with a null right-row
  *    struct, right rows vice versa — every shuffled byte is a wide
  *    two-struct row), then the window operator buffers each key group;
  *  - this node shuffles each side in its OWN schema (no padding), sorts
  *    each side independently (two smaller sorts beat one big one), and
  *    the sweep holds exactly ONE buffered right row — no window group
  *    materialization, streaming output, zero per-group state growth.
  *
  * The sweep: both children arrive hash-clustered on the key and sorted
  * by (key, ts) — declared via `requiredChildDistribution` /
  * `requiredChildOrdering`, so EnsureRequirements plans the exchanges and
  * partition-local sorts (visible in `.explain`, budgeted in PlanSpec).
  * For each left row in order, the right cursor advances while
  * `rightKey < leftKey`, or keys equal and `rightTs <= leftTs`; the last
  * row consumed with equal key is the match (copied — one row of state).
  * Ties on (key, ts) are broken by a third sort key, xxhash64 of the
  * right row, matching the composed form's documented deterministic
  * winner (greatest hash) so both formulations are bit-identical.
  */
final case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    matched: AttributeReference) extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ matched

  override def producedAttributes: AttributeSet = AttributeSet(matched :: Nil)

  /** The operator reads EVERY child column (left rows pass through, every
    * right column lands in the `matched` struct) — declared explicitly
    * because the auto-derived references (just the key/ts expressions)
    * would let column pruning strip the right payload under AQE
    * re-optimization (observed: strings silently truncated to a 2-column
    * right child mid-query). */
  override def references: AttributeSet = left.outputSet ++ right.outputSet

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinPlan {

  /** Resolve the join columns against already-analyzed children and mint
    * the `matched` output attribute (a nullable struct of the right row).
    * The attribute is a constructor field — not a derived val — so plan
    * transforms (copy/withNewChildren) preserve its exprId and references
    * above the node stay valid. */
  def resolve(left: LogicalPlan, right: LogicalPlan, leftKey: String,
              leftTs: String, rightKey: String, rightTs: String): AsofJoinPlan = {
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof join: no column '$n' in ${p.output.map(_.name).mkString(", ")}"))
    val matched = AttributeReference(
      "matched",
      StructType(right.output.map(a => StructField(a.name, a.dataType, nullable = true))),
      nullable = true)()
    AsofJoinPlan(left, right, attr(left, leftKey), attr(left, leftTs),
      attr(right, rightKey), attr(right, rightTs), matched)
  }
}

/** Plans [[AsofJoinPlan]] to [[AsofJoinExec]]. [[graft.Setup]] adds it to
  * the session's planner strategies; `QueryDef.run` and
  * [[graft.operators.AsofJoin.asofJoinNative]] call that, so the operator
  * plans on any session. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsofJoinPlan =>
      AsofJoinExec(p.leftKey, p.leftTs, p.rightKey, p.rightTs, p.matched,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

final case class AsofJoinExec(
    leftKey: Expression,
    leftTs: Expression,
    rightKey: Expression,
    rightTs: Expression,
    matched: AttributeReference,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ matched

  override def producedAttributes: AttributeSet = AttributeSet(matched :: Nil)

  override def references: AttributeSet = left.outputSet ++ right.outputSet

  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Both sides hash-clustered on the key — EnsureRequirements makes the
    * two exchanges compatible (same partitioner/partition count), exactly
    * as it does for a shuffled sort-merge join. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  /** (key, ts) partition-local sorts; the right side adds the xxhash64
    * tiebreak so equal-(key, ts) right rows have a total, partitioning-
    * independent order (the composed form's third window sort key). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(new XxHash64(right.output), Ascending)))

  /** Left rows stream through in their sorted order. */
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val structType = matched.dataType.asInstanceOf[StructType]
    val leftOutput = left.output
    val rightOutput = right.output
    val lKeyE = leftKey
    val lTsE = leftTs
    val rKeyE = rightKey
    val rTsE = rightTs
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lk = BindReferences.bindReference(lKeyE, leftOutput)
      val lt = BindReferences.bindReference(lTsE, leftOutput)
      val rk = BindReferences.bindReference(rKeyE, rightOutput)
      val rt = BindReferences.bindReference(rTsE, rightOutput)
      val keyOrd = TypeUtils.getInterpretedOrdering(lKeyE.dataType)
      val tsOrd = TypeUtils.getInterpretedOrdering(lTsE.dataType)
      // matched case: project (left row ++ struct(right row)); unmatched:
      // (left row ++ null struct) — two prebuilt unsafe projections
      val matchedProj = UnsafeProjection.create(
        leftOutput :+ (CreateStruct(rightOutput): Expression),
        leftOutput ++ rightOutput)
      val nullProj = UnsafeProjection.create(
        leftOutput :+ (Literal.create(null, structType): Expression), leftOutput)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // ONE row of sweep state: the best (= last consumed, equal-key,
      // ts <= left ts) right row, copied out of the iterator's reused slot
      var best: InternalRow = null
      var bestKey: Any = null
      lIter.map { l =>
        val k = lk.eval(l)
        if (k == null) nullProj(l)
        else {
          val t = lt.eval(l)
          if (best != null && keyOrd.compare(bestKey, k) != 0) { best = null; bestKey = null }
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val rkv = rk.eval(head)
            if (rkv == null) rBuf.next() // null keys never match; sorted first
            else {
              val cmp = keyOrd.compare(rkv, k)
              if (cmp < 0) rBuf.next() // earlier key: cannot match this or any later left row
              else if (cmp == 0) {
                val rtv = rt.eval(head)
                if (rtv == null) rBuf.next() // null ts sorts first, never matches
                else if (tsOrd.compare(rtv, t) <= 0) {
                  best = rBuf.next().copy(); bestKey = rkv
                } else advancing = false
              } else advancing = false
            }
          }
          if (best != null) matchedProj(joined(l, best)) else nullProj(l)
        }
      }
    }
  }
}
