package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Backward as-of join as a first-class operator: logical plan node +
  * planner strategy + physical sort-merge execution. The column-name
  * entry points (`graft.operators.AsOf.join`, `joinForward`,
  * `joinNearest`) build [[AsOfJoinNode]].
  *
  * Each side is hash-partitioned on the join keys independently
  * (Catalyst's EnsureRequirements inserts the exchanges and
  * co-partitions them, exactly as for a sort-merge join), each side is
  * sorted by (keys, time), and a single streaming merge pass zips the
  * co-located partitions — no union row widening, no window state, no
  * pair blow-up. Memory per task is O(1): one candidate right row.
  *
  * Semantics (DuckDB `ASOF JOIN`): for every left row, the right row
  * with the greatest `rightTime` <= `leftTime` within the same key
  * group; ties at equal time take the last right row in (key, time)
  * order. Right rows with a NULL time never match; left rows with a
  * NULL time match nothing (NULLs sort first, so they precede every
  * candidate). Key columns compare with the window-grouping convention:
  * NULL keys form a group that joins to NULL-key right rows (same as
  * `Window.partitionBy`).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    rightVals: Seq[Attribute]) extends BinaryNode {

  /** every left column + the carried right values (nullable: no match) */
  override val output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfJoinExec]]; inert on every other
  * node. Registered via `GraftExtensions` (spark.sql.extensions) or
  * injected by `AsOf.join` through `experimental.extraStrategies`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftKeys, n.rightKeys, n.leftTime, n.rightTime,
        n.rightVals, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Catalyst's `ColumnPruning` cannot push projections through an
  * unknown logical node, so a wide input would be carried (and
  * shuffled!) whole even when the query selects two columns. This
  * injected optimizer rule restores pruning for the custom operators:
  * under a Project that doesn't use all of a child's columns, narrow
  * that child to the referenced columns plus whatever the operator
  * itself consumes (keys/time/sort columns). `ScanOperation` folds the
  * stacked Projects at physical planning, so the prune reaches the
  * file scan's ReadSchema. (The as-of right side needs no rule —
  * `AsOf.join` already wraps it in a minimal fresh-alias Project.) */
object PruneAsOfColumns extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, a: AsOfJoinNode) =>
      val needed = AttributeSet(p.references ++ a.leftKeys ++ Seq(a.leftTime))
      val keep = a.left.output.filter(needed.contains)
      if (keep.length < a.left.output.length)
        p.copy(child = a.copy(left = Project(keep, a.left)))
      else p
    case p @ Project(_, t: TopKPerKeyNode) =>
      val needed = AttributeSet(
        p.references ++ t.keys ++ t.order.flatMap(_.references))
      val keep = t.child.output.filter(needed.contains)
      if (keep.length < t.child.output.length)
        p.copy(child = t.copy(child = Project(keep, t.child)))
      else p
  }
}

/** Physical backward as-of join: requires both children clustered on
  * the join keys and sorted by (keys, time); EnsureRequirements
  * inserts the two hash exchanges + sorts (co-partitioned, same as
  * SortMergeJoinExec). Execution is a single forward merge pass per
  * co-located partition pair holding one buffered right row. */
case class AsOfJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    rightVals: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  private val rightValsOut: Seq[Attribute] = rightVals.map(_.withNullability(true))

  override def output: Seq[Attribute] = left.output ++ rightValsOut

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  /** rows stream out in the left child's order, left partitioning intact */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  // ops visibility: matched vs output tells the match rate at a glance
  // (output rows always equals the left row count — left as-of join)
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = {
    import org.apache.spark.sql.execution.metric.SQLMetrics
    Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "left rows with an as-of match"))
  }

  protected override def doExecute(): RDD[InternalRow] = {
    // locals only inside the task closure: a field reference would drag
    // `this` (the whole plan subtree) into every task binary
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val leftOut = left.output
    val rightOut = right.output
    val numVals = rightVals.size
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val rVals = rightVals
    val outAttrs = output
    val rValsOut = rightValsOut
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime: Attribute), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime: Attribute), rightOut)
      val rValsProj = UnsafeProjection.create(rVals, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val outProj = UnsafeProjection.create(outAttrs, leftOut ++ rValsOut)
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(numVals)
      val rBuf = rIter.buffered
      // the current best match and its key, copied out of the shared
      // projection buffers; valid while left rows stay in the same key group
      var cand: InternalRow = null
      var candKey: InternalRow = null
      lIter.map { lrow =>
        val lkey = lKeyProj(lrow)
        if (candKey != null && keyOrd.compare(candKey, lkey) != 0) {
          cand = null; candKey = null
        }
        val ltime = lTimeProj(lrow)
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val rkey = rKeyProj(rBuf.head)
          val c = keyOrd.compare(rkey, lkey)
          if (c < 0) rBuf.next() // right key group already passed — discard
          else if (c > 0) scanning = false // future key group — stop
          else {
            val rtime = rTimeProj(rBuf.head)
            if (rtime.isNullAt(0)) rBuf.next() // NULL right time never matches
            else if (timeOrd.compare(rtime, ltime) <= 0) {
              cand = rBuf.next().copy(); candKey = rkey.copy()
            } else scanning = false // right row is in the left row's future
          }
        }
        val vals = if (cand != null) { numMatchedRows += 1; rValsProj(cand) }
          else nullVals
        numOutputRows += 1
        outProj(joined(lrow, vals))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
