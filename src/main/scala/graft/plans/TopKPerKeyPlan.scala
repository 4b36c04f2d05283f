package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Per-key top-k as a first-class operator: for every key group, the k
  * first rows under `order`, each with its 1-based rank — the semantics
  * of `row_number().over(partitionBy(keys).orderBy(order)) <= k`.
  *
  * The window form sorts EVERY row of every group (one big sort per
  * partition) and then discards all but k; at 100 TB that sort is the
  * cost. This operator keeps a bounded heap of k rows per key and never
  * sorts the full input: one hash exchange on the keys (no sort step —
  * `requiredChildOrdering` is empty), one streaming pass per partition,
  * O(keys-per-partition × k) task memory.
  *
  * Ties follow the usual row_number contract: make `order` a total
  * order (add a unique tiebreak column) for deterministic output. */
case class TopKPerKeyNode(
    child: LogicalPlan,
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    maxKeysPerPartition: Long = TopK.DefaultMaxKeysPerPartition)
  extends UnaryNode {
  override val output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: TopKPerKeyNode =>
      TopKPerKeyExec(n.keys, n.order, n.k, n.rankAttr, planLater(n.child),
        n.maxKeysPerPartition) :: Nil
    case _ => Nil
  }
}

/** Physical bounded-heap top-k: requires the child clustered on the
  * keys (hash exchange, NO sort); each task streams its partition once,
  * keeping per key a size-k priority queue whose head is the current
  * rank-worst row, then emits each group's survivors in rank order.
  *
  * Task memory is O(distinct-keys-per-partition × k × row size) in
  * plain JVM heap — deliberately outside Spark's task memory manager
  * (the win over the window form is exactly "no sort, no spill
  * machinery"). That bound is enforced, not hoped for:
  * `maxKeysPerPartition` ([[TopK.DefaultMaxKeysPerPartition]]) caps the
  * heap map instead of letting a high-cardinality key column OOM the
  * executor. At the cap the task degrades to a spill-capable external
  * sort of the surviving heap rows plus the unread remainder, ordered
  * (keys, order), then streams rank ≤ k per group — exactly the
  * strategy (and memory profile) of the window row_number form this
  * operator replaces, so a plan that would have succeeded as a window
  * still succeeds here. Heap evictions before the overflow are safe to
  * drop: an evicted row was already beaten by k rows of its own key, so
  * no later input can put it back in the top-k.
  * Sizing rule (PERF.md "Known deliberate bounds"): keys/partition ≈
  * distinct keys ÷ shuffle partitions; keep keys × k × avg row bytes
  * well under the executor's per-task heap share. */
case class TopKPerKeyExec(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan,
    maxKeysPerPartition: Long = TopK.DefaultMaxKeysPerPartition)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  // rankAttr is minted by this node — without this override missingInput
  // is non-empty and explain() renders the operator with the '!'
  // invalid-plan marker (same override as the logical node)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  // ops visibility at scale: heap-key totals show how close a real run
  // comes to the maxKeysPerPartition cap, and a non-zero fallback
  // count says the sort degrade (not the heap) served the query
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = {
    import org.apache.spark.sql.execution.metric.SQLMetrics
    Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "numHeapKeys" -> SQLMetrics.createMetric(sparkContext, "distinct keys held in heaps (all tasks)"),
      "sortFallbackTasks" -> SQLMetrics.createMetric(sparkContext, "tasks degraded to spilling sort"))
  }

  protected override def doExecute(): RDD[InternalRow] = {
    // locals only inside the task closure: a field reference would drag
    // `this` (the whole plan subtree) into every task binary
    val childOut = child.output
    val kk = k
    val ord = order
    val maxKeys = maxKeysPerPartition
    val keyExprs = keys
    val outAttrs = output
    val rank = rankAttr
    val numOutputRows = longMetric("numOutputRows")
    val numHeapKeys = longMetric("numHeapKeys")
    val sortFallbackTasks = longMetric("sortFallbackTasks")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOut)
      // compare(a, b) < 0 ⇔ a ranks before b; the PQ dequeues the MAX
      // under this ordering, i.e. the rank-worst survivor sits at head
      val rowOrd = RowOrdering.create(ord, childOut)
        .asInstanceOf[Ordering[InternalRow]]
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      // heap phase: stream rows until done or the key cap is hit; the
      // row that would create heap maxKeys+1 is handed to the sort phase
      var overflowRow: InternalRow = null
      while (iter.hasNext && overflowRow == null) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kk) heap.enqueue(row.copy())
            else if (rowOrd.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            if (heaps.size >= maxKeys) {
              overflowRow = row.copy()
            } else {
              val heap = mutable.PriorityQueue.empty[InternalRow](rowOrd)
              heap.enqueue(row.copy())
              heaps.put(key.copy(), heap)
            }
        }
      }
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(outAttrs, childOut :+ rank)
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      numHeapKeys += heaps.size
      if (overflowRow == null) {
        heaps.iterator.flatMap { case (_, heap) =>
          // dequeueAll yields rank-worst first; reverse for rank 1..k
          val ranked: Seq[InternalRow] = heap.dequeueAll.reverse
          ranked.iterator.zipWithIndex.map { case (r, i) =>
            rankRow.update(0, i + 1)
            numOutputRows += 1
            outProj(joined(r, rankRow))
          }
        }
      } else {
        sortFallbackTasks += 1
        // sort-degrade phase: exactly the window row_number strategy —
        // external sort by (keys, order) with spill via Spark's task
        // memory manager, then one streaming rank pass. Rows already
        // evicted from a heap were beaten by k same-key rows, so only
        // the heap SURVIVORS plus the unread remainder need sorting.
        val keySort = keyExprs.map(SortOrder(_, Ascending))
        val fullOrd = RowOrdering.create(keySort ++ ord, childOut)
          .asInstanceOf[Ordering[InternalRow]]
        // constant prefix: the row comparator does the whole compare —
        // this path is the escape hatch, not the hot path, and a
        // constant prefix keeps it type-agnostic
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow)
              : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
            p.value = 0L; p.isNull = false; p
          }
        }
        val sorter = UnsafeExternalRowSorter.create(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(childOut),
          fullOrd, PrefixComparators.LONG, prefixComputer,
          Bridge.pageSizeBytes, false)
        val toUnsafe = UnsafeProjection.create(childOut, childOut)
        heaps.foreach { case (_, heap) =>
          heap.dequeueAll.foreach((r: InternalRow) => sorter.insertRow(toUnsafe(r)))
        }
        heaps.clear()
        sorter.insertRow(toUnsafe(overflowRow))
        iter.foreach(r => sorter.insertRow(toUnsafe(r)))
        val sorted = sorter.sort()
        // streaming rank over key-adjacent sorted rows
        var curKey: UnsafeRow = null
        var rankNo = 0
        sorted.flatMap { r =>
          val key = keyProj(r)
          if (curKey == null || key != curKey) { curKey = key.copy(); rankNo = 0 }
          rankNo += 1
          if (rankNo <= kk) {
            rankRow.update(0, rankNo)
            numOutputRows += 1
            Iterator.single(outProj(joined(r, rankRow)))
          } else Iterator.empty
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Optimizer rule rewriting the universal top-k-per-group idiom
  *
  *   `filter(row_number().over(partitionBy(keys).orderBy(o)) <= k)`
  *
  * into [[TopKPerKeyNode]]: users keep writing the window form and the
  * engine plans the bounded-heap operator — no per-partition sort of
  * the full input, which is the whole cost of the window form at scale.
  * (Spark's own `InferWindowGroupLimit` only PREFILTERS each partition
  * to its top-k before the sort; the sort itself remains. This rule
  * removes the Window — and therefore the sort — entirely.)
  *
  * Fires only when the rewrite is provably equivalent:
  *  - the Window computes exactly ONE expression, a `row_number()` with
  *    the standard (UnboundedPreceding, CurrentRow) row frame — rank()/
  *    dense_rank() have tie semantics a k-bounded heap cannot honor
  *    (the boundary group must survive in full);
  *  - partition keys are plain attributes containing no float/double
  *    anywhere in their type — including nested inside struct/array/map
  *    — because float keys group -0.0/NaN differently than the window
  *    exchange, which is protected by NormalizeFloatingNumbers, a rule
  *    that never fires on custom nodes;
  *  - the order is deterministic and resolvable against the child;
  *  - the limit conjunct is `rn <= k` / `rn < k` / `rn = 1` (or
  *    mirrored) with k no larger than [[LimitThreshold]] (above that the
  *    k-row heaps stop being obviously cheaper than a spilling sort,
  *    same trade as Spark's window-group-limit threshold).
  *
  * Remaining filter conjuncts stay in a Filter above the new node (the
  * rank attribute keeps its exprId, so downstream references resolve
  * unchanged). An `InferWindowGroupLimit`-inserted WindowGroupLimit
  * child is absorbed: its prefilter is subsumed by the heap.
  *
  * Ties at the k boundary follow row_number semantics in both forms —
  * arbitrary unless the order is total. The rewrite preserves the
  * semantics, not any accidental tie choice; make the order total for
  * deterministic output (same contract as [[TopK.perKey]]).
  *
  * Installed session-wide by [[graft.GraftExtensions]]; [[TopK.rewrite]]
  * applies it to one plan, and [[TopK.perKey]] builds the idiom and
  * hands it here, so this rule is the only builder of the node. The
  * rewrite is also failure-compatible with the window form: a partition
  * that exceeds the key cap degrades to the same spilling sort the
  * window would have run. */
object RewriteWindowTopK
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions.{Alias, CurrentRow, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}
  import org.apache.spark.sql.types.IntegerType

  /** the largest k the rewrite plans on the heap */
  private val LimitThreshold = 1000

  /** The upper bound k when `e` bounds `rn` from above (a heap of k
    * rows then satisfies the conjunct by construction, so it can be
    * dropped); rn = 1 is the common "latest row per key" top-1 idiom. */
  private def limitOf(e: Expression, rn: Attribute): Option[Int] =
    e match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType))
        if a.semanticEquals(rn) => Some(k)
      case LessThan(a: Attribute, Literal(k: Int, IntegerType))
        if a.semanticEquals(rn) => Some(k - 1)
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(k)
      case GreaterThan(Literal(k: Int, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(k - 1)
      case EqualTo(a: Attribute, Literal(1, IntegerType))
        if a.semanticEquals(rn) => Some(1)
      case EqualTo(Literal(1, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(1)
      case _ => None
    }

  private def rowNumberFrame(we: WindowExpression): Boolean =
    we.windowFunction.isInstanceOf[RowNumber] &&
      (we.windowSpec.frameSpecification match {
        case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
        case _ => false
      })

  /** The rewritten plan for `Filter(cond, w)`, or None when any
    * equivalence guard fails. */
  private def tryRewrite(cond: Expression, w: Window): Option[LogicalPlan] =
    w match {
      case Window(Seq(a @ Alias(we: WindowExpression, _)), partSpec, orderSpec, wChild, _)
        if rowNumberFrame(we) &&
          partSpec.nonEmpty &&
          partSpec.forall {
            case attr: Attribute => !TopK.containsFloat(attr.dataType)
            case _ => false
          } &&
          orderSpec.nonEmpty && orderSpec.forall(_.deterministic) =>
        // absorb an InferWindowGroupLimit prefilter: same partition/order
        // semantics, and the heap bounds harder than the prefilter does
        val child = wChild match {
          case WindowGroupLimit(ps, os, _, _, gChild)
            if ps == partSpec && os == orderSpec => gChild
          case other => other
        }
        val rn = a.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val limits = conjuncts.flatMap(c => limitOf(c, rn))
        val orderResolvable =
          orderSpec.flatMap(_.references).forall(child.outputSet.contains)
        if (limits.isEmpty || !orderResolvable) None
        else {
          val k = limits.min
          if (k < 1 || k > LimitThreshold) None
          else {
            val keys = partSpec.map(_.asInstanceOf[Attribute])
            val topk = TopKPerKeyNode(child, keys, orderSpec, k, rn)
            // drop ONLY the conjuncts the heap bound subsumes; everything
            // else (including other rn predicates like rn >= 2) filters
            // above, against the same rank attribute
            val remaining = conjuncts.filterNot(c =>
              limitOf(c, rn).exists(_ >= k))
            Some(if (remaining.isEmpty) topk
            else Filter(remaining.reduce(
              org.apache.spark.sql.catalyst.expressions.And), topk))
          }
        }
      case _ => None
    }

  /** Peel a chain of attributes-only (no alias, no computation)
    * Projects down to a Window node: such projections only reorder or
    * drop columns, so they commute with a filter on the rank attribute.
    * Returns the OUTERMOST projection list (it determines the output)
    * and the window. */
  private def peelToWindow(p: LogicalPlan): Option[(Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression], Window)] =
    p match {
      case org.apache.spark.sql.catalyst.plans.logical.Project(projList, child)
        if projList.forall(_.isInstanceOf[Attribute]) =>
        child match {
          case w: Window => Some((projList, w))
          case inner => peelToWindow(inner).map { case (_, w) => (projList, w) }
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // optimized-plan shape: the filter sits directly on the window
    case f @ Filter(cond, w: Window) =>
      tryRewrite(cond, w).getOrElse(f)
    // analyzed-plan shape (the per-plan TopK.rewrite path): withColumn
    // leaves attributes-only Projects between filter and window; rewrite
    // underneath and keep the outermost projection on top (TopK output =
    // window output ⊇ the projected attributes)
    case f @ Filter(cond, p: org.apache.spark.sql.catalyst.plans.logical.Project) =>
      peelToWindow(p).flatMap { case (projList, w) =>
        tryRewrite(cond, w).map(inner =>
          org.apache.spark.sql.catalyst.plans.logical.Project(projList, inner))
      }.getOrElse(f)
  }
}

/** Column-level entry point: `TopK.perKey(df, keys, orderBy, k)` →
  * every input column plus a 1-based LONG `rn` rank column, at most k
  * rows per key group. Plain (non-SortOrder) columns order ascending. */
object TopK {
  /** Per-partition distinct-key ceiling before the exec degrades to the
    * spilling sort instead of OOMing (see [[TopKPerKeyExec]] Scaladoc).
    * 2M keys × k=10 × ~100 B rows ≈ 2 GB/task worst case — inside a
    * typical executor's task share. */
  val DefaultMaxKeysPerPartition: Long = 2000000L

  /** Apply [[RewriteWindowTopK]] to THIS plan only: the window-form df
    * comes back planned on the bounded-heap operator when the rewrite's
    * equivalence guards hold, unchanged otherwise. The per-plan twin of
    * installing the rule session-wide via `GraftExtensions`. */
  def rewrite(df: DataFrame): DataFrame = {
    Bridge.ensureStrategy(df.sparkSession, TopKPerKeyStrategy)
    Bridge.ensureOptimizerRule(df.sparkSession, PruneAsOfColumns)
    Bridge.ofRows(df.sparkSession, RewriteWindowTopK(df.queryExecution.analyzed))
  }

  /** True when `dt` contains a float/double anywhere — top level or
    * nested in struct/array/map. Such grouping keys are rejected:
    * -0.0/NaN group differently than the NormalizeFloatingNumbers-
    * protected window exchange (the rule never fires on custom nodes). */
  private[plans] def containsFloat(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType | FloatType => true
      case s: StructType => s.fields.exists(f => containsFloat(f.dataType))
      case a: ArrayType => containsFloat(a.elementType)
      case m: MapType => containsFloat(m.keyType) || containsFloat(m.valueType)
      case _ => false
    }
  }

  /** The window idiom `row_number() <= k`, handed to [[rewrite]]: the
    * heap plan whenever its guards hold (k ≤ 1000), the window form with
    * the same rows otherwise. */
  def perKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column],
      k: Int, rankCol: String = "rn"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(keys.nonEmpty, "top-k per key requires at least one key column")
    require(orderBy.nonEmpty, "top-k per key requires at least one ordering " +
      "column — with no order the k kept rows per key are arbitrary")
    // case-insensitive: Spark's default resolution is case-insensitive,
    // so a column "RN" would make a later select("rn") ambiguous even
    // though an exact-match check passes
    require(!df.columns.exists(_.equalsIgnoreCase(rankCol)),
      s"rank column '$rankCol' collides with an existing input column " +
        "(case-insensitive); pass a different rankCol")
    // float keys (top-level OR nested in struct/array/map): -0.0/NaN
    // split groups (NormalizeFloatingNumbers never fires on custom
    // nodes) — reject, don't silently diverge from the window form
    keys.zip(df.select(keys.map(col): _*).schema.fields).foreach { case (kc, f) =>
      require(!containsFloat(f.dataType),
        s"top-k key '$kc' is ${f.dataType}: keys containing float/double are " +
          "not supported (-0.0/NaN grouping diverges) — cast or bucket first")
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    rewrite(df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k))
      .withColumn(rankCol, col(rankCol).cast(LongType))
  }
}
