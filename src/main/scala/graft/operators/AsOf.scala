package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.plans.{AsOfJoinNode, AsOfJoinStrategy, PruneAsOfColumns}

/** Generic as-of (point-in-time) join — for every left row, attach the
  * most recent right-side values at or before the left row's time,
  * per key.
  *
  * Spark has no native as-of join; the naive range join
  * (`l.key = r.key AND r.t <= l.t` + max-per-row) explodes to
  * O(|matches|) pairs before reducing. Every entry point here builds
  * [[graft.plans.AsOfJoinNode]], planned as a co-partitioned streaming
  * merge (`AsOfJoinExec`: one key exchange and sort per side, one
  * buffered right row per task), and injects its strategy and pruning
  * rule into the session when the `GraftExtensions` hook is not
  * installed.
  *
  * Ordering contract: a right row AT the left time is visible ("at or
  * before"). Ties among multiple right rows at the same (key, time) are
  * resolved by whichever sorts last; pass a strictly-ordering time
  * column if that matters. A NULL right time never matches; a NULL left
  * time matches nothing. NULL keys form one group, as in a window's
  * `partitionBy`.
  *
  * Null contract: all `rightVals` come from the SAME matched right row,
  * so a right row whose value column is legitimately NULL yields NULL —
  * it is not skipped in favor of an older row's value.
  *
  * Column contract: keys and times resolve with the session's resolver
  * and must name exactly one column per side; key and time types must
  * match across sides exactly, and float/double keys are rejected
  * (-0.0/NaN would split key groups). `rightVals` names the right-side
  * columns to carry (they must not collide with left column names).
  * Output = every left column, in the left side's order, + `rightVals`
  * (NULL-filled when no right row qualifies). */
object AsOf {

  /** A column-name prefix no input column starts with, so helper
    * columns can never silently overwrite (or be confused with) user
    * data. Deterministic: the shortest run of underscores that is not a
    * prefix of any existing name. */
  private[graft] def freshPrefix(cols: Iterable[String]): String = {
    var p = "_"
    while (cols.exists(_.startsWith(p))) p += "_"
    p
  }

  /** @param maxLookback optional as-of tolerance (pandas
    *   `merge_asof(tolerance=...)`): when the matched right row is
    *   older than `leftTime - maxLookback`, the match is dropped and
    *   the rightVals come back NULL. Pass a literal in the time
    *   column's domain (a number for numeric times, an INTERVAL for
    *   timestamps). The matched right time rides through the merge
    *   under a fresh name and stale rows null out above the exec, so
    *   the physical operator stays tolerance-free. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      rightVals: Seq[String],
      maxLookback: Option[Column] = None): DataFrame = maxLookback match {
    case Some(tol) =>
      val mt = freshPrefix(left.columns ++ right.columns) + "mt"
      val carried = join(left, right.withColumn(mt, col(rightTime)),
        keys, leftTime, rightTime, rightVals :+ mt)
      val fresh = col(mt).isNotNull && col(leftTime) - col(mt) <= tol
      rightVals.foldLeft(carried) { (df, v) =>
        df.withColumn(v, when(fresh, col(v)))
      }.drop(mt)
    case None =>
      require(keys.nonEmpty, "as-of join requires at least one key column")
      // output would otherwise carry duplicate column names (any later
      // select throws AMBIGUOUS_REFERENCE)
      val dup = rightVals.filter(left.columns.contains)
      require(dup.isEmpty, "rightVals collide with left columns: " +
        dup.mkString(", ") + " — rename before the as-of join")
      Bridge.ensureStrategy(left.sparkSession, AsOfJoinStrategy)
      Bridge.ensureOptimizerRule(left.sparkSession, PruneAsOfColumns)
      val lPlan = left.queryExecution.analyzed
      val rPlan = right.queryExecution.analyzed
      // resolve with the session's resolver (case-insensitive by default,
      // like every other column-name API) and REJECT ambiguity — silently
      // binding the first of two same-named columns joins on the wrong one
      val resolver = left.sparkSession.sessionState.conf.resolver
      def attr(plan: LogicalPlan, name: String, side: String): Attribute = {
        val matches = plan.output.filter(a => resolver(a.name, name))
        if (matches.isEmpty) throw new IllegalArgumentException(
          s"$side column '$name' not found among ${plan.output.map(_.name).mkString(", ")}")
        require(matches.length == 1,
          s"$side column '$name' is ambiguous: ${matches.length} columns match")
        matches.head
      }
      // the merge compares key/time rows with a shared natural ordering —
      // both sides must agree on types exactly (no implicit coercion here)
      keys.foreach { k =>
        val (l, r) = (attr(lPlan, k, "left"), attr(rPlan, k, "right"))
        require(l.dataType == r.dataType,
          s"as-of key '$k' type mismatch: left ${l.dataType} vs right ${r.dataType}")
        // float keys: -0.0 vs 0.0 and non-canonical NaNs split key groups
        // (NormalizeFloatingNumbers never fires on custom nodes)
        require(l.dataType != DoubleType && l.dataType != FloatType,
          s"as-of key '$k' is ${l.dataType}: float/double equality keys are " +
            "not supported (-0.0/NaN grouping diverges) — cast or bucket first")
      }
      val (lt, rt) = (attr(lPlan, leftTime, "left"), attr(rPlan, rightTime, "right"))
      require(lt.dataType == rt.dataType,
        s"as-of time type mismatch: left '$leftTime' is ${lt.dataType}, " +
          s"right '$rightTime' is ${rt.dataType}")
      // Self-join safety: when left and right derive from the same plan
      // they share exprIds; the analyzer's DeduplicateRelations
      // re-instances the right subtree but cannot remap this node's
      // attribute fields. Referencing the right side only through FRESH
      // aliases (alias ids survive deduplication; the alias children get
      // remapped inside the subtree like any self-join) keeps the node's
      // references unambiguous — and doubles as right-side column pruning.
      val rAliases = ((keys :+ rightTime) ++ rightVals)
        .map(attr(rPlan, _, "right")).distinct.map(a => Alias(a, a.name)())
      val fresh: Map[String, Attribute] =
        rAliases.map(al => al.name -> al.toAttribute).toMap
      val node = AsOfJoinNode(lPlan, Project(rAliases, rPlan),
        keys.map(attr(lPlan, _, "left")), keys.map(fresh),
        lt, fresh(rightTime), rightVals.map(fresh))
      Bridge.ofRows(left.sparkSession, node)
  }

  /** Nearest as-of join (pandas `merge_asof(direction='nearest')`):
    * for every left row, the right row minimizing |leftTime − rightTime|
    * within the key group; equal distances prefer the earlier (backward)
    * right row. Two merge joins over the same `right` — [[join]] and
    * [[joinForward]], each carrying its matched time — then a pick of
    * the closer side, so no pair blow-up. Requires a numeric time
    * column (timestamps: convert to epoch first, precision of your
    * choice). */
  def joinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      rightVals: Seq[String]): DataFrame = {
    // helper columns get a prefix no input column starts with
    val p = freshPrefix(left.columns ++ right.columns)
    val fVals = rightVals.map(p + "f_" + _)
    val (bt, ft) = (p + "bt", p + "ft")
    // backward pass: rightVals under their own names (so [[join]]'s
    // collision check covers them) plus the matched time
    val back = join(left, right.withColumn(bt, col(rightTime)), keys,
      leftTime, rightTime, rightVals :+ bt)
    // forward pass over the same right, values under prefixed names
    val rF = rightVals.zip(fVals)
      .foldLeft(right.withColumn(ft, col(rightTime))) {
        case (df, (o, f)) => df.withColumn(f, col(o)) }
    val both = joinForward(back, rF, keys, leftTime, rightTime, fVals :+ ft)
    // pick the closer side; ties (and forward-missing) take backward
    val pickB = col(bt).isNotNull && (col(ft).isNull ||
      (col(leftTime) - col(bt) <= col(ft) - col(leftTime)))
    rightVals.zip(fVals)
      .foldLeft(both) { case (df, (o, f)) =>
        df.withColumn(o, when(pickB, col(o)).otherwise(col(f))) }
      .drop((fVals ++ Seq(bt, ft)): _*)
  }

  /** Forward as-of join (pandas `merge_asof(direction='forward')`):
    * for every left row, the EARLIEST right row at-or-after leftTime in
    * the key group — "the next quote after the order", the mirror of
    * [[join]]. It is [[join]] on the NEGATED time axis, so it keeps the
    * merge's shape and inherits its contracts: NULL right times never
    * match, unmatched left rows come back NULL-filled, all rightVals
    * from one matched row. Requires a numeric time column (timestamps:
    * convert to epoch first, precision of your choice). */
  def joinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      rightVals: Seq[String]): DataFrame = {
    val p = freshPrefix(left.columns ++ right.columns)
    val (negT, negRt) = (p + "negt", p + "negrt")
    join(left.withColumn(negT, -col(leftTime)),
      right.withColumn(negRt, -col(rightTime)), keys, negT, negRt, rightVals)
      .drop(negT)
  }
}
