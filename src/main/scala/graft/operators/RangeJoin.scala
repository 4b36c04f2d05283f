package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalable range joins. Spark plans a join whose only condition is
  * `p BETWEEN lo AND hi` as BroadcastNestedLoopJoin (or a cartesian
  * product) — O(|points|·|intervals|) comparisons, the shape that dies
  * first at scale. Binning turns it into an equi-join: each point owns
  * exactly one `binWidth`-sized bin, each interval replicates over the
  * bins it covers (span/binWidth + 1 rows), the join runs hash-
  * partitioned on the bin, and a residual filter restores the exact
  * predicate. Every qualifying pair appears exactly once — the point's
  * bin is unique, so no dedup pass is needed.
  *
  * `binWidth` trades replication against selectivity exactly like the
  * bin size of the proprietary range-join optimizations in commercial
  * Spark runtimes: pick it near the typical interval span so intervals
  * replicate ~2× while each bin pairs only nearby rows.
  *
  * Floor-division via `(x - pmod(x, w)) div w` keeps negative
  * coordinates in their correct bin (a plain integer `div` truncates
  * toward zero and would merge the bins on either side of 0). */
object RangeJoin {

  private def bin(c: String, w: Long): String =
    s"(($c - pmod($c, $w)) div $w)"

  /** Inner point-in-interval join: rows of `points` paired with every
    * row of `intervals` whose `[loCol, hiCol]` (inclusive) contains
    * `pointCol`. All three columns must be integral (cast timestamps to
    * epoch numbers first). Output: point columns ++ interval columns. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val p = points.withColumn("__bin", expr(s"${bin(pointCol, binWidth)}"))
    val iv = intervals.withColumn("__bin", explode(expr(
      s"sequence(${bin(loCol, binWidth)}, ${bin(hiCol, binWidth)})")))
    p.join(iv, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Inner interval-overlap join: pairs of `left` × `right` whose
    * inclusive intervals intersect (`aLo <= bHi && bLo <= aHi`). Both
    * sides replicate over their covered bins; an overlapping pair
    * shares one or more bins, so to emit it exactly once the join keeps
    * only the FIRST shared bin — the bin of `max(aLo, bLo)` — instead
    * of a dedup shuffle. Exact by construction: that bin is covered by
    * both sides whenever the intervals overlap. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
      aLo: String, aHi: String, bLo: String, bHi: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val l = left.withColumn("__bin", explode(expr(
      s"sequence(${bin(aLo, binWidth)}, ${bin(aHi, binWidth)})")))
    val r = right.withColumn("__bin", explode(expr(
      s"sequence(${bin(bLo, binWidth)}, ${bin(bHi, binWidth)})")))
    l.join(r, Seq("__bin"))
      .filter(col(aLo) <= col(bHi) && col(bLo) <= col(aHi))
      .filter(col("__bin") ===
        expr(s"${bin(s"greatest($aLo, $bLo)", binWidth)}"))
      .drop("__bin")
  }
}
