package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The naive as-of reference the as-of tests check `AsOf` against: for
  * each left row, scan every right row of its key group and take the
  * one with the greatest time at or before the left time (`forward`:
  * the least time at or after). Driver-side and O(|L|·|R|), so small
  * inputs only. NULL right times never match, a NULL left time matches
  * nothing, and NULL keys group together, as in `AsOf.join`. Rows come
  * back as left columns ++ `rightVals`, NULL-filled when no right row
  * qualifies. The picked right row must be the only one at its (key,
  * time): a tie fails loudly instead of choosing one. */
object AsOfReference {

  def scan(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightVals: Seq[String],
      forward: Boolean = false): Seq[Row] = {
    val natural = Ordering.fromLessThan[Any](
      (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
    val ord = if (forward) natural.reverse else natural
    val (ls, rs) = (left.schema, right.schema)
    val lt = ls.fieldIndex(leftTime)
    val rt = rs.fieldIndex(rightTime)
    val vals = rightVals.map(rs.fieldIndex)
    val byKey = right.collect().toSeq.filterNot(_.isNullAt(rt))
      .groupBy(r => keys.map(k => r.get(rs.fieldIndex(k))))
    left.collect().toSeq.map { l =>
      val group = byKey.getOrElse(keys.map(k => l.get(ls.fieldIndex(k))), Nil)
      val cands = if (l.isNullAt(lt)) Nil
        else group.filter(r => ord.lteq(r.get(rt), l.get(lt)))
      val best = if (cands.isEmpty) None else {
        val b = cands.maxBy(_.get(rt))(ord)
        require(cands.count(_.get(rt) == b.get(rt)) == 1,
          s"tied right rows at ${b.get(rt)}: the reference needs one per (key, time)")
        Some(b)
      }
      Row.fromSeq(l.toSeq ++ vals.map(i => best.map(_.get(i)).orNull))
    }
  }
}
