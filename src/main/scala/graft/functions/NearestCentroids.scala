package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, InterpretedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** A vector the nearest-centroid kernel cannot score. */
final class MalformedVector(reason: String) extends IllegalArgumentException(reason) {
  def at(id: Any): IllegalArgumentException = new IllegalArgumentException(
    s"nearest-centroid kernel: vec_id=${if (id == null) "NULL" else id}: $reason")
}

/** The centroids the nearest-centroid kernel scores against, collected
  * on the driver: labels in ascending label order (Catalyst values of
  * `labelType`), the `dim`-long centroids flattened in that order, and
  * each centroid's |c|² as the centroid frame holds it. */
final class CentroidTable private (val labelType: DataType, labels: Array[Any],
    c: Array[Double], cnorm2: Array[Double], val dim: Int) extends Serializable {

  /** The top-`n` centroids of the `dim` elements of `v` from `from`, as
    * `(centroid, score)` rows ordered by score, then label. The score is
    * `cnorm2 - 2.0 * dot`, the dot product [[SketchImpl.dotProduct]]'s
    * sequential multiply-add, and scores compare as a SQL ORDER BY does,
    * so the ranking is the one a `row_number` window over the scored
    * cross join gives. `v` must hold exactly `width` non-NULL elements. */
  def nearest(v: ArrayData, width: Int, from: Int, n: Int): ArrayData = {
    if (v == null) throw new MalformedVector("the vector is NULL")
    if (v.numElements() != width) throw new MalformedVector(
      s"the vector has ${v.numElements()} elements, the centroids need $width")
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(from + i))
        throw new MalformedVector(s"the vector holds a NULL element at index ${from + i}")
      x(i) = v.getDouble(from + i)
      i += 1
    }
    val m = math.min(n, cnorm2.length)
    val top = new Array[Int](m)
    val topScore = new Array[Double](m)
    var filled = 0
    var j = 0
    while (j < cnorm2.length) {
      var dot = 0.0
      i = 0
      while (i < dim) { dot += x(i) * c(j * dim + i); i += 1 }
      val s = cnorm2(j) - 2.0 * dot
      // labels ascend with j: an equal score never displaces an entry
      if (filled < m || SQLOrderingUtil.compareDoubles(s, topScore(m - 1)) < 0) {
        var p = if (filled < m) { filled += 1; filled - 1 } else m - 1
        while (p > 0 && SQLOrderingUtil.compareDoubles(s, topScore(p - 1)) < 0) {
          top(p) = top(p - 1); topScore(p) = topScore(p - 1); p -= 1
        }
        top(p) = j; topScore(p) = s
      }
      j += 1
    }
    new GenericArrayData(Array.tabulate[Any](m)(r => InternalRow(labels(top(r)), topScore(r))))
  }
}

object CentroidTable {
  /** From `(label, centroid, |c|²)` entries with Row label values;
    * fails unless every centroid and |c|² is non-NULL, of one length,
    * with no NULL element, and there is at least one. */
  def apply(labelType: DataType,
      entries: Seq[(Any, scala.collection.Seq[Any], Any)]): CentroidTable = {
    require(entries.nonEmpty, "the nearest-centroid kernel needs at least one centroid")
    val ord = InterpretedOrdering.forSchema(Seq(labelType))
    val sorted = entries.map(e => e.copy(_1 = CatalystTypeConverters.convertToCatalyst(e._1)))
      .sortWith((a, b) => ord.compare(InternalRow(a._1), InternalRow(b._1)) < 0)
    val dim = Option(sorted.head._2).fold(0)(_.length)
    for ((l, c, n2) <- sorted) require(c != null && c.length == dim &&
        !c.contains(null) && n2 != null,
      s"centroid $l needs $dim non-NULL elements and a |c|², got $c and $n2")
    new CentroidTable(labelType, sorted.map(_._1).toArray,
      sorted.flatMap(_._2).map(_.asInstanceOf[Double]).toArray,
      sorted.map(_._3.asInstanceOf[Double]).toArray, dim)
  }

  /** From collected `(label, vec, norm)` rows. */
  def fromRows(labelType: DataType, rows: Seq[Row]): CentroidTable =
    apply(labelType, rows.map(r => (r.get(0), r.getSeq[Any](1), r.get(2))))

  /** Collects a `(c_label, c, cnorm2)` centroid frame once. */
  def collect(centroids: DataFrame): CentroidTable = {
    val f = centroids.select("c_label", "c", "cnorm2")
    fromRows(f.schema(0).dataType, f.collect().toSeq)
  }

  /** Driver-held `(label, centroid)` pairs; |c|² is the sequential fold
    * the SQL `aggregate` runs. */
  def local(c: Array[(Long, Array[Double])]): CentroidTable =
    apply(LongType, c.toSeq.map { case (l, a) => (l, a.toSeq, a.foldLeft(0.0)((s, x) => s + x * x)) })
}

/** nearest_centroids(v, vec_id) → array<struct<centroid, score>>:
  * [[CentroidTable.nearest]] over a broadcast table. A malformed `v`
  * fails the task with an error naming its `vec_id`. */
case class NearestCentroids(left: Expression, right: Expression,
    table: Broadcast[CentroidTable], labelType: DataType, width: Int, from: Int, n: Int)
    extends BinaryExpression {
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("centroid", labelType),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids requires ARRAY<DOUBLE>, got $other")
  }

  @transient private lazy val centroids = table.value
  def nearest(v: ArrayData): ArrayData = centroids.nearest(v, width, from, n)

  override def eval(input: InternalRow): Any =
    try nearest(left.eval(input).asInstanceOf[ArrayData])
    catch { case e: MalformedVector => throw e.at(right.eval(input)) }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearest", this)
    val (v, id) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(isNull = FalseLiteral, code = code"""
      ${v.code}
      ${id.code}
      ArrayData ${ev.value} = null;
      try {
        ${ev.value} = $self.nearest(${v.isNull} ? null : ${v.value});
      } catch (graft.functions.MalformedVector e) {
        throw e.at(${id.isNull} ? null : String.valueOf(${id.value}));
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroids =
    copy(left = newLeft, right = newRight)
}

object NearestCentroids {
  /** The kernel's top-`n` over columns `v` and `vec_id`, broadcasting
    * `table` once; `from` and `width` (−1: the table's dim) score one
    * block of a longer vector, as product quantization does. */
  def apply(spark: SparkSession, table: CentroidTable, n: Int,
      from: Int = 0, width: Int = -1): Column =
    Bridge.column(NearestCentroids(Bridge.expression(col("v")),
      Bridge.expression(col("vec_id")), spark.sparkContext.broadcast(table),
      table.labelType, if (width < 0) table.dim else width, from, n))
}
