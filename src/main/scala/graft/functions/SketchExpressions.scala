package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass sketch kernels for the dedup operators.
  *
  * Composing these from built-ins (explode → 32–64 conditional aggregate
  * columns → reassemble) works but generates enormous codegen classes and
  * an unnecessary shuffle; one custom expression per sketch keeps the
  * whole computation a narrow per-row map inside whole-stage codegen —
  * the shape that scales to 10^9 documents (bench: dedup_simhash went
  * from 12.3 s to sub-second at sf0.1 after this change). */
object SketchImpl {
  /** 64-bit SimHash over a token array: bit b is the sign of the sum of
    * ±1 votes from bit b of each token's 64-bit hash. The token hash is
    * a polynomial byte fold (h·31 + byte, mod 2⁶⁴ — the
    * [[graft.functions.RollingHash]] fold) finished by the splitmix64
    * finalizer: the raw polynomial leaves high bits near zero for short
    * tokens (31^len ≪ 2⁶⁴), which would make the high SimHash bands
    * collide universally; splitmix64 disperses all 64 bits. Every step
    * (add/multiply mod 2⁶⁴, unsigned shift, xor) is reproducible in
    * mod-2⁶⁴ HUGEINT SQL, so the full pipeline has a DuckDB oracle. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        // the shared project byte fold — one definition, one oracle mirror
        var h = RollingHash.hashBytes(arr.getUTF8String(i).getBytes)
        // splitmix64 finalizer (public-domain constants)
        h += 0x9E3779B97F4A7C15L
        h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
        h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
        h = h ^ (h >>> 31)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Deterministic ±1 hyperplane sign tables for random-hyperplane LSH,
    * keyed by (tables·bits, dim). Component k of plane j takes bit 15 of
    * a Lehmer step over m² where m = j·1000003 + k:
    * `h = (m·m mod 2³¹−1) · 48271 mod 2³¹−1` — every intermediate fits a
    * signed 64-bit integer, so the exact table is reproducible in plain
    * BIGINT SQL (this is what gives `sim_ann_lsh` a DuckDB oracle) and
    * on any executor with no stored model. */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  def hyperplaneSigns(planes: Int, dim: Int): Array[Double] =
    signCache.computeIfAbsent((planes, dim), { key =>
      val (p, d) = key
      // m² must fit a signed long or the Lehmer step silently diverges
      // from its exact BIGINT-SQL mirror: m ≤ √(2⁶³−1) = 3037000499
      require((p - 1).toLong * 1000003L + (d - 1) <= 3037000499L,
        s"hyperplane table too large: planes=$p dim=$d would overflow " +
          "the 64-bit Lehmer intermediate (keep tables*bits <= 3037)")
      val out = new Array[Double](p * d)
      var j = 0
      while (j < p) {
        var k = 0
        while (k < d) {
          val m = j.toLong * 1000003L + k
          val h = (m * m % 2147483647L) * 48271L % 2147483647L
          out(j * d + k) = if (((h >> 15) & 1L) == 1L) 1.0 else -1.0
          k += 1
        }
        j += 1
      }
      out
    })

  /** One-pass hyperplane-LSH bucketing: for each of `tables` hash tables,
    * pack `bits` sign bits (dot(v, plane) > 0) into a long bucket key.
    * Replaces tables·bits separate SQL aggregate-folds (each invoking
    * xxhash64 per element) with one tight loop over a precomputed sign
    * table — the per-row cost drops from ~2k hash calls to pure
    * multiply-adds. */
  def hyperplaneBuckets(arr: ArrayData, tables: Int, bits: Int, dim: Int): ArrayData = {
    val signs = hyperplaneSigns(tables * bits, dim)
    val n = math.min(arr.numElements(), dim)
    // copy the vector to a primitive array ONCE (nulls → 0.0): the plane
    // loops below traverse it tables·bits times, and per-element
    // ArrayData accessor calls with a null-check branch would dominate
    // the pure multiply-add this kernel exists to be
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (arr.isNullAt(i)) 0.0 else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val plane = t * bits + b
        var acc = 0.0
        var k = 0
        while (k < n) {
          acc += v(k) * signs(plane * dim + k)
          k += 1
        }
        if (acc > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Fused cosine similarity: dot, |a|², |b|² in one pass, each a strict
    * left-fold in element order — bit-identical to the
    * aggregate(zip_with(...)) SQL form and DuckDB's
    * list_cosine_similarity. */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // a zero/empty vector has no direction: return 0, never NaN — NaN
    // sorts ABOVE every real cosine in a descending top-k, so one junk
    // vector would otherwise rank #1 for every query
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Fused dot product: one strict left-fold in element order —
    * bit-identical to `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, ...)`
    * and DuckDB's list_dot_product. */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    dot
  }

  /** `size(array_intersect(a, b))` for two string arrays, without
    * building the intersection: the number of distinct strings in both,
    * plus one if both hold a NULL. Strings compare by bytes (binary
    * collation), as `array_intersect` does. Hashes the smaller side
    * once and probes with the other; a hit is removed from the set so a
    * duplicate on the probe side counts once. Built-in
    * `array_intersect` has no generated code for strings: it boxes
    * every element through a hash set and copies the result array only
    * for `size` to read its length. */
  def intersectCount(a: ArrayData, b: ArrayData): Int = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    if (ns == 0) return 0
    val set = new java.util.HashSet[UTF8String](
      math.max(16, (ns / 0.75).toInt + 1))
    var smallNull = false
    var i = 0
    while (i < ns) {
      if (small.isNullAt(i)) smallNull = true else set.add(small.getUTF8String(i))
      i += 1
    }
    val nl = large.numElements()
    var count = 0
    i = 0
    while (i < nl) {
      if (large.isNullAt(i)) {
        if (smallNull) { count += 1; smallNull = false }
      } else if (set.remove(large.getUTF8String(i))) count += 1
      i += 1
    }
    count
  }

  /** Distinct character n-gram shingles in first-occurrence order —
    * bit-identical to
    * `array_distinct(transform(sequence(1, length(s)-n+1), i -> substr(s, i, n)))`
    * (empty array when the text is shorter than n), but one O(len·n) pass
    * over the UTF-8 bytes instead of `length` substr calls that each
    * re-scan from the start of the string (O(len²) per document — the
    * dominant per-row cost of shingle-based dedup on real corpora). */
  def charShingles(str: UTF8String, n: Int): ArrayData = {
    val numChars = str.numChars()
    if (numChars < n) return new GenericArrayData(Array.empty[Any])
    val bytes = str.getBytes
    // byte offset of each character (+ end sentinel), one forward walk
    val offsets = new Array[Int](numChars + 1)
    var bi = 0
    var ci = 0
    while (bi < bytes.length) {
      offsets(ci) = bi
      ci += 1
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
    }
    offsets(numChars) = bytes.length
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var k = 0
    while (k <= numChars - n) {
      seen.add(UTF8String.fromBytes(bytes, offsets(k), offsets(k + n) - offsets(k)))
      k += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** k-permutation MinHash signature: element j is the minimum over the
    * set of xxhash64(token, seed = j). Empty/all-null input → MaxValue
    * sentinels (callers treat such docs as having no signature). */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** simhash64(array<string>) → long, codegen via a static call. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    SketchImpl.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** minhash_sig(array<string>, k) → array<long>, codegen via static call. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0 && k <= 1024)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<STRING>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    SketchImpl.minhashSig(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.minhashSig($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** cosine_sim(array<double>, array<double>) → double.
  *
  * One fused pass accumulating dot product and both squared norms —
  * replaces three `aggregate(zip_with(...))` SQL folds that each
  * materialize an intermediate array per pair. The accumulation order is
  * the same left-fold the SQL form uses (and DuckDB's
  * `list_cosine_similarity`), so results stay bit-identical for the
  * oracle compare. Pairs shorter side wins on length mismatch; null
  * elements contribute nothing (fixtures have none). */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two ARRAY<DOUBLE>, got $other")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchImpl.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchImpl.cosineSim($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** dot_product(array<double>, array<double>) → double.
  * Same left-fold order as the `aggregate(zip_with(...))` SQL fold and
  * DuckDB's `list_dot_product`, so oracle compares stay bit-exact. */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires two ARRAY<DOUBLE>, got $other")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchImpl.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchImpl.dotProduct($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** intersect_count(array<string>, array<string>) → int: exactly
  * `size(array_intersect(a, b))` — NULL elements and duplicates
  * included, NULL when either array is NULL — counted by a static
  * [[SketchImpl.intersectCount]] call instead of the interpreted
  * intersection the built-in takes for strings. Binary collation only:
  * other collations compare strings differently and fail the type
  * check. */
case class IntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_count"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"intersect_count requires two ARRAY<STRING>, got $other")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchImpl.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SketchImpl.intersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

/** char_shingles(string, n) → array<string>: distinct character n-grams
  * in first-occurrence order (empty for texts shorter than n) — the
  * single-pass form of
  * `array_distinct(transform(sequence(1, length(s)-n+1), i -> substr(s,i,n)))`. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0 && n <= 32)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_shingles requires STRING, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    SketchImpl.charShingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.charShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** hyperplane_buckets(array<double>, tables, bits, dim) → array<long>
  * (one bucket key per LSH table), codegen via static call. */
case class HyperplaneBuckets(child: Expression, tables: Int, bits: Int, dim: Int)
    extends UnaryExpression {
  require(tables > 0 && bits > 0 && bits <= 63 && dim > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets requires ARRAY<DOUBLE>, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    SketchImpl.hyperplaneBuckets(input.asInstanceOf[ArrayData], tables, bits, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchImpl.hyperplaneBuckets($c, $tables, $bits, $dim)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

object SketchExpressions {
  def simhash64(c: Column): Column = Bridge.column(SimHash64(Bridge.expression(c)))
  def minhash_sig(c: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), k))
  def hyperplane_buckets(c: Column, tables: Int, bits: Int, dim: Int): Column =
    Bridge.column(HyperplaneBuckets(Bridge.expression(c), tables, bits, dim))
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def intersect_count(a: Column, b: Column): Column =
    Bridge.column(IntersectCount(Bridge.expression(a), Bridge.expression(b)))
  def char_shingles(c: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(c), n))
}
