package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BottomK, ContentChunks, CosineSim, DotProduct, MinHashSig, MisraGries, RollingHash, Shingles, SimHash64}

/** `SparkSessionExtensions` hook registering the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT rolling_hash(text)
  * ...")` works next to the Column API:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Literal, ShiftLeft, ShiftRightUnsigned}

  /** the Morton interleave as a raw Catalyst tree (same arithmetic as
    * `Layout.zValue`, constructible inside a FunctionRegistry builder) */
  private[graft] def zValueExpr(a: Expression, b: Expression,
      bits: Int): Expression = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      val ai = ShiftLeft(
        BitwiseAnd(ShiftRightUnsigned(a, Literal(i)), Literal(1L)),
        Literal(2 * i))
      val bi = ShiftLeft(
        BitwiseAnd(ShiftRightUnsigned(b, Literal(i)), Literal(1L)),
        Literal(2 * i + 1))
      Add(ai, bi): Expression
    }.reduce((x, y) => Add(x, y))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[RollingHash].getName, null, name, usage,
      "", "", "", "misc_funcs", "1.0.0", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the as-of join (every `AsOf` entry
    // point builds AsOfJoinNode) planned as a co-partitioned streaming
    // merge (plans/AsOfJoinPlan.scala), plus the optimizer rule
    // restoring column pruning through that node. `AsOf.join` injects
    // both itself when this hook is not installed.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsOfColumns)
    // engine default: the row_number-filter top-k idiom plans on the
    // bounded-heap operator (no per-partition full sort) whenever the
    // rewrite's equivalence guards hold — see RewriteWindowTopK
    // (TopK.rewrite applies the same rule to one plan); above its key
    // cap the exec degrades to the window form's spilling sort.
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(str) - 64-bit polynomial hash of str's UTF-8 bytes"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit SimHash of a token array"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(array<string>, k) - k-element MinHash signature"),
      (children: Seq[Expression]) => {
        val k = children(1).eval().asInstanceOf[Number].intValue()
        MinHashSig(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("content_chunks"),
      info("content_chunks",
        "content_chunks(str[, mask]) - content-defined chunks (Rabin-style boundaries at window-hash & mask == 0)"),
      (children: Seq[Expression]) => {
        val mask = if (children.size > 1)
          children(1).eval().asInstanceOf[Number].longValue() else 0x3FL
        ContentChunks(children.head, mask)
      }))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(array<double>, array<double>) - fused one-pass cosine similarity"),
      (children: Seq[Expression]) => CosineSim(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(array<double>, array<double>) - fused one-pass dot product"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("char_shingles"),
      info("char_shingles", "char_shingles(str, n) - distinct character n-grams in first-occurrence order"),
      (children: Seq[Expression]) => {
        val n = children(1).eval().asInstanceOf[Number].intValue()
        Shingles(children.head, n)
      }))
    // macro-style function: expands to the same shift/mask sum the
    // Column API (Layout.zValue) composes — no new evaluation code, so
    // SQL and Column callers compute identically
    ext.injectFunction((
      FunctionIdentifier("z_value"),
      info("z_value", "z_value(a, b[, bits]) - Morton interleave of the low bits of two non-negative integers"),
      (children: Seq[Expression]) => {
        val bits = if (children.size > 2)
          children(2).eval().asInstanceOf[Number].intValue() else 16
        GraftExtensions.zValueExpr(children.head, children(1), bits)
      }))
    // aggregate function: the analyzer wraps the returned AggregateFunction
    // in an AggregateExpression like any built-in aggregate
    ext.injectFunction((
      FunctionIdentifier("heavy_hitters"),
      info("heavy_hitters",
        "heavy_hitters(str, k) - Misra-Gries top items as array<struct<item,cnt>> (exact when distinct <= k)"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"heavy_hitters(str, k) takes 2 arguments, got ${children.size}")
        val k = children(1).eval().asInstanceOf[Number].intValue()
        MisraGries(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("bottom_k"),
      info("bottom_k",
        "bottom_k(str, k) - deterministic KMV distinct sample as array<struct<item,key>> (k smallest md5-keys)"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"bottom_k(str, k) takes 2 arguments, got ${children.size}")
        val k = children(1).eval().asInstanceOf[Number].intValue()
        BottomK(children.head, k)
      }))
  }
}
