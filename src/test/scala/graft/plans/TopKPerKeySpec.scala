package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.{GraftExtensions, SparkTestBase, Tables}

object TopKPerKeySpec {
  /** `df` with every top-k node's key cap set to `cap`, so a test can
    * force the sort degrade without a public knob. */
  def withKeyCap(df: DataFrame, cap: Long): DataFrame =
    Bridge.ofRows(df.sparkSession, df.queryExecution.analyzed.transform {
      case n: TopKPerKeyNode => n.copy(maxKeysPerPartition = cap)
    })
}

/** The bounded-heap top-k operator: equivalence with the window form,
  * plan shape (no sort, no window), and edge semantics. */
class TopKPerKeySpec extends SparkTestBase {
  import TopKPerKeySpec.withKeyCap

  test("heap top-k ≡ window row_number filter on the orders fixture") {
    val orders = Tables(spark, sfDir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val viaHeap = TopK.perKey(orders, Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
      .select("o_custkey", "o_orderkey", "rn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3).select("o_custkey", "o_orderkey", "rn")
    val a = viaHeap.collect().map(_.toSeq).sortBy(_.toString)
    val b = viaWindow.collect().map(_.toSeq).sortBy(_.toString)
    assert(a.length == b.length && a.length > 0 && a.sameElements(b))
  }

  test("plan: TopKPerKey exec, one hash exchange, no sort, no window") {
    val orders = Tables(spark, sfDir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val df = TopK.perKey(orders, Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"no heap exec:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Sort "),
      s"fell back to sort/window:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one key exchange:\n$plan")
  }

  test("pruning rule: unused input columns are pruned down to the scan") {
    val orders = Tables(spark, sfDir, "orders") // 6 columns, no pre-select
    val df = TopK.perKey(orders, Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
      .select("o_orderkey", "rn")
    val plan = df.queryExecution.executedPlan.toString
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse(
      fail(s"no scan found:\n$plan"))
    assert(read.contains("o_custkey") && read.contains("o_totalprice") &&
      !read.contains("o_orderdate") && !read.contains("o_orderpriority"),
      s"input not pruned: $read")
  }

  test("groups smaller than k emit all rows; ranks are 1-based and dense") {
    import spark.implicits._
    val df = Seq((1L, 30.0), (1L, 10.0), (1L, 20.0), (1L, 5.0), (2L, 1.0))
      .toDF("k", "v")
    val got = TopK.perKey(df, Seq("k"), Seq(col("v").desc), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 30.0, 1L), (1L, 20.0, 2L), (1L, 10.0, 3L), // v=5.0 evicted
      (2L, 1.0, 1L)))                                  // short group kept whole
  }

  test("null sort values follow the window form's null ordering") {
    import spark.implicits._
    val df = Seq((1L, Some(5.0), "a"), (1L, None, "b"), (1L, Some(9.0), "c"),
        (1L, Some(1.0), "d"))
      .toDF("k", "v", "tag")
    val viaHeap = TopK.perKey(df, Seq("k"), Seq(col("v").desc, col("tag")), k = 2)
      .select("tag", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("tag"))
    val viaWindow = df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select("tag", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaHeap == viaWindow)
    assert(viaHeap == Set(("c", 1L), ("a", 2L))) // desc → NULLS LAST, evicted
  }

  test("keys split across many partitions still produce exact global top-k") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 13, i))
      .toDF("k", "v").repartition(17)
    val got = TopK.perKey(df, Seq("k"), Seq(col("v").desc), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (0L until 1000L).groupBy(_ % 13).flatMap { case (k, vs) =>
      vs.sorted(Ordering[Long].reverse).take(2).zipWithIndex
        .map { case (v, i) => (k, v, (i + 1).toLong) }
    }.toSet
    assert(got == expect)
  }

  test("high key cardinality works under the default key bound") {
    import spark.implicits._
    // every row its own key: 50k heaps across tasks — fine by default
    val wide = (0L until 50000L).map(i => (i, i)).toDF("k", "v")
    assert(TopK.perKey(wide, Seq("k"), Seq(col("v")), k = 1).count() == 50000L)
  }

  test("above the key cap the task degrades to the spilling sort, same rows") {
    import spark.implicits._
    // 5000 keys × 4 rows in ONE partition, cap of 100 → the heap phase
    // overflows early and the sort phase must produce the full answer
    val df = (0L until 20000L).map(i => (i % 5000, i)).toDF("k", "v").coalesce(1)
    val got = withKeyCap(TopK.perKey(df, Seq("k"), Seq(col("v").desc), k = 2), 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (0L until 20000L).groupBy(_ % 5000).flatMap { case (k, vs) =>
      vs.sorted(Ordering[Long].reverse).take(2).zipWithIndex
        .map { case (v, i) => (k, v, (i + 1).toLong) }
    }.toSet
    assert(got == expect, s"degrade path diverged: ${got.size} vs ${expect.size}")
  }

  test("keys containing nested floats are rejected (struct key) and the " +
      "rewrite declines on them") {
    import spark.implicits._
    val df = Seq((1.0, 1L, 2L)).toDF("f", "k", "v")
      .withColumn("sk", struct(col("k"), col("f")))
    val e = intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq("sk"), Seq(col("v")), k = 1)
    }
    assert(e.getMessage.contains("float/double"))
    // rewrite guard: struct-with-double partition key keeps the window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sk")).orderBy(col("v"))
    val form = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
    assert(!TopK.rewrite(form).queryExecution.executedPlan
      .toString.contains("TopKPerKey"))
  }

  test("session-wide rule: the optimized Filter → Window → WindowGroupLimit " +
      "becomes TopKPerKey with the window form's rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rule = Bridge.builtOptimizerRules(ext, spark)
      .find(_ == RewriteWindowTopK)
      .getOrElse(fail("GraftExtensions installs no RewriteWindowTopK"))
    val form = windowForm(2)
    val optimized = form.queryExecution.optimizedPlan
    assert(optimized.exists {
      case Filter(_, w: Window) => w.child.isInstanceOf[WindowGroupLimit]
      case _ => false
    }, s"no Filter → Window → WindowGroupLimit to rewrite:\n$optimized")
    val rewritten = rule(optimized)
    assert(rewritten.collect { case n: TopKPerKeyNode => n }.length == 1,
      s"rule did not fire:\n$rewritten")
    assert(!rewritten.exists {
      case _: Window | _: WindowGroupLimit => true
      case _ => false
    }, s"window machinery survived the rule:\n$rewritten")
    Bridge.ensureStrategy(spark, TopKPerKeyStrategy)
    val viaRule = Bridge.ofRows(spark, rewritten)
    assert(viaRule.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val a = viaRule.collect().map(_.toSeq).sortBy(_.toString())
    val b = form.collect().map(_.toSeq).sortBy(_.toString())
    assert(a.length == b.length && a.length > 0 && a.sameElements(b),
      s"rule changed results: ${a.length} vs ${b.length} rows")
  }

  test("SQL metrics: output rows and heap keys reported; the sort degrade " +
      "increments its fallback counter") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 13, i)).toDF("k", "v")
    val q = TopK.perKey(df, Seq("k"), Seq(col("v").desc), k = 2)
    val n = q.collect().length // collect() so THIS plan's metrics populate
    val exec = Bridge.deepCollect(q.queryExecution.executedPlan) {
      case t: TopKPerKeyExec => t
    }.headOption.getOrElse(fail("no TopKPerKeyExec in the executed plan"))
    assert(exec.metrics("numOutputRows").value == n)
    assert(exec.metrics("numHeapKeys").value == 13L)
    assert(exec.metrics("sortFallbackTasks").value == 0L)
    // force the degrade: 500 keys through a cap of 50 in one partition
    val d = withKeyCap(TopK.perKey(
      (0L until 2000L).map(i => (i % 500, i)).toDF("k", "v").coalesce(1),
      Seq("k"), Seq(col("v").desc), k = 2), 50)
    val dn = d.collect().length
    assert(dn == 1000)
    val dexec = Bridge.deepCollect(d.queryExecution.executedPlan) {
      case t: TopKPerKeyExec => t
    }.head
    assert(dexec.metrics("sortFallbackTasks").value == 1L)
    assert(dexec.metrics("numOutputRows").value == dn)
  }

  test("API validation: empty order and rank-column collision are rejected") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("k", "v")
    val e1 = intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq("k"), Seq.empty, k = 1)
    }
    assert(e1.getMessage.contains("ordering"))
    val e2 = intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq("k"), Seq(col("v")), k = 1, rankCol = "v")
    }
    assert(e2.getMessage.contains("collides"))
  }

  // ---- RewriteWindowTopK: the row_number-filter idiom auto-plans on the heap

  private def windowForm(k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables(spark, sfDir, "lineitem")
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  test("rewrite: window idiom plans on the heap exec with identical rows and ranks") {
    val form = windowForm(2)
    val rewritten = TopK.rewrite(form)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("WindowGroupLimit"),
      s"window machinery survived the rewrite:\n$plan")
    val a = rewritten.collect().map(_.toSeq).sortBy(_.toString())
    val b = form.collect().map(_.toSeq).sortBy(_.toString())
    assert(a.length == b.length && a.length > 0 && a.sameElements(b),
      s"rewrite changed results: ${a.length} vs ${b.length} rows")
  }

  test("rewrite: top-1 'rn = 1' idiom fires; residual conjuncts keep filtering") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val top1 = Tables(spark, sfDir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val r1 = TopK.rewrite(top1)
    assert(r1.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(r1.collect().map(_.toSeq).sortBy(_.toString()) sameElements
      top1.collect().map(_.toSeq).sortBy(_.toString()))
    // rn >= 2 is NOT a bound — it must survive as a filter over the heap
    val band = windowForm(3).filter(col("rn") >= 2)
    val r2 = TopK.rewrite(band)
    val plan2 = r2.queryExecution.executedPlan.toString
    assert(plan2.contains("TopKPerKey") && plan2.contains("Filter"),
      s"residual filter lost:\n$plan2")
    assert(r2.collect().map(_.toSeq).sortBy(_.toString()) sameElements
      band.collect().map(_.toSeq).sortBy(_.toString()))
  }

  test("rewrite declines: rank(), float partition keys, k over threshold") {
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    // rank() keeps full tie groups — a k-heap can't honor that
    val viaRank = Tables(spark, sfDir, "orders")
      .withColumn("rn", rank().over(wr)).filter(col("rn") <= 3)
    assert(!TopK.rewrite(viaRank).queryExecution.executedPlan
      .toString.contains("TopKPerKey"))
    // double keys group -0.0/NaN differently than the normalized window
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("price_d")).orderBy(col("o_orderkey"))
    val viaFloat = Tables(spark, sfDir, "orders")
      .withColumn("price_d", col("o_totalprice").cast("double"))
      .withColumn("rn", row_number().over(wf)).filter(col("rn") <= 3)
    assert(!TopK.rewrite(viaFloat).queryExecution.executedPlan
      .toString.contains("TopKPerKey"))
    // k beyond the threshold: heaps of 100k rows are no longer obviously
    // cheaper than a spilling sort
    val big = windowForm(100000)
    assert(!TopK.rewrite(big).queryExecution.executedPlan
      .toString.contains("TopKPerKey"))
  }

  test("perKey with k over the rewrite limit plans the window form, same rows") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i % 2, i)).toDF("k", "v")
    val big = TopK.perKey(df, Seq("k"), Seq(col("v").desc), k = 1001)
    val plan = big.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerKey") && plan.contains("Window"), plan)
    assert(big.schema("rn").dataType == org.apache.spark.sql.types.LongType)
    val got = big.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (0L until 3000L).groupBy(_ % 2).flatMap { case (k, vs) =>
      vs.sorted(Ordering[Long].reverse).take(1001).zipWithIndex
        .map { case (v, i) => (k, v, (i + 1).toLong) }
    }.toSet
    assert(got == expect)
  }
}
