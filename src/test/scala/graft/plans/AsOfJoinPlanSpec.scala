package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.{AsOfReference, SparkTestBase, Tables}
import graft.operators.AsOf

/** The custom as-of physical operator behind `AsOf`: correctness
  * against the naive as-of scan ([[AsOfReference]]; the registered
  * queries are also oracle-checked against DuckDB ASOF JOIN), plan
  * shape (merge exec, two exchanges, no window/union), and the
  * null/edge contract. */
class AsOfJoinPlanSpec extends SparkTestBase {

  private def sides() = {
    val ev = Tables(spark, sfDir, "events")
      .withColumn("sec", expr("ts div 1000000000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("sec"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("sec").as("signup_sec"), col("ts"))
    (purchases, signups)
  }

  test("AsOf.join ≡ naive as-of scan on the events fixture") {
    val (p, s) = sides()
    val viaExec = AsOf.join(p, s, Seq("user_id"), "ts", "ts", Seq("signup_sec"))
    val a = viaExec.collect().map(_.toSeq).sortBy(_.toString)
    val b = AsOfReference.scan(p, s, Seq("user_id"), "ts", "ts", Seq("signup_sec"))
      .map(_.toSeq).sortBy(_.toString)
    assert(a.length == b.length && a.length > 0)
    assert(a.sameElements(b))
  }

  test("plan: AsOfJoinExec with two key exchanges, no window, no union") {
    val (p, s) = sides()
    val df = AsOf.join(p, s, Seq("user_id"), "ts", "ts", Seq("signup_sec"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), s"no merge exec:\n$plan") // nodeName strips "Exec"
    assert(!plan.contains("WindowExec") && !plan.contains("Union"),
      s"fell back to union/window:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 key exchanges, got $exchanges:\n$plan")
  }

  test("AsOf.joinForward ≡ naive earliest-at-or-after scan on random " +
      "event sets, and it plans on AsOfJoinExec") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val left = (0 until 120).map(i =>
        (i.toLong, rnd.nextInt(7).toLong, rnd.nextInt(100).toLong))
        .toDF("lid", "k", "lt")
      val right = rnd.shuffle(
        (for (k <- 0L until 7L; t <- 0L until 100L) yield (k, t)).toList)
        .take(80).map { case (k, t) => (k, t, k * 1000 + t) }
        .toDF("k", "rt", "v")
      val viaExec = AsOf.joinForward(left, right, Seq("k"), "lt", "rt",
        Seq("v"))
      if (seed == 1)
        assert(viaExec.queryExecution.executedPlan.toString
          .contains("AsOfJoin"), "forward wrapper left the merge exec")
      val a = viaExec.select("lid", "v").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val b = AsOfReference.scan(left, right, Seq("k"), "lt", "rt", Seq("v"),
          forward = true)
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      assert(a == b, s"seed $seed: forward join diverged from the naive scan")
    }
  }

  test("SQL metrics: output rows = left rows; matched rows = non-null hits") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 10L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 7L, 70.0)).toDF("k", "t", "v")
    val df = AsOf.join(left, right, Seq("k"), "t", "t", Seq("v"))
    val rows = df.collect()
    val matched = rows.count(!_.isNullAt(3))
    val exec = org.apache.spark.sql.graftbridge.Bridge
      .deepCollect(df.queryExecution.executedPlan) { case e: AsOfJoinExec => e }
      .headOption.getOrElse(fail("no AsOfJoinExec in the executed plan"))
    assert(exec.metrics("numOutputRows").value == rows.length)
    assert(exec.metrics("numMatchedRows").value == matched)
    assert(matched == 1) // only "a" (k=1, t=10) sees the t=7 quote
  }

  test("null contract: NULL right time never matches; unmatched left is NULL-filled") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, java.lang.Long.valueOf(4L), "r4"),
        (1L, null.asInstanceOf[java.lang.Long], "rNull"),
        (1L, java.lang.Long.valueOf(9L), "r9"),
        (3L, java.lang.Long.valueOf(1L), "r1"))
      .toDF("k", "t", "v")
    val out = AsOf.join(left, right, Seq("k"), "t", "t", Seq("v"))
      .select("k", "t", "tag", "v").collect().toSet
    assert(out == Set(
      Row(1L, 10L, "a", "r9"),  // latest at-or-before 10 is t=9 (null-t row skipped)
      Row(1L, 5L, "b", "r4"),   // t=9 is in the future
      Row(2L, 7L, "c", null)))  // no right rows for k=2
  }

  test("equal timestamps match (at-or-before) and last right row wins ties") {
    import spark.implicits._
    val left = Seq((1L, 5L)).toDF("k", "t")
    val right = Seq((1L, 5L, "early"), (1L, 5L, "late")).toDF("k", "t", "v")
    val out = AsOf.join(left, right, Seq("k"), "t", "t", Seq("v")).collect()
    assert(out.length == 1 && out.head.getString(2) == "late")
  }

  test("PruneAsOfColumns: unused left columns are pruned down to the scan") {
    val lineitem = Tables(spark, sfDir, "lineitem") // 16 columns
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_custkey").as("l_orderkey"),
        col("o_orderkey").cast("int").as("o_seq"), col("o_orderdate"))
    // join carries all lineitem columns into the node; the query only
    // uses 2 — the injected rule must narrow the left side to
    // {l_quantity} + key {l_orderkey} + time {l_linenumber}
    val df = AsOf.join(lineitem, orders, Seq("l_orderkey"),
        "l_linenumber", "o_seq", Seq("o_orderdate"))
      .select("l_quantity", "o_orderdate")
    val plan = df.queryExecution.executedPlan.toString
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    val leftRead = reads.find(_.contains("l_quantity")).getOrElse(
      fail(s"no lineitem scan found:\n$plan"))
    assert(leftRead.contains("l_orderkey") && leftRead.contains("l_linenumber") &&
      !leftRead.contains("l_extendedprice") && !leftRead.contains("l_comment"),
      s"left scan not pruned: $leftRead")
  }

  test("randomized equivalence: AsOf.join ≡ naive as-of scan across seeds") {
    import spark.implicits._
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val left = Seq.fill(300)((rnd.nextInt(6).toLong, rnd.nextInt(80).toLong,
        rnd.nextInt(1000))).toDF("k", "t", "payload")
      // right (k, t) kept unique so "latest" is unambiguous
      val right = rnd.shuffle((0 until 90).toList).take(60)
        .map(t => (rnd.nextInt(6).toLong, t.toLong, rnd.nextInt(1000)))
        .distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
        .toDF("k", "t", "v")
      val a = AsOf.join(left, right, Seq("k"), "t", "t", Seq("v"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val b = AsOfReference.scan(left, right, Seq("k"), "t", "t", Seq("v"))
        .map(_.toSeq).sortBy(_.toString)
      assert(a.length == 300 && a.sameElements(b), s"diverged at seed $seed")
    }
  }

  test("composite keys and key groups split across many partitions") {
    import spark.implicits._
    val left = (0L until 400L).map(i => (i % 7, i % 3, i, s"L$i"))
      .toDF("k1", "k2", "t", "tag").repartition(13)
    val right = (0L until 400L by 2).map(i => (i % 7, i % 3, i, i * 10))
      .toDF("k1", "k2", "t", "v").repartition(17)
    val viaExec = AsOf.join(left, right, Seq("k1", "k2"), "t", "t", Seq("v"))
    val a = viaExec.collect().map(_.toSeq).sortBy(_.toString)
    val b = AsOfReference.scan(left, right, Seq("k1", "k2"), "t", "t", Seq("v"))
      .map(_.toSeq).sortBy(_.toString)
    assert(a.length == 400 && a.sameElements(b))
  }
}
