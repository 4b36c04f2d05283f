package graft.delete

import java.sql.DriverManager
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.app.ConverterApp
import graft.copy.DataCopier

class DeletePlannerSpec extends SparkTestBase {

  /** `t`'s PK columns copied into an in-memory Derby table without a PK
    * constraint ((l_orderkey, l_linenumber) repeats in the fixture), so
    * split points come from the database probe. Returns the URL. */
  private def derbyKeys(t: String, pk: Seq[(String, String)]): String = {
    val url = s"jdbc:derby:memory:deletePlanner_$t;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(s"CREATE TABLE $t (" +
      pk.map { case (n, ty) => s"$n $ty NOT NULL" }.mkString(", ") + ")")
    finally c.close()
    val keys = Tables(spark, sfDir, t).select(pk.map(k => col(k._1)): _*)
    DataCopier.copyTable(keys,
      ConverterApp.specFromStruct(t, keys.schema, pk.map(_._1)), url)
    url
  }

  test("exact split points + range predicates form a disjoint cover") {
    val orders = Tables(spark, sfDir, "orders")
    val splits = DeletePlanner.splitPointsOffset(
      derbyKeys("orders", Seq("o_orderkey" -> "BIGINT")), "orders",
      Seq("o_orderkey"), 4)
    assert(splits.size == 3)
    val preds = DeletePlanner.rangePredicates(Seq("o_orderkey"), splits)
    assert(preds.size == 4)
    // evaluating the generated SQL ranges partitions every row exactly once
    val counts = preds.map(p => orders.filter(expr(p)).count())
    assert(counts.sum == orders.count())
    assert(counts.forall(_ > 0))
  }

  test("composite-PK range predicates are parseable and cover lineitem") {
    val li = Tables(spark, sfDir, "lineitem")
    val pk = Seq("l_orderkey", "l_linenumber")
    val splits = DeletePlanner.splitPointsOffset(
      derbyKeys("lineitem", Seq("l_orderkey" -> "BIGINT", "l_linenumber" -> "INTEGER")),
      "lineitem", pk, 4)
    val preds = DeletePlanner.rangePredicates(pk, splits)
    val counts = preds.map(p => li.filter(expr(p)).count())
    assert(counts.sum == li.count())
  }

  test("lexicographic range predicate matches tuple order (exhaustive 2-col domain)") {
    import spark.implicits._
    val domain = for (a <- 0 to 4; b <- 0 to 4) yield (a, b)
    val ord = Ordering[(Int, Int)]
    val df = domain.toDF("a", "b")
    // every (lo, hi) pair with lo <= hi: the rendered below / [lo, hi) /
    // at-or-above predicates, evaluated by Spark, must select exactly the
    // tuples lexicographic order puts there
    for (lo <- domain) {
      val his = domain.filter(ord.gteq(_, lo))
      val preds = his.flatMap(hi => DeletePlanner.rangePredicates(Seq("a", "b"),
        Seq(Seq(lo._1, lo._2), Seq(hi._1, hi._2))))
      df.select(col("a") +: col("b") +: preds.map(expr): _*).collect().foreach { r =>
        val t = (r.getInt(0), r.getInt(1))
        his.zipWithIndex.foreach { case (hi, k) =>
          val want = Seq(ord.lt(t, lo), ord.gteq(t, lo) && ord.lt(t, hi), ord.gteq(t, hi))
          val got = (0 until 3).map(j => r.getBoolean(2 + 3 * k + j))
          assert(got == want, s"tuple $t lo=$lo hi=$hi")
        }
      }
    }
    // and the rendered SQL references both bounds
    assert(DeletePlanner.rangePredicates(Seq("a", "b"),
      Seq(Seq(1, 2), Seq(3, 4)))(1) ==
      "((a > 1) OR (a = 1 AND b >= 2)) AND ((a < 3) OR (a = 3 AND b < 4))")
  }

  test("string PK values are SQL-quoted with escaping") {
    import spark.implicits._
    val preds = DeletePlanner.rangePredicates(Seq("k"), Seq(Seq("o'brien")))
    assert(preds.forall(_.contains("'o''brien'")))
    val keys = Seq("a", "o'brien", "o'brien2", "z").toDF("k")
    assert(preds.map(p => keys.filter(expr(p)).as[String].collect().toSeq) ==
      Seq(Seq("a"), Seq("o'brien", "o'brien2", "z")))
  }

  test("range predicates render temporal PK literals as JDBC escapes " +
      "and reject unsupported types") {
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.5")
    val d = java.sql.Date.valueOf("2024-03-01")
    val preds = DeletePlanner.rangePredicates(
      Seq("created_at", "day", "id"),
      Seq(Seq(ts, d, java.lang.Long.valueOf(7L))))
    assert(preds.size == 2)
    assert(preds.head.contains("{ts '2024-03-01 12:30:45.5'}"))
    assert(preds.head.contains("{d '2024-03-01'}"))
    assert(preds.head.contains("id < 7"))
    // a bare toString would silently produce broken SQL — reject instead
    intercept[IllegalArgumentException] {
      DeletePlanner.rangePredicates(Seq("pk"),
        Seq(Seq(new java.math.BigInteger("1").toByteArray)))
    }
  }
}
