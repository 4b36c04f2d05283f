package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Randomized (seeded) cross-checks of the subtle library compositions
  * against naive O(n²) references — the properties that must hold on
  * ANY input, not just the driver fixture. A handful of seeded corpora
  * per test keeps the Spark round-trips bounded. */
class PipelinePropertySpec extends SparkTestBase {

  test("AsOf.join ≡ naive latest-at-or-before scan on random event sets") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val lefts = (0 until 40).map(i =>
        (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(100).toLong))
      // distinct (key, time) on the right so "latest" is unambiguous
      val rights = rnd.shuffle(
        (for (k <- 0L until 6L; t <- 0L until 100L) yield (k, t)).toList)
        .take(60).map { case (k, t) => (k, t, k * 1000 + t) }
      val l = lefts.toDF("lid", "k", "lt")
      val r = rights.toDF("k", "rt", "v")
      val got = AsOf.join(l, r, Seq("k"), "lt", "rt", Seq("v"))
        .select("lid", "v")
        .collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      val expect = graft.AsOfReference.scan(l, r, Seq("k"), "lt", "rt", Seq("v"))
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(3)) None else Some(row.getLong(3)))).toMap
      assert(got == expect, s"seed $seed")
    }
  }

  test("Ids.cumulativeSum ≡ driver-side running sum on random weights, " +
      "asc and desc order, across partition boundaries") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 500).map(i => (i.toLong, rnd.nextInt(100).toLong))
      val df = rows.toDF("id", "w").repartition(7) // scramble layout
      for (desc <- Seq(false, true)) {
        val order = if (desc) Seq(col("id").desc) else Seq(col("id"))
        val got = Ids.cumulativeSum(df, order, col("w"))
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        val sorted = if (desc) rows.sortBy(-_._1) else rows
        val expect = sorted.scanLeft((Long.MinValue, 0L)) {
          case ((_, acc), (id, w)) => (id, acc + w)
        }.drop(1).toMap
        assert(got == expect, s"seed $seed desc=$desc")
      }
    }
  }

  test("Ids.cumulativeMin ≡ driver-side running min on random values, " +
      "negatives and nulls included, across partition boundaries") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 500).map { i =>
        (i.toLong,
          if (rnd.nextInt(10) == 0) None
          else Some(rnd.nextInt(2000).toLong - 1000L))
      }
      val df = rows.toDF("id", "v").repartition(7)
      val got = Ids.cumulativeMin(df, Seq(col("id")), col("v"))
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val expect = rows.scanLeft((Long.MinValue, Option.empty[Long])) {
        case ((_, acc), (id, v)) =>
          (id, (acc.toSeq ++ v.toSeq).reduceOption(_ min _))
      }.drop(1).toMap
      assert(got == expect, s"seed $seed")
    }
  }

  test("RewriteWindowTopK ≡ window form on random keys/order/k/conjuncts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val card = 2 + rnd.nextInt(7)
      val n = 100 + rnd.nextInt(150)
      val df = (0 until n).map { i =>
        (rnd.nextInt(card).toLong, s"g${rnd.nextInt(3)}",
          rnd.nextInt(50).toLong, (rnd.nextInt(1000) - 500).toLong, i.toLong)
      }.toDF("k1", "k2", "v1", "v2", "uid")
      val keys = if (rnd.nextBoolean()) Seq("k1") else Seq("k1", "k2")
      // 1-2 random-direction sort columns + uid → always a total order
      val sorts = Seq(
        if (rnd.nextBoolean()) col("v1").asc else col("v1").desc,
        if (rnd.nextBoolean()) col("v2").asc else col("v2").desc)
      val order = (if (rnd.nextBoolean()) sorts.take(1) else sorts) :+ col("uid")
      val k = 1 + rnd.nextInt(6)
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      val bound = if (rnd.nextBoolean()) col("rn") <= k else col("rn") < (k + 1)
      // random residual conjuncts that must survive above the heap node
      val cond = rnd.nextInt(3) match {
        case 0 => bound
        case 1 => bound && col("rn") >= 2
        case 2 => bound && col("v1") % 2 === 0
      }
      val form = df.withColumn("rn", row_number().over(w)).filter(cond)
      val rewritten = graft.plans.TopK.rewrite(form)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"seed $seed: rewrite did not fire\n$plan")
      assert(!plan.contains("WindowExec") && !plan.contains("WindowGroupLimit"),
        s"seed $seed: window machinery survived\n$plan")
      val a = rewritten.collect().map(_.toSeq).sortBy(_.toString())
      val b = form.collect().map(_.toSeq).sortBy(_.toString())
      assert(a.length == b.length && a.sameElements(b),
        s"seed $seed: ${a.length} vs ${b.length} rows (keys=$keys k=$k)")
    }
  }

  test("TopK sort-degrade ≡ heap path ≡ window form under random caps " +
      "(mixed heap/sort partitions in one query)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(100 + seed)
      val nKeys = 50 + rnd.nextInt(400)
      val n = 1000 + rnd.nextInt(2000)
      val parts = 1 + rnd.nextInt(5)
      val df = (0 until n).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(1000).toLong, i.toLong)
      }.toDF("k", "v", "uid").repartition(parts)
      val k = 1 + rnd.nextInt(4)
      // cap somewhere between "every partition overflows" and "none do"
      val cap = 1 + rnd.nextInt(nKeys)
      val got = graft.plans.TopKPerKeySpec.withKeyCap(
          graft.plans.TopK.perKey(df, Seq("k"), Seq(col("v").desc, col("uid")), k),
          cap)
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
      val w = Window.partitionBy("k").orderBy(col("v").desc, col("uid"))
      val want = df.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
      assert(got == want,
        s"seed $seed (keys=$nKeys cap=$cap parts=$parts k=$k): " +
          s"${got.length} vs ${want.length} rows")
    }
  }

  test("ivfAssignNarrow ≡ ivfAssign on random vectors and centroids") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val dim = 1 + rnd.nextInt(16)
      val vecs = (0 until 200).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toDF("vec_id", "v")
      val cents = (0 until 1 + rnd.nextInt(9)).map(c =>
        (c.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toDF("c_label", "c")
        .withColumn("cnorm2", expr("aggregate(c, 0D, (a, x) -> a + x * x)"))
      val wide = Similarity.ivfAssign(vecs, cents)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val narrow = Similarity.ivfAssignNarrow(vecs, cents)
        .select("vec_id", "centroid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(narrow == wide, s"seed $seed: kernels diverged")
    }
  }

  test("Dedup.jaccardPairs ≡ naive pairwise jaccard on random corpora") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // ≤ 25 docs from a tiny alphabet → shingle df ≤ 25 < dfCap, so the
      // candidate stage is provably lossless and equality must be exact
      val docs = (0 until 25).map { i =>
        val len = 4 + rnd.nextInt(12)
        (i.toLong, (0 until len).map(_ => "abc" (rnd.nextInt(3))).mkString)
      }
      def shingles(s: String): Set[String] =
        if (s.length < 3) Set.empty
        else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
      val expect = (for {
        a <- docs; b <- docs if a._1 < b._1
        sa = shingles(a._2); sb = shingles(b._2)
        if 8 * (sa & sb).size >= 3 * (sa.size + sb.size)
      } yield (a._1, b._1)).toSet
      val got = Dedup.jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect, s"seed $seed")
    }
  }
}
