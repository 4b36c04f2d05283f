package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The reusable pipeline APIs (Dedup / Similarity / AsOf) on synthetic,
  * non-fixture data with arbitrary column names — the "a user points
  * this at their own tables" contract, independent of the oracle gate. */
class LibraryApiSpec extends SparkTestBase {

  test("AsOf.join: equal-ts right row visible, carry-forward, null when none") {
    import spark.implicits._
    val purchases = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 10L, "c"))
      .toDF("k", "t", "tag")
    val quotes = Seq((1L, 10L, 100.0), (1L, 1L, 50.0), (3L, 2L, 7.0))
      .toDF("k", "qt", "price")
    val got = AsOf.join(purchases, quotes, Seq("k"), "t", "qt", Seq("price"))
      .select("tag", "price").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got == Map(
      "a" -> Some(100.0), // quote AT the purchase time is visible
      "b" -> Some(50.0),  // carry-forward from t=1
      "c" -> None))       // key 2 has no quotes at all
  }

  test("AsOf.joinNearest: picks the closer side, ties prefer backward, " +
      "one-sided groups still match") {
    import spark.implicits._
    val purchases = Seq((1L, 10L, "a"), (1L, 16L, "b"), (2L, 5L, "c"),
        (3L, 9L, "d"), (4L, 1L, "e"))
      .toDF("k", "t", "tag")
    val quotes = Seq((1L, 7L, 70.0), (1L, 12L, 120.0), // a: |10-7|=3 > |12-10|=2 → 120
        (2L, 50L, 500.0),                              // c: only forward → 500
        (3L, 6L, 60.0), (3L, 12L, 121.0))              // d: |9-6|=3 == |12-9|=3 → tie → backward 60
      .toDF("k", "qt", "price")
    val got = AsOf.joinNearest(purchases, quotes, Seq("k"), "t", "qt", Seq("price"))
      .select("tag", "price").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got == Map(
      "a" -> Some(120.0), // forward row is closer
      "b" -> Some(120.0), // backward row is closer
      "c" -> Some(500.0), // nothing behind — forward match
      "d" -> Some(60.0),  // exact tie → earlier (backward) row
      "e" -> None))       // key 4 has no quotes
  }

  test("AsOf helpers keep user columns named like their internals intact " +
      "(collision-free temp names)") {
    import spark.implicits._
    // hostile names: every historical helper-column name appears as data
    val purchases = Seq((1L, 10L, "keep_t", "keep_mt", 7L))
      .toDF("k", "t", "_t", "_mt", "_neg_t")
    val quotes = Seq((1L, 5L, 50.0, "keep_bt"))
      .toDF("k", "qt", "price", "_b_t")
    val viaJoin = AsOf.join(purchases, quotes, Seq("k"), "t", "qt", Seq("price"))
    assert(viaJoin.columns.toSet ==
      Set("k", "t", "_t", "_mt", "_neg_t", "price"))
    val r1 = viaJoin.collect()(0)
    assert(r1.getAs[String]("_t") == "keep_t" &&
      r1.getAs[String]("_mt") == "keep_mt" &&
      r1.getAs[Long]("_neg_t") == 7L &&
      r1.getAs[Double]("price") == 50.0)
    val viaNearest = AsOf.joinNearest(
      purchases.drop("_mt"), quotes, Seq("k"), "t", "qt", Seq("price"))
    val r2 = viaNearest.collect()(0)
    assert(viaNearest.columns.toSet == Set("k", "t", "_t", "_neg_t", "price"))
    assert(r2.getAs[String]("_t") == "keep_t" &&
      r2.getAs[Double]("price") == 50.0)
    // the tolerance path carries the matched time under a fresh name
    val viaTolerance = AsOf.join(purchases, quotes, Seq("k"), "t", "qt",
      Seq("price"), maxLookback = Some(lit(5L)))
    assert(viaTolerance.columns.toSeq == viaJoin.columns.toSeq)
    assert(viaTolerance.collect()(0) == r1)
    // the forward path negates both times under fresh names
    val viaForward = AsOf.joinForward(purchases,
      quotes.withColumn("qt", lit(15L)), Seq("k"), "t", "qt", Seq("price"))
    assert(viaForward.columns.toSeq == viaJoin.columns.toSeq)
    assert(viaForward.collect()(0) == r1)
    // a rightVals/left collision now fails fast instead of corrupting
    val e = intercept[IllegalArgumentException] {
      AsOf.join(purchases, quotes.withColumnRenamed("price", "t"),
        Seq("k"), "t", "qt", Seq("t"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("AsOf.join: NULL right value is carried as NULL; multi-col values " +
      "come from the same matched row") {
    import spark.implicits._
    val purchases = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "t", "tag")
    // t=5 has (price=50, venue=X); t=15 has (price=NULL, venue=Y): the
    // match at t=20 must yield (NULL, Y) — not mix in t=5's price.
    val quotes = Seq(
      (1L, 5L, Some(50.0), "X"),
      (1L, 15L, None: Option[Double], "Y")
    ).toDF("k", "qt", "price", "venue")
    val got = AsOf.join(purchases, quotes, Seq("k"), "t", "qt",
      Seq("price", "venue"))
      .select("tag", "price", "venue").collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1))), r.getString(2)))
      .toMap
    assert(got == Map(
      "a" -> (Some(50.0), "X"),
      "b" -> (None, "Y"))) // NULL preserved, venue from the SAME row
  }

  test("AsOf.joinForward: earliest at-or-after wins; equal-ts matches; " +
      "no future row → NULL") {
    import spark.implicits._
    val purchases = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 10L, "c"),
        (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 3L, 30.0),
        (3L, 7L, 70.0))
      .toDF("k", "qt", "price")
    val got = AsOf.joinForward(purchases, quotes, Seq("k"), "t", "qt",
        Seq("price"))
      .select("tag", "price").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(
      "a" -> Some(100.0), // quote AT the purchase time is visible
      "b" -> Some(100.0), // earliest of the two future quotes
      "c" -> None,        // key 2's only quote is in the past
      "d" -> Some(70.0))) // exact-time match
  }

  test("AsOf.join maxLookback: stale matches null out, fresh ones survive") {
    import spark.implicits._
    val purchases = Seq((1L, 12L, "near"), (1L, 30L, "stale"))
      .toDF("k", "t", "tag")
    val quotes = Seq((1L, 10L, 100.0)).toDF("k", "qt", "price")
    val got = AsOf.join(purchases, quotes, Seq("k"), "t", "qt",
        Seq("price"), maxLookback = Some(lit(5L)))
      .select("tag", "price").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map("near" -> Some(100.0), "stale" -> None))
  }

  test("AsOf.join maxLookback on TimestampType times takes an INTERVAL") {
    import spark.implicits._
    import java.sql.Timestamp.{valueOf => ts}
    val purchases = Seq((1L, ts("2024-01-01 10:03:00"), "near"),
        (1L, ts("2024-01-01 10:05:00"), "edge"),
        (1L, ts("2024-01-01 10:30:00"), "stale"))
      .toDF("k", "t", "tag")
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 100.0))
      .toDF("k", "qt", "price")
    val got = AsOf.join(purchases, quotes, Seq("k"), "t", "qt",
        Seq("price"), maxLookback = Some(expr("INTERVAL 5 MINUTES")))
      .select("tag", "price").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(
      "near" -> Some(100.0),
      "edge" -> Some(100.0), // exactly maxLookback old still matches
      "stale" -> None))
  }

  test("Dedup.minhashLshPairs rejects numHashes not divisible by bands") {
    import spark.implicits._
    val docs = Seq((1L, "some text here")).toDF("rid", "body")
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, "rid", "body", numHashes = 32, bands = 10)
    }
  }

  test("Dedup.connectedComponents labels every vertex with the min " +
      "reachable id (chains, cliques, singletons)") {
    import spark.implicits._
    // components: {1,2,3,4} via a chain, {10,11} via one edge, {20} alone
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 3L), (3L, 4L), (1L, 2L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("Ids.contiguous ≡ global row_number, without the global sort") {
    val df = spark.range(1000).select((col("id") * 7919 % 1000).as("k"))
      .distinct() // unique keys, scrambled order
    val got = Ids.contiguous(df, Seq("k"), numPartitions = 8)
    // dense 0-based, ordered by k
    val rows = got.orderBy("k").collect()
    assert(rows.map(_.getLong(1)).toSeq == (0L until rows.length).toSeq)
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sorted.toSeq)
    // scale shape: range exchange present, no single-partition global window
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"))
  }

  test("Ids.worthMaterializing counts a join that sits only in a scalar " +
      "subquery") {
    spark.range(50).createOrReplaceTempView("wm_a")
    spark.range(50).createOrReplaceTempView("wm_b")
    try {
      val df = spark.sql("SELECT id, (SELECT max(a.id) FROM wm_a a " +
        "JOIN wm_b b ON a.id = b.id) AS m FROM range(10)")
      assert(!Ids.worthMaterializing(spark.range(10).toDF()))
      assert(Ids.worthMaterializing(df),
        df.queryExecution.optimizedPlan.toString)
    } finally Seq("wm_a", "wm_b").foreach(spark.catalog.dropTempView)
  }

  test("Curation.tokenBudgetSelect ranks fractional quality scores at full " +
      "precision (classifier-score shape) and NULL token counts add zero") {
    import spark.implicits._
    // quality 0.91 must outrank 0.9 — an integer cast would collapse all
    // of these to 0 and degenerate the selection to id order
    val docs = Seq(
      (1L, 0.90, 60L), (2L, 0.91, 60L), (3L, 0.10, 60L), (4L, 0.95, 60L)
    ).toDF("doc_id", "q", "n")
    val got = Curation.tokenBudgetSelect(docs, "doc_id",
        quality = col("q"), tokens = col("n"), budget = 120L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(4L, 2L), s"best-first prefix wrong: $got")
    // quality keeps its fractional type end to end
    val schema = Curation.tokenBudgetSelect(docs, "doc_id",
      quality = col("q"), tokens = col("n"), budget = 120L).schema
    assert(schema("quality").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // a NULL token count contributes 0 to the running total (documented
    // cumulativeSum behavior), so it rides along without inflating cum
    val withNull = Seq((1L, 1.0, Some(100L)), (2L, 0.9, None),
      (3L, 0.8, Some(100L))).toDF("doc_id", "q", "n")
    val rows = Curation.tokenBudgetSelect(withNull, "doc_id",
        quality = col("q"), tokens = col("n"), budget = 200L)
      .select("doc_id").as[Long].collect().toSet
    assert(rows == Set(1L, 2L, 3L), s"null-weight handling changed: $rows")
  }

  test("Dedup.incrementalExact: exact result — bloom FPs verified away") {
    import spark.implicits._
    val known = (0 until 500).map(i => (i.toLong, s"known document $i"))
      .toDF("rid", "body")
    val fresh = Seq((1000L, "known document 42"), (1001L, "brand new text"),
      (1002L, "known document 7"), (1003L, "also new here"))
      .toDF("rid", "body")
    // tiny filter + high fpp to force false positives through the bloom
    // stage — the exact semi join must still drop them
    val got = Dedup.incrementalExact(fresh, known, "rid", "body",
        expectedKnown = 10L, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1000L, 1002L))
  }

  test("Dedup.exact and jaccardPairs on arbitrary columns") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"), // exact dup of 10
      (12L, "the quick brown fox jumps over the lazy cat"), // near dup
      (13L, "completely different content here")
    ).toDF("rid", "body")
    val exact = Dedup.exact(docs, "rid", "body")
    assert(exact.count() == 3)
    assert(exact.filter(col("n_copies") === 2).select("keep_id")
      .collect()(0).getLong(0) == 10L)
    val pairs = Dedup.jaccardPairs(docs, "rid", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)) && pairs.contains((10L, 12L)) &&
      pairs.contains((11L, 12L)))
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("Similarity.bruteForceTopK ranks by cosine with id tiebreak") {
    import spark.implicits._
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("query_id", "va")
    val c = Seq(
      (1L, Seq(1.0, 0.0)),   // cos 1.0
      (2L, Seq(1.0, 1.0)),   // cos ~0.707
      (3L, Seq(0.0, 1.0)),   // cos 0.0
      (4L, Seq(2.0, 0.0))    // cos 1.0 — ties with 1, id breaks
    ).toDF("neighbor_id", "vb")
    val got = Similarity.bruteForceTopK(q, c, k = 3)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 4L, 2L))
  }

  test("Curation.split: deterministic, content-keyed, respects percentages") {
    import spark.implicits._
    val docs = (0 until 500).map(i => (i.toLong, s"document body number $i"))
      .toDF("id", "body")
    val once = docs.withColumn("split", Curation.split(col("body")))
    val again = docs.withColumn("split", Curation.split(col("body")))
    // deterministic: identical assignment on recompute
    assert(once.except(again).count() == 0 && again.except(once).count() == 0)
    // identical text → identical split regardless of id (leak-safety)
    val dup = Seq((9000L, "document body number 7")).toDF("id", "body")
      .withColumn("split", Curation.split(col("body")))
    val orig = once.filter(col("id") === 7).select("split").collect()(0).getString(0)
    assert(dup.select("split").collect()(0).getString(0) == orig)
    // roughly 80/10/10 (hash buckets: allow wide tolerance)
    val counts = once.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 300 && counts.getOrElse("val", 0L) > 10 &&
      counts.getOrElse("test", 0L) > 10)
  }

  test("Similarity.pqAssign codes each sub-block by its nearest sub-centroid") {
    import spark.implicits._
    // dim 4, 2 blocks of 2: vector halves are near different codebook rows
    val vectors = Seq((1L, Seq(0.1, 0.1, 0.9, 1.0)), (2L, Seq(1.0, 0.9, 0.0, 0.1)))
      .toDF("vec_id", "v")
    val centroids = Seq(("lo", Seq(0.0, 0.0, 0.0, 0.0)), ("hi", Seq(1.0, 1.0, 1.0, 1.0)))
      .toDF("c_label", "c")
    val got = Similarity.pqAssign(vectors, centroids, blocks = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got == Map(
      (1L, 0L) -> "lo", (1L, 1L) -> "hi",   // v1: low half, high half
      (2L, 0L) -> "hi", (2L, 1L) -> "lo"))  // v2: the reverse
  }

  test("Similarity.ivfAssign picks the nearest centroid by L2") {
    import spark.implicits._
    val vectors = Seq(
      (1L, Seq(0.1, 0.0)), (2L, Seq(0.9, 1.1)), (3L, Seq(0.0, 0.2)))
      .toDF("vec_id", "v")
    val centroids = Seq(("lo", Seq(0.0, 0.0)), ("hi", Seq(1.0, 1.0)))
      .toDF("c_label", "c")
      .withColumn("cnorm2", expr("aggregate(c, 0D, (a, x) -> a + x * x)"))
    val got = Similarity.ivfAssign(vectors, centroids)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "lo", 2L -> "hi", 3L -> "lo"))
  }

  test("Similarity.ivfPqTopK probes only the query's bucket and ranks by ADC") {
    import spark.implicits._
    // dim 2, 2 blocks of 1; codebook lo=(0,0), hi=(1,1).
    // Corpus (pre-assigned codes + coarse bucket):
    //   n1=(0.1,0.1) → bucket lo, codes (lo,lo); ADC to q: 0.2²+0² = 0.04
    //   n3=(0.1,0.8) → bucket lo, codes (lo,hi); ADC: 0.2²+1²   = 1.04
    //   n2=(0.9,0.9) → bucket hi — must be excluded by the bucket probe
    val queries = Seq((0L, Seq(0.2, 0.0), "lo")).toDF("query_id", "va", "centroid")
    val codes = Seq(
      (1L, 0L, "lo", "lo"), (1L, 1L, "lo", "lo"),
      (3L, 0L, "lo", "lo"), (3L, 1L, "hi", "lo"),
      (2L, 0L, "hi", "hi"), (2L, 1L, "hi", "hi"))
      .toDF("neighbor_id", "block", "code", "centroid")
    val centroids = Seq(("lo", Seq(0.0, 0.0)), ("hi", Seq(1.0, 1.0)))
      .toDF("c_label", "c")
    val got = Similarity.ivfPqTopK(queries, codes, centroids,
        blocks = 2, dim = 2, k = 3)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L), (3L, 2L)))
  }

  test("TextAnalysis.redactPii masks emails, IPs, and phones; counts match") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b+c@ex-1.org or 10.0.0.1 tel 555-1234 end"),
      (2L, "no pii here, just 1234 and a dot."),
      (3L, "two mails x@y.io z@w.co and 999-0000"))
      .toDF("id", "s")
      .select(col("id"), TextAnalysis.redactPii(col("s")).as("red"),
        TextAnalysis.piiCounts(col("s")).as("c"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getStruct(2).getLong(0), r.getStruct(2).getLong(1),
        r.getStruct(2).getLong(2))).toMap
    assert(rows(1L) == (("mail [EMAIL] or [IP] tel [PHONE] end", 1L, 1L, 1L)))
    assert(rows(2L) == (("no pii here, just 1234 and a dot.", 0L, 0L, 0L)))
    assert(rows(3L) == (("two mails [EMAIL] [EMAIL] and [PHONE]", 2L, 0L, 1L)))
  }

  test("TextAnalysis.wordNgrams: adjacency, lowercasing, short-text empty") {
    import spark.implicits._
    val got = Seq("A b c d", "one two", "solo", "")
      .toDF("s").select(TextAnalysis.wordNgrams(col("s"), 3).as("g"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("a b c", "b c d"), Nil, Nil, Nil))
  }

  test("Curation.decontaminate flags only true k-shingle overlaps") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta"),
      (2L, "delta epsilon zeta eta")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "x alpha beta gamma y"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "totally different words here"))
      .toDF("doc_id", "text")
    val got = Curation.decontaminate(train, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // bench shingle sets: doc1 {alpha beta gamma, beta gamma delta},
    // doc2 {delta epsilon zeta, epsilon zeta eta}. doc10 hits one shingle
    // of bench1; doc11 hits two shingles, both from bench1; doc12 none.
    assert(got == Map(10L -> ((1L, 1L)), 11L -> ((2L, 1L))))
  }

  test("RangeJoin.pointInInterval ≡ naive non-equi join, incl. negative coords") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = (0 until 300).map(i => (i.toLong, rnd.nextLong() % 1000))
      .toDF("pid", "p")
    val ivs = (0 until 40).map { i =>
      val lo = rnd.nextLong() % 900
      (i.toLong, lo, lo + rnd.nextInt(200))
    }.toDF("iid", "lo", "hi")
    val naive = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(7L, 64L, 1000L)) {
      val binned = RangeJoin.pointInInterval(pts, ivs, "p", "lo", "hi", w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(binned.length == binned.toSet.size, s"duplicate pairs at width $w")
      assert(binned.toSet == naive, s"mismatch at width $w")
    }
  }

  test("RangeJoin.intervalOverlap ≡ naive overlap join, exactly-once pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def ivs(n: Int, tag: String) = (0 until n).map { i =>
      val lo = rnd.nextLong() % 500
      (i.toLong, lo, lo + rnd.nextInt(150))
    }.toDF(s"${tag}id", s"${tag}lo", s"${tag}hi")
    val a = ivs(200, "a"); val b = ivs(30, "b")
    val naive = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(11L, 128L, 1000L)) {
      val binned = RangeJoin.intervalOverlap(a, b, "alo", "ahi", "blo", "bhi", w)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(binned.length == binned.toSet.size, s"duplicate pairs at width $w")
      assert(binned.toSet == naive, s"mismatch at width $w")
    }
  }

  test("Layout.zValue interleaves bits (a even, b odd) — known values") {
    import spark.implicits._
    val got = Seq((3L, 1L), (0L, 0L), (5L, 2L), (65535L, 0L))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 16).as("z"))
      .collect().map(_.getLong(0)).toList
    // (a=0b11, b=0b01) → a bits at 0,2 (1+4) + b bit at 1 (2) = 7
    // (a=0b101, b=0b010) → a: 1+16; b: 8 → 25
    // a=0xFFFF → even positions of 32 bits set = 0x55555555
    assert(got == List(7L, 0L, 25L, 0x55555555L))
  }

  test("CurationPipeline.curate: stages compose, counts monotone, train leak-free") {
    val docs = graft.Tables(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") < 50)
    val train = docs.filter(col("doc_id") >= 50)
    val (packed, report) = CurationPipeline.curate(
      train, bench, "doc_id", "text", "source",
      minChars = 50, minTokens = 5)
    val byStage = report.map(r => r.stage -> r.rows).toMap
    // counts only shrink until packing re-expands
    assert(byStage("input") >= byStage("deduped"))
    assert(byStage("deduped") >= byStage("quality"))
    assert(byStage("quality") >= byStage("decontaminated"))
    assert(byStage("decontaminated") >= byStage("train"))
    assert(byStage("train") > 0 && packed.count() == byStage("packed_spans"))
    // decontamination removed the docs the standalone check flags
    val flagged = Curation.decontaminate(train, bench, "doc_id", "text", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val packedDocs = packed.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(flagged.intersect(packedDocs).isEmpty, "contaminated doc packed")
    // packed spans tile: per-doc spans start at 0 and are contiguous
    val spans = packed.orderBy("doc_id", "tok_from").collect()
      .groupBy(_.getLong(1)).values
    spans.foreach { rows =>
      assert(rows.head.getLong(3) == 0L)
      rows.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(4) == b.getLong(3))
        case _ =>
      }
    }
  }

  test("CurationPipeline.curate decontamMode: drop-rule strictness nests " +
      "(overlap drops ⊇ fuzzy drops ⊇ exact drops); bad mode rejected") {
    val docs = graft.Tables(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") < 50)
    // train side seeded with one verbatim and one truncated bench copy
    // so every mode has something to catch
    val train = docs.filter(col("doc_id") >= 50).select("doc_id", "text", "source")
      .unionAll(bench.filter(col("doc_id") === 3)
        .select(lit(91000L).as("doc_id"), col("text"), col("source")))
      .unionAll(bench.filter(col("doc_id") === 5)
        .select(lit(91001L).as("doc_id"),
          expr("substring(text, 1, cast(length(text) * 0.8 as int))").as("text"),
          col("source")))
    def decontaminated(mode: String): Long =
      CurationPipeline.curate(train, bench, "doc_id", "text", "source",
        minChars = 50, minTokens = 5, decontamMode = mode)
        ._2.find(_.stage == "decontaminated").get.rows
    val (ov, fz, ex) = (decontaminated("overlap"), decontaminated("fuzzy"),
      decontaminated("exact"))
    // stricter rule drops more, so fewer survive
    assert(ov <= fz && fz <= ex, s"nesting violated: $ov <= $fz <= $ex")
    // exact catches the verbatim copy but not the truncated one; fuzzy
    // catches both — strictly between exact and overlap on this seed
    assert(ex > fz, "fuzzy should drop the truncated near-dup exact keeps")
    intercept[IllegalArgumentException] {
      CurationPipeline.curate(train, bench, "doc_id", "text", "source",
        decontamMode = "typo")
    }
  }

  test("Curation.packSequences: full sequences, spans partition each doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, ("a " * 100).trim, "g"), (2L, ("b " * 200).trim, "g"),
      (3L, ("c " * 300).trim, "g"), (4L, ("d " * 50).trim, "h"))
      .toDF("doc_id", "text", "source")
    val got = Curation.packSequences(docs, "doc_id", "text", "source", 256L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // doc spans must tile the doc exactly: per doc, spans are contiguous
    // from 0 to n_tokens
    val byDoc = got.groupBy(_._2).view.mapValues(_.sortBy(_._4)).toMap
    assert(byDoc(1L).map(s => (s._4, s._5)).toSeq == Seq((0L, 100L)))
    assert(byDoc(2L).map(s => (s._4, s._5)).toSeq == Seq((0L, 156L), (156L, 200L)))
    // group g axis: doc1 [0,100) doc2 [100,300) doc3 [300,600); 256-token
    // cuts at 256 and 512 split doc2 at in-doc 156 and doc3 at 212
    assert(byDoc(3L).map(s => (s._4, s._5)).toSeq == Seq((0L, 212L), (212L, 300L)))
    // every sequence but the last per group is exactly seqLen full
    val bySeq = got.groupBy(g => (g._1, g._3))
      .view.mapValues(_.map(s => s._5 - s._4).sum).toMap
    val lastSeq = Map("g" -> bySeq.keys.filter(_._1 == "g").map(_._2).max,
      "h" -> bySeq.keys.filter(_._1 == "h").map(_._2).max)
    bySeq.foreach { case ((g, seq), tot) =>
      if (seq != lastSeq(g)) assert(tot == 256L, s"sequence ($g,$seq) not full: $tot")
      else assert(tot <= 256L)
    }
  }

  test("Curation.temperatureSample keeps the max domain whole and flattens the rest") {
    import spark.implicits._
    // domain "big": 400 docs, "small": 4 docs → small keeps ~sqrt(4/400)=10%
    val docs = ((0 until 400).map(i => (i.toLong, s"big doc $i", "big")) ++
      (0 until 4).map(i => (i + 1000L, s"small doc $i", "small")))
      .toDF("doc_id", "text", "domain")
    val kept = Curation.temperatureSample(docs, "text", "domain")
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // max domain: bucket < 1000 always true → all 400 kept
    assert(kept("big") == 400L)
    // small domain: keep iff b² · 400 < 10⁶ · 4 ⇔ b < 100 — expected ~10%
    // of 4 docs; exact membership is content-hash determined, just assert
    // the bound: strictly fewer than the big domain's full retention rate
    assert(kept.getOrElse("small", 0L) <= 2L)
    // determinism: identical on recompute
    val again = Curation.temperatureSample(docs, "text", "domain")
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == kept)
  }

  test("Dedup.keepBest: highest score wins per cluster, ties take lowest id, " +
      "singletons keep themselves") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (7L, 7L), (9L, 7L),                          // cluster 7
      (5L, 5L))                                    // singleton
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 10L), (2L, 40L), (3L, 40L), // tie at 40 → id 2
      (7L, 3L), (9L, 8L), (5L, 1L))
      .toDF("doc_id", "score")
    val got = Dedup.keepBest(labels, quality, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 40L, 3L)),  // tie on score → lowest doc_id
      7L -> ((9L, 8L, 2L)),   // strictly best score
      5L -> ((5L, 1L, 1L))))  // singleton
  }

  test("Dedup.keepBest: members missing from quality still count; " +
      "unscored clusters fall back to min id") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), // 3 only partially scored
      (8L, 8L), (9L, 8L))                          // fully unscored cluster
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "score") // no 3, 8, 9
    val got = Dedup.keepBest(labels, quality, "doc_id", "score").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, Some(9L), 3L)), // unscored member counted, can't win
      8L -> ((8L, None, 2L))))    // all-null → min id, null score
  }

  test("AsOf.join: a NULL right time NEVER matches, even when it is the " +
      "only right row for the key (≡ naive as-of scan)") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "t", "tag")
    // key 1: ONLY a null-time quote; key 2: null-time plus a real quote
    val right = Seq((1L, Option.empty[Long], 50.0),
      (2L, Option.empty[Long], 70.0), (2L, Some(5L), 20.0))
      .toDF("k", "qt", "price")
    val viaMerge = AsOf.join(left, right, Seq("k"), "t", "qt", Seq("price"))
      .select("tag", "price").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(viaMerge == Map(
      "a" -> None,        // the NULL-time row must not be carried
      "b" -> Some(20.0))) // the real quote wins, not the NULL-time one
    val naive = graft.AsOfReference.scan(
        left, right, Seq("k"), "t", "qt", Seq("price"))
      .map(r => r.getString(2) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(viaMerge == naive, "merge join and the naive scan must agree")
  }

  test("float/double grouping keys are rejected by the custom operators " +
      "(-0.0/NaN would split key groups)") {
    import spark.implicits._
    val df = Seq((0.0, 1L, 10L), (-0.0, 2L, 20L)).toDF("fk", "t", "v")
    val e1 = intercept[IllegalArgumentException] {
      graft.plans.TopK.perKey(df, Seq("fk"), Seq(col("v")), k = 1)
    }
    assert(e1.getMessage.contains("float/double"))
    val e2 = intercept[IllegalArgumentException] {
      AsOf.join(df, df.select(col("fk"), col("t").as("rt"),
        col("v").as("rv")), Seq("fk"), "t", "rt", Seq("rv"))
    }
    assert(e2.getMessage.contains("float/double"))
  }

  test("shingle-less and token-less docs never pair: minhash sentinel " +
      "signatures and zero simhashes are filtered before banding") {
    import spark.implicits._
    // 'ab'/'xy' are shorter than the 3-char shingle width — without the
    // guard they'd share the all-sentinel signature and verify vacuously
    val docs = Seq((1L, "ab"), (2L, "xy"), (3L, "completely different body"),
      (4L, "completely different body!")).toDF("id", "body")
    val mh = Dedup.minhashLshPairs(docs, "id", "body").collect()
    assert(!mh.exists(r => Set(r.getLong(0), r.getLong(1)).subsetOf(Set(1L, 2L))),
      s"short docs paired: ${mh.mkString(",")}")
    // token-less docs (punctuation only) all simhash to 0 — must not pair
    val tdocs = Seq((1L, "..."), (2L, "!!!"), (3L, "real words here"))
      .toDF("id", "body")
    val sh = Dedup.simhashPairs(tdocs, "id",
      expr("filter(split(lower(body), '\\\\s+'), x -> x rlike '[a-z]')"))
      .collect()
    assert(sh.isEmpty, s"token-less docs paired: ${sh.mkString(",")}")
  }

  test("Dedup.incrementalExact raises the runtime bloom caps so corpus-scale " +
      "sizing is honored (no silent clamp to the 4M/67M defaults)") {
    import spark.implicits._
    val known = Seq((1L, "doc a"), (2L, "doc b")).toDF("id", "body")
    val fresh = Seq((10L, "doc a"), (11L, "doc c")).toDF("id", "body")
    // expectedKnown above the 4M-item default; numBits ≈ 76.7M > 67.1M
    val out = Dedup.incrementalExact(fresh, known, "id", "body",
      expectedKnown = 8000000L)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(10L))
    assert(spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
      >= 8000000L)
    assert(spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
      >= 76000000L)
  }

  test("Curation.decontaminateExact: catches case/whitespace-mangled copies, " +
      "passes genuinely novel docs") {
    import spark.implicits._
    val bench = Seq((1L, "the quick brown fox"), (2L, "hello world"))
      .toDF("id", "body")
    val train = Seq(
      (10L, "THE  quick   Brown fox "), // mangled copy of bench 1
      (11L, "hello world"),             // verbatim copy of bench 2
      (12L, "hello worlds"),            // near, but NOT a match
      (13L, "completely different"),
      (14L, "hello world\n"),           // trailing newline — still a copy
      (15L, "\tthe quick\tbrown fox"))  // tabs — still a copy
      .toDF("id", "body")
    val hits = Curation.decontaminateExact(train, bench, "id", "body")
      .select("id").as[Long].collect().toSet
    assert(hits == Set(10L, 11L, 14L, 15L))
  }

  test("GraftSession.release drops the ANN shared-stage cache: no cached " +
      "blocks survive, a later call recomputes fresh frames") {
    val (cent, assign) = SimilarityQueries.sharedStages(spark, sfDir)
    cent.count(); assign.count() // materialize the cache
    assert(cent.storageLevel.useMemory && assign.storageLevel.useMemory)
    graft.GraftSession.release(spark)
    assert(cent.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "centroid stage still cached after release")
    assert(assign.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "assignment stage still cached after release")
    // next call is a fresh entry, itself persisted (cache re-arms)
    val (cent2, assign2) = SimilarityQueries.sharedStages(spark, sfDir)
    assert(!(cent2 eq cent) && !(assign2 eq assign))
    assert(cent2.storageLevel.useMemory && assign2.storageLevel.useMemory)
  }

  test("GraftSession.release also drops the graph and dedup-CC caches") {
    val adj = GraphQueries.coAdj(spark, sfDir)
    val labels = DedupQueries.ccLabels(spark, sfDir)
    adj.count(); labels.count()
    assert(adj.storageLevel.useMemory && labels.storageLevel.useMemory)
    graft.GraftSession.release(spark)
    assert(adj.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "graph adjacency still cached after release")
    assert(labels.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "CC labels still cached after release")
    val adj2 = GraphQueries.coAdj(spark, sfDir)
    assert(!(adj2 eq adj) && adj2.storageLevel.useMemory)
  }

  test("Curation.epochMix: whole epochs replicate exactly, fractional part " +
      "is deterministic, downsampled groups shrink") {
    import spark.implicits._
    val docs = ((0 until 100).map(i => (i.toLong, s"hot doc $i", "hot")) ++
      (0 until 100).map(i => (i + 1000L, s"cold doc $i", "cold")))
      .toDF("doc_id", "text", "src")
    val out = Curation.epochMix(docs, "doc_id", "src", "text",
      Map("hot" -> 2300, "cold" -> 250))
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // hot: every doc twice (200) plus ~30% once more; cold: ~25% once
    assert(bySrc("hot") >= 200L && bySrc("hot") < 300L)
    assert(bySrc.getOrElse("cold", 0L) < 100L)
    // every hot doc appears at least twice with dense copy_ids 0..n-1
    val hotCopies = out.filter(col("src") === "hot")
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("copy_id").as("mx"))
      .collect()
    assert(hotCopies.length == 100)
    hotCopies.foreach { r =>
      assert(r.getLong(1) >= 2L && r.getLong(2) == r.getLong(1) - 1)
    }
    // determinism
    assert(Curation.epochMix(docs, "doc_id", "src", "text",
      Map("hot" -> 2300, "cold" -> 250)).count() == out.count())
  }

  test("Curation.modelQualityScore: deterministic stub-weight scorer; " +
      "scores bounded in [0, 1e6]; numFeatures bounds the weight table") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 50)
    val out = Curation.modelQualityScore(docs, "doc_id", "text",
      numFeatures = 64)
    val rows = out.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val (nToks, scoreQ, pass) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(nToks > 0)
      assert(scoreQ >= 0L && scoreQ <= 1000000L, s"score out of range: $r")
      assert(pass == (if (scoreQ >= 500000L) 1L else 0L))
    }
    // pure function of content: a rerun is bit-identical
    val again = Curation.modelQualityScore(docs, "doc_id", "text",
      numFeatures = 64).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // coarser hash space changes scores (the knob is live), same schema
    val coarse = Curation.modelQualityScore(docs, "doc_id", "text",
      numFeatures = 8)
    assert(coarse.columns.toSeq == out.columns.toSeq)
    assert(coarse.count() == 50)
  }

  test("Ids.cumulativeSums: N weights in one pass == N single-weight calls") {
    import spark.implicits._
    val df = (0 until 300).map(i =>
      (i.toLong, (i * 7 % 13).toLong, (i * 3 % 5).toLong))
      .toDF("k", "wa", "wb").repartition(7)
    val both = Ids.cumulativeSums(df, Seq(col("k")),
        Seq(col("wa") -> "ca", col("wb") -> "cb"),
        totals = Map("ca" -> "ta", "cb" -> "tb"))
      .select("k", "ca", "cb", "ta", "tb")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val one = Ids.cumulativeSum(df, Seq(col("k")), col("wa"), "ca",
        totalName = Some("ta"))
      .select("k", "ca", "ta").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(both.map(r => (r._1, r._2, r._4)).toSeq == one.toSeq)
    // the second weight's running sum and total are independent and exact
    var run = 0L
    for ((row, i) <- both.zipWithIndex) {
      run += (i * 3 % 5).toLong
      assert(row._3 == run, s"cb at k=$i")
      assert(row._5 == (0 until 300).map(j => (j * 3 % 5).toLong).sum)
    }
  }

  test("Stats.bootstrapCi: exact totals, CI brackets the mean, " +
      "deterministic across runs and partitionings") {
    import spark.implicits._
    // 400 synthetic measurements, ids disjoint from any fixture
    val rows = (0 until 400).map(i => (s"m$i", (500 + (i * 37) % 1000).toLong))
    val df = rows.toDF("measure_id", "val_cents")
    val r = Stats.bootstrapCi(df, "measure_id", "val_cents").collect()(0)
    val n = rows.length.toLong
    val s = rows.map(_._2).sum
    assert(r.getLong(0) == n, "n_rows")
    assert(r.getLong(1) == s, "sum_cents")
    assert(r.getLong(2) == s * 1000000L / n, "mean_micro exact integral division")
    val (lo, hi, boot) = (r.getLong(4), r.getLong(5), r.getLong(3))
    assert(lo < boot && boot < hi, s"boot mean $boot outside CI [$lo, $hi]")
    assert(lo < r.getLong(2) && r.getLong(2) < hi,
      s"true mean ${r.getLong(2)} outside CI [$lo, $hi]")
    // resampling weights are content-keyed → identical on a reshuffled input
    val r2 = Stats.bootstrapCi(df.repartition(13), "measure_id", "val_cents")
      .collect()(0)
    assert(r.toSeq == r2.toSeq, "bootstrap not deterministic under repartition")
  }

  test("Stats.hll: estimate within HLL tolerance on a known cardinality; " +
      "shard-merged registers ≡ whole-corpus registers (the 100 TB merge)") {
    import spark.implicits._
    val keys = (0 until 5000).map(i => s"user-$i")
    val df = (keys ++ keys).toDF("uid") // duplicates must not move the sketch
    val est = Stats.hllEstimate(df, col("uid")).collect()(0).getLong(2)
    // m=256 → relative SE ≈ 1.04/√256 ≈ 6.5%; 3σ bound ≈ 20%
    assert(math.abs(est / 1000.0 - 5000.0) < 1000.0,
      s"estimate ${est / 1000.0} vs true 5000")
    // small-range linear counting: 12 distinct → exact (all registers hit once)
    val small = (0 until 12).map(i => s"k$i").toDF("uid")
    val estSmall = Stats.hllEstimate(small, col("uid")).collect()(0).getLong(2)
    assert(math.abs(estSmall - 12000L) <= 300L,
      s"linear-counting estimate $estSmall vs 12000")
    // shard merge: registers from two disjoint halves, merged by MAX,
    // estimate EQUALS the whole-corpus estimate bit-for-bit
    val h1 = keys.take(2500).toDF("uid")
    val h2 = keys.drop(2500).toDF("uid")
    val merged = Stats.hllEstimateFromRegisters(
      Stats.hllRegisters(h1, col("uid")).unionAll(Stats.hllRegisters(h2, col("uid")))
        .groupBy("reg").agg(max("rho").as("rho")))
      .collect()(0)
    val whole = Stats.hllEstimate(keys.toDF("uid"), col("uid")).collect()(0)
    assert(merged.toSeq == whole.toSeq, "shard-merge ≠ whole-corpus")
  }

  test("Stats.kaplanMeier: hand-computed risk table on synthetic lifetimes " +
      "with churned and censored users") {
    import spark.implicits._
    val base = 1000000000000000000L // epoch nanos anchor
    val H = 3600000000000L          // 1 hour of nanos
    val D = 86400000000000L         // 1 day of nanos
    // uA, uB: 1-hour lifetimes ending 100 days before max → churned
    // uC: 2-hour lifetime, same era → churned
    // uD: 30-min lifetime ending AT the corpus max → censored
    val ev = Seq(
      ("uA", base), ("uA", base + H),
      ("uB", base), ("uB", base + H + 1L),
      ("uC", base), ("uC", base + 2 * H),
      ("uD", base + 100 * D - H / 2), ("uD", base + 100 * D)
    ).toDF("uid", "event_ns")
    val km = Stats.kaplanMeier(ev, "uid", "event_ns")
      .orderBy("t_hour").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // t=0: uD censored, 4 at risk, S stays 1.0
    // t=1: uA,uB churn of 3 at risk → S = 1/3 → 333333 ppm
    // t=2: uC churns, last at risk → S = 0
    assert(km.toSeq == Seq(
      (0L, 4L, 0L, 1L, 1000000L),
      (1L, 3L, 2L, 0L, 333333L),
      (2L, 1L, 1L, 0L, 0L)), km.mkString(", "))
  }

  test("Curation.dsirScore: target-only vocabulary scores positive, " +
      "raw-only negative, selection flag matches the sign") {
    import spark.implicits._
    // two disjoint vocabularies: target docs speak only 'alpha beta',
    // raw docs only 'gamma delta' — λ must be positive for target
    // tokens and negative for raw-only tokens
    val docs = ((0 until 20).map(i => (i.toLong, "alpha beta alpha", "tgt")) ++
      (20 until 60).map(i => (i.toLong, "gamma delta gamma", "raw")))
      .toDF("id", "body", "kind")
    val scored = Curation.dsirScore(docs, "id", "body",
        col("kind") === "tgt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(scored.length == 60, "one row per input doc")
    for ((id, nToks, micro, sel) <- scored) {
      assert(nToks == 3L, s"doc $id token count")
      if (id < 20) assert(micro > 0L && sel == 1, s"target doc $id: $micro/$sel")
      else assert(micro < 0L && sel == 0, s"raw doc $id: $micro/$sel")
    }
  }

  test("GraphAnalytics.jaccardTopK: hand-computed wedge-join Jaccard on a " +
      "synthetic adjacency, deterministic order, k cap") {
    import spark.implicits._
    // node 1 ~ {10,11,12}; node 2 ~ {10,11}; node 3 ~ {12}
    // J(1,2) = 2/(3+2-2) = 2/3; J(1,3) = 1/(3+1-1) = 1/3; J(2,3) = 0 (absent)
    val adj = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (3L, 12L)).toDF("node", "nbr")
    val got = GraphAnalytics.jaccardTopK(adj, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
    assert(got.toSeq == Seq((1L, 2L, 666666L), (1L, 3L, 333333L)), got.mkString(", "))
    assert(GraphAnalytics.jaccardTopK(adj, k = 1).count() == 1L, "k cap")
  }

  test("GraphAnalytics.hits: hand-computed two-round hub/authority scores " +
      "on a tiny bipartite graph (integer L1 normalization)") {
    import spark.implicits._
    val e = Seq((100L, 200L, 2L), (100L, 201L, 1L), (101L, 200L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphAnalytics.hits(e)
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r.getLong(1)).toMap
    // a1: raw 3e6/1e6 → 750000/250000; h1: raw 1750000/750000 →
    // 700000/300000; a2: raw 1700000/700000 → 708333/291666
    assert(got == Map(
      (100L, "hub") -> 700000L, (101L, "hub") -> 300000L,
      (200L, "authority") -> 708333L, (201L, "authority") -> 291666L),
      got.toString)
  }

  test("GraphAnalytics.modularity: a perfectly-partitioned two-community " +
      "graph contributes 0.25 per community; a mixed partition scores lower") {
    import spark.implicits._
    // 1↔2 in community 0, 3↔4 in community 1 (directed both ways, w=1):
    // W=4, per community intra=2, d_c=2 → (2·4 − 4)/16 = 0.25
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 4L, 1L), (4L, 3L, 1L))
      .toDF("src", "dst", "w")
    val good = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("node", "comm")
    val gq = GraphAnalytics.modularity(e, good)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(gq == Map(0L -> 250000L, 1L -> 250000L), gq.toString)
    // every node in one community: Q = intra/W − (D/W)² = 1 − 1 = 0
    val mixed = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("node", "comm")
    val mq = GraphAnalytics.modularity(e, mixed)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(mq == Map(0L -> 0L), mq.toString)
  }

  test("TextAnalysis.dupSpans/dropDupSpans: hand-computed maximal spans " +
      "and exact-order text surgery on a synthetic corpus") {
    import spark.implicits._
    // 'p q r' shared by docs 1/2/4; 'q r s' shared by docs 1/4 —
    // adjacent in docs 1 and 4, so their windows coalesce there
    val docs = Seq(
      (1L, "p q r s t"),
      (2L, "z p q r w"),
      (3L, "m n o p q"),   // no shared trigram → untouched
      (4L, "h p q r s k")
    ).toDF("doc_id", "text")
    val spans = TextAnalysis.dupSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq(
      (1L, 0L, 3L, 2L),   // windows at 0,1 coalesce → tokens 0..3
      (2L, 1L, 3L, 1L),
      (4L, 1L, 4L, 2L)), spans.mkString(", "))
    val dropped = TextAnalysis.dropDupSpans(docs, "doc_id", "text")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(dropped.toSeq == Seq(
      (1L, 5L, 1L, "t"),
      (2L, 5L, 2L, "z w"),
      (3L, 5L, 5L, "m n o p q"),
      (4L, 6L, 2L, "h k")), dropped.mkString(", "))
  }

  test("TextAnalysis.languageId: stopword-profile argmax with list-order " +
      "tie priority and unk fallback, on synthetic texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog"),        // en
      (2L, "el perro y la casa de los"),  // es
      (3L, "der hund und die katze"),     // de
      (4L, "le chat et les oiseaux des"), // fr
      (5L, "zzz qqq xxx"),                // no profile word → unk
      (6L, "the el der le")               // one hit each → tie → en (priority)
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr",
      5L -> "unk", 6L -> "en"), got.toString)
  }
}
