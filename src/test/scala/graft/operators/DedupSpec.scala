package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.functions.SketchExpressions.{minhash_sig, simhash64}

/** Semantics of the hash-defined dedup operators (the ones without a SQL
  * oracle): MinHash-LSH recall against exact n-gram Jaccard, SimHash
  * stability, signature determinism. */
class DedupSpec extends SparkTestBase {

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntryPairs(name)

  private def SparkEntryPairs(name: String): Set[(Long, Long)] =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH finds every exact-jaccard pair on the fixture (recall 1.0)") {
    val exact = pairs("dedup_ngram_jaccard")
    val lsh = pairs("dedup_minhash_lsh")
    // LSH output is exact-verified, so it is a subset of the exact pairs…
    assert(lsh.subsetOf(exact))
    // …and on the fixture the 8×4 banding recalls all of them.
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("decon_fuzzy_minhash: every flagged pair clears jaccard >= 1/2 " +
      "exactly; an exact benchmark copy injected into train is flagged") {
    val rows = graft.SparkEntry.queries("decon_fuzzy_minhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "fixture should contain natural cross near-dups")
    rows.foreach { case (d, b, i, nt, nb) =>
      assert(d >= 50 && b < 50, s"sides crossed: train $d bench $b")
      assert(3 * i >= nt + nb, s"($d,$b): 3*$i < $nt+$nb — below threshold")
      assert(i <= math.min(nt, nb), s"($d,$b): intersection exceeds a side")
    }
    // synthesized leak: a benchmark doc MASS-duplicated into train (30
    // verbatim copies — all sharing one MinHash signature, so they pile
    // into the same band buckets) must be flagged copy-for-copy; a
    // bucket cap here would silently drop exactly the worst leak,
    // which is why decontaminateFuzzy deliberately has none
    val d = Tables(spark, sfDir, "documents")
    val bench = d.filter(col("doc_id") < 50)
    val copies = (0 until 30).map(i => lit(90000L + i)).toArray
    val train = d.filter(col("doc_id") >= 50).select("doc_id", "text")
      .unionAll(bench.filter(col("doc_id") === 7)
        .select(explode(array(copies: _*)).as("doc_id"), col("text")))
    val flagged = Curation.decontaminateFuzzy(train, bench, "doc_id", "text")
      .filter(col("doc_id") >= 90000L).collect()
    assert(flagged.length == 30 &&
      flagged.forall(_.getLong(1) == 7L),
      s"mass-duplicated leak not fully flagged: ${flagged.length}/30")
  }

  test("simhash: identical texts collide, hamming filter is symmetric-free (a<b)") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "the quick brown fox", "totally different words here")
      .toDF("text")
      .select(simhash64(array_distinct(split(lower(col("text")), "\\s+"))).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(java.lang.Long.bitCount(hs(0) ^ hs(2)) > 16)
    val out = graft.SparkEntry.queries("dedup_simhash")(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall { case (a, b) => a < b })
    assert(out.distinct.length == out.length)
  }

  test("minhash signature: deterministic, monotone under containment noise") {
    import spark.implicits._
    val sig = Seq(Seq("ab", "bc", "cd"), Seq("ab", "bc", "cd"), Seq("xy"))
      .toDF("sh").select(minhash_sig(col("sh"), 8).as("s")).collect()
      .map(_.getSeq[Long](0))
    assert(sig(0) == sig(1))
    assert(sig(0) != sig(2))
    assert(sig(0).length == 8)
  }

  test("cluster family (cc / stats / keep_best) shares ONE persisted " +
      "CC-labels stage") {
    val a = DedupQueries.ccLabels(spark, sfDir)
    val b = DedupQueries.ccLabels(spark, sfDir)
    assert(a eq b, "ccLabels must memoize per (session, dir)")
    assert(a.storageLevel.useMemory, "shared CC labels must be persisted")
    // consumers read the cached stage instead of re-running label rounds
    for (q <- Seq("dedup_cluster_stats", "dedup_keep_best")) {
      val plan = graft.SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan
      assert(plan.toString.contains("InMemoryTableScan"),
        s"$q does not read the shared CC-labels stage:\n$plan")
    }
  }

  test("dedup_exact groups every document exactly once") {
    val out = graft.SparkEntry.queries("dedup_exact")(spark, sfDir)
    val total = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == Tables(spark, sfDir, "documents").count())
  }

  test("connectedComponents: a 200-node chain converges within maxIter " +
      "(pointer jumping — pure edge propagation would need 200 rounds)") {
    import spark.implicits._
    val verts = (0L until 200L).toDF("id")
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.connectedComponentsCounted(verts, edges)
    assert(labels.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(labels.count() == 200)
    // round-count pin: propagate+jump collapses a diameter-d path in
    // O(log d) rounds — exactly 8 on this 200-chain (7 changing + 1
    // confirming). Pure edge propagation would need 199 rounds and a
    // broken probe would stop at 1; pinning the exact count also
    // catches any refactor that shifts the label trajectory.
    assert(rounds == 8, s"expected 8 rounds, got $rounds")
  }

  test("semanticClusters bucketCap: an oversized bucket skips pairing, " +
      "its members stay singletons") {
    import spark.implicits._
    val vectors = Seq(
      (1L, Seq(1.0, 0.0), 0), (2L, Seq(0.99, 0.01), 0), (3L, Seq(0.98, 0.02), 0),
      (7L, Seq(0.0, 1.0), 1), (9L, Seq(0.01, 1.0), 1))
      .toDF("vec_id", "v", "label")
    val cent = Similarity.meanCentroids(vectors.select(col("label"), col("v")))
    val got = Dedup.semanticClusters(vectors.select("vec_id", "v"), cent,
        tau = 0.9, bucketCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // bucket 0 has 3 members (> cap) → no pairs there; bucket 1 (2 ≤ cap)
    // still clusters normally
    assert(got == Set(
      (1L, 1L, true), (2L, 2L, true), (3L, 3L, true),
      (7L, 7L, true), (9L, 7L, false)))
  }

  test("containmentPairs: doc-inside-doc found where symmetric jaccard misses") {
    import spark.implicits._
    val small = "the quick brown fox jumps over the lazy dog"
    // varied filler → many distinct shingles: small is fully contained
    // but the union is dominated by the big doc, diluting jaccard
    val big = small + " " + (0 until 120).map(i => f"tok$i%03d").mkString(" ")
    val docsDf = Seq((1L, small), (2L, big), (3L, "completely unrelated text here"))
      .toDF("doc_id", "text")
    // symmetric jaccard at 3/8 misses the pair (intersection is tiny vs union)
    val jac = Dedup.jaccardPairs(docsDf, "doc_id", "text", dfCap = 1000)
    assert(jac.count() == 0)
    // containment of the smaller side is ~1.0 → found, and the small doc
    // is named as the contained (droppable) one
    val con = Dedup.containmentPairs(docsDf, "doc_id", "text", dfCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(con.toSeq == Seq((1L, 2L, 1L)))
  }

  test("semanticClusters: transitive near-dups share a cluster, bucket " +
      "boundary separates, keep marks the min id") {
    import spark.implicits._
    // two well-separated directions; label = the direction family
    val vectors = Seq(
      (1L, Seq(1.0, 0.0), 0),   // 1 ~ 2 ~ 3 chain: cos(1,3) = 0.92 < tau,
      (2L, Seq(0.9, 0.1), 0),   //   so only transitivity groups all three
      (3L, Seq(0.7, 0.3), 0),
      (7L, Seq(0.0, 1.0), 1),   // other bucket
      (9L, Seq(0.05, 1.0), 1))  // near 7 → clusters with it
      .toDF("vec_id", "v", "label")
    val cent = Similarity.meanCentroids(vectors.select(col("label"), col("v")))
    val got = Dedup.semanticClusters(vectors.select("vec_id", "v"), cent, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (7L, 7L, true), (9L, 7L, false)))
  }
}
