package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkTestBase, Tables}

/** ANN semantics for the hash/argmin-defined paths without SQL oracles. */
class SimilaritySpec extends SparkTestBase {

  private def topk(name: String): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, sfDir)
      .orderBy("query_id", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSeq }

  test("sim_hard_negatives: every negative has a different label than its " +
      "query; k per query; ranks are the label-filtered cosine order") {
    val e = Tables(spark, sfDir, "embeddings")
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("sim_hard_negatives")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, n, _) =>
      assert(labels(q) != labels(n),
        s"query $q (label ${labels(q)}) got same-label negative $n")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length == 3 && rs.map(_._3).sorted.sameElements(Seq(1L, 2L, 3L)),
        s"query $q: ranks ${rs.map(_._3).toSeq}")
    }
  }

  test("ivf_assign: every vector gets exactly one centroid") {
    val out = SparkEntry.queries("ivf_assign")(spark, sfDir)
    val n = Tables(spark, sfDir, "embeddings").count()
    assert(out.count() == n)
    assert(out.select("vec_id").distinct().count() == n)
    // all 10 label-centroids are used (random data spreads assignments)
    assert(out.select("centroid").distinct().count() > 1)
  }

  test("ANN family shares ONE persisted IVF-assign stage; no centroid " +
      "aggregate is re-planned outside the cache") {
    val (c1, a1) = SimilarityQueries.sharedStages(spark, sfDir)
    val (c2, a2) = SimilarityQueries.sharedStages(spark, sfDir)
    assert((c1 eq c2) && (a1 eq a2), "sharedStages must memoize per (session, dir)")
    assert(c1.storageLevel.useMemory && a1.storageLevel.useMemory,
      "shared stages must be persisted")
    // r3 finding: sim_ann_ivf planned the posexplode centroid aggregate
    // 2-4x per query. Now the only posexplode lives inside the cached
    // stage — the query's own physical tree has NO Generate node and
    // reads the assignment via InMemoryTableScan.
    for (q <- Seq("ivf_assign", "sim_ann_ivf", "sim_ann_ivf_probe2",
        "sim_recall_at_k")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      assert(plan.collectWithSubqueries {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.isEmpty, s"$q re-plans an explode outside the cached stage:\n$plan")
      assert(plan.toString.contains("InMemoryTableScan"),
        s"$q does not read the shared cached stage:\n$plan")
    }
  }

  test("sim_ann_ivf returns ranked neighbors from the query's bucket only") {
    val assign = SparkEntry.queries("ivf_assign")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sfDir).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(assign(r.getLong(0)) == assign(r.getLong(1)),
        s"neighbor from a different bucket: $r")
    }
  }

  test("sim_range_search: exactly the in-bucket pairs with cosine >= 0.3, " +
      "and the threshold clears float noise on the fixture") {
    val e = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val assign = SparkEntry.queries("ivf_assign")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val expected = (for {
      q <- e.keys if q < 10
      c <- e.keys if c >= 10 && assign(q) == assign(c)
      s = cos(e(q), e(c)) if s >= 0.3
    } yield (q, c)).toSet
    // every candidate pair's cosine sits well away from the 0.3 bar, so
    // engine-order float drift cannot flip membership
    val minMargin = (for {
      q <- e.keys if q < 10
      c <- e.keys if c >= 10 && assign(q) == assign(c)
    } yield math.abs(cos(e(q), e(c)) - 0.3)).min
    assert(minMargin > 1e-4, s"threshold margin too tight: $minMargin")
    val got = SparkEntry.queries("sim_range_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("sim_ann_hamming: 5 ranked rows per query, hamming non-decreasing " +
      "in rank, and sign-bit recall beats chance against brute force") {
    val rows = SparkEntry.queries("sim_ann_hamming")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q: ${rs.length} rows")
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).sameElements(1L to 5L))
      assert(byRank.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
        s"query $q: hamming not monotone in rank")
    }
    val brute = topk("sim_topk_bruteforce")
    val overlap = rows.count { case (q, n, _, _) => brute(q).contains(n) }
    // random top-5 of ~490 would overlap ~0.5 of 50; sign bits carry
    // real cosine signal, so demand clearly-above-chance agreement
    assert(overlap >= 3, s"hamming/bruteforce overlap only $overlap of 50")
  }

  test("multi-probe IVF recall dominates single-probe (superset candidates)") {
    val brute = topk("sim_topk_bruteforce")
    def recall(m: Map[Long, Seq[Long]]): Int = m.map { case (q, ns) =>
      brute.get(q).map(b => ns.count(b.contains)).getOrElse(0)
    }.sum
    val r1 = recall(topk("sim_ann_ivf"))
    val r2 = recall(topk("sim_ann_ivf_probe2"))
    // probing 2 buckets can only widen the candidate set, so true-top-5
    // recovery can't drop; on this fixture it strictly improves for at
    // least one query or stays equal
    assert(r2 >= r1, s"probe2 recall $r2 < probe1 recall $r1")
  }

  test("vec_kmeans_step: per-centroid means cover every assigned vector " +
      "exactly once, all dims present") {
    val out = SparkEntry.queries("vec_kmeans_step")(spark, sfDir).collect()
    val nVecs = Tables(spark, sfDir, "embeddings").count()
    val dims = out.map(_.getInt(1)).distinct
    assert(dims.length == 64 && dims.min == 0 && dims.max == 63)
    // each vector contributes one value per dim: Σ n over (centroid, dim)
    // = 64 · |corpus|, and per-dim membership sums to the corpus size
    assert(out.map(_.getLong(3)).sum == 64L * nVecs)
    val perDim = out.groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(perDim.values.forall(_ == nVecs))
  }

  private def vecsDf = Tables(spark, sfDir, "embeddings")
    .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")

  test("trainCoarseQuantizer: objective is non-increasing per Lloyd iteration") {
    val seed = SimilarityQueries.sharedStages(spark, sfDir)._1
    val k = seed.count().toInt
    val js = (0 to 3).map { iters =>
      objectiveOn(vecsDf, Similarity.trainCoarseQuantizer(
        vecsDf, k, maxIter = iters, tol = 0.0, init = Some(seed)))
    }
    js.sliding(2).foreach { case Seq(a, b) =>
      // 1e-9 relative slack for the 1e-6 component quantization
      assert(b <= a * (1 + 1e-9) + 1e-9, s"objective increased: $js")
    }
    assert(js.last < js.head, s"training never improved the objective: $js")
  }

  test("trainCoarseQuantizer: fixture training empties no cluster " +
      "(what keeps the reseed-free vec_kmeans_train2 oracle faithful)") {
    val seed = SimilarityQueries.sharedStages(spark, sfDir)._1
    val k = seed.count().toInt
    val trained = Similarity.trainCoarseQuantizer(
      vecsDf, k, maxIter = 2, tol = 0.0, init = Some(seed))
    assert(trained.count() == k)
    val counts = Similarity.ivfAssign(vecsDf, trained)
      .groupBy("centroid").count().collect()
    assert(counts.length == k, s"empty cluster after training: only " +
      s"${counts.length} of $k populated")
  }

  test("trainCoarseQuantizer: empty cluster reseeds deterministically " +
      "from the farthest-point vector") {
    import spark.implicits._
    val data = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.2, 0.0)), (2L, Seq(10.0, 10.0)))
      .toDF("vec_id", "v")
    // seed B is so far away that round 1 assigns everything to A → B
    // empties → reseed from the farthest point (vec 2 at [10,10])
    val init = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1000.0, 1000.0)))
      .toDF("c_label", "c")
    val trained = Similarity.trainCoarseQuantizer(
      data, k = 2, maxIter = 2, tol = 0.0, init = Some(init))
      .orderBy("c_label").collect()
    assert(trained.length == 2)
    val a = trained(0).getSeq[Double](1)
    val b = trained(1).getSeq[Double](1)
    // after the reseed + one more re-mean: A = mean of {v0, v1}, B = v2
    assert(a == Seq(0.1, 0.0), s"cluster A: $a")
    assert(b == Seq(10.0, 10.0), s"cluster B: $b")
  }

  private def objectiveOn(df: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): Double =
    df.crossJoin(broadcast(cent))
      .withColumn("dist2", col("cnorm2") -
        lit(2) * graft.functions.SketchExpressions.dot_product(col("v"), col("c")) +
        expr("aggregate(v, 0D, (a, x) -> a + x * x)"))
      .groupBy("vec_id").agg(min("dist2").as("d"))
      .agg(sum("d")).head().getDouble(0)

  test("seedCentroids (k-means||): deterministic, and training from it " +
      "beats the lowest-id seed on planted clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 6 well-separated planted clusters in 8-d; vec_ids are ordered so
    // the k lowest ids ALL land in cluster 0 — the naive seed's worst case
    val centers = (0 until 6).map(c => Array.fill(8)(c * 10.0 + rnd.nextDouble()))
    val df = (0 until 300).map { i =>
      (i.toLong, centers(i / 50).map(x => x + rnd.nextGaussian() * 0.1).toSeq)
    }.toDF("vec_id", "v")
    val seeded = Similarity.seedCentroids(df, k = 6, rounds = 3)
    // determinism: bit-identical on recompute
    val a = seeded.orderBy("c_label").collect().map(_.toSeq)
    val b = Similarity.seedCentroids(df, k = 6, rounds = 3)
      .orderBy("c_label").collect().map(_.toSeq)
    assert(a.sameElements(b), "k-means|| seeding is not deterministic")
    assert(a.length == 6)
    val viaPar = Similarity.trainCoarseQuantizer(df, 6, maxIter = 5,
      tol = 0.0, init = Some(seeded))
    val viaNaive = Similarity.trainCoarseQuantizer(df, 6, maxIter = 5, tol = 0.0)
    val jPar = objectiveOn(df, viaPar)
    val jNaive = objectiveOn(df, viaNaive)
    assert(jPar < jNaive,
      s"k-means|| seed ($jPar) did not beat the lowest-id seed ($jNaive)")
    // with one seed per planted cluster the SSE is just the noise floor:
    // 300 pts x 8 dims x 0.1^2 variance ~ 24; degenerate seeding is
    // orders of magnitude worse
    assert(jPar < 100.0, s"k-means|| landed off the planted structure: $jPar")
  }

  test("ivfTopKWithRecall raises the probe count until a 0.95 target is " +
      "met (boundary query needs its neighbor's bucket → nprobe 2 ≤ 3)") {
    import spark.implicits._
    // two planted clusters; the query sits between them, assigned to A,
    // but its nearest neighbor lives in B's bucket: single-probe recall
    // is 2/3, probing the 2nd-nearest centroid recovers 3/3
    val q = Seq((0L, Seq(1.9, 0.0))).toDF("query_id", "va")
    val c = Seq(
      (10L, Seq(0.0, 1.0)),   // A
      (11L, Seq(0.0, -1.0)),  // A
      (12L, Seq(2.5, 0.0)))   // B (closest to q)
      .toDF("neighbor_id", "vb")
    val cent = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(4.0, 0.0)))
      .toDF("c_label", "c")
      .withColumn("cnorm2", expr("aggregate(c, 0D, (a, x) -> a + x * x)"))
    val assign = Similarity.ivfAssign(
      c.select(col("neighbor_id").as("vec_id"), col("vb").as("v")), cent)
    val out = Similarity.ivfTopKWithRecall(q, c, cent, assign,
      k = 3, target = 0.95, sampleSize = 4, maxProbe = 8)
    assert(out.nprobe == 2, s"expected the loop to settle at 2 probes, " +
      s"got ${out.nprobe}")
    assert(out.recall == 1.0, s"recall at 2 probes: ${out.recall}")
    val got = out.results.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 10L), (0L, 11L), (0L, 12L)))
  }

  test("ivfTopKWithRecall on the fixture reports honestly: random " +
      "embeddings cap recall near nprobe/k, so a capped loop stops at " +
      "maxProbe with the measured sub-target recall") {
    // the fixture's embeddings are isotropic noise (within-label cosine ≈
    // cross-label ≈ 0), so bucket membership carries no neighbor signal
    // and recall ≈ nprobe/10 — the adaptive loop must cap out and say so,
    // not fake the target
    val e = vecsDf
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("va"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"))
    val (cent, assign) = SimilarityQueries.sharedStages(spark, sfDir)
    val out = Similarity.ivfTopKWithRecall(q, c, cent, assign,
      k = 3, target = 0.95, sampleSize = 10, maxProbe = 2)
    assert(out.nprobe == 2, "loop must stop at maxProbe when unreachable")
    assert(out.recall < 0.95, s"random data can't hit 0.95 at 2/10 buckets")
    assert(out.recall > 0.0, "some overlap is expected even at random")
    // reported recall must equal a hand recount over the full result set
    // (the sample IS the full query set here)
    val truth = Similarity.bruteForceTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.results.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recount = truth.count(got.contains).toDouble / truth.size
    assert(math.abs(recount - out.recall) < 1e-12,
      s"reported ${out.recall}, recounted $recount")
  }

  test("sim_recall_at_k ≡ hand-computed overlap of IVF vs brute force") {
    val brute = topk("sim_topk_bruteforce").map { case (q, ns) =>
      q -> ns.take(3).toSet // truth at k=3
    }
    val ivf = topk("sim_ann_ivf")
    val got = SparkEntry.queries("sim_recall_at_k")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == brute.keySet, "one recall row per query")
    got.foreach { case (q, (hits, truth)) =>
      assert(truth == 3L, s"query $q truth size $truth != 3")
      val expected = ivf.getOrElse(q, Seq.empty).count(brute(q).contains).toLong
      assert(hits == expected, s"query $q: got $hits hits, expected $expected")
      assert(hits >= 0L && hits <= 3L)
    }
  }

  test("lsh ANN candidates overlap brute-force top-5 (sanity recall)") {
    val brute = topk("sim_topk_bruteforce")
    val lsh = topk("sim_ann_lsh")
    // every LSH-returned neighbor list is ordered and self-free
    lsh.foreach { case (q, ns) =>
      assert(!ns.contains(q))
      assert(ns.distinct == ns)
    }
    // at least some queries recover a true top-5 neighbor (random data:
    // LSH buckets are coarse; this is a sanity floor, not a quality bar)
    val hits = lsh.count { case (q, ns) =>
      brute.get(q).exists(b => ns.exists(b.contains))
    }
    assert(hits >= 1, s"no overlap at all between LSH and brute force: $lsh")
  }

  test("PQ ADC search returns ranked, self-free neighbors with sane recall") {
    val pq = topk("sim_ann_pq")
    assert(pq.nonEmpty && pq.forall(_._2.size == 5))
    pq.foreach { case (q, ns) =>
      assert(!ns.contains(q))
      assert(ns.distinct == ns)
    }
    // codes are 4 coarse labels — like LSH this is a sanity floor: some
    // queries must recover a true top-5 neighbor
    val brute = topk("sim_topk_bruteforce")
    val hits = pq.count { case (q, ns) =>
      brute.get(q).exists(b => ns.exists(b.contains))
    }
    assert(hits >= 1, s"no overlap between PQ ADC and brute force: $pq")
  }

  test("vec_pca_power_iter ≡ plain-Scala w = Eᵀ(E·1) with identical quantization") {
    val out = SparkEntry.queries("vec_pca_power_iter")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val vecs = Tables(spark, sfDir, "embeddings")
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).map(_.toDouble))
    val dims = vecs.head.length
    val expect = Array.fill(dims)(0L)
    vecs.foreach { v =>
      val sv = v.foldLeft(0.0)(_ + _) // same left fold as the SQL aggregate()
      var d = 0
      while (d < dims) {
        expect(d) += math.floor(sv * v(d) * 1e6 + 0.5).toLong
        d += 1
      }
    }
    assert(out.size == dims)
    (0 until dims).foreach { d =>
      assert(out(d) == ((expect(d), vecs.length.toLong)),
        s"dim $d: got ${out(d)}, want (${expect(d)}, ${vecs.length})")
    }
  }

  test("centroid assignment plans one narrow map: ivfAssign, " +
      "ivfAssignN(2) and pqAssign run no window, exchange or nested-loop join") {
    val cent = Similarity.meanCentroids(Tables(spark, sfDir, "embeddings")
      .selectExpr("label", "transform(embedding, x -> cast(x as double)) AS v"))
    for ((name, df) <- Seq(
        "ivfAssign" -> Similarity.ivfAssign(vecsDf, cent),
        "ivfAssignN(2)" -> Similarity.ivfAssignN(vecsDf, cent, 2),
        "pqAssign" -> Similarity.pqAssign(vecsDf, cent, blocks = 4, dim = 64))) {
      assert(df.count() > 0, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      Seq("WindowExec", "Window ", "Exchange", "BroadcastNestedLoopJoin",
          "CartesianProduct").foreach { op =>
        assert(!plan.contains(op), s"$name plans $op:\n$plan")
      }
    }
  }

  test("a NULL vector, a NULL element or a wrong length fails the " +
      "assignment loudly, naming the vec_id") {
    import spark.implicits._
    val cent = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("c_label", "c")
      .withColumn("cnorm2", expr("aggregate(c, 0D, (a, x) -> a + x * x)"))
    val ok = Seq(1.0, 0.0, 0.0)
    val bad: Seq[(String, Option[Seq[java.lang.Double]])] = Seq(
      "NULL" -> None,
      "NULL element" -> Some(Seq[java.lang.Double](null, 1.0, 0.0)),
      "short" -> Some(Seq[java.lang.Double](0.0, 1.0)),
      "long" -> Some(Seq[java.lang.Double](0.0, 1.0, 0.0, 0.0)))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for ((what, v) <- bad) {
      val vecs = Seq((1L, Some(ok.map(Double.box))), (7L, v)).toDF("vec_id", "v")
      for ((name, run) <- Seq[(String, () => Unit)](
          "ivfAssign" -> (() => Similarity.ivfAssign(vecs, cent).collect()),
          "ivfAssignN" -> (() => Similarity.ivfAssignN(vecs, cent, 2).collect()),
          "pqAssign" -> (() => Similarity.pqAssign(vecs, cent, 1, 3).collect()))) {
        val e = intercept[Exception](run())
        assert(messages(e).contains("vec_id=7"),
          s"$name on a $what vector: the error does not name vec_id=7: ${messages(e)}")
      }
    }
  }
}
