package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SketchExpressions

/** Measured recall of the approximate candidate stages against EXACT
  * ground truth on a bounded stratum — the number PERF.md's scale claims
  * need: the banding s-curve / IVF bucketing arguments predict recall,
  * this measures it on real corpus content.
  *
  * Why a stratum: exact ground truth is all-pairs (O(N²)); at corpus
  * scale that is precisely what the LSH/IVF stages exist to avoid. A
  * production recall audit therefore samples a bounded stratum (a few
  * thousand docs), computes exact truth within it, and measures what
  * fraction of true pairs the approximate candidate generator would have
  * surfaced for those same documents. Both measurements here follow that
  * shape: the all-pairs stage is a DECLARED BOUNDED cross join (guarded
  * by `maxStratum`), exactly like the 300-vector exactness baseline in
  * SimilarityQueries — tooling/audit surface, never the scale path.
  *
  * Recall is of the CANDIDATE stage: both deployed pipelines
  * (`Dedup.minhashLshPairs`, `Dedup.semanticClustersAssigned`) apply an
  * exact verification predicate after candidate generation, so
  * end-to-end precision is 1.0 by construction and candidate recall IS
  * pipeline recall. */
object Recall {

  /** Largest stratum the all-pairs truth stage accepts: 5000 docs →
    * 12.5M candidate pairs before the threshold filter, comfortably a
    * single local job; anything bigger is a misuse of an audit tool. */
  val maxStratum = 5000

  private def guard(df: DataFrame, what: String): Unit = {
    val n = df.count()
    require(n <= maxStratum,
      s"$what stratum has $n rows (> $maxStratum): exact ground truth is " +
        "all-pairs — bound the stratum (e.g. id % k == 0) before auditing")
  }

  /** MinHash-LSH candidate recall vs exact n-gram Jaccard on `docs`
    * (pre-bounded stratum). Truth: all pairs with
    * den·|a∩b| ≥ num·(|a|+|b|) ⇔ jaccard ≥ num/(den−num) — the same
    * integer predicate `Dedup.verifyJaccard` deploys, on the same
    * shingle sets, so truth and pipeline agree on the threshold
    * definition exactly. Candidates: pairs agreeing on ≥ 1 of `bands`
    * MinHash bands (no bucket cap — caps are a scale guard; an audit
    * wants the uncapped generator's recall, and the stratum cannot hit
    * a 1000-doc bucket anyway).
    *
    * One row: (n_docs, n_truth, n_cand, n_hit, recall). recall is NULL
    * when the stratum holds no true pairs (no evidence ≠ recall 1.0). */
  def lshCandidateRecall(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      num: Int = 3, den: Int = 8): DataFrame = {
    guard(docs, "documents")
    val sets = Dedup.shingleSets(docs, idCol, textCol, n)
      .filter(size(col("shs")) > 0).persist()
    try {
      // exact truth: bounded all-pairs (broadcast one side), integer
      // Jaccard predicate identical to the deployed verifier
      val a = sets.select(col("doc_id").as("a_id"), col("shs").as("sa"))
      val b = sets.select(col("doc_id").as("b_id"), col("shs").as("sb"))
      val truth = a.join(broadcast(b), col("a_id") < col("b_id"))
        .filter(lit(den) * SketchExpressions.intersect_count(col("sa"), col("sb")) >=
          lit(num) * (size(col("sa")) + size(col("sb"))))
        .select("a_id", "b_id")
      val banded = Dedup.bandedMinhash(sets, numHashes, bands)
      val cand = banded.alias("x").join(banded.alias("y"), Seq("band", "sigh"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      score(sets.count(), truth, cand)
    } finally sets.unpersist(false)
  }

  /** IVF (SemDeDup coarse-quantizer) candidate recall vs exact cosine on
    * `vectors` (`vec_id`, `v`; pre-bounded stratum). Truth: all stratum
    * pairs with cosine ≥ tau (the deployed `dedup_semantic` threshold).
    * Candidates: pairs sharing ≥ 1 centroid bucket — the only pairs the
    * in-bucket cosine stage ever scores, so a true pair split across
    * buckets is unrecoverable and counts against recall.
    *
    * `assignment` is (vec_id, centroid) — pass the deployed shared-stage
    * single assignment to audit `dedup_semantic` as served, or a
    * multi-probe assignment (`Similarity.ivfAssignN`, one row per
    * (vec_id, probed centroid)) to measure the recall the nprobe dial
    * buys: a pair is then a candidate when the probe SETS intersect
    * (distinct-ed, so double-shared buckets don't inflate n_cand). */
  def ivfCandidateRecall(vectors: DataFrame, assignment: DataFrame,
      tau: Double): DataFrame = {
    guard(vectors, "vectors")
    val av = vectors.join(assignment.select("vec_id", "centroid"), "vec_id")
      .persist()
    try {
      val cos: (Column, Column) => Column = SketchExpressions.cosine_sim
      val vOnly = av.select("vec_id", "v").distinct()
      val a = vOnly.select(col("vec_id").as("a_id"), col("v").as("va"))
      val b = vOnly.select(col("vec_id").as("b_id"), col("v").as("vb"))
      val truth = a.join(broadcast(b), col("a_id") < col("b_id"))
        .filter(cos(col("va"), col("vb")) >= lit(tau))
        .select("a_id", "b_id")
      val ca = av.select(col("centroid"), col("vec_id").as("a_id"))
      val cb = av.select(col("centroid"), col("vec_id").as("b_id"))
      val cand = ca.join(cb, Seq("centroid"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      score(vOnly.count(), truth, cand)
    } finally av.unpersist(false)
  }

  /** (n_docs, n_truth, n_cand, n_hit, recall) — recall NULL on empty
    * truth so "no true pairs in the stratum" cannot read as a perfect
    * score. */
  private def score(nDocs: Long, truth: DataFrame, cand: DataFrame): DataFrame = {
    val hit = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
    val spark = truth.sparkSession
    import spark.implicits._
    // three bounded aggregates (truth/cand/hit are stratum-sized)
    val (nT, nC, nH) = (truth.count(), cand.count(), hit.count())
    Seq((nDocs, nT, nC, nH)).toDF("n_docs", "n_truth", "n_cand", "n_hit")
      .withColumn("recall",
        when(col("n_truth") > 0, col("n_hit").cast("double") / col("n_truth")))
  }
}
