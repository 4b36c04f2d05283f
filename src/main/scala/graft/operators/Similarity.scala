package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SketchExpressions._

/** User-facing similarity-search library: DataFrame in → DataFrame out,
  * no fixture coupling. Column contract (documented rather than
  * parameterized so the call sites stay readable): query sides carry
  * `(query_id, va)`, corpus sides `(neighbor_id, vb)` with the vector
  * columns as `array<double>`. All cosine/dot arithmetic runs through
  * the fused codegen kernels (`CosineSim` / `DotProduct`), bit-identical
  * to the SQL folds the DuckDB oracles use.
  *
  * Scale design: the exact path broadcasts the (small) query batch so
  * the corpus is scanned once and never shuffled; the approximate paths
  * replace the cartesian with bucket equi-joins (hyperplane LSH tables,
  * IVF centroid buckets). The registered `SimilarityQueries` entries are
  * thin wrappers over these with the driver fixture's parameters. */
object Similarity {

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("cos", cosine_sim(col("va"), col("vb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Exact cosine top-k: broadcast the query batch across the corpus
    * scan, rank per query. The corpus side is never shuffled — the
    * brute-force shape that holds at "small query batch × huge corpus". */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(corpus.crossJoin(broadcast(queries)), k)

  /** Hard-negative mining — the contrastive-training data op: for each
    * query, the top-k most-similar corpus vectors with a DIFFERENT
    * label (nearest non-matches = the negatives that actually teach a
    * contrastive model something). Same broadcast shape as
    * [[bruteForceTopK]] — query batch broadcasts, corpus scans once,
    * never shuffles — with the label-mismatch predicate fused into the
    * join; at 100 TB the corpus side swaps for an IVF bucket probe
    * exactly like search does. Query side `(query_id, va, label)`,
    * corpus side `(neighbor_id, vb, label)`; output
    * `(query_id, neighbor_id, rnk)`.
    *
    * Null-label semantics (explicit, not an accident of SQL
    * three-valued logic): rows with a NULL label are excluded from
    * BOTH sides. "Unknown label" cannot be safely treated as
    * "different label" — an unlabeled duplicate of the query would
    * become a catastrophically wrong negative — so unlabeled vectors
    * take no part in mining rather than silently vanishing only on
    * whichever side the null lands. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(
      corpus.filter(col("label").isNotNull)
        .withColumnRenamed("label", "c_label")
        .crossJoin(broadcast(queries.filter(col("label").isNotNull)
          .withColumnRenamed("label", "q_label")))
        .filter(col("q_label") =!= col("c_label")), k)

  /** Random-hyperplane LSH top-k: `tables` hash tables of `bits` sign
    * bits each (one-pass `HyperplaneBuckets`, deterministic sign table);
    * candidates share a bucket in ≥ 1 table, then exact cosine ranks the
    * candidates. Recall depends on the table/bit trade; the bucket
    * equi-join replaces the corpus×corpus cartesian. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      tables: Int, bits: Int, dim: Int, k: Int): DataFrame = {
    def buckets(df: DataFrame, id: String, vec: String) =
      df.select(col(id), posexplode(hyperplane_buckets(col(vec), tables, bits, dim)))
        .select(col(id), col("pos").as("tbl"), col("col").as("bucket"))
    val q = buckets(queries, "query_id", "va")
    val c = buckets(corpus, "neighbor_id", "vb")
    // dedupe candidate id-pairs first, then join the vectors back —
    // avoids hashing array columns through the distinct.
    val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
      .select("query_id", "neighbor_id").distinct()
    topK(cand
      .join(broadcast(queries), Seq("query_id"))
      .join(corpus, Seq("neighbor_id")), k)
  }

  /** Mean centroid per label with squared norms, `decimals`-rounded so
    * both engines score from identical inputs. Input `(label, v)`;
    * output `(c_label, c, cnorm2)`. */
  def meanCentroids(vectors: DataFrame, decimals: Int = 4): DataFrame =
    vectors
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), decimals).as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dm"))
      .select(col("label").as("c_label"), expr("transform(dm, s -> s.m)").as("c"))
      .withColumn("cnorm2", expr("aggregate(c, 0D, (a, x) -> a + x * x)"))

  /** IVF coarse quantizer: each vector `(vec_id, v)` → nearest centroid
    * by L2 (argmin over |c|² − 2·v·c; |v|² is constant per vector).
    * Centroids broadcast (small). Output `(vec_id, centroid)`. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignN(vectors, centroids, 1).drop("probe_rank")

  /** `(c_label, c, cnorm2)` frame from driver-local centroids. cnorm2
    * uses the same sequential left fold as the SQL aggregate()/
    * list_aggregate the oracles use — bit-identical across engines. */
  private[operators] def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      c: Array[(Long, Array[Double])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_label",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false),
      org.apache.spark.sql.types.StructField("cnorm2",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] = c.map { case (l, arr) =>
      org.apache.spark.sql.Row(l, arr.toSeq, arr.foldLeft(0.0)((a, x) => a + x * x))
    }.toSeq.asJava
    spark.createDataFrame(rows, schema)
  }

  /** Lloyd's k-means over `(vec_id, v)` — the "train the coarse
    * quantizer" loop a production IVF index runs once and reuses for
    * every search. Driver-coordinated: each iteration is one corpus
    * scan (broadcast-centroid assign + one quantized re-mean shuffle);
    * only the k×dim centroid table (tiny) ever reaches the driver, so
    * the loop holds at 10⁹ vectors — cost is maxIter × one scan.
    *
    * Determinism contract (what makes the 2-iteration registered query
    * oracle-exact): components quantize to BIGINT (`floor(x·1e6+0.5)`)
    * BEFORE the re-mean group sum (order-free reduction), and the new
    * component is `floor(sum_q/n + 0.5)/1e6` — one IEEE division +
    * floor over exact integers, bit-identical on any engine. Ties in
    * the assign step break by centroid label (same as [[ivfAssignN]]).
    *
    * Empty clusters reseed deterministically from the farthest-point
    * vectors: the vectors with the largest distance to their assigned
    * centroid (ties by vec_id), taken in label order — k stays k, as
    * FAISS-style trainers guarantee.
    *
    * Stops after `maxIter` iterations or when the quantized max
    * component shift `max |q_new − q_old|/1e6 < tol` (a shift of
    * exactly 0 always stops: the assignment is a fixed point).
    *
    * `init`: optional `(c_label, c)` seed centroids (e.g.
    * [[meanCentroids]] when labels exist); defaults to the k lowest-id
    * vectors labeled 0..k−1. Output: `(c_label: bigint, c, cnorm2)` —
    * plugs directly into [[ivfAssign]]/[[pqAssign]]. */
  def trainCoarseQuantizer(vectors: DataFrame, k: Int, maxIter: Int,
      tol: Double, init: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 0, s"maxIter must be >= 0, got $maxIter")
    require(tol >= 0, s"tol must be >= 0, got $tol")
    val spark = vectors.sparkSession
    def collectCentroids(df: DataFrame): Array[(Long, Array[Double])] =
      df.select("c_label", "c").collect().map { r =>
        (r.get(0).asInstanceOf[Number].longValue(),
          r.getSeq[Double](1).toArray)
      }.sortBy(_._1)
    var cent: Array[(Long, Array[Double])] = init match {
      case Some(df) =>
        val c = collectCentroids(df)
        require(c.length == k, s"init has ${c.length} centroids, expected k=$k")
        c
      case None =>
        val seeds = vectors.orderBy("vec_id").limit(k).select("v").collect()
          .zipWithIndex
          .map { case (r, i) => (i.toLong, r.getSeq[Double](0).toArray) }
        require(seeds.length == k,
          s"k=$k exceeds the corpus size (${seeds.length} vectors) — " +
            "cannot seed k distinct centroids")
        seeds
    }
    def frame(c: Array[(Long, Array[Double])]): DataFrame = centroidFrame(spark, c)
    def q(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    var it = 0
    var done = maxIter == 0
    while (!done) {
      val centDf = frame(cent)
      // persisted: the re-mean always reads it, and a reseed round
      // reads it a second time — without the persist that second read
      // re-runs the whole broadcast-score-argmin pass over the corpus
      val assign = ivfAssign(vectors, centDf).persist()
      // quantized per-(centroid, dim) sums: one order-free shuffle
      val sums = vectors.join(assign, "vec_id")
        .select(col("centroid"), posexplode(col("v")))
        .select(col("centroid"), col("pos").as("dim"),
          expr("cast(floor(col * 1e6 + 0.5d) as bigint)").as("q"))
        .groupBy("centroid", "dim")
        .agg(sum("q").as("sum_q"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.get(0).asInstanceOf[Number].longValue())
      val dims = cent.head._2.length
      var next = cent.map { case (label, old) =>
        sums.get(label) match {
          case Some(rows) =>
            val m = new Array[Double](dims)
            rows.foreach { r =>
              m(r.get(1).asInstanceOf[Number].intValue()) =
                math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5) / 1e6
            }
            (label, m)
          case None => (label, null) // empty cluster — reseed below
        }
      }
      val empties = next.collect { case (l, null) => l }
      if (empties.nonEmpty) {
        // deterministic farthest-point reseed: max dist² to the assigned
        // centroid, ties by vec_id, one reseed vector per empty label
        val far = vectors.join(assign, "vec_id")
          .join(broadcast(centDf), col("centroid") === col("c_label"))
          .withColumn("dist2", col("cnorm2") -
            lit(2) * dot_product(col("v"), col("c")) +
            expr("aggregate(v, 0D, (a, x) -> a + x * x)"))
          .orderBy(col("dist2").desc, col("vec_id"))
          .limit(empties.length)
          .select("v").collect()
          .map(_.getSeq[Double](0).toArray)
        require(far.length == empties.length,
          s"${empties.length} empty clusters but only ${far.length} " +
            "assigned vectors available to reseed from — the corpus has " +
            "fewer distinct vectors than k; lower k")
        val reseeds = empties.sorted.zip(far).toMap
        next = next.map {
          case (l, null) => (l, reseeds(l))
          case ok => ok
        }
      }
      assign.unpersist(blocking = false)
      // quantized max component shift; reseeded clusters count too
      val shift = cent.zip(next).iterator.flatMap { case ((_, a), (_, b)) =>
        a.iterator.zip(b.iterator).map { case (x, y) => math.abs(q(x) - q(y)) }
      }.foldLeft(0L)(math.max)
      cent = next
      it += 1
      done = it >= maxIter || shift == 0L || shift / 1e6 < tol
    }
    frame(cent)
  }

  /** Mean bucket size the adaptive coarse quantizer holds constant.
    * Every in-bucket ANN/dedup stage costs Σ bucket² per centroid, so a
    * FIXED centroid count goes super-linear the moment buckets grow
    * with the corpus (round-9 100× run: dedup_semantic 8 s → 182 s,
    * exponent 1.4, before the fix). Holding bucket SIZE at this target
    * makes in-bucket pair cost O(n·targetBucket) — linear — at any
    * corpus size. */
  val DefaultTargetBucket = 2000L

  /** Hard cap on the adaptive centroid count — bounds the broadcast
    * centroid table and the per-vector assign cost (k distance
    * evaluations). At the cap, buckets grow again; raise it together
    * with executor memory if corpora beyond cap×targetBucket vectors
    * are in play. */
  val AdaptiveKCap = 4096

  /** Corpus-size ceiling of the ORACLE-EXACT regime: at or below this
    * many vectors, [[SimilarityQueries.sharedStages]] uses the 10
    * label-mean centroids that every ANN DuckDB oracle
    * (`ivf_assign`, `sim_ann_ivf*`, `dedup_semantic*`,
    * `vec_ivf_balance`, …) hard-codes; above it the engine trains
    * adaptive-k centroids and those oracles are NO LONGER VALID — a
    * bigger fixture must regenerate its oracle expectations, not reuse
    * the label-mean SQL. Equal to 10 × [[DefaultTargetBucket]]. */
  val OracleExactMaxVectors: Long = 10 * DefaultTargetBucket

  /** The adaptive centroid count for an `n`-vector corpus:
    * `clamp(n / targetBucket, 1, AdaptiveKCap)`. */
  def adaptiveK(n: Long, targetBucket: Long = DefaultTargetBucket): Int =
    math.max(1L, math.min(AdaptiveKCap.toLong, n / targetBucket)).toInt

  /** Train the coarse quantizer at the ADAPTIVE centroid count — the
    * round-9 100× scale fix hoisted into the library path, so an index
    * built without an explicit k cannot recreate the super-linear
    * fixed-k bug. k = [[adaptiveK]](n); training runs on a bounded
    * DETERMINISTIC sample of ~256 vectors per centroid (the FAISS
    * training convention, selected by an xxhash64 keep-filter on
    * `vec_id`), so the trainer's cost is independent of corpus size —
    * only the caller's one full-corpus [[ivfAssign]] pass scales with
    * n. Seeds are the k hash-ordered sample vectors (deterministic,
    * decorrelated from id order); `knownN` skips the count scan when
    * the caller already knows the corpus size. Input `(vec_id, v)`;
    * output is [[trainCoarseQuantizer]]'s `(c_label, c, cnorm2)`. */
  def trainAdaptiveQuantizer(vectors: DataFrame,
      targetBucket: Long = DefaultTargetBucket, maxIter: Int = 3,
      tol: Double = 1e-3, knownN: Option[Long] = None): DataFrame = {
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    val n = knownN.getOrElse(vectors.count())
    require(n > 0, "cannot train a quantizer over an empty corpus")
    val k = adaptiveK(n, targetBucket)
    // keep ≈ 256·k of n vectors: per-million keep rate, exact integers
    val keepPerM = math.min(1000000L,
      math.max(1L, 256L * k * 1000000L / n))
    val sample = vectors
      .filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) < keepPerM)
      .persist()
    try {
      val seeds = sample
        .orderBy(xxhash64(col("vec_id"), lit(1)), col("vec_id"))
        .limit(k).select("vec_id", "v").collect().zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](1).toArray) }
      require(seeds.length == k,
        s"adaptive k=$k exceeds the training sample (${seeds.length} " +
          "vectors) — corpus smaller than reported n?")
      trainCoarseQuantizer(sample, k, maxIter, tol,
        init = Some(centroidFrame(vectors.sparkSession, seeds)))
    } finally sample.unpersist(blocking = false)
  }

  /** Train-and-save in one call — the path a user builds a persisted
    * index with. With no `k`, the quantizer is ADAPTIVE
    * ([[trainAdaptiveQuantizer]]): centroid count scales with the
    * corpus so buckets hold [[DefaultTargetBucket]] mean size at any n
    * — the safe default. An explicit `k` overrides (full-corpus
    * [[trainCoarseQuantizer]], the pre-round-10 behavior) for callers
    * that know their serving layout. `pqBlocks` additionally saves a
    * product-quantization codebook. Returns [[indexStats]] of the
    * written index so the builder sees bucket skew immediately. */
  def buildIndex(vectors: DataFrame, path: String, k: Option[Int] = None,
      targetBucket: Long = DefaultTargetBucket, maxIter: Int = 3,
      tol: Double = 1e-3, pqBlocks: Option[Int] = None): IndexStats = {
    val cent = (k match {
      case Some(kk) => trainCoarseQuantizer(vectors, kk, maxIter, tol)
      case None => trainAdaptiveQuantizer(vectors, targetBucket, maxIter, tol)
    }).persist()
    try {
      val pq = pqBlocks.map { blocks =>
        val dim = cent.select(size(col("c"))).head().getInt(0)
        pqCodebook(cent, blocks, dim)
      }
      saveIndex(path, cent, ivfAssign(vectors, cent), pq)
    } finally cent.unpersist(blocking = false)
    indexStats(vectors.sparkSession, path)
  }

  /** Multi-probe IVF assignment: each vector's `nprobe` nearest
    * centroids with their probe rank. Queries probe several adjacent
    * buckets to recover the recall lost at bucket boundaries, at a
    * bounded extra cost (nprobe × bucket size) — the corpus itself
    * stays single-assigned. */
  def ivfAssignN(vectors: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val w = Window.partitionBy("vec_id").orderBy(col("score"), col("c_label"))
    vectors.crossJoin(broadcast(centroids))
      .withColumn("score", col("cnorm2") - lit(2) *
        dot_product(col("v"), col("c")))
      .withColumn("probe_rank", row_number().over(w).cast("long"))
      .filter(col("probe_rank") <= nprobe)
      .select(col("vec_id"), col("c_label").as("centroid"), col("probe_rank"))
  }

  /** Streaming-safe twin of [[ivfAssign]]: the argmin runs per row
    * against the centroid table folded in as a literal array, so the
    * plan is a NARROW map — no window, no aggregate, no state — and
    * works unchanged inside an append-mode stream (`readStream` →
    * assign → sink), which is how an ingest pipeline tags each new
    * vector with its bucket on arrival without retraining anything.
    * The centroids (tiny by contract) are collected at plan-build time.
    *
    * Bit-compatible with [[ivfAssign]]: the score is the same ordered
    * multiply-add sequence (`zip_with` then in-order fold ≡ the fused
    * DotProduct kernel) and ties break by centroid label, so the two
    * paths produce identical assignments. */
  def ivfAssignNarrow(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select("c_label", "c", "cnorm2").collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue(),
        r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfAssignNarrow needs at least one centroid")
    val centArr = array(cents.map { case (l, c, n2) =>
      struct(lit(n2).as("cnorm2"), typedLit(c).as("c"), lit(l).as("c_label"))
    }: _*)
    vectors
      .withColumn("_cents", centArr)
      .withColumn("_best", expr(
        """array_sort(transform(_cents, s -> struct(
          |  s.cnorm2 - 2 * aggregate(zip_with(v, s.c, (a, b) -> a * b),
          |                           0D, (acc, x) -> acc + x) AS score,
          |  s.c_label AS c_label)))[0].c_label""".stripMargin))
      .drop("_cents")
      .withColumnRenamed("_best", "centroid")
  }

  /** IVF search: probe only the query's centroid bucket, exact top-k
    * within it. Query side `(query_id, va, centroid)`, corpus side
    * `(neighbor_id, vb, centroid)` — both pre-assigned via [[ivfAssign]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(corpus.join(broadcast(queries), Seq("centroid")), k)

  /** Radius (range) search: every corpus vector with cosine ≥ `tau` of
    * a query, probing only the query's centroid bucket — the threshold
    * twin of [[ivfTopK]] for "find ALL matches above a similarity bar"
    * workloads (near-duplicate harvesting, retrieval recall audits)
    * where a fixed k would truncate dense neighborhoods. Same shapes:
    * query side `(query_id, va, centroid)` broadcasts, corpus side
    * `(neighbor_id, vb, centroid)` scans once; the bucket equi-join
    * bounds the candidate set per bucket, and the cosine filter is a
    * codegen'd per-row predicate — no rank window at all, so unlike
    * top-k the output needs no per-query state anywhere. Result-set
    * size is data-dependent by design; callers bound it with `tau`,
    * not k. */
  def ivfRangeSearch(queries: DataFrame, corpus: DataFrame, tau: Double): DataFrame =
    corpus.join(broadcast(queries), Seq("centroid"))
      .filter(cosine_sim(col("va"), col("vb")) >= tau)
      .select("query_id", "neighbor_id")

  /** The result of [[ivfTopKWithRecall]]: the full search at the chosen
    * probe count, the count itself, and the recall measured on the
    * held-out sample that selected it. */
  case class AdaptiveProbe(results: DataFrame, nprobe: Int, recall: Double)

  /** Recall-targeted multi-probe IVF: measure recall@k on a small
    * held-out query sample (the `sampleSize` lowest query ids —
    * deterministic), raising the probe count until the measured
    * micro-averaged recall (Σ hits / Σ truth) reaches `target` or
    * `maxProbe` is hit, then run the FULL query set at the chosen
    * count. The tuning loop is how a probe count is picked before a
    * 100 TB rollout: each trial costs one bucket-join of the corpus
    * against a broadcast-sized sample (plus one brute-force pass for
    * the ground truth), and the expensive full search runs exactly
    * once, at the winning count.
    *
    * `queries` as `(query_id, va)`, `corpus` as `(neighbor_id, vb)`,
    * `centroids`/`assignment` as trained (e.g. [[trainCoarseQuantizer]]
    * + [[ivfAssign]], or a [[loadIndex]]-restored pair with
    * `(vec_id, centroid)`). */
  def ivfTopKWithRecall(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, assignment: DataFrame, k: Int, target: Double,
      sampleSize: Int = 16, maxProbe: Int = 8): AdaptiveProbe = {
    require(target > 0 && target <= 1, s"target must be in (0,1], got $target")
    require(sampleSize >= 1 && maxProbe >= 1)
    val corpusAssigned = corpus.join(
      assignment.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val sample = queries.orderBy("query_id").limit(sampleSize)
    val truth = bruteForceTopK(sample, corpus, k)
      .select("query_id", "neighbor_id").persist()
    def probed(qs: DataFrame, n: Int): DataFrame = {
      val qa = ivfAssignN(
        qs.select(col("query_id").as("vec_id"), col("va").as("v")),
        centroids, n)
        .select(col("vec_id").as("query_id"), col("centroid"))
      ivfTopK(qs.join(qa, "query_id"), corpusAssigned, k)
    }
    def recallOf(n: Int): Double = {
      val ann = probed(sample, n)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val agg = truth.join(ann, Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
          count(lit(1)).as("total"))
        .head()
      agg.getLong(0).toDouble / agg.getLong(1)
    }
    try {
      var n = 1
      var r = recallOf(n)
      while (r < target && n < maxProbe) {
        n += 1
        r = recallOf(n)
      }
      AdaptiveProbe(probed(queries, n), n, r)
    } finally truth.unpersist(blocking = false)
  }

  /** The PQ codebook: each centroid sliced into `blocks` sub-vectors
    * with their squared norms — the tiny broadcast table every PQ path
    * scores against, and the third artifact [[saveIndex]] persists.
    * Input `(c_label, c)`; output `(c_label, block, cb, cbnorm2)`. */
  def pqCodebook(centroids: DataFrame, blocks: Int, dim: Int): DataFrame = {
    require(dim % blocks == 0, s"dim ($dim) must split evenly into $blocks blocks")
    val d = dim / blocks
    centroids
      .select(col("c_label"), explode(expr(
        s"transform(sequence(0, ${blocks - 1}), " +
          s"b -> struct(cast(b as bigint) as block, slice(c, b * $d + 1, $d) as cb))")).as("e"))
      .select(col("c_label"), col("e.block").as("block"), col("e.cb").as("cb"))
      .withColumn("cbnorm2", expr("aggregate(cb, 0D, (a, x) -> a + x * x)"))
  }

  /** Product-quantization code assignment — the storage scale path past
    * int8: `v` splits into `blocks` equal sub-vectors, each assigned to
    * its nearest sub-centroid by L2 (argmin over |c|² − 2·v·c per
    * block), so a vector stores as `blocks` small codes instead of
    * `dim` floats. The codebook (centroids × blocks sub-slices) is
    * broadcast; the corpus is scanned once with a narrow explode —
    * no shuffle of the vectors beyond the per-(vec, block) argmin
    * window on already-colocated rows.
    *
    * Input: `vectors` as `(vec_id, v)`, `centroids` as `(c_label, c)`
    * (e.g. from [[meanCentroids]]). Output: `(vec_id, block, code)`. */
  def pqAssign(vectors: DataFrame, centroids: DataFrame,
      blocks: Int, dim: Int): DataFrame = {
    require(dim % blocks == 0, s"dim ($dim) must split evenly into $blocks blocks")
    val d = dim / blocks
    val vb = vectors
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${blocks - 1}), " +
          s"b -> struct(cast(b as bigint) as block, slice(v, b * $d + 1, $d) as vb))")).as("e"))
      .select(col("vec_id"), col("e.block").as("block"), col("e.vb").as("vb"))
    val cb = pqCodebook(centroids, blocks, dim)
    val w = Window.partitionBy("vec_id", "block").orderBy(col("score"), col("c_label"))
    vb.join(broadcast(cb), "block")
      .withColumn("score", col("cbnorm2") - lit(2) * dot_product(col("vb"), col("cb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("block"), col("c_label").as("code"))
  }

  /** PQ asymmetric-distance search (ADC): the corpus is represented ONLY
    * by its PQ codes (from [[pqAssign]]); each query precomputes a
    * per-(block, code) distance table against the codebook, the tiny
    * table broadcasts, and corpus codes join it — so the 10⁹-vector scan
    * touches no floats, just a code equi-join and an integer sum.
    *
    * Distances are quantized to integers (`floor(d·10⁹ + 0.5)`) BEFORE
    * the per-vector sum so the 4-way addition is order-free and
    * deterministic on any engine — float sums over an unordered group
    * would differ in the last ulp run to run.
    *
    * Input: `queries` as `(query_id, va)`, `codes` as
    * `(neighbor_id, block, code)`, `centroids` as `(c_label, c)`.
    * Output: `(query_id, neighbor_id, rnk)` — top-k by approximate L2. */
  def pqTopK(queries: DataFrame, codes: DataFrame, centroids: DataFrame,
      blocks: Int, dim: Int, k: Int): DataFrame = {
    require(dim % blocks == 0, s"dim ($dim) must split evenly into $blocks blocks")
    val d = dim / blocks
    val cb = pqCodebook(centroids, blocks, dim).withColumnRenamed("c_label", "code")
    val lut = queries.crossJoin(broadcast(cb))
      .withColumn("qb", expr(s"slice(va, block * $d + 1, $d)"))
      .withColumn("dist",
        expr("aggregate(qb, 0D, (a, x) -> a + x * x)") +
          col("cbnorm2") - lit(2) * dot_product(col("qb"), col("cb")))
      .select(col("query_id"), col("block"), col("code"),
        expr("cast(floor(dist * 1e9 + 0.5d) as bigint)").as("dist_i"))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    codes.join(broadcast(lut), Seq("block", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("dist_i").as("d2"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** IVF + PQ — the trillion-vector layout: the corpus is bucketed by
    * coarse centroid ([[ivfAssign]]) AND stored as PQ codes
    * ([[pqAssign]]); a query probes only its own centroid bucket and
    * scores candidates by the broadcast ADC distance table, so the scan
    * touches neither foreign buckets nor raw floats. Same integer-
    * quantized order-free distance sums as [[pqTopK]].
    *
    * Input: `queries` as `(query_id, va, centroid)`, `codes` as
    * `(neighbor_id, block, code, centroid)` — both pre-assigned.
    * Output: `(query_id, neighbor_id, rnk)`. */
  def ivfPqTopK(queries: DataFrame, codes: DataFrame, centroids: DataFrame,
      blocks: Int, dim: Int, k: Int): DataFrame = {
    require(dim % blocks == 0, s"dim ($dim) must split evenly into $blocks blocks")
    val cb = pqCodebook(centroids, blocks, dim).withColumnRenamed("c_label", "code")
    val d = dim / blocks
    val lut = queries.select(col("query_id"), col("va"), col("centroid").as("qc"))
      .crossJoin(broadcast(cb))
      .withColumn("qb", expr(s"slice(va, block * $d + 1, $d)"))
      .withColumn("dist",
        expr("aggregate(qb, 0D, (a, x) -> a + x * x)") +
          col("cbnorm2") - lit(2) * dot_product(col("qb"), col("cb")))
      .select(col("query_id"), col("qc"), col("block"), col("code"),
        expr("cast(floor(dist * 1e9 + 0.5d) as bigint)").as("dist_i"))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    codes.join(broadcast(lut), Seq("block", "code"))
      .filter(col("centroid") === col("qc")) // bucket probe
      .groupBy("query_id", "neighbor_id")
      .agg(sum("dist_i").as("d2"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Deterministic k-means|| seeding (Bahmani et al., VLDB'12) — the
    * scalable init for [[trainCoarseQuantizer]] when no labels exist.
    * The naive lowest-id seed can start every centroid inside one
    * cluster; k-means|| oversamples ~`l` points per round with
    * probability proportional to their squared distance from the
    * current seed set, so seeds spread across the data's actual mass in
    * `rounds` corpus scans (vs k sequential scans for k-means++).
    *
    * Fully deterministic: the "random" keep decision for a vector is
    * `pmod(xxhash64(vec_id, round), 1e9)/1e9 < l·d²/φ` — reproducible
    * on any cluster, no RNG state — and each round's accepted set is
    * capped at `8·l` by (hash, vec_id) order so driver memory stays
    * bounded regardless of how skewed the distance mass is. Candidates
    * are then weighted by how many corpus vectors they attract (one
    * assign pass) and reduced to k centers by a driver-local weighted
    * Lloyd over the ≤ `8·l·rounds + 1` candidates.
    *
    * Scale: `rounds`+2 corpus scans total (distance/sample per round,
    * one weighting pass), every reduction keyed and partial-aggregated;
    * only candidate rows (bounded above) ever reach the driver.
    * Output `(c_label 0..k−1, c, cnorm2)` — plugs into
    * [[trainCoarseQuantizer]]'s `init`. */
  def seedCentroids(vectors: DataFrame, k: Int, rounds: Int = 3,
      oversample: Int = 0, localIters: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val l = if (oversample > 0) oversample else 2 * k
    val spark = vectors.sparkSession
    val v2 = vectors.select(col("vec_id"), col("v"))
      .withColumn("vnorm2", expr("aggregate(v, 0D, (a, x) -> a + x * x)"))
      .persist()
    try {
      val cand = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
      cand ++= v2.orderBy("vec_id").limit(1).select("vec_id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      for (round <- 1 to rounds) {
        val cd = centroidFrame(spark, cand.zipWithIndex
          .map { case ((_, arr), i) => (i.toLong, arr) }.toArray)
        // per-vector min dist² to the current seed set: broadcast the
        // (small) seeds, one keyed partial-aggregated shuffle
        val d2 = v2.crossJoin(broadcast(cd))
          .groupBy("vec_id")
          .agg(min(col("cnorm2") - lit(2) * dot_product(col("v"), col("c")) +
            col("vnorm2")).as("d2"),
            first("v").as("v"))
          .withColumn("d2", greatest(col("d2"), lit(0.0))) // fp guard
          .persist()
        // phi via order-free integer reduction: a raw double SUM would
        // accumulate in partition order and its last ulps could flip a
        // borderline keep decision between cluster layouts — the exact
        // drift the quantize-before-sum pattern exists to prevent
        val phi = d2.agg(sum(expr(
            "cast(floor(d2 * 1e6 + 0.5d) as bigint)")).as("phi_q"))
          .head().getLong(0) / 1e6
        if (phi > 0) {
          val kept = d2
            .withColumn("u",
              pmod(xxhash64(col("vec_id"), lit(round)), lit(1000000000L))
                .cast("double") / 1e9)
            .filter(col("u") < lit(l.toDouble) * col("d2") / phi)
            .orderBy(xxhash64(col("vec_id"), lit(round)), col("vec_id"))
            .limit(8 * l)
            .select("vec_id", "v").collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          val have = cand.map(_._1).toSet
          cand ++= kept.filterNot(c => have(c._1))
        }
        d2.unpersist(blocking = false)
      }
      // weight candidates by attracted corpus mass (one assign pass)
      val candArr = cand.zipWithIndex
        .map { case ((_, arr), i) => (i.toLong, arr) }.toArray
      val weights = ivfAssign(v2.select("vec_id", "v"),
          centroidFrame(spark, candArr))
        .groupBy("centroid").count().collect()
        .map(r => r.get(0).asInstanceOf[Number].longValue() -> r.getLong(1))
        .toMap
      // driver-local reduction: weighted D² (greedy farthest-point)
      // selection picks the k local seeds — raw top-k-by-weight can
      // double-pick inside one dense cluster and leave another
      // uncovered; maximizing w·min-dist² cannot skip a separated
      // cluster (its whole mass is far from every chosen seed).
      // Deterministic: ties break on candidate index.
      val pts = candArr.map { case (i, arr) =>
        (arr, weights.getOrElse(i, 0L).toDouble) }
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var t = 0
        while (t < a.length) { val x = a(t) - b(t); d += x * x; t += 1 }
        d
      }
      val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      chosen += pts.zipWithIndex.maxBy { case ((_, w), i) => (w, -i) }._1._1
      val minD2 = pts.map(p => d2(p._1, chosen.head))
      var exhausted = false
      while (chosen.size < k && !exhausted) {
        var best = -1; var bestScore = 0.0
        var i = 0
        while (i < pts.length) {
          val s = pts(i)._2 * minD2(i)
          if (s > bestScore) { bestScore = s; best = i }
          i += 1
        }
        if (best < 0) exhausted = true // no remaining weighted mass
        else {
          chosen += pts(best)._1
          var j = 0
          while (j < pts.length) {
            val d = d2(pts(j)._1, chosen.last)
            if (d < minD2(j)) minD2(j) = d
            j += 1
          }
        }
      }
      val centers: Array[Array[Double]] = chosen.toArray
      val kk = centers.length // < k only if the corpus has < k distinct candidates
      var it = 0
      var moved = true
      while (it < localIters && moved) {
        val sums = Array.fill(kk)(new Array[Double](pts.head._1.length))
        val ws = new Array[Double](kk)
        pts.foreach { case (p, w) =>
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < kk) {
            var d = 0.0; var t = 0
            while (t < p.length) { val x = p(t) - centers(j)(t); d += x * x; t += 1 }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          ws(best) += w
          var t = 0
          while (t < p.length) { sums(best)(t) += w * p(t); t += 1 }
        }
        moved = false
        for (j <- 0 until kk if ws(j) > 0) {
          val m = sums(j).map(_ / ws(j))
          if (!java.util.Arrays.equals(m, centers(j))) { moved = true; centers(j) = m }
        }
        it += 1
      }
      centroidFrame(spark,
        centers.zipWithIndex.map { case (arr, i) => (i.toLong, arr) })
    } finally v2.unpersist(blocking = false)
  }

  /** Persist a trained ANN index as parquet: the coarse centroids
    * (`(c_label, c, cnorm2)`), the corpus assignment
    * (`(vec_id, centroid)`), and optionally the PQ codebook
    * (`(c_label, block, cb, cbnorm2)` from [[pqCodebook]]). Train once,
    * save, and every later session searches without touching the
    * training pipeline — the index artifacts are exactly the two tiny
    * tables plus one row per corpus vector, and doubles round-trip
    * bit-exactly through parquet, so a reloaded index reproduces search
    * results bit-for-bit ([[SimilarityQueries.sharedStages]] prefers a
    * saved index when `spark.graft.ann.indexDir` is set). */
  def saveIndex(path: String, centroids: DataFrame, assignment: DataFrame,
      pqCodebook: Option[DataFrame] = None): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids.parquet")
    writeAssignment(assignment, s"$path/assignment.parquet",
      mode = "overwrite")
    pqCodebook.foreach(_.write.mode("overwrite")
      .parquet(s"$path/pq_codebook.parquet"))
  }

  /** Hive-style partition directory column of the saved assignment —
    * a COPY of `centroid`, so the data column keeps its exact type
    * through the round trip (a partition column's type is re-inferred
    * from directory names on read, which would turn a LongType label
    * into IntegerType and break bit-exact reload guarantees). The
    * payoff is bucket-pruned serving: a [[searchIndex]] probe filters
    * on `centroid_b` and the scan reads ONLY the probed buckets'
    * files (`PartitionFilters` in the plan) — at 10⁹ vectors a
    * 1-bucket probe touches 1/k of the corpus assignment instead of
    * every file. */
  private[operators] val BucketCol = "centroid_b"

  /** Write an assignment table in the bucket-partitioned layout:
    * repartition by bucket first (one file per bucket instead of one
    * per task×bucket — the small-files guard at corpus scale), then
    * `partitionBy` the derived directory column. */
  private def writeAssignment(assignment: DataFrame, dest: String,
      mode: String): Unit =
    assignment.withColumn(BucketCol, col("centroid"))
      .repartition(col(BucketCol))
      .write.mode(mode).partitionBy(BucketCol).parquet(dest)

  /** Read a saved assignment directory in either layout: the
    * bucket-partitioned form (r8+, `centroid_b=N` subdirs) or the flat
    * pre-r8 form. Returns the frame WITH the partition column retained
    * when present (callers that probe filter on it for partition
    * pruning, everyone else drops it) plus the layout flag. */
  private def readAssignment(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Boolean) = {
    val raw = spark.read.parquet(s"$path/assignment.parquet")
    (raw, raw.schema.fieldNames.contains(BucketCol))
  }

  private[graft] def fsPath(spark: org.apache.spark.sql.SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp, hp.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  private[graft] def pathExists(spark: org.apache.spark.sql.SparkSession,
      p: String): Boolean = {
    val (hp, fs) = fsPath(spark, p)
    fs.exists(hp)
  }

  /** Load a [[saveIndex]]-written index: `(centroids, assignment)`.
    * Tombstoned ids ([[removeFromIndex]]) are filtered here — every
    * consumer (search, shared stages, recall maintenance) sees only
    * live assignments. The anti-join's tombstone side is the small one
    * (deletes between compactions), so it broadcasts. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val cent = spark.read.parquet(s"$path/centroids.parquet")
    val (raw, partitioned) = readAssignment(spark, path)
    val assign = if (partitioned) raw.drop(BucketCol) else raw
    val live =
      if (pathExists(spark, s"$path/tombstones.parquet"))
        assign.join(
          broadcast(spark.read.parquet(s"$path/tombstones.parquet")),
          Seq("vec_id"), "left_anti")
      else assign
    (cent, live)
  }

  /** Load the optional PQ codebook artifact of a [[saveIndex]] dir. */
  def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/pq_codebook.parquet")

  /** One-call serving path over a [[saveIndex]] directory: load the
    * centroids and corpus assignment, bucket the query batch (the
    * narrow kernel at `nprobe = 1` — no window/aggregate, usable from
    * a stream too; [[ivfAssignN]] multi-probe above that, the serve-
    * time recall knob [[ivfTopKWithRecall]] tunes), and probe each
    * query's bucket(s) for its exact top-k. `corpus` must be the
    * vector table the index was built over, as `(vec_id, v)` — the
    * index stores assignments, not vectors, so the raw corpus scan
    * (the big side) stays wherever it lives and is joined by id.
    * Output `(query_id, neighbor_id, rnk)`. */
  def searchIndex(queries: DataFrame, corpus: DataFrame, path: String,
      k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val spark = queries.sparkSession
    val cent = spark.read.parquet(s"$path/centroids.parquet")
    val qv = queries.select(col("query_id").as("vec_id"), col("va").as("v"))
    // localCheckpoint so the query-side centroid assignment is computed
    // ONCE: both the probed-bucket collect below and the final probe
    // join consume `buckets`, and without materialization each would
    // re-run the assignment — a whole extra job per call on the
    // per-micro-batch serve path (searchIndexStream). Batch-sized
    // (|queries| × nprobe rows), never corpus-sized.
    val buckets =
      (if (nprobe == 1) ivfAssignNarrow(qv, cent).select("vec_id", "centroid")
       else ivfAssignN(qv, cent, nprobe).select("vec_id", "centroid"))
        .localCheckpoint()
    // The probed bucket set is collected up front — bounded by
    // min(|batch| × nprobe, nCentroids) distinct labels, i.e. driver-
    // safe by construction — and pushed into the assignment scan as a
    // PARTITION filter on the bucket-partitioned layout: the probe
    // reads only the probed buckets' files (`PartitionFilters` in the
    // plan), not the corpus-sized assignment. Flat pre-r8 layouts get
    // the same predicate as an ordinary pushed filter. The equi-join
    // on `centroid` below stays the correctness boundary; the filter
    // is its (superset) pruning form.
    val probed = buckets.select("centroid").distinct().collect()
      .map(_.get(0).asInstanceOf[Number].longValue()).toSeq
    val (raw, partitioned) = readAssignment(spark, path)
    val pruned =
      if (partitioned) {
        val lits: Seq[Any] = raw.schema(BucketCol).dataType match {
          case org.apache.spark.sql.types.IntegerType => probed.map(_.toInt)
          case _ => probed
        }
        raw.filter(col(BucketCol).isin(lits: _*)).drop(BucketCol)
      } else raw.filter(col("centroid").isin(probed: _*))
    val assign =
      if (pathExists(spark, s"$path/tombstones.parquet"))
        pruned.join(
          broadcast(spark.read.parquet(s"$path/tombstones.parquet")),
          Seq("vec_id"), "left_anti")
      else pruned
    val q = buckets.select(col("vec_id").as("query_id"), col("centroid"))
      .join(queries, "query_id")
    val c = corpus
      .join(assign, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
        col("centroid"))
    ivfTopK(q.select(col("query_id"), col("va"), col("centroid")), c, k)
  }

  /** Streaming ANN serve: answer a STREAM of queries `(query_id, va)`
    * from a [[saveIndex]] directory, one [[searchIndex]] call per
    * micro-batch via `foreachBatch`. The per-batch search is the full
    * bucket-probe top-k (window rank inside — not expressible as a pure
    * append-mode streaming plan, which is exactly what `foreachBatch`
    * is for), so each batch's results are bit-identical to the batch
    * serve path on the same rows; `sink` receives them with the batch
    * id. The static sides reload per batch: centroids and assignment
    * re-read from `path` inside [[searchIndex]], and `corpus` is
    * BY-NAME — re-evaluated every micro-batch — so passing a
    * `spark.read.parquet(...)`-style read expression picks up files
    * appended between batches (a captured DataFrame val would pin its
    * file listing at stream start and silently hide vectors ingested
    * after it). Index maintenance ([[appendToIndex]]/
    * [[removeFromIndex]]) between batches is therefore served live.
    * Caller starts/stops the returned query. */
  def searchIndexStream(queries: DataFrame, corpus: => DataFrame,
      path: String, k: Int, nprobe: Int = 1)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(searchIndex(batch, corpus, path, k, nprobe), batchId)
      }

  /** Incremental index maintenance: bucket `newVectors` against the
    * SAVED centroids and append their assignments to the index — the
    * steady-state ingest path (a coarse quantizer is retrained rarely;
    * arrivals just take a bucket). Uses the narrow streaming-safe
    * kernel, so the same call shape serves a batch backfill or a
    * `foreachBatch` micro-batch sink. Appending never rewrites the
    * existing assignment files, and the result is bit-identical to
    * re-assigning the union from scratch (same centroids, same
    * per-vector argmin). Caller contract: `vec_id`s not already in the
    * index (append does not dedup). */
  def appendToIndex(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    val cent = spark.read.parquet(s"$path/centroids.parquet")
    // match the saved assignment's column types exactly — the narrow
    // kernel emits a LongType label, but the saved index may carry the
    // original (e.g. int) label type, and a parquet append with a
    // different schema would poison later reads. The append also
    // mirrors the saved LAYOUT: bucket-partitioned appends land in the
    // matching centroid_b= directories (partition pruning keeps
    // working across appends), flat pre-r8 dirs stay flat until a
    // compaction/saveIndex upgrades them.
    val (raw, partitioned) = readAssignment(spark, path)
    val saved = raw.schema
    val rows = ivfAssignNarrow(newVectors, cent)
      .select(col("vec_id").cast(saved("vec_id").dataType),
        col("centroid").cast(saved("centroid").dataType))
    if (partitioned) writeAssignment(rows, s"$path/assignment.parquet",
      mode = "append")
    else rows.write.mode("append").parquet(s"$path/assignment.parquet")
  }

  /** Delete `ids` (one `vec_id` column) from the index by TOMBSTONE:
    * the ids append to `tombstones.parquet` and [[loadIndex]] anti-joins
    * them out, so a delete is O(|ids|) — no rewrite of the (corpus-
    * sized) assignment table, which is what lets deletes run at ingest
    * cadence on a 10⁹-vector index. Search results over the survivors
    * are bit-identical to an index never containing the ids (the
    * assignment rows are dropped before any scoring). Tombstones
    * accumulate until [[compactIndex]] folds them in; re-adding a
    * tombstoned `vec_id` via [[appendToIndex]] requires compacting
    * first (the anti-join is by id and would hide the new row too). */
  def removeFromIndex(ids: DataFrame, path: String): Unit = {
    val spark = ids.sparkSession
    val saved = spark.read.parquet(s"$path/assignment.parquet").schema
    ids.select(col("vec_id").cast(saved("vec_id").dataType))
      .write.mode("append").parquet(s"$path/tombstones.parquet")
  }

  /** Fold accumulated tombstones into the assignment table: write the
    * live rows aside, swap via RENAMES (never a bare delete of the only
    * copy), and drop the tombstone file last. Every filesystem step
    * checks its boolean return — Hadoop `FileSystem.rename`/`delete`
    * signal failure by returning false, not throwing — and the
    * tombstones are only removed after the swap has fully succeeded,
    * so no failure mode loses both the assignment rows and the
    * tombstone intent: at worst a crash leaves `assignment.parquet`
    * under its `.old` name plus the completed `.compact` copy, both
    * recoverable on disk. Run at maintenance cadence — the rewrite is
    * one scan of the assignment table, the price deferred from every
    * [[removeFromIndex]] call. No-op when nothing is tombstoned.
    *
    * The rewrite always lands in the bucket-partitioned layout
    * ([[saveIndex]]'s `centroid_b=` directories), so compacting a flat
    * pre-partitioning index upgrades it in place.
    *
    * CONCURRENCY: the swap is two directory renames, and between them
    * `assignment.parquet` does not exist — a [[loadIndex]]/
    * [[searchIndex]] call or a [[searchIndexStream]] micro-batch
    * racing the swap fails with a missing-path error (correctness is
    * never at risk: both old and new contents exist on disk
    * throughout, the reader just can't see one atomically). QUIESCE
    * SERVES for the swap window, or schedule compaction in the
    * maintenance slot the serve stream already pauses for — crash
    * recovery (documented above) covers the failure modes, not
    * concurrent readers. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    if (!pathExists(spark, s"$path/tombstones.parquet")) return
    val (_, live) = loadIndex(spark, path)
    val tmp = s"$path/assignment.compact.parquet"
    writeAssignment(live, tmp, mode = "overwrite")
    val (assignP, fs) = fsPath(spark, s"$path/assignment.parquet")
    val (tmpP, _) = fsPath(spark, tmp)
    val (tombP, _) = fsPath(spark, s"$path/tombstones.parquet")
    val (oldP, _) = fsPath(spark, s"$path/assignment.old.parquet")
    if (fs.exists(oldP) && !fs.delete(oldP, true))
      throw new java.io.IOException(
        s"compactIndex: cannot clear stale $oldP — aborting before any swap")
    if (!fs.rename(assignP, oldP))
      throw new java.io.IOException(
        s"compactIndex: rename $assignP -> $oldP failed; index unchanged")
    if (!fs.rename(tmpP, assignP)) {
      // roll the original back so the index stays serveable
      fs.rename(oldP, assignP)
      throw new java.io.IOException(
        s"compactIndex: rename $tmpP -> $assignP failed; original restored")
    }
    if (!fs.delete(tombP, true))
      throw new java.io.IOException(
        s"compactIndex: swap succeeded but $tombP could not be removed — " +
          "delete it manually or re-run (the anti-join stays correct meanwhile)")
    fs.delete(oldP, true) // best-effort cleanup; stale .old is harmless
  }

  /** The outcome of one [[maintainIndex]] pass: measured recall before,
    * whether the quantizer was retrained, and recall after (== before
    * when no retrain happened). */
  case class MaintenanceReport(recallBefore: Double, retrained: Boolean,
      recallAfter: Double)

  /** Recall-drift maintenance — the missing third of the index
    * lifecycle (train/serve/append → delete/compact/RETRAIN). Appends
    * and deletes slowly invalidate the trained coarse quantizer: the
    * corpus drifts away from the centroids, buckets go lopsided, and
    * recall@k decays. This pass measures it and heals it:
    *
    *  1. recall@k of the saved index (nprobe=1 serve path) on a
    *     held-out sample — the `sampleSize` lowest query ids,
    *     deterministic, vs a brute-force ground truth over the live
    *     corpus (both sides tombstone-filtered via [[loadIndex]]).
    *  2. if recall ≥ `recallTarget`: report, touch nothing.
    *  3. else: [[compactIndex]], then retrain the quantizer and
    *     rewrite centroids + assignment (+ PQ codebook when present,
    *     rebuilt at its saved block count) via [[saveIndex]]. Two
    *     retrain regimes: when the live corpus has OUTGROWN the saved
    *     centroid count ([[adaptiveK]](nLive) > saved k — the
    *     append-path route back to the super-linear fixed-k bug the
    *     round-9 100× run caught), retrain at the adaptive k via
    *     [[trainAdaptiveQuantizer]] so mean bucket size returns to
    *     `targetBucket`; otherwise retrain WARM —
    *     [[trainCoarseQuantizer]] seeded from the saved centroids (k
    *     and dim preserved; drift adaptation, not from-scratch).
    *
    * Cost: the measurement is one bucket probe + one brute-force pass
    * of a broadcast-sized sample; the retrain is `maxIter` corpus
    * scans, paid only on drift. `corpus` is the vector table
    * `(vec_id, v)` the index serves (the index stores assignments, not
    * vectors); ids tombstoned via [[removeFromIndex]] are filtered out
    * of it here — ground truth, retrain input, and rewritten
    * assignment all see only live vectors, so a retrain can never
    * resurrect a deleted id even when the caller passes the original
    * unfiltered table. `queries` as `(query_id, va)`. */
  def maintainIndex(queries: DataFrame, corpus: DataFrame, path: String,
      k: Int, recallTarget: Double, sampleSize: Int = 16,
      maxIter: Int = 4, tol: Double = 0.0,
      targetBucket: Long = DefaultTargetBucket): MaintenanceReport = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recallTarget must be in (0,1], got $recallTarget")
    val spark = queries.sparkSession
    // The live corpus is the caller's table restricted to ids the index
    // actually serves: semi-join against the (tombstone-filtered)
    // assignment, RE-RESOLVED at each use — removeFromIndex never
    // touches the caller's table, so the natural call pattern passes
    // the frame the index was built over, deleted ids included. A
    // def (not a val) matters twice: the tombstone file the pre-compact
    // plan reads is deleted by compactIndex (a captured lazy plan would
    // hit a missing path), and the post-retrain recall must see the
    // REWRITTEN assignment.
    def liveCorpus(): DataFrame =
      corpus.join(loadIndex(spark, path)._2.select("vec_id"),
        Seq("vec_id"), "left_semi")
    val sample = queries.orderBy("query_id").limit(sampleSize)
    def recallOf(): Double = {
      val lc = liveCorpus()
      val truth = bruteForceTopK(sample,
        lc.select(col("vec_id").as("neighbor_id"), col("v").as("vb")), k)
        .select("query_id", "neighbor_id")
      val ann = searchIndex(
        sample.select(col("query_id"), col("va")), lc, path, k)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val agg = truth.join(ann, Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
          count(lit(1)).as("total")).head()
      if (agg.getLong(1) == 0L) 1.0
      else agg.getLong(0).toDouble / agg.getLong(1)
    }
    val before = recallOf()
    if (before >= recallTarget) MaintenanceReport(before, retrained = false, before)
    else {
      compactIndex(spark, path)
      // post-compact: the assignment itself is the live id set
      val lc = liveCorpus()
      val saved = spark.read.parquet(s"$path/centroids.parquet")
      val kCent = saved.count().toInt
      val nLive = lc.count()
      val kTarget = adaptiveK(nLive, targetBucket)
      val cent =
        if (kTarget > kCent)
          // the corpus outgrew the saved quantizer — grow k back to the
          // adaptive bucket-size contract (bounded-sample training)
          trainAdaptiveQuantizer(lc, targetBucket, maxIter, tol,
            knownN = Some(nLive))
        else
          trainCoarseQuantizer(lc, kCent, maxIter, tol,
            init = Some(saved.select("c_label", "c")))
      val savedAssign = spark.read.parquet(s"$path/assignment.parquet").schema
      val assign = ivfAssign(lc, cent)
        .select(col("vec_id").cast(savedAssign("vec_id").dataType),
          col("centroid").cast(savedAssign("centroid").dataType))
      val pq =
        if (pathExists(spark, s"$path/pq_codebook.parquet")) {
          val old = loadPqCodebook(spark, path)
          val blocks = old.agg(max("block")).head().getLong(0).toInt + 1
          val dim = cent.select(size(col("c"))).head().getInt(0)
          Some(pqCodebook(cent, blocks, dim))
        } else None
      saveIndex(path, cent, assign, pq)
      MaintenanceReport(before, retrained = true, recallOf())
    }
  }

  /** Health snapshot of a [[saveIndex]] directory. `imbalance` is
    * max-bucket ÷ mean-bucket — the serve-latency killer at scale: a
    * probe costs O(bucket size), so imbalance N means the hottest
    * bucket serves N× slower than the index's average promise. Rule of
    * thumb: imbalance > ~4 or a fast-growing `nTombstones` is the cue
    * to run [[compactIndex]]/[[maintainIndex]]. */
  case class IndexStats(nVectors: Long, nCentroids: Long, nTombstones: Long,
      minBucket: Long, medianBucket: Long, maxBucket: Long, imbalance: Double)

  /** Compute [[IndexStats]] with one aggregate over the live
    * assignment (bucket sizes — at most `nCentroids` rows reach the
    * driver, bounded by construction) plus tiny counts. Empty buckets
    * (centroids attracting nothing after deletes) count as size 0. */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexStats = {
    val cent = spark.read.parquet(s"$path/centroids.parquet")
    val assign = spark.read.parquet(s"$path/assignment.parquet")
    // one existence probe + one read of the tombstone file, shared by
    // the count and the live anti-join (loadIndex would re-probe and
    // re-read — this is the poll-cheap monitoring path)
    val tomb =
      if (pathExists(spark, s"$path/tombstones.parquet"))
        Some(spark.read.parquet(s"$path/tombstones.parquet"))
      else None
    val live = tomb.fold(assign)(t =>
      assign.join(broadcast(t), Seq("vec_id"), "left_anti"))
    val nCentroids = cent.count()
    val nTomb = tomb.map(_.count()).getOrElse(0L)
    val sizes = live.groupBy("centroid").count()
      .collect().map(_.getLong(1))
    val all = (sizes ++ Array.fill((nCentroids - sizes.length).toInt)(0L)).sorted
    val n = all.sum
    val median = if (all.isEmpty) 0L else all(all.length / 2)
    val mean = if (nCentroids == 0) 0.0 else n.toDouble / nCentroids
    IndexStats(n, nCentroids, nTomb,
      if (all.isEmpty) 0L else all.head, median,
      if (all.isEmpty) 0L else all.last,
      if (mean == 0) 0.0 else all.lastOption.getOrElse(0L) / mean)
  }

  /** Drop this session's cached ANN shared stages (see
    * [[SimilarityQueries.sharedStages]]): unpersists the centroid and
    * assignment frames and forgets the cache entries. The library-API
    * teardown hook — [[graft.GraftSession.release]] calls it — for
    * long-lived sessions that are done with a corpus. */
  def releaseStages(session: org.apache.spark.sql.SparkSession): Unit =
    SimilarityQueries.releaseStages(session)
}
