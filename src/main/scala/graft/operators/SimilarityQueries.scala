package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star surface).
  *
  * Two paths:
  *  - `sim_topk_bruteforce`: exact cosine top-k — the correctness baseline.
  *    The query set is broadcast against the candidate corpus, so the plan
  *    is one scan of the big side with a broadcast-nested-loop — at 100 TB
  *    this is the "small query batch × huge corpus" shape, which is exactly
  *    what a brute-force ANN pass should look like (no shuffle of the
  *    corpus, map-side top-k via the window partition on query_id).
  *  - `sim_ann_lsh`: random-hyperplane LSH (4 tables × 8 bits) — candidates
  *    share a bucket in at least one table; top-k within candidates. The
  *    bucket equi-join replaces the cartesian, so corpus×corpus search
  *    scales as a shuffled hash join on bucket keys.
  *
  * Hyperplanes are deterministic: component k of plane j has sign given by
  * the parity of xxhash64(j·1000003 + k) — reproducible with no stored
  * model and identically computable on any executor.
  */
object SimilarityQueries {

  /** embeddings as `(vec_id, v: array<double>)` */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** Shared coarse-quantizer stages, computed ONCE per (session, fixture
    * dir) and persisted: the rounded per-label mean centroids and the
    * full IVF assignment (`vec_id` → nearest centroid). Every registered
    * ANN query (`ivf_assign`, `sim_ann_ivf`, `sim_ann_ivf_probe2`,
    * `sim_ann_ivfpq`, `sim_ann_pq`, `vec_pq_assign`, `dedup_semantic`)
    * reads these instead of re-planning the centroid posexplode
    * aggregate, so each query's plan contains at most ONE centroid
    * HashAggregate (zero once warm — an InMemoryTableScan). This is the
    * 100 TB shape too: train the coarse quantizer once, reuse it for
    * every search — both stages are tiny (k centroid rows; one
    * (vec_id, centroid) pair per vector, no floats). */
  private val stageCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]

  /** The corpus-wide nprobe-2 assignment `(vec_id, centroid,
    * probe_rank)`, memoized per (session, fixture) exactly like
    * [[sharedStages]] — round 15: `ivf_assign_capped` and
    * `dedup_semantic_probe2` each re-ran this one window pass
    * (corpus-keyed shuffle + rank) per call. Same 100 TB rationale as
    * the single-probe stage: the index's assignment is built once and
    * served to every search; the frame is narrow (two ids + a rank,
    * no floats). */
  private val assign2Cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  private[graft] def sharedAssign2(s: SparkSession, dir: String): DataFrame =
    StageCaches.memo(assign2Cache, s, dir) {
      Similarity.ivfAssignN(vecs(s, dir), sharedStages(s, dir)._1, nprobe = 2)
        .persist()
    } { df => df.unpersist(blocking = true) }

  private[graft] def sharedStages(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    // stopped-session eviction + memoization rules live in StageCaches
    StageCaches.memo(stageCache, s, dir) {
      // a saved index (Similarity.saveIndex) short-circuits training:
      // both stages come off parquet — zero centroid aggregates in any
      // downstream plan, bit-identical search results (doubles round-
      // trip exactly). The conf is session-scoped, so it names ONE
      // index — the session's corpus — as a production session would.
      s.conf.getOption("spark.graft.ann.indexDir") match {
        case Some(idx) =>
          val (cent, assign) = try Similarity.loadIndex(s, idx) catch {
            case e: Exception => throw new IllegalArgumentException(
              s"spark.graft.ann.indexDir=$idx is not a readable graft " +
                "index (expected centroids.parquet + assignment.parquet " +
                "written by Similarity.saveIndex); unset the conf to train " +
                s"from the corpus instead. Cause: ${e.getMessage}", e)
          }
          (cent.persist(), assign.persist())
        case None =>
          // cent persists BEFORE assign is built so the assignment's own
          // materialization reads the cached centroids, not a re-planned
          // aggregate.
          //
          // ADAPTIVE k (round-9 100× lesson): every in-bucket stage —
          // dedup_semantic's pair generation above all — costs
          // Σ bucket², so a FIXED centroid count makes the engine
          // super-linear the moment buckets grow with the corpus
          // (measured: 8 s → 182 s on 10×→100×, exponent 1.4). At or
          // below Similarity.OracleExactMaxVectors the 10 label-mean
          // centroids are exact-oracle territory (all driver
          // fixtures); above it the quantizer holds MEAN BUCKET SIZE
          // constant via Similarity.trainAdaptiveQuantizer (k =
          // n/targetBucket, bounded 256·k training sample), making
          // in-bucket pair cost O(n·targetBucket) — linear — at any
          // corpus size. Round 10 hoisted the adaptive trainer into
          // the library index lifecycle (buildIndex/maintainIndex);
          // this stage delegates to the same code.
          val emb = Tables(s, dir, "embeddings")
          val n = emb.count()
          val cent = (if (n <= Similarity.OracleExactMaxVectors)
            Similarity.meanCentroids(emb.select(col("label"),
              expr("transform(embedding, x -> cast(x as double))").as("v")))
          else
            Similarity.trainAdaptiveQuantizer(vecs(s, dir),
              maxIter = 3, tol = 1e-3, knownN = Some(n))).persist()
          (cent, Similarity.ivfAssign(vecs(s, dir), cent).persist())
      }
    } { case (cent, assign) =>
      cent.unpersist(blocking = true)
      assign.unpersist(blocking = true)
    }

  /** Unpersist and forget this session's shared stages — the teardown
    * twin of [[sharedStages]] (blocking, so callers can assert the
    * cache blocks are gone). Entry point: [[Similarity.releaseStages]]. */
  private[graft] def releaseStages(s: SparkSession): Unit = {
    StageCaches.release(assign2Cache, s)(_.unpersist(blocking = true))
    StageCaches.release(stageCache, s) { case (cent, assign) =>
      cent.unpersist(blocking = true)
      assign.unpersist(blocking = true)
    }
  }

  private def querySide(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("va"))
  private def corpusSide(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"))

  /** Sign-quantized 64-bit signatures (two sub-31-bit BIGINT halves so
    * no engine differs on sign-bit shifts) + per-query Hamming-ranked
    * top-k: `(query_id, neighbor_id, hamming, rnk)`. ONE home for the
    * quantization boundary and tie-break — `sim_ann_hamming` is the
    * k=5 ANN result, `sim_ann_rerank` consumes the k=20 candidate
    * set. */
  private def hammingCandidates(e: DataFrame, k: Int): DataFrame = {
    val sig = e.select(col("vec_id"),
      expr("aggregate(sequence(0, 31), 0L, (a, i) -> a + " +
        "IF(element_at(v, i + 1) >= 0D, shiftleft(1L, i), 0L))").as("s1"),
      expr("aggregate(sequence(32, 63), 0L, (a, i) -> a + " +
        "IF(element_at(v, i + 1) >= 0D, shiftleft(1L, i - 32), 0L))").as("s2"))
    val q = sig.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("s1").as("q1"), col("s2").as("q2"))
    val c = sig.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("s1").as("c1"), col("s2").as("c2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("hamming",
        (bit_count(col("q1").bitwiseXOR(col("c1"))) +
          bit_count(col("q2").bitwiseXOR(col("c2")))).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "hamming", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact top-5 neighbors for query vectors vec_id < 10 over the rest.
    "sim_topk_bruteforce" -> { (s, dir) =>
      val e = vecs(s, dir)
      Similarity.bruteForceTopK(querySide(e), corpusSide(e), k = 5)
    },
    // Hard-negative mining for contrastive training: each query's top-3
    // most-similar corpus vectors with a DIFFERENT label — the nearest
    // non-matches a contrastive objective needs as negatives. Same
    // broadcast scan shape as sim_topk_bruteforce with the label
    // predicate fused into the join.
    "sim_hard_negatives" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v",
          "label")
      Similarity.hardNegatives(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("va"), col("label")),
        e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("label")),
        k = 3)
    },
    // LSH-bucketed ANN: same query set, approximate candidates. The
    // hyperplane signs come from a Lehmer step over plain BIGINT
    // arithmetic (see SketchImpl.hyperplaneSigns), so the entire
    // pipeline — sign table, ordered dot folds, bucket packing,
    // candidate join, cosine top-5 — has an exact DuckDB oracle;
    // recall vs. brute force is additionally asserted in SimilaritySpec.
    "sim_ann_lsh" -> { (s, dir) =>
      val e = vecs(s, dir)
      Similarity.lshTopK(querySide(e), corpusSide(e),
        tables = 4, bits = 8, dim = 64, k = 5)
    },
    // IVF assignment step: coarse quantizer over 4-decimal-rounded
    // per-label mean centroids, so both engines score from identical
    // inputs. At 100 TB the corpus is bucketed by centroid once, and
    // queries probe only their nearest bucket(s) (sim_ann_ivf).
    "ivf_assign" -> { (s, dir) => sharedStages(s, dir)._2 },
    // Bucket-balance report over the served assignment — the index
    // health metric behind the round-9 adaptive-k fix: every in-bucket
    // stage costs Σ bucket², so ops watches per-bucket share and the
    // max/even-share ratio and retrains (more centroids / capped
    // assignment) when a bucket runs hot. One metadata-sized aggregate
    // off the persisted shared stage; integer micro-unit shares.
    "vec_ivf_balance" -> { (s, dir) =>
      val assign = sharedStages(s, dir)._2
      val per = assign.groupBy("centroid").agg(count(lit(1)).as("n_vecs"))
      val tot = per.agg(sum("n_vecs").as("n_total"),
        count(lit(1)).as("n_buckets"))
      per.crossJoin(broadcast(tot))
        .select(col("centroid"), col("n_vecs"),
          expr("n_vecs * 1000000 div n_total").as("share_micro"),
          // this bucket's size vs the perfectly-even bucket, in micro
          // units: >1e6 = hot. Integer division keeps the row exact.
          expr("n_vecs * n_buckets * 1000000 div n_total").as("hot_micro"))
    },
    // CAPACITY-BOUNDED IVF assignment — the hot-bucket mitigation a
    // production index runs: a skewed corpus can pile most vectors
    // into few buckets, making every probe of those buckets pay the
    // hot-bucket scan. Round 1 keeps at most CAP=40 vectors per
    // first-choice bucket (rank within bucket — here by vec_id so the
    // cut is integer-exact; production ranks by distance so the
    // CLOSEST stay); overflow spills to each vector's SECOND-nearest
    // centroid (round 2, uncapped — two rounds bound the cascade).
    // Both rounds are bucket-partitioned windows + equi-joins; the
    // `spilled` flag makes serve-time recall accounting explicit
    // (a spilled vector is found via nprobe ≥ 2, not its home bucket).
    "ivf_assign_capped" -> { (s, dir) =>
      val two = sharedAssign2(s, dir)
      val first = two.filter(col("probe_rank") === 1)
        .select("vec_id", "centroid")
      val second = two.filter(col("probe_rank") === 2)
        .select("vec_id", "centroid")
      val wCap = org.apache.spark.sql.expressions.Window
        .partitionBy("centroid").orderBy("vec_id")
      val ranked = first.withColumn("crk", row_number().over(wCap))
      ranked.filter(col("crk") <= 40)
        .select(col("vec_id"), col("centroid"), lit(false).as("spilled"))
        .unionAll(ranked.filter(col("crk") > 40).select("vec_id")
          .join(second, "vec_id")
          .select(col("vec_id"), col("centroid"), lit(true).as("spilled")))
    },
    // The streaming-safe narrow assign kernel (per-row argmin over the
    // centroid literal — no window, no aggregate; what an append-mode
    // ingest stream runs on arrival). Bit-compatible with ivf_assign,
    // so it shares the same DuckDB oracle — the oracle gate proves the
    // two kernels agree, and StreamingSpec drives it through an actual
    // MemoryStream.
    "ivf_assign_narrow" -> { (s, dir) =>
      Similarity.ivfAssignNarrow(vecs(s, dir), sharedStages(s, dir)._1)
        .select(col("vec_id"),
          col("centroid").cast("int").as("centroid")) // match ivf_assign's label type
    },
    // SemDeDup-style semantic dedup: IVF-cluster the embeddings, call a
    // pair near-duplicate when cosine >= 0.3 WITHIN a cluster, keep the
    // min-id representative per connected component. The centroid
    // equi-join bounds the pairwise stage to per-bucket cardinality;
    // the 0.3 threshold clears both engines' float noise by ~2e-4 on
    // this fixture. Oracle: the full pipeline (rounded centroids →
    // argmin assign → in-bucket cosine pairs → recursive-CTE CC).
    "dedup_semantic" -> { (s, dir) =>
      Dedup.semanticClustersAssigned(vecs(s, dir), sharedStages(s, dir)._2, tau = 0.3)
    },
    // Multi-probe SemDeDup: pair candidates share ANY of each vector's 2
    // nearest centroids instead of exactly the nearest — the deployable
    // form of the measured recall dial (`Dev recall`: 0.23 → 0.62 of
    // true cosine≥0.3 pairs on the 10× corpus for ~2× candidate cost;
    // PERF.md round-9). Reuses the shared persisted nprobe-2 assignment
    // stage (sharedAssign2 — round 15; previously a fresh broadcast-
    // argmin pass per call); duplicate pairs from doubly-shared buckets
    // are redundant CC edges (harmless). Same output contract as
    // dedup_semantic.
    "dedup_semantic_probe2" -> { (s, dir) =>
      val assign2 = sharedAssign2(s, dir).select("vec_id", "centroid")
      Dedup.semanticClustersAssigned(vecs(s, dir), assign2, tau = 0.3)
    },
    // IVF search: probe only the query's centroid bucket, exact top-3
    // within it. Oracle: the full IVF pipeline (rounded centroids →
    // argmin assignment → bucket probe → cosine top-3) is expressible in
    // DuckDB SQL; SimilaritySpec additionally checks recall vs brute force.
    "sim_ann_ivf" -> { (s, dir) =>
      val assign = sharedStages(s, dir)._2
      val v = vecs(s, dir).join(assign, "vec_id")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("va"), col("centroid"))
      val c = v.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("centroid"))
      Similarity.ivfTopK(q, c, k = 3)
    },
    // Radius search: ALL in-bucket corpus vectors with cosine >= 0.3 of
    // each query — the threshold twin of sim_ann_ivf (no k truncation,
    // no rank window; one bucket equi-join + a codegen'd cosine
    // predicate). The 0.3 bar clears both engines' float noise on this
    // fixture (SimilaritySpec asserts the margin), so the pair set is
    // oracle-exact.
    "sim_range_search" -> { (s, dir) =>
      val assign = sharedStages(s, dir)._2
      val v = vecs(s, dir).join(assign, "vec_id")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("va"), col("centroid"))
      val c = v.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("centroid"))
      Similarity.ivfRangeSearch(q, c, tau = 0.3)
    },
    // 1-bit (sign) quantized ANN: pack each 64-dim vector's component
    // signs into two 32-bit halves of BIGINTs and rank by Hamming
    // distance (bit_count of xor) — the extreme compression point of
    // the int8/PQ family (8 signature bytes vs 256 float bytes = 32×
    // less scan IO; the standard first-pass filter before a float
    // rerank). Halves stay below bit 31, so no engine differs on
    // sign-bit shift semantics, and the whole ranking is integer
    // arithmetic → exact oracle, no float-noise margins needed.
    // Top-5 per query by (hamming asc, neighbor_id): same broadcast
    // scan shape as sim_topk_bruteforce.
    "sim_ann_hamming" -> { (s, dir) =>
      hammingCandidates(vecs(s, dir), k = 5)
    },
    // Two-stage serving: integer Hamming FIRST-PASS (the 32×-smaller
    // sign signatures rank 20 candidates per query) then an EXACT
    // cosine rerank of only those candidates — the standard
    // coarse-filter → precise-rerank pattern every production vector
    // service runs, composed from sim_ann_hamming's signature stage
    // and the brute-force scorer. The rerank join touches ≤ 20 rows
    // per query (candidate set, not corpus), so the expensive float
    // kernel runs on a metadata-sized table; both windows partition
    // by query_id. Output keeps the stage-1 hamming so the rerank's
    // reordering is auditable.
    "sim_ann_rerank" -> { (s, dir) =>
      val e = vecs(s, dir)
      val cand = hammingCandidates(e, k = 20)
        .select("query_id", "neighbor_id", "hamming")
      val qv = querySide(e)
      val cv = corpusSide(e)
      val wC = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
        .withColumn("cos", graft.functions.SketchExpressions.cosine_sim(
          col("va"), col("vb")))
        .withColumn("rnk", row_number().over(wC).cast("long"))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id", "hamming", "rnk")
    },
    // Matryoshka-truncation evaluation: top-5 recall when ranking with
    // only the first 16/32/64 embedding dimensions against the
    // full-dimension truth — the measurement behind "can we serve the
    // 4×-cheaper prefix?" that MRL-style embedding rollouts run before
    // truncating an index. One brute-force ranking per prefix width
    // (same broadcast-query scan shape as sim_topk_bruteforce, corpus
    // scanned once per width), hits counted by a semi-join against the
    // full-dim top-5, recall in integer permille. The 64-dim row is
    // the built-in sanity check: recall ≡ 1000 by construction.
    "vec_matryoshka_eval" -> { (s, dir) =>
      val e = vecs(s, dir)
      def pref(d: Int) = Similarity.bruteForceTopK(
          querySide(e.select(col("vec_id"), expr(s"slice(v, 1, $d)").as("v"))),
          corpusSide(e.select(col("vec_id"), expr(s"slice(v, 1, $d)").as("v"))),
          k = 5)
        .select(lit(d).as("dims"), col("query_id"), col("neighbor_id"))
      // one subtree for d=64: it serves both the union branch and the
      // truth side (a second pref(64) would plan the most expensive
      // full-dim ranking twice)
      val p64 = pref(64)
      val truth = p64.select("query_id", "neighbor_id")
      val hits = (Seq(16, 32).map(pref) :+ p64).reduce(_ unionAll _)
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("dims").agg(count(lit(1)).as("n_hits"))
      hits.crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(col("dims"), col("n_hits"),
          expr("n_hits * 1000 div n_truth").as("recall_permille"))
    },
    // Multi-probe IVF: queries probe their 2 nearest buckets (corpus
    // stays single-assigned) — the standard recall-recovery knob for
    // vectors near bucket boundaries, at 2× bounded probe cost.
    "sim_ann_ivf_probe2" -> { (s, dir) =>
      val e = vecs(s, dir)
      val (cent, assign) = sharedStages(s, dir)
      // query side probes its 2 nearest buckets (a fresh, tiny argmin
      // over the shared centroids); the corpus keeps its shared
      // single-bucket assignment — per-vector argmin is independent, so
      // filtering the shared assignment equals assigning the filtered set.
      val q = e.filter(col("vec_id") < 10)
        .join(Similarity.ivfAssignN(e.filter(col("vec_id") < 10), cent, 2), "vec_id")
        .select(col("vec_id").as("query_id"), col("v").as("va"), col("centroid"))
      val c = e.filter(col("vec_id") >= 10)
        .join(assign, "vec_id")
        .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("centroid"))
      Similarity.ivfTopK(q, c, k = 3)
    },
    // ANN quality evaluation: per-query recall of the IVF search against
    // brute-force ground truth — the metric that decides whether an
    // index's probe count is adequate before a 100 TB rollout. Both
    // sides are tiny per-query top-k lists (k rows per query), so the
    // comparison join costs nothing next to the searches themselves;
    // the IVF side reuses the shared assign stage. Integer outputs
    // (hits, truth size) keep the comparison float-free.
    "sim_recall_at_k" -> { (s, dir) =>
      val e = vecs(s, dir)
      val truth = Similarity.bruteForceTopK(querySide(e), corpusSide(e), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val v = e.join(sharedStages(s, dir)._2, "vec_id")
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("va"), col("centroid"))
      val c = v.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("centroid"))
      val ann = Similarity.ivfTopK(q, c, k = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      truth.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          count(lit(1)).as("n_truth"))
    },
    // One Lloyd iteration of k-means: re-estimate each centroid as the
    // mean of the vectors currently assigned to it (the shared IVF
    // assignment). Iterating this step IS k-means training — the
    // "train the coarse quantizer" path that produces the centroids a
    // production IVF index uses (the registered queries seed from
    // per-label means purely because the fixture ships labels). Same
    // one-shuffle posexplode aggregate shape as vec_centroids; assigned
    // membership counts come out alongside for empty-cluster handling.
    // Each component quantizes to an exact BIGINT (floor(x·1e6+0.5))
    // BEFORE the group sum, so the reduction is order-free and the
    // DuckDB compare exact — round(avg(...),4) had a summation-order
    // tie at the rounding boundary (the vec_quantize_int8 hazard). The
    // new mean is sum_q/(n·1e6), recovered downstream by the trainer.
    "vec_kmeans_step" -> { (s, dir) =>
      vecs(s, dir).join(sharedStages(s, dir)._2, "vec_id")
        .select(col("centroid"), posexplode(col("v")))
        .select(col("centroid"), col("pos").as("dim"),
          expr("cast(floor(col * 1e6 + 0.5d) as bigint)").as("q"))
        .groupBy("centroid", "dim")
        .agg(sum("q").as("sum_q"), count(lit(1)).as("n"))
        .select("centroid", "dim", "sum_q", "n")
    },
    // Two full Lloyd iterations through Similarity.trainCoarseQuantizer
    // — the driver-coordinated k-means training loop (assign → quantized
    // re-mean, empty-cluster reseed, quantized-shift stop), seeded from
    // the shared label-mean centroids. Output: the trained centroids,
    // per-component, quantized to exact BIGINTs (floor(m·1e6+0.5)), so
    // the whole 2-iteration trajectory has an exact DuckDB oracle (the
    // fixture reseeds nothing — SimilaritySpec asserts every cluster
    // stays populated, which is what makes the reseed-free SQL twin
    // faithful).
    "vec_kmeans_train2" -> { (s, dir) =>
      val cent = sharedStages(s, dir)._1
      val trained = Similarity.trainCoarseQuantizer(vecs(s, dir),
        k = cent.count().toInt, maxIter = 2, tol = 0.0, init = Some(cent))
      trained.select(col("c_label").as("centroid"), posexplode(col("c")))
        .select(col("centroid"), col("pos").as("dim"),
          expr("cast(floor(col * 1e6 + 0.5d) as bigint)").as("m_q"))
    },
    // One power-iteration step toward the corpus's top principal
    // direction, gram-matrix-free: w = Eᵀ(E·v) with the deterministic
    // all-ones seed v — the building block for distributed PCA /
    // spectral whitening before ANN indexing, where E is 10⁹×64 and the
    // 64×64 Gram matrix must never materialize per-executor state
    // beyond one row. Two passes: s_i = v·e_i per row (ordered in-array
    // fold, narrow map, no shuffle), then w_d = Σ_i s_i·e_{i,d} as a
    // posexplode aggregate keyed by dimension (one shuffle, map-side
    // partials). Per-term products quantize to integers BEFORE the
    // group sum (the PQ distance-table pattern) so the reduction is
    // order-free and the DuckDB compare exact.
    "vec_pca_power_iter" -> { (s, dir) =>
      vecs(s, dir)
        .withColumn("sv", expr("aggregate(v, 0D, (a, x) -> a + x)"))
        .select(col("sv"), posexplode(col("v")))
        .select(col("pos").as("dim"),
          expr("cast(floor(sv * col * 1e6 + 0.5d) as bigint)").as("q"))
        .groupBy("dim")
        .agg(sum("q").as("w_q"), count(lit(1)).as("n"))
    },
    // Per-label centroids: posexplode + (label, dim) aggregate — the
    // standard distributed "mean vector per class" shape (one shuffle
    // keyed by (label, dim); reassembly is a cheap driver-side sort or
    // array_agg downstream). avg is rounded to 4 decimals on both
    // engines to absorb summation-order ulps.
    "vec_centroids" -> { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").as("dim"))
        .agg(round(avg(col("col").cast("double")), 4).as("mean_val"),
          count(lit(1)).as("n"))
        .select("label", "dim", "mean_val", "n")
    },
    // int8 quantization (the storage/bandwidth scale path for ANN over
    // 10^9+ vectors): per-vector absmax scale, symmetric round-to-127.
    // Quantized value is floor(x/scale*127 + 0.5) — floor is exact in
    // IEEE double on both engines, unlike round() whose tie handling
    // differs (Spark HALF_UP on decimal repr vs DuckDB C-library), so
    // the oracle compare is exact integer math after one aligned step.
    "vec_quantize_int8" -> { (s, dir) =>
      Tables(s, dir, "embeddings")
        .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("scale", expr(
          "floor(array_max(transform(v, x -> abs(x))) * 1e6 + 0.5d) / 1e6"))
        .withColumn("q", expr(
          "transform(v, x -> cast(floor(x / scale * 127 + 0.5d) as bigint))"))
        .select(col("vec_id"), col("scale"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("array_min(q)").as("q_min"),
          expr("array_max(q)").as("q_max"),
          expr("size(filter(q, x -> abs(x) = 127))").cast("long").as("n_saturated"))
    },
    // Per-dimension whitening (standardization) — the preprocessing pass
    // before PQ/OPQ indexing or embedding-space clustering: z-score each
    // component against its dimension's corpus mean/std. Components
    // quantize to exact BIGINTs first (q = floor(x·1e6+0.5)), so the
    // per-dim count/sum/sum-of-squares are exact integers and
    // z = (n·q − S)/sqrt(n·Q − S²) is a scalar double expression over
    // exact inputs — deterministic on both engines (no float SUM whose
    // order could drift). Constant dimensions (variance 0) emit 0.
    // Overflow envelope: Σq² and the variance term n·Q − S² are the
    // wide ones (≤ n²·max|q|², over 2^63 at just ~3000 unit-scale
    // vectors), so they compute in DECIMAL(38,0) — Spark's exact
    // 128-bit path, HUGEINT on the DuckDB side — good to
    // n·max|q| < 10¹⁹ (10⁹ unit-scale vectors: 10¹⁵, four orders of
    // headroom). The variance is finished on the 64 stat rows, so the
    // corpus-side row work stays all-BIGINT: |n·q − S| ≤ 2·n·max|q|
    // needs only n·max|q| ≲ 4.6e18.
    // Scale shape: one posexplode aggregate keyed by dim (64 rows out),
    // broadcast back over a single corpus scan — stats never shuffle
    // the corpus.
    "vec_whiten" -> { (s, dir) =>
      val q = Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(expr(
          "transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5d) as bigint))")))
        .select(col("vec_id"), col("pos").as("dim"), col("col").as("q"))
      val stats = q.groupBy("dim").agg(
          count(lit(1)).as("n"), sum("q").as("sq"),
          sum(expr("cast(q as decimal(38,0)) * q")).as("qq"))
        .withColumn("var_q", expr(
          "cast(n as decimal(38,0)) * qq - cast(sq as decimal(38,0)) * sq"))
      q.join(broadcast(stats), "dim")
        .select(col("vec_id"), col("dim"),
          when(col("var_q") === 0, lit(0L))
            .otherwise(expr(
              """cast(floor(cast(n * q - sq as double)
                |  / sqrt(cast(var_q as double))
                |  * 10000 + 0.5d) as bigint)""".stripMargin))
            .as("z_q"))
    },
    // Product quantization: 64-dim vectors → 4 blocks of 16 dims, each
    // block coded by its nearest sub-centroid (same rounded per-label
    // centroids as IVF, sliced per block). At 10^9+ vectors this stores
    // 4 small codes instead of 64 floats; the codebook broadcasts and
    // the corpus is scanned once.
    "vec_pq_assign" -> { (s, dir) =>
      Similarity.pqAssign(vecs(s, dir), sharedStages(s, dir)._1, blocks = 4, dim = 64)
    },
    // PQ asymmetric-distance search: corpus represented only by its PQ
    // codes; each query broadcasts a per-(block, code) distance table
    // and the ranking is a code equi-join + integer sum — the
    // no-floats-in-the-scan shape that serves 10^9-vector ANN. Distances
    // quantize to ints before summing so the 4-way add is order-free.
    "sim_ann_pq" -> { (s, dir) =>
      val e = vecs(s, dir)
      val cent = sharedStages(s, dir)._1
      val codes = Similarity.pqAssign(e.filter(col("vec_id") >= 10), cent,
          blocks = 4, dim = 64)
        .withColumnRenamed("vec_id", "neighbor_id")
      Similarity.pqTopK(querySide(e), codes, cent, blocks = 4, dim = 64, k = 5)
    },
    // IVF + PQ combined: corpus bucketed by coarse centroid AND stored
    // as PQ codes; queries probe only their own bucket and score by the
    // broadcast ADC table. The trillion-vector serving layout, end to
    // end, with an exact SQL oracle.
    "sim_ann_ivfpq" -> { (s, dir) =>
      val e = vecs(s, dir)
      val (cent, assign) = sharedStages(s, dir)
      val q = querySide(e)
        .join(assign.withColumnRenamed("vec_id", "query_id"), "query_id")
      val codes = Similarity.pqAssign(e.filter(col("vec_id") >= 10), cent,
          blocks = 4, dim = 64)
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      Similarity.ivfPqTopK(q, codes, cent, blocks = 4, dim = 64, k = 3)
    },
    // L2 norms per vector (sequential fold inside the array — order-
    // deterministic on both engines; rounded to 4 decimals).
    "vec_norms" -> { (s, dir) =>
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        round(sqrt(expr(
          "aggregate(transform(embedding, x -> cast(x as double)), 0D, (a, x) -> a + x * x)")), 4)
          .as("l2_norm"))
    },
    // Johnson–Lindenstrauss random projection 64 → 16 dims with a
    // DETERMINISTIC ±1 sign matrix derived arithmetically from (i, j) —
    // the dimensionality reducer that runs BEFORE LSH/ANN when the
    // embedding width itself is the cost driver. No stored matrix, no
    // RNG state: s(i,j) is an integer expression both engines compute
    // identically, and each input coordinate quantizes to micro BEFORE
    // the ±1 dot product, so every output cell is an exact BIGINT.
    // Plan shape: 16 independent `aggregate(sequence(0,63), …)` folds —
    // pure per-row codegen'd higher-order functions, ZERO explode, zero
    // shuffle, zero joins; the projection of 100 TB of vectors is one
    // narrow map stage.
    "vec_rand_proj" -> { (s, dir) =>
      val proj = (0 until 16).map { j =>
        expr(
          s"""aggregate(sequence(0, 63), 0L, (acc, i) ->
             |  acc + cast(floor(cast(element_at(embedding, i + 1) as double)
             |                   * 1e6 + 0.5d) as bigint)
             |        * (1 - 2 * (((cast(i as bigint) * 1103515245
             |                      + ${j}L * 40503 + 12345) div 65536) % 2)))"""
            .stripMargin).as(s"p$j")
      }
      Tables(s, dir, "embeddings").select(col("vec_id") +: proj: _*)
    })

  /** The quantizer-contract CTE stack shared by every oracle that
    * derives the mean-centroid table: ONE home for the rounding
    * precision, list ordering and norm fold, so the oracles cannot
    * drift apart on what "the centroids" are.
    *
    * VALIDITY BOUND: these CTEs encode the LABEL-MEAN centroids, which
    * the engine only uses at or below
    * [[Similarity.OracleExactMaxVectors]] (= 20 000) embeddings. Above
    * that, [[sharedStages]] switches to adaptive-k trained centroids
    * (the round-9 100× scale fix) and every oracle built on this stack
    * (`ivf_assign*`, `sim_ann_ivf*`, `sim_ann_[ivf]pq`,
    * `vec_pq_assign`, `vec_ivf_balance`, `dedup_semantic*`) goes
    * hash-red wholesale. A fixture larger than the bound needs its
    * expectations regenerated from the engine, not this SQL —
    * `AdaptiveQuantizerSpec` pins the regime boundary from both
    * sides. */
  private val centroidCtes: String =
    """m AS (
      | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
      |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
      |   CAST(unnest(embedding) AS DOUBLE) AS val
      |  FROM embeddings) t GROUP BY 1, 2),
      |cent AS (
      | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
      |cent2 AS (
      | SELECT c_label, c,
      |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
      | FROM cent),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"""
      .stripMargin

  private val ivfAssignOracle: String =
    s"""WITH $centroidCtes
      |SELECT vec_id, c_label AS centroid FROM (
      | SELECT vec_id, c_label,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
      | FROM v, cent2) t WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "vec_ivf_balance" ->
      s"""WITH $centroidCtes,
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1),
        |per AS (
        | SELECT centroid, CAST(COUNT(*) AS BIGINT) AS n_vecs
        | FROM assign GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
        |             CAST(COUNT(*) AS BIGINT) AS n_buckets FROM per)
        |SELECT centroid, n_vecs,
        | CAST(n_vecs * 1000000 // n_total AS BIGINT) AS share_micro,
        | CAST(n_vecs * n_buckets * 1000000 // n_total AS BIGINT) AS hot_micro
        |FROM per, t""".stripMargin,
    "sim_topk_bruteforce" ->
      """SELECT query_id, neighbor_id, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                    CAST(c.embedding AS DOUBLE[])) DESC,
        |             c.vec_id) AS rnk
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 10 AND c.vec_id >= 10
        |) t WHERE rnk <= 5""".stripMargin,
    "sim_hard_negatives" ->
      """SELECT query_id, neighbor_id, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                    CAST(c.embedding AS DOUBLE[])) DESC,
        |             c.vec_id) AS rnk
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 10 AND c.vec_id >= 10 AND q.label <> c.label
        |) t WHERE rnk <= 3""".stripMargin,
    "ivf_assign" -> ivfAssignOracle,
    "ivf_assign_capped" ->
      s"""WITH $centroidCtes,
        |two AS (
        | SELECT vec_id, c_label AS centroid, rn FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn <= 2),
        |ranked AS (
        | SELECT vec_id, centroid,
        |  ROW_NUMBER() OVER (PARTITION BY centroid ORDER BY vec_id) AS crk
        | FROM two WHERE rn = 1)
        |SELECT vec_id, centroid, FALSE AS spilled
        |FROM ranked WHERE crk <= 40
        |UNION ALL
        |SELECT r.vec_id, s.centroid, TRUE AS spilled
        |FROM ranked r JOIN two s ON s.vec_id = r.vec_id AND s.rn = 2
        |WHERE r.crk > 40""".stripMargin,
    // same oracle on purpose: the gate proves the narrow streaming
    // kernel and the window-argmin kernel produce identical assignments
    "ivf_assign_narrow" -> ivfAssignOracle,
    "dedup_semantic" ->
      """WITH RECURSIVE m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1),
        |pairs AS (
        | SELECT a.vec_id AS a_id, b.vec_id AS b_id
        | FROM assign a JOIN assign b ON a.centroid = b.centroid
        | JOIN v va ON va.vec_id = a.vec_id
        | JOIN v vb ON vb.vec_id = b.vec_id
        | WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(va.v, vb.v) >= 0.3),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        | SELECT vec_id, vec_id FROM embeddings
        | UNION
        | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
        |SELECT id AS vec_id, MIN(r) AS cluster_id, (id = MIN(r)) AS keep
        |FROM reach GROUP BY id""".stripMargin,
    "dedup_semantic_probe2" ->
      """WITH RECURSIVE m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn <= 2),
        |pairs AS (
        | SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        | FROM assign a JOIN assign b ON a.centroid = b.centroid
        | JOIN v va ON va.vec_id = a.vec_id
        | JOIN v vb ON vb.vec_id = b.vec_id
        | WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(va.v, vb.v) >= 0.3),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        | SELECT vec_id, vec_id FROM embeddings
        | UNION
        | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
        |SELECT id AS vec_id, MIN(r) AS cluster_id, (id = MIN(r)) AS keep
        |FROM reach GROUP BY id""".stripMargin,
    "sim_ann_ivf" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1)
        |SELECT query_id, neighbor_id, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c.vec_id) AS rnk
        | FROM assign q
        | JOIN assign c ON q.centroid = c.centroid
        | JOIN v qv ON qv.vec_id = q.vec_id
        | JOIN v cv ON cv.vec_id = c.vec_id
        | WHERE q.vec_id < 10 AND c.vec_id >= 10
        |) t WHERE rnk <= 3""".stripMargin,
    "sim_ann_hamming" ->
      """WITH sig AS (
        | SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    CASE WHEN embedding[i + 1] >= 0 THEN (1::BIGINT << i)
        |         ELSE 0::BIGINT END)) AS BIGINT) AS s1,
        |  CAST(list_sum(list_transform(range(32, 64), i ->
        |    CASE WHEN embedding[i + 1] >= 0 THEN (1::BIGINT << (i - 32))
        |         ELSE 0::BIGINT END)) AS BIGINT) AS s2
        | FROM embeddings)
        |SELECT query_id, neighbor_id, hamming, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(bit_count(xor(q.s1, c.s1)) + bit_count(xor(q.s2, c.s2))
        |       AS BIGINT) AS hamming,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY bit_count(xor(q.s1, c.s1)) + bit_count(xor(q.s2, c.s2)),
        |             c.vec_id) AS rnk
        | FROM sig q, sig c
        | WHERE q.vec_id < 10 AND c.vec_id >= 10
        |) t WHERE rnk <= 5""".stripMargin,
    "vec_matryoshka_eval" -> {
      def pref(name: String, d: Int) =
        s"""$name AS (
           | SELECT query_id, neighbor_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |     ORDER BY list_cosine_similarity(q.v[1:$d], c.v[1:$d]) DESC,
           |              c.vec_id) AS rnk
           |  FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id >= 10
           | ) t WHERE rnk <= 5)""".stripMargin
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |${pref("p16", 16)},
        |${pref("p32", 32)},
        |${pref("p64", 64)},
        |pref AS (
        | SELECT 16 AS dims, query_id, neighbor_id FROM p16
        | UNION ALL SELECT 32, query_id, neighbor_id FROM p32
        | UNION ALL SELECT 64, query_id, neighbor_id FROM p64),
        |hits AS (
        | SELECT dims, COUNT(*) AS n_hits
        | FROM pref JOIN p64 t USING (query_id, neighbor_id)
        | GROUP BY dims),
        |tot AS (SELECT COUNT(*) AS n_truth FROM p64)
        |SELECT CAST(dims AS INT) AS dims, CAST(n_hits AS BIGINT) AS n_hits,
        | CAST(n_hits * 1000 // n_truth AS BIGINT) AS recall_permille
        |FROM hits, tot""".stripMargin
    },
    "sim_ann_rerank" ->
      """WITH sig AS (
        | SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    CASE WHEN embedding[i + 1] >= 0 THEN (1::BIGINT << i)
        |         ELSE 0::BIGINT END)) AS BIGINT) AS s1,
        |  CAST(list_sum(list_transform(range(32, 64), i ->
        |    CASE WHEN embedding[i + 1] >= 0 THEN (1::BIGINT << (i - 32))
        |         ELSE 0::BIGINT END)) AS BIGINT) AS s2
        | FROM embeddings),
        |cand AS (
        | SELECT query_id, neighbor_id, hamming FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   CAST(bit_count(xor(q.s1, c.s1)) + bit_count(xor(q.s2, c.s2))
        |        AS BIGINT) AS hamming,
        |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |     ORDER BY bit_count(xor(q.s1, c.s1)) + bit_count(xor(q.s2, c.s2)),
        |              c.vec_id) AS hrnk
        |  FROM sig q, sig c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        | ) t WHERE hrnk <= 20),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings)
        |SELECT query_id, neighbor_id, hamming, rnk FROM (
        | SELECT cand.query_id, cand.neighbor_id, cand.hamming,
        |  ROW_NUMBER() OVER (PARTITION BY cand.query_id
        |    ORDER BY list_cosine_similarity(qv.v, cv.v) DESC,
        |             cand.neighbor_id) AS rnk
        | FROM cand
        | JOIN v qv ON qv.vec_id = cand.query_id
        | JOIN v cv ON cv.vec_id = cand.neighbor_id
        |) t WHERE rnk <= 5""".stripMargin,
    "sim_range_search" ->
      s"""WITH $centroidCtes,
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |FROM assign q
        |JOIN assign c ON q.centroid = c.centroid
        |JOIN v qv ON qv.vec_id = q.vec_id
        |JOIN v cv ON cv.vec_id = c.vec_id
        |WHERE q.vec_id < 10 AND c.vec_id >= 10
        | AND list_cosine_similarity(qv.v, cv.v) >= 0.3""".stripMargin,
    // The sim_ann_ivf pipeline and the brute-force pipeline, joined into
    // a per-query hit count — recall@3 audit with all-integer outputs.
    "sim_recall_at_k" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1),
        |ann AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c.vec_id) AS rnk
        |  FROM assign q
        |  JOIN assign c ON q.centroid = c.centroid
        |  JOIN v qv ON qv.vec_id = q.vec_id
        |  JOIN v cv ON cv.vec_id = c.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        | ) t WHERE rnk <= 3),
        |truth AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                     CAST(c.embedding AS DOUBLE[])) DESC,
        |              c.vec_id) AS rnk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        | ) t WHERE rnk <= 3)
        |SELECT t.query_id,
        | CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hits,
        | CAST(COUNT(*) AS BIGINT) AS n_truth
        |FROM truth t LEFT JOIN ann a
        | ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        |GROUP BY 1""".stripMargin,
    "sim_ann_ivf_probe2" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ranked AS (
        | SELECT vec_id, c_label AS centroid,
        |  ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        | FROM v, cent2),
        |qassign AS (SELECT vec_id, centroid FROM ranked
        |            WHERE rn <= 2 AND vec_id < 10),
        |cassign AS (SELECT vec_id, centroid FROM ranked
        |            WHERE rn = 1 AND vec_id >= 10)
        |SELECT query_id, neighbor_id, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c.vec_id) AS rnk
        | FROM qassign q
        | JOIN cassign c ON q.centroid = c.centroid
        | JOIN v qv ON qv.vec_id = q.vec_id
        | JOIN v cv ON cv.vec_id = c.vec_id
        |) t WHERE rnk <= 3""".stripMargin,
    // the ivf_assign pipeline + a (centroid, dim) re-mean — one Lloyd step
    "vec_kmeans_step" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1)
        |SELECT centroid, dim, CAST(SUM(q) AS BIGINT) AS sum_q,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM (
        | SELECT a.centroid, CAST(unnest(range(len(e.embedding))) AS INT) AS dim,
        |  CAST(FLOOR(CAST(unnest(e.embedding) AS DOUBLE) * 1e6 + 0.5)
        |       AS BIGINT) AS q
        | FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id) t
        |GROUP BY 1, 2""".stripMargin,
    // The full 2-iteration Lloyd trajectory in SQL: label-mean seed →
    // assign → quantized re-mean (m1) → assign → quantized re-mean (m2)
    // → per-component BIGINT quantization. Every float op is either an
    // ordered fold (validated bit-equal elsewhere) or a single IEEE
    // division/floor over exact integers, so the compare is exact.
    "vec_kmeans_train2" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a1 AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1),
        |s1 AS (
        | SELECT centroid, dim, CAST(SUM(q) AS BIGINT) AS sum_q,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM (
        |  SELECT a1.centroid, CAST(unnest(range(len(e.embedding))) AS INT) AS dim,
        |   CAST(FLOOR(CAST(unnest(e.embedding) AS DOUBLE) * 1e6 + 0.5)
        |        AS BIGINT) AS q
        |  FROM embeddings e JOIN a1 ON a1.vec_id = e.vec_id) t
        | GROUP BY 1, 2),
        |m1 AS (
        | SELECT CAST(centroid AS BIGINT) AS c_label, dim,
        |  FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) / 1e6 AS m
        | FROM s1),
        |cent1 AS (
        | SELECT c_label, list(m ORDER BY dim) AS c FROM m1 GROUP BY c_label),
        |cent12 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent1),
        |a2 AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent12) t WHERE rn = 1),
        |s2 AS (
        | SELECT centroid, dim, CAST(SUM(q) AS BIGINT) AS sum_q,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM (
        |  SELECT a2.centroid, CAST(unnest(range(len(e.embedding))) AS INT) AS dim,
        |   CAST(FLOOR(CAST(unnest(e.embedding) AS DOUBLE) * 1e6 + 0.5)
        |        AS BIGINT) AS q
        |  FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id) t
        | GROUP BY 1, 2)
        |SELECT CAST(centroid AS BIGINT) AS centroid, dim,
        | CAST(FLOOR(FLOOR(CAST(sum_q AS DOUBLE) / n + 0.5) / 1e6 * 1e6 + 0.5)
        |      AS BIGINT) AS m_q
        |FROM s2""".stripMargin,
    // E·1 per row via the same sequential in-array fold the kernel uses
    // (list_aggregate over the stored order — validated bit-equal in the
    // sim_ann_lsh oracle), then integer-quantized products group-summed.
    "vec_pca_power_iter" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_aggregate(v, 'sum') AS sv FROM v),
        |e AS (
        | SELECT CAST(unnest(range(len(v))) AS INT) AS dim,
        |  CAST(FLOOR(sv * unnest(v) * 1e6 + 0.5) AS BIGINT) AS q
        | FROM s)
        |SELECT dim, CAST(SUM(q) AS BIGINT) AS w_q, CAST(COUNT(*) AS BIGINT) AS n
        |FROM e GROUP BY 1""".stripMargin,
    "vec_centroids" ->
      """SELECT label, dim, ROUND(AVG(v), 4) AS mean_val, COUNT(*) AS n
        |FROM (
        | SELECT label,
        |  CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS v
        | FROM embeddings) t
        |GROUP BY label, dim""".stripMargin,
    "vec_quantize_int8" ->
      """SELECT vec_id, scale,
        | CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        | list_aggregate(q, 'min') AS q_min,
        | list_aggregate(q, 'max') AS q_max,
        | CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_saturated
        |FROM (
        | SELECT vec_id, scale,
        |  [CAST(FLOOR(x / scale * 127 + 0.5) AS BIGINT) for x in v] AS q
        | FROM (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |   FLOOR(list_aggregate([abs(x) for x in CAST(embedding AS DOUBLE[])], 'max')
        |         * 1e6 + 0.5) / 1e6 AS scale
        |  FROM embeddings) t1) t2""".stripMargin,
    // Σq² and the variance term in HUGEINT (DuckDB's 128-bit exact
    // integers — the twin of the Spark side's DECIMAL(38,0))
    "vec_whiten" ->
      """WITH q AS (
        | SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |  CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
        |       AS BIGINT) AS q
        | FROM embeddings),
        |stats AS (
        | SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS sq,
        |  SUM(CAST(q AS HUGEINT) * q) AS qq
        | FROM q GROUP BY 1),
        |stats2 AS (
        | SELECT dim, n, sq,
        |  CAST(n AS HUGEINT) * qq - CAST(sq AS HUGEINT) * sq AS var_q
        | FROM stats)
        |SELECT q.vec_id, q.dim,
        | CASE WHEN stats2.var_q = 0
        |  THEN CAST(0 AS BIGINT)
        |  ELSE CAST(FLOOR(CAST(stats2.n * q.q - stats2.sq AS DOUBLE)
        |        / SQRT(CAST(stats2.var_q AS DOUBLE))
        |        * 10000 + 0.5) AS BIGINT) END AS z_q
        |FROM q JOIN stats2 ON q.dim = stats2.dim""".stripMargin,
    "vec_pq_assign" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |blocks AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS block),
        |cb AS (
        | SELECT c_label, block,
        |  list_slice(c, CAST(block * 16 + 1 AS INT), CAST(block * 16 + 16 AS INT)) AS cb
        | FROM cent, blocks),
        |cb2 AS (
        | SELECT c_label, block, cb,
        |  list_aggregate(list_transform(cb, x -> x * x), 'sum') AS cbnorm2
        | FROM cb),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |vb AS (
        | SELECT vec_id, block,
        |  list_slice(v, CAST(block * 16 + 1 AS INT), CAST(block * 16 + 16 AS INT)) AS vb
        | FROM v, blocks)
        |SELECT vec_id, block, code FROM (
        | SELECT vb.vec_id, vb.block, cb2.c_label AS code,
        |  ROW_NUMBER() OVER (PARTITION BY vb.vec_id, vb.block
        |    ORDER BY cbnorm2 - 2 * list_dot_product(vb.vb, cb2.cb), cb2.c_label) AS rn
        | FROM vb JOIN cb2 ON vb.block = cb2.block) t WHERE rn = 1""".stripMargin,
    // The ordered `list(val ORDER BY k)` + sequential list_aggregate fold
    // reproduces the kernel's k-ordered accumulation bit-for-bit; the
    // sign table is the same Lehmer arithmetic in BIGINT.
    "sim_ann_lsh" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |signs AS (
        | SELECT t, b, k,
        |  ((((m * m) % 2147483647) * 48271 % 2147483647) >> 15) & 1 AS sign
        | FROM (
        |  SELECT t, b, k, (t * 8 + b) * 1000003 + k AS m
        |  FROM (SELECT CAST(unnest(range(4)) AS BIGINT) AS t) tb,
        |       (SELECT CAST(unnest(range(8)) AS BIGINT) AS b) bb,
        |       (SELECT CAST(unnest(range(64)) AS BIGINT) AS k) kk) mm),
        |dots AS (
        | SELECT vec_id, t, b, list_aggregate(list(val ORDER BY k), 'sum') AS dot
        | FROM (
        |  SELECT vec_id, t, b, k,
        |   CASE WHEN sign = 1 THEN v[k + 1] ELSE -v[k + 1] END AS val
        |  FROM v, signs) x
        | GROUP BY 1, 2, 3),
        |buckets AS (
        | SELECT vec_id, t,
        |  CAST(SUM(CASE WHEN dot > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        | FROM dots GROUP BY 1, 2),
        |cand AS (
        | SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        | FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        | WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |SELECT query_id, neighbor_id, rnk FROM (
        | SELECT cand.query_id, cand.neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY cand.query_id
        |    ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, cand.neighbor_id) AS rnk
        | FROM cand JOIN v qv ON qv.vec_id = cand.query_id
        |      JOIN v cv ON cv.vec_id = cand.neighbor_id) t
        |WHERE rnk <= 5""".stripMargin,
    "sim_ann_pq" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |blocks AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS block),
        |cb2 AS (
        | SELECT c_label, block, cb,
        |  list_aggregate(list_transform(cb, x -> x * x), 'sum') AS cbnorm2
        | FROM (
        |  SELECT c_label, block,
        |   list_slice(c, CAST(block * 16 + 1 AS INT), CAST(block * 16 + 16 AS INT)) AS cb
        |  FROM cent, blocks) t),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |vb AS (
        | SELECT vec_id, block,
        |  list_slice(v, CAST(block * 16 + 1 AS INT), CAST(block * 16 + 16 AS INT)) AS vb
        | FROM v, blocks WHERE vec_id >= 10),
        |codes AS (
        | SELECT vec_id AS neighbor_id, block, code FROM (
        |  SELECT vb.vec_id, vb.block, cb2.c_label AS code,
        |   ROW_NUMBER() OVER (PARTITION BY vb.vec_id, vb.block
        |     ORDER BY cbnorm2 - 2 * list_dot_product(vb.vb, cb2.cb), cb2.c_label) AS rn
        |  FROM vb JOIN cb2 ON vb.block = cb2.block) t WHERE rn = 1),
        |lutq AS (
        | SELECT q.vec_id AS query_id, b.block,
        |  list_slice(q.v, CAST(b.block * 16 + 1 AS INT), CAST(b.block * 16 + 16 AS INT)) AS qb
        | FROM v q, blocks b WHERE q.vec_id < 10),
        |lut AS (
        | SELECT query_id, cb2.block, cb2.c_label AS code,
        |  CAST(FLOOR((list_aggregate(list_transform(qb, x -> x * x), 'sum')
        |        + cbnorm2 - 2 * list_dot_product(qb, cb2.cb)) * 1e9 + 0.5) AS BIGINT)
        |   AS dist_i
        | FROM lutq JOIN cb2 ON lutq.block = cb2.block),
        |scored AS (
        | SELECT lut.query_id, codes.neighbor_id, SUM(dist_i) AS d2
        | FROM codes JOIN lut ON codes.block = lut.block AND codes.code = lut.code
        | GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rnk FROM (
        | SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
        | FROM scored) t WHERE rnk <= 5""".stripMargin,
    "sim_ann_ivfpq" ->
      """WITH m AS (
        | SELECT label, dim, ROUND(AVG(val), 4) AS m FROM (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS dim,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings) t GROUP BY 1, 2),
        |cent AS (
        | SELECT label AS c_label, list(m ORDER BY dim) AS c FROM m GROUP BY label),
        |cent2 AS (
        | SELECT c_label, c,
        |  list_aggregate(list_transform(c, x -> x * x), 'sum') AS cnorm2
        | FROM cent),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |assign AS (
        | SELECT vec_id, c_label AS centroid FROM (
        |  SELECT vec_id, c_label,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cnorm2 - 2 * list_dot_product(v, c), c_label) AS rn
        |  FROM v, cent2) t WHERE rn = 1),
        |blocks AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS block),
        |cb2 AS (
        | SELECT c_label, block, cb,
        |  list_aggregate(list_transform(cb, x -> x * x), 'sum') AS cbnorm2
        | FROM (
        |  SELECT c_label, block,
        |   list_slice(c, CAST(block * 16 + 1 AS INT), CAST(block * 16 + 16 AS INT)) AS cb
        |  FROM cent, blocks) t),
        |vb AS (
        | SELECT vec_id, block,
        |  list_slice(v, CAST(block * 16 + 1 AS INT), CAST(block * 16 + 16 AS INT)) AS vb
        | FROM v, blocks WHERE vec_id >= 10),
        |codes AS (
        | SELECT vec_id AS neighbor_id, block, code FROM (
        |  SELECT vb.vec_id, vb.block, cb2.c_label AS code,
        |   ROW_NUMBER() OVER (PARTITION BY vb.vec_id, vb.block
        |     ORDER BY cbnorm2 - 2 * list_dot_product(vb.vb, cb2.cb), cb2.c_label) AS rn
        |  FROM vb JOIN cb2 ON vb.block = cb2.block) t WHERE rn = 1),
        |lutq AS (
        | SELECT q.vec_id AS query_id, b.block,
        |  list_slice(q.v, CAST(b.block * 16 + 1 AS INT), CAST(b.block * 16 + 16 AS INT)) AS qb
        | FROM v q, blocks b WHERE q.vec_id < 10),
        |lut AS (
        | SELECT query_id, cb2.block, cb2.c_label AS code,
        |  CAST(FLOOR((list_aggregate(list_transform(qb, x -> x * x), 'sum')
        |        + cbnorm2 - 2 * list_dot_product(qb, cb2.cb)) * 1e9 + 0.5) AS BIGINT)
        |   AS dist_i
        | FROM lutq JOIN cb2 ON lutq.block = cb2.block),
        |scored AS (
        | SELECT lut.query_id, codes.neighbor_id, SUM(dist_i) AS d2
        | FROM codes JOIN lut ON codes.block = lut.block AND codes.code = lut.code
        | JOIN assign qa ON qa.vec_id = lut.query_id
        | JOIN assign ca ON ca.vec_id = codes.neighbor_id
        | WHERE qa.centroid = ca.centroid
        | GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rnk FROM (
        | SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
        | FROM scored) t WHERE rnk <= 3""".stripMargin,
    "vec_norms" ->
      """SELECT vec_id,
        | ROUND(SQRT(list_aggregate(
        |   list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 4)
        |  AS l2_norm
        |FROM embeddings""".stripMargin,
    // 16 generated sign-fold columns — the SAME (i, j) sign arithmetic
    // and per-coordinate micro quantization as the Spark side, emitted
    // from one Scala loop so the two engines cannot drift
    "vec_rand_proj" -> (0 until 16).map { j =>
      s"""CAST(list_aggregate(
         |  [CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         |   * (1 - 2 * (((CAST(i AS BIGINT) * 1103515245
         |                 + CAST($j AS BIGINT) * 40503 + 12345) // 65536) % 2))
         |   for i in range(0, 64)], 'sum') AS BIGINT) AS p$j""".stripMargin
    }.mkString("SELECT vec_id,\n", ",\n", "\nFROM embeddings"))
}
