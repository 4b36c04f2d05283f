package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Fixture-bound query registrations for the dedup surface — thin
  * wrappers over the user-facing [[Dedup]] library (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash) plus the embedding-cosine baseline.
  *
  * The bounded `doc_id < N` subsets in the oracle-checked variants exist
  * to keep the DuckDB oracle tractable, not because the Spark plans need
  * them — see [[Dedup]] for the scale design (bucket-key candidate
  * joins, df/bucket skew caps, integer-form thresholds).
  */
object DedupQueries {

  // Fixture parameters. ShingleDfCap: the fixture's qualifying pairs all
  // share a shingle with df ≤ 26 at every SF; 40 leaves margin while
  // bounding any join group to ≤ 40 docs. 16×2 banding: recall at
  // jaccard 0.6 is 1-(1-0.6²)¹⁶ ≈ 0.999 (8×4 only reached ~0.72 —
  // measured in DedupSpec); on this fixture it recalls every exact pair
  // (validated at sf0.001/0.01/0.1), so dedup_minhash_lsh's output ≡ the
  // exact-jaccard answer and the jaccard oracle is registered for it.
  // BandBucketCap 1000 can never trigger on ≤300-doc subsets.
  private val ShingleDfCap = 40
  private val NumHashes = 32
  private val Bands = 16
  private val BandBucketCap = 1000

  private def docs(s: SparkSession, dir: String, maxDocId: Int): DataFrame =
    Tables(s, dir, "documents").filter(col("doc_id") < maxDocId)

  /** Shared near-dup cluster labels (jaccard pairs → connected
    * components over docs < 100), computed once per (session, fixture
    * dir) and persisted — `dedup_cluster_cc`, `dedup_cluster_stats` and
    * `dedup_keep_best` all consume the same labeling, and the CC label
    * rounds are the expensive part (iterative jobs), so re-planning them
    * per query tripled the family's cost. Same memoization shape as the
    * ANN family's shared IVF-assign stage. */
  private val ccCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Dedup.Components]

  /** Drop this session's persisted CC labels — the
    * [[Similarity.releaseStages]] counterpart, wired into
    * [[graft.GraftSession.release]]. Lifecycle rules live in
    * [[StageCaches]]. */
  private[graft] def releaseStages(s: SparkSession): Unit =
    StageCaches.release(ccCache, s)(dropLabels)

  /** Unpersist the labels, then release the CC kernel's final label
    * checkpoint, which only they read. */
  private def dropLabels(cc: Dedup.Components): Unit = {
    cc.labels.unpersist(blocking = true)
    cc.release()
  }

  private[graft] def ccLabels(s: SparkSession, dir: String): DataFrame =
    StageCaches.memo(ccCache, s, dir) {
      val d = docs(s, dir, 100)
      val cc = Dedup.connectedComponentsCounted(
        d.select(col("doc_id").as("id")),
        Dedup.jaccardPairs(d, "doc_id", "text", dfCap = ShingleDfCap))
      cc.copy(labels = cc.labels
        .select(col("id").as("doc_id"), col("cluster_id")).persist())
    }(dropLabels).labels

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on content, keep lowest PK per group —
    // one shuffle on the content hash, scales to any corpus size.
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
    },
    // Soft dedup: instead of dropping duplicates, weight each doc by
    // 1/n of its exact-content group (in exact ppm units — 1e6 div n,
    // BIGINT floor division) so repeated documents contribute one
    // document's worth of gradient in total. The count-don't-drop
    // alternative to dedup_exact (SoftDeDup-style reweighting). Scale
    // shape: one partial-aggregated shuffle on the content hash + one
    // equi-join back on the same key — identical cost to dedup_exact,
    // and md5 keys the groups so the oracle reproduces them verbatim.
    "dedup_soft_weight" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"))
      val counts = d.groupBy("h").agg(count(lit(1)).as("dup_count"))
      // counts is one row per distinct content hash — corpus-sized;
      // merge-pinned (round-9 100x lesson)
      d.join(counts.hint("merge"), "h")
        .select(col("doc_id"), col("dup_count"),
          expr("1000000 div dup_count").as("weight_ppm"))
    },
    // Incremental-ingest dedup: a synthetic "fresh batch" (every 5th doc
    // re-ingested verbatim under a new id, plus every 7th doc mutated →
    // genuinely novel) checked against the corpus. The Bloom filter over
    // known hashes broadcasts and prunes fresh rows BEFORE any shuffle;
    // an exact semi join re-verifies candidates, so the result is exact
    // (the re-ingested rows and nothing else).
    "dedup_incremental" -> { (s, dir) =>
      val known = Tables(s, dir, "documents")
      val fresh = known.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
        .unionAll(known.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 20000L).as("doc_id"),
            concat(col("text"), lit(" NOVEL")).as("text")))
      Dedup.incrementalExact(fresh, known, "doc_id", "text",
        expectedKnown = 100000L)
    },
    // n-gram Jaccard dedup, exact pairwise over df-capped shingle-join
    // candidates.
    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(docs(s, dir, 100), "doc_id", "text",
        dfCap = ShingleDfCap)
    },
    // Cluster-size profile over the CC output — the dedup report a
    // pipeline actually emits: how many clusters of each size, rows
    // kept (one per cluster) and rows dropped.
    "dedup_cluster_stats" -> { (s, dir) =>
      val labels = ccLabels(s, dir)
      labels.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .withColumn("rows_kept", col("n_clusters"))
        .withColumn("rows_dropped", (col("sz") - 1) * col("n_clusters"))
    },
    // The dedup REPORT a crawl operator reads first: per-source doc
    // count, distinct-content count (md5 groupBy — the exact-dedup
    // shuffle carries 16-byte digests, never text), and the duplicate
    // rate in integer ppm. WITHIN-source by design: "which crawl is
    // feeding me copies" — cross-source duplicate attribution is
    // dedup_exact's keeper semantics, not a rate.
    "dedup_rate_by_source" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("h").as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          expr("(n_docs - n_distinct) * 1000000 div n_docs").as("dup_ppm"))
    },
    // Containment dedup: den·|a∩b| >= num·min(|a|,|b|) — catches a
    // short doc quoted inside a long one, where symmetric Jaccard is
    // diluted by the big doc. Same df-capped candidate stage (every
    // qualifying fixture pair shares >= 2 rare shingles); contained_id
    // is the doc a keep-the-superset policy drops.
    "dedup_containment" -> { (s, dir) =>
      Dedup.containmentPairs(docs(s, dir, 100), "doc_id", "text",
        dfCap = ShingleDfCap)
    },
    // MinHash + LSH: single-pass signatures, 16 bands of 2, candidates
    // exact-jaccard-verified (bands ARE the candidate stage). Same final
    // predicate as dedup_ngram_jaccard, so the LSH stage is measured by
    // its recall (1.0 on this fixture — hence the shared oracle).
    "dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir, 100), "doc_id", "text",
        numHashes = NumHashes, bands = Bands, bucketCap = BandBucketCap)
    },
    // SimHash: single-pass 64-bit fingerprint (polynomial token hashes —
    // SQL-reproducible), 16-bit band join for candidates, hamming <= 16
    // verified via bit_count(xor). Empty tokens are filtered on both
    // engines so the tokenizers' trailing-empty conventions can't skew
    // the vote. The oracle recomputes the whole pipeline in mod-2⁶⁴
    // HUGEINT arithmetic.
    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhashPairs(docs(s, dir, 300), "doc_id",
        expr("filter(array_distinct(split(lower(text), '\\\\s+')), x -> length(x) > 0)"),
        maxHamming = 16, bucketCap = BandBucketCap)
        .withColumn("hamming", col("hamming").cast("long"))
    },
    // Near-dup clustering: connected components over the verified
    // jaccard pairs — each doc labeled with the min doc_id reachable
    // through the pair graph. Iterative min-label propagation (one
    // shuffle per round, rounds = graph diameter); the oracle computes
    // the same fixpoint with a recursive CTE.
    "dedup_cluster_cc" -> { (s, dir) => ccLabels(s, dir) },
    // Representative selection on top of the CC clusters: keep the
    // highest-token-count member per cluster (ties → lowest doc_id).
    // One struct-max aggregate — map-side combinable, one shuffle keyed
    // by cluster, no per-cluster sort.
    "dedup_keep_best" -> { (s, dir) =>
      val quality = docs(s, dir, 100).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Dedup.keepBest(ccLabels(s, dir), quality, "doc_id", "n_tokens")
    },
    // Embedding cosine near-dup: top-20 most-similar pairs in a bounded
    // subset (cast to double, exact-ordered with PK tiebreaks). The
    // unbounded scale path is LSH-bucketed (see sim_ann_lsh).
    "dedup_embedding_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      val a = e.select(col("vec_id").as("a_id"), col("v").as("va"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .withColumn("cos", graft.functions.SketchExpressions.cosine_sim(
          col("va"), col("vb")))
        .orderBy(col("cos").desc, col("a_id"), col("b_id"))
        .limit(20)
        .select(col("a_id"), col("b_id"),
          // ranks the LIMIT-20 result — constant partition key (pmod, so
          // EliminateWindowPartitions keeps it) marks the deliberately-
          // single-task window (input provably 20 rows)
          row_number().over(Window.partitionBy(pmod(col("a_id"), lit(1)))
              .orderBy(col("cos").desc, col("a_id"), col("b_id")))
            .cast("long").as("rnk"))
    })

  private val jaccardCtes =
    """sh AS (
      | SELECT doc_id,
      |  unnest(list_distinct([substr(text, CAST(i AS INT), 3)
      |                        for i in range(1, length(text) - 1)])) AS s
      | FROM documents WHERE doc_id < 100
      |), cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      | SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      | FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (
      | SELECT a_id, b_id
      | FROM inter JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
      | WHERE 8 * i >= 3 * (ca.n + cb.n))""".stripMargin

  private val jaccardOracle =
    s"WITH $jaccardCtes\nSELECT a_id, b_id FROM pairs"

  // Same pair predicate, then the min-reachable-id fixpoint as a
  // recursive CTE — the SQL mirror of min-label propagation.
  private val ccOracle =
    s"""WITH RECURSIVE $jaccardCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, r) AS (
      | SELECT doc_id, doc_id FROM documents WHERE doc_id < 100
      | UNION
      | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
      |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin

  // Full SimHash pipeline in SQL: per-token polynomial hashes in
  // mod-2⁶⁴ HUGEINT arithmetic (the text_rollinghash pattern), integer
  // bit votes, 16-bit band candidates, bit_count(xor) verify. Votes are
  // integer sums, so nothing here depends on float ordering.
  private val simhashOracle =
    """WITH RECURSIVE bits(b, pw) AS (
      | SELECT 0, CAST(1 AS HUGEINT)
      | UNION ALL SELECT b + 1, pw * 2 FROM bits WHERE b < 63),
      |toks AS (
      | SELECT DISTINCT doc_id, tok FROM (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |  FROM documents WHERE doc_id < 300) t
      | WHERE length(tok) > 0),
      |th0 AS (
      | SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |    [CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS HUGEINT)
      |     for i in range(1, length(tok) + 1)]),
      |    (acc, c) -> (acc * 31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h0
      | FROM toks),
      |-- splitmix64 in HUGEINT: a 64x64-bit product overflows INT128, so
      |-- multiplies split the variable into 32-bit halves
      |-- ((lo*K + ((hi*K) mod 2^32)*2^32) mod 2^64); shifts are // powers.
      |th1 AS (
      | SELECT doc_id, (h0 + CAST('11400714819323198485' AS HUGEINT))
      |  % CAST('18446744073709551616' AS HUGEINT) AS h1 FROM th0),
      |th2 AS (
      | SELECT doc_id,
      |  (((x % 4294967296) * CAST('13787848793156543929' AS HUGEINT))
      |    % CAST('18446744073709551616' AS HUGEINT)
      |   + (((x // 4294967296) * CAST('13787848793156543929' AS HUGEINT))
      |      % 4294967296) * 4294967296)
      |  % CAST('18446744073709551616' AS HUGEINT) AS h2
      | FROM (SELECT doc_id, xor(h1, h1 // 1073741824) AS x FROM th1) t),
      |th3 AS (
      | SELECT doc_id,
      |  (((x % 4294967296) * CAST('10723151780598845931' AS HUGEINT))
      |    % CAST('18446744073709551616' AS HUGEINT)
      |   + (((x // 4294967296) * CAST('10723151780598845931' AS HUGEINT))
      |      % 4294967296) * 4294967296)
      |  % CAST('18446744073709551616' AS HUGEINT) AS h3
      | FROM (SELECT doc_id, xor(h2, h2 // 134217728) AS x FROM th2) t),
      |th AS (
      | SELECT doc_id, xor(h3, h3 // 2147483648) AS h FROM th3),
      |votes AS (
      | SELECT doc_id, b, pw,
      |  SUM(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE -1 END) AS v
      | FROM th, bits GROUP BY 1, 2, 3),
      |sh AS (
      | SELECT doc_id,
      |  SUM(CASE WHEN v > 0 THEN pw ELSE CAST(0 AS HUGEINT) END) AS h64
      | FROM votes GROUP BY 1),
      |bands AS (
      | SELECT sh.doc_id, bits.b // 16 AS band,
      |  CAST((sh.h64 // bits.pw) % 65536 AS BIGINT) AS bb
      | FROM sh, bits WHERE bits.b % 16 = 0),
      |cand AS (
      | SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      | FROM bands x JOIN bands y ON x.band = y.band AND x.bb = y.bb
      | WHERE x.doc_id < y.doc_id),
      |sg AS (
      | SELECT doc_id,
      |  CAST(CASE WHEN h64 >= CAST('9223372036854775808' AS HUGEINT)
      |            THEN h64 - CAST('18446744073709551616' AS HUGEINT)
      |            ELSE h64 END AS BIGINT) AS s
      | FROM sh)
      |SELECT a_id, b_id, CAST(bit_count(xor(sa.s, sb.s)) AS BIGINT) AS hamming
      |FROM cand
      |JOIN sg sa ON sa.doc_id = a_id
      |JOIN sg sb ON sb.doc_id = b_id
      |WHERE bit_count(xor(sa.s, sb.s)) <= 16""".stripMargin

  // CC labels (the ccOracle fixpoint) + token-count argmax per cluster.
  private val keepBestOracle =
    s"""WITH RECURSIVE $jaccardCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(id, r) AS (
      | SELECT doc_id, doc_id FROM documents WHERE doc_id < 100
      | UNION
      | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
      |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      |q AS (
      | SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      |  END AS n_tokens
      | FROM documents WHERE doc_id < 100)
      |SELECT cluster_id, keep_id, keep_score, n_members FROM (
      | SELECT l.cluster_id, q.doc_id AS keep_id, q.n_tokens AS keep_score,
      |  ROW_NUMBER() OVER (PARTITION BY l.cluster_id
      |                     ORDER BY q.n_tokens DESC, q.doc_id) AS rn,
      |  CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS n_members
      | FROM labels l JOIN q ON q.doc_id = l.id) t
      |WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_simhash" -> simhashOracle,
    "dedup_keep_best" -> keepBestOracle,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_soft_weight" ->
      """WITH c AS (
        | SELECT md5(text) AS h, COUNT(*) AS dup_count
        | FROM documents GROUP BY 1)
        |SELECT d.doc_id, c.dup_count,
        | 1000000 // c.dup_count AS weight_ppm
        |FROM documents d JOIN c ON md5(d.text) = c.h""".stripMargin,
    "dedup_incremental" ->
      """WITH fresh AS (
        | SELECT doc_id + 10000 AS doc_id, text FROM documents
        | WHERE doc_id % 5 = 0
        | UNION ALL
        | SELECT doc_id + 20000 AS doc_id, text || ' NOVEL' AS text
        | FROM documents WHERE doc_id % 7 = 3)
        |SELECT f.doc_id, md5(f.text) AS content_hash
        |FROM fresh f
        |WHERE EXISTS (SELECT 1 FROM documents k WHERE k.text = f.text)""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardOracle,
    "dedup_containment" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  unnest(list_distinct([substr(text, CAST(i AS INT), 3)
        |                        for i in range(1, length(text) - 1)])) AS s
        | FROM documents WHERE doc_id < 100
        |), cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        | FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        | CASE WHEN ca.n <= cb.n THEN a_id ELSE b_id END AS contained_id
        |FROM inter JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
        |WHERE 10 * i >= 9 * LEAST(ca.n, cb.n)""".stripMargin,
    "dedup_minhash_lsh" -> jaccardOracle,
    "dedup_rate_by_source" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
        | CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000
        |   // COUNT(*) AS BIGINT) AS dup_ppm
        |FROM documents GROUP BY source""".stripMargin,
    "dedup_cluster_cc" -> ccOracle,
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $jaccardCtes,
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        | SELECT doc_id, doc_id FROM documents WHERE doc_id < 100
        | UNION
        | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labels GROUP BY 1)
        |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        | CAST(COUNT(*) AS BIGINT) AS rows_kept,
        | CAST((sz - 1) * COUNT(*) AS BIGINT) AS rows_dropped
        |FROM sizes GROUP BY sz""".stripMargin,
    "dedup_embedding_topk" ->
      """SELECT a_id, b_id, ROW_NUMBER() OVER (ORDER BY cos DESC, a_id, b_id) AS rnk
        |FROM (
        | SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) AS cos
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
        |) t ORDER BY cos DESC, a_id, b_id LIMIT 20""".stripMargin)
}
