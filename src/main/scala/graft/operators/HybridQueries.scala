package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Hybrid retrieval: reciprocal-rank fusion (RRF) of a sparse (BM25)
  * ranking and a dense (cosine ANN) ranking — the retrieval shape a
  * RAG / retrieval-curation pipeline actually ships, since neither
  * signal alone is robust (BM25 misses paraphrase, dense misses rare
  * exact terms). Fusion is Cormack et al.'s RRF:
  * `score(d) = Σ_systems 1 / (K + rank_sys(d))` with K = 60,
  * computed here in integer arithmetic (`1e6 div (K + rank)` summed as
  * BIGINT) so the ranking is bit-exact across engines — no float
  * hashing hazards in the oracle gate.
  *
  * Scale shape: the dense side is the broadcast query-batch scan
  * ([[Similarity.bruteForceTopK]] here; the IVF bucket probe at 100 TB
  * — same output contract, so fusion is unchanged). The lexical side
  * restricts the corpus token stream to the query vocabulary via a
  * broadcast semi-join BEFORE the tf aggregate, so the per-(query,doc)
  * scoring table carries only query-term hits, never the vocabulary.
  * Both sides are top-`k` pruned (bounded-heap rank, no global sort)
  * before the fusion join, which therefore joins two
  * |queries|·k-row lists — metadata-sized regardless of corpus size.
  */
object HybridQueries {

  /** RRF constant from the original paper; fixed, not tuned. */
  private val K_RRF = 60

  /** Fuse two per-query rankings `(query_id, doc_id, rnk)` into the
    * RRF top-`k`. Missing ranks contribute 0 (the full-outer join keeps
    * docs ranked by either side). Output
    * `(query_id, doc_id, rrf_q, rnk)`, all BIGINT-safe integers. */
  def rrfFuse(dense: DataFrame, lexical: DataFrame, k: Int): DataFrame = {
    val d = dense.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_d"))
    val l = lexical.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_l"))
    val fused = d.join(l, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_q", expr(
        s"coalesce(1000000 div ($K_RRF + rnk_d), 0L) + " +
        s"coalesce(1000000 div ($K_RRF + rnk_l), 0L)"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_q").desc, col("doc_id"))
    graft.plans.TopK.rewrite(
        fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k))
      .select(col("query_id"), col("doc_id"), col("rrf_q"),
        col("rnk").cast("long").as("rnk"))
  }

  /** BM25 ranking of the corpus against each query document's own
    * terms (query-by-example, the retrieval-curation form): per-term
    * partials use the exact `text_bm25` operation sequence (k1 = 1.2,
    * b = 0.75, floor(x·1e6+0.5) quantization BEFORE the order-free
    * per-(query,doc) sum). Query vocabulary = the query doc's distinct
    * tokens longer than 3 chars (a stopword-ish floor that also bounds
    * |Q|). Returns the per-query top-`k` as `(query_id, doc_id, rnk)`. */
  def bm25TopK(queryDocs: DataFrame, corpusDocs: DataFrame, k: Int): DataFrame = {
    def toks(df: DataFrame, id: String) = df
      .select(col("doc_id").as(id),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
    // round 14: a shared repartition(doc_id) exchange was tried and
    // REVERTED — see text_bm25 (raw token shuffle loses to partial aggs)
    val ctoks = toks(corpusDocs, "doc_id").filter(length(col("w")) > 0)
    val dl = ctoks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corp = dl.agg(sum("dl").as("total_toks"), count(lit(1)).as("n_docs"))
    val qw = toks(queryDocs, "query_id").filter(length(col("w")) > 3).distinct()
    // restrict the corpus tf aggregate to the query vocabulary up front
    val tf = ctoks.join(broadcast(qw.select("w").distinct()), "w")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    // dfreq has ONE ROW PER QUERY-BATCH TERM — bounded by the broadcast
    // qw vocabulary (itself batch-bounded), NOT corpus-scaling: BROADCAST
    // it. A sort-merge join keyed on `w` would funnel the corpus-sized
    // tf table into |query vocab| shuffle partitions (the bounded-key
    // skew funnel — same fix as text_bm25). dl is one row per corpus
    // doc — genuinely corpus-scaling, merge-pinned on high-cardinality
    // doc_id (round-9 100x lesson).
    val part = tf.join(broadcast(dfreq), "w").join(dl.hint("merge"), "doc_id")
      .crossJoin(broadcast(corp))
      .join(broadcast(qw), "w")
      .select(col("query_id"), col("doc_id"), expr(
        """cast(floor(
          |  ln(1.0d + (n_docs - df + 0.5d) / (df + 0.5d)) *
          |  (tf * 2.2d) / (tf + 1.2d *
          |    (0.25d + 0.75d * dl * n_docs / cast(total_toks as double)))
          |  * 1e6 + 0.5d) as bigint)""".stripMargin).as("p"))
    val scored = part.groupBy("query_id", "doc_id")
      .agg(sum("p").as("bm25_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25_q").desc, col("doc_id"))
    graft.plans.TopK.rewrite(
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k))
      .select(col("query_id"), col("doc_id"),
        col("rnk").cast("long").as("rnk"))
  }

  /** The registered fixture wiring: queries are ids < 10 (their
    * embedding for the dense side, their text for the lexical side),
    * corpus is ids >= 10 — the `documents`/`embeddings` tables share
    * the id space by construction. Top-20 per side, RRF top-10 out. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")

  private def lexicalTop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    bm25TopK(
      docs.filter(col("doc_id") < 10),
      docs.filter(col("doc_id") >= 10), k = 20)
  }

  private def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val dense = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("va")),
        e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("neighbor_id"), col("v").as("vb")),
        k = 20)
      .withColumnRenamed("neighbor_id", "doc_id")
    rrfFuse(dense, lexicalTop(s, dir), k = 10)
  }

  /** The scale form: dense side = the IVF bucket probe over the shared
    * coarse-quantizer stages (what `searchIndex` serves at 10⁹
    * vectors) instead of the brute-force scan — fusion, lexical side
    * and output contract unchanged. The candidate set is the query's
    * centroid bucket, so the dense ranking is approximate (fewer than
    * 20 in-bucket neighbors is normal) and RRF degrades gracefully:
    * docs missing from one list just score 0 from that side. */
  private def hybridRrfIvf(s: SparkSession, dir: String): DataFrame = {
    val assign = SimilarityQueries.sharedStages(s, dir)._2
    val v = emb(s, dir).join(assign, "vec_id")
    val dense = Similarity.ivfTopK(
        v.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("va"), col("centroid")),
        v.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("centroid")),
        k = 20)
      .withColumnRenamed("neighbor_id", "doc_id")
    rrfFuse(dense, lexicalTop(s, dir), k = 10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_hybrid_rrf" -> { (s, dir) => hybridRrf(s, dir) },
    "text_hybrid_rrf_ivf" -> { (s, dir) => hybridRrfIvf(s, dir) })

  /** Lexical + fusion oracle fragments, shared by both hybrid variants
    * so the BM25/RRF SQL cannot drift between them; only the `dense`
    * CTE differs (brute-force scan vs IVF bucket probe). */
  private val lexAndFuseSql: String =
      """ctoks AS (
        | SELECT doc_id, w FROM (
        |  SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE doc_id >= 10) t WHERE strlen(w) > 0),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        |       FROM ctoks GROUP BY 1),
        |corp AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_toks,
        |                CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
        |qw AS (
        | SELECT DISTINCT doc_id AS query_id, w FROM (
        |  SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE doc_id < 10) t WHERE strlen(w) > 3),
        |tf AS (
        | SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        | FROM ctoks WHERE w IN (SELECT w FROM qw) GROUP BY 1, 2),
        |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |part AS (
        | SELECT qw.query_id, tf.doc_id,
        |  CAST(FLOOR(
        |    ln(1.0 + (corp.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * CAST(2.2 AS DOUBLE)) / (tf.tf + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * dl.dl * corp.n_docs
        |       / CAST(corp.total_toks AS DOUBLE)))
        |    * 1e6 + 0.5) AS BIGINT) AS p
        | FROM qw JOIN tf ON qw.w = tf.w
        |      JOIN df ON df.w = tf.w
        |      JOIN dl ON dl.doc_id = tf.doc_id, corp),
        |lexs AS (SELECT query_id, doc_id, CAST(SUM(p) AS BIGINT) AS bm25_q
        |         FROM part GROUP BY 1, 2),
        |lex AS (
        | SELECT query_id, doc_id, rnk AS rnk_l FROM (
        |  SELECT query_id, doc_id,
        |   ROW_NUMBER() OVER (PARTITION BY query_id
        |     ORDER BY bm25_q DESC, doc_id) AS rnk
        |  FROM lexs) t WHERE rnk <= 20),
        |fused AS (
        | SELECT COALESCE(d.query_id, l.query_id) AS query_id,
        |        COALESCE(d.doc_id, l.doc_id) AS doc_id,
        |  CAST(COALESCE(1000000 // (60 + d.rnk_d), 0)
        |     + COALESCE(1000000 // (60 + l.rnk_l), 0) AS BIGINT) AS rrf_q
        | FROM dense d FULL OUTER JOIN lex l
        |   ON d.query_id = l.query_id AND d.doc_id = l.doc_id)
        |SELECT query_id, doc_id, rrf_q, rnk FROM (
        | SELECT query_id, doc_id, rrf_q,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_q DESC, doc_id) AS rnk
        | FROM fused) t WHERE rnk <= 10""".stripMargin

  private val denseExactSql: String =
    """dense AS (
      | SELECT query_id, doc_id, rnk AS rnk_d FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
      |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |     ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                     CAST(c.embedding AS DOUBLE[])) DESC,
      |              c.vec_id) AS rnk
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10) t WHERE rnk <= 20)""".stripMargin

  // the sim_ann_ivf pipeline (rounded per-label mean centroids → argmin
  // assignment → same-bucket probe) ranked to top-20
  private val denseIvfSql: String =
    s"""${SimilarityQueries.centroidCtes},
      |${SimilarityQueries.assignCte("= 1")},
      |dense AS (
      | SELECT query_id, doc_id, rnk AS rnk_d FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
      |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |     ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c.vec_id) AS rnk
      |  FROM assign q
      |  JOIN assign c ON q.centroid = c.centroid
      |  JOIN v qv ON qv.vec_id = q.vec_id
      |  JOIN v cv ON cv.vec_id = c.vec_id
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10
      | ) t WHERE rnk <= 20)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_hybrid_rrf" -> s"WITH $denseExactSql,\n$lexAndFuseSql",
    "text_hybrid_rrf_ivf" -> s"WITH $denseIvfSql,\n$lexAndFuseSql")
}
