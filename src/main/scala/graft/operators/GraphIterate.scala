package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Run-to-CONVERGENCE graph iteration — the production form of the
  * fixed-round demos in [[GraphQueries]]. Same per-round plan shapes
  * (one equi-join + one aggregate keyed on node ids, never a global
  * window or collect), but the round count comes from a convergence
  * probe instead of an unrolled constant. Every loop runs on
  * [[Fixpoint.run]], whose scaladoc has the one-job-per-round
  * checkpoint, the checkpoint lifecycle and the fault-tolerance trade:
  *  - the probe (changed-label count for LPA, improved-distance count
  *    for SSSP, L1 rank delta for PageRank) LEFT-joins the previous
  *    state into the round plan, so the state keeps every step-output
  *    row; k-core's probe is the bare edge count. Either way the probe
  *    is node-table-sized — cheap at any graph size because the
  *    iterated state is node-sized, ≪ edges;
  *  - static inputs are materialized ONCE at entry, pre-partitioned on
  *    the per-round join key: the checkpointed blocks keep their
  *    partitioning, so each round shuffles only the node-sized
  *    aggregate instead of re-deriving and re-exchanging the edge list
  *    (at fixture scale this halved the per-round cost; at real graph
  *    scale the edge list would dominate everything);
  *  - `maxRounds` caps runaway iteration: synchronous LPA can
  *    oscillate forever on bipartite structure, and integer PageRank
  *    provably never reaches delta == 0 in general (floor division
  *    drops the map into a small limit cycle — measured period-2 with
  *    L1 delta 11 µ-units on the [[GraphQueries]] fixture), which is
  *    WHY the criterion is `delta <= eps`, not exact equality.
  *
  * Each operator returns (result, rounds), rounds counted as in
  * [[Fixpoint.run]]. */
object GraphIterate {
  import Fixpoint.{Reached, Stable}

  /** k-core: peel nodes with degree < k until no node drops (edge
    * count unchanged — edges strictly decrease while peeling, so an
    * unchanged count IS the fixpoint). Input `adj` must be symmetric
    * `(node, nbr)`. Returns the surviving adjacency. */
  def kCoreFixpoint(adj0: DataFrame, k: Int,
      maxRounds: Int = 100): (DataFrame, Int) =
    Fixpoint.run(adj0, count(lit(1)), 0L, Stable, maxRounds) { adj =>
      val alive = adj.groupBy("node").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("node")
      adj.join(alive, "node")
        .join(alive.withColumnRenamed("node", "nbr"), "nbr")
        .select("node", "nbr")
    }

  /** Synchronous label propagation until labels stabilize (changed
    * count == 0). Tie-break: most-frequent neighbor label, smallest
    * label first — the deterministic batch variant ([[GraphQueries]]
    * scaladoc). `maxRounds` matters here: sync LPA has no convergence
    * guarantee (labels can 2-cycle on bipartite structure), so a
    * production run caps rounds and takes the last iterate. */
  def labelPropFixpoint(adj0: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val adj = adj0.repartition(col("nbr")).localCheckpoint(false)
    Fixpoint.run(
      adj.select("node").distinct().withColumn("community", col("node")),
      sum(when(col("community") =!= col("prev"), 1L).otherwise(0L)), 0L,
      Reached[Long](_ == 0L), maxRounds, adj) { labels =>
      adj.join(labels.select(col("node").as("lnode"), col("community")),
          col("nbr") === col("lnode"))
        .groupBy("node", "community").agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("community")).as("nc"))).as("m"))
        .select(col("node"), (-col("m.nc")).as("community"))
        .join(labels.select(col("node"), col("community").as("prev")),
          Seq("node"), "left")
    }
  }

  /** Single-source shortest paths (unit weights ⇒ BFS levels) iterated
    * to fixpoint: per round, every known distance relaxes its
    * neighbors (`dist[nbr] ← min(dist[nbr], dist[node]+1)`); converged
    * when no node's distance improves and no new node is reached.
    * Unreachable nodes are absent from the output — the caller reads
    * reachability straight off the result. Input `adj` must be
    * symmetric `(node, nbr)`; rounds = source eccentricity + 1
    * (the confirming round), capped by `maxRounds`.
    *
    * Scale shape: same discipline as the other fixpoints — static
    * adjacency materialized ONCE pre-partitioned on the per-round join
    * key; per round one node-keyed equi-join + one min-aggregate over a
    * node-sized (frontier-bounded) state table; the convergence probe
    * rides the round's own job via observe(). All-integer state, so
    * the DuckDB recursive-CTE oracle hash-matches exactly. */
  def ssspFixpoint(adj0: DataFrame, source: Long,
      maxRounds: Int = 100): (DataFrame, Int) = {
    val adj = adj0.repartition(col("node")).localCheckpoint(false)
    Fixpoint.run(
      adj.sparkSession.range(1).select(lit(source).as("node"), lit(0L).as("dist")),
      sum(when(col("prev").isNull || col("dist") < col("prev"), 1L)
        .otherwise(0L)), 0L,
      Reached[Long](_ == 0L), maxRounds, adj) { dist =>
      val relaxed = adj.join(dist, "node")
        .select(col("nbr").as("node"), (col("dist") + 1L).as("dist"))
      dist.unionAll(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
        .join(dist.select(col("node"), col("dist").as("prev")),
          Seq("node"), "left")
    }
  }

  /** Damped PageRank in integer fixed-point micro-units, iterated
    * until the L1 delta between consecutive rank vectors is <= epsMicro
    * (exact-zero never arrives — see object scaladoc). A node that
    * enters the rank set (NULL `prev`) counts its whole rank as change,
    * so set churn can never pass for convergence. Input `edges` is the
    * [[GraphQueries.tradeEdges]] shape `(src, dst, w, outw)`.
    *
    * Arithmetic is the hub-overflow-HARDENED form of
    * [[GraphQueries]]'s fixed-round step: both products that can wrap
    * BIGINT — `r_q * w` per edge and `850000 * in_q` in the damping
    * term — are widened to DECIMAL(38,0) before multiplying, so the
    * binding bound moves from a hub's in-mass (~1.08e13 µ-units, the
    * documented ~10^7-node-hub wrap) to the BIGINT range of the
    * QUOTIENTS, which is a further ~10^6× of headroom (a rank only
    * overflows once one node holds ~9e18 µ-units — i.e. the total
    * mass of ~10^13 nodes). The quotients come out of Spark's `div`
    * (IntegralDivide on decimal → BIGINT) and DuckDB's `//` on
    * HUGEINT — both exact floor for non-negative operands, so the
    * oracle still hash-matches bit-for-bit. */
  def pageRankConverged(edges0: DataFrame, epsMicro: Long,
      maxRounds: Int = 60): (DataFrame, Int) = {
    val edges = edges0.repartition(col("src")).localCheckpoint(false)
    Fixpoint.run(
      edges.select(col("src").as("node")).distinct()
        .withColumn("r_q", lit(1000000L)),
      sum(coalesce(abs(col("r_q") - col("prev")), col("r_q"))), 0L,
      Reached[Long](_ <= epsMicro), maxRounds, edges) { ranks =>
      edges.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          expr("(cast(r_q as decimal(38,0)) * w) div outw").as("c_q"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c_q").cast(DecimalType(38, 0))).as("in_q"))
        .select(col("node"),
          (lit(150000L) +
            expr("(cast(850000 as decimal(38,0)) * in_q) div 1000000"))
            .as("r_q"))
        .join(ranks.select(col("node"), col("r_q").as("prev")),
          Seq("node"), "left")
    }
  }
}
