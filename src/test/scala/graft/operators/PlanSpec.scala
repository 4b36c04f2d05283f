package graft.operators

import org.apache.spark.sql.DataFrame
import graft.{SparkEntry, SparkTestBase}

/** Plan-shape guards for the 100 TB posture: filters reach the parquet
  * scan, projections prune the read schema, dimension joins broadcast,
  * aggregates have a partial (map-side) phase, and the sketch
  * expressions stay inside whole-stage codegen. A plan regression here
  * is a scale bug even when results stay correct. */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("text_bm25: corpus totals broadcast; tf/df aggregates are partial " +
      "(map-side) before their shuffles; scan reads only doc_id+text") {
    val plan = planOf("text_bm25")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"corpus totals not broadcast:\n$plan")
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      !r.contains("lang") && !r.contains("n_chars")),
      s"documents scan not pruned:\n${reads.mkString("\n")}")
  }

  test("stat_percentiles_approx: sketch output broadcasts back (no shuffle " +
      "of events for the audit join); aggregates are partial; no window") {
    val plan = planOf("stat_percentiles_approx")
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch side not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window (the approx twin " +
      s"must not sort groups):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("cur_sample_per_source: plans on the bounded-heap exec — no window, " +
      "no per-source sort, one key exchange") {
    val plan = planOf("cur_sample_per_source")
    assert(plan.contains("TopKPerKey"), s"heap exec missing:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Sort "),
      s"sort/window crept in:\n$plan")
  }

  test("ivf_assign_narrow: narrow plan — no exchange, no aggregate, " +
      "no window, no generate") {
    val plan = planOf("ivf_assign_narrow")
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate") &&
      !plan.contains("Window") && !plan.contains("Generate"),
      s"the streaming-safe kernel must stay narrow:\n$plan")
  }

  test("text_tfidf_topk: the row_number idiom is rewritten onto the " +
      "bounded-heap exec (no window sort of the scored terms)") {
    val plan = planOf("text_tfidf_topk")
    assert(plan.contains("TopKPerKey"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("WindowGroupLimit"),
      s"window machinery survived:\n$plan")
  }

  test("etl_profile_columns: exactly two scans — plain stats scan + one " +
      "Expand pass covering ALL distinct columns (never a scan per column)") {
    val plan = planOf("etl_profile_columns")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 2, s"expected plain+distinct scans, got $scans:\n$plan")
    assert(plan.contains("Expand"), s"no Expand — distincts split scans:\n$plan")
  }

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter:\n$plan")
  }

  test("p1_projection: read schema pruned to the 3 selected columns") {
    val plan = planOf("p1_projection")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("c_custkey") && read.contains("c_name") &&
      read.contains("c_acctbal") && !read.contains("c_mktsegment") &&
      !read.contains("c_nationkey"), s"unpruned read: $read")
  }

  test("q5: dimension joins are broadcast (no shuffle of the fact table for dims)") {
    val plan = planOf("q5_nation_revenue")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q1: aggregation has a partial (map-side) phase before the shuffle") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
  }

  test("semi/anti joins plan as join operators, not subquery re-scans") {
    assert(planOf("join_semi").contains("LeftSemi"))
    assert(planOf("join_anti").contains("LeftAnti"))
  }

  test("pk-range filter on lineitem is pushed down (composite lexicographic)") {
    val plan = planOf("p4_pk_range")
    // the per-column bounding box of the lexicographic range reaches parquet
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_orderkey"), s"no pushdown:\n$plan")
  }

  test("sort_limit_topn plans as TakeOrderedAndProject (no global sort)") {
    val plan = planOf("sort_limit_topn")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort used:\n$plan")
  }

  test("sim_hard_negatives: corpus is not shuffled — query side broadcasts, " +
      "label predicate fused into the join") {
    val plan = planOf("sim_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast cartesian:\n$plan")
  }

  test("sim_ann_rerank: both stages broadcast the small side — signature " +
      "pass broadcasts the query sigs, rerank joins only the candidate set") {
    val plan = planOf("sim_ann_rerank")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast cartesian:\n$plan")
  }

  test("sim_topk_bruteforce: corpus is not shuffled — query side broadcasts") {
    val plan = planOf("sim_topk_bruteforce")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"corpus got shuffled:\n$plan")
  }

  test("win_rank_dense: no global row sort — ranks join back via broadcast") {
    val plan = planOf("win_rank_dense")
    // the window runs over the distinct-key aggregate, and the fact table
    // receives its ranks through a broadcast join; a `Window` directly over
    // an `Exchange SinglePartition` of the fact scan would be the
    // 100 TB-killer shape this guards against.
    assert(plan.contains("BroadcastHashJoin"), s"ranks not broadcast:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"window not over the aggregated key table:\n$plan")
  }

  test("dedup_ngram_jaccard: candidate join keys are df-capped (skew guard)") {
    val plan = SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // the shingle join must be fed by the df<=cap filter, so no join key
    // group can exceed the cap (no O(corpus) hot key); the verify step
    // counts the overlap with the intersect_count kernel
    assert(plan.contains("count(1)") && plan.contains("intersect_count("),
      s"skew-guarded candidate/verify shape missing:\n$plan")
  }

  test("dedup LSH band joins: over-cap bucket filter is a broadcast anti join") {
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash")) {
      val plan = planOf(q)
      // the banded table must not shuffle for the skew filter: the tiny
      // over-cap bucket set broadcasts and the filter is a LeftAnti on it
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"$q: band-cap filter is not a broadcast anti join:\n$plan")
    }
  }

  test("q7/q9: every dimension join broadcasts (single fact shuffle)") {
    for (q <- Seq("q7_volume_shipping", "q9_product_profit")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q: no broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: a dimension fell back to sort-merge:\n$plan")
    }
  }

  test("ev_click_attribution: the smaller event slice broadcasts (no sort-merge)") {
    val plan = planOf("ev_click_attribution")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"attribution join shuffles both sides:\n$plan")
  }

  test("etl_merge_latest: struct-max aggregates map-side before the shuffle") {
    val plan = planOf("etl_merge_latest")
    assert(plan.contains("partial_max"), s"no partial aggregation:\n$plan")
    assert(!plan.contains("Window "), s"window sort crept in:\n$plan")
  }

  test("sim_ann_pq: distance LUT broadcasts, code sums aggregate partially") {
    val plan = planOf("sim_ann_pq")
    assert(plan.contains("BroadcastHashJoin"), s"LUT not broadcast:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side sum:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-k not group-limited:\n$plan")
  }

  test("join_range_binned: no nested-loop join — binned equi-join + residual") {
    val plan = planOf("join_range_binned")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"interval side not bin-exploded:\n$plan")
  }

  test("q21: self-semi/anti joins stay equi-keyed on l_orderkey (no nested loop)") {
    val plan = planOf("q21_waiting_supplier")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"q21 self-joins degenerated to a nested loop:\n$plan")
  }

  test("q17: brand partkeys broadcast-semi-filter lineitem before the avg") {
    val plan = planOf("q17_small_qty_revenue")
    assert(plan.contains("BroadcastHashJoin"), s"brand filter not broadcast:\n$plan")
  }

  test("q16: excluded-supplier NOT IN is a broadcast anti join") {
    val plan = planOf("q16_supplier_part_variety")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"exclusion not a broadcast anti join:\n$plan")
  }

  test("decon_ngram_overlap: benchmark shingles broadcast — corpus not shuffled pre-join") {
    val plan = planOf("decon_ngram_overlap")
    assert(plan.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$plan")
  }

  test("cur_temperature_mix: domain rates broadcast over a single corpus scan") {
    val plan = planOf("cur_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"), s"rates not broadcast:\n$plan")
    // the corpus side must not shuffle for this join: the only exchanges
    // allowed are those under the metadata-sized counts aggregate
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for rate join:\n$plan")
  }

  test("decon_exact: normalized bench hashes broadcast-semi-join — zero shuffle") {
    val plan = planOf("decon_exact")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"bench hashes not a broadcast semi join:\n$plan")
    // Spark prints shuffles as "Exchange hashpartitioning" (broadcasts
    // as "BroadcastExchange") — matching on "ShuffleExchange" would be
    // vacuously true
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("SortMergeJoin"),
      s"decon_exact shuffles — should be scan + broadcast semi only:\n$plan")
  }

  test("cur_epoch_mix: pure narrow explode — no exchange of any kind") {
    val plan = planOf("cur_epoch_mix")
    assert(plan.contains("Generate"), s"no explode in plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"cur_epoch_mix shuffles — must stay a narrow map:\n$plan")
  }

  test("dedup_keep_best: struct-max argmax aggregates map-side (partial phase)") {
    val plan = planOf("dedup_keep_best")
    assert(plan.contains("partial_max") || plan.contains("partial max"),
      s"keep-best argmax lacks a map-side partial phase:\n$plan")
    assert(!plan.contains("Window"), s"keep-best must not window-sort:\n$plan")
  }

  test("etl_table_checksum: hash-sum aggregates map-side, no sort, no join") {
    val plan = planOf("etl_table_checksum")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"checksum lacks a map-side partial phase:\n$plan")
    assert(!plan.contains("Sort") && !plan.contains("Join"),
      s"checksum must be scan + aggregate only:\n$plan")
  }

  test("ev_retention_cohorts: reduces to distinct (user, week) before the " +
      "cohort min — partial phases, no window, no cartesian") {
    val plan = planOf("ev_retention_cohorts")
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      s"retention lacks map-side partials:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Cartesian"),
      s"retention must be aggregate + equi-join only:\n$plan")
  }

  test("text_bigram_lm: count tables partial-aggregate; vocab size rides a " +
      "broadcast, never a driver collect") {
    val plan = planOf("text_bigram_lm")
    assert(plan.contains("partial_count"), s"LM counts lack partials:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"vocab-size scalar must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"LM join degenerated:\n$plan")
  }

  test("vec_pca_power_iter: narrow fold + one dimension-keyed aggregate " +
      "(single shuffle, partial sums, no join)") {
    val plan = planOf("vec_pca_power_iter")
    assert(plan.contains("partial_sum"), s"power-iter lacks map-side sums:\n$plan")
    assert(!plan.contains("Join"), s"power-iter must not join:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length <= 2,
      s"power-iter should shuffle once (dim key):\n$plan")
  }

  test("win_topk_rewrite: the window idiom planned on the bounded heap — " +
      "no window exec, no full sort") {
    val plan = planOf("win_topk_rewrite")
    assert(plan.contains("TopKPerKey"), s"auto-rewrite did not fire:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("WindowGroupLimit"),
      s"window machinery survived:\n$plan")
    assert(!plan.contains("Sort "), s"heap form must not sort:\n$plan")
  }

  test("text_hybrid_rrf: both retrieval sides are top-k pruned on the " +
      "bounded heap BEFORE the fusion join; fusion is equi-keyed") {
    val plan = planOf("text_hybrid_rrf")
    // bm25 lexical rank + final RRF rank both rewrite onto the heap exec
    assert("TopKPerKey".r.findAllIn(plan).size >= 2,
      s"rank prunes not on the bounded heap:\n$plan")
    // fusion joins two metadata-sized top-k lists on (query_id, doc_id) —
    // an equi-join, never a cartesian (the only nested-loop join allowed
    // is the dense side's broadcast query-batch scan)
    assert(plan.contains("FullOuter"), s"fusion join missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in fusion:\n$plan")
  }

  test("text_hybrid_rrf_ivf: the scale form's dense side is a centroid " +
      "equi-join probe — no nested-loop join anywhere in the plan") {
    val plan = planOf("text_hybrid_rrf_ivf")
    assert("TopKPerKey".r.findAllIn(plan).size >= 2,
      s"rank prunes not on the bounded heap:\n$plan")
    assert(plan.contains("FullOuter"), s"fusion join missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    // unlike the brute-force twin, the dense candidate stage is a
    // centroid equi-join (bucket probe), not a query×corpus scan — the
    // only nested-loop joins left are the one-row corpus-stat broadcasts
    assert(plan.linesIterator.exists(l =>
      l.matches(".*(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*centroid.*")),
      s"dense probe not centroid-equi-keyed:\n$plan")
  }

  test("text_vocab_encode: vocab via distributed heap (TakeOrdered), " +
      "encode via broadcast join — token stream never globally sorted") {
    val plan = planOf("text_vocab_encode")
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab not on the distributed heap:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"encode join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join in the encode:\n$plan")
  }

  test("text_quality_model: feature counts partial-aggregate; weight " +
      "table joins broadcast; scan reads only doc_id+text") {
    val plan = planOf("text_quality_model")
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"weights not broadcast:\n$plan")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(r => r.contains("doc_id") && !r.contains("lang")),
      s"documents scan not pruned:\n${reads.mkString("\n")}")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // One key owns ~90% of the fact rows; with the skew thresholds scaled
    // to fixture size, AQE's runtime re-plan must split that partition
    // instead of letting one task own it — the automatic fallback the
    // salted-join demo is the manual form of.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the session sets a RUNTIME broadcast bar too (GraftSession) —
      // disable it as well, or AQE converts this join to broadcast
      // from accurate sizes and no skew split ever happens
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val fact = spark.range(100000)
        .select(when(col("id") % 10 < 9, lit(1L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val dim = spark.range(100000).select(col("id").as("k"), (col("id") * 2).as("attr"))
      val joined = fact.join(dim, "k")
      // collect() runs joined's OWN QueryExecution (count()/write build a
      // fresh one), so AQE finalizes exactly the plan we inspect
      assert(joined.collect().length == 100000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a shuffled selective join") {
    // The 100 TB case: the dim side is too big to broadcast, so the join
    // shuffles — Catalyst's InjectRuntimeFilter should still semi-join-
    // reduce the fact scan with a bloom filter built from the selective
    // dim. Thresholds are lowered so the tiny local fixture qualifies.
    import org.apache.spark.sql.functions.col
    import graft.Tables
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val fact = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      val dim = Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$plan")
      // and it still computes the right thing
      val expected = Tables(spark, sfDir, "lineitem").join(
        Tables(spark, sfDir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("asof_nearest: two AsOfJoin merges, no window, nested-loop or " +
      "cartesian join") {
    val plan = planOf("asof_nearest")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"pair blow-up:\n$plan")
    assert(plan.linesIterator.count(_.contains("AsOfJoin ")) == 2,
      s"expected two merge joins:\n$plan")
    assert(!plan.contains("Window"), s"windowed carry in the plan:\n$plan")
  }

  test("sweep: zero unpartitioned Window nodes over unbounded input across " +
      "ALL registered query plans") {
    // THE 100 TB guard: an unpartitioned window funnels its whole input
    // through one task ("No Partition Defined for Window operation").
    // A window partitioned only by LITERALS is the same plan wearing a
    // disguise (every row hashes to one key), so it's flagged too —
    // `partitionSpec.forall(_.foldable)` covers both (vacuously true
    // when empty) — AND so is the repo's own `pmod(x, 1)` constant-key
    // idiom (≡ 0 for every row; non-foldable only because it references
    // a column, which is exactly how it survives
    // EliminateWindowPartitions). Without the pmod arm the sweep would
    // certify a plan that spells its single-task window the way
    // Ids.cumulativeSums does. Whitelisted shapes, both provably
    // metadata-sized:
    //  - a window ordered solely by `_pid` — Ids.cumulativeSum's offsets
    //    table, one row per shuffle partition (≤ numShufflePartitions);
    //  - a window whose input subtree is capped by a LIMIT ≤ 1000
    //    (e.g. dedup_embedding_topk ranks its top-20 result).
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, IntegerLiteral, Literal, Pmod}
    def constKey(e: Expression): Boolean = e.foldable || (e match {
      case Pmod(_, Literal(1, _), _) => true
      case Pmod(_, Literal(1L, _), _) => true
      case _ => false
    })
    // analysis moves a non-attribute partition key (the pmod idiom)
    // into an alias `_wN` of the window's child: judge the aliased
    // expression, not the attribute
    def partitionKeys(w: LWindow): Seq[Expression] = {
      val aliased = w.child.expressions.collect {
        case a: Alias => a.exprId -> a.child
      }.toMap
      w.partitionSpec.map {
        case a: Attribute => aliased.getOrElse(a.exprId, a)
        case e => e
      }
    }
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    var whitelisted = 0
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = q(spark, sfDir).queryExecution.optimizedPlan
      val bad = plan.collectWithSubqueries {
        case w: LWindow if partitionKeys(w).forall(constKey) => w
      }.filterNot { w =>
        val pidOnly = w.orderSpec.nonEmpty &&
          w.orderSpec.forall(_.child.references.forall(_.name == "_pid"))
        val limited = w.child.collectFirst {
          case GlobalLimit(IntegerLiteral(n), _) if n <= 1000 => ()
        }.nonEmpty
        if (pidOnly || limited) whitelisted += 1
        pidOnly || limited
      }
      bad.foreach(w => offenders +=
        s"$name: unpartitioned Window over unbounded input: ${w.simpleString(60)}")
    }
    assert(offenders.isEmpty,
      s"single-task window plans found:\n${offenders.mkString("\n")}")
    // the whitelist arms must be LIVE (cumulativeSums offsets windows +
    // the LIMIT-ranked shapes exist in the surface) — if this drops to
    // 0 the detector above stopped seeing the pmod idiom and the sweep
    // is vacuous
    assert(whitelisted > 0, "whitelist arms matched nothing — detector " +
      "no longer sees the constant-key window idiom it was built for")
  }

  test("sweep: no BroadcastHashJoin builds a corpus-derived aggregate/" +
      "explode side across ALL registered query plans") {
    // THE round-9 100x OOM guard, made structural: text_ngram_novelty
    // died at 100x because Catalyst's plan-time size ESTIMATE of an
    // aggregate over an exploded corpus undershot reality and the
    // planner broadcast a corpus-sized table to the driver. The fix was
    // hand-placed `.hint("merge")` pins -- which one forgotten hint on a
    // future corpus-sized join silently reintroduces: at fixture scale
    // the un-pinned join plans as a BROADCAST (everything is tiny), so
    // this sweep catches the deletion immediately even though the OOM
    // itself only fires at 100x. Rule: no broadcast build side may
    // contain an Aggregate or Generate whose input descends from a
    // corpus parquet scan, unless the stage is provably metadata-sized:
    //  - scalar aggregates (empty grouping -- 1 row);
    //  - grouping keyed ONLY on bounded-cardinality columns: `_pid`
    //    (<= shuffle partitions; Ids.cumulative* offset tables), `label`
    //    (10 classes), `dim`/`pos` (embedding dims <= 64), `centroid`/
    //    `c_label` (<= Similarity.AdaptiveKCap by the adaptive-quantizer
    //    contract), `week`/`day`/`hour`/`bucket` (calendar/config
    //    bounded);
    //  - a LIMIT <= 1000 above the aggregate;
    //  - a Generate re-bounded by an excused aggregate above it;
    //  - InMemoryTableScan subtrees (the persisted shared stages are
    //    author-curated: bounded centroids; the corpus-sized assignment
    //    is only ever equi-joined, never broadcast -- BucketingSpec and
    //    the ANN plan tests pin that separately).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec, CollectLimitExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val corpusFiles = Set("lineitem", "orders", "events", "documents",
      "embeddings", "customer", "supplier", "part", "partsupp")
    // Bounded-cardinality grouping keys -- each justified:
    //   _pid                 <= shuffle partitions (Ids offset tables)
    //   label                10 fixture classes
    //   dim/pos              embedding dims <= 64
    //   centroid/c_label     <= Similarity.AdaptiveKCap (quantizer contract)
    //   week/day/hour        calendar-bounded over any time window
    //   bucket/tile          config-bounded bucketing
    //   event_type/digit/even enum domains (5 types / 9 digits / bool)
    //   source/domain        curation-mix config lists, not corpus rows
    //   c_nationkey          FK into the 25-row nation table
    //   p_size/p_retailprice TPC-H part attribute domains (50 sizes /
    //                        ~100k price points) -- value domains, not rows
    //   query_id             the serve batch (vec_id < 10 by contract)
    val boundedCols = Set("_pid", "label", "dim", "pos", "centroid",
      "c_label", "week", "day", "hour", "bucket", "tile",
      "event_type", "digit", "even", "source", "domain", "c_nationkey",
      "p_size", "p_retailprice", "query_id")
    // Deliberate non-structural exceptions, each bounded by construction
    // in a way a plan walk cannot prove:
    //   cur_pipeline_packed  the decontamination drop-id set (distinct
    //                        train ids colliding with the broadcast
    //                        benchmark) -- bounded by the MB-sized
    //                        benchmark suite's collision fanout, by the
    //                        same argument as Curation.decontaminate's
    //                        own broadcast(bench) design
    val exceptions = Map(
      "cur_pipeline_packed" -> "decontamination drop set")
    // traversal that unwraps AQE and stops at cached stages
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case _: InMemoryTableScanExec => Nil
      case other => other.children
    }
    def collectNC[A](p: SparkPlan)(f: PartialFunction[SparkPlan, A]): Seq[A] = {
      val out = scala.collection.mutable.ArrayBuffer[A]()
      def go(q: SparkPlan): Unit = { f.lift(q).foreach(out += _); kids(q).foreach(go) }
      go(p)
      out.toSeq
    }
    // a corpus scan carrying a pushed `<id> < N` (N <= 1000) predicate
    // is BATCH-bounded -- the repo's query-batch / benchmark-suite
    // convention (vec_id < 10, doc_id < 50): the scan's output is a
    // fixed small slice regardless of corpus size, so stages over it
    // cannot be corpus-sized
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, Literal}
    def batchBounded(sc: FileSourceScanExec): Boolean =
      sc.dataFilters.exists(_.collectFirst {
        case LessThan(a: AttributeReference, Literal(v: Int, _))
            if a.name.endsWith("_id") && v <= 1000 => ()
        case LessThan(a: AttributeReference, Literal(v: Long, _))
            if a.name.endsWith("_id") && v <= 1000L => ()
      }.nonEmpty)
    def reachesCorpus(p: SparkPlan): Boolean =
      collectNC(p) {
        case sc: FileSourceScanExec if !batchBounded(sc) &&
          sc.relation.location.rootPaths.exists(rp =>
            corpusFiles.exists(t => rp.toString.contains(s"/$t.parquet"))) => ()
      }.nonEmpty
    def contains(root: SparkPlan, node: SparkPlan): Boolean =
      collectNC(root) { case x if x eq node => () }.nonEmpty
    // the df-cap idiom: Filter(count >= CAP) above an aggregate bounds
    // its output to <= corpus/CAP rows -- the deliberately-broadcast
    // over-cap LSH bucket sets (see the "broadcast anti join" test)
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual}
    def capLit(e: Any): Boolean = e match {
      case Literal(v: Int, _) => v >= 100
      case Literal(v: Long, _) => v >= 100L
      case _ => false
    }
    def capFiltered(side: SparkPlan, a: SparkPlan): Boolean =
      collectNC(side) {
        case f: FilterExec if contains(f, a) && f.condition.collectFirst {
          case GreaterThanOrEqual(_, l) if capLit(l) => ()
          case GreaterThan(_, l) if capLit(l) => ()
        }.nonEmpty => ()
      }.nonEmpty
    // IN-list arm: an aggregate grouped ONLY on columns each pinned by
    // an `attr IN (<=100 literals)` filter somewhere in its own subtree
    // has at most |list| output rows regardless of input size — the
    // text_bm25 dfreq shape (5 fixed query terms). Bounded-key joins
    // must BROADCAST (a merge join keyed on <=5 values funnels the
    // corpus side into <=5 partitions), so this shape is deliberately
    // broadcast and must be excused here.
    import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId, In, InSet}
    import org.apache.spark.sql.execution.ProjectExec
    // exprId-based attribute identity (not name matching): a same-named
    // column from a DIFFERENT relation in the subtree must not excuse a
    // genuinely unbounded aggregate. Grouping refs are resolved through
    // the subtree's Alias chain (Project renames change exprIds) to the
    // full set of source exprIds they derive from.
    def aliasMap(root: SparkPlan): Map[ExprId, Set[ExprId]] =
      collectNC(root) { case p: ProjectExec => p }
        .flatMap(_.projectList.collect {
          case al: Alias => al.exprId -> al.child.references.map(_.exprId).toSet
        }).toMap
    def resolveIds(id: ExprId, m: Map[ExprId, Set[ExprId]]): Set[ExprId] = {
      var seen = Set(id); var frontier = Set(id)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(i => m.getOrElse(i, Set.empty[ExprId])) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    def inListBounded(a: BaseAggregateExec): Boolean = {
      val am = aliasMap(a)
      val groupIds = a.groupingExpressions
        .flatMap(_.references.map(_.exprId)).toSet
      groupIds.nonEmpty && groupIds.forall { gid =>
        val ok = resolveIds(gid, am)
        collectNC(a) {
          case f: FilterExec if f.condition.collectFirst {
            case In(attr: AttributeReference, list)
                if ok(attr.exprId) && list.size <= 100 &&
                  list.forall(_.foldable) => ()
            case is: InSet if is.child.references.nonEmpty &&
                is.child.references.forall(r => ok(r.exprId)) &&
                is.hset.size <= 100 => ()
          }.nonEmpty => ()
        }.nonEmpty
      }
    }
    // broadcast-domain arm: an aggregate grouped ONLY on the equi-join
    // keys of a BroadcastHashJoin below it whose BUILD side never
    // reaches a corpus scan — the join bounds the grouping-key domain
    // to the (metadata-sized) build side's key set, so the aggregate
    // output is bounded no matter how many input rows it sees. The
    // HybridQueries dfreq shape: tf = corpus tokens semi-joined to the
    // broadcast query-batch vocabulary, dfreq = per-term counts over tf.
    def broadcastDomainBounded(a: BaseAggregateExec): Boolean = {
      val am = aliasMap(a)
      val groupIds = a.groupingExpressions
        .flatMap(_.references.map(_.exprId)).toSet
      groupIds.nonEmpty && collectNC(a) {
        case j: BroadcastHashJoinExec
            if {
              val build = if (j.buildSide == BuildLeft) j.left else j.right
              val keyIds = (j.leftKeys ++ j.rightKeys)
                .flatMap(_.references.map(_.exprId)).toSet
              groupIds.forall(gid => resolveIds(gid, am).exists(keyIds)) &&
                !reachesCorpus(build)
            } => ()
      }.nonEmpty
    }
    def risky(side: SparkPlan): Option[String] = {
      val aggs = collectNC(side) { case a: BaseAggregateExec => a }
      val limits = collectNC(side) {
        case g: GlobalLimitExec if g.limit <= 1000 => g: SparkPlan
        case t: TakeOrderedAndProjectExec if t.limit <= 1000 => t: SparkPlan
        case c: CollectLimitExec if c.limit <= 1000 => c: SparkPlan
      }
      def aggExcused(a: BaseAggregateExec): Boolean =
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(
            _.references.forall(r => boundedCols(r.name))) ||
          limits.exists(l => contains(l, a)) ||
          capFiltered(side, a) || inListBounded(a) ||
          broadcastDomainBounded(a) || !reachesCorpus(a)
      // an inner aggregate is also excused when a BOUNDING aggregate
      // above it caps the side's output (e.g. the Expand-distinct pass
      // under a scalar count-distinct -- corpus-sized intermediate,
      // metadata-sized build)
      def excused(a: BaseAggregateExec): Boolean =
        aggExcused(a) ||
          aggs.exists(b => (b ne a) && aggExcused(b) && contains(b, a))
      aggs.filterNot(excused).headOption
        .map(a => s"corpus aggregate ${a.simpleString(80)}")
        .orElse {
          collectNC(side) { case g: GenerateExec if reachesCorpus(g) => g }
            .filterNot(g => limits.exists(l => contains(l, g)) ||
              // re-bounded by an excused aggregate above it, OR fed BY
              // one (the explode's input is already metadata-sized --
              // e.g. the literal percentile-array explode over a
              // per-event-type count table)
              aggs.exists(a => excused(a) && (contains(a, g) || contains(g, a))))
            .headOption.map(g => s"exposed corpus explode ${g.simpleString(80)}")
        }
    }
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    var broadcastsSeen = 0
    var excusedSeen = 0
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = q(spark, sfDir).queryExecution.executedPlan
      val builds = collectNC(plan) {
        case j: BroadcastHashJoinExec =>
          if (j.buildSide == BuildLeft) j.left else j.right
        case j: BroadcastNestedLoopJoinExec =>
          if (j.buildSide == BuildLeft) j.left else j.right
      }
      broadcastsSeen += builds.size
      builds.foreach { b =>
        risky(b) match {
          case Some(reason) if !exceptions.contains(name) =>
            offenders += s"$name: broadcast build side holds $reason"
          case _ =>
            if (collectNC(b) { case a: BaseAggregateExec if reachesCorpus(a) => a }.nonEmpty)
              excusedSeen += 1
        }
      }
      // every exception must stay LIVE: if its flagged shape vanishes,
      // the entry is stale and must be deleted (keeps the map honest)
      ()
    }
    assert(offenders.isEmpty,
      s"corpus-derived broadcast build sides found:\n${offenders.mkString("\n")}")
    // liveness: the sweep must actually be seeing broadcasts AND
    // exercising the whitelist arms (the _pid offset tables broadcast
    // by design) -- if either drops to 0 the detector went blind
    assert(broadcastsSeen > 0, "no broadcast joins detected anywhere -- " +
      "AQE unwrap or join matching broke")
    assert(excusedSeen > 0, "no whitelisted corpus-aggregate broadcast " +
      "seen -- the excuse arms match nothing and the sweep is vacuous")
  }

  test("ev_gap_fill: the user filter reaches the events scan") {
    val plan = planOf("ev_gap_fill")
    assert(plan.contains("LessThan(user_id,10"), s"filter not pushed:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"spine join degenerated:\n$plan")
  }
}
