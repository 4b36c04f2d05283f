package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.config.ConverterConfig
import graft.copy.CopyPlanner
import graft.operators.CoreQueries.money

/** Queries re-expressing the reference's ETL operator surface (SURVEY.md §2)
  * over the parquet fixtures, each with a DuckDB oracle.
  *
  * The reference paginates with ORDER-BY-PK + LIMIT/OFFSET per worker
  * (UploadWorker.java:47-72) and partitions deletes by PK keyset probes
  * (TableDeleter.java:50-110). Spark-first re-expression: row_number
  * windows reproduce offset semantics exactly where needed; the scale path
  * is PK-range partition predicates (no global sort), see copy.CopyPlanner.
  */
object EtlQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1: full-fidelity scan with explicit column-list projection
    // (the reference never SELECT *s — Columns.java:30-33).
    "p1_projection" -> { (s, dir) =>
      Tables(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    },
    // Z-order (Morton) clustering key over (custkey, order day) — the
    // 2-D layout value a writer range-partitions and sorts on so scans
    // filtering on EITHER column prune most files. The interleave is a
    // closed-form shift/mask sum, codegen'd, replayed exactly in SQL.
    "layout_zorder" -> { (s, dir) =>
      Tables(s, dir, "orders").select(
          col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("za"),
          pmod(datediff(col("o_orderdate"),
            lit("1992-01-01").cast("date")), lit(65536)).cast("long").as("zb"))
        .withColumn("zval", Layout.zValue(col("za"), col("zb"), 16))
    },
    // Data-contract validation — the ingest gate that runs BEFORE a
    // snapshot is promoted: null checks on required columns, domain
    // checks (non-negative price, status in its enum), and referential
    // integrity (orders→customer orphans via one anti-join keyed on the
    // FK — at 100 TB the dimension side broadcasts or the join keys on
    // custkey, never a collect). One scan per table + one join; every
    // violation class is an integer count, so a red contract is a
    // diffable artifact rather than an exception trace.
    // CUSUM changepoint score per week — the classic "did the level of
    // this metric shift?" monitor, the sequential cousin of the drift
    // suite's distribution tests: S_w = max(0, S_{w-1} + dev_w) with
    // S_0 = 0, rewritten as the window-free identity
    // S_w = P_w − min(0, min_{j≤w} P_j) (P = prefix sum of deviations;
    // the 0 term is the virtual P_0 that makes week 1 score max(0,
    // dev_1), not 0), so BOTH recurrences ride the
    // distributed scaffolds — Ids.cumulativeSum for P and the new
    // Ids.cumulativeMin for the running minimum — with no unpartitioned
    // window even though weeks accumulate forever. Integer discipline:
    // values quantize to cents (exact at the fixture's 2 decimals),
    // deviation = s_w − n_w·(S_tot div N_tot) in exact BIGINTs. A
    // large cusum = sustained upward level shift since the running-min
    // week.
    "ev_changepoint_cusum" -> { (s, dir) =>
      val w = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select(expr("ts div 604800000000000").as("week"),
          expr("cast(floor(value * 100 + 0.5d) as bigint)").as("cents"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      val tot = w.agg(sum("n_events").as("nt"), sum("sum_cents").as("st"))
      val dev = w.crossJoin(broadcast(tot))
        .withColumn("dev", col("sum_cents") - col("n_events") *
          expr("st div nt"))
        .select("week", "n_events", "sum_cents", "dev")
      val p = Ids.cumulativeSum(dev, Seq(col("week")), col("dev"), "pp")
      Ids.cumulativeMin(p, Seq(col("week")), col("pp"), "pmin")
        .select(col("week"), col("n_events"), col("sum_cents"),
          (col("pp") - least(col("pmin"), lit(0L))).as("cusum"))
    },
    // Exact join-cardinality profile BEFORE running the join — the
    // shuffle-sizing / skew-detection diagnostic: |A ⋈ B on k| =
    // Σ_k cntA(k)·cntB(k), computable from the two per-key histograms
    // (each one aggregate; the histogram join is key-cardinality-sized
    // on both sides, hence merge-hinted, never broadcast). Emits the
    // numbers an operator sizes spark.sql.shuffle.partitions and the
    // salting decision from: matching key count, exact output rows,
    // the hottest key and its fan-out, and the hot key's share of the
    // whole join in micro-units (the skew ratio that decides between a
    // plain shuffle join and join_salted_skew's treatment). The argmax
    // is ONE max(struct) aggregate — no sort, no window.
    "etl_join_cardinality" -> { (s, dir) =>
      val ca = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val cb = Tables(s, dir, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      ca.join(cb.hint("merge"), "k")
        .select(col("k"), (col("ca") * col("cb")).as("fanout"))
        .agg(count(lit(1)).as("n_join_keys"),
          sum("fanout").as("est_rows"),
          max(struct(col("fanout"), col("k"))).as("hot"))
        .select(col("n_join_keys"), col("est_rows"),
          col("hot.k").as("hot_key"), col("hot.fanout").as("hot_fanout"),
          expr("hot.fanout * 1000000 div est_rows").as("hot_share_micro"))
    },
    "etl_contract_check" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer").select(col("c_custkey"))
      val orphans = o.join(c, col("o_custkey") === col("c_custkey"),
        "left_anti")
      val checks = o.agg(
        count(lit(1)).as("n_rows"),
        expr("count_if(o_orderkey is null)").as("null_pk"),
        expr("count_if(o_custkey is null)").as("null_fk"),
        expr("count_if(o_totalprice < 0)").as("neg_price"),
        expr("count_if(o_orderstatus not in ('O', 'F', 'P'))")
          .as("bad_status"),
        (count(lit(1)) - countDistinct("o_orderkey")).as("dup_pk"))
      checks.crossJoin(broadcast(
        orphans.agg(count(lit(1)).as("fk_orphans"))))
        .withColumn("contract_ok",
          col("null_pk") + col("null_fk") + col("neg_price") +
            col("bad_status") + col("dup_pk") + col("fk_orphans") === 0)
    },
    // Referential-integrity audit over the fixture's whole FK graph —
    // the multi-edge generalization of etl_contract_check's single
    // orders→customer probe: one result row per FK edge with child
    // cardinalities and orphan counts. Per edge: a scan-level aggregate
    // (child totals) plus an anti-join reduced to a scalar count; the
    // parent side is the RAW key scan (never a distinct — PKs are unique
    // by the fixture contract, and an Aggregate over a dimension scan
    // would trip the broadcast-build sweep for no semantic gain). Small
    // dims broadcast; the one corpus-sized parent (orders, for the
    // lineitem edge) is merge-pinned. At 100 TB each edge is one
    // broadcast-anti or merge-anti pass — no edge ever materializes the
    // join, only its counts.
    "etl_fk_orphans" -> { (s, dir) =>
      // Round 14 (guide §1.2 "don't compute things twice"): each edge
      // used to scan its child TWICE — a stats aggregate plus a
      // separate anti-join orphan count (lineitem alone: 6 scans across
      // its 3 edges). The parent key is a PRIMARY key (unique), so a
      // LEFT join preserves child row count exactly and the orphan
      // count is sum(fk IS NOT NULL AND no match) in the SAME aggregate
      // — one scan + one join per edge, identical three numbers.
      def edge(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String, pinMerge: Boolean): DataFrame = {
        val p0 = parent.select(col(pk).as("__pk"))
        val p = if (pinMerge) p0.hint("merge") else broadcast(p0)
        child.select(col(fk).as("__fk"))
          .join(p, col("__fk") === col("__pk"), "left")
          .agg(count(lit(1)).as("n_child"),
            countDistinct(col("__fk")).as("n_child_keys"),
            sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
              .otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("fk"), col("n_child"),
            col("n_child_keys"), col("n_orphans"))
      }
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val su = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      Seq(
        edge("lineitem.l_orderkey->orders.o_orderkey", li, "l_orderkey",
          o, "o_orderkey", pinMerge = true),
        edge("lineitem.l_partkey->part.p_partkey", li, "l_partkey",
          Tables(s, dir, "part"), "p_partkey", pinMerge = false),
        edge("lineitem.l_suppkey->supplier.s_suppkey", li, "l_suppkey",
          su, "s_suppkey", pinMerge = false),
        edge("orders.o_custkey->customer.c_custkey", o, "o_custkey",
          c, "c_custkey", pinMerge = false),
        edge("customer.c_nationkey->nation.n_nationkey", c, "c_nationkey",
          n, "n_nationkey", pinMerge = false),
        edge("supplier.s_nationkey->nation.n_nationkey", su, "s_nationkey",
          n, "n_nationkey", pinMerge = false),
        edge("nation.n_regionkey->region.r_regionkey", n, "n_regionkey",
          Tables(s, dir, "region"), "r_regionkey", pinMerge = false))
        .reduce(_ union _)
    },
    // Column profiling — the pre-copy audit an ETL tool runs before
    // sizing a migration: per-column null count, exact distinct count,
    // and min/max, in TWO scans of the table: the plain min/max/null
    // aggregates in one (no Expand), the multi-count-distinct in the
    // other (Spark plans N distinct columns as ONE pass over an
    // N+1-way Expand — keeping the plain aggregates out of that pass
    // stops them being re-evaluated across every expanded branch,
    // measured 5.1 s → ~1 s at sf0.1). Both results are single rows,
    // recombined by a trivial cross join; stack() pivots to long form.
    // min/max stringify for a uniform output schema; the profiled
    // columns' string forms are engine-identical (ints, ASCII flags,
    // whole-second timestamps, short decimals-as-doubles).
    "etl_profile_columns" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag",
        "l_shipdate", "l_quantity")
      val plainAggs = count(lit(1)).as("n_rows") +: cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
      }
      val distinctAggs = cols.map(c => countDistinct(col(c)).as(s"dist_$c"))
      val stackExpr = "stack(" + cols.size + ", " + cols.map(c =>
        s"'$c', null_$c, dist_$c, min_$c, max_$c").mkString(", ") +
        ") as (col_name, n_null, n_distinct, min_s, max_s)"
      li.agg(plainAggs.head, plainAggs.tail: _*)
        .crossJoin(broadcast(li.agg(distinctAggs.head, distinctAggs.tail: _*)))
        .selectExpr("n_rows", stackExpr)
        .select("col_name", "n_rows", "n_null", "n_distinct",
          "min_s", "max_s")
    },
    "s1_scan_fidelity" -> { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    },
    // O1/O2: deterministic ORDER-BY-PK LIMIT/OFFSET pagination
    // (rows 1001..1100 of the composite-PK order). The ordinal is the
    // distributed running count (Ids.cumulativeSum: range-repartition +
    // per-partition ranks + broadcast offsets) — identical numbering to
    // an unpartitioned row_number window, with no single-task global
    // sort, so the exact-offset semantics survive a 100× scale-up.
    "o2_offset_pagination" -> { (s, dir) =>
      val base = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      Ids.cumulativeSum(base,
          Seq(col("l_orderkey"), col("l_linenumber")), lit(1L), "rn")
        .filter(col("rn") > 1000 && col("rn") <= 1100)
    },
    // O3/X4: keyset probes — the PK value at every ceil(n/8)-th ordinal,
    // i.e. the split points the reference derives per delete worker.
    // Same distributed-ordinal scaffold; the total rides a broadcast
    // single-row aggregate instead of a global count-over-() window.
    "o3_keyset_probe" -> { (s, dir) =>
      Ids.cumulativeSum(Tables(s, dir, "orders").select(col("o_orderkey")),
          Seq(col("o_orderkey")), lit(1L), "rn", totalName = Some("total"))
        .withColumn("step", expr("(total + 7) div 8"))
        .filter(col("rn") % col("step") === 0)
        .select(col("rn"), col("o_orderkey"))
    },
    // X4/S9: delete partitioning — 8 PK ranges with bounds + row counts.
    // NTILE(8) in closed form from the distributed ordinal + row total
    // (Ids.ntileExact) — bit-identical to ntile(8).over(orderBy(pk))
    // without funnelling the table through one window task.
    "x4_delete_partition" -> { (s, dir) =>
      Ids.ntileExact(Tables(s, dir, "orders").select(col("o_orderkey")),
          Seq(col("o_orderkey")), 8, "worker")
        .groupBy("worker")
        .agg(min("o_orderkey").as("begin_key"), max("o_orderkey").as("end_key"),
          count(lit(1)).as("n_rows"))
    },
    // X2: the reference's upload-worker count formula
    // min(totalRecords/batchSize + 1, maxNumberOfWorkers)
    // (GenericJdbcTableWorker.java:68-72), with the divisor and cap the
    // copy sizes its reads by (CopyPlanner.readPartitions).
    "x2_worker_plan" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_records"))
        .select(col("n_records"),
          least(expr(s"n_records div ${CopyPlanner.RowsPerWorker}") + 1,
            lit(ConverterConfig().maxNumberOfWorkers)).as("n_workers"))
    },
    // P4: true lexicographic composite-PK range (the reference's per-column
    // box predicate is only correct for single-column PKs — SURVEY §2.2 P4).
    "p4_pk_range" -> { (s, dir) =>
      val lo = (col("l_orderkey") > 500) ||
        (col("l_orderkey") === 500 && col("l_linenumber") >= 3)
      val hi = (col("l_orderkey") < 520) ||
        (col("l_orderkey") === 520 && col("l_linenumber") <= 2)
      Tables(s, dir, "lineitem").filter(lo && hi)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    },
    // P5: PK-equality / IN-list row targeting.
    "p5_pk_in" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderkey").isin(1L, 5L, 10L, 100L, 999L))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },
    // S2/X2: disjoint partition cover — per-bucket accounting proves the
    // hash partitioning covers every row exactly once.
    "s2_partition_cover" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy((col("l_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_quantity"))).cast(DoubleType).as("qty"))
    },
    // A3: the reference's per-value byte accounting (ConverterUtils.java:
    // 118-152): INT64/DOUBLE=8, strings=utf8 byte length, summed per copy.
    "a3_byte_accounting" -> { (s, dir) =>
      Tables(s, dir, "customer").agg(
        sum(lit(8) + lit(8) + lit(8) +
          expr("octet_length(c_name)") + expr("octet_length(c_mktsegment)"))
          .as("total_bytes"),
        count(lit(1)).as("n_rows"))
    },
    // ---- events (stream-shaped table; ts is raw nanos, see GraftSession) --
    // Tumbling 5-minute window aggregation (batch equivalent of the
    // Structured Streaming path in graft.streaming).
    "ev_tumbling_window" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(expr("ts div 300000000000").as("win5m"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast(DoubleType).as("total_value"))
    },
    // 30-minute-gap sessionization via lag + running flag sum — the batch
    // twin of mapGroupsWithState sessionization.
    "ev_sessionize" -> { (s, dir) =>
      // NOTE: window order is (ts, event_id) on both sides; the oracle's ts
      // is µs-truncated but sub-µs ties within one user are not present in
      // the fixture, so the total order agrees.
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir, "events")
        .withColumn("sec", expr("ts div 1000000000"))
        .withColumn("prev_sec", lag("sec", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("sec").as("start_sec"), max("sec").as("end_sec"))
    },
    // Gap-filled 1-minute resample: every minute between the stream's
    // bounds gets a row, empty minutes as zero — the densification step
    // a training-data time-series pipeline needs before windowed
    // featurization. Generator (sequence/explode) + broadcast left join.
    "ev_resample_1min" -> { (s, dir) =>
      val ev = Tables(s, dir, "events").withColumn("minute", expr("ts div 60000000000"))
      val counts = ev.groupBy("minute").agg(count(lit(1)).as("cnt"))
      val bounds = ev.agg(min("minute").as("lo"), max("minute").as("hi"))
      val minutes = bounds
        .select(explode(expr("sequence(lo, hi)")).as("minute"))
      // per-minute counts grow with the stream's time span — merge-
      // pinned rather than broadcast (a year is ~526k minutes)
      minutes.join(counts.hint("merge"), Seq("minute"), "left")
        .select(col("minute"), coalesce(col("cnt"), lit(0L)).as("n"))
    },
    // Gap filling: a dense per-user hour spine (sequence over each
    // user's own [min, max] hour — bounded by span/granularity, not the
    // global range), missing hours flagged and the last observed event
    // carried forward. Integer aggregates keep both engines bit-equal
    // (a double SUM would drift with aggregation order).
    "ev_gap_fill" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .filter(col("user_id") < 10)
        .withColumn("hr", expr("ts div 3600000000000"))
      val hourly = ev.groupBy("user_id", "hr").agg(count(lit(1)).as("n"),
        max("event_id").as("last_event"))
      val spans = hourly.groupBy("user_id")
        .agg(min("hr").as("lo"), max("hr").as("hi"))
      val spine = spans.select(col("user_id"),
        explode(expr("sequence(lo, hi)")).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
      spine.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"), col("n").isNull.as("is_gap"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("last_event"), ignoreNulls = true).over(w)
            .as("carried_event"))
    },
    // Cohort retention matrix: users grouped by first-activity week, then
    // distinct-active-user counts per (cohort, week offset) — the
    // engagement/decay table every dataset-freshness or user-activity
    // audit starts from. Scale shape: the distinct (user, week) pairs are
    // reduced FIRST (one shuffle with map-side partial; output is bounded
    // by users × weeks, far smaller than events), so the cohort min and
    // the offset counts both run over the reduced set and the final
    // count needs no distinct aggregate (pairs are already unique). All
    // integer epoch-week arithmetic — hash-exact across engines.
    "ev_retention_cohorts" -> { (s, dir) =>
      val uw = Tables(s, dir, "events")
        .select(col("user_id"), expr("ts div 604800000000000").as("week"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
      // per-user tables are user-count-sized (linear) — merge-pinned
      uw.join(cohort.hint("merge"), "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
    // JSON payload extraction from the props column.
    "ev_json_extract" -> { (s, dir) =>
      Tables(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
    },
    // Sequential-pattern detection (the MATCH_RECOGNIZE shape Spark
    // has no native operator for): view → purchase within 30 minutes
    // with NO error in between, per user. Composed, not scanned: two
    // conditional MINs over "all rows strictly after this one" give
    // each event its next-purchase and next-error timestamps, and the
    // pattern is then a pure row-local predicate — next_p within the
    // bound and next_e absent-or-later. The frame is spelled as a
    // RUNNING min over (UNBOUNDED PRECEDING, 1 PRECEDING) in REVERSED
    // (ts DESC, event_id DESC) order — the same row set as
    // (1 FOLLOWING, UNBOUNDED FOLLOWING) ascending, but Spark executes
    // running frames incrementally (O(n) per partition) where an
    // unbounded-following frame re-aggregates the remainder per row
    // (O(n²) — a 100k-event bot user would pay ~10^10 updates).
    // Windows partition by user (never global); one pass over the
    // ordered stream — the shape a Flink CEP NFA computes, minus the
    // state machine.
    "ev_pattern_match" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("next_p",
          min(when(col("event_type") === "purchase", col("ts"))).over(w))
        .withColumn("next_e",
          min(when(col("event_type") === "error", col("ts"))).over(w))
        .filter(col("event_type") === "view" &&
          col("next_p").isNotNull &&
          col("next_p") - col("ts") <= 1800000000000L &&
          (col("next_e").isNull || col("next_e") > col("next_p")))
        .select(col("user_id"), col("event_id").as("view_id"),
          expr("(next_p - ts) div 1000000000").as("gap_seconds"))
    },
    // First-order Markov transition matrix of the per-user event
    // stream: P(next type | type) in integer ppm — the behavioral-
    // model summary (and anomaly baseline: a deploy that shifts a
    // transition row is caught by diffing two of these). Per-user lead
    // (never a global window), 6×6-bounded count table, row totals via
    // a window over `src` (≤ #types partitions — a tiny table by then);
    // n·1e6 stays < 2^63 to 9e12 transitions per pair.
    "ev_markov_transition" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_ppm", expr("n * 1000000 div sum(n) over (partition by src)"))
    },
    // Event-sequence mining: the 20 most frequent 3-step event paths
    // across all users — "what do users actually do, in order" (the
    // product-analytics path report, and the n-gram statistic a
    // behavioral-cloning dataset is curated by). Per-user windows
    // (ordered by ts, event_id — total order, no ties) emit each
    // consecutive trigram via lead(); one groupBy counts them, and the
    // top-20 cut is tie-broken by the full path so the LIMIT edge is
    // deterministic. Scale shape: the window partitions by user (no
    // global sort), the count is a partial-agg shuffle over ≤ |types|³
    // keys, and the final top-k is TakeOrderedAndProject.
    "ev_event_trigrams" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(col("event_type").as("e1"), col("e2"), col("e3"))
        .groupBy("e1", "e2", "e3")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    },
    // Ordered funnel (view → first click at-or-after it → first purchase
    // at-or-after that): three stage aggregations, each a groupBy-min +
    // user-keyed join — no per-user event sort, and every stage shuffles
    // on the same key so the exchanges line up. Timestamps compare as
    // raw nanos and emit µs-truncated (fixture sub-µs is always zero).
    "ev_funnel" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      // per-user stage tables are user-count-sized (linear in corpus)
      // — every user-keyed join is merge-pinned (round-9 100x lesson)
      val c = ev.filter(col("event_type") === "click")
        .join(v.hint("merge"), "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c.hint("merge"), "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c.hint("merge"), Seq("user_id"), "left")
        .join(p.hint("merge"), Seq("user_id"), "left")
        .select(col("user_id"),
          expr("t_view div 1000").as("view_us"),
          expr("t_click div 1000").as("click_us"),
          expr("t_purchase div 1000").as("purchase_us"),
          (lit(1) +
            when(col("t_click").isNotNull, 1).otherwise(0) +
            when(col("t_purchase").isNotNull, 1).otherwise(0))
            .cast("long").as("depth"))
    },
    // Per-user z-score outlier flags over event values — the metric-
    // anomaly sweep a pipeline runs over ingest telemetry before
    // trusting a batch. Entirely in exact integer arithmetic: values
    // quantize to 0.1-milli units (q = floor(v·1e4+0.5)), per-user
    // count/sum/sum-of-squares are exact BIGINTs, and the z>3 test
    // compares (n·q − S)² > 9·(n·Q − S²) — the squared-z inequality
    // cleared of divisions, so no float ever forms and the oracle
    // hash-matches bit-for-bit. Overflow envelope: the binding terms
    // are the squares — |n·q − S| ≤ 2·n·max|q|, so BIGINT exactness
    // needs n·max|q| ≲ 1.5e9 (then (2·1.5e9)² = 9e18 < 2^63; n·Q − S²
    // is bounded by the same product squared). Fixture: n ≈ 70,
    // max|q| ≈ 5.6e6 → n·max|q| ≈ 3.9e8 — inside with ~4× headroom.
    // Past the envelope (say 1e6 events per user at |v| ≈ 1e3), first
    // aggregate per (user, day) or widen the stats to DECIMAL(38,0)
    // as vec_whiten does.
    // Scale shape: one partial-aggregated shuffle for the stats, one
    // equi-join back on user_id (same key → exchanges line up), no
    // window sort.
    "ev_anomaly_zscore" -> { (s, dir) =>
      val ev = Tables(s, dir, "events").select(
        col("event_id"), col("user_id"),
        expr("cast(floor(value * 10000 + 0.5d) as bigint)").as("q"))
      val stats = ev.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum("q").as("sq"),
        sum(expr("q * q")).as("qq"))
      ev.join(stats, "user_id")
        .select(col("event_id"), col("user_id"), col("n"),
          ((col("n") * col("q") - col("sq")) * (col("n") * col("q") - col("sq")) >
            lit(9L) * (col("n") * col("qq") - col("sq") * col("sq")))
            .as("is_anomaly"))
    },
    // A/B experiment readout: users hash-split into two variants by the
    // engine-portable md5 bucket (content-keyed ⇒ assignment is stable
    // across runs, engines and partitionings — the property an
    // experimentation pipeline actually needs), then a Welch z on the
    // per-variant value means. ONE scalar conditional aggregate over the
    // scan (map-side combinable: n/Σ/Σ² per variant), all BIGINT until
    // the single-row z expression (fixed op order, micro-quantized) —
    // Σcents² ≤ ~6e17 at 100× sf0.1, inside BIGINT with 15× headroom.
    // At 100 TB this is the cheapest possible shape: no join, no
    // window, one partial-aggregated reduction.
    "ev_ab_test" -> { (s, dir) =>
      Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select(
          (graft.functions.HashFunctions
            .md5_prefix64(col("user_id").cast("string"), 8) % 2 === 0).as("is_a"),
          expr("cast(floor(value * 100 + 0.5d) as bigint)").as("cents"))
        .agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"),
          coalesce(sum(when(col("is_a"), col("cents"))), lit(0L)).as("sa"),
          coalesce(sum(when(!col("is_a"), col("cents"))), lit(0L)).as("sb"),
          coalesce(sum(when(col("is_a"), col("cents") * col("cents"))), lit(0L)).as("ssa"),
          coalesce(sum(when(!col("is_a"), col("cents") * col("cents"))), lit(0L)).as("ssb"))
        .where(col("na") > 1 && col("nb") > 1)
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          col("sa").as("sum_cents_a"), col("sb").as("sum_cents_b"),
          expr(
            """cast(floor(
              |  (cast(sa as double) / cast(na as double)
              |   - cast(sb as double) / cast(nb as double))
              |  / sqrt(
              |     ((cast(ssa as double)
              |       - cast(sa as double) * cast(sa as double) / cast(na as double))
              |       / cast(na - 1 as double)) / cast(na as double)
              |   + ((cast(ssb as double)
              |       - cast(sb as double) * cast(sb as double) / cast(nb as double))
              |       / cast(nb - 1 as double)) / cast(nb as double))
              |  * 1e6 + 0.5d) as bigint)""".stripMargin).as("z_micro"))
    },
    // Changelog compaction (the CDC "merge latest" shape): one row per
    // user — their most recent event by (ts, event_id). A lexicographic
    // struct-max aggregation, NOT a per-key window sort: the max is
    // partial-aggregatable, so it map-side combines and shuffles one
    // row per (partition, key) — the shape that survives 100×. ts is
    // raw nanos (fixture quirk); emitted µs-truncated for the oracle.
    "etl_merge_latest" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"),
          expr("m.ts div 1000").as("last_ts_us"),
          col("m.event_id").as("last_event_id"),
          col("m.value").as("last_value"))
    },
    // SCD type-2 dimension build from a changelog: collapse each user's
    // event stream into state intervals — a row per run of consecutive
    // identical event_types, with [valid_from, valid_to) µs bounds and
    // an is_current flag on the open interval. Two per-user windows
    // (lag to find change points, lead over the filtered changes for
    // the closing bound) — one shuffle on the user key, never global.
    "etl_scd2" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to_us", lead("us", 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("us").as("valid_from_us"), col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
    },
    // Kaplan–Meier survival over user lifetimes — the retention curve a
    // product/cohort analysis actually wants (ev_retention_cohorts'
    // principled cousin): per-user lifetime = (last − first event) in
    // whole HOURS, a user is an observed churn if their last event is
    // > 14 days before the corpus max (else right-CENSORED — still
    // active when the data ends; the distinction is the whole point of
    // KM vs a naive churn histogram). The risk table is all exact
    // integers: one user-keyed aggregate (the only corpus-scale
    // shuffle), one bounded hour-keyed aggregate — distinct lifetime
    // hours are capped by the corpus TIME SPAN, not its row count, so
    // the KM table stays metadata-sized at 100 TB. The survival curve
    // S(t) = Π_{s≤t}(1 − d_s/n_s) is a sequential product, computed as
    // a deterministic LEFT FOLD over the hour-sorted array (one struct
    // accumulator carries (at-risk, product); O(D²) fold work on a
    // D ≤ span-hours array): IEEE mul/div in a pinned order, so the
    // ppm-quantized curve is bit-identical to the oracle's recursive
    // CTE doing the same fold. No window, no collect — the fold runs
    // inside one single-row aggregate plan.
    "ev_survival_km" -> { (s, dir) =>
      // thin wrapper since round 12 — Stats.kaplanMeier is the callable
      // library entry point (LibraryApiSpec runs it on synthetic tables)
      Stats.kaplanMeier(Tables(s, dir, "events"), "user_id", "ts")
    },
    // Order-independent table checksums — the scalable way to validate a
    // copy (the reference's actual domain): one narrow map computing a
    // canonical per-row hash, one partial-aggregating sum, no sort, no
    // row shipping. Floats are canonicalized to integer cents and
    // timestamps to epoch days BEFORE hashing (raw float/timestamp
    // rendering differs across engines; canonicalization is what real
    // checksum tools do too). Mod 2⁶¹−1 keeps the running sum exact in
    // decimal(38) at any row count.
    "etl_table_checksum" -> { (s, dir) =>
      val M = 2305843009213693951L // 2^61 - 1
      def ck(name: String, d: DataFrame,
          canon: org.apache.spark.sql.Column): DataFrame =
        d.select(graft.functions.HashFunctions.md5_prefix64(canon, 10)
            .cast(DecimalType(38, 0)).as("h"))
          .agg(count(lit(1)).as("n_rows"),
            (sum(col("h")) % M).cast("long").as("checksum"))
          .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
      ck("orders", Tables(s, dir, "orders"), concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + lit(0.5d)).cast("long"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01")),
          col("o_orderpriority")))
        .unionAll(ck("customer", Tables(s, dir, "customer"), concat_ws("|",
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100 + lit(0.5d)).cast("long"),
          col("c_mktsegment"))))
    },
    // Snapshot diff — derive the CDC stream between two versions of a
    // PK-keyed table (the reference's copy-validation domain, one step
    // further: not "are they equal" but "exactly what changed"). The
    // next version is synthesized deterministically from orders: every
    // %97 key removed, every %101 key's price bumped 1%, plus shifted-id
    // copies as inserts. A full outer join on the PK classifies each
    // key: added (no base row), removed (no next row), changed (both
    // present, canonical content differs). Unchanged rows — the 100 TB
    // bulk — are filtered before the result materializes. One shuffle
    // per side on the PK; prices compare as exact integer cents.
    "etl_snapshot_diff" -> { (s, dir) =>
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100 + lit(0.5d)).cast("long").as("cents"))
      val next = base.filter(col("k") % 97 =!= 0)
        .select(col("k"),
          when(col("k") % 101 === 0, expr("cents * 101 div 100"))
            .otherwise(col("cents")).cast("long").as("cents"))
        .unionAll(base.filter(col("k") % 103 === 0)
          .select((col("k") + 10000000L).as("k"), col("cents")))
      base.select(col("k"), col("cents").as("old_cents"))
        .join(next.select(col("k"), col("cents").as("new_cents")), Seq("k"), "full_outer")
        .withColumn("change_type",
          when(col("old_cents").isNull, "added")
            .when(col("new_cents").isNull, "removed")
            .when(col("old_cents") =!= col("new_cents"), "changed"))
        .filter(col("change_type").isNotNull)
        .select(col("k").as("o_orderkey"), col("change_type"),
          col("old_cents"), col("new_cents"))
    },
    // Purchase→click attribution: every (purchase, click) pair by the
    // same user with the click in the 4 h up to the purchase — the batch
    // twin of StreamingOps.clickAttribution's watermarked stream-stream
    // interval join (StreamingSpec proves streaming ≡ this). µs-truncated
    // arithmetic on both engines (ts div 1000 ↔ epoch_ns // 1000) so the
    // boundary comparisons are identical integers.
    "ev_click_attribution" -> { (s, dir) =>
      val ev = Tables(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
          col("us").as("c_us"))
      p.join(c, col("user_id") === col("c_user_id") &&
          col("c_us") >= col("p_us") - lit(14400000000L) &&
          col("c_us") <= col("p_us"))
        .select("user_id", "purchase_id", "click_id")
    })

  val oracles: Map[String, String] = Map(
    "p1_projection" -> "SELECT c_custkey, c_name, c_acctbal FROM customer",
    "ev_changepoint_cusum" ->
      """WITH e AS (
        | SELECT epoch_ns(ts) // 604800000000000 AS week,
        |  CAST(FLOOR("value" * 100 + 0.5) AS BIGINT) AS cents
        | FROM events WHERE "value" IS NOT NULL),
        |w AS (
        | SELECT week, COUNT(*) AS n, SUM(cents) AS s FROM e GROUP BY 1),
        |t AS (SELECT SUM(n) AS nt, SUM(s) AS st FROM w),
        |d AS (SELECT week, n, s, s - n * (st // nt) AS dev FROM w, t),
        |p AS (
        | SELECT week, n, s, SUM(dev) OVER (ORDER BY week) AS pp FROM d)
        |SELECT week, CAST(n AS BIGINT) AS n_events,
        | CAST(s AS BIGINT) AS sum_cents,
        | CAST(pp - LEAST(MIN(pp) OVER (ORDER BY week), 0) AS BIGINT) AS cusum
        |FROM p""".stripMargin,
    // one UNION ALL block per FK edge, generated from the same edge list
    // shape as the Spark side; LEFT JOIN preserves child row counts
    // because every parent key is a PK (unique)
    "etl_fk_orphans" -> Seq(
      ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"))
      .map { case (name, child, fk, parent, pk) =>
        s"""SELECT '$name' AS fk,
           | CAST(COUNT(*) AS BIGINT) AS n_child,
           | CAST(COUNT(DISTINCT $fk) AS BIGINT) AS n_child_keys,
           | CAST(COALESCE(SUM(CASE WHEN $fk IS NOT NULL AND $pk IS NULL
           |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphans
           |FROM $child LEFT JOIN $parent ON $fk = $pk""".stripMargin
      }.mkString("", "\nUNION ALL\n", ""),
    "etl_join_cardinality" ->
      """WITH a AS (
        | SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY 1),
        |b AS (
        | SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1),
        |f AS (
        | SELECT a.k, CAST(ca * cb AS BIGINT) AS fanout
        | FROM a JOIN b ON a.k = b.k),
        |hot AS (
        | SELECT k AS hot_key, fanout AS hot_fanout FROM f
        | ORDER BY fanout DESC, k DESC LIMIT 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
        | CAST(SUM(fanout) AS BIGINT) AS est_rows,
        | hot_key, hot_fanout,
        | CAST(hot_fanout * 1000000 // SUM(fanout) AS BIGINT)
        |   AS hot_share_micro
        |FROM f, hot GROUP BY hot_key, hot_fanout""".stripMargin,
    "etl_contract_check" ->
      """WITH checks AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  -- COALESCE: an EMPTY snapshot (the very case a contract gate
        |  -- exists for) must read all-zero + contract_ok=true on both
        |  -- engines; bare SUM over zero rows is NULL in SQL where
        |  -- Spark's count_if is 0
        |  CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0
        |    END), 0) AS BIGINT) AS null_pk,
        |  CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0
        |    END), 0) AS BIGINT) AS null_fk,
        |  CAST(COALESCE(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0
        |    END), 0) AS BIGINT) AS neg_price,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_status,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_pk
        | FROM orders),
        |orph AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS fk_orphans
        | FROM orders o
        | WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                   WHERE c.c_custkey = o.o_custkey))
        |SELECT n_rows, null_pk, null_fk, neg_price, bad_status, dup_pk,
        | fk_orphans,
        | (null_pk + null_fk + neg_price + bad_status + dup_pk
        |  + fk_orphans = 0) AS contract_ok
        |FROM checks, orph""".stripMargin,
    "etl_profile_columns" -> Seq(
      "l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate", "l_quantity")
      .map(c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |  AS n_null,
           | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(MIN($c) AS VARCHAR) AS min_s,
           | CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n"),
    "s1_scan_fidelity" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        | l_extendedprice, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem""".stripMargin,
    "o2_offset_pagination" ->
      """SELECT l_orderkey, l_linenumber, rn FROM (
        | SELECT l_orderkey, l_linenumber,
        |  ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        | FROM lineitem) t
        |WHERE rn > 1000 AND rn <= 1100""".stripMargin,
    "o3_keyset_probe" ->
      """SELECT rn, o_orderkey FROM (
        | SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn,
        |  COUNT(*) OVER () AS total
        | FROM orders) t
        |WHERE rn % ((total + 7) // 8) = 0""".stripMargin,
    "x4_delete_partition" ->
      """SELECT worker, MIN(o_orderkey) AS begin_key, MAX(o_orderkey) AS end_key,
        | COUNT(*) AS n_rows
        |FROM (SELECT o_orderkey, NTILE(8) OVER (ORDER BY o_orderkey) AS worker
        |      FROM orders) t
        |GROUP BY worker""".stripMargin,
    "x2_worker_plan" ->
      """SELECT n_records, LEAST(n_records // 10000 + 1, 10) AS n_workers
        |FROM (SELECT COUNT(*) AS n_records FROM lineitem) t""".stripMargin,
    "p4_pk_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE (l_orderkey > 500 OR (l_orderkey = 500 AND l_linenumber >= 3))
        |  AND (l_orderkey < 520 OR (l_orderkey = 520 AND l_linenumber <= 2))""".stripMargin,
    "p5_pk_in" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey IN (1, 5, 10, 100, 999)""".stripMargin,
    "s2_partition_cover" ->
      """SELECT l_orderkey % 8 AS bucket, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a3_byte_accounting" ->
      """SELECT CAST(SUM(8 + 8 + 8 + strlen(c_name) + strlen(c_mktsegment)) AS BIGINT) AS total_bytes,
        | COUNT(*) AS n_rows
        |FROM customer""".stripMargin,
    "ev_tumbling_window" ->
      """SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300 AS win5m, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ev_sessionize" ->
      """SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(sec) AS start_sec, MAX(sec) AS end_sec
        |FROM (
        | SELECT user_id, sec,
        |  CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM (
        |  SELECT user_id, event_id, ts, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec,
        |   LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT), 1)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events) a) b
        |GROUP BY user_id, session_id""".stripMargin,
    "ev_resample_1min" ->
      """WITH m AS (SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 60 AS minute FROM events),
        |c AS (SELECT minute, COUNT(*) AS cnt FROM m GROUP BY minute)
        |SELECT g.minute, COALESCE(c.cnt, 0) AS n
        |FROM (SELECT unnest(range((SELECT MIN(minute) FROM m),
        |                          (SELECT MAX(minute) FROM m) + 1)) AS minute) g
        |LEFT JOIN c ON g.minute = c.minute""".stripMargin,
    "ev_gap_fill" ->
      """WITH e AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600 AS hr,
        |                  event_id
        |           FROM events WHERE user_id < 10),
        |h AS (SELECT user_id, hr, COUNT(*) AS n, MAX(event_id) AS last_event
        |      FROM e GROUP BY 1, 2),
        |s AS (SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi FROM h GROUP BY 1),
        |g AS (SELECT s.user_id, unnest(range(lo, hi + 1)) AS hr FROM s)
        |SELECT g.user_id, g.hr, h.n IS NULL AS is_gap,
        | CAST(COALESCE(h.n, 0) AS BIGINT) AS n,
        | LAST_VALUE(h.last_event IGNORE NULLS) OVER (
        |   PARTITION BY g.user_id ORDER BY g.hr
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_event
        |FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr""".stripMargin,
    "ev_retention_cohorts" ->
      """WITH uw AS (
        | SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS week
        | FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1)
        |SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
        | CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM uw JOIN c ON uw.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    "ev_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events""".stripMargin,
    "ev_pattern_match" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_ns(ts) AS ts, event_type
        | FROM events),
        |m AS (
        | SELECT user_id, event_id, ts, event_type,
        |  MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_p,
        |  MIN(CASE WHEN event_type = 'error' THEN ts END) OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_e
        | FROM e)
        |SELECT user_id, event_id AS view_id,
        | CAST((next_p - ts) // 1000000000 AS BIGINT) AS gap_seconds
        |FROM m
        |WHERE event_type = 'view' AND next_p IS NOT NULL
        | AND next_p - ts <= 1800000000000
        | AND (next_e IS NULL OR next_e > next_p)""".stripMargin,
    "ev_markov_transition" ->
      """WITH o AS (
        | SELECT event_type AS src,
        |  LEAD(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS dst
        | FROM events),
        |c AS (
        | SELECT src, dst, COUNT(*) AS n
        | FROM o WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, CAST(n AS BIGINT) AS n,
        | CAST(n * 1000000 // SUM(n) OVER (PARTITION BY src) AS BIGINT)
        |   AS p_ppm
        |FROM c""".stripMargin,
    "ev_event_trigrams" ->
      """WITH seq AS (
        | SELECT event_type AS e1,
        |  LEAD(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS e2,
        |  LEAD(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS e3
        | FROM events)
        |SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,
    "ev_funnel" ->
      """WITH v AS (
        | SELECT user_id, MIN(ts) AS t_view FROM events
        | WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        | SELECT e.user_id, MIN(e.ts) AS t_click
        | FROM events e JOIN v ON e.user_id = v.user_id
        | WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1),
        |p AS (
        | SELECT e.user_id, MIN(e.ts) AS t_purchase
        | FROM events e JOIN c ON e.user_id = c.user_id
        | WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1)
        |SELECT v.user_id,
        | EPOCH_US(v.t_view) AS view_us,
        | EPOCH_US(c.t_click) AS click_us,
        | EPOCH_US(p.t_purchase) AS purchase_us,
        | CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    // same conditional-aggregate scalars and one-row Welch z expression
    "ev_ab_test" ->
      """WITH e AS (
        | SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |          % 2 = 0 AS is_a,
        |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |m AS (
        | SELECT
        |  CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |  CAST(COALESCE(SUM(CASE WHEN is_a THEN cents END), 0) AS BIGINT) AS sa,
        |  CAST(COALESCE(SUM(CASE WHEN NOT is_a THEN cents END), 0) AS BIGINT) AS sb,
        |  CAST(COALESCE(SUM(CASE WHEN is_a THEN cents * cents END), 0) AS BIGINT) AS ssa,
        |  CAST(COALESCE(SUM(CASE WHEN NOT is_a THEN cents * cents END), 0) AS BIGINT) AS ssb
        | FROM e)
        |SELECT na AS n_a, nb AS n_b, sa AS sum_cents_a, sb AS sum_cents_b,
        | CAST(FLOOR(
        |   (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |   / SQRT(
        |      ((CAST(ssa AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
        |        / CAST(na - 1 AS DOUBLE)) / CAST(na AS DOUBLE)
        |    + ((CAST(ssb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |        / CAST(nb - 1 AS DOUBLE)) / CAST(nb AS DOUBLE))
        |   * 1e6 + 0.5) AS BIGINT) AS z_micro
        |FROM m WHERE na > 1 AND nb > 1""".stripMargin,
    "ev_anomaly_zscore" ->
      """WITH q AS (
        | SELECT event_id, user_id,
        |  CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS q
        | FROM events),
        |stats AS (
        | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(q * q) AS BIGINT) AS qq
        | FROM q GROUP BY 1)
        |SELECT q.event_id, q.user_id, stats.n,
        | (stats.n * q.q - stats.sq) * (stats.n * q.q - stats.sq)
        |   > 9 * (stats.n * stats.qq - stats.sq * stats.sq) AS is_anomaly
        |FROM q JOIN stats ON q.user_id = stats.user_id""".stripMargin,
    "etl_snapshot_diff" ->
      """WITH base AS (
        | SELECT o_orderkey AS k,
        |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        | FROM orders),
        |nxt AS (
        | SELECT k, CASE WHEN k % 101 = 0 THEN (cents * 101) // 100
        |                ELSE cents END AS cents
        | FROM base WHERE k % 97 <> 0
        | UNION ALL
        | SELECT k + 10000000, cents FROM base WHERE k % 103 = 0)
        |SELECT COALESCE(b.k, n.k) AS o_orderkey,
        | CASE WHEN b.cents IS NULL THEN 'added'
        |      WHEN n.cents IS NULL THEN 'removed'
        |      WHEN b.cents <> n.cents THEN 'changed' END AS change_type,
        | b.cents AS old_cents, n.cents AS new_cents
        |FROM base b FULL OUTER JOIN nxt n ON b.k = n.k
        |WHERE b.cents IS NULL OR n.cents IS NULL OR b.cents <> n.cents""".stripMargin,
    "etl_table_checksum" ->
      """WITH o AS (
        | SELECT ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |   o_orderstatus, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
        |   DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
        |   o_orderpriority)), 1, 10))::BIGINT AS h
        | FROM orders),
        |c AS (
        | SELECT ('0x' || substr(md5(concat_ws('|', c_custkey, c_name,
        |   c_nationkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT),
        |   c_mktsegment)), 1, 10))::BIGINT AS h
        | FROM customer)
        |SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS checksum FROM o
        |UNION ALL
        |SELECT 'customer', CAST(COUNT(*) AS BIGINT),
        | CAST(SUM(h) % 2305843009213693951 AS BIGINT) FROM c""".stripMargin,
    "etl_merge_latest" ->
      """SELECT user_id, last_ts_us, last_event_id, last_value FROM (
        | SELECT user_id, EPOCH_US(ts) AS last_ts_us, event_id AS last_event_id,
        |  value AS last_value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,
    "layout_zorder" ->
      """SELECT o_orderkey, za, zb,
        | CAST(list_sum([(((za >> i) & 1) << (2 * i)) +
        |                (((zb >> i) & 1) << (2 * i + 1))
        |                for i in range(0, 16)]) AS BIGINT) AS zval
        |FROM (
        | SELECT o_orderkey,
        |  o_custkey % 65536 AS za,
        |  CAST(DATE_DIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |       % 65536 AS BIGINT) AS zb
        | FROM orders) t""".stripMargin,
    "etl_scd2" ->
      """SELECT user_id, event_type, us AS valid_from_us,
        | LEAD(us) OVER w AS valid_to_us,
        | LEAD(us) OVER w IS NULL AS is_current
        |FROM (
        | SELECT user_id, us, event_id, event_type,
        |  LAG(event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS prev
        | FROM (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type
        |  FROM events) e) t
        |WHERE prev IS NULL OR prev <> event_type
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin,
    // same integer risk table; the survival product is the SAME left
    // fold in lifetime-hour order, as a recursive CTE (each step consumes the
    // previous step's at-risk count and product — identical IEEE op
    // order to the Spark-side array fold)
    "ev_survival_km" ->
      """WITH RECURSIVE u AS (
        | SELECT user_id, MIN(epoch_ns(ts)) AS f, MAX(epoch_ns(ts)) AS l
        | FROM events GROUP BY 1),
        |mx AS (SELECT MAX(l) AS mt FROM u),
        |bt AS (
        | SELECT (l - f) // 3600000000000 AS t_hour,
        |  CAST(SUM(CASE WHEN mt - l > 14 * 86400000000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d,
        |  CAST(SUM(CASE WHEN mt - l > 14 * 86400000000000 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS c
        | FROM u, mx GROUP BY 1),
        |ord AS (
        | SELECT t_hour, d, c, ROW_NUMBER() OVER (ORDER BY t_hour) AS rn
        | FROM bt),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS u0 FROM bt),
        |rec AS (
        | SELECT o.rn, o.t_hour, o.d, o.c, t.u0 AS n_risk,
        |  1.0 * (1.0 - CAST(o.d AS DOUBLE) / CAST(t.u0 AS DOUBLE)) AS p
        | FROM ord o, tot t WHERE o.rn = 1
        | UNION ALL
        | SELECT o.rn, o.t_hour, o.d, o.c, r.n_risk - r.d - r.c AS n_risk,
        |  r.p * (1.0 - CAST(o.d AS DOUBLE)
        |               / CAST(r.n_risk - r.d - r.c AS DOUBLE)) AS p
        | FROM ord o JOIN rec r ON o.rn = r.rn + 1)
        |SELECT t_hour, n_risk, d AS n_churn, c AS n_censor,
        | CAST(FLOOR(p * 1e6 + 0.5) AS BIGINT) AS survival_ppm
        |FROM rec""".stripMargin,
    "ev_click_attribution" ->
      """SELECT p.user_id, p.purchase_id, c.click_id
        |FROM (SELECT user_id, event_id AS purchase_id,
        |       epoch_ns(ts) // 1000 AS p_us
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id AS c_user_id, event_id AS click_id,
        |       epoch_ns(ts) // 1000 AS c_us
        |      FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.c_user_id
        |  AND c.c_us BETWEEN p.p_us - 14400000000 AND p.p_us""".stripMargin)
}
