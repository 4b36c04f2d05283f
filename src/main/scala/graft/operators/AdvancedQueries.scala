package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.CoreQueries.money

/** Second-wave operator coverage: the SQL entry point (`spark.sql` over
  * registered temp views), pivot, explode/lateral, as-of join, exact
  * median, UNION ALL, grouping sets, and approximate aggregates.
  */
object AdvancedQueries {

  /** typed-Dataset row shape for typed_dataset_balance (object scope —
    * local case classes have no TypeTag for encoder derivation) */
  final case class Cust(c_custkey: Long, c_acctbal: Double, c_mktsegment: String)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The SQL surface itself: spark.sql over temp views (TPC-H Q6 shape —
    // exact decimal arithmetic, pushdown-friendly single-table scan).
    "sql_q6_forecast_revenue" -> { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
          |                       CAST(l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
          |         AS revenue
          |FROM lineitem_v
          |WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          |  AND l_shipdate <  TIMESTAMP_NTZ '1997-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.03 AND 0.07
          |  AND l_quantity < 24""".stripMargin)
    },
    // Pivot: order counts per status × priority (Spark relational pivot;
    // oracle via conditional aggregation — same result, engine-neutral).
    "pivot_status_priority" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
    },
    // Generator/lateral: explode document tokens → top-20 token counts.
    "explode_token_freq" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },
    // As-of join: for each purchase event, the most recent prior-or-equal
    // signup second of the same user (composed from built-ins: running
    // last_value with ignoreNulls — no custom strategy needed).
    "asof_last_signup" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("sec", expr("ts div 1000000000"))
        .withColumn("signup_sec",
          last(when(col("event_type") === "signup", col("sec")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"), col("signup_sec"))
    },
    // The generic two-table form of the same semantics via AsOf.join
    // (the co-partitioned merge operator — no range-join pair blow-up).
    // Oracle is DuckDB's NATIVE ASOF LEFT JOIN, an independent
    // implementation. asof_merge_join is its twin and runs the same plan.
    "asof_join_generic" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .withColumn("sec", expr("ts div 1000000000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("sec").as("signup_sec"), col("ts"))
      AsOf.join(purchases, signups, Seq("user_id"), "ts", "ts", Seq("signup_sec"))
        .select("event_id", "user_id", "sec", "signup_sec")
    },
    // The as-of join's custom physical operator as AsOf.join plans it
    // (plans/AsOfJoinPlan.scala: AsOfJoinNode → AsOfJoinStrategy →
    // AsOfJoinExec). Each side is hash-partitioned on user_id and
    // sorted (user_id, ts) by EnsureRequirements, then one streaming
    // merge pass per co-located partition pair attaches the latest
    // signup — no union row widening, no window state, O(1) task
    // memory. Oracle: DuckDB's native ASOF LEFT JOIN.
    "asof_merge_join" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .withColumn("sec", expr("ts div 1000000000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("sec").as("signup_sec"), col("ts"))
      AsOf.join(purchases, signups, Seq("user_id"), "ts", "ts",
          Seq("signup_sec"))
        .select("event_id", "user_id", "sec", "signup_sec")
    },
    // As-of join with a TOLERANCE (pandas merge_asof(tolerance=...)):
    // matches older than 24 h null out. Time axis is µs on both engines
    // (fixture ts carries sub-µs noise DuckDB truncates, so the
    // tolerance compare must run at µs; no (user, µs) signup collisions
    // exist, so the µs ordering stays total).
    "asof_tolerance" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .withColumn("us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), expr("us div 1000000").as("signup_sec"),
          col("us"))
      AsOf.join(purchases, signups, Seq("user_id"), "us", "us",
          Seq("signup_sec"), maxLookback = Some(lit(86400000000L)))
        .select("event_id", "user_id", "signup_sec")
    },
    // Twin of asof_tolerance: same call, plan and oracle (24 h
    // lookback at µs precision, stale matches nulled above the exec).
    "asof_merge_tolerance" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .withColumn("us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), expr("us div 1000000").as("signup_sec"),
          col("us"))
      AsOf.join(purchases, signups, Seq("user_id"), "us", "us",
          Seq("signup_sec"), maxLookback = Some(lit(86400000000L)))
        .select("event_id", "user_id", "signup_sec")
    },
    // NEAREST as-of (pandas merge_asof(direction='nearest')): the
    // closest signup in either direction, ties to the earlier row.
    // Two merge joins (forward = backward on the negated time axis);
    // oracle is an independent DuckDB LATERAL argmin by absolute
    // nanosecond distance.
    "asof_nearest" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), expr("ts div 1000000000").as("signup_sec"),
          col("ts"))
      AsOf.joinNearest(purchases, signups, Seq("user_id"), "ts", "ts",
          Seq("signup_sec"))
        .select("event_id", "user_id", "signup_sec")
    },
    // Forward as-of (pandas direction='forward'): the EARLIEST signup
    // at-or-after each purchase — "next event after" semantics, the
    // mirror of the backward join, run as the backward merge on the
    // negated time axis (no pair blow-up).
    "asof_forward" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), expr("ts div 1000000000").as("signup_sec"),
          col("ts"))
      AsOf.joinForward(purchases, signups, Seq("user_id"), "ts", "ts",
          Seq("signup_sec"))
        .select("event_id", "user_id", "signup_sec")
    },
    // Twin of asof_forward: same call, plan and LATERAL oracle.
    "asof_merge_forward" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), expr("ts div 1000000000").as("signup_sec"),
          col("ts"))
      AsOf.joinForward(purchases, signups, Seq("user_id"), "ts", "ts",
          Seq("signup_sec"))
        .select("event_id", "user_id", "signup_sec")
    },
    // Exact interpolated median over integer keys (deterministic in
    // double: midpoint of two integers). Exact `percentile` buffers every
    // group's values — fine for 3 order statuses, OOM bait for
    // high-cardinality groups; the scale twin is median_order_key_approx.
    "median_order_key" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_orderkey, 0.5)").as("median_key"),
          count(lit(1)).as("n"))
    },
    // Scale-safe order statistic: approx_percentile keeps a bounded
    // KLL-style sketch per group (memory O(accuracy), not O(group size))
    // and returns an actual element of the group. With accuracy well above
    // the group sizes the sketch is exact, and the returned element is the
    // lower median — DuckDB's QUANTILE_DISC(0.5) — so the oracle compares
    // integer-exact while the plan shape is the one you'd run at 100 TB.
    "median_order_key_approx" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("approx_percentile(o_orderkey, 0.5, 1000000)")
          .as("median_key_lo"),
          count(lit(1)).as("n"))
    },
    // UNION ALL (bag semantics — the distinct variant is set_union).
    "set_union_all" -> { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .groupBy("nationkey").agg(count(lit(1)).as("n"))
    },
    // GROUPING SETS with grouping_id disambiguation.
    "grouping_sets_revenue" -> { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          | CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
    // Skew-safe two-phase aggregation: heavy-hitter keys (event_type has
    // ~5 values over 100k+ rows) are salted into 16 sub-keys for the
    // partial phase, then re-aggregated — at cluster scale this bounds
    // any single reducer's input regardless of key skew. Result is
    // identical to the plain GROUP BY (the oracle).
    "skew_salted_agg" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(money(col("value"))).as("pv"))
        .groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          sum(col("pv")).cast(DoubleType).as("total_value"))
    },
    // Heavy hitters via the Misra–Gries TypedImperativeAggregate: O(k)
    // state per buffer regardless of key cardinality — the sketch path
    // for "top talkers" on a 10^9-distinct column where groupBy(count)
    // would shuffle every key. event_type has 5 distinct values < k=16,
    // so the sketch is provably exact here and the plain GROUP BY is a
    // true oracle; the approximate regime is bounded in MisraGriesSpec.
    "freq_heavy_hitters" -> { (s, dir) =>
      Tables(s, dir, "events")
        .agg(graft.functions.MisraGries.heavy_hitters(col("event_type"), 16).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("event_type"), col("e.cnt").as("n"))
    },
    // Deterministic per-group content sampling via the bottom-k (KMV)
    // sketch aggregate: the 4 distinct texts with the smallest
    // md5-derived keys per source — a uniform distinct-domain sample
    // with O(k) state per aggregation buffer (map-side partial), where
    // the window form (rank by key within source) shuffles every row.
    // The md5-prefix key is bit-reproducible in SQL, so the oracle is
    // EXACT — the rare sketch whose whole output hash-matches.
    // Output is SCALAR rows (source, rn, item, key) — one row per sampled
    // doc — rather than two ARRAY columns: the driver's canonicalizer
    // sorts result rows by every column and array cells are unsortable
    // there (r8's only red row). OutputSurfaceSpec pins this invariant
    // for all registered queries.
    "agg_bottomk_sample" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("source")
        .agg(graft.functions.BottomK.bottom_k(col("text"), 4).as("bk"))
        .select(col("source"), posexplode(col("bk")).as(Seq("pos", "e")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
          col("e.item").as("item"), col("e.key").as("key"))
    },
    // The KMV sketch's canonical cross-table use: pairwise SOURCE
    // OVERLAP without comparing full domains. Each source compresses
    // to its bottom-64 key sketch (one aggregate pass over the
    // corpus); the pairwise comparison then runs on the 20-row sketch
    // table — matching keys between two sketches are shared DISTINCT
    // texts (md5 keys collide only on equal content at these scales),
    // the signal that feeds cross-source contamination review. At
    // 100 TB: the expensive pass stays one O(k)-state aggregate;
    // sources² pairwise work touches only k-length arrays.
    "dedup_kmv_overlap" -> { (s, dir) =>
      val sk = Tables(s, dir, "documents")
        .groupBy("source")
        .agg(graft.functions.BottomK.bottom_k(col("text"), 64).as("bk"))
        .select(col("source"), expr("transform(bk, x -> x.key)").as("keys"))
      sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          size(array_intersect(col("a.keys"), col("b.keys")))
            .cast("long").as("n_shared"))
    },
    // Equi-width histogram: integer floor-division bucketing — one
    // narrow map + one shuffle, the analytics primitive behind every
    // distribution dashboard.
    "stat_histogram" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .select(expr("cast(floor(o_totalprice) as bigint) div 25000").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    },
    // Pearson correlation + regression slope from EXACT integer moments:
    // Exact p50/p90/p99 per event type — the SLO percentile report, in
    // the nearest-rank (discrete) definition: value at position
    // ceil(n·p/100) = (n·p+99) div 100 of the sorted group. Everything
    // is integer selection over cent-quantized values (no interpolation,
    // no engine quantile builtin — Spark's and DuckDB's continuous
    // quantiles interpolate with different float op orders), so the
    // compare is exact. The per-group sort is the honest cost of exact
    // percentiles; the bounded-memory scale twin is approx_percentile
    // (the median_order_key_approx precedent).
    "stat_percentiles_disc" -> { (s, dir) =>
      // NULL values are excluded from the stats (n counts non-null):
      // Spark sorts NULLS FIRST asc, DuckDB NULLS LAST — leaving them in
      // would shift which row sits at each rank between the two engines
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("cast(floor(value * 100 + 0.5d) as bigint)").as("q_cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("q_cents"), col("event_id"))
      val ranked = ev.withColumn("rn", row_number().over(w).cast("long"))
      val pos = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          explode(expr("array(50L, 90L, 99L)")).as("p"))
        .withColumn("idx", expr("(n * p + 99) div 100"))
      pos.join(ranked, Seq("event_type"))
        .filter(col("rn") === col("idx"))
        .select("event_type", "p", "n", "q_cents")
    },
    // The bounded-memory scale twin of stat_percentiles_disc:
    // approx_percentile keeps an O(accuracy) Greenwald–Khanna summary
    // per group instead of sorting the group — the shape you'd actually
    // run on a 10^9-row group at 100 TB. Sketch values can't hash-match
    // an oracle across engines, so per the approx_distinct_parts
    // precedent the query emits the exact group counts plus booleans,
    // and the oracle asserts the same counts with `true` literals — a
    // drifting estimate flips a boolean and fails the driver's hash
    // compare. The booleans audit the sketch's ACTUAL contract (rank
    // error ≤ n/accuracy, not a value distance — tail value gaps at
    // small n are ~6% of value, unboundable across sfs): pass 2
    // broadcast-joins the tiny per-group sketch output back and counts
    // each returned element's rank interval (strictlyBelow, atOrBelow],
    // tie-robust, which must intersect target ± (n/10000 + 1).
    // Deterministic: GK compression has no RNG.
    "stat_percentiles_approx" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("cast(floor(value * 100 + 0.5d) as bigint)").as("q_cents"))
      val sk = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(q_cents, array(0.5d, 0.9d, 0.99d), 10000)").as("ap"))
      val ranked = ev.join(broadcast(sk), Seq("event_type"))
        .groupBy(col("event_type"), col("n"))
        .agg(
          sum(when(expr("q_cents < ap[0]"), 1L).otherwise(0L)).as("lt50"),
          sum(when(expr("q_cents <= ap[0]"), 1L).otherwise(0L)).as("le50"),
          sum(when(expr("q_cents < ap[1]"), 1L).otherwise(0L)).as("lt90"),
          sum(when(expr("q_cents <= ap[1]"), 1L).otherwise(0L)).as("le90"),
          sum(when(expr("q_cents < ap[2]"), 1L).otherwise(0L)).as("lt99"),
          sum(when(expr("q_cents <= ap[2]"), 1L).otherwise(0L)).as("le99"))
      def ok(p: Int, lt: String, le: String) = {
        val target = expr(s"(n * $p + 99) div 100")
        val eps = expr("cast(n as double) / 10000d + 1d")
        (col(lt) <= target + eps && col(le) >= target - eps).as(s"p${p}_ok")
      }
      ranked.select(col("event_type"), col("n"),
        ok(50, "lt50", "le50"), ok(90, "lt90", "le90"), ok(99, "lt99", "le99"))
    },
    // built-in corr() accumulates floats in partition order (last-ulp
    // nondeterminism between engines/runs), so instead the five sums
    // (Σx, Σy, Σxy, Σx², Σy²) aggregate exactly — longs/decimals over
    // integer-valued inputs (quantity; price in cents) — and ONE final
    // double formula runs on both engines over identical integers.
    "stat_corr_exact" -> { (s, dir) =>
      val xi = expr("cast(l_quantity as bigint)")
      val yi = expr("cast(floor(l_extendedprice * 100 + 0.5d) as bigint)")
      Tables(s, dir, "lineitem")
        .agg(count(lit(1)).as("n"),
          sum(xi).as("sx"), sum(xi * xi).as("sxx"),
          sum(yi.cast(DecimalType(38, 0))).as("sy"),
          sum((yi * yi).cast(DecimalType(38, 0))).as("syy"),
          sum((xi * yi).cast(DecimalType(38, 0))).as("sxy"))
        .select(col("n"), col("sx"), col("sxx"),
          expr("""floor((cast(n as double) * cast(sxy as double)
                 |       - cast(sx as double) * cast(sy as double))
                 |  / (sqrt(cast(n as double) * cast(sxx as double)
                 |          - cast(sx as double) * cast(sx as double))
                 |     * sqrt(cast(n as double) * cast(syy as double)
                 |            - cast(sy as double) * cast(sy as double)))
                 |  * 1e6 + 0.5d) / 1e6""".stripMargin).as("corr_qty_price"),
          expr("""floor((cast(n as double) * cast(sxy as double)
                 |       - cast(sx as double) * cast(sy as double))
                 |  / (cast(n as double) * cast(sxx as double)
                 |     - cast(sx as double) * cast(sx as double))
                 |  * 1e6 + 0.5d) / 1e6""".stripMargin).as("slope_cents_per_qty"))
    },
    // TAIL drift — the third leg of the drift suite (chi² = categorical
    // mix, KS = whole-shape max-gap, this = tail percentiles, which KS
    // underweights because the max ECDF gap almost always sits mid-
    // distribution). Exact nearest-rank p50/p90 per (event_type,
    // week-parity cohort), same integer-selection idiom as
    // stat_percentiles_disc (cent-quantized, no interpolation), then
    // one cohort self-join emits the per-type drift in cents. Windows
    // partition by (type, cohort); at a 10^9-row group the disc rank
    // gives way to the GK twin exactly as percentiles_disc documents.
    "stat_quantile_drift" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          (expr("ts div 604800000000000") % 2 === 0).as("even"),
          col("event_id"),
          expr("cast(floor(value * 100 + 0.5d) as bigint)").as("q_cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "even")
        .orderBy(col("q_cents"), col("event_id"))
      val ranked = ev.withColumn("rn", row_number().over(w).cast("long"))
      val pos = ev.groupBy("event_type", "even").agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("even"), col("n"),
          explode(expr("array(50L, 90L)")).as("p"))
        .withColumn("idx", expr("(n * p + 99) div 100"))
      val q = pos.join(ranked, Seq("event_type", "even"))
        .filter(col("rn") === col("idx"))
        .select("event_type", "even", "p", "q_cents")
      val a = q.filter(col("even"))
        .select(col("event_type"), col("p"), col("q_cents").as("q_even"))
      val b = q.filter(!col("even"))
        .select(col("event_type"), col("p"), col("q_cents").as("q_odd"))
      a.join(b, Seq("event_type", "p"))
        .select(col("event_type"), col("p"), col("q_even"), col("q_odd"),
          (col("q_odd") - col("q_even")).as("drift_cents"))
    },
    // Benford first-digit audit — the classic fabricated-/corrupted-
    // numbers tripwire for ingested numeric columns. The first
    // SIGNIFICANT digit comes from the value's string rendering
    // (first [1-9] match — exact on any standard decimal/scientific
    // rendering, no cross-engine log10), observed shares are integer
    // ppm, and the Benford expectation log10(1+1/d) ships as
    // PRECOMPUTED ppm constants so no libm call can differ between
    // engines. One scan + a 9-row aggregate.
    "stat_benford" -> { (s, dir) =>
      import s.implicits._
      val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L).toDF("digit", "benford_ppm")
      val d = Tables(s, dir, "orders")
        .select(regexp_extract(col("o_totalprice").cast("string"),
          "[1-9]", 0).cast("int").as("digit"))
        .where(col("digit") >= 1)
        .groupBy("digit").agg(count(lit(1)).as("n"))
      d.crossJoin(broadcast(d.agg(sum("n").as("t"))))
        .join(broadcast(benford), "digit")
        .select(col("digit"), col("n"),
          expr("n * 1000000 div t").as("obs_ppm"), col("benford_ppm"))
    },
    // Lag-1 autocorrelation of the daily event count series — the
    // seasonality/trend probe run before forecasting or anomaly
    // thresholds. The lag pairing is an EQUI-JOIN on day+1 (never a
    // global-window lag over the whole series), moments are exact
    // BIGINT/DECIMAL(38,0) sums, and only the final Pearson formula
    // touches doubles — identical IEEE expression on both engines,
    // micro-rounded like stat_corr_exact. Degenerate series (≤1 pair
    // or zero variance) emit zero rows on both engines.
    "stat_autocorr" -> { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .withColumn("day", expr("ts div 86400000000000"))
        .groupBy("day")
        .agg(count(lit(1)).as("x"))
      daily.alias("a").join(daily.alias("b"),
          col("a.day") + 1 === col("b.day"))
        .select(col("a.x").as("x"), col("b.x").as("y"))
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum(expr("x * x").cast(DecimalType(38, 0))).as("sxx"),
          sum("y").as("sy"), sum(expr("y * y").cast(DecimalType(38, 0))).as("syy"),
          sum(expr("x * y").cast(DecimalType(38, 0))).as("sxy"))
        .where(col("n") > 1 &&
          col("n") * col("sxx") > col("sx") * col("sx") &&
          col("n") * col("syy") > col("sy") * col("sy"))
        .select(col("n"), col("sx"), col("sy"),
          expr("""floor((cast(n as double) * cast(sxy as double)
                 |       - cast(sx as double) * cast(sy as double))
                 |  / (sqrt(cast(n as double) * cast(sxx as double)
                 |          - cast(sx as double) * cast(sx as double))
                 |     * sqrt(cast(n as double) * cast(syy as double)
                 |            - cast(sy as double) * cast(sy as double)))
                 |  * 1e6 + 0.5d) / 1e6""".stripMargin).as("autocorr_lag1"))
    },
    // Distribution-drift monitor: chi-squared statistic of each week's
    // event-type mix against the whole corpus — the standard data-
    // quality tripwire a training pipeline runs per ingest slice.
    // Shape: two partial-agg shuffles (week×type counts, week totals)
    // + two broadcast-sized dims (global type mix, grand total), then
    // a dense week×type grid so ABSENT types still contribute their
    // expected-count term (nw·gc/T — dropping them understates drift).
    // Determinism: every chi² term is floor-rounded to integer micros
    // PER CELL from exact BIGINT inputs, then integer-summed — the
    // per-cell double math is the same IEEE expression on both
    // engines, and integer summation makes the total order-free.
    // Envelope: |o·T − nw·gc| must stay under 2^53 for the double cast
    // to be exact (holds to ~9e15 cell products; beyond that, widen to
    // DECIMAL(38,0) the way stat_corr_exact's sums do).
    "stat_chi2_drift" -> { (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(expr("ts div 604800000000000").as("week"), col("event_type"))
      val wc = e.groupBy("week", "event_type").agg(count(lit(1)).as("o"))
      val wt = e.groupBy("week").agg(count(lit(1)).as("nw"))
      val g = e.groupBy("event_type").agg(count(lit(1)).as("gc"))
      val tot = g.agg(sum("gc").as("tt"))
      wt.crossJoin(broadcast(g))
        .join(wc, Seq("week", "event_type"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .withColumn("term_micro", expr(
          """cast(floor(cast(o * tt - nw * gc as double)
            |  * cast(o * tt - nw * gc as double)
            |  / cast(nw * gc as double) / cast(tt as double)
            |  * 1e6 + 0.5d) as bigint)""".stripMargin))
        .groupBy(col("week"), col("nw").as("n_events"))
        .agg(sum("term_micro").as("chi2_micro"))
    },
    // Two-sample Kolmogorov–Smirnov drift test: D = max |F_a − F_b|
    // between the `value` ECDFs of even- vs odd-week events — the
    // continuous-distribution counterpart of stat_chi2_drift's
    // categorical test. EXACT and distributed: group to distinct
    // values (the ECDF's step points), then BOTH cohort running
    // counts ride ONE range shuffle via Ids.cumulativeSums (the
    // multi-weight form — two ECDFs, one sort). All arithmetic is
    // integer: the per-value gap is |cum_a·n_b − cum_b·n_a| (≤ n_a·n_b
    // ≤ 2^46 at 10^7 rows/cohort), and the final normalization is one
    // DECIMAL(38,0) integral division, so the statistic is bit-stable
    // across engines. At 100×: the grouped table is distinct-value-
    // sized, every stage is a hash agg or the range-partitioned
    // prefix-sum scaffold — no global window, no driver collect.
    "stat_ks_drift" -> { (s, dir) =>
      val e = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select((expr("ts div 604800000000000") % 2 === 0).as("even"),
          col("value"))
      val byV = e.groupBy("value").agg(
        sum(when(col("even"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("even"), 1L).otherwise(0L)).as("cb"))
      Ids.cumulativeSums(byV, Seq(col("value")),
          Seq(col("ca") -> "cum_a", col("cb") -> "cum_b"),
          totals = Map("cum_a" -> "na", "cum_b" -> "nb"))
        .agg(max("na").as("n_even"), max("nb").as("n_odd"),
          max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
            .as("dmax"))
        .select(col("n_even"), col("n_odd"), expr(
          """cast((cast(dmax as decimal(38,0)) * 1000000)
            |  div (cast(n_even as decimal(38,0))
            |       * cast(n_odd as decimal(38,0))) as bigint)"""
            .stripMargin).as("ks_micro"))
        // degenerate slices (no rows, or a one-cohort week split) have
        // no defined KS statistic: emit ZERO rows, matching the
        // oracle's HAVING — without this, Spark's global agg yields one
        // all-NULL row where SQL's GROUP BY yields none
        .where(col("n_even") > 0 && col("n_odd") > 0)
    },
    // Two-sample Mann–Whitney U (Wilcoxon rank-sum) drift test between
    // the same even-/odd-week cohorts as stat_ks_drift — the rank-based
    // location test that complements KS's max-ECDF-gap shape test.
    // Distributed and EXACT, including midrank tie handling: group to
    // distinct values (ca, cb per value), then the cohort-A and total
    // running counts ride ONE range shuffle via Ids.cumulativeSums.
    // Midranks stay integral by working in DOUBLED rank units: a value
    // with t ties occupying ranks [lo, hi] contributes ca·(lo+hi) =
    // ca·(2·cum_t − t + 1) to 2·R_A, so u2 = 2·U_A = Σca·(2cum_t−t+1)
    // − na·(na+1) is a pure BIGINT (≤ 2n·na ~ 7e15 at 6e7 rows/cohort).
    // The tie-correction Σ(t³−t) accumulates in DECIMAL(38,0) (t³ can
    // pass 2^63 under heavy ties) and only the final z-score — one
    // fixed-op-order double expression, quantized to micro — touches
    // floats, so the statistic is bit-stable across engines. At 100×:
    // the grouped table is distinct-value-sized and every stage is a
    // hash agg or the range-partitioned prefix-sum scaffold — no global
    // window, no driver collect (same plan family as stat_ks_drift).
    "stat_mannwhitney" -> { (s, dir) =>
      val e = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select((expr("ts div 604800000000000") % 2 === 0).as("even"),
          col("value"))
      val byV = e.groupBy("value").agg(
          sum(when(col("even"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("even"), 1L).otherwise(0L)).as("cb"))
        .withColumn("ct", col("ca") + col("cb"))
      Ids.cumulativeSums(byV, Seq(col("value")),
          Seq(col("ca") -> "cum_a", col("ct") -> "cum_t"),
          totals = Map("cum_a" -> "na", "cum_t" -> "nn"))
        .agg(max("na").as("na"), max("nn").as("nn"),
          sum(col("ca") * (col("cum_t") * 2 - col("ct") + 1)).as("r2"),
          sum((col("ct").cast("decimal(38,0)") * col("ct") * col("ct")
            - col("ct"))).as("ties"))
        .select(col("na").as("n_even"), (col("nn") - col("na")).as("n_odd"),
          (col("r2") - col("na") * (col("na") + 1)).as("u2_even"),
          col("ties").cast(DoubleType).as("tie_d"),
          col("na"), col("nn"), col("r2"))
        .where(col("n_even") > 0 && col("n_odd") > 0)
        .select(col("n_even"), col("n_odd"), col("u2_even"), expr(
          """cast(floor(
            |  (cast(u2_even as double) - cast(n_even as double) * cast(n_odd as double))
            |  / (2.0d * sqrt(
            |      cast(n_even as double) * cast(n_odd as double) / 12.0d
            |      * (cast(nn + 1 as double)
            |         - tie_d / (cast(nn as double) * cast(nn - 1 as double)))))
            |  * 1e6 + 0.5d) as bigint)""".stripMargin).as("z_micro"))
    },
    // Poisson bootstrap CI for the mean — the one-pass resampling
    // technique that works at any corpus size (Chamandy et al., 2012;
    // the streaming-friendly alternative to BLB): instead of drawing B
    // resamples (impossible at 100 TB), each row contributes to replica
    // b with a Poisson(1) weight derived DETERMINISTICALLY from
    // md5(event_id, b), so the whole bootstrap is one narrow ×B explode
    // + one B-key partial-aggregated shuffle — no resample pass, no
    // row-count coordination, bit-stable across engines/runs/
    // partitionings. The weight comes from a 2³²-range uniform u via
    // fixed integer thresholds T_k = floor(CDF_Poisson(1)(k)·2³²)
    // (tail capped at w=7: the cap only changes a weight when the true
    // draw would be ≥ 8, P ≈ 1.0e-5 — one cell per ~10⁵ (row,replica)
    // pairs, a bias ≪ the CI width, and the SAME cap applies on both
    // engines so results still hash-match). Replica means are
    // micro-quantized by exact integral division BEFORE the normal-
    // approx CI over the B means (one fixed-op-order double expression,
    // the Welch-z discipline). B=64 keeps the replica table metadata-
    // sized; the library would lift B or the hash to xxhash64 — md5 is
    // the engine-portable oracle choice (ev_ab_test precedent).
    // Envelope: Σw·cents ≤ 7·3.3e4·6e7 ≈ 1.4e13 per replica at 100×
    // sf0.1 — BIGINT with 6e5× headroom; the ×1e6 micro scaling runs
    // in DECIMAL(38,0).
    "stat_bootstrap_ci" -> { (s, dir) =>
      // thin wrapper since round 12: cents quantization here, the
      // bootstrap itself is the callable library entry point
      Stats.bootstrapCi(
        Tables(s, dir, "events")
          .where(col("value").isNotNull)
          .select(col("event_id"),
            expr("cast(floor(value * 100 + 0.5d) as bigint)").as("cents")),
        "event_id", "cents")
    },
    // Population Stability Index — the standard model-monitoring drift
    // score between a reference and a current cohort (here: even- vs
    // odd-week events, like stat_ks_drift), per fixed-width value
    // bucket: term = (p_ref − p_cur)·ln(p_ref/p_cur) with Laplace +1
    // smoothing so empty buckets stay defined. The bucket grid is the
    // DISTINCT buckets observed (grid size B joins into both
    // denominators). Integer discipline: the single double expression
    // consumes only exact BIGINTs in a fixed op order and quantizes to
    // nano-units per bucket BEFORE any cross-bucket use, so rows are
    // bit-identical on both engines. Shape: one bucket-keyed aggregate
    // over the event scan + a broadcast of the two scalar totals —
    // the same one-shuffle plan at any corpus size (bucket count is
    // fixed by the value range, not the row count).
    "stat_psi_drift" -> { (s, dir) =>
      val e = Tables(s, dir, "events")
        .where(col("value").isNotNull)
        .select((expr("ts div 604800000000000") % 2 === 0).as("ref"),
          expr("cast(floor(value / 25.0d) as bigint)").as("bucket"))
      val byB = e.groupBy("bucket").agg(
        sum(when(col("ref"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ref"), 1L).otherwise(0L)).as("cb"))
      val tot = byB.agg(sum("ca").as("na"), sum("cb").as("nb"),
        count(lit(1)).as("n_buckets"))
      byB.crossJoin(broadcast(tot))
        .select(col("bucket"), col("ca"), col("cb"),
          expr("""cast(floor(
                |  (cast(ca + 1 as double) / cast(na + n_buckets as double)
                |   - cast(cb + 1 as double) / cast(nb + n_buckets as double))
                |  * ln(cast(ca + 1 as double) * cast(nb + n_buckets as double)
                |       / (cast(cb + 1 as double) * cast(na + n_buckets as double)))
                |  * 1e9 + 0.5d) as bigint)""".stripMargin).as("term_nano"))
    },
    // Per-group sketching: one Misra–Gries buffer PER USER inside a
    // hash aggregate — O(k) state per group on any per-group item
    // cardinality. The fixture's ≤ 6 distinct event types per user sit
    // under k=8, so every sketch is exact and the per-(user, type)
    // counts match the plain GROUP BY oracle.
    "freq_heavy_hitters_by_user" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(graft.functions.MisraGries.heavy_hitters(col("event_type"), 8).as("hh"))
        .select(col("user_id"), explode(col("hh")).as("e"))
        .select(col("user_id"), col("e.item").as("event_type"), col("e.cnt").as("n"))
    },
    // Salted JOIN (the join-side skew mitigation): the fact side salts
    // each ROW deterministically from a column independent of the join
    // key (l_linenumber — a pmod of the key itself would give every row
    // of a hot key the same salt and spread nothing), the dimension side
    // replicates once per salt value, and the join runs on (key, salt)
    // so one hot key spreads over 8 reducers instead of one. Result ≡
    // the plain join (the oracle). At cluster scale AQE's skew-join
    // split is the automatic fallback; this is the explicit form for
    // plans AQE can't rewrite.
    "join_salted_skew" -> { (s, dir) =>
      val salts = 8
      val fact = Tables(s, dir, "lineitem")
        .withColumn("salt", pmod(col("l_linenumber"), lit(salts)).cast(IntegerType))
      val dim = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .crossJoin(
          s.range(salts).select(col("id").cast(IntegerType).as("d_salt")))
      fact.join(dim, col("l_orderkey") === col("o_orderkey") &&
          col("salt") === col("d_salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(money(col("l_quantity"))).cast(DoubleType).as("total_qty"))
    },
    // Correlated scalar subquery (Catalyst decorrelates it into a join):
    // customers whose account balance exceeds their nation's rounded
    // average (threshold rounded to 4 decimals so both engines filter on
    // the identical double).
    "subq_above_nation_avg" -> { (s, dir) =>
      Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_custkey, c_nationkey FROM customer_v o
          |WHERE c_acctbal > (
          |  SELECT ROUND(CAST(AVG(CAST(i.c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 4)
          |  FROM customer_v i WHERE i.c_nationkey = o.c_nationkey)""".stripMargin)
    },
    // IN-subquery (decorrelated to a semi join by Catalyst).
    "subq_in_big_orders" -> { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_sub_v")
      s.sql(
        """SELECT o_orderkey, o_orderstatus FROM orders_v
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem_sub_v WHERE l_quantity >= 49)""".stripMargin)
    },
    // RANGE-frame window: per customer, total order value within the
    // trailing 30 days of each order (peer-inclusive → deterministic
    // even under order-date ties).
    "win_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("day"))
        .rangeBetween(-30, 0)
      Tables(s, dir, "orders")
        .withColumn("day", datediff(col("o_orderdate").cast(DateType),
          lit("1995-01-01").cast(DateType)).cast("long"))
        .withColumn("trailing30_total",
          sum(money(col("o_totalprice"))).over(w).cast(DoubleType))
        .select("o_orderkey", "o_custkey", "day", "trailing30_total")
    },
    // Null semantics: null-safe equality (<=>) join and explicit null
    // ordering. Nulls are manufactured with NULLIF (fixtures are
    // null-free).
    "null_safe_join" -> { (s, dir) =>
      val a = Tables(s, dir, "customer")
        .select(col("c_custkey"), expr("nullif(c_nationkey % 5, 0)").as("grp"))
      val b = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), expr("nullif(s_nationkey % 5, 0)").as("grp"))
      a.join(b, a("grp") <=> b("grp"))
        .groupBy(coalesce(a("grp"), lit(-1)).as("grp_key"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // Typed Dataset path: case-class encoder, typed filter/map, then
    // back to a relational aggregate.
    "typed_dataset_balance" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment").as[Cust]
        .filter((c: Cust) => c.c_acctbal > 0.0)
        .map((c: Cust) => (c.c_mktsegment, math.floor(c.c_acctbal / 1000).toLong))
        .toDF("segment", "kbal")
        .groupBy("segment", "kbal").agg(count(lit(1)).as("n"))
    },
    // TPC-H Q2 shape: min-per-group + join back (cheapest supplier per
    // nation by acctbal, with PK tiebreak resolved by window rank).
    "q2_min_cost_supplier" -> { (s, dir) =>
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      Tables(s, dir, "supplier")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("s_nationkey", "s_suppkey", "s_name")
    },
    // TPC-H Q15 shape: aggregate view + select the maximum of the
    // aggregate (supplier(s) with the highest 1996 revenue).
    "q15_top_supplier" -> { (s, dir) =>
      val rev = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampNTZType) &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampNTZType))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(round(sum(money(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(1, 0)) - col("l_discount").cast(DecimalType(8, 4)))), 2)
          .cast(DoubleType).as("total_revenue"))
      rev.join(broadcast(rev.agg(max("total_revenue").as("total_revenue"))),
          Seq("total_revenue"))
        .select("supplier_no", "total_revenue")
    },
    // TPC-H Q18 shape: HAVING over a grouped fact, joined back to the
    // dimension rows (orders whose total quantity exceeds 300).
    "q18_large_orders" -> { (s, dir) =>
      val big = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(money(col("l_quantity"))).cast(DoubleType).as("total_qty"))
        .filter(col("total_qty") > 300.0)
      Tables(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "total_qty")
    },
    // TPC-H Q11 shape (no partsupp fixture → lineitem value per part):
    // grouped value vs a broadcast scalar share-of-total threshold. The
    // threshold adapts to scale like Q11's 0.0001/SF: keep parts whose
    // value exceeds 1.5× the mean part value, as exact cross-multiplied
    // decimals (value·2·n_parts > total·3) — no float division anywhere.
    "q11_important_parts" -> { (s, dir) =>
      val v = Tables(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(money(col("l_extendedprice"))).as("value_dec"))
      val tot = v.agg(
        sum(col("value_dec")).cast(DecimalType(30, 2)).as("total_dec"),
        count(lit(1)).cast(DecimalType(10, 0)).as("n_parts"))
      v.crossJoin(broadcast(tot))
        .filter(col("value_dec").cast(DecimalType(15, 2)) *
          lit(2).cast(DecimalType(1, 0)) * col("n_parts") >
          col("total_dec") * lit(3).cast(DecimalType(1, 0)))
        .select(col("l_partkey"), col("value_dec").cast(DoubleType).as("value"))
    },
    // TPC-H Q13 shape: customer × orders LEFT join (with an order-class
    // exclusion), per-customer order count, then the distribution of
    // those counts — two aggregations, nulls counting as zero.
    "q13_customer_distribution" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Tables(s, dir, "customer").select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    },
    // TPC-H Q16 shape: part↔supplier relationship (via lineitem — no
    // partsupp fixture), minus an excluded-supplier subquery (broadcast
    // anti join), then distinct-supplier counts per (brand, size).
    "q16_supplier_part_variety" -> { (s, dir) =>
      val excl = Tables(s, dir, "supplier")
        .filter(col("s_acctbal") < 2000.0).select(col("s_suppkey"))
      val parts = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && !col("p_type").like("PROMO%"))
        .select("p_partkey", "p_brand", "p_size")
      Tables(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    // TPC-H Q17 shape: small-quantity lineitems of one brand, against a
    // correlated per-part average quantity. The brand's partkey set
    // broadcasts to semi-filter lineitem FIRST, so the per-part average
    // aggregates only the surviving sliver; quantities are integer-valued
    // doubles, so their sums (hence the avg) are order-exact in IEEE.
    "q17_small_qty_revenue" -> { (s, dir) =>
      val bp = broadcast(Tables(s, dir, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey"))
      val li13 = Tables(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(bp, col("l_partkey") === col("p_partkey"))
      val avgq = li13.groupBy(col("l_partkey").as("ap"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      // avgq is one row per brand partkey — linear in sf (a brand is
      // ~1/25 of parts), so the correlated-avg join is merge-pinned,
      // never broadcast on an estimate (round-9 100x lesson); both
      // sides already key on partkey so the exchanges line up
      li13.join(avgq.hint("merge"), col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(money(col("l_extendedprice"))).cast(DoubleType) / lit(7.0))
          .as("avg_yearly"))
    },
    // TPC-H Q21 shape: suppliers who alone were late on multi-supplier
    // finished orders — a self-semi-join (some other supplier exists)
    // plus a self-anti-join (no other supplier was late). "Late" is a
    // >90-day ship lag (the fixture has no commit/receipt dates).
    "q21_waiting_supplier" -> { (s, dir) =>
      val lf = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (datediff(col("l_shipdate"), col("o_orderdate")) > 90).as("late"))
      val l1 = lf.filter(col("late"))
      val others = lf.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val lateOthers = l1.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1.join(others, col("l_orderkey") === col("ok2") &&
          col("l_suppkey") =!= col("sk2"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("ok3") &&
          col("l_suppkey") =!= col("sk3"), "left_anti")
        .join(broadcast(Tables(s, dir, "supplier").select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },
    // TPC-H Q22 shape: well-funded customers in a nation subset with no
    // recent orders. The positive-balance average arrives as a broadcast
    // scalar and the comparison is cross-multiplied into exact decimals
    // (bal·n_pos > sum_pos); "no recent orders" is a broadcast anti join.
    "q22_lost_customers" -> { (s, dir) =>
      val sel = Tables(s, dir, "customer")
        .filter(pmod(col("c_nationkey"), lit(2)) === 1)
      val stats = sel.filter(col("c_acctbal") > 0.0)
        .agg(count(lit(1)).as("n_pos"),
          sum(money(col("c_acctbal"))).as("sum_pos"))
      val recent = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >=
          lit("1998-06-01 00:00:00").cast(TimestampNTZType))
        .select(col("o_custkey"))
      sel.crossJoin(broadcast(stats))
        .filter(money(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(money(col("c_acctbal"))).cast(DoubleType).as("totacctbal"))
    },
    // TPC-H Q4 shape: per-priority count of orders having at least one
    // late lineitem in a quarter (EXISTS → left-semi join).
    "q4_order_priority" -> { (s, dir) =>
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01 00:00:00").cast(TimestampNTZType) &&
          col("o_orderdate") < lit("1996-10-01 00:00:00").cast(TimestampNTZType))
      val late = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01 00:00:00").cast(TimestampNTZType))
        .select(col("l_orderkey").as("o_orderkey"))
      ord.join(late, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
    // TPC-H Q12 shape: conditional aggregation — high/low-priority line
    // counts per return flag.
    "q12_priority_lines" -> { (s, dir) =>
      val ord = Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      Tables(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("low_line_count"))
    },
    // Sliding windows as a batch query: 10-minute windows every 5 minutes
    // — each event lands in exactly two windows (integer bucket algebra,
    // fully oracle-able; the streaming twin is StreamingOps.slidingCounts).
    "ev_sliding_window" -> { (s, dir) =>
      Tables(s, dir, "events")
        .withColumn("b", expr("ts div 300000000000"))
        .select(col("event_id"), explode(array(col("b"), col("b") - 1)).as("win"))
        .groupBy("win").agg(count(lit(1)).as("n"))
    },
    // Approximate distinct-count (HLL). Spark's HLL++ and DuckDB's
    // approx sketches legitimately differ, so the sketch VALUES can't
    // hash-match an oracle; instead the query emits the exact counts
    // plus within-tolerance booleans over the HLL++ estimates (rsd 0.02,
    // deterministic — no RNG in the sketch), and the oracle asserts the
    // same exact counts with `true` literals. A drifting estimate flips
    // a boolean and fails the hash compare, so the approximate aggregate
    // is driver-auditable; AdvancedSpec additionally pins the numeric
    // error bound.
    // Plan note: mixing the two exact distincts with the two HLLs in ONE
    // aggregate forces an Expand (3 null-tagged projections of every
    // lineitem row — measured 4.1 s at sf0.1); three single-purpose
    // aggregates (each a plain two-phase agg over one pruned column)
    // cross-joined on their 1-row outputs avoid it entirely.
    "approx_distinct_parts" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      li.agg(count_distinct(col("l_partkey")).as("exact_parts"))
        .crossJoin(li.agg(count_distinct(col("l_orderkey")).as("exact_orders")))
        .crossJoin(li.agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("ao")))
        .select(col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("parts_within_5pct"),
          (abs(col("ao") - col("exact_orders")) <=
            col("exact_orders") * lit(0.05)).as("orders_within_5pct"))
    },
    // HyperLogLog with an ENGINE-PORTABLE register table —
    // approx_count_distinct's auditable twin (that one is rows-only
    // checkable because Spark's HLL++ internals aren't reproducible in
    // SQL; THIS sketch is hash-exact against the oracle because every
    // piece is integer arithmetic both engines own). m = 256 registers:
    // register = top 8 bits of the md5-derived 2³²-range uniform,
    // rho = leading-zero count of the low 24 bits + 1 (computed exactly
    // as 25 − bit_length via `bin()` — no floats). The harmonic-mean
    // denominator Σ2^−rho is kept EXACT by working in 2²⁵-scaled
    // integer units (one shiftleft per register, empty registers
    // contribute 2²⁵), so the raw estimate is one BIGINT integral
    // division: numerator 1579617778090901504 = α₂₅₆·10⁶ · 256² · 2²⁵
    // (α₂₅₆ = 0.7213/(1 + 1.079/256) ≈ 0.718327). Small-range linear
    // counting (V > 0 and E ≤ 2.5m) is the standard correction, one
    // fixed-op-order ln. Scale shape: one narrow hash map + one 256-key
    // partial agg — the sketch state is 256 rows at ANY corpus size,
    // and register tables from disjoint corpus shards merge by MAX
    // (how a 100 TB count-distinct actually runs). 24-bit rho domain
    // saturates around ~10⁸ distinct — past that the library would move
    // to xxhash64; md5 is the engine-portable oracle choice.
    "agg_hll_distinct" -> { (s, dir) =>
      // thin wrapper since round 12: the sketch is the callable library
      // entry point; the exact-count audit crossJoin stays query-side
      val ev = Tables(s, dir, "events")
      Stats.hllEstimate(ev, col("event_id"))
        .crossJoin(broadcast(
          ev.agg(count_distinct(col("event_id")).as("exact_distinct"))))
        .select(col("exact_distinct"), col("m_used"), col("max_rho"),
          col("est_milli"))
    },
    // Count-Min sketch heavy-hitter audit (round 12) — the mergeable
    // fixed-size frequency sketch that answers "how often does key x
    // occur?" at 100 TB without a per-key exact count: depth d=4 rows ×
    // width w=1024 cells, hash_j(key) = md5-derived 2³²-range uniform
    // of "j:key" mod w (engine-portable integer hashing — the ev_ab_test
    // md5 precedent), estimate = MIN over the 4 rows (one-sided: CMS
    // only OVERcounts, never under — the audit asserts that invariant
    // per key as `over_ppm >= 0`). Scale shape: one narrow ×4 explode +
    // one 4096-key partial-aggregated shuffle builds the sketch (the
    // sketch table is 4096 rows at ANY corpus size, and shard sketches
    // merge by cell-wise SUM); the audited candidates are the exact
    // top-10 users via a bounded TakeOrdered, probed against the
    // broadcast sketch. All exact integers → hash-exact oracle.
    "agg_countmin_topk" -> { (s, dir) =>
      // thin wrapper since round 13: the sketch build and its cell hash
      // are the callable library entry points (Stats.cmsSketch/cmsCell —
      // also the streaming monitor's grid); the exact-top-10 audit probe
      // stays query-side
      val ev = Tables(s, dir, "events")
      val sketch = Stats.cmsSketch(ev, col("user_id"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(10)
      val probes = top.select(col("user_id"), col("exact_cnt"),
          explode(expr("sequence(0, 3)")).as("j"))
        .select(col("user_id"), col("exact_cnt"), col("j"),
          Stats.cmsCell(col("user_id"), col("j")).as("cell"))
      // the LIMIT-bounded probe side broadcasts (sweep-excused); the
      // corpus-derived sketch aggregate is the streamed side
      sketch.join(broadcast(probes), Seq("j", "cell"))
        .groupBy("user_id").agg(max("exact_cnt").as("exact_cnt"),
          min("cnt").as("cms_est"))
        .select(col("user_id"), col("exact_cnt"), col("cms_est"),
          expr("(cms_est - exact_cnt) * 1000000 div exact_cnt")
            .as("over_ppm"))
    })

  private val asOfForwardOracle: String =
    """SELECT p.event_id, p.user_id, n.signup_sec
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT CAST(FLOOR(EPOCH(s.ts)) AS BIGINT) AS signup_sec
      |  FROM events s
      |  WHERE s.event_type = 'signup' AND s.user_id = p.user_id
      |   AND s.ts >= p.ts
      |  ORDER BY s.ts
      |  LIMIT 1) n ON TRUE""".stripMargin

  val oracles: Map[String, String] = Map(
    // identical integer register pipeline (same md5 top-8/low-24 split,
    // same bin()-based rho, same 2^25-scaled harmonic sum and integral
    // division); only the linear-counting branch touches a double
    "agg_hll_distinct" ->
      """WITH h AS (
        | SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS u
        | FROM events),
        |rw AS (SELECT u // 16777216 AS reg, u % 16777216 AS w FROM h),
        |rr AS (SELECT reg,
        |        CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho
        |       FROM rw),
        |regs AS (SELECT reg, MAX(rho) AS rho FROM rr GROUP BY reg),
        |sk AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS m_used,
        |  CAST(SUM(1::BIGINT << (25 - rho)) AS BIGINT) AS s_used,
        |  CAST(MAX(rho) AS BIGINT) AS max_rho
        | FROM regs),
        |ex AS (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT)
        |         AS exact_distinct FROM events)
        |SELECT exact_distinct, m_used, max_rho,
        | CASE WHEN (256 - m_used) > 0
        |       AND (1579617778090901504
        |            // ((s_used + (256 - m_used) * 33554432) * 1000))
        |           <= 640000
        |  THEN CAST(FLOOR(256.0 * LN(256.0 / CAST(256 - m_used AS DOUBLE))
        |                  * 1000.0 + 0.5) AS BIGINT)
        |  ELSE 1579617778090901504
        |    // ((s_used + (256 - m_used) * 33554432) * 1000)
        | END AS est_milli
        |FROM sk, ex""".stripMargin,
    // identical md5 row-hashing, same depth-4/width-1024 grid, same
    // bounded top-10 probe — the MIN-over-rows estimate and the
    // overcount ppm are exact integers on both engines
    "agg_countmin_topk" ->
      """WITH cells AS (
        | SELECT user_id, j,
        |  ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |     CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 1024 AS cell
        | FROM events, (SELECT unnest(range(0, 4)) AS j) jj),
        |sketch AS (SELECT j, cell, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM cells GROUP BY j, cell),
        |top AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |        FROM events GROUP BY user_id
        |        ORDER BY exact_cnt DESC, user_id LIMIT 10),
        |probes AS (
        | SELECT t.user_id, t.exact_cnt, j.j,
        |  ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' ||
        |     CAST(t.user_id AS VARCHAR)), 1, 8))::BIGINT % 1024 AS cell
        | FROM top t, (SELECT unnest(range(0, 4)) AS j) j)
        |SELECT p.user_id, MAX(p.exact_cnt) AS exact_cnt,
        | MIN(s.cnt) AS cms_est,
        | (MIN(s.cnt) - MAX(p.exact_cnt)) * 1000000 // MAX(p.exact_cnt)
        |   AS over_ppm
        |FROM probes p JOIN sketch s ON s.j = p.j AND s.cell = p.cell
        |GROUP BY p.user_id""".stripMargin,
    "approx_distinct_parts" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
        | COUNT(DISTINCT l_orderkey) AS exact_orders,
        | true AS parts_within_5pct,
        | true AS orders_within_5pct
        |FROM lineitem""".stripMargin,
    "sql_q6_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                       CAST(l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "pivot_status_priority" ->
      """SELECT o_orderpriority,
        | COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        | COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        | COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "explode_token_freq" ->
      """SELECT tok, COUNT(*) AS n FROM (
        | SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        | FROM documents) t
        |WHERE length(tok) > 0
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "asof_last_signup" ->
      """SELECT event_id, user_id, sec, signup_sec FROM (
        | SELECT event_id, user_id, event_type,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec,
        |  LAST_VALUE(CASE WHEN event_type = 'signup'
        |             THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_sec
        | FROM events) t
        |WHERE event_type = 'purchase'""".stripMargin,
    "asof_join_generic" ->
      """SELECT p.event_id, p.user_id,
        | CAST(FLOOR(EPOCH(p.ts)) AS BIGINT) AS sec,
        | CAST(FLOOR(EPOCH(s.ts)) AS BIGINT) AS signup_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts""".stripMargin,
    "asof_nearest" ->
      """SELECT p.event_id, p.user_id, n.signup_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT CAST(FLOOR(EPOCH(s.ts)) AS BIGINT) AS signup_sec
        |  FROM events s
        |  WHERE s.event_type = 'signup' AND s.user_id = p.user_id
        |  ORDER BY ABS(epoch_ns(s.ts) - epoch_ns(p.ts)), s.ts
        |  LIMIT 1) n ON TRUE""".stripMargin,
    "asof_forward" -> asOfForwardOracle,
    // same oracle on purpose: window and merge-exec forward
    // compositions must agree row-for-row
    "asof_merge_forward" -> asOfForwardOracle,
    "asof_merge_join" ->
      """SELECT p.event_id, p.user_id,
        | CAST(FLOOR(EPOCH(p.ts)) AS BIGINT) AS sec,
        | CAST(FLOOR(EPOCH(s.ts)) AS BIGINT) AS signup_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts""".stripMargin,
    "asof_tolerance" ->
      """SELECT p.event_id, p.user_id,
        | CASE WHEN epoch_us(p.ts) - epoch_us(s.ts) <= 86400000000
        |      THEN epoch_us(s.ts) // 1000000 END AS signup_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts""".stripMargin,
    "asof_merge_tolerance" ->
      """SELECT p.event_id, p.user_id,
        | CASE WHEN epoch_us(p.ts) - epoch_us(s.ts) <= 86400000000
        |      THEN epoch_us(s.ts) // 1000000 END AS signup_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts""".stripMargin,
    "median_order_key" ->
      """SELECT o_orderstatus, MEDIAN(o_orderkey) AS median_key, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "median_order_key_approx" ->
      """SELECT o_orderstatus, QUANTILE_DISC(o_orderkey, 0.5) AS median_key_lo,
        | COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "subq_above_nation_avg" ->
      """SELECT c_custkey, c_nationkey FROM customer o
        |WHERE c_acctbal > (
        |  SELECT ROUND(CAST(AVG(CAST(i.c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 4)
        |  FROM customer i WHERE i.c_nationkey = o.c_nationkey)""".stripMargin,
    "subq_in_big_orders" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)""".stripMargin,
    "win_range_frame" ->
      """SELECT o_orderkey, o_custkey, day,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY day
        |   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS trailing30_total
        |FROM (
        | SELECT o_orderkey, o_custkey, o_totalprice,
        |  DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day
        | FROM orders) t""".stripMargin,
    "null_safe_join" ->
      """SELECT COALESCE(a.grp, -1) AS grp_key, COUNT(*) AS n_pairs
        |FROM (SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS grp FROM customer) a
        |JOIN (SELECT s_suppkey, NULLIF(s_nationkey % 5, 0) AS grp FROM supplier) b
        |ON a.grp IS NOT DISTINCT FROM b.grp
        |GROUP BY COALESCE(a.grp, -1)""".stripMargin,
    "typed_dataset_balance" ->
      """SELECT c_mktsegment AS segment,
        | CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS kbal, COUNT(*) AS n
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY 1, 2""".stripMargin,
    "q2_min_cost_supplier" ->
      """SELECT s_nationkey, s_suppkey, s_name FROM (
        | SELECT s_nationkey, s_suppkey, s_name,
        |  ROW_NUMBER() OVER (PARTITION BY s_nationkey
        |                     ORDER BY s_acctbal, s_suppkey) AS rn
        | FROM supplier) t WHERE rn = 1""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        | SELECT l_suppkey AS supplier_no,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE)
        |   AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY l_suppkey)
        |SELECT supplier_no, total_revenue FROM rev
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin,
    "q11_important_parts" ->
      """WITH v AS (
        | SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
        | FROM lineitem GROUP BY l_partkey),
        |tot AS (
        | SELECT CAST(SUM(value_dec) AS DECIMAL(30,2)) AS total_dec,
        |  COUNT(*) AS n_parts FROM v)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM v, tot
        |WHERE CAST(value_dec AS DECIMAL(15,2)) * 2 * n_parts > total_dec * 3""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        | SELECT c_custkey, COUNT(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q16_supplier_part_variety" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
        |  AND l_suppkey NOT IN (
        |   SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q17_small_qty_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#13'
        |  AND l.l_quantity < (
        |   SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        |   WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH lf AS (
        | SELECT l_orderkey, l_suppkey,
        |  CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) > 90 AS late
        | FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        | WHERE o_orderstatus = 'F')
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lf l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM lf l2
        |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lf l3
        |   WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |     AND l3.late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q22_lost_customers" ->
      """WITH sel AS (
        | SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        | WHERE c_nationkey % 2 = 1),
        |st AS (
        | SELECT COUNT(*) AS n_pos,
        |  SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_pos
        | FROM sel WHERE c_acctbal > 0)
        |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM sel, st
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > sum_pos
        |  AND NOT EXISTS (
        |   SELECT 1 FROM orders WHERE o_custkey = sel.c_custkey
        |     AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin,
    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, total_qty FROM orders
        |JOIN (SELECT l_orderkey,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 300.0) t
        |ON o_orderkey = l_orderkey""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY o_orderpriority""".stripMargin,
    "q12_priority_lines" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        |  AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        |  AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,
    "ev_sliding_window" ->
      """SELECT win, COUNT(*) AS n FROM (
        | SELECT event_id,
        |  unnest([CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300,
        |          CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300 - 1]) AS win
        | FROM events) t
        |GROUP BY win""".stripMargin,
    "freq_heavy_hitters" ->
      """SELECT event_type, COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "freq_heavy_hitters_by_user" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type""".stripMargin,
    "agg_bottomk_sample" ->
      """WITH keyed AS (
        | SELECT source, text,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS key
        | FROM documents GROUP BY source, text),
        |ranked AS (
        | SELECT source, text, key,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY key, text) AS rn
        | FROM keyed)
        |SELECT source, rn, text AS item, key
        |FROM ranked WHERE rn <= 4""".stripMargin,
    "dedup_kmv_overlap" ->
      """WITH keyed AS (
        | SELECT source, text,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS key
        | FROM documents GROUP BY source, text),
        |ranked AS (
        | SELECT source, key,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY key, text) AS rn
        | FROM keyed),
        |sk AS (
        | SELECT source, list(key ORDER BY key) AS keys
        | FROM ranked WHERE rn <= 64 GROUP BY source)
        |SELECT a.source AS src_a, b.source AS src_b,
        | CAST(len(list_intersect(a.keys, b.keys)) AS BIGINT) AS n_shared
        |FROM sk a JOIN sk b ON a.source < b.source""".stripMargin,
    "stat_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 25000 AS bucket,
        | COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "stat_percentiles_disc" ->
      """WITH ev AS (
        | SELECT event_type, event_id,
        |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS q_cents
        | FROM events WHERE value IS NOT NULL),
        |ranked AS (
        | SELECT event_type, q_cents,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY q_cents, event_id) AS rn
        | FROM ev),
        |counts AS (
        | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1),
        |pos AS (
        | SELECT event_type, n, CAST(p AS BIGINT) AS p, (n * p + 99) // 100 AS idx
        | FROM counts, (SELECT UNNEST([50, 90, 99]) AS p) ps)
        |SELECT pos.event_type, pos.p, pos.n, ranked.q_cents
        |FROM pos JOIN ranked
        | ON ranked.event_type = pos.event_type AND ranked.rn = pos.idx""".stripMargin,
    "stat_percentiles_approx" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type""".stripMargin,
    "stat_quantile_drift" ->
      """WITH e AS (
        | SELECT event_type,
        |  (epoch_ns(ts) // 604800000000000) % 2 = 0 AS even,
        |  event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS q_cents
        | FROM events WHERE value IS NOT NULL),
        |ranked AS (
        | SELECT event_type, even, q_cents,
        |  ROW_NUMBER() OVER (PARTITION BY event_type, even
        |    ORDER BY q_cents, event_id) AS rn
        | FROM e),
        |pos AS (
        | SELECT event_type, even, n, p, (n * p + 99) // 100 AS idx FROM (
        |  SELECT event_type, even, COUNT(*) AS n FROM e GROUP BY 1, 2) t,
        |  (VALUES (50), (90)) AS ps(p)),
        |q AS (
        | SELECT r.event_type, r.even, CAST(p AS BIGINT) AS p, r.q_cents
        | FROM pos JOIN ranked r ON r.event_type = pos.event_type
        |   AND r.even = pos.even AND r.rn = pos.idx)
        |SELECT a.event_type, a.p, a.q_cents AS q_even, b.q_cents AS q_odd,
        | CAST(b.q_cents - a.q_cents AS BIGINT) AS drift_cents
        |FROM q a JOIN q b ON a.event_type = b.event_type AND a.p = b.p
        |  AND a.even AND NOT b.even""".stripMargin,
    "stat_benford" ->
      """WITH exp(digit, benford_ppm) AS (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        |d AS (
        | SELECT CAST(dg AS INT) AS digit FROM (
        |  SELECT regexp_extract(CAST(o_totalprice AS VARCHAR),
        |                        '[1-9]', 0) AS dg
        |  FROM orders) t
        | WHERE dg <> ''),
        |c AS (SELECT digit, COUNT(*) AS n FROM d
        |      WHERE digit >= 1 GROUP BY 1),
        |t AS (SELECT SUM(n) AS t FROM c)
        |SELECT c.digit, CAST(n AS BIGINT) AS n,
        | CAST(n * 1000000 // t AS BIGINT) AS obs_ppm,
        | CAST(benford_ppm AS BIGINT) AS benford_ppm
        |FROM c, t JOIN exp ON exp.digit = c.digit""".stripMargin,
    "stat_autocorr" ->
      """WITH d AS (
        | SELECT epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
        | FROM events GROUP BY 1),
        |p AS (SELECT a.x AS x, b.x AS y
        |      FROM d a JOIN d b ON b.day = a.day + 1),
        |m AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |  SUM(x * x) AS sxx, SUM(y) AS sy, SUM(y * y) AS syy,
        |  SUM(x * y) AS sxy
        | FROM p)
        |SELECT n, CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
        | FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |   * 1e6 + 0.5) / 1e6 AS autocorr_lag1
        |FROM m WHERE n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy"""
        .stripMargin,
    "stat_chi2_drift" ->
      """WITH e AS (
        | SELECT epoch_ns(ts) // 604800000000000 AS week, event_type
        | FROM events),
        |wc AS (SELECT week, event_type, COUNT(*) AS o FROM e GROUP BY 1, 2),
        |wt AS (SELECT week, COUNT(*) AS nw FROM e GROUP BY 1),
        |g AS (SELECT event_type, COUNT(*) AS gc FROM e GROUP BY 1),
        |tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS tt FROM g),
        |grid AS (
        | SELECT wt.week, wt.nw, g.event_type, g.gc, COALESCE(wc.o, 0) AS o
        | FROM wt CROSS JOIN g
        | LEFT JOIN wc ON wc.week = wt.week AND wc.event_type = g.event_type),
        |terms AS (
        | SELECT week, nw,
        |  CAST(FLOOR(CAST(o * tt - nw * gc AS DOUBLE)
        |    * CAST(o * tt - nw * gc AS DOUBLE)
        |    / CAST(nw * gc AS DOUBLE) / CAST(tt AS DOUBLE)
        |    * 1e6 + 0.5) AS BIGINT) AS term_micro
        | FROM grid, tot)
        |SELECT week, CAST(nw AS BIGINT) AS n_events,
        | CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |FROM terms GROUP BY 1, 2""".stripMargin,
    "stat_psi_drift" ->
      """WITH e AS (
        | SELECT (epoch_ns(ts) // 604800000000000) % 2 = 0 AS ref,
        |  CAST(FLOOR("value" / 25.0) AS BIGINT) AS bucket
        | FROM events WHERE "value" IS NOT NULL),
        |b AS (
        | SELECT bucket,
        |  SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS ca,
        |  SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS cb
        | FROM e GROUP BY 1),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb,
        |             COUNT(*) AS n_buckets FROM b)
        |SELECT bucket, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        | CAST(FLOOR(
        |  (CAST(ca + 1 AS DOUBLE) / CAST(na + n_buckets AS DOUBLE)
        |   - CAST(cb + 1 AS DOUBLE) / CAST(nb + n_buckets AS DOUBLE))
        |  * LN(CAST(ca + 1 AS DOUBLE) * CAST(nb + n_buckets AS DOUBLE)
        |       / (CAST(cb + 1 AS DOUBLE) * CAST(na + n_buckets AS DOUBLE)))
        |  * 1e9 + 0.5) AS BIGINT) AS term_nano
        |FROM b, t""".stripMargin,
    "stat_ks_drift" ->
      """WITH e AS (
        | SELECT (epoch_ns(ts) // 604800000000000) % 2 = 0 AS even, value
        | FROM events WHERE value IS NOT NULL),
        |v AS (
        | SELECT value,
        |  SUM(CASE WHEN even THEN 1 ELSE 0 END) AS ca,
        |  SUM(CASE WHEN NOT even THEN 1 ELSE 0 END) AS cb
        | FROM e GROUP BY 1),
        |c AS (
        | SELECT value,
        |  SUM(ca) OVER (ORDER BY value) AS cum_a,
        |  SUM(cb) OVER (ORDER BY value) AS cum_b
        | FROM v),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM v)
        |SELECT CAST(na AS BIGINT) AS n_even, CAST(nb AS BIGINT) AS n_odd,
        | CAST((CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS HUGEINT) * 1000000)
        |   // (CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)) AS BIGINT)
        |   AS ks_micro
        |FROM c, t GROUP BY na, nb HAVING na > 0 AND nb > 0""".stripMargin,
    // doubled-rank-unit Mann–Whitney: identical integer recurrences to
    // the Spark side; only the final z expression (same op order, same
    // casts) touches doubles before the micro quantization
    "stat_mannwhitney" ->
      """WITH e AS (
        | SELECT (epoch_ns(ts) // 604800000000000) % 2 = 0 AS even, value
        | FROM events WHERE value IS NOT NULL),
        |v AS (
        | SELECT value,
        |  SUM(CASE WHEN even THEN 1 ELSE 0 END) AS ca,
        |  SUM(CASE WHEN NOT even THEN 1 ELSE 0 END) AS cb
        | FROM e GROUP BY 1),
        |v2 AS (SELECT value, ca, cb, ca + cb AS ct FROM v),
        |c AS (
        | SELECT ca, ct, SUM(ct) OVER (ORDER BY value) AS cum_t
        | FROM v2),
        |t AS (SELECT SUM(ca) AS na, SUM(ct) AS nn FROM v2),
        |m AS (
        | SELECT CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nn) AS BIGINT) AS nn,
        |  CAST(SUM(ca * (cum_t * 2 - ct + 1)) AS BIGINT) AS r2,
        |  CAST(SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS DOUBLE) AS tie_d
        | FROM c, t)
        |SELECT CAST(na AS BIGINT) AS n_even,
        | CAST(nn - na AS BIGINT) AS n_odd,
        | CAST(r2 - na * (na + 1) AS BIGINT) AS u2_even,
        | CAST(FLOOR(
        |   (CAST(r2 - na * (na + 1) AS DOUBLE)
        |      - CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE))
        |   / (2.0 * SQRT(
        |       CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE) / 12.0
        |       * (CAST(nn + 1 AS DOUBLE)
        |          - tie_d / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))))
        |   * 1e6 + 0.5) AS BIGINT) AS z_micro
        |FROM m WHERE na > 0 AND nn - na > 0""".stripMargin,
    // same fixed Poisson(1) thresholds over the md5 2^32 range, same
    // integral micro division, same one-double-expression CI
    "stat_bootstrap_ci" ->
      """WITH base AS (
        | SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |ex AS (
        | SELECT r.b, cents,
        |  ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
        |                      || CAST(r.b AS VARCHAR)), 1, 8))::BIGINT AS u
        | FROM base CROSS JOIN (SELECT unnest(range(64)) AS b) r),
        |wt AS (
        | SELECT b, cents,
        |  CASE WHEN u < 1580030168 THEN 0
        |       WHEN u < 3160060337 THEN 1
        |       WHEN u < 3950075421 THEN 2
        |       WHEN u < 4213413783 THEN 3
        |       WHEN u < 4279248373 THEN 4
        |       WHEN u < 4292415291 THEN 5
        |       WHEN u < 4294609777 THEN 6
        |       ELSE 7 END AS w
        | FROM ex),
        |rep AS (
        | SELECT b, CAST(SUM(w) AS BIGINT) AS nb,
        |  CAST(SUM(w * cents) AS BIGINT) AS sb,
        |  CAST(COUNT(*) AS BIGINT) AS ns, CAST(SUM(cents) AS BIGINT) AS sc
        | FROM wt GROUP BY b),
        |m AS (
        | SELECT ns, sc,
        |  CAST((CAST(sb AS HUGEINT) * 1000000) // nb AS BIGINT) AS m
        | FROM rep WHERE nb > 0),
        |agg AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS cnt, MAX(ns) AS n_rows,
        |  MAX(sc) AS sum_cents, CAST(SUM(m) AS BIGINT) AS sm,
        |  SUM(CAST(m AS HUGEINT) * m) AS sm2
        | FROM m)
        |SELECT n_rows, sum_cents,
        | CAST((CAST(sum_cents AS HUGEINT) * 1000000) // n_rows AS BIGINT)
        |   AS mean_micro,
        | CAST(sm // cnt AS BIGINT) AS boot_mean_micro,
        | CAST(FLOOR(
        |   CAST(sm AS DOUBLE) / CAST(cnt AS DOUBLE)
        |   - 1.959964 * SQRT(
        |      (CAST(sm2 AS DOUBLE)
        |       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(cnt AS DOUBLE))
        |      / CAST(cnt - 1 AS DOUBLE))
        |   + 0.5) AS BIGINT) AS ci_lo_micro,
        | CAST(FLOOR(
        |   CAST(sm AS DOUBLE) / CAST(cnt AS DOUBLE)
        |   + 1.959964 * SQRT(
        |      (CAST(sm2 AS DOUBLE)
        |       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(cnt AS DOUBLE))
        |      / CAST(cnt - 1 AS DOUBLE))
        |   + 0.5) AS BIGINT) AS ci_hi_micro
        |FROM agg""".stripMargin,
    "stat_corr_exact" ->
      """WITH m AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |  SUM(y) AS sy, SUM(y * y) AS syy, SUM(x * y) AS sxy
        | FROM (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem) t)
        |SELECT n, sx, sxx,
        | FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  * 1e6 + 0.5) / 1e6 AS corr_qty_price,
        | FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |  * 1e6 + 0.5) / 1e6 AS slope_cents_per_qty
        |FROM m""".stripMargin,
    "skew_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    "join_salted_skew" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "set_union_all" ->
      """SELECT nationkey, COUNT(*) AS n FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey AS nationkey FROM supplier) t
        |GROUP BY nationkey""".stripMargin,
    "grouping_sets_revenue" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
}
