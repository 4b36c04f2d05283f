package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables

/** Core relational surface: scans, projections, filters, sorts/limits,
  * joins (all types), aggregations (incl. rollup/cube), set operations,
  * window functions, scalar functions.
  *
  * The reference's own SQL surface is tiny (SURVEY.md §2.4 — no joins, no
  * GROUP BY); this module supplies the full engine surface the harness and
  * north-star operators need, each query paired with a DuckDB oracle.
  *
  * Oracle-exactness rules used throughout (so hash-compare passes):
  *  - money/quantity doubles are cast to exact DECIMAL before arithmetic /
  *    SUM (order-independent exact accumulation), and the final value is
  *    cast back to DOUBLE the same way on both sides;
  *  - ORDER BY ... LIMIT always carries a primary-key tiebreak;
  *  - outputs prefer integer columns where a float adds no coverage.
  *
  * Scale posture: every query is a declarative DataFrame plan — Catalyst
  * pushes filters/projections into the parquet scan, dimension joins are
  * broadcast (region/nation/supplier/customer at TPC-H ratios), fact-fact
  * joins shuffle on the join key, aggregates do partial map-side combine.
  */
object CoreQueries {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))
  /** exact money/quantity: the one DECIMAL(12,2) cast every query module
    * sums through (see the oracle-exactness rules above) */
  private[operators] def money(c: Column): Column = dec(c, 12, 2)
  private def rate(c: Column): Column = dec(c, 8, 4)
  private val one = lit(1).cast(DecimalType(1, 0))
  /** exact revenue term: extendedprice * (1 - discount) in decimal */
  private def revenue(price: Column, disc: Column): Column =
    money(price) * (one - rate(disc))
  private def tsNtz(s: String): Column = lit(s).cast(TimestampNTZType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation ----------------------------------------------------
    "q1_pricing_summary" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= tsNtz("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(money(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
            .cast(DoubleType).as("sum_disc_price"),
          round(sum(revenue(col("l_extendedprice"), col("l_discount")) *
            (one + rate(col("l_tax")))), 2).cast(DoubleType).as("sum_charge"),
          count(lit(1)).as("count_order"))
    },
    "agg_global_stats" -> { (s, dir) =>
      Tables(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        sum(money(col("o_totalprice"))).cast(DoubleType).as("sum_price"))
    },
    "agg_having" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(DoubleType).as("total"))
        .filter(col("n") > 100)
    },
    // ROUND 14 (guide §2.3 aggregate-before-shuffle): CUBE/ROLLUP over
    // 2 low-cardinality columns used to Expand the RAW scan (4×/3× the
    // row count through the aggregate). Both sums are algebraic (count
    // re-sums; the DECIMAL money sum re-sums exactly before the one
    // double cast), so every grouping set is derived from the BASE
    // (col1, col2) aggregate instead — the base's exchange is shared by
    // all branches (ReuseExchange), so the corpus is scanned and
    // partially aggregated ONCE and the grouping-set math runs on
    // |distinct(col1 × col2)| rows. The fixture grouping columns are
    // never NULL; with NULL data the union is STILL row-identical to
    // CUBE/ROLLUP because these queries do not emit grouping_id.
    "agg_rollup" -> { (s, dir) =>
      val base = Tables(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("__n"), sum(money(col("o_totalprice"))).as("__t"))
      def roll(keep: Seq[String]) =
        Seq("o_orderstatus", "o_orderpriority").foldLeft(
          base.groupBy(keep.map(col): _*)
            .agg(sum("__n").as("n"), sum("__t").as("__t2"))) { (d, c) =>
          if (keep.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
        }.select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          col("__t2").cast(DoubleType).as("total"))
      roll(Seq("o_orderstatus", "o_orderpriority"))
        .unionAll(roll(Seq("o_orderstatus")))
        .unionAll(roll(Seq.empty))
    },
    "agg_cube" -> { (s, dir) =>
      val base = Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("__n"), sum(money(col("l_quantity"))).as("__q"))
      def roll(keep: Seq[String]) =
        Seq("l_returnflag", "l_linestatus").foldLeft(
          base.groupBy(keep.map(col): _*)
            .agg(sum("__n").as("n"), sum("__q").as("__q2"))) { (d, c) =>
          if (keep.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
        }.select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("__q2").cast(DoubleType).as("qty"))
      roll(Seq("l_returnflag", "l_linestatus"))
        .unionAll(roll(Seq("l_returnflag")))
        .unionAll(roll(Seq("l_linestatus")))
        .unionAll(roll(Seq.empty))
    },
    "agg_distinct" -> { (s, dir) =>
      Tables(s, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()
    },

    // ---- joins ----------------------------------------------------------
    "q3_shipping_priority" -> { (s, dir) =>
      // customer (filtered dim, broadcast) ⋈ orders ⋈ lineitem, top-10 by
      // exact-decimal revenue with PK tiebreak.
      val cust = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < tsNtz("1997-01-01 00:00:00"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > tsNtz("1997-01-01 00:00:00"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(broadcast(cust.join(ord, cust("c_custkey") === ord("o_custkey"))),
          li("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    "q5_nation_revenue" -> { (s, dir) =>
      // 6-table star join: dims broadcast, fact shuffles once.
      val region = Tables(s, dir, "region").filter(col("r_regionkey") <= 2)
      val nation = Tables(s, dir, "nation")
      val cust = Tables(s, dir, "customer")
      val supp = Tables(s, dir, "supplier")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= tsNtz("1996-01-01 00:00:00") &&
          col("o_orderdate") < tsNtz("1998-01-01 00:00:00"))
      val li = Tables(s, dir, "lineitem")
      li.join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .cast(DoubleType).as("revenue"))
    },
    "q7_volume_shipping" -> { (s, dir) =>
      // nation-pair trade volume by ship year (TPC-H Q7 shape): two
      // broadcast copies of the nation dim, fact shuffles once.
      val n1 = Tables(s, dir, "nation").filter(col("n_nationkey") < 5)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables(s, dir, "nation").filter(col("n_nationkey") < 5)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsNtz("1998-01-01 00:00:00"))
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("s_nk") =!= col("c_nk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .cast(DoubleType).as("revenue"))
    },
    "q8_market_share" -> { (s, dir) =>
      // market-share numerator/denominator by order year (TPC-H Q8
      // shape): one nation's share of PROMO-part revenue into ASIA.
      // Both sums stay exact decimal; the ratio is left to the consumer
      // so no float division enters the oracle compare.
      val supNation = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= tsNtz("1996-01-01 00:00:00") &&
            col("o_orderdate") < tsNtz("1998-01-01 00:00:00")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(supNation), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_5",
            revenue(col("l_extendedprice"), col("l_discount")))), 2)
            .cast(DoubleType).as("mkt_num"),
          round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
            .cast(DoubleType).as("mkt_den"))
    },
    "q9_product_profit" -> { (s, dir) =>
      // supplier-nation profit by order year over one part type (TPC-H
      // Q9 shape, adapted: the fixture has no partsupp, so profit =
      // discounted revenue).
      Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part")
          .filter(col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .cast(DoubleType).as("sum_profit"))
    },
    "q20_excess_suppliers" -> { (s, dir) =>
      // suppliers who shipped > 200 units of PROMO parts in 1996 (TPC-H
      // Q20 shape adapted — no partsupp in the fixture): aggregate
      // subquery over the filtered fact, joined back to supplier+nation.
      val excess = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsNtz("1997-01-01 00:00:00"))
        .join(broadcast(Tables(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum(money(col("l_quantity"))).as("total_qty"))
        .filter(col("total_qty") > 200)
      Tables(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"),
          col("total_qty").cast(DoubleType).as("total_qty"))
    },
    "q10_returned_revenue" -> { (s, dir) =>
      // top-20 customers by revenue of returned items (fact filtered,
      // dims broadcast, top-k via TakeOrdered).
      val cust = Tables(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
      val ord = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    "q14_promo_share" -> { (s, dir) =>
      val part = Tables(s, dir, "part").select("p_partkey", "p_type")
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsNtz("1996-07-01 00:00:00"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO",
            revenue(col("l_extendedprice"), col("l_discount")))
            .otherwise(lit(0).cast(DecimalType(1, 0)))), 2)
            .cast(DoubleType).as("promo_revenue"),
          round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
            .cast(DoubleType).as("total_revenue"))
    },
    "q19_bracketed_revenue" -> { (s, dir) =>
      // disjunctive bracketed predicates (brand × size × quantity bands)
      val part = Tables(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val li = Tables(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)))
        .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    "join_semi" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi").select("c_custkey", "c_name")
    },
    // Bloom-style runtime pre-filter, spelled declaratively: before the
    // fact side shuffles for a selective join, it is semi-joined against
    // the BOUNDED set of occupied hash buckets (xxhash64 mod 65536) of
    // the build side — a one-hash Bloom filter whose broadcast size is
    // capped at 65536 rows NO MATTER how large the build side grows, so
    // the pre-filter stays a broadcast at 100 TB even when the build
    // side itself is far past any broadcast bar. False positives only
    // let extra rows through to the exact equi-join that follows, so the
    // result is bit-identical to the plain join (the oracle IS the plain
    // join). At ~20% build selectivity the pre-filter drops most of the
    // fact scan before the join shuffle — the manual, always-available
    // form of Catalyst's InjectRuntimeFilter (PlanSpec pins the
    // optimizer's own bloom variant separately).
    "join_bloom_prefilter" -> { (s, dir) =>
      val urgent = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      // occupied buckets of the build side: Aggregate keyed on `bucket`
      // — bounded at 65536 rows by construction (mod), never corpus-sized
      val buckets = urgent
        .select(pmod(xxhash64(col("o_orderkey")), lit(65536L)).as("bucket"))
        .distinct()
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5d) as bigint)")
            .as("rev_cents"))
        .withColumn("bucket", pmod(xxhash64(col("l_orderkey")), lit(65536L)))
        .join(broadcast(buckets), Seq("bucket"), "left_semi")
      // the exact join: orders side is corpus-sized — merge-pinned so a
      // plan-time misestimate can never broadcast it (sweep-enforced)
      li.join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"), sum("rev_cents").as("rev_cents"))
    },
    "join_anti" -> { (s, dir) =>
      // anti-join against a filtered side so the result is non-empty:
      // customers with no order after 1997-07-01.
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= tsNtz("1998-06-01 00:00:00"))
        .select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti").select("c_custkey", "c_name")
    },
    "join_left_counts" -> { (s, dir) =>
      val c = Tables(s, dir, "customer").select("c_custkey")
      val o = Tables(s, dir, "orders").select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
    },
    "join_full_outer" -> { (s, dir) =>
      val nc = Tables(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val ns = Tables(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      nc.join(ns, Seq("nationkey"), "full_outer")
    },
    "join_cross" -> { (s, dir) =>
      val a = Tables(s, dir, "region").select(col("r_regionkey").as("a_key"))
      val b = Tables(s, dir, "region").select(col("r_regionkey").as("b_key"))
      a.crossJoin(b).filter(col("a_key") < col("b_key"))
    },
    "join_nonequi_range" -> { (s, dir) =>
      // theta/range join: parts priced within a size-dependent band.
      val p = Tables(s, dir, "part").select("p_partkey", "p_size", "p_retailprice")
      val bands = Tables(s, dir, "region")
        .select(col("r_regionkey").as("band"),
          (col("r_regionkey") * 10).as("lo"), (col("r_regionkey") * 10 + 10).as("hi"))
      p.join(broadcast(bands), col("p_size") >= col("lo") && col("p_size") < col("hi"))
        .select("p_partkey", "band")
    },

    // Binned range join (the scale path for the non-equi shape above):
    // orders land in price brackets through RangeJoin.pointInInterval —
    // an equi-join on a computed bin plus a residual filter instead of
    // the O(n·m) nested-loop Spark would otherwise plan. PlanSpec
    // asserts the executed plan has no BroadcastNestedLoopJoin.
    "join_range_binned" -> { (s, dir) =>
      val pts = Tables(s, dir, "orders").select(col("o_orderkey"),
        expr("cast(floor(o_totalprice) as bigint)").as("p"))
      val brackets = s.range(24).select(col("id").as("bracket"),
        (col("id") * 25000L).as("lo"), (col("id") * 25000L + 24999L).as("hi"))
      RangeJoin.pointInInterval(pts, brackets, "p", "lo", "hi",
          binWidth = 10000L)
        .groupBy("bracket")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    },

    // Interval-overlap join, binned: 30-day order-fulfillment windows ×
    // 14-day campaign windows, paired exactly once via the first-shared-
    // bin rule (no dedup shuffle) — RangeJoin.intervalOverlap.
    "join_interval_overlap" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("od"))
        .withColumn("o_end", col("od") + 30L)
      val camps = s.range(50).select(col("id").as("campaign"),
        (col("id") * 50L).as("c_lo"), (col("id") * 50L + 13L).as("c_hi"))
      RangeJoin.intervalOverlap(o, camps, "od", "o_end", "c_lo", "c_hi",
          binWidth = 32L)
        .groupBy("campaign")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
    },

    // ---- set operations -------------------------------------------------
    "set_union" -> { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    },
    "set_intersect" -> { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    },
    "set_except" -> { (s, dir) =>
      // EXCEPT sides chosen to be non-empty at every scale factor:
      // all customers minus customers with an order on/after 1998-06-01.
      Tables(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= tsNtz("1998-06-01 00:00:00"))
          .select(col("o_custkey").as("custkey")))
    },

    // ---- window functions ----------------------------------------------
    "win_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    },
    // The SAME top-k-per-group semantics through the custom bounded-heap
    // operator (plans/TopKPerKeyPlan.scala): one hash exchange, NO sort —
    // each task streams its partition once keeping k rows per key.
    // Shares win_topk_per_group's DuckDB oracle.
    "win_topk_heap" -> { (s, dir) =>
      graft.plans.TopK.perKey(
        Tables(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
        .select("o_custkey", "o_orderkey", "rn")
    },
    // The window form AGAIN, but auto-rewritten by the RewriteWindowTopK
    // optimizer rule (plans/TopKPerKeyPlan.scala): the user writes the
    // row_number-filter idiom, the engine plans the bounded-heap operator
    // — no per-partition sort of the full input. Session-wide via
    // GraftExtensions; applied per-plan here (TopK.rewrite) so only this
    // query opts in. Total order (price desc, then PK) ⇒ deterministic.
    "win_topk_rewrite" -> { (s, dir) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      graft.plans.TopK.rewrite(
        Tables(s, dir, "lineitem")
          .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("rn").cast("long").as("rn"))
    },
    "win_running_total" -> { (s, dir) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "lineitem")
        .withColumn("running_qty", sum(money(col("l_quantity"))).over(w)
          .cast(DoubleType))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    },
    "win_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_orderkey", 1).over(w).as("prev_key"),
          lead("o_orderkey", 1).over(w).as("next_key"))
    },
    // Global rank WITHOUT a global sort: rank(x) = 1 + #rows with key < x
    // and dense_rank(x) = 1 + #distinct keys < x, so aggregate per-key
    // counts first (one shuffle on the key), run the window over the
    // DISTINCT-KEY table only (|keys| rows — ~50 p_size values no matter
    // Relative-position window functions: percent_rank and cume_dist per
    // nation over supplier balances — both are ratios of exact integer
    // ranks/counts ((rank-1)/(n-1), rank_incl/n), so the doubles are
    // bit-identical across engines. Per-key windows only.
    "win_percent_rank" -> { (s, dir) =>
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      Tables(s, dir, "supplier").select(
        col("s_nationkey"), col("s_suppkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    },
    // FIRST_VALUE / LAST_VALUE / NTH_VALUE over an explicit frame.
    "win_first_last" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_key"),
        last(col("o_orderkey")).over(w).as("last_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
    },
    // NTILE bucketing (partitioned window — no global sort).
    "win_ntile" -> { (s, dir) =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_orderkey"))
      Tables(s, dir, "orders").select(
        col("o_orderstatus"), col("o_orderkey"),
        ntile(8).over(w).as("bucket"))
    },
    // Deterministic per-group MODE: explicit count + argmax with a
    // lexicographic tie-break, so both engines resolve ties identically
    // (the built-in mode() leaves ties implementation-defined). Two
    // map-side-combinable aggregations — no value buffering per group.
    // Boolean/conditional aggregates: count_if, bool_and, bool_or.
    "agg_boolean" -> { (s, dir) =>
      Tables(s, dir, "lineitem").groupBy("l_returnflag").agg(
        expr("count_if(l_quantity > 25)").as("n_big"),
        expr("bool_and(l_quantity > 0)").as("all_pos"),
        expr("bool_or(l_discount > 0.05)").as("any_disc"))
    },
    "agg_mode" -> { (s, dir) =>
      val counts = Tables(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("n"))
    },
    // the corpus size), and broadcast-join the ranks back. An unpartitioned
    // Window.orderBy over the fact table would funnel every row through
    // one task at 100 TB; this shape never materializes a global row sort.
    "win_rank_dense" -> { (s, dir) =>
      val byKey = Tables(s, dir, "part")
        .groupBy("p_size").agg(count(lit(1)).as("cnt"))
      // rank = 1 + exclusive prefix-sum of group counts; dense rank =
      // the group's ordinal. Both ride ONE Ids.cumulativeSums pass
      // (distributed running sums — no unpartitioned window even over
      // the key table, so the shape holds for arbitrarily
      // high-cardinality keys). One pass, not nested cumulativeSum
      // calls: each call's repartitionByRange adds a sampling job that
      // re-executes the unpersisted plan beneath it, which at r8
      // tripled this query's wall time (PERF.md round-9 pin).
      val ranks = Ids.cumulativeSums(byKey, Seq(col("p_size")),
          Seq((col("cnt"), "rsum"), (lit(1L), "dr")))
        .withColumn("r", (col("rsum") - col("cnt") + 1L).cast("long"))
        .select("p_size", "r", "dr")
      Tables(s, dir, "part")
        .join(broadcast(ranks), "p_size")
        .select(col("p_partkey"), col("r"), col("dr"))
    },

    // GLOBAL cumulative distribution (CUME_DIST over the whole table)
    // without a single-task window — the win_rank_dense treatment for
    // the remaining global order statistic: per-value counts, ONE
    // cumulativeSums pass for the running sum (the grand total rides
    // the metadata-sized offsets table), then a shuffle join back on
    // the value. The value table is distinct-price-sized — corpus-
    // sized in general, hence the merge hint, not a broadcast. Output
    // in integer micro-units (cum·1e6 div n) so the compare is exact.
    "win_cume_dist_global" -> { (s, dir) =>
      val byV = Tables(s, dir, "part")
        .groupBy("p_retailprice").agg(count(lit(1)).as("cnt"))
      val cum = Ids.cumulativeSum(byV, Seq(col("p_retailprice")), col("cnt"),
        "cum", totalName = Some("n"))
      Tables(s, dir, "part")
        .join(cum.select(col("p_retailprice"), col("cum"), col("n"))
          .hint("merge"), "p_retailprice")
        .select(col("p_partkey"),
          expr("cum * 1000000 div n").as("cd_micro"))
    },

    // ---- sorts / limits -------------------------------------------------
    "sort_limit_topn" -> { (s, dir) =>
      Tables(s, dir, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // ---- scalar functions ----------------------------------------------
    "scalar_string" -> { (s, dir) =>
      Tables(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        substring(col("p_name"), 1, 5).as("name5"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"),
        trim(col("p_name")).as("name_trim"),
        regexp_replace(col("p_name"), "a", "@").as("name_sub"))
    },
    "scalar_date" -> { (s, dir) =>
      Tables(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
    },
    "scalar_math" -> { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_orderkey") - 3000).as("absdiff"),
        (col("l_orderkey") % 7).as("mod7"),
        floor(col("l_extendedprice")).as("price_floor"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        greatest(col("l_orderkey"), col("l_partkey")).as("gkey"),
        least(col("l_orderkey"), col("l_partkey")).as("lkey"))
    },
    // Regex scalar surface (extract / global replace / rlike) — RE2-safe
    // patterns so Java regex and DuckDB agree byte-for-byte.
    "scalar_regexp" -> { (s, dir) =>
      Tables(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_type").rlike("^PROMO").cast("int").as("is_promo"),
        size(expr("regexp_extract_all(p_name, '[a-z]+', 0)")).cast("long")
          .as("n_words"))
    },
    // Bitwise scalar surface: AND/OR/XOR/shifts/bit_count — pure integer,
    // the kernels hash/bucket/bloom implementations build on.
    "scalar_bitwise" -> { (s, dir) =>
      Tables(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey").bitwiseAND(lit(255L))).as("low8"),
        (col("o_orderkey").bitwiseOR(lit(4096L))).as("with_bit"),
        (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("mixed"),
        shiftleft(col("o_custkey"), 4).as("shl4"),
        shiftrightunsigned(col("o_orderkey"), 3).as("shr3"),
        expr("bit_count(o_orderkey)").cast("int").as("popcnt"))
    },
    "scalar_case_when" -> { (s, dir) =>
      Tables(s, dir, "customer")
        .select(when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    },
    "scalar_array" -> { (s, dir) =>
      // array function surface over a real array column
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        expr("round(cast(embedding[0] as double), 4)").as("first_val"),
        // array outputs stay scalar: the driver's row-sort comparator
        // can't order list cells, so reduce arrays before emitting
        expr("round(aggregate(transform(slice(embedding, 1, 3)," +
          " x -> cast(x as double)), 0D, (a, x) -> a + x), 4)").as("head3_sum"),
        expr("cast(aggregate(transform(embedding, x -> cast(x as double)), 0D," +
          " (a, x) -> a + x) >= 0 as boolean)").as("nonneg_sum"),
        array_contains(expr("transform(embedding, x -> x > 0F)"), lit(true))
          .as("has_positive"))
    },
    // Map function surface (map build, data-dependent element_at,
    // map_keys/map_values, map_concat). Map outputs stay scalar for the
    // driver's row-sorter, same as arrays above.
    "scalar_map" -> { (s, dir) =>
      Tables(s, dir, "lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("map('qty', l_quantity, 'tax', l_tax)").as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("element_at(m, if(l_linenumber % 2 = 0, 'qty', 'tax'))")
            .as("picked"),
          expr("cast(size(map_concat(m, map('ln', cast(l_linenumber as double)))) as bigint)")
            .as("m_size"),
          expr("array_join(map_keys(m), ',')").as("ks"),
          expr("aggregate(map_values(m), 0D, (a, x) -> a + x)").as("vsum"))
    },
    "scalar_datetime" -> { (s, dir) =>
      val d = col("o_orderdate").cast(DateType)
      Tables(s, dir, "orders").select(
        col("o_orderkey"),
        // DATE-typed outputs are normalized inconsistently by parquet vs
        // DuckDB readers — emit timestamps instead
        date_add(d, 30).cast(TimestampNTZType).as("plus30"),
        add_months(d, 2).cast(TimestampNTZType).as("plus2m"),
        last_day(d).cast(TimestampNTZType).as("month_end"),
        datediff(lit("1998-01-01").cast(DateType), d).cast("long").as("days_to_98"),
        (((dayofweek(d) + 5) % 7) + 1).as("iso_dow"),
        weekofyear(d).as("week"))
    },
    "scalar_conditional" -> { (s, dir) =>
      Tables(s, dir, "supplier").select(
        col("s_suppkey"),
        coalesce(nullif(col("s_name"), lit("")), lit("unknown")).as("name_nn"),
        (col("s_acctbal") > 0).as("in_credit"))
    })

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4))) * (CAST(1 AS DECIMAL(1,0)) + CAST(l_tax AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "agg_global_stats" ->
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_customers,
        | MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders""".stripMargin,
    "agg_having" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 100""".stripMargin,
    "agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "agg_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_regionkey <= 2
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_nationkey < 5 AND n2.n_nationkey < 5
        | AND n1.n_nationkey <> n2.n_nationkey
        | AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        | CAST(ROUND(SUM(CASE WHEN ns.n_name = 'NATION_5'
        |   THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4))) END), 2) AS DOUBLE) AS mkt_num,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS mkt_den
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation nc ON c_nationkey = nc.n_nationkey
        | JOIN region ON nc.n_regionkey = r_regionkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ns ON s_nationkey = ns.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation,
        | CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'STANDARD'
        |GROUP BY 1, 2""".stripMargin,
    "q20_excess_suppliers" ->
      """SELECT s_suppkey, s_name, n_name AS nation,
        | CAST(q AS DOUBLE) AS total_qty
        |FROM (
        | SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS q
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_type = 'PROMO'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY l_suppkey
        | HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200) t
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, c_nationkey,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_share" ->
      """SELECT
        | CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))
        |   ELSE CAST(0 AS DECIMAL(1,0)) END), 2) AS DOUBLE) AS promo_revenue,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'""".stripMargin,
    "q19_bracketed_revenue" ->
      """SELECT
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    // the bucket pre-filter is a Spark-side plan optimization only — it
    // passes a superset to the exact join, so the oracle is the plain join
    "join_bloom_prefilter" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |  AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')""".stripMargin,
    "join_left_counts" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "join_full_outer" ->
      """SELECT COALESCE(a.nationkey, b.nationkey) AS nationkey, a.n_cust, b.n_supp
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) a
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) b
        |ON a.nationkey = b.nationkey""".stripMargin,
    "join_cross" ->
      """SELECT a.r_regionkey AS a_key, b.r_regionkey AS b_key
        |FROM region a CROSS JOIN region b WHERE a.r_regionkey < b.r_regionkey""".stripMargin,
    "join_nonequi_range" ->
      """SELECT p_partkey, band FROM part
        |JOIN (SELECT r_regionkey AS band, r_regionkey*10 AS lo, r_regionkey*10+10 AS hi FROM region) bands
        |ON p_size >= lo AND p_size < hi""".stripMargin,
    "join_range_binned" ->
      """SELECT bracket, COUNT(*) AS n_orders,
        | MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok
        |FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS p
        |      FROM orders) pts
        |JOIN (SELECT CAST(i AS BIGINT) AS bracket, CAST(i * 25000 AS BIGINT) AS lo,
        |             CAST(i * 25000 + 24999 AS BIGINT) AS hi
        |      FROM (SELECT unnest(range(24)) AS i) t) br
        | ON p >= lo AND p <= hi
        |GROUP BY bracket""".stripMargin,
    "join_interval_overlap" ->
      """WITH o AS (
        | SELECT o_orderkey,
        |  CAST(DATE_DIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |       AS BIGINT) AS od
        | FROM orders),
        |c AS (SELECT CAST(i AS BIGINT) AS campaign, CAST(i * 50 AS BIGINT) AS c_lo,
        |             CAST(i * 50 + 13 AS BIGINT) AS c_hi
        |      FROM (SELECT unnest(range(50)) AS i) t)
        |SELECT campaign, COUNT(*) AS n_orders,
        | MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok
        |FROM o JOIN c ON od <= c_hi AND c_lo <= od + 30
        |GROUP BY campaign""".stripMargin,
    "set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "set_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT SELECT o_custkey AS custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'""".stripMargin,
    "win_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin,
    "win_topk_heap" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin,
    "win_topk_rewrite" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, rn FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) t WHERE rn <= 2""".stripMargin,
    "win_running_total" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem""".stripMargin,
    "win_percent_rank" ->
      """SELECT s_nationkey, s_suppkey,
        | PERCENT_RANK() OVER w AS pr,
        | CUME_DIST() OVER w AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)""".stripMargin,
    "win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        | FIRST_VALUE(o_orderkey) OVER w AS first_key,
        | LAST_VALUE(o_orderkey) OVER w AS last_key,
        | NTH_VALUE(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "win_ntile" ->
      """SELECT o_orderstatus, o_orderkey,
        | NTILE(8) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS bucket
        |FROM orders""".stripMargin,
    "agg_boolean" ->
      """SELECT l_returnflag,
        | CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
        | BOOL_AND(l_quantity > 0) AS all_pos,
        | BOOL_OR(l_discount > 0.05) AS any_disc
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
        |FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |                           ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        |      FROM orders GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin,
    "win_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        | LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_key,
        | LEAD(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_key
        |FROM orders""".stripMargin,
    "win_rank_dense" ->
      """SELECT p_partkey, RANK() OVER (ORDER BY p_size) AS r,
        | DENSE_RANK() OVER (ORDER BY p_size) AS dr
        |FROM part""".stripMargin,
    "win_cume_dist_global" ->
      """WITH k AS (
        | SELECT p_retailprice, COUNT(*) AS c FROM part GROUP BY 1),
        |c AS (
        | SELECT p_retailprice,
        |  SUM(c) OVER (ORDER BY p_retailprice) AS cum,
        |  SUM(c) OVER () AS n
        | FROM k)
        |SELECT p_partkey,
        | CAST(cum * 1000000 // n AS BIGINT) AS cd_micro
        |FROM part JOIN c USING (p_retailprice)""".stripMargin,
    "sort_limit_topn" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "scalar_string" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_u, LOWER(p_type) AS type_l,
        | SUBSTRING(p_name, 1, 5) AS name5, LENGTH(p_name) AS name_len,
        | CONCAT_WS('#', p_brand, p_type) AS brand_type, TRIM(p_name) AS name_trim,
        | REGEXP_REPLACE(p_name, 'a', '@', 'g') AS name_sub
        |FROM part""".stripMargin,
    "scalar_date" ->
      """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS INT) AS y,
        | CAST(MONTH(o_orderdate) AS INT) AS m, CAST(DAY(o_orderdate) AS INT) AS d,
        | DATE_TRUNC('month', o_orderdate) AS month_start
        |FROM orders""".stripMargin,
    "scalar_regexp" ->
      """SELECT p_partkey,
        | regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        | CAST(regexp_matches(p_type, '^PROMO') AS INT) AS is_promo,
        | CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT) AS n_words
        |FROM part""".stripMargin,
    "scalar_bitwise" ->
      """SELECT o_orderkey,
        | o_orderkey & 255 AS low8,
        | o_orderkey | 4096 AS with_bit,
        | xor(o_orderkey, o_custkey) AS mixed,
        | o_custkey << 4 AS shl4,
        | o_orderkey >> 3 AS shr3,
        | CAST(bit_count(o_orderkey) AS INT) AS popcnt
        |FROM orders""".stripMargin,
    "scalar_math" ->
      """SELECT l_orderkey, l_linenumber, ABS(l_orderkey - 3000) AS absdiff,
        | l_orderkey % 7 AS mod7,
        | CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        | CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        | GREATEST(l_orderkey, l_partkey) AS gkey, LEAST(l_orderkey, l_partkey) AS lkey
        |FROM lineitem""".stripMargin,
    "scalar_case_when" ->
      """SELECT bucket, COUNT(*) AS n FROM (
        | SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
        |             WHEN c_acctbal < 5000 THEN 'low'
        |             ELSE 'high' END AS bucket FROM customer) t
        |GROUP BY bucket""".stripMargin,
    "scalar_array" ->
      """SELECT vec_id,
        | CAST(len(embedding) AS INT) AS dim,
        | ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
        | ROUND(list_aggregate([CAST(x AS DOUBLE) for x in embedding[1:3]], 'sum'), 4)
        |  AS head3_sum,
        | list_aggregate(CAST(embedding AS DOUBLE[]), 'sum') >= 0 AS nonneg_sum,
        | list_contains([x > 0 for x in embedding], true) AS has_positive
        |FROM embeddings""".stripMargin,
    "scalar_map" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_linenumber % 2 = 0 THEN l_quantity ELSE l_tax END AS picked,
        | CAST(3 AS BIGINT) AS m_size,
        | 'qty,tax' AS ks,
        | l_quantity + l_tax AS vsum
        |FROM lineitem WHERE l_orderkey < 200""".stripMargin,
    "scalar_datetime" ->
      """SELECT o_orderkey,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS plus30,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP) AS plus2m,
        | CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
        | DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98,
        | CAST(ISODOW(o_orderdate) AS INT) AS iso_dow,
        | CAST(WEEKOFYEAR(o_orderdate) AS INT) AS week
        |FROM orders""".stripMargin,
    "scalar_conditional" ->
      """SELECT s_suppkey, COALESCE(NULLIF(s_name, ''), 'unknown') AS name_nn,
        | s_acctbal > 0 AS in_credit
        |FROM supplier""".stripMargin)
}
