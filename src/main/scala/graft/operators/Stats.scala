package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Callable library entry points for the round-10 statistics operators —
  * extracted from the registered-query lambdas (round-12, verdict item 6)
  * so a library user can run them on ARBITRARY tables, with the
  * registered queries now thin wrappers over these. The semantics,
  * integer-exactness discipline, and plan shapes are unchanged; the
  * fixture-level contract is the driver's oracle gate
  * (`stat_bootstrap_ci`, `agg_hll_distinct`, `ev_survival_km`), and
  * LibraryApiSpec exercises each entry point on synthetic tables.
  */
object Stats {

  /** Poisson-bootstrap 95% confidence interval for the mean of an exact
    * integer measure (the one-pass bootstrap: instead of drawing B
    * resamples — impossible at 100 TB — each row contributes to replica
    * b with a Poisson(1) weight derived DETERMINISTICALLY from
    * md5(id, b), so the whole bootstrap is one narrow ×B explode + one
    * B-key partial-aggregated shuffle; no resample pass, no row-count
    * coordination, bit-stable across engines/runs/partitionings).
    *
    * `idCol` must be row-unique (the replica weights key on it);
    * `centsCol` an exact BIGINT measure. Weights come from a 2³²-range
    * uniform u via fixed integer thresholds T_k = floor(CDF_Poisson(1)
    * (k)·2³²), tail capped at w=7 (P ≈ 1.0e-5 — the same cap on every
    * engine, so results still hash-match). Replica means are
    * micro-quantized by exact integral division BEFORE the
    * normal-approx CI over the B means.
    *
    * Output (one row): n_rows, sum_cents, mean_micro, boot_mean_micro,
    * ci_lo_micro, ci_hi_micro. */
  def bootstrapCi(df: DataFrame, idCol: String, centsCol: String,
      replicas: Int = 64): DataFrame = {
    require(replicas >= 2, s"need >= 2 replicas for a CI, got $replicas")
    // Round-14 (guide §1 bisect): the md5→substring→conv `u` column was
    // ~80% of this operator's wall time. The fused BootstrapWeights
    // kernel computes the SAME per-(row, replica) weights — u =
    // conv(substring(md5(concat(id, ':', b)), 1, 8), 16, 10) bucketed by
    // the same Poisson thresholds — from digest bytes in one pass per
    // row (HashExpressionsSpec pins bit-equality to the composed form);
    // the oracle SQL is unchanged.
    // Scan-spread (guide §2.5): the ×B per-row digest kernel below is
    // the heavy stage; on a one-split input (the single-row-group
    // fixture file) it would serialize on one core. Identity on any
    // input that already has session-parallelism splits.
    val rep = Layout.spread(df
        .select(col(idCol).cast("string").as("__ids"), col(centsCol).as("cents")))
      .select(col("cents"), posexplode(
        graft.functions.HashFunctions.bootstrap_weights(col("__ids"), replicas))
        .as(Seq("b", "w")))
      .groupBy("b").agg(
        sum("w").as("nb"), sum(col("w") * col("cents")).as("sb"),
        count(lit(1)).as("ns"), sum("cents").as("sc"))
      .where(col("nb") > 0)
      .select(col("ns"), col("sc"),
        expr("cast((cast(sb as decimal(38,0)) * 1000000) div nb as bigint)")
          .as("m"))
    rep.agg(
        count(lit(1)).as("cnt"), max("ns").as("n_rows"),
        max("sc").as("sum_cents"), sum("m").as("sm"),
        sum(col("m").cast(DecimalType(38, 0)) * col("m")).as("sm2"))
      .select(col("n_rows"), col("sum_cents"),
        expr("cast((cast(sum_cents as decimal(38,0)) * 1000000) div n_rows as bigint)")
          .as("mean_micro"),
        expr("cast(sm div cnt as bigint)").as("boot_mean_micro"),
        expr("""cast(floor(
              |  cast(sm as double) / cast(cnt as double)
              |  - 1.959964d * sqrt(
              |     (cast(sm2 as double)
              |      - cast(sm as double) * cast(sm as double) / cast(cnt as double))
              |     / cast(cnt - 1 as double))
              |  + 0.5d) as bigint)""".stripMargin).as("ci_lo_micro"),
        expr("""cast(floor(
              |  cast(sm as double) / cast(cnt as double)
              |  + 1.959964d * sqrt(
              |     (cast(sm2 as double)
              |      - cast(sm as double) * cast(sm as double) / cast(cnt as double))
              |     / cast(cnt - 1 as double))
              |  + 0.5d) as bigint)""".stripMargin).as("ci_hi_micro"))
  }

  // -------------------------------------------------------------------
  // HyperLogLog with an engine-portable register table (m = 256):
  // register = top 8 bits of the md5-derived 2³²-range uniform, rho =
  // leading-zero count of the low 24 bits + 1, all exact integers.
  // The register table is 256 rows at ANY corpus size, and register
  // tables from DISJOINT shards merge by MAX — how a 100 TB
  // count-distinct actually runs (LibraryApiSpec proves shard-merge ≡
  // whole-corpus).
  // -------------------------------------------------------------------

  /** The (reg, rho) register table for one corpus (≤ 256 rows). */
  def hllRegisters(df: DataFrame, key: Column): DataFrame =
    df.select(graft.functions.HashFunctions
        .md5_prefix64(key.cast("string"), 8).as("u"))
      .selectExpr("u div 16777216 as reg", "u % 16777216 as w")
      .selectExpr("reg",
        "case when w = 0 then 25L else 25L - length(bin(w)) end as rho")
      .groupBy("reg").agg(max("rho").as("rho"))

  /** Estimate from a register table: harmonic mean kept EXACT in
    * 2²⁵-scaled integer units (empty registers contribute 2²⁵), raw
    * estimate = one BIGINT integral division (numerator
    * 1579617778090901504 = α₂₅₆·10⁶ · 256² · 2²⁵), with the standard
    * small-range linear-counting correction. Output: (m_used, max_rho,
    * est_milli). */
  def hllEstimateFromRegisters(regs: DataFrame): DataFrame =
    regs.agg(count(lit(1)).as("m_used"),
        sum(expr("shiftleft(cast(1 as bigint), cast(25 - rho as int))"))
          .as("s_used"),
        max("rho").as("max_rho"))
      .select(col("m_used"), col("max_rho"),
        expr("""case when (256 - m_used) > 0
              |  and (1579617778090901504L
              |       div ((s_used + (256 - m_used) * 33554432) * 1000))
              |      <= 640000
              | then cast(floor(256.0d
              |   * ln(256.0d / cast(256 - m_used as double))
              |   * 1000.0d + 0.5d) as bigint)
              | else 1579617778090901504L
              |   div ((s_used + (256 - m_used) * 33554432) * 1000)
              |end""".stripMargin).as("est_milli"))

  /** One-call estimate: registers → estimate. */
  def hllEstimate(df: DataFrame, key: Column): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, key))

  // -------------------------------------------------------------------
  // Count-Min sketch (d×w grid, default 4×1024): the mergeable
  // fixed-size frequency sketch — estimate(key) = MIN over the d rows,
  // one-sided (only ever OVERcounts). The sketch table is d·w rows at
  // ANY corpus size, and sketches from disjoint shards — or successive
  // micro-batches (StreamingOps.cmsMonitor) — merge by cell-wise SUM
  // (cmsMerge below). Registered query `agg_countmin_topk` and the
  // streaming monitor are thin wrappers over these.
  // -------------------------------------------------------------------

  /** CMS cell index for `key` in sketch row `j`: md5-derived 2³²-range
    * uniform of "j:key" mod width — the engine-portable integer hashing
    * every sketch in the library uses, so a SQL oracle reproduces it. */
  def cmsCell(key: Column, j: Column, width: Int = 1024): Column =
    graft.functions.HashFunctions.md5_prefix64(
      concat(j.cast("string"), lit(":"), key.cast("string")), 8) % width

  /** Build the (j, cell, cnt) sketch table over `key`: one narrow ×d
    * explode + one d·w-key partial-aggregated shuffle. Works unchanged
    * on a STREAMING DataFrame (the groupBy becomes Spark's stateful
    * running aggregate — see [[graft.streaming.StreamingOps.cmsMonitor]]). */
  def cmsSketch(df: DataFrame, key: Column, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CMS grid ${depth}x$width")
    df.select(key.as("__k"), explode(expr(s"sequence(0, ${depth - 1})")).as("j"))
      .select(col("j"), cmsCell(col("__k"), col("j"), width).as("cell"))
      .groupBy("j", "cell").agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches from disjoint shards (or micro-batch deltas):
    * cell-wise SUM — the property that makes CMS a 100 TB sketch. */
  def cmsMerge(shards: DataFrame*): DataFrame = {
    require(shards.nonEmpty, "need at least one sketch table")
    shards.reduce(_ unionAll _).groupBy("j", "cell").agg(sum("cnt").as("cnt"))
  }

  /** Kaplan–Meier survival over per-user lifetimes. Each user's
    * lifetime = (last − first event) in whole HOURS; a user is an
    * observed churn if their last event is more than `censorGapNanos`
    * before the corpus max (else right-CENSORED — still active when
    * the data ends). `tsCol` must be epoch NANOS (the repo's event-time
    * convention). The risk table is exact integers: one user-keyed
    * aggregate (the only corpus-scale shuffle), one bounded hour-keyed
    * aggregate — distinct lifetime hours are capped by the corpus TIME
    * SPAN, not its row count. S(t) = Π_{s≤t}(1 − d_s/n_s) runs as a
    * deterministic left fold over the hour-sorted array inside one
    * single-row aggregate plan: IEEE mul/div in a pinned order, so the
    * ppm-quantized curve is bit-identical across engines.
    *
    * Output: (t_hour, n_risk, n_churn, n_censor, survival_ppm). */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      censorGapNanos: Long = 14L * 86400000000000L): DataFrame = {
    val byU = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"))
    val maxTs = byU.agg(max("last_ts").as("max_ts"))
    val byT = byU.crossJoin(broadcast(maxTs))
      .select(expr("(last_ts - first_ts) div 3600000000000").as("t_hour"),
        (col("max_ts") - col("last_ts") > lit(censorGapNanos)).as("churned"))
      .groupBy("t_hour").agg(
        sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("churned"), 1L).otherwise(0L)).as("c"))
    byT.agg(
        sort_array(collect_list(struct(col("t_hour"), col("d"), col("c"))))
          .as("arr"),
        sum(col("d") + col("c")).as("u"))
      .select(posexplode(expr(
        """transform(arr, (x, i) -> named_struct(
          |  't_hour', x.t_hour,
          |  'n_risk', u - aggregate(slice(arr, 1, i), 0L,
          |              (acc, y) -> acc + y.d + y.c),
          |  'n_churn', x.d,
          |  'n_censor', x.c,
          |  'survival_ppm', cast(floor(
          |    aggregate(slice(arr, 1, i + 1),
          |      named_struct('rem', u, 'p', cast(1.0 as double)),
          |      (acc, y) -> named_struct(
          |        'rem', acc.rem - y.d - y.c,
          |        'p', acc.p * (1.0d - cast(y.d as double)
          |                             / cast(acc.rem as double))),
          |      acc -> acc.p) * 1e6 + 0.5d) as bigint)))"""
          .stripMargin)).as(Seq("pos", "r")))
      .select(col("r.t_hour").as("t_hour"), col("r.n_risk").as("n_risk"),
        col("r.n_churn").as("n_churn"), col("r.n_censor").as("n_censor"),
        col("r.survival_ppm").as("survival_ppm"))
  }
}
