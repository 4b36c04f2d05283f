package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the convergence behavior of the probe-driven graph loops on
  * the scale-independent nation fixture graph. The SQL oracles prove
  * VALUE agreement; these prove the loops really are probe-terminated:
  * the measured round counts (5/6/18, all != the fixed-round demos' 3)
  * are asserted, so fixture drift or an epsilon change breaks a test
  * before it silently breaks the unrolled PageRank oracle (whose
  * 18-round unroll must EXACTLY match the engine's stopping round —
  * PageRank has no idempotent fixpoint to hide behind). */
class GraphIterateSpec extends SparkTestBase {

  test("kCoreFixpoint: converges in 5 rounds (!= 3); both K4s survive, path peels away") {
    val (core, rounds) = GraphIterate.kCoreFixpoint(
      GraphQueries.fixtureAdj(spark, sfDir), 2)
    assert(rounds == 5, s"expected 5 peel rounds (4 dropping + 1 confirming), got $rounds")
    val deg = core.groupBy("node").agg(count(lit(1)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      20L -> 3L, 21L -> 3L, 22L -> 3L, 23L -> 3L))
  }

  test("kCoreFixpoint is idempotent: re-peeling the core converges in 1 round") {
    val (core, _) = GraphIterate.kCoreFixpoint(
      GraphQueries.fixtureAdj(spark, sfDir), 2)
    val (again, rounds2) = GraphIterate.kCoreFixpoint(core, 2)
    assert(rounds2 == 1)
    assert(again.count() == core.count())
  }

  test("labelPropFixpoint: stabilizes in 6 rounds (!= 3); two communities 0 and 20") {
    val (labels, rounds) = GraphIterate.labelPropFixpoint(
      GraphQueries.fixtureAdj(spark, sfDir))
    assert(rounds == 6, s"expected 6 rounds (5 changing + 1 confirming), got $rounds")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 12)
    assert(m.filter(_._1 < 10).values.toSet == Set(0L))
    assert(m.filter(_._1 >= 20).values.toSet == Set(20L))
  }

  test("pageRankConverged: L1 delta first <= 20000 at round 18; eps drives the count") {
    val edges = GraphQueries.fixtureEdges(spark, sfDir)
    val (ranks, rounds) = GraphIterate.pageRankConverged(edges, epsMicro = 20000L)
    assert(rounds == 18, s"oracle unrolls exactly 18 rounds; engine stopped at $rounds")
    assert(ranks.count() == 12)
    // a looser epsilon must stop EARLIER — the probe, not a constant,
    // ends the loop
    val (_, fewer) = GraphIterate.pageRankConverged(edges, epsMicro = 600000L)
    assert(fewer < rounds && fewer > 1, s"eps=600000 stopped at $fewer")
  }

  test("pageRankConverged never reaches delta == 0: maxRounds caps the limit cycle") {
    // floor division leaves a period-2 limit cycle (L1 delta 11 on
    // this fixture) — eps = 0 must run to the cap, not converge
    val (_, rounds) = GraphIterate.pageRankConverged(
      GraphQueries.fixtureEdges(spark, sfDir), epsMicro = 0L, maxRounds = 25)
    assert(rounds == 25)
  }

  test("ssspFixpoint: hand-computed BFS levels from node 0, unreachable " +
      "clique absent, 6 rounds (5 improving + 1 confirming)") {
    val (dist, rounds) = GraphIterate.ssspFixpoint(
      GraphQueries.fixtureAdj(spark, sfDir), source = 0L)
    assert(rounds == 6, s"expected 6 rounds, got $rounds")
    val d = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 on {0..3} puts 1,2,3 at 1 hop; the path 3-4-5-6-7 extends;
    // 20-23 are a separate component — absent, not infinite
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 2L, 5L -> 3L, 6L -> 4L, 7L -> 5L), d.toString)
  }

  test("ssspFixpoint is idempotent on a re-run and respects maxRounds") {
    val adj = GraphQueries.fixtureAdj(spark, sfDir)
    // capped run returns the partial frontier without error
    val (partial, r1) = GraphIterate.ssspFixpoint(adj, 0L, maxRounds = 2)
    assert(r1 == 2)
    val reached = partial.collect().map(_.getLong(0)).toSet
    assert(reached == Set(0L, 1L, 2L, 3L, 4L), reached.toString)
  }

  test("requireMetric: absent metric FAILS loudly (never fakes " +
      "convergence); null sum-over-empty reads as 0; Long and BigDecimal pass through") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    // delivered Long
    val obs1 = Observation()
    Seq(1L, 2L).toDF("x").observe(obs1, sum($"x").as("delta")).collect()
    assert(Fixpoint.requireMetric(obs1.get, "delta", 0L) == 3L)
    // a metric that EXISTS but under a different name = the lost-
    // CollectMetrics regression: must throw, not read as converged
    val ex = intercept[IllegalStateException](
      Fixpoint.requireMetric(obs1.get, "changed", 0L))
    assert(ex.getMessage.contains("missing"))
    // sum over zero matching rows delivers SQL NULL = genuine "no change"
    val obs2 = Observation()
    Seq(1L).toDF("x")
      .observe(obs2, sum(when($"x" > 100L, 1L)).as("changed")).collect()
    assert(Fixpoint.requireMetric(obs2.get, "changed", 0L) == 0L)
    // a non-Long delivery (metric-type drift) must also throw
    val obs3 = Observation()
    Seq(1L).toDF("x").observe(obs3, sum(lit(0.5d)).as("changed")).collect()
    val ex3 = intercept[IllegalStateException](
      Fixpoint.requireMetric(obs3.get, "changed", 0L))
    assert(ex3.getMessage.contains("expected Long"))
    // the CC label sum: a DECIMAL(38,0) delivered as java.math.BigDecimal
    val zero = java.math.BigDecimal.ZERO
    val obs4 = Observation()
    Seq(4L, 5L).toDF("x")
      .observe(obs4, sum($"x".cast(DecimalType(38, 0))).as("s")).collect()
    assert(Fixpoint.requireMetric(obs4.get, "s", zero) == new java.math.BigDecimal(9))
    val ex4 = intercept[IllegalStateException](
      Fixpoint.requireMetric(obs1.get, "delta", zero))
    assert(ex4.getMessage.contains("expected BigDecimal"))
  }

  test("pageRankConverged counts a node entering the rank set as change") {
    import spark.implicits._
    // 0<->1 plus 0->2: node 2 is a sink, absent from the seed (src
    // nodes only), so round 1 gives it a NULL prev. Round 1's delta is
    // 425000 on nodes 0/1 plus node 2's whole 575000 entering rank;
    // ignoring the newcomer would stop at round 1 under eps 500000.
    // Round 2 moves only node 0 (1000000 -> 638750), delta 361250.
    val edges = Seq((0L, 1L, 1L, 2L), (0L, 2L, 1L, 2L), (1L, 0L, 1L, 1L))
      .toDF("src", "dst", "w", "outw")
    val (ranks, rounds) = GraphIterate.pageRankConverged(edges, epsMicro = 500000L)
    assert(rounds == 2, s"set churn read as convergence: stopped at $rounds")
    assert(ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 638750L, 1L -> 575000L, 2L -> 575000L))
  }

  test("kCoreFixpoint on the co-purchase graph agrees with the fixed-round demo once both converge") {
    // the trade-data graph peels to ITS fixpoint in <= 3 rounds at this
    // sf, so the demo's 3 unrolled rounds already reach it — the
    // fixpoint form must land on the same core
    val (core, rounds) = GraphIterate.kCoreFixpoint(
      GraphQueries.coAdj(spark, sfDir), 3)
    assert(rounds <= 4, s"co-purchase graph should converge fast, took $rounds")
    val fix = core.groupBy("node").agg(count(lit(1)).as("degree"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val demo = GraphQueries.queries("graph_kcore")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fix == demo)
  }
}
