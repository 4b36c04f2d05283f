package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** The one convergence loop behind every run-to-fixpoint operator
  * ([[GraphIterate]]'s four loops and [[Dedup.connectedComponents]]).
  * A loop supplies its seed, its per-round step, its probe aggregate
  * and its stopping rule; this owns the rest:
  *
  *  - ONE Spark job per round: the step's plan is probed with
  *    `observe()` and materialized by an EAGER `localCheckpoint`, whose
  *    own action completes the observation. A lazy checkpoint plus a
  *    separate action would LOSE the metric (the action's query reads
  *    the materialized RDD, not the CollectMetrics node) and pay an
  *    extra traversal per round.
  *  - The step computes the probe's inputs with a separate node-sized
  *    LEFT join of the previous state (`prev`), not by fusing `prev`
  *    into its aggregate. Round 15 reverted such a fusion (prev riding
  *    the aggregate's input as a tagged null-contribution row):
  *    same-window cross-binary probes (min-of-3, fresh JVMs, quiet box)
  *    measured it ~2× SLOWER (pagerank 4.51→8.58 s, sssp 1.40→3.24 s) —
  *    the union inflates the aggregate's input and breaks its
  *    single-pass partial aggregation, while the join side it replaced
  *    is a tiny checkpointed table.
  *  - The probe is read through [[requireMetric]], which fails loudly
  *    rather than faking convergence; `maxRounds` caps the loop.
  *    Rounds count executed steps INCLUDING the final confirming round,
  *    so specs can pin that convergence is probe-driven.
  *
  * Checkpoint lifecycle: state is released explicitly, never left for
  * Spark's GC-driven ContextCleaner. Once round n+1 is materialized,
  * round n's checkpoint blocks are dropped, along with every other
  * checkpoint the round read that this call created (one the step
  * takes itself, e.g. CC's propagated frame). Older checkpoints belong
  * to the caller or to the static `inputs`; the inputs are released
  * on exit, since the returned state is an eager checkpoint of its own.
  * The returned state is never released: it lives until the caller
  * drops it. Nothing here registers in the shared [[StageCaches]].
  *
  * Fault-tolerance trade: localCheckpoint truncates lineage onto
  * executor-local storage, so on a CLUSTER an executor loss mid-loop
  * aborts the job instead of recomputing — the round state would have
  * to be rebuilt from round 0. The alternatives are a reliable
  * `checkpoint` to a checkpoint dir (a distributed write per round —
  * the right call for multi-hour fixpoints) or `persist` (keeps
  * lineage, but the lineage GROWS per round: the O(rounds²)
  * re-planning problem checkpointing exists to cut). For these
  * node-sized states recomputing a lost round is cheap and restarts
  * are rare; a multi-hour variant would pass a checkpoint dir and swap
  * the checkpoint calls here. */
object Fixpoint {

  /** When a loop has converged. */
  sealed trait Until[-P]

  /** The probe stopped moving: round n's value equals round n-1's. The
    * seed is probed too, by one aggregate over its lazy checkpoint, so
    * round 1 has a value to compare against. */
  case object Stable extends Until[Any]

  /** The round's own probe value passes `test`. */
  final case class Reached[P](test: P => Boolean) extends Until[P]

  private val Key = "probe"

  /** Read a probe value that MUST be delivered as `zero`'s class.
    * Distinguishes the two look-alike cases a silent default would
    * conflate: a NULL value (a sum over zero rows — legitimately "no
    * change", converged) reads as `zero`, while a MISSING or wrongly
    * typed value (a lost CollectMetrics node, or a metric-type change
    * across Spark versions) throws — coercing it to zero would silently
    * declare convergence and return a wrong fixpoint. */
  private[operators] def requireMetric[T](metrics: Map[String, Any],
      key: String, zero: T): T = {
    val cls = zero.asInstanceOf[AnyRef].getClass
    metrics.get(key) match {
      case Some(null) => zero
      case Some(v) if cls.isInstance(v) => v.asInstanceOf[T]
      case Some(other) => throw new IllegalStateException(
        s"observe() metric '$key' delivered as ${other.getClass.getName} " +
          s"($other), expected ${cls.getSimpleName} — the convergence " +
          "probe cannot be trusted")
      case None => throw new IllegalStateException(
        s"observe() metric '$key' missing from ${metrics.keySet} — the " +
          "CollectMetrics node was lost; refusing to fake convergence")
    }
  }

  /** Iterate `step` from `seed` until `until` holds or `maxRounds` steps
    * ran; returns (final state, rounds). The state keeps the seed's
    * columns: `step` may add columns the probe reads (the `prev`
    * join), and they are projected away before the checkpoint.
    * `probe` is an aggregate over the step's output; a NULL result
    * reads as `zero`. `inputs` are the loop's static checkpointed
    * frames, released on exit. */
  def run[P](seed: DataFrame, probe: Column, zero: P, until: Until[P],
      maxRounds: Int, inputs: DataFrame*)(
      step: DataFrame => DataFrame): (DataFrame, Int) = {
    var state = seed.localCheckpoint(false)
    val cols = state.columns.toSeq.map(col)
    // Every checkpoint from here on is this call's to release.
    val firstOwned = checkpoints(state).head.id
    var prev: Option[P] = until match {
      case Stable =>
        Some(requireMetric(state.agg(probe.as(Key)).first()
          .getValuesMap[Any](Seq(Key)), Key, zero))
      case _ => None
    }
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val obs = Observation()
      val round = step(state)
      val next = round.observe(obs, probe.as(Key)).select(cols: _*)
        .localCheckpoint(true)
      val p = requireMetric(obs.get, Key, zero)
      (checkpoints(state) ++ checkpoints(round))
        .filter(_.id >= firstOwned).distinct.foreach(Bridge.unpersistRdd)
      done = until match {
        case Stable => prev.contains(p)
        case Reached(test) => test(p)
      }
      state = next; prev = Some(p); rounds += 1
    }
    if (rounds > 0) inputs.flatMap(checkpoints).foreach(Bridge.unpersistRdd)
    (state, rounds)
  }

  /** The checkpoint RDDs a frame's plan reads. */
  private def checkpoints(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
