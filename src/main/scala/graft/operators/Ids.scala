package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe contiguous global ID assignment (0-based, dense, ordered
  * by `orderCols`) — the pipeline primitive behind stable sample
  * indexing, shard addressing, and resumable exports.
  *
  * The naive form — `row_number()` over an unpartitioned window — sorts
  * the whole table on ONE task, which is exactly the o2/o3 bound this
  * library documents as semantics-only. This operator produces the same
  * numbering distributed:
  *
  *  1. range-repartition by `orderCols` (sampled boundaries, the same
  *     machinery as a distributed ORDER BY — no single-task sort);
  *  2. rank within each range partition (`row_number` partitioned by
  *     `spark_partition_id()`);
  *  3. per-partition row counts → cumulative offsets (one row per
  *     partition — metadata-sized) broadcast back and added.
  *
  * Total cost: two shuffles of the data (range + pid hash) plus a
  * metadata aggregation; every stage is fully parallel, so the plan
  * survives a 100× scale-up where the global window would not.
  *
  * Output is deterministic when `orderCols` is a total order (unique
  * key); with duplicate keys the numbering of ties follows partition
  * arrival order, like any distributed sort. */
object Ids {

  def contiguous(df: DataFrame, orderCols: Seq[String],
      idName: String = "rid", numPartitions: Int = 0): DataFrame =
    // dense rank = inclusive running count − 1: one shared
    // implementation of the subtle distributed scaffold
    cumulativeSum(df, orderCols.map(col), lit(1L), idName, numPartitions)
      .withColumn(idName, col(idName) - 1)

  /** The distributed running SUM of `weight` in `orderBy` order —
    * the generalization [[contiguous]] is the weight-1 case of:
    * range-repartition on the sort expressions, per-partition running
    * sums, per-partition TOTALS (one row each — metadata) prefix-summed
    * and broadcast back. No single-task global window; survives the
    * same 100× scale-up. `orderBy` may carry direction (`col.desc`)
    * and must be a total order for a deterministic result. Output:
    * input columns plus `sumName` = inclusive running sum. The
    * primitive behind "take items in priority order until a budget is
    * hit" ([[Curation.tokenBudgetSelect]]): the kept prefix in sort
    * order is exactly `sumName <= budget`. A NULL weight counts as 0
    * (the row keeps the previous running total) — made explicit with a
    * coalesce so a null-weighted row can never silently skew the sum
    * differently in the per-partition vs offset stages. */
  def cumulativeSum(df: DataFrame, orderBy: Seq[Column], weight: Column,
      sumName: String = "cum", numPartitions: Int = 0,
      totalName: Option[String] = None): DataFrame =
    cumulativeSums(df, orderBy, Seq(weight -> sumName), numPartitions,
      totalName.map(t => Map(sumName -> t)).getOrElse(Map.empty))

  /** N running sums in ONE pass — same scaffold as [[cumulativeSum]]
    * (which is the single-weight case), but every weight rides the
    * same range shuffle, the same per-partition window, and the same
    * metadata-sized offsets table. Callers that need two ECDFs over
    * one sort order (two-sample tests like `stat_ks_drift`) pay one
    * data shuffle instead of one per weight. `totals` maps a sum name
    * to an extra output column carrying that weight's grand total
    * (constant across rows, broadcast from the offsets table — no
    * second scan of `df`). */
  /** Is `df`'s lineage worth materializing ONCE before the range
    * exchange (which executes its child twice: boundary sampling +
    * shuffle map)? Round-15 rule, measured at both ends in round 14:
    * a bare scan (+ project/filter, even a single aggregate over a
    * scan) re-executes cheaper than the extra checkpoint job costs
    * (ids_contiguous 0.50→1.12 s, o2 0.73→1.64 s, stat_ks_drift
    * 0.60→0.91 s under the unconditional checkpoint), while any plan
    * carrying a join, window, generator, sort, repartition or a
    * second aggregate pays its whole pipeline twice without it
    * (text_ppl_buckets 5.47→2.87 min checkpointed). The same
    * trade holds at scale: re-running a scan is a second sequential
    * read, but checkpointing a scan-shaped input writes AND reads
    * every row once each — never cheaper. Callers with an expensive
    * opaque projection the plan can't reveal can still opt in by
    * passing an already-checkpointed frame (LogicalRDD children count
    * as trivial and are never re-checkpointed). */
  private[operators] def worthMaterializing(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{logical => lg}
    var aggs = 0
    var heavy = false
    // a join inside a scalar or IN subquery runs again too
    df.queryExecution.optimizedPlan.foreachWithSubqueries {
      case _: lg.Join | _: lg.Window | _: lg.Generate | _: lg.Sort |
           _: lg.RepartitionOperation => heavy = true
      case _: lg.Aggregate => aggs += 1
      case _ => ()
    }
    heavy || aggs >= 2
  }

  /** Materialize the (narrow) input once iff its lineage is expensive —
    * see [[worthMaterializing]]. `localCheckpoint` rather than
    * `persist`: a `persist` here would register every per-call frame in
    * the session's CacheManager with no unpersist point (this scaffold
    * returns a derived frame, the input goes out of scope), leaking
    * blocks and plan-match work across a long session. The guide-§5
    * trade is real — localCheckpoint truncates lineage onto
    * executor-local storage, so an executor loss during the two
    * downstream stages forces a job restart instead of a recompute —
    * and is accepted here because the window is two stages wide and
    * the alternative is executing the whole child pipeline twice per
    * call. */
  private def inputOnce(df: DataFrame): DataFrame =
    if (worthMaterializing(df)) df.localCheckpoint() else df

  def cumulativeSums(df: DataFrame, orderBy: Seq[Column],
      weights: Seq[(Column, String)], numPartitions: Int = 0,
      totals: Map[String, String] = Map.empty): DataFrame = {
    require(weights.nonEmpty, "cumulativeSums: at least one weight")
    val names = weights.map(_._2)
    require(names.distinct.size == names.size,
      s"cumulativeSums: duplicate sum names in $names")
    val unknownTotals = totals.keySet -- names.toSet
    require(unknownTotals.isEmpty,
      s"cumulativeSums: totals reference unknown sums $unknownTotals")
    val np =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val idx = weights.indices
    // Materialize the input ONCE (round 14, guide §2.4/§5): a
    // RangePartitioning exchange executes its child lineage TWICE — once
    // for the boundary-sampling job, once for the shuffle map stage — so
    // a caller with an expensive child (text_ppl_buckets' bigramNll,
    // cur_pipeline_packed's curation chain, the ECDF aggregates) paid
    // its whole pipeline twice per running sum. The eager localCheckpoint
    // pins the (narrow: orderBy + weight + carried columns) rows to
    // blocks; sampling and the map stage replay blocks, not lineage.
    // Round 15: SELECTIVE — bare-scan callers measured 1.5-2.2× slower
    // under the unconditional form (see worthMaterializing).
    val src = inputOnce(df)
    val ranged = idx.foldLeft(
        src.repartitionByRange(np, orderBy: _*)
          .withColumn("_pid", spark_partition_id())) { (d, i) =>
      d.withColumn(s"_w$i", coalesce(weights(i)._1.cast("long"), lit(0L)))
    }
    val wLocal = Window.partitionBy("_pid").orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = idx.foldLeft(ranged) { (d, i) =>
      d.withColumn(s"_local$i", sum(s"_w$i").over(wLocal))
    }
    // the offsets table is ONE ROW PER SHUFFLE PARTITION — metadata-
    // sized, so its prefix-sum legitimately runs on one task. The
    // constant partition key (pmod(_pid, 1) ≡ 0; a bare literal would
    // be stripped by EliminateWindowPartitions) says so EXPLICITLY:
    // same execution as an unpartitioned window, minus the WindowExec
    // single-partition warning that would be noise here and signal
    // anywhere else. Constant-keyed windows are reserved for provably
    // bounded inputs like this one — the PlanSpec sweep flags every
    // foldable-partitioned window and whitelists only the
    // `_pid`-ordered shape. `totals` entries ride the same tiny table
    // (grand total per weight), so callers that need n (ntile, keyset
    // steps, ECDF denominators) avoid a second scan of `df`.
    val woPid = Window.partitionBy(pmod(col("_pid"), lit(1))).orderBy("_pid")
    val aggs = idx.map(i => sum(s"_w$i").as(s"_n$i"))
    val perPart = ranged.groupBy("_pid").agg(aggs.head, aggs.tail: _*)
    val withOffsets = idx.foldLeft(perPart) { (d, i) =>
      d.withColumn(s"_off$i",
        coalesce(sum(s"_n$i").over(woPid
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    }
    val withTotals = totals.foldLeft(withOffsets) { case (d, (sumName, t)) =>
      val i = names.indexOf(sumName)
      d.withColumn(t, sum(s"_n$i").over(woPid.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    }
    val offsets = withTotals.select(
      (col("_pid") +: idx.map(i => col(s"_off$i"))) ++
        totals.values.toSeq.map(col): _*)
    val joined = local.join(broadcast(offsets), "_pid")
    val summed = idx.foldLeft(joined) { (d, i) =>
      d.withColumn(names(i), col(s"_off$i") + col(s"_local$i"))
    }
    summed.drop("_pid" +:
      idx.flatMap(i => Seq(s"_w$i", s"_local$i", s"_off$i")): _*)
  }

  /** Distributed running MIN of `value` in `orderBy` order — the same
    * scaffold as [[cumulativeSums]] with (min, +∞) replacing (sum, 0):
    * range-repartition, per-partition running min, per-partition
    * TOTAL mins (one row each — metadata) prefix-min'd on the
    * whitelisted constant-keyed window and broadcast back, final value
    * = least(local running min, prior partitions' min). The primitive
    * behind high-watermark/drawdown analytics and CUSUM changepoint
    * scores (S = P − runningMin(P)); a running MAX is
    * `-cumulativeMin(-x)`. NULL values are ignored (a row carries the
    * previous running min; a leading all-NULL prefix yields NULL). */
  def cumulativeMin(df: DataFrame, orderBy: Seq[Column], value: Column,
      minName: String = "cummin", numPartitions: Int = 0): DataFrame = {
    val np =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // same selective input-once materialization as cumulativeSums
    val ranged = inputOnce(df).repartitionByRange(np, orderBy: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_v", value.cast("long"))
    val wLocal = Window.partitionBy("_pid").orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("_localmin", min("_v").over(wLocal))
    // one row per shuffle partition — same whitelisted constant-keyed
    // window as cumulativeSums' offsets table (see that comment)
    val woPid = Window.partitionBy(pmod(col("_pid"), lit(1))).orderBy("_pid")
    val offsets = ranged.groupBy("_pid").agg(min("_v").as("_pmin"))
      .withColumn("_priormin",
        min("_pmin").over(woPid.rowsBetween(Window.unboundedPreceding, -1)))
      .select("_pid", "_priormin")
    local.join(broadcast(offsets), "_pid")
      .withColumn(minName, least(col("_localmin"), col("_priormin")))
      .drop("_pid", "_v", "_localmin", "_priormin")
  }

  /** Exact `NTILE(tiles)` in `orderBy` order, distributed: the tile of
    * each row is a closed-form function of its [[cumulativeSum]]
    * ordinal and the row total (SQL-standard sizing — the first
    * `n mod tiles` tiles get the extra row), so the result is
    * bit-identical to `ntile(t).over(Window.orderBy(...))` with no
    * single-task window and no second scan of `df` (the total rides
    * the metadata-sized offsets table). Output: input columns plus
    * `tileName` (1-based, LongType). `orderBy` must be a total order
    * for a deterministic assignment. */
  def ntileExact(df: DataFrame, orderBy: Seq[Column], tiles: Int,
      tileName: String = "tile"): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    cumulativeSum(df, orderBy, lit(1L), "__rn", totalName = Some("__n"))
      .withColumn(tileName, expr(
        s"""CASE WHEN __rn <= (__n % $tiles) * (__n div $tiles + 1)
           |     THEN (__rn - 1) div (__n div $tiles + 1) + 1
           |     ELSE (__n % $tiles)
           |          + (__rn - (__n % $tiles) * (__n div $tiles + 1) - 1)
           |            div greatest(__n div $tiles, 1) + 1 END""".stripMargin)
        .cast("long"))
      .drop("__rn", "__n")
  }
}
