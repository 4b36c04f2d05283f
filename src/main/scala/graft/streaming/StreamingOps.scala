package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface over the `events` stream shape
  * (event_id, ts nanos, user_id, event_type, value, props).
  *
  * The reference is strictly batch (SURVEY §2.9) — this module is the
  * north-star streaming extension: tumbling/sliding windows with
  * watermarks and custom sessionization state via
  * `flatMapGroupsWithState`. Every transform works identically on a
  * batch DataFrame (Spark runs stateful ops per-group in batch mode),
  * which is how StreamingSpec cross-checks results against the
  * SQL-oracled batch queries.
  *
  * Scale posture: watermark + windowed aggregation is incremental state
  * keyed by (window, event_type) — state size is bounded by watermark
  * horizon, not stream length; sessionization state is one small record
  * per active user.
  */
object StreamingOps {

  final case class Event(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(sessionId: Long, lastSec: Long,
      count: Long, startSec: Long)
  final case class Session(user_id: Long, session_id: Long,
      n_events: Long, start_sec: Long, end_sec: Long)

  val SessionGapSeconds = 1800L

  /** event-time column from `ts`, whatever its encoding: raw long
    * nanos (the [[graft.Tables]] post-normalize contract and the
    * MemoryStream test shape) → TimestampType at µs precision;
    * timestamp-typed `ts` (a direct `readStream.parquet` over a
    * timestamp[us] fixture that bypassed Tables) → used as-is. Same
    * load-boundary tolerance as `Tables.normalizeTs`, stream-safe
    * (narrow expression either way). */
  def withEventTime(events: DataFrame): DataFrame =
    events.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) |
           Some(org.apache.spark.sql.types.TimestampType) =>
        events.withColumn("event_time", expr("cast(ts as timestamp)"))
      case _ =>
        events.withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
    }

  /** Tumbling 5-minute window counts/sums with a 10-minute watermark —
    * streaming twin of the `ev_tumbling_window` batch query. */
  def tumblingCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-window heavy hitters: the Misra–Gries `TypedImperativeAggregate`
    * inside a watermarked tumbling window — O(k) aggregation state per
    * window key regardless of the stream's item cardinality, and the
    * sketch's merge makes it valid across micro-batches / shuffles.
    * Exact whenever a window holds ≤ k distinct items (the fixture
    * regime, proven against batch in StreamingSpec). */
  def windowedHeavyHitters(events: DataFrame, k: Int): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(graft.functions.MisraGries.heavy_hitters(col("event_type"), k)
        .as("top"))
      .select(col("window.start").as("win_start"), col("top"))

  /** Per-window deterministic content sample: the bottom-k (KMV)
    * sketch aggregate inside a watermarked tumbling window — the same
    * mergeability that makes it map-side-combinable in batch makes it
    * valid across micro-batches here, so each closed window carries a
    * uniform sample of its distinct items ("show me what this hour's
    * ingest looked like") with O(k) state per open window. Stream ≡
    * batch on the same code path (StreamingSpec). */
  def windowedSample(events: DataFrame, k: Int): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(graft.functions.BottomK.bottom_k(col("event_type"), k)
        .as("sample"))
      .select(col("window.start").as("win_start"), col("sample"))

  /** Sliding 10-minute window every 5 minutes (overlapping windows). */
  def slidingCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Per-window χ² drift of the event-type mix against a STATIC
    * baseline distribution — the streaming form of the
    * `stat_chi2_drift` batch query (there the reference mix is the
    * corpus's own global mix; here it is any precomputed
    * `(event_type, count)` baseline, e.g. last month's mix), emitting
    * one `(win_start, n_events, chi2_micro, n_novel)` row per closed
    * window: the live ingest-quality tripwire.
    *
    * Plan shape: TWO CHAINED STATEFUL AGGREGATIONS in append mode —
    * watermarked per-(window, type) counts, then a second windowed
    * aggregate over `window_time` folding the per-type counts into one
    * map per window (the Spark ≥3.5 multi-stateful-operator form; no
    * foreachBatch needed). The baseline rides as a LITERAL MAP (tiny,
    * driver-known — the broadcast-dim of streaming), and the χ² fold
    * iterates the BASELINE's key set so absent types still contribute
    * their expected-count term, exactly like the batch query's dense
    * grid. Per-term arithmetic is the same per-cell fixed-point micros
    * (floor of an identical IEEE expression, integer-summed →
    * order-free). Types observed but missing from the baseline have no
    * defined expected count (a zero denominator, the χ² breakdown
    * case); they are EXCLUDED from the statistic and surfaced in
    * `n_novel` — a nonzero value is itself the drift alarm.
    *
    * State: O(types) per open window for stage 1, one row per window
    * for stage 2 — both watermark-bounded. Works unchanged on a batch
    * DataFrame (window/window_time are batch-legal), which is what the
    * stream ≡ batch spec compares against. */
  def driftMonitor(events: DataFrame, baseline: Seq[(String, Long)],
      windowLen: String = "1 hour"): DataFrame = {
    require(baseline.nonEmpty && baseline.forall(_._2 > 0),
      "baseline must be non-empty with positive counts")
    require(baseline.map(_._1).distinct.size == baseline.size,
      "baseline has duplicate event types — merge their counts first " +
        "(a duplicated key would fail in the map literal far from here, " +
        "or silently skew tt under LAST_WIN dedup)")
    val tt = baseline.map(_._2).sum
    val bm = map(baseline.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("o"))
      .groupBy(window(window_time(col("window")), windowLen))
      .agg(
        map_from_entries(collect_list(struct(col("event_type"), col("o"))))
          .as("om"))
      .select(col("window.start").as("win_start"), col("om"),
        // n_events = rows in BASELINE types only (the χ² population);
        // novel types are counted separately, not silently mixed in
        aggregate(map_keys(bm), lit(0L), (acc, t) =>
          acc + coalesce(element_at(col("om"), t), lit(0L))).as("n_events"),
        size(array_except(map_keys(col("om")), map_keys(bm))).as("n_novel"))
      .where(col("n_events") > 0)
      .select(col("win_start"), col("n_events"),
        aggregate(map_keys(bm), lit(0L), (acc, t) => {
          val o = coalesce(element_at(col("om"), t), lit(0L))
          val gc = element_at(bm, t)
          val diff = (o * lit(tt) - col("n_events") * gc).cast("double")
          acc + floor(diff * diff
            / (col("n_events") * gc).cast("double") / lit(tt.toDouble)
            * lit(1e6) + lit(0.5d)).cast("long")
        }).as("chi2_micro"),
        col("n_novel"))
  }

  /** PSI monitor — the CONTINUOUS-feature twin of [[driftMonitor]]'s
    * categorical χ²: Population Stability Index of each closed window's
    * `value` distribution (fixed-width buckets) against a driver-known
    * baseline histogram, the pair a production feature-drift alarm
    * runs side by side (χ² for categoricals, PSI for numerics — the
    * batch forms are `stat_chi2_drift` / `stat_psi_drift`).
    *
    * Same two-chained-stateful-aggregation shape as [[driftMonitor]]:
    * per-(window, bucket) counts → one map row per window; the PSI fold
    * iterates the BASELINE's bucket grid with Laplace +1 smoothing
    * ((gc+1)/(na+B) vs (o+1)/(nw+B), B = grid size) so an empty current
    * bucket contributes its full divergence term instead of vanishing.
    * Buckets observed outside the baseline grid have no reference
    * probability; they are surfaced in `n_novel`, not mixed in. Each
    * term is floor-quantized to nano-units from an identical IEEE
    * expression before the integer fold — order-free, stream ≡ batch
    * bit-identical. State: O(grid) per open window. */
  def psiMonitor(events: DataFrame, baseline: Seq[(Long, Long)],
      bucketWidth: Double = 25.0, windowLen: String = "1 hour"): DataFrame = {
    require(baseline.nonEmpty && baseline.forall(_._2 > 0),
      "baseline must be non-empty with positive bucket counts")
    require(baseline.map(_._1).distinct.size == baseline.size,
      "baseline has duplicate buckets — merge their counts first")
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    val na = baseline.map(_._2).sum
    val nb = baseline.size
    val bm = map(baseline.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    withEventTime(events)
      .where(col("value").isNotNull)
      .withWatermark("event_time", "10 minutes")
      .withColumn("bucket",
        floor(col("value") / lit(bucketWidth)).cast("long"))
      .groupBy(window(col("event_time"), windowLen), col("bucket"))
      .agg(count(lit(1)).as("o"))
      .groupBy(window(window_time(col("window")), windowLen))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("o"))))
        .as("om"))
      .select(col("window.start").as("win_start"), col("om"),
        aggregate(map_keys(bm), lit(0L), (acc, b) =>
          acc + coalesce(element_at(col("om"), b), lit(0L))).as("n_events"),
        size(array_except(map_keys(col("om")), map_keys(bm))).as("n_novel"))
      .where(col("n_events") > 0)
      .select(col("win_start"), col("n_events"),
        aggregate(map_keys(bm), lit(0L), (acc, b) => {
          val o = coalesce(element_at(col("om"), b), lit(0L))
          val gc = element_at(bm, b)
          val pa = (gc + lit(1L)).cast("double") / lit((na + nb).toDouble)
          val pb = (o + lit(1L)).cast("double") /
            (col("n_events") + lit(nb.toLong)).cast("double")
          acc + floor((pa - pb) * log(pa / pb) * lit(1e9) + lit(0.5d))
            .cast("long")
        }).as("psi_nano"),
        col("n_novel"))
  }

  /** Streaming Count-Min sketch monitor (round 13) — the mergeable-CMS
    * twin of the batch `agg_countmin_topk` grid, proving the sketch's
    * mergeability where it matters: Spark's stateful aggregation merges
    * each micro-batch's partial cell counts into the running grid by
    * exactly the cell-wise SUM that makes CMS a sketch
    * ([[graft.operators.Stats.cmsMerge]]). State is the FIXED d×w cell
    * grid (≤ 4096 rows of one Long each) at ANY stream length — the
    * sketch IS the state bound: it replaces the per-key running counts
    * a heavy-hitter monitor would otherwise have to evict. Read the
    * running frequency estimate of key x as MIN over its d cells.
    * `StreamingSpec` proves N micro-batches' final sketch ≡ the batch
    * sketch over the union, and ≡ the cmsMerge of per-batch sketches. */
  def cmsMonitor(events: DataFrame, depth: Int = 4,
      width: Int = 1024): DataFrame =
    graft.operators.Stats.cmsSketch(events, col("user_id"), depth, width)

  /** Built-in session windows (30-minute gap) — one row per closed
    * session per user. */
  def sessionWindows(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "30 minutes")
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("n_events"))

  /** Streaming exact dedup — the streaming twin of the `dedup_exact`
    * batch operator: drop payload duplicates (same content hash) as they
    * arrive, keeping the first occurrence. `dropDuplicatesWithinWatermark`
    * bounds the dedup state by the watermark horizon instead of the
    * stream's full history, which is the only shape that survives an
    * unbounded 100 TB/day ingest: exact global dedup over all time is a
    * batch job (hash-groupBy); streaming dedup guarantees uniqueness
    * within the late-data window. */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join — purchase→click attribution: every
    * (purchase, click) pair by the same user where the click happened in
    * the 4 hours up to the purchase. Both sides carry watermarks, so the
    * join's click-side state is evicted as soon as a click is provably
    * unmatchable (click_time < watermark − 4 h) — bounded state on an
    * unbounded stream, the only stream-stream join shape that survives
    * at ingest scale. Works identically on a batch DataFrame (watermark
    * is a no-op there), which is how the batch oracle twin
    * `ev_click_attribution` cross-checks it. */
  def clickAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** Left-outer variant of [[clickAttribution]]: purchases with no
    * qualifying click in their 4 h lookback ALSO emit, once, with a
    * NULL click_id — but only after the click-side watermark proves no
    * matching click can still arrive (same bounded state). The
    * unmatched row is the "conversion without ad touch" record an
    * attribution pipeline needs, and the emission-on-watermark rule is
    * what makes it exactly-once on an unbounded stream. */
  def clickAttributionOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val e = withEventTime(events)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "1 hour")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 4 HOURS") &&
        col("click_time") <= col("purchase_time"), joinType)
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  final case class UserCum(user_id: Long, event_id: Long, cum_cents: Long)

  /** Spark-4 arbitrary-state API (`transformWithState`): a per-user
    * running total carried in a typed `ValueState` — the v2 state
    * surface (RocksDB-backed stores, typed state variables, TTL,
    * timers) that replaces `flatMapGroupsWithState` for new code.
    * Values accumulate as integer cents so the totals are order-exact;
    * within a micro-batch rows sort by (ts, event_id), and state
    * carries the prefix across batches — StreamingSpec proves
    * multi-batch streaming ≡ the windowed batch oracle. Requires the
    * RocksDB state-store provider when run as a stream. */
  class RunningTotalProcessor
      extends StatefulProcessor[Long, Event, UserCum] {
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserCum] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
        c += math.round(e.value * 100)
        UserCum(key, e.event_id, c)
      }
      cum.update(c)
      out.iterator
    }
  }

  /** running per-user totals via [[RunningTotalProcessor]] */
  def runningTotals(events: Dataset[Event]): Dataset[UserCum] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  final case class EventT(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, event_time: java.sql.Timestamp)
  final case class IdleUser(user_id: Long, last_seen_us: Long, n_events: Long)

  /** Event-time TIMERS on the v2 state API: each user's state keeps
    * their latest event time and (re)arms a timer `gapSeconds` past it;
    * when the WATERMARK passes an armed timer, [[IdleUserProcessor]]
    * emits one "user went idle" row from `handleExpiredTimer` — the
    * push-based inactivity signal that polling can't produce without
    * rescanning state. Timer count is one per active user (re-arming
    * deletes the stale timer), so state stays O(active users). */
  class IdleUserProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, EventT, IdleUser] {
    @transient private var last: ValueState[(Long, Long)] = _ // (maxUs, n)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long)]("last",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventT],
        timers: TimerValues): Iterator[IdleUser] = {
      val (prevUs, prevN) = if (last.exists()) last.get() else (Long.MinValue, 0L)
      var maxUs = prevUs; var n = prevN
      rows.foreach { e => maxUs = math.max(maxUs, e.ts / 1000); n += 1 }
      if (maxUs > prevUs) {
        if (prevUs != Long.MinValue)
          getHandle.deleteTimer(prevUs / 1000 + gapSeconds * 1000)
        getHandle.registerTimer(maxUs / 1000 + gapSeconds * 1000)
      }
      last.update((maxUs, n))
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[IdleUser] = {
      val (maxUs, n) = last.get()
      // clear on emit: state stays O(users active since their last idle
      // gap) — without this every user id ever seen is retained forever,
      // and a user who returns after an idle period would have the NEW
      // activity burst's count inflated by all pre-idle events
      last.clear()
      Iterator.single(IdleUser(key, maxUs, n))
    }
  }

  /** idle-user stream via [[IdleUserProcessor]] (event-time timers) */
  def idleUsers(events: Dataset[Event], gapSeconds: Long): Dataset[IdleUser] = {
    val s = events.sparkSession
    import s.implicits._
    withEventTime(events.toDF())
      .withWatermark("event_time", "10 minutes")
      .as[EventT]
      .groupByKey(_.user_id)
      .transformWithState(new IdleUserProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Custom sessionization state machine via flatMapGroupsWithState —
    * the "KeyValueGroupedDataset custom state" north-star surface.
    * Emits one Session row per event-batch per closed/updated session;
    * identical arithmetic to the `ev_sessionize` batch oracle (epoch
    * seconds, 30-min gap, per-user session counter).
    *
    * Streaming contract (deliberate bound): a session spanning several
    * micro-batches re-emits each batch with the same `session_id` and a
    * GROWING count — downstream consumers must keep the LAST row per
    * (user_id, session_id) (e.g. the `etl_merge_latest` compaction).
    * This trades the emit-once Append contract for an exact batch twin
    * (one batch = one flush ⇒ identical output to `ev_sessionize`); the
    * emit-once streaming form is `sessionWindows` (session_window
    * groupBy + watermark), which closes sessions only when the
    * watermark passes — use that when the sink cannot compact. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
          val out = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val sec = e.ts / 1000000000L
            if (st.sessionId == 0L || sec - st.lastSec > SessionGapSeconds) {
              if (st.sessionId != 0L)
                out += Session(userId, st.sessionId, st.count, st.startSec, st.lastSec)
              st = SessionState(st.sessionId + 1, sec, 1L, sec)
            } else {
              st = st.copy(lastSec = sec, count = st.count + 1)
            }
          }
          // flush the trailing open session (batch mode: end of input)
          if (st.sessionId != 0L)
            out += Session(userId, st.sessionId, st.count, st.startSec, st.lastSec)
          state.update(st)
          out.result().iterator
      }
  }
}
