package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.operators.EtlQueries
import graft.streaming.StreamingOps._

class StreamingSpec extends SparkTestBase {

  private def events = Tables(spark, sfDir, "events")

  test("batch sessionize (flatMapGroupsWithState) matches the SQL-oracled query") {
    import spark.implicits._
    val ds = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value").as[Event]
    val got = sessionize(ds)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val expect = EtlQueries.queries("ev_sessionize")(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("streaming sessionize over MemoryStream produces the same totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .collect().sortBy(_.ts)
    val stream = MemoryStream[Event]
    val q = sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two micro-batches to exercise state carry-over between batches
      val (first, second) = all.splitAt(all.length / 2)
      stream.addData(first.toSeq); q.processAllAvailable()
      stream.addData(second.toSeq); q.processAllAvailable()
      // Append emits a row per state flush; the final state of each
      // (user, session) is the row with the max n_events — aggregate to
      // per-user totals of the *last* emission per session.
      val rows = spark.table("sessions")
        .groupBy("user_id", "session_id").agg(max("n_events").as("n_events"))
      val got = rows.groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), sum("n_events").as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expect = EtlQueries.queries("ev_sessionize")(spark, sfDir)
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expect)
    } finally q.stop()
  }

  test("psiMonitor: numeric-feature drift, stream equals batch, novel " +
      "buckets surfaced not mixed into the statistic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sel = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
    // baseline = the corpus's own bucket histogram, minus the TOP bucket
    // so the novel-bucket path is exercised
    val hist = sel.where(col("value").isNotNull)
      .groupBy(floor(col("value") / 25.0d).cast("long").as("bucket"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val baseline = hist.init.toSeq
    val all = sel.as[Event].collect().sortBy(_.ts)
    val sentinel = Event(-1L, all.last.ts + 86400L * 1000000000L, 0L, "x", 0d)
    val stream = MemoryStream[Event]
    val q = psiMonitor(stream.toDF(), baseline)
      .writeStream.format("memory").queryName("psi")
      .outputMode("append").start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq :+ sentinel); q.processAllAvailable()
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getTimestamp(0) ->
          (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
      val got = toMap(spark.table("psi"))
      val expect = toMap(psiMonitor(sel, baseline))
      assert(got == expect, "stream != batch")
      assert(got.nonEmpty)
      // the dropped top bucket appears in some window → novel flagged
      assert(got.values.exists(_._3 > 0), "novel bucket never surfaced")
    } finally q.stop()
  }

  test("driftMonitor: two chained stateful aggregations, stream equals " +
      "batch, novel types surfaced not mixed into the statistic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sel = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
    // baseline = the corpus's own global mix, minus one type so the
    // novel-type path is exercised (that type's windows get n_novel=1)
    val mix = sel.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val dropped = mix.head._1
    val baseline = mix.tail.toSeq
    val all = sel.as[Event].collect().sortBy(_.ts)
    // sentinel far past the data: advances the watermark so every real
    // window closes and APPEND mode emits it (its own window stays open)
    val sentinel = Event(-1L, all.last.ts + 86400L * 1000000000L, 0L, dropped, 0d)
    val stream = MemoryStream[Event]
    val q = driftMonitor(stream.toDF(), baseline)
      .writeStream.format("memory").queryName("drift")
      .outputMode("append").start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq :+ sentinel); q.processAllAvailable()
      val got = spark.table("drift")
        .collect().map(r => r.getTimestamp(0) ->
          (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
      // batch twin: the same code path over the batch frame (window /
      // window_time are batch-legal); sentinel window excluded
      val expect = driftMonitor(sel, baseline)
        .collect().map(r => r.getTimestamp(0) ->
          (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
      assert(got == expect, "stream != batch")
      assert(got.nonEmpty)
      // the dropped type appears somewhere → at least one window flags it
      assert(got.values.exists(_._3 > 0), "novel type never surfaced")
      // chi2 over the baseline's own mix should be finite and nonneg
      assert(got.values.forall(_._2 >= 0))
    } finally q.stop()
  }

  test("windowed bottom-k sample: merged sketch state across micro-batches " +
      "equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts)
    val (b1, b2) = all.splitAt(all.length / 2)
    val stream = MemoryStream[Event]
    val q = windowedSample(stream.toDF(), k = 3)
      .writeStream.format("memory").queryName("wsample")
      .outputMode("complete").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("win_start"), expr(
          "to_json(transform(sample, x -> struct(x.item, x.key)))").as("s"))
        .collect().map(r => r.getTimestamp(0) -> r.getString(1)).toMap
      val got = canon(spark.table("wsample"))
      val expect = canon(windowedSample(events.selectExpr(
        "event_id", "ts", "user_id", "event_type", "value"), k = 3))
      assert(got == expect)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("cmsMonitor: the mergeable Count-Min grid across micro-batches — " +
      "final streaming sketch equals the batch sketch over the union, " +
      "and equals cmsMerge of per-batch sketches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts)
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[Event]
    val q = cmsMonitor(stream.toDF())
      .writeStream.format("memory").queryName("cms")
      .outputMode("complete").start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      stream.addData(b3.toSeq); q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = canon(spark.table("cms"))
      // ≡ the one-shot batch sketch over the union of the batches
      val batch = canon(graft.operators.Stats.cmsSketch(
        events.selectExpr("user_id"), col("user_id")))
      assert(got == batch, "streaming running sketch != batch sketch")
      assert(got.nonEmpty && got.values.sum == all.length.toLong * 4)
      // ≡ cell-wise SUM of independent per-batch sketches (the shard-
      // merge property the streaming state update relies on)
      def shard(b: Array[Event]) = graft.operators.Stats.cmsSketch(
        b.toSeq.toDF().selectExpr("user_id"), col("user_id"))
      val merged = canon(graft.operators.Stats.cmsMerge(
        shard(b1), shard(b2), shard(b3)))
      assert(merged == batch, "cmsMerge of shards != whole-corpus sketch")
    } finally q.stop()
  }

  test("tumbling window streaming counts match the batch oracle query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts)
    val stream = MemoryStream[Event]
    val q = tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      stream.addData(all.toSeq); q.processAllAvailable()
      val got = spark.table("tumbling")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(got == events.count())
      // per-window counts equal the batch query's
      val gotWindows = spark.table("tumbling")
        .select((unix_timestamp(col("win_start")) / 300).cast("long").as("win5m"),
          col("event_type"), col("n"))
        .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
      val expect = EtlQueries.queries("ev_tumbling_window")(spark, sfDir)
        .select("win5m", "event_type", "n")
        .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
      assert(gotWindows == expect)
    } finally q.stop()
  }

  test("streaming windowed heavy hitters (Misra-Gries state) match batch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts)
    val (b1, b2) = all.splitAt(all.length / 2)
    val stream = MemoryStream[Event]
    val q = windowedHeavyHitters(stream.toDF(), k = 10)
      .writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    try {
      // two micro-batches so sketch state is merged across batches
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("win_start"), expr(
          "to_json(transform(top, x -> struct(x.item, x.cnt)))").as("top"))
        .collect().map(r => r.getTimestamp(0) -> r.getString(1)).toMap
      val got = canon(spark.table("hh"))
      val expect = canon(windowedHeavyHitters(events.selectExpr(
        "event_id", "ts", "user_id", "event_type", "value"), k = 10))
      // fixture has ≤ 6 distinct event types per window → MG is exact,
      // so streaming (multi-batch, merged state) must equal batch
      assert(got == expect)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    def ev(id: Long, tNs: Long) = Event(id, tNs, user_id = 1L,
      event_type = "purchase", value = 1.0)
    val stream = MemoryStream[Event]
    val q = tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      // batch 1: events at t=0h and t=2h → watermark advances to 2h-10min
      stream.addData(ev(1, 0L), ev(2, 2 * hourNs))
      q.processAllAvailable()
      // batch 2: a late event at t=0h (far behind the watermark) plus a
      // fresh one at t=3h that finalizes earlier windows
      stream.addData(ev(3, 0L), ev(4, 3 * hourNs))
      q.processAllAvailable()
      stream.addData(ev(5, 5 * hourNs)) // push watermark so 2h/3h windows close
      q.processAllAvailable()
      val counts = spark.table("late_test")
        .select(unix_timestamp(col("win_start")).as("w"), col("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the t=0 window closed with ONLY the on-time event — the late
      // arrival in batch 2 was dropped, not double-counted
      assert(counts.get(0L).contains(1L), s"late event not dropped: $counts")
    } finally q.stop()
  }

  test("streaming dedup keeps one row per content hash across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(id: Long, text: String, sec: Long) =
      (id, text, new java.sql.Timestamp(sec * 1000L))
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = dedupStream(stream.toDF()
        .toDF("doc_id", "text", "event_time"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: two distinct texts + an in-batch duplicate
      stream.addData(doc(1, "alpha body", 100), doc(2, "beta body", 101),
        doc(3, "alpha body", 102))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (within the watermark) + new text
      stream.addData(doc(4, "beta body", 103), doc(5, "gamma body", 104))
      q.processAllAvailable()
      val out = spark.table("dedup_stream")
        .select("doc_id", "content_hash").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      // exactly one survivor per distinct text, and it is the first seen
      assert(out.map(_._2).distinct.length == out.length)
      assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 5L),
        s"wrong survivors: ${out.toSeq}")
      // matches the batch dedup_exact contract: one keeper per hash
      val batchKeepers = spark.createDataset(Seq(
          doc(1, "alpha body", 100), doc(2, "beta body", 101),
          doc(3, "alpha body", 102), doc(4, "beta body", 103),
          doc(5, "gamma body", 104)))
        .toDF("doc_id", "text", "event_time")
        .groupBy(md5(col("text"))).agg(min("doc_id").as("keep_id"))
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(out.map(_._1).sorted.toSeq == batchKeepers)
    } finally q.stop()
  }

  test("stream-static ANN assignment: arriving vectors get exactly the " +
      "batch assign's buckets (narrow plan, append mode, no state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cent = graft.operators.SimilarityQueries.sharedStages(spark, sfDir)._1
    val vdf = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .limit(20)
    val rows = vdf.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = graft.operators.Similarity
      .ivfAssign(stream.toDF().toDF("vec_id", "v"), cent)
      .writeStream.format("memory").queryName("assign_stream")
      .outputMode("append").start()
    try {
      stream.addData(rows.take(10).toSeq: _*)
      q.processAllAvailable()
      stream.addData(rows.drop(10).toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("assign_stream").collect()
        .map(r => r.getLong(0) -> r.get(1).asInstanceOf[Number].longValue()).toMap
      val batch = graft.operators.Similarity.ivfAssign(vdf, cent).collect()
        .map(r => r.getLong(0) ->
          r.get(1).asInstanceOf[Number].longValue()).toMap
      assert(got.size == 20 && got == batch,
        s"stream assign diverged from batch: $got vs $batch")
    } finally q.stop()
  }

  test("file-source streaming: readStream.parquet over the raw fixture " +
      "(timestamp-typed ts, no Tables normalization) matches the batch " +
      "tumbling counts — the real ingest path end to end") {
    // every other streaming test feeds MemoryStream with long-nanos ts;
    // this one drives Spark's actual FileStreamSource, whose ts arrives
    // as the parquet file's own timestamp type and takes withEventTime's
    // timestamp branch — proving the two ts encodings produce identical
    // windows (the round-6 breakage class, covered as a stream)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-filesrc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val raw = spark.read.parquet(srcDir.toString)
    assert(raw.schema("ts").dataType !=
      org.apache.spark.sql.types.LongType,
      "precondition: the raw fixture must carry a timestamp-typed ts " +
        "(re-point this test if the driver regenerates ns-encoded fixtures)")
    val stream = spark.readStream.schema(raw.schema).parquet(srcDir.toString)
    // complete mode: emit every window even though the single static
    // file never advances the watermark past the last events
    val q = tumblingCounts(stream)
      .writeStream.format("memory").queryName("file_tumbling")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val got = keyed(spark.table("file_tumbling"))
      // batch twin over the Tables-normalized (long nanos) encoding
      val want = keyed(tumblingCounts(events))
      assert(got.nonEmpty && got.keySet == want.keySet,
        s"file-source windows diverged: ${got.size} vs ${want.size}")
      got.foreach { case (k, (n, total)) =>
        val (wn, wTotal) = want(k)
        assert(n == wn, s"$k: count $n vs $wn")
        // double sums may differ in the last ulps between the two
        // encodings' partition orders — tolerance, not equality
        assert(math.abs(total - wTotal) < 1e-6, s"$k: $total vs $wTotal")
      }
    } finally q.stop()
  }

  test("streaming ANN serve: searchIndexStream answers each micro-batch " +
      "bit-identically to the batch serve path, with oracle-checked top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    val vecs = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
    val (cent, assign) = graft.operators.SimilarityQueries.sharedStages(spark, sfDir)
    graft.operators.Similarity.saveIndex(dir, cent, assign)
    val qrows = vecs.filter(col("vec_id") < 12).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long,
      Array[(Long, Long, Long)]]()
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = graft.operators.Similarity.searchIndexStream(
      stream.toDF().toDF("query_id", "va"), vecs, dir, k = 3) {
      (res, id) => perBatch.put(id,
        res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    }.start()
    try {
      stream.addData(qrows.take(6).toSeq: _*); q.processAllAvailable()
      stream.addData(qrows.drop(6).toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size == 2, s"expected 2 served batches, got ${perBatch.size}")
    // per-batch: bit-identical to the batch serve path on the same rows
    Seq(qrows.take(6), qrows.drop(6)).zipWithIndex.foreach { case (rows, i) =>
      val batchDf = rows.toSeq.toDF("query_id", "va")
      val want = graft.operators.Similarity.searchIndex(batchDf, vecs, dir, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(perBatch.get(i.toLong).toSet == want,
        s"batch $i diverged from the batch serve path")
    }
    // oracle check: queries are corpus members, so each query's rank-1
    // neighbor in its own probed bucket is itself (cos=1 with itself,
    // ties broken by neighbor_id can't beat an exact self-match... they
    // can tie only on an identical vector; fixture embeddings are
    // distinct), and every query got exactly k results
    val all = perBatch.values().toArray.flatMap(
      _.asInstanceOf[Array[(Long, Long, Long)]])
    assert(all.length == 12 * 3, s"expected 36 rows, got ${all.length}")
    all.filter(_._3 == 1L).foreach { case (qid, nid, _) =>
      assert(qid == nid, s"query $qid rank-1 neighbor was $nid, not itself")
    }
  }

  test("stream-stream interval join (click attribution) matches the batch oracle query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch form of the same function ≡ the oracled batch query
    val batchGot = clickAttribution(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = EtlQueries.queries("ev_click_attribution")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchGot == expect)
    assert(expect.nonEmpty)
    // streaming over two chronological micro-batches: cross-batch pairs
    // (purchase in batch 2, click in batch 1) must come from join state
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
    val stream = MemoryStream[Event]
    val q = clickAttribution(stream.toDF())
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      val (first, second) = all.splitAt(all.length / 2)
      stream.addData(first.toSeq); q.processAllAvailable()
      stream.addData(second.toSeq); q.processAllAvailable()
      val streamGot = spark.table("attribution")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamGot == expect)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched purchases after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rowSet(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }.toSet
    // batch twin: outer join runs as a plain left join
    val expect = rowSet(clickAttributionOuter(events).collect())
    val matched = rowSet(clickAttribution(events).collect())
    assert(expect.exists(_._3.isEmpty), "fixture has no unmatched purchase")
    assert(expect.filter(_._3.nonEmpty) == matched)
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
    val stream = MemoryStream[Event]
    val q = clickAttributionOuter(stream.toDF())
      .writeStream.format("memory").queryName("attribution_outer")
      .outputMode("append").start()
    try {
      val (first, second) = all.splitAt(all.length / 2)
      stream.addData(first.toSeq); q.processAllAvailable()
      stream.addData(second.toSeq); q.processAllAvailable()
      // sentinel far past the horizon: advances the watermark so every
      // still-held unmatched purchase is provably unmatchable and emits
      // Watermarks are tracked AFTER the per-side filters, so sentinels
      // must be typed purchase/click to advance them; and a watermark
      // computed at the end of one batch is only APPLIED in the next —
      // two sentinel batches: the first advances both side watermarks,
      // the second runs with them and releases the held unmatched
      // purchases. The sentinels themselves never satisfy the join
      // condition (click strictly after its purchase) and the sentinel
      // purchases stay above the final watermark, so none are emitted.
      val far = all.last.ts + 30L * 86400L * 1000000000L
      val hourNs = 3600L * 1000000000L
      stream.addData(Event(999996L, far, 0L, "purchase", 0.0),
        Event(999997L, far + 1L, 0L, "click", 0.0))
      q.processAllAvailable()
      stream.addData(Event(999998L, far + hourNs, 0L, "purchase", 0.0),
        Event(999999L, far + hourNs + 1L, 0L, "click", 0.0))
      q.processAllAvailable()
      // drop sentinel purchases (the first one falls below the final
      // watermark and legitimately emits as unmatched)
      val got = rowSet(spark.table("attribution_outer").collect())
        .filter(_._2 < 999000L)
      assert(got == expect)
    } finally q.stop()
  }

  test("transformWithState (v2 state API): RocksDB ValueState carries totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch oracle: per-user running total in integer cents
    val expect = events
      .select(col("user_id"), col("event_id"),
        expr("""sum(cast(round(value * 100, 0) as bigint)) over (
               | partition by user_id order by ts, event_id
               | rows between unbounded preceding and current row)""".stripMargin)
          .as("cum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
    val stream = MemoryStream[Event]
    val ckpt = java.nio.file.Files.createTempDirectory("tws").toString
    // transformWithState requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = runningTotals(stream.toDS())
      .writeStream.format("memory").queryName("tws_totals")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // three chronological micro-batches: totals for later batches must
      // come from ValueState, not from re-seeing earlier rows
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      }
      val got = spark.table("tws_totals")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expect)
      assert(got.nonEmpty)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("event-time timers: idle users emit once the watermark passes their gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 1800L
    // expectation: every real user goes idle once the watermark jumps a
    // month ahead — one row each with their true last-seen µs and count
    val expect = events.groupBy("user_id")
      .agg(expr("max(ts div 1000)").as("last_seen_us"),
        count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
    val stream = MemoryStream[Event]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = idleUsers(stream.toDS(), gap)
      .writeStream.format("memory").queryName("idle_users")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("timers").toString)
      .outputMode("append").start()
    try {
      val (first, second) = all.splitAt(all.length / 2)
      stream.addData(first.toSeq); q.processAllAvailable()
      // no user can be idle yet: watermark trails the stream by 10 min
      // and every user keeps eventing through the fixture window
      stream.addData(second.toSeq); q.processAllAvailable()
      // sentinel user (9999) a month ahead: advances the watermark past
      // everyone's last_ts + gap; two batches (computed → applied)
      val far = all.last.ts + 30L * 86400L * 1000000000L
      stream.addData(Event(999998L, far, 9999L, "noop", 0.0))
      q.processAllAvailable()
      stream.addData(Event(999999L, far + 1L, 9999L, "noop", 0.0))
      q.processAllAvailable()
      // state clears on each idle emission, so a user idle more than once
      // emits one row per activity period: periods PARTITION the user's
      // events (each counted exactly once), and the final row carries the
      // true last-seen time
      val rows = spark.table("idle_users").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val got = rows.groupBy(_._1).view.mapValues(g =>
        (g.map(_._2).max, g.map(_._3).sum)).toMap
      assert(got.keySet == expect.keySet, // sentinel user still active → absent
        s"idle set mismatch: got ${got.keySet}, want ${expect.keySet}")
      assert(got == expect,
        s"per-user (last_seen, summed n_events) mismatch")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("Trigger.AvailableNow drains the backlog and self-terminates") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val all = events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts)
    val stream = MemoryStream[Event]
    stream.addData(all.toSeq) // backlog exists BEFORE the query starts
    val q = tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("availablenow")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      // the batch-catchup contract: process everything available, stop
      assert(q.awaitTermination(120000), "query did not self-terminate")
      assert(!q.isActive)
      val got = spark.table("availablenow")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(got == all.length)
    } finally q.stop()
  }

  test("session_window groupBy agrees with custom sessionization on counts") {
    val sw = sessionWindows(events)
    assert(sw.agg(sum("n_events")).collect()(0).getLong(0) == events.count())
    val nSessions = sw.count()
    val expect = EtlQueries.queries("ev_sessionize")(spark, sfDir).count()
    assert(nSessions == expect)
  }

  test("exact decontamination runs as a stream-static join: contaminated " +
      "docs flagged as they arrive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static benchmark side (broadcast, as in batch)
    val bench = Seq((1L, "the quick brown fox"), (2L, "hello world"))
      .toDF("id", "body")
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.Curation.decontaminateExact(
        stream.toDF().toDF("id", "body"), bench, "id", "body")
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      stream.addData((10L, "THE  quick   Brown fox "), (11L, "novel text"))
      q.processAllAvailable()
      stream.addData((12L, "hello world"), (13L, "more novel text"))
      q.processAllAvailable()
      val hits = spark.table("decon_stream")
        .select("id").as[Long].collect().toSet
      // same verdicts the batch form gives, incrementally per micro-batch
      assert(hits == Set(10L, 12L), s"wrong contamination set: $hits")
    } finally q.stop()
  }

  test("streaming curation pipeline (foreachBatch + carried state) is " +
      "bit-identical to the batch pipeline over the union of the batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") < 50)
    val base = docs.filter(col("doc_id") >= 50)
      .select("doc_id", "text", "source")
    // seed a cross-batch exact duplicate: 90001 repeats doc 60's text but
    // arrives two batches later — only the hash state can catch it
    val dupOf = base.filter(col("doc_id") === 60)
      .select(lit(90001L).as("doc_id"), col("text"), col("source"))
    val all = base.unionAll(dupOf)
    val rows = all.orderBy("doc_id").as[(Long, String, String)].collect()
    val feed = rows.grouped((rows.length + 2) / 3).toSeq
    assert(feed.length == 3)
    val tmp = java.nio.file.Files.createTempDirectory("cur_stream").toString
    val curator = new graft.streaming.StreamingCuration(
      bench, s"$tmp/out", s"$tmp/state", "doc_id", "text", "source",
      minChars = 50, minTokens = 5, quotaPerSource = Some(15))
    val stream = MemoryStream[(Long, String, String)]
    val q = stream.toDF().toDF("doc_id", "text", "source")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        curator.processBatch(b, id))
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try {
      feed.foreach { b => stream.addData(b.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    val cols = Seq("source", "doc_id", "seq_id", "tok_from", "tok_to")
    val got = curator.packedSoFar(spark)
      .select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    val (expected, report) = graft.operators.CurationPipeline.curate(
      all, bench, "doc_id", "text", "source",
      minChars = 50, minTokens = 5, quotaPerSource = Some(15))
    val want = expected
      .select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"stream/batch divergence: ${got.length} vs ${want.length} spans")
    // the quota stage actually bit (otherwise the test proves less than
    // it claims) and the seeded duplicate never surfaced
    val byStage = report.map(r => r.stage -> r.rows).toMap
    assert(byStage("quota") < byStage("decontaminated"))
    assert(!got.exists(_(1) == 90001L))
  }

  test("streaming curation survives a restart: a NEW curator instance on " +
      "the same state dirs continues bit-identically (state is durable, " +
      "not in-process)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") < 50)
    val all = docs.filter(col("doc_id") >= 50)
      .select("doc_id", "text", "source")
    val rows = all.orderBy("doc_id").as[(Long, String, String)].collect()
    val (firstHalf, secondHalf) = rows.splitAt(rows.length / 2)
    val tmp = java.nio.file.Files.createTempDirectory("cur_restart").toString
    def mkCurator() = new graft.streaming.StreamingCuration(
      bench, s"$tmp/out", s"$tmp/state", "doc_id", "text", "source",
      minChars = 50, minTokens = 5, quotaPerSource = Some(15))
    def drive(curator: graft.streaming.StreamingCuration,
        batch: Array[(Long, String, String)], ckpt: String): Unit = {
      val stream = MemoryStream[(Long, String, String)]
      val q = stream.toDF().toDF("doc_id", "text", "source")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          curator.processBatch(b, id))
        .option("checkpointLocation", s"$tmp/$ckpt")
        .start()
      try { stream.addData(batch.toIndexedSeq); q.processAllAvailable() }
      finally q.stop()
    }
    // first "process": one batch, then the curator object is discarded
    drive(mkCurator(), firstHalf, "ckpt1")
    // state maintenance between processes: folding the per-batch state
    // appends to one file set per dir must be semantics-free
    mkCurator().compactState(spark)
    // simulated restart: a fresh instance must pick up hash/quota/offset
    // state from disk alone
    drive(mkCurator(), secondHalf, "ckpt2")
    val cols = Seq("source", "doc_id", "seq_id", "tok_from", "tok_to")
    val got = spark.read.parquet(s"$tmp/out")
      .select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.CurationPipeline.curatePacked(
        all, bench, "doc_id", "text", "source",
        minChars = 50, minTokens = 5, quotaPerSource = Some(15))
      .select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"restart divergence: ${got.length} vs ${want.length} spans")
  }
}
