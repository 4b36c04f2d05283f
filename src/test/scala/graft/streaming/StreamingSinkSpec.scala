package graft.streaming

import java.sql.DriverManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase

/** The idempotent foreachBatch JDBC sink against embedded Derby:
  * normal multi-batch flow, restart replay (same batchId twice), and
  * partial-write recovery (crashed attempt leaves rows, rewrite must not
  * duplicate). */
class StreamingSinkSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftStreamSink;create=true"
  private def conn() = DriverManager.getConnection(url)

  private def count(sql: String): Long = {
    val c = conn()
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("upsert sink: key-based MERGE — updates replace, inserts add, replay skips") {
    import spark.implicits._
    val c = conn()
    c.createStatement().executeUpdate(
      """CREATE TABLE up_t (
        | k BIGINT NOT NULL, val VARCHAR(32), batch_id BIGINT)""".stripMargin)
    c.close()
    StreamingJdbcSink.ensureLedger(url, "up_t")
    // batch 0: keys 1..5 inserted
    val b0 = Seq((1L, "a0"), (2L, "b0"), (3L, "c0"), (4L, "d0"), (5L, "e0"))
      .toDF("k", "val")
    assert(StreamingJdbcSink.upsertBatch(b0, 0L, url, "up_t", Seq("k")))
    // batch 1: keys 2,4 updated; key 6 inserted
    val b1 = Seq((2L, "b1"), (4L, "d1"), (6L, "f1")).toDF("k", "val")
    assert(StreamingJdbcSink.upsertBatch(b1, 1L, url, "up_t", Seq("k")))
    assert(count("SELECT COUNT(*) FROM up_t") == 6)
    val got = {
      val cc = conn()
      try {
        val rs = cc.createStatement()
          .executeQuery("SELECT k, val FROM up_t ORDER BY k")
        Iterator.continually(rs)
          .takeWhile(_.next()).map(r => r.getLong(1) -> r.getString(2)).toList
      } finally cc.close()
    }
    assert(got == List(1L -> "a0", 2L -> "b1", 3L -> "c0", 4L -> "d1",
      5L -> "e0", 6L -> "f1"))
    // replay of batch 1 (restart) must be a no-op skip
    assert(!StreamingJdbcSink.upsertBatch(b1, 1L, url, "up_t", Seq("k")))
    assert(count("SELECT COUNT(*) FROM up_t") == 6)
    assert(count("SELECT COUNT(*) FROM up_t_mutex") == 0)
  }

  test("upsertBatch: a failing keyed DELETE surfaces its own error, not " +
      "the connection close's") {
    import spark.implicits._
    val c = conn()
    c.createStatement().executeUpdate(
      """CREATE TABLE fk_parent (
        | k BIGINT NOT NULL PRIMARY KEY, val VARCHAR(32), batch_id BIGINT)""".stripMargin)
    c.createStatement().executeUpdate(
      "CREATE TABLE fk_child (id BIGINT NOT NULL, pk BIGINT REFERENCES fk_parent (k))")
    c.createStatement().executeUpdate("INSERT INTO fk_parent VALUES (1, 'a0', 0)")
    c.createStatement().executeUpdate("INSERT INTO fk_child VALUES (10, 1)")
    c.close()
    StreamingJdbcSink.ensureLedger(url, "fk_parent")
    // key 1 has a child row, so the keyed DELETE violates the foreign key
    val e = intercept[Exception] {
      StreamingJdbcSink.upsertBatch(Seq((1L, "a1")).toDF("k", "val"), 0L,
        url, "fk_parent", Seq("k"))
    }
    val states = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case q: java.sql.SQLException => q.getSQLState }.toList
    assert(states.contains("23503") && !states.contains("25001"),
      s"SQLStates in the cause chain: $states")
    assert(count("SELECT COUNT(*) FROM fk_parent WHERE val = 'a0'") == 1)
    assert(count("SELECT COUNT(*) FROM fk_parent_mutex") == 0)
  }

  test("foreachBatch sink: multi-batch write, replay skip, partial-write recovery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val c = conn()
    c.createStatement().executeUpdate(
      """CREATE TABLE sink_events (
        | event_id BIGINT NOT NULL, user_id BIGINT, batch_id BIGINT)""".stripMargin)
    c.close()

    val stream = MemoryStream[(Long, Long)]
    val q = stream.toDF().toDF("event_id", "user_id")
      .writeStream
      .foreachBatch(StreamingJdbcSink.sink(url, "sink_events"))
      .start()
    try {
      stream.addData((1L, 10L), (2L, 20L)); q.processAllAvailable()
      stream.addData((3L, 30L)); q.processAllAvailable()
    } finally q.stop()
    assert(count("SELECT COUNT(*) FROM sink_events") == 3)
    assert(count("SELECT COUNT(*) FROM sink_events_ledger") == 2)

    // restart replay: same batchId again → skipped, no duplicates
    val replay = Seq((1L, 10L), (2L, 20L)).toDF("event_id", "user_id")
    val wrote = StreamingJdbcSink.writeBatch(replay, 0L, url, "sink_events")
    assert(!wrote)
    assert(count("SELECT COUNT(*) FROM sink_events") == 3)

    // partial-write recovery: a crashed attempt of batch 7 left one row
    // but no ledger entry — the retry must clear it and land exactly once
    val c2 = conn()
    c2.createStatement().executeUpdate(
      "INSERT INTO sink_events VALUES (99, 99, 7)")
    c2.close()
    val batch7 = Seq((7L, 70L), (8L, 80L)).toDF("event_id", "user_id")
    assert(StreamingJdbcSink.writeBatch(batch7, 7L, url, "sink_events"))
    assert(count("SELECT COUNT(*) FROM sink_events WHERE batch_id = 7") == 2)
    assert(count("SELECT COUNT(*) FROM sink_events WHERE event_id = 99") == 0)
    assert(count("SELECT COUNT(*) FROM sink_events") == 5)

    // and a second retry of the now-committed batch is a no-op
    assert(!StreamingJdbcSink.writeBatch(batch7, 7L, url, "sink_events"))
    assert(count("SELECT COUNT(*) FROM sink_events") == 5)
  }

  test("ledger is scoped by sink_id: a new query lineage replaying " +
      "batch 0 against the same table still writes") {
    import spark.implicits._
    val c = conn()
    c.createStatement().executeUpdate(
      """CREATE TABLE scoped_t (
        | k BIGINT NOT NULL, batch_id BIGINT)""".stripMargin)
    c.close()
    StreamingJdbcSink.ensureLedger(url, "scoped_t")
    val b = Seq(Tuple1(1L), Tuple1(2L)).toDF("k")
    assert(StreamingJdbcSink.writeBatch(b, 0L, url, "scoped_t",
      sinkId = Some("queryA")))
    // same batchId 0 from a DIFFERENT lineage (fresh checkpoint / second
    // query): an unscoped ledger would silently drop this batch
    assert(StreamingJdbcSink.writeBatch(b, 0L, url, "scoped_t",
      sinkId = Some("queryB")))
    assert(count("SELECT COUNT(*) FROM scoped_t") == 4)
    // but the SAME lineage's replay is still a skip
    assert(!StreamingJdbcSink.writeBatch(b, 0L, url, "scoped_t",
      sinkId = Some("queryA")))
    assert(count("SELECT COUNT(*) FROM scoped_t") == 4)
  }

  test("upsertBatch rejects uncompacted changelogs and NULL keys before " +
      "touching the destination") {
    import spark.implicits._
    val c = conn()
    c.createStatement().executeUpdate(
      """CREATE TABLE guard_t (
        | k BIGINT, val VARCHAR(32), batch_id BIGINT)""".stripMargin)
    c.close()
    StreamingJdbcSink.ensureLedger(url, "guard_t")
    // two rows for key 1 — persisting both would corrupt the upsert table
    val dup = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "val")
    val e1 = intercept[IllegalArgumentException] {
      StreamingJdbcSink.upsertBatch(dup, 0L, url, "guard_t", Seq("k"))
    }
    assert(e1.getMessage.contains("distinct keys"))
    // NULL key can never be replaced by `k = ?`
    val withNull = Seq((Some(1L), "x"), (None, "y"))
      .toDF("k", "val")
    val e2 = intercept[IllegalArgumentException] {
      StreamingJdbcSink.upsertBatch(withNull, 0L, url, "guard_t", Seq("k"))
    }
    assert(e2.getMessage.contains("NULL key"))
    assert(count("SELECT COUNT(*) FROM guard_t") == 0)
  }
}
