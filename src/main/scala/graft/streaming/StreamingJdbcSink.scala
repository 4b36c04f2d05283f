package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.ConverterConfig
import graft.copy.DataCopier
import graft.sources.JdbcHooks

/** Streaming half of the JDBC sink: `writeStream.foreachBatch` over the
  * same commit-aware batched INSERT path the batch copier uses
  * (`DataCopier.writeJdbc`), made idempotent per micro-batch so a
  * restarted query that replays a batch cannot duplicate rows.
  *
  * Protocol per micro-batch (the standard exactly-once-effective JDBC
  * pattern — Structured Streaming replays a failed batch with the same
  * `batchId` and deterministic contents):
  *
  *  1. acquire the batch mutex: an UNCOMMITTED `INSERT` into
  *     `<table>_mutex ((sink_id, batch_id) PK)` on a dedicated
  *     connection — the row lock serializes concurrent attempts of the
  *     same batch (a second attempt blocks here until the first commits
  *     or dies, so its DELETE can never interleave with the first
  *     attempt's writes);
  *  2. if `(sinkId, batchId)` is in `<table>_ledger` the batch already
  *     committed fully — release the mutex and skip (restart replay);
  *  3. `DELETE FROM table WHERE batch_id = ?` (own connection,
  *     committed) — clears any partial write from a crashed attempt;
  *  4. distributed write via `DataCopier.writeJdbc` with a `batch_id`
  *     column stamped on every row (the destination table carries it);
  *  5. in the mutex transaction: delete the mutex row, insert the
  *     ledger row, COMMIT — the atomic commit point; rollback on any
  *     failure leaves neither row (the mutex table is empty at rest).
  *
  * The ledger is keyed by `(sink_id, batch_id)`, NOT batch_id alone:
  * Structured Streaming batch ids restart at 0 with a fresh checkpoint
  * directory, and two different queries can share a destination table —
  * an unscoped ledger would silently treat their batches as "already
  * committed" and drop data. Pass a `sinkId` unique to the query
  * LINEAGE (default: the table name — correct for one query per table;
  * a restart that keeps the checkpoint keeps the lineage). After
  * intentionally resetting a checkpoint, pass a NEW sinkId (or clear
  * the ledger) so replayed ids re-write.
  *
  * `rowsPerCommit` defaults to one transaction per task (Long.MaxValue):
  * a retried executor task's failed attempt then rolled back cleanly,
  * so the retry cannot duplicate rows. A finite commit cadence (the
  * migration sink's Spanner-budget behavior) is only safe here when
  * task retries are off (`spark.task.maxFailures=1`) — a task that dies
  * AFTER a partial commit and retries would re-insert committed rows
  * inside a batch the ledger then marks done.
  *
  * Scale posture: steps 1–3/5 are driver-side; step 4 is the
  * partitioned executor write (per-task connections). State is the
  * ledger table — one row per processed batch, nothing driver-resident.
  *
  * Residual assumption: executor tasks of a DEAD driver must be fenced
  * by the cluster manager (standard Spark semantics) — a still-running
  * zombie task writes outside the mutex and plain JDBC INSERT cannot
  * fence it. Driver-level races (the realistic restart/failover case)
  * are fully serialized by the mutex. */
object StreamingJdbcSink {

  def ledgerTable(table: String): String = s"${table}_ledger"
  def mutexTable(table: String): String = s"${table}_mutex"

  /** The value stamped into the destination's `batch_id` column and used
    * by the partial-write cleanup DELETE. For the default lineage
    * (sinkId == table — the one-query-per-table case) it is the raw
    * batchId; for a custom sinkId it is offset by a 64-bit hash of the
    * sinkId so different lineages writing the SAME table get disjoint
    * cleanup scopes — lineage B replay-cleaning ITS batch 0 must not
    * delete lineage A's batch-0 rows. */
  def batchTag(sid: String, table: String, batchId: Long): Long =
    if (sid == table) batchId
    else {
      var h = graft.functions.RollingHash.hash(sid) + 0x9E3779B97F4A7C15L
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      batchId + (h ^ (h >>> 31))
    }

  /** Create the ledger + mutex tables if missing (dialect-portable:
    * try + tolerate "already exists"). */
  def ensureLedger(url: String, table: String,
      connProps: Map[String, String] = Map.empty): Unit = {
    val conn = JdbcHooks.connect(url, connProps)
    try {
      Seq(ledgerTable(table), mutexTable(table)).foreach { t =>
        val st = conn.createStatement()
        try st.executeUpdate(
          s"""CREATE TABLE $t (sink_id VARCHAR(128) NOT NULL,
             | batch_id BIGINT NOT NULL,
             | PRIMARY KEY (sink_id, batch_id))""".stripMargin)
        catch { case e: java.sql.SQLException if isAlreadyExists(e) => () }
        finally st.close()
      }
    } finally conn.close()
  }

  /** Write one micro-batch idempotently (see the protocol above).
    * Returns false when the batch was already committed (replay skip),
    * true when it wrote. */
  def writeBatch(df: DataFrame, batchId: Long, url: String, table: String,
      cfg: ConverterConfig = ConverterConfig(),
      rowsPerCommit: Long = Long.MaxValue,
      connProps: Map[String, String] = Map.empty,
      sinkId: Option[String] = None): Boolean = {
    val sid = sinkId.getOrElse(table)
    val mconn = JdbcHooks.connect(url, connProps)
    try {
      mconn.setAutoCommit(false)
      // 1. mutex: uncommitted PK insert = exclusive per-batch lock; a
      // concurrent attempt of the same (sink, batch) blocks on this row
      // until we commit (then finds the ledger entry) or die.
      lockMutex(mconn, table, sid, batchId)
      // 2. replay check, under the lock
      if (inLedger(mconn, table, sid, batchId)) { mconn.rollback(); return false }
      // 3. clear any partial write from a crashed attempt — separate
      // committed connection (the executors' inserts in step 4 must see
      // a clean table); safe because the mutex serializes attempts.
      val tag = batchTag(sid, table, batchId)
      val dconn = JdbcHooks.connect(url, connProps)
      try {
        val del = dconn.prepareStatement(s"DELETE FROM $table WHERE batch_id = ?")
        del.setLong(1, tag)
        del.executeUpdate(); del.close()
        if (!dconn.getAutoCommit) dconn.commit()
      } finally dconn.close()
      // 4. distributed executor write
      DataCopier.writeJdbc(df.withColumn("batch_id", lit(tag)),
        url, table, cfg, rowsPerCommit, connProps)
      // 5. atomic commit point: mutex row out, ledger row in, one COMMIT
      commitLedger(mconn, table, sid, batchId)
      true
    } catch {
      case t: Throwable =>
        try mconn.rollback() catch { case _: Throwable => () }
        throw t
    } finally mconn.close()
  }

  /** CDC upsert micro-batch: key-based MERGE as distributed keyed
    * DELETE + batched INSERT, under the same mutex/ledger protocol as
    * [[writeBatch]]. The batch must hold ONE row per key with no NULL
    * key values — both are VERIFIED (one aggregate over the persisted
    * batch) and violations fail the batch before any destination write:
    * duplicate keys would persist duplicate rows, and a NULL key can
    * never be matched by the keyed DELETE (`k = ?` is UNKNOWN for NULL),
    * so it would append forever instead of replacing. Compact a
    * changelog first (e.g. the `etl_merge_latest` struct-max shape).
    * Rows replace the destination rows with matching keys, other rows
    * are untouched. Idempotent per key even mid-crash: a replayed batch
    * re-deletes and re-inserts the same deterministic rows. The DELETE
    * runs distributed — each partition of the batch's key set batches
    * `DELETE ... WHERE k1=? AND ...` on its own connection — so neither
    * keys nor rows ever collect to the driver. */
  def upsertBatch(df: DataFrame, batchId: Long, url: String, table: String,
      keyCols: Seq[String], cfg: ConverterConfig = ConverterConfig(),
      rowsPerCommit: Long = Long.MaxValue,
      connProps: Map[String, String] = Map.empty,
      sinkId: Option[String] = None): Boolean = {
    require(keyCols.nonEmpty, "upsertBatch needs at least one key column")
    val sid = sinkId.getOrElse(table)
    val mconn = JdbcHooks.connect(url, connProps)
    // persisted: the batch is scanned three times (contract check, keyed
    // delete, insert) — without this the upstream lineage would recompute
    // each time
    val batch = df.persist()
    try {
      val stats = batch.agg(
        count(lit(1)).as("n"),
        countDistinct(struct(keyCols.map(col): _*)).as("nk"),
        sum(when(keyCols.map(col(_).isNull).reduce(_ || _), 1L)
          .otherwise(0L)).as("nulls")).head()
      require(stats.getLong(2) == 0L,
        s"upsertBatch: ${stats.getLong(2)} row(s) with NULL key values — " +
          "a NULL key can never be replaced by the keyed DELETE")
      require(stats.getLong(0) == stats.getLong(1),
        s"upsertBatch: batch holds ${stats.getLong(0)} rows over " +
          s"${stats.getLong(1)} distinct keys — compact the changelog to " +
          "one row per key first (e.g. the etl_merge_latest shape)")
      mconn.setAutoCommit(false)
      lockMutex(mconn, table, sid, batchId)
      if (inLedger(mconn, table, sid, batchId)) { mconn.rollback(); return false }
      // distributed keyed delete (replaces writeBatch's batch_id delete)
      val deleteSql = s"DELETE FROM $table WHERE " +
        keyCols.map(k => s"$k = ?").mkString(" AND ")
      val maxBatch = cfg.maxStatementsInOneJdbcBatch
      batch.select(keyCols.map(col): _*)
        .distinct()
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          if (rows.hasNext) {
            JdbcHooks.inTransaction(url, connProps) { c =>
              val ps = c.prepareStatement(deleteSql)
              var n = 0
              rows.foreach { r =>
                keyCols.indices.foreach(i => ps.setObject(i + 1, r.get(i)))
                ps.addBatch(); n += 1
                if (n % maxBatch == 0) ps.executeBatch()
              }
              ps.executeBatch(); ps.close(); c.commit()
            }
          }
        }
      DataCopier.writeJdbc(
        batch.withColumn("batch_id", lit(batchTag(sid, table, batchId))),
        url, table, cfg, rowsPerCommit, connProps)
      commitLedger(mconn, table, sid, batchId)
      true
    } catch {
      case t: Throwable =>
        try mconn.rollback() catch { case _: Throwable => () }
        throw t
    } finally {
      batch.unpersist(false)
      mconn.close()
    }
  }

  /** The `foreachBatch` function:
    * {{{
    * stream.writeStream.foreachBatch(StreamingJdbcSink.sink(url, "t")).start()
    * }}} */
  def sink(url: String, table: String,
      cfg: ConverterConfig = ConverterConfig(),
      rowsPerCommit: Long = Long.MaxValue,
      connProps: Map[String, String] = Map.empty,
      sinkId: Option[String] = None): (DataFrame, Long) => Unit = {
    ensureLedger(url, table, connProps)
    (df, batchId) => { writeBatch(df, batchId, url, table, cfg, rowsPerCommit,
      connProps, sinkId); () }
  }

  private def lockMutex(mconn: java.sql.Connection, table: String,
      sid: String, batchId: Long): Unit = {
    val mins = mconn.prepareStatement(
      s"INSERT INTO ${mutexTable(table)} (sink_id, batch_id) VALUES (?, ?)")
    mins.setString(1, sid); mins.setLong(2, batchId)
    mins.executeUpdate(); mins.close()
  }

  private def inLedger(mconn: java.sql.Connection, table: String,
      sid: String, batchId: Long): Boolean = {
    val chk = mconn.prepareStatement(
      s"SELECT 1 FROM ${ledgerTable(table)} WHERE sink_id = ? AND batch_id = ?")
    chk.setString(1, sid); chk.setLong(2, batchId)
    val rs = chk.executeQuery()
    val done = rs.next()
    rs.close(); chk.close()
    done
  }

  private def commitLedger(mconn: java.sql.Connection, table: String,
      sid: String, batchId: Long): Unit = {
    val mdel = mconn.prepareStatement(
      s"DELETE FROM ${mutexTable(table)} WHERE sink_id = ? AND batch_id = ?")
    mdel.setString(1, sid); mdel.setLong(2, batchId)
    mdel.executeUpdate(); mdel.close()
    val lins = mconn.prepareStatement(
      s"INSERT INTO ${ledgerTable(table)} (sink_id, batch_id) VALUES (?, ?)")
    lins.setString(1, sid); lins.setLong(2, batchId)
    lins.executeUpdate(); lins.close()
    mconn.commit()
  }

  /** Derby X0Y32, PostgreSQL 42P07, generic SQLSTATE 42xxx "object exists". */
  private def isAlreadyExists(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).exists(s => s == "X0Y32" || s == "42P07") ||
      Option(e.getMessage).exists(_.toLowerCase.contains("already exists"))
}
