package graft.delete

import java.sql.PreparedStatement
import graft.config.ConverterConfig
import graft.sources.JdbcHooks

/** One PK range as a WHERE fragment with `?` markers and the split-key
  * values they stand for, in marker order — the reference binds its
  * range bounds the same way (Columns.java:40-52, DeleteWorker.java:
  * 66,70-80). Every range of one shape has one statement text, so the
  * database compiles it once and reuses the plan. */
final case class KeyRange(sql: String, params: Seq[Any]) {
  /** Bind [[params]] to the first markers of `ps`. */
  def bind(ps: PreparedStatement): Unit =
    params.iterator.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
}

/** Strategy decision for clearing a destination table —
  * TableDeleter.java:24-41. */
sealed trait DeleteStrategy
object DeleteStrategy {
  /** whole-table `DELETE FROM t` (row count under threshold) —
    * SingleDeleteWorker.java:19-27 */
  case object SingleStatement extends DeleteStrategy
  /** PK-range partitioned batched deletes — DeleteWorker.java:42-115 */
  final case class Partitioned(ranges: Seq[KeyRange]) extends DeleteStrategy
}

/** S9/X4: size-thresholded delete planning. Split keys come from the
  * reference's own probe, ORDER BY pk OFFSET n FETCH 1 against the
  * database ([[DeletePlanner.splitPointsOffset]], O3,
  * TableDeleter.java:54,63-99); the registered `o3_keyset_probe` query
  * computes the same ordinals Spark-side with
  * [[graft.operators.Ids.cumulativeSum]].
  *
  * Divergences from the reference (deliberate, SURVEY §2.11): the
  * parameter-index double-increment bug and the min/max confusion in
  * worker sizing are not reproduced; multi-column PKs use corrected
  * lexicographic ranges. */
object DeletePlanner {

  /** Decide strategy from destination row count —
    * TableDeleter.java:30-41 (threshold 10,000). */
  def decide(rowCount: Long, cfg: ConverterConfig = ConverterConfig()): DeleteStrategy =
    if (rowCount < cfg.maxRecordsInSingleDeleteStatement) DeleteStrategy.SingleStatement
    else DeleteStrategy.Partitioned(Seq.empty)

  /** O3 pushed to the source, the reference's own probe shape
    * (TableDeleter.java:63-99): `SELECT pk ORDER BY pk OFFSET ? FETCH 1`
    * per boundary, prepared once and bound per offset, all through one
    * JDBC connection — O(workers) tiny index-served queries, zero Spark
    * scans, no global sort, for single-column and composite PKs alike.
    *
    * `hookProps`: options handed to the dialect's beforeFetch hook when
    * they differ from the connection properties — the graft-jdbc V2
    * source filters `connProps` down to user/password (strict drivers
    * reject unknown keys) but the snapshot-pin options
    * (`graft.readTimestamp`/`maxStalenessSeconds`) must still reach the
    * probe's hook or the probe reads a different database state than
    * the pinned partition scans. */
  def splitPointsOffset(url: String, table: String, pkCols: Seq[String],
      workers: Int, connProps: Map[String, String] = Map.empty,
      hookProps: Option[Map[String, String]] = None): Seq[Seq[Any]] = {
    if (workers <= 1) return Seq.empty
    val conn = JdbcHooks.connect(url, connProps)
    try {
      // the reference pins EVERY partitioned read path; the probe
      // connection honors the same snapshot options as the readers
      // (boundaries only affect balance — ranges are half-open — but a
      // pinned probe sees the same state the pinned scan will)
      JdbcHooks.beforeFetchAll(conn = conn, url = url,
        props = hookProps.getOrElse(connProps))
      val n = JdbcHooks.count(conn, table)
      if (n == 0) return Seq.empty
      val step = (n + workers - 1) / workers
      val pks = pkCols.mkString(", ")
      val ps = conn.prepareStatement(s"SELECT $pks FROM $table ORDER BY $pks " +
        "OFFSET ? ROWS FETCH NEXT 1 ROWS ONLY")
      try (1 until workers).map(_ * step).filter(_ < n).map { off =>
        ps.setLong(1, off)
        val rs = ps.executeQuery()
        try {
          rs.next()
          pkCols.indices.map(i => rs.getObject(i + 1): Any)
        } finally rs.close()
      } finally ps.close()
    } finally conn.close()
  }

  /** Build the per-worker ranges from split points (half-open
    * lexicographic ranges; first/last unbounded). Each split-key value
    * is a bound parameter, so the values' types are the driver's
    * business and a range has one of three statement texts: below the
    * first split, between two, at or above the last. */
  def rangePredicates(pkCols: Seq[String], splits: Seq[Seq[Any]]): Seq[KeyRange] = {
    def cmp(op: String, eq: String, vals: Seq[Any]): KeyRange = {
      val disjuncts = vals.indices.map { i =>
        val eqs = (0 until i).map(j => s"${pkCols(j)} = ?")
        val last = if (i == vals.length - 1) eq else op
        (eqs :+ s"${pkCols(i)} $last ?").mkString("(", " AND ", ")")
      }
      KeyRange(disjuncts.mkString("(", " OR ", ")"),
        vals.indices.flatMap(i => vals.take(i + 1)))
    }
    if (splits.isEmpty) Seq(KeyRange("1=1", Nil))
    else {
      val first = cmp("<", "<", splits.head)
      val middles = splits.sliding(2).collect { case Seq(lo, hi) =>
        val (l, h) = (cmp(">", ">=", lo), cmp("<", "<", hi))
        KeyRange(s"${l.sql} AND ${h.sql}", l.params ++ h.params)
      }.toSeq
      val last = cmp(">", ">=", splits.last)
      (first +: middles) :+ last
    }
  }

  /** Execute the plan against a destination over JDBC. Partitioned
    * ranges are deleted with per-range statements batched by
    * `maxRecordsInSingleDeleteStatement` semantics (the range predicate
    * is pushed down, so the drain loop collapses to one statement per
    * range — SURVEY §2.3 O4), with the range's split keys bound. A
    * failing statement rolls the open transaction back before the
    * connection closes, so its own error is the one thrown. */
  def execute(url: String, table: String, strategy: DeleteStrategy,
      connProps: Map[String, String] = Map.empty): Long = {
    JdbcHooks.inTransaction(url, connProps) { conn =>
      strategy match {
        case DeleteStrategy.SingleStatement =>
          val st = conn.createStatement()
          val n = try st.executeUpdate(s"DELETE FROM $table") // SingleDeleteWorker.java:23
            finally st.close()
          conn.commit(); n.toLong
        case DeleteStrategy.Partitioned(ranges) =>
          ranges.map { r =>
            val ps = conn.prepareStatement(s"DELETE FROM $table WHERE ${r.sql}")
            try {
              r.bind(ps)
              val n = ps.executeUpdate()
              conn.commit() // per-batch commit — DeleteWorker.java:34
              n.toLong
            } finally ps.close()
          }.sum
      }
    }
  }
}
