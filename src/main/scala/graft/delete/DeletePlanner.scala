package graft.delete

import java.sql.DriverManager
import graft.config.ConverterConfig

/** Strategy decision for clearing a destination table —
  * TableDeleter.java:24-41. */
sealed trait DeleteStrategy
object DeleteStrategy {
  /** whole-table `DELETE FROM t` (row count under threshold) —
    * SingleDeleteWorker.java:19-27 */
  case object SingleStatement extends DeleteStrategy
  /** PK-range partitioned batched deletes — DeleteWorker.java:42-115 */
  final case class Partitioned(ranges: Seq[String]) extends DeleteStrategy
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
    * (TableDeleter.java:63-99): `SELECT pk ORDER BY pk OFFSET k FETCH 1`
    * per boundary, all through one JDBC connection — O(workers) tiny
    * index-served queries, zero Spark scans, no global sort, for
    * single-column and composite PKs alike.
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
    val p = new java.util.Properties()
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = DriverManager.getConnection(url, p)
    try {
      // the reference pins EVERY partitioned read path; the probe
      // connection honors the same snapshot options as the readers
      // (boundaries only affect balance — ranges are half-open — but a
      // pinned probe sees the same state the pinned scan will)
      graft.sources.JdbcHooks.beforeFetchAll(conn = conn, url = url,
        props = hookProps.getOrElse(connProps))
      val st = conn.createStatement()
      try {
        val rs0 = st.executeQuery(s"SELECT COUNT(*) FROM $table")
        rs0.next(); val n = rs0.getLong(1); rs0.close()
        if (n == 0) return Seq.empty
        val step = (n + workers - 1) / workers
        val pks = pkCols.mkString(", ")
        (1 until workers).map(_ * step).filter(_ < n).map { off =>
          val rs = st.executeQuery(
            s"SELECT $pks FROM $table ORDER BY $pks " +
              s"OFFSET $off ROWS FETCH NEXT 1 ROWS ONLY")
          rs.next()
          val tuple = pkCols.indices.map(i => rs.getObject(i + 1): Any)
          rs.close()
          tuple
        }
      } finally st.close()
    } finally conn.close()
  }

  /** The one SQL literal renderer, shared by the range predicates below
    * and the graft-jdbc source's pushed filters: doubled quotes for
    * strings, JDBC escape literals ({ts ...}/{d ...}/{t ...} — every JDBC
    * driver rewrites these to its dialect) for temporals. None for any
    * other type. */
  def sqlLiteral(v: Any): Option[String] = v match {
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case t: java.sql.Timestamp => Some(s"{ts '${t.toString}'}")
    case d: java.sql.Date => Some(s"{d '${d.toString}'}")
    case t: java.sql.Time => Some(s"{t '${t.toString}'}")
    case t: java.time.LocalDateTime =>
      Some(s"{ts '${java.sql.Timestamp.valueOf(t).toString}'}")
    case d: java.time.LocalDate => Some(s"{d '${d.toString}'}")
    case n: java.lang.Number => Some(n.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case _ => None
  }

  /** Build the per-worker WHERE clauses from split points (half-open
    * lexicographic ranges; first/last unbounded), literals rendered by
    * [[sqlLiteral]]. Unsupported PK types are rejected explicitly rather
    * than emitting a broken bare literal. */
  def rangePredicates(pkCols: Seq[String], splits: Seq[Seq[Any]]): Seq[String] = {
    def lit(v: Any): String = sqlLiteral(v).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported PK literal type ${v.getClass.getName} — " +
          "extend DeletePlanner.sqlLiteral or use a different split key"))
    def cmp(op: String, eq: String, vals: Seq[Any]): String = {
      val disjuncts = vals.indices.map { i =>
        val eqs = (0 until i).map(j => s"${pkCols(j)} = ${lit(vals(j))}")
        val last = if (i == vals.length - 1) eq else op
        (eqs :+ s"${pkCols(i)} $last ${lit(vals(i))}").mkString("(", " AND ", ")")
      }
      disjuncts.mkString("(", " OR ", ")")
    }
    if (splits.isEmpty) Seq("1=1")
    else {
      val first = cmp("<", "<", splits.head)
      val middles = splits.sliding(2).collect { case Seq(lo, hi) =>
        s"${cmp(">", ">=", lo)} AND ${cmp("<", "<", hi)}"
      }.toSeq
      val last = cmp(">", ">=", splits.last)
      (first +: middles) :+ last
    }
  }

  /** Execute the plan against a destination over JDBC. Partitioned
    * ranges are deleted with per-range statements batched by
    * `maxRecordsInSingleDeleteStatement` semantics (the range predicate
    * is pushed down, so the drain loop collapses to one statement per
    * range — SURVEY §2.3 O4). */
  def execute(url: String, table: String, strategy: DeleteStrategy,
      connProps: Map[String, String] = Map.empty): Long = {
    val p = new java.util.Properties()
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = DriverManager.getConnection(url, p)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      val deleted = strategy match {
        case DeleteStrategy.SingleStatement =>
          val n = st.executeUpdate(s"DELETE FROM $table") // SingleDeleteWorker.java:23
          conn.commit(); n.toLong
        case DeleteStrategy.Partitioned(ranges) =>
          var total = 0L
          ranges.foreach { where =>
            total += st.executeUpdate(s"DELETE FROM $table WHERE $where")
            conn.commit() // per-batch commit — DeleteWorker.java:34
          }
          total
      }
      st.close()
      deleted
    } finally conn.close()
  }
}
