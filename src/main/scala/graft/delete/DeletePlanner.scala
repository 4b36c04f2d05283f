package graft.delete

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableSpec
import graft.config.ConverterConfig
import graft.copy.CopyPlanner

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

/** S9/X4: size-thresholded delete planning. The reference probes split
  * keys with ORDER BY pk LIMIT 1 OFFSET n (O3, TableDeleter.java:54,
  * 63-99); our scale path derives the same split points from the source
  * DataFrame distribution (exact row_number probes at test scale,
  * `approxQuantile` when exactness isn't required).
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

  /** O3: exact keyset split points — the PK tuple at every
    * ceil(n/workers)-th ordinal of PK order. Returns `workers - 1`
    * boundary tuples (may be fewer when the table is small). The
    * ordinal is the distributed running count ([[graft.operators.Ids
    * .cumulativeSum]]: range-repartition + per-partition ranks +
    * broadcast offsets) — same numbering as an unpartitioned
    * row_number window with no single-task global sort, so the exact
    * probe itself survives a 100× scale-up (the reference computes the
    * same ordinals one OFFSET query at a time —
    * TableDeleter.java:54,63-99). */
  def splitPoints(df: DataFrame, pkCols: Seq[String], workers: Int): Seq[Seq[Any]] = {
    val n = df.count()
    if (n == 0 || workers <= 1) return Seq.empty
    val step = (n + workers - 1) / workers
    graft.operators.Ids
      .cumulativeSum(df.select(pkCols.map(col): _*), pkCols.map(col),
        lit(1L), "__rn")
      .filter(col("__rn") % step === 0 && col("__rn") < n)
      .orderBy(col("__rn"))
      .drop("__rn")
      .collect()
      .map(r => pkCols.indices.map(r.get))
      .toSeq
  }

  /** O3 at scale: approximate split points via `approxQuantile` — one
    * pass with bounded memory instead of a global row_number sort. Only
    * for single-column numeric PKs (the common case the reference's
    * offset probes serve); composite PKs use
    * [[splitPointsApproxTuples]] (sampled tuple boundaries) or the
    * JDBC-pushed [[splitPointsOffset]].
    * relativeError 0.01 keeps worker ranges within ~1% of even. */
  def splitPointsApprox(df: org.apache.spark.sql.DataFrame, pkCol: String,
      workers: Int, relativeError: Double = 0.01): Seq[Seq[Any]] = {
    if (workers <= 1) return Seq.empty
    val probs = (1 until workers).map(_.toDouble / workers).toArray
    df.stat.approxQuantile(pkCol, probs, relativeError)
      .distinct.sorted.map(q => Seq[Any](q.toLong)).toSeq
  }

  /** O3 at scale for COMPOSITE PKs: approximate split tuples from a
    * bounded random sample — the `RangePartitioner` recipe that backs
    * every distributed ORDER BY. `approxQuantile` only handles one
    * numeric column; this samples `sampleSize` whole PK TUPLES
    * (TakeOrdered by a seeded rand — a per-partition heap + driver
    * merge, NO global sort and no full-table shuffle), sorts the
    * sample driver-side (bounded by `sampleSize`), and takes every
    * s/workers-th tuple as a boundary. With a uniform sample of size
    * s the per-boundary rank error is O(1/√s) — sampleSize 10k keeps
    * worker ranges within a few percent of even, which is all a
    * delete/copy fan-out needs (ranges stay EXACT-coverage half-open
    * regardless; only their sizes are approximate). Duplicate
    * boundaries (heavy single-value keys) collapse, so fewer than
    * `workers - 1` tuples may return. */
  def splitPointsApproxTuples(df: DataFrame, pkCols: Seq[String],
      workers: Int, sampleSize: Int = 10000,
      seed: Long = 42L): Seq[Seq[Any]] = {
    require(sampleSize >= workers, s"sampleSize $sampleSize < workers $workers")
    if (workers <= 1) return Seq.empty
    // Boundary ORDER comes from the ENGINE, not the driver: the sample
    // (already bounded by the limit) is re-sorted by Spark on the PK
    // columns before collecting, so string boundaries follow Spark's
    // binary (code-point) ordering — Java String.compareTo orders
    // UTF-16 code units, which disagrees beyond the BMP, and a
    // misordered boundary list breaks rangePredicates' exact-cover
    // property (a row could match two ranges). The target database
    // must compare the same way (binary collation) for the rendered
    // range SQL to preserve the cover — same contract as the exact
    // probe, now stated.
    val sampled = df.select(pkCols.map(col): _*)
      .orderBy(rand(seed))
      .limit(sampleSize)
      .orderBy(pkCols.map(col): _*)
      .collect()
      .map(r => pkCols.indices.map(r.get): Seq[Any])
    if (sampled.isEmpty) Seq.empty
    else {
      val s = sampled.length
      (1 until workers)
        .map(i => sampled(math.min((i.toLong * s / workers).toInt, s - 1)))
        .distinct
    }
  }

  /** O3 pushed to the source, the reference's own probe shape
    * (TableDeleter.java:63-99): `SELECT pk ORDER BY pk OFFSET k FETCH 1`
    * per boundary, all through one JDBC connection — O(workers) tiny
    * index-served queries, zero Spark scans, no global sort. This is the
    * scale path for composite PKs, where approxQuantile doesn't apply. */
  /** `hookProps`: options handed to the dialect's beforeFetch hook when
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
