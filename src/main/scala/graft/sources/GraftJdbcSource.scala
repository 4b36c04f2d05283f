package graft.sources

import java.sql.PreparedStatement

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.delete.{DeletePlanner, KeyRange}
import graft.types.TypeMapper

/** DataSource V2 batch read with PK-range partition planning — the
  * reference's partitioned-scan core (`SRC/data/GenericJdbcTableWorker
  * .java:42-58`, one ordered slice per worker) re-expressed in Spark's
  * modern source API instead of worker threads:
  *
  *   spark.read.format("graft-jdbc")
  *     .option("url", jdbcUrl).option("dbtable", "T")
  *     .option("pk", "a,b").option("partitions", "8").load()
  *
  *  - `planInputPartitions` probes O(partitions) boundary tuples on the
  *    source (index-served OFFSET/FETCH — no table scan) and emits one
  *    lexicographic PK-range predicate per partition, so every executor
  *    opens its own connection and reads a disjoint slice; composite
  *    PKs partition exactly like single-column ones.
  *  - `SupportsPushDownRequiredColumns`: the SELECT list is pruned to
  *    the columns Spark actually needs.
  *  - `SupportsPushDownFilters`: comparison/null filters compile into
  *    each partition's WHERE clause; unsupported ones stay in Spark.
  *
  * Column identifiers in the SELECT list, pushed filters, aggregates and
  * top-n are quoted through the URL's `JdbcDialect`. The schema is
  * inferred from a zero-row probe via the shared [[TypeMapper.sparkType]]
  * JDBC mapping; rows are decoded by Spark's own JDBC value getters.
  * This is the only JDBC reader: `DataCopier.readJdbc` is one call to it,
  * and `DataCopier.writeJdbc` is the only JDBC writer. */
class GraftJdbcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jdbc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftJdbcSource.probeSchema(GraftJdbcOptions(options.asScala.toMap))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    GraftJdbcTable(schema, GraftJdbcOptions(properties.asScala.toMap))

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] object GraftJdbcSource {
  def probeSchema(opts: GraftJdbcOptions): StructType = {
    val conn = opts.connect()
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM ${opts.table} WHERE 1=0")
        val md = rs.getMetaData
        StructType((1 to md.getColumnCount).map { i =>
          StructField(md.getColumnName(i),
            TypeMapper.sparkType(md.getColumnType(i), md.getPrecision(i),
              md.getScale(i)),
            md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls)
        })
      } finally st.close()
    } finally conn.close()
  }

  /** A pushed filter's value as an SQL literal: doubled quotes for
    * strings, JDBC escape literals ({ts ...}/{d ...}/{t ...} — every JDBC
    * driver rewrites these to its dialect) for temporals. None for any
    * other type, which keeps the filter in Spark. */
  private def lit(v: Any): Option[String] = v match {
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

  /** Compile a Spark source filter to a WHERE fragment; None = keep it
    * in Spark. Only plain column references are compiled (no nested);
    * they are quoted through `dialect`. */
  def compileFilter(f: Filter, dialect: JdbcDialect): Option[String] = {
    def col(name: String): Option[String] =
      if (name.contains(".")) None else Some(dialect.quoteIdentifier(name))
    f match {
      case EqualTo(a, v) => for (c <- col(a); l <- lit(v)) yield s"$c = $l"
      case GreaterThan(a, v) => for (c <- col(a); l <- lit(v)) yield s"$c > $l"
      case GreaterThanOrEqual(a, v) =>
        for (c <- col(a); l <- lit(v)) yield s"$c >= $l"
      case LessThan(a, v) => for (c <- col(a); l <- lit(v)) yield s"$c < $l"
      case LessThanOrEqual(a, v) =>
        for (c <- col(a); l <- lit(v)) yield s"$c <= $l"
      case IsNull(a) => col(a).map(c => s"$c IS NULL")
      case IsNotNull(a) => col(a).map(c => s"$c IS NOT NULL")
      case In(a, vs) if vs.nonEmpty =>
        val lits = vs.toSeq.map(lit)
        if (lits.exists(_.isEmpty)) None
        else col(a).map(c => s"$c IN (${lits.flatten.mkString(", ")})")
      case And(l, r) =>
        for (a <- compileFilter(l, dialect); b <- compileFilter(r, dialect))
          yield s"($a AND $b)"
      case _ => None
    }
  }
}

private[sources] case class GraftJdbcOptions(raw: Map[String, String]) {
  private val m = raw.map { case (k, v) => k.toLowerCase -> v }
  val url: String = m.getOrElse("url",
    throw new IllegalArgumentException("graft-jdbc requires option 'url'"))
  val table: String = m.getOrElse("dbtable",
    throw new IllegalArgumentException("graft-jdbc requires option 'dbtable'"))
  val pk: Seq[String] = m.get("pk").toSeq
    .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
  val partitions: Int = m.get("partitions").map(_.toInt).getOrElse(1)
  val connProps: Map[String, String] =
    m.view.filterKeys(Set("user", "password")).toMap
  /** The URL's dialect; registers [[SpannerDialect]] first, so driver
    * and executors resolve a Spanner URL the same way. */
  def dialect: JdbcDialect = {
    SpannerDialect.register()
    JdbcDialects.get(url)
  }
  def connect(): java.sql.Connection = JdbcHooks.connect(url, connProps)
}

private[sources] case class GraftJdbcTable(tableSchema: StructType,
    opts: GraftJdbcOptions) extends Table with SupportsRead {
  override def name(): String = opts.table
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GraftJdbcScanBuilder(tableSchema, opts)
}

private[sources] class GraftJdbcScanBuilder(fullSchema: StructType,
    opts: GraftJdbcOptions) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownOffset {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggSql: Option[(Seq[String], Seq[String], StructType)] = None
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var orderBySql: Seq[String] = Nil

  /** LIMIT n executes on the database (`FETCH FIRST n ROWS ONLY` per
    * partition query — each of the k partitions returns at most n rows
    * instead of its whole PK slice). Partial when partitioned: Spark
    * still applies the global limit over the ≤ k·n returned rows. */
  override def pushLimit(l: Int): Boolean = {
    if (aggSql.isDefined) return false // LIMIT over partial aggs is wrong
    limit = Some(l)
    true
  }
  override def isPartiallyPushed(): Boolean = opts.partitions > 1

  /** ORDER BY cols LIMIT n (top-n — the reference's keyset-pagination
    * probe shape, O1/O3) executes on the database when every sort key
    * is a plain source column of an order-unambiguous type: each
    * partition returns its own ordered top-n and Spark merges — partial,
    * same contract as pushLimit. String/binary keys are NOT pushed —
    * when fully pushed (one partition) Spark drops its own Sort and
    * trusts the database ordering, and a collation-configured database
    * can order text differently from Spark's binary UTF-8 compare,
    * silently changing which rows the top-n keeps. Identifiers are
    * quoted through the URL's JdbcDialect. */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    if (aggSql.isDefined) return false
    def orderUnambiguous(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           BooleanType => true
      case _ => false
    }
    val dialect = opts.dialect
    val compiled = orders.toSeq.map { so =>
      (fieldOf(so.expression()), so.direction, so.nullOrdering) match {
        case (Some(f), dir, nulls) if orderUnambiguous(f.dataType) =>
          val d = if (dir == SortDirection.ASCENDING) "ASC" else "DESC"
          val n = if (nulls == NullOrdering.NULLS_FIRST) "NULLS FIRST"
                  else "NULLS LAST"
          Some(s"${dialect.quoteIdentifier(f.name)} $d $n")
        case _ => None
      }
    }
    if (compiled.exists(_.isEmpty)) return false
    orderBySql = compiled.flatten
    limit = Some(l)
    true
  }

  /** OFFSET is only correct on the database when there is a single
    * partition (a per-partition offset would drop rows per slice).
    * With a limit already pushed (`df.limit(m).offset(n)` — "first m
    * rows, then skip n"), n >= m means an empty result; the combined
    * fetch clause would be a malformed `FETCH NEXT ${m - n}`, so the
    * offset stays in Spark (which applies it over the m limited rows). */
  override def pushOffset(o: Int): Boolean = {
    if (aggSql.isDefined || opts.partitions > 1) return false
    if (limit.exists(_ <= o)) return false
    offset = Some(o)
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    if (aggSql.isDefined) return // agg pushdown already fixed the schema
    // preserve source column order; an empty projection (count(*)) still
    // needs one column to SELECT
    val names = requiredSchema.fieldNames.toSet
    val kept = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
    required = if (kept.isEmpty) StructType(fullSchema.fields.take(1)) else kept
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val dialect = opts.dialect
    val (ok, residual) =
      filters.partition(f => GraftJdbcSource.compileFilter(f, dialect).isDefined)
    pushed = ok
    residual // Spark evaluates what the source can't
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def fieldOf(e: V2Expression): Option[StructField] = e match {
    case fr: NamedReference if fr.fieldNames().length == 1 =>
      fullSchema.fields.find(_.name.equalsIgnoreCase(fr.fieldNames()(0)))
    case _ => None
  }

  /** MIN/MAX/COUNT/SUM (+GROUP BY plain columns) execute on the
    * database; results come back as PARTIAL aggregates (one row per
    * group per PK-range partition) that Spark merges — so pushdown
    * composes with partition planning. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val groups = agg.groupByExpressions.toSeq.map(fieldOf)
    if (groups.exists(_.isEmpty)) return false
    val dialect = opts.dialect
    def q(f: StructField): String = dialect.quoteIdentifier(f.name)
    val aggs: Seq[Option[(String, StructField)]] =
      agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          Some(("COUNT(*)", StructField(s"agg$i", LongType)))
        case (c: Count, i) if !c.isDistinct =>
          fieldOf(c.column).map(f =>
            (s"COUNT(${q(f)})", StructField(s"agg$i", LongType)))
        case (m: Min, i) =>
          fieldOf(m.column).map(f => (s"MIN(${q(f)})", f.copy(name = s"agg$i")))
        case (m: Max, i) =>
          fieldOf(m.column).map(f => (s"MAX(${q(f)})", f.copy(name = s"agg$i")))
        case (s: Sum, i) if !s.isDistinct =>
          fieldOf(s.column).collect {
            // widen integral sums on the DB side (Derby SUM(INT) is INT)
            case f if f.dataType == LongType || f.dataType == IntegerType =>
              (s"SUM(CAST(${q(f)} AS BIGINT))", StructField(s"agg$i", LongType))
            case f if f.dataType == DoubleType =>
              (s"SUM(${q(f)})", StructField(s"agg$i", DoubleType))
          }
        case _ => None
      }
    if (aggs.exists(_.isEmpty)) return false
    val gNames = groups.flatten.map(q)
    val gFields = groups.flatten
    aggSql = Some((gNames, aggs.flatten.map(_._1),
      StructType(gFields ++ aggs.flatten.map(_._2))))
    required = aggSql.get._3
    true
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def build(): Scan = GraftJdbcScan(required, pushed, opts,
    aggSql.map(a => (a._1, a._2)), limit, offset, orderBySql)
}

private[sources] case class GraftJdbcScan(required: StructType,
    pushed: Array[Filter], opts: GraftJdbcOptions,
    agg: Option[(Seq[String], Seq[String])] = None,
    limit: Option[Int] = None,
    offset: Option[Int] = None,
    orderBy: Seq[String] = Nil) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-jdbc ${opts.table} PushedFilters: [${pushed.mkString(", ")}]" +
      agg.map(a => s" PushedAggregates: [${a._2.mkString(", ")}]" +
        (if (a._1.nonEmpty) s" GroupBy: [${a._1.mkString(", ")}]" else ""))
        .getOrElse("") +
      (if (orderBy.nonEmpty) s" PushedTopN: [${orderBy.mkString(", ")}]" else "") +
      limit.map(l => s" PushedLimit: $l").getOrElse("") +
      offset.map(o => s" PushedOffset: $o").getOrElse("")

  /** Planned once per scan: Spark's physical planning copies the
    * `BatchScanExec` node, and every copy asks for the partitions, so
    * without the memo each read would run the split probe twice. */
  private lazy val partitions: Array[InputPartition] = {
    // no split points (no PK, or one partition): one unbounded range
    val splits =
      if (opts.pk.isEmpty) Seq.empty
      else DeletePlanner.splitPointsOffset(opts.url, opts.table, opts.pk,
        opts.partitions, opts.connProps, hookProps = Some(opts.raw))
    DeletePlanner.rangePredicates(opts.pk, splits)
      .map(r => GraftJdbcInputPartition(r): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory = {
    val dialect = opts.dialect
    GraftJdbcReaderFactory(required,
      pushed.flatMap(GraftJdbcSource.compileFilter(_, dialect)), opts, agg,
      limit, offset, orderBy)
  }
}

/** One partition's PK range; its split keys bind to the partition
  * query's first markers. */
private[sources] case class GraftJdbcInputPartition(range: KeyRange)
  extends InputPartition

private[sources] case class GraftJdbcReaderFactory(required: StructType,
    filterSql: Array[String], opts: GraftJdbcOptions,
    agg: Option[(Seq[String], Seq[String])],
    limit: Option[Int] = None,
    offset: Option[Int] = None,
    orderBy: Seq[String] = Nil)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftJdbcPartitionReader(required, filterSql,
      p.asInstanceOf[GraftJdbcInputPartition].range, opts, agg, limit,
      offset, orderBy)
}

/** Executor-side reader: one connection per partition, streaming the
  * partition's disjoint PK slice (plus pushed filters) as InternalRows
  * decoded by Spark's own JDBC getters (`Bridge.jdbcRows`).
  * Before the partition query runs, the URL's JdbcDialect `beforeFetch`
  * hook executes on THIS connection with the source options — the same
  * per-partition contract the stock JDBC source honors, so
  * `graft.readTimestamp` / `graft.maxStalenessSeconds` pin every
  * parallel slice of one table to one snapshot (SpannerDialect.
  * beforeFetch; reference pins every partitioned read —
  * SRC/data/DataCopier.java:87-106). Without it, N tasks under
  * concurrent writes can observe N different database states. */
private[sources] class GraftJdbcPartitionReader(required: StructType,
    filterSql: Array[String], range: KeyRange, opts: GraftJdbcOptions,
    agg: Option[(Seq[String], Seq[String])],
    limit: Option[Int] = None,
    offset: Option[Int] = None,
    orderBy: Seq[String] = Nil)
  extends PartitionReader[InternalRow] {

  private val dialect = opts.dialect // executors resolve the URL fresh
  private val sql: String = {
    val where = (range.sql +: filterSql.toSeq).mkString("(", ") AND (", ")")
    val oby = if (orderBy.nonEmpty) s" ORDER BY ${orderBy.mkString(", ")}" else ""
    val off = offset.map(o => s" OFFSET $o ROWS").getOrElse("")
    // standard SQL:2008 fetch clause. When Spark pushes BOTH, the pushed
    // limit already includes the offset (it pushed top-(l+o) first), and
    // the contract is "first limit rows, then skip offset" — in one SQL
    // query that is OFFSET o FETCH NEXT (limit - o).
    val fetch = limit.map(l =>
      offset.fold(s" FETCH FIRST $l ROWS ONLY")(o =>
        s" FETCH NEXT ${l - o} ROWS ONLY")).getOrElse("")
    agg match {
      case Some((groups, aggExprs)) =>
        val sel = (groups ++ aggExprs).mkString(", ")
        val gby = if (groups.nonEmpty) s" GROUP BY ${groups.mkString(", ")}" else ""
        s"SELECT $sel FROM ${opts.table} WHERE $where$gby"
      case None =>
        val cols = required.fieldNames.map(dialect.quoteIdentifier)
        s"SELECT ${cols.mkString(", ")} FROM ${opts.table}" +
          s" WHERE $where$oby$off$fetch"
    }
  }
  private val conn = opts.connect()
  private var stmt: PreparedStatement = _
  // the hook and the query run before Spark holds this reader, so a
  // failure here closes what is open instead of leaking it
  private val rows: Iterator[InternalRow] =
    try {
      JdbcHooks.beforeFetchAll(opts.url, conn, opts.raw)
      stmt = conn.prepareStatement(sql)
      range.bind(stmt)
      Bridge.jdbcRows(stmt.executeQuery(), dialect, required)
    } catch {
      case t: Throwable =>
        try close() catch { case c: Throwable => t.addSuppressed(c) }
        throw t
    }
  private var current: InternalRow = _

  override def next(): Boolean =
    rows.hasNext && { current = rows.next(); true }

  override def get(): InternalRow = current

  override def close(): Unit = // closing the statement closes the result set
    try { if (stmt != null) stmt.close() } finally conn.close()
}
