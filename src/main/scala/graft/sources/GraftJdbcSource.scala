package graft.sources

import java.sql.PreparedStatement

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.sources.DataSourceRegister
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
  *
  * Columns and PK ranges are all the source pushes, as the reference
  * reads (an explicit column list over a PK-ordered slice,
  * `SRC/data/UploadWorker.java:47-72`). Spark evaluates every filter,
  * aggregate, limit, sort and offset above the scan: the database's
  * string order can differ from Spark's binary UTF-8 order (Derby
  * compares UTF-16 code units, so it ranks U+FF5E above U+1F600), and a
  * pushed MIN/MAX or string comparison would return the database's
  * answer, not Spark's.
  *
  * SELECT-list identifiers are quoted through the URL's `JdbcDialect`.
  * The schema is inferred from a zero-row probe via the shared
  * [[TypeMapper.sparkType]] JDBC mapping; rows are decoded by Spark's own
  * JDBC value getters.
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
    with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source column order; an empty projection (count(*)) still
    // needs one column to SELECT
    val names = requiredSchema.fieldNames.toSet
    val kept = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
    required = if (kept.isEmpty) StructType(fullSchema.fields.take(1)) else kept
  }

  override def build(): Scan = GraftJdbcScan(required, opts)
}

private[sources] case class GraftJdbcScan(required: StructType,
    opts: GraftJdbcOptions) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-jdbc ${opts.table}"

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

  override def createReaderFactory(): PartitionReaderFactory =
    GraftJdbcReaderFactory(required, opts)
}

/** One partition's PK range; its split keys bind to the partition
  * query's markers. */
private[sources] case class GraftJdbcInputPartition(range: KeyRange)
  extends InputPartition

private[sources] case class GraftJdbcReaderFactory(required: StructType,
    opts: GraftJdbcOptions) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftJdbcPartitionReader(required,
      p.asInstanceOf[GraftJdbcInputPartition].range, opts)
}

/** Executor-side reader: one connection per partition, streaming the
  * partition's disjoint PK slice as InternalRows decoded by Spark's own
  * JDBC getters (`Bridge.jdbcRows`).
  * Before the partition query runs, the URL's JdbcDialect `beforeFetch`
  * hook executes on THIS connection with the source options — the same
  * per-partition contract the stock JDBC source honors, so
  * `graft.readTimestamp` / `graft.maxStalenessSeconds` pin every
  * parallel slice of one table to one snapshot (SpannerDialect.
  * beforeFetch; reference pins every partitioned read —
  * SRC/data/DataCopier.java:87-106). Without it, N tasks under
  * concurrent writes can observe N different database states. */
private[sources] class GraftJdbcPartitionReader(required: StructType,
    range: KeyRange, opts: GraftJdbcOptions)
  extends PartitionReader[InternalRow] {

  private val dialect = opts.dialect // executors resolve the URL fresh
  private val sql: String =
    s"SELECT ${required.fieldNames.map(dialect.quoteIdentifier).mkString(", ")}" +
      s" FROM ${opts.table} WHERE ${range.sql}"
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
