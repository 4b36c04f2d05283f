package graft.sources

import java.sql.{Connection, Types}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** Cloud Spanner `JdbcDialect` for Spark's JDBC source/sink (SURVEY §2.1
  * S2 mapping: "a custom JdbcDialect for Spanner covers dialect quirks").
  *
  * Mirrors the reference's JDBC→Spanner type map
  * (TableConverter.java:59-83) in both directions:
  *  - getCatalystType: Spanner column types → Catalyst types on read
  *  - getJDBCType: Catalyst types → Spanner DDL types for the writer
  * Identifiers are backtick-quoted (Spanner/GoogleSQL lexical rules).
  *
  * Register once per JVM via `SpannerDialect.register()` — Spark then
  * routes any `jdbc:cloudspanner:` URL through it.
  */
object SpannerDialect extends JdbcDialect {

  override def canHandle(url: String): Boolean =
    url.toLowerCase.startsWith("jdbc:cloudspanner:")

  override def quoteIdentifier(colName: String): String = s"`$colName`"

  override def getCatalystType(sqlType: Int, typeName: String, size: Int,
      md: MetadataBuilder): Option[DataType] = (sqlType, typeName.toUpperCase) match {
    case (_, "INT64") => Some(LongType)
    case (_, "FLOAT64") => Some(DoubleType)
    case (_, "BOOL") => Some(BooleanType)
    case (_, n) if n.startsWith("STRING") => Some(StringType)
    case (_, n) if n.startsWith("BYTES") => Some(BinaryType)
    case (_, "TIMESTAMP") => Some(TimestampType)
    case (_, "DATE") => Some(DateType)
    case (_, "NUMERIC") => Some(DecimalType(38, 9)) // Spanner NUMERIC is (38,9)
    case _ => None
  }

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case BooleanType => Some(JdbcType("BOOL", Types.BOOLEAN))
    case ByteType | ShortType | IntegerType | LongType =>
      Some(JdbcType("INT64", Types.BIGINT))
    case FloatType | DoubleType => Some(JdbcType("FLOAT64", Types.DOUBLE))
    case StringType => Some(JdbcType("STRING(MAX)", Types.VARCHAR))
    case BinaryType => Some(JdbcType("BYTES(MAX)", Types.VARBINARY))
    case TimestampType | TimestampNTZType =>
      Some(JdbcType("TIMESTAMP", Types.TIMESTAMP))
    case DateType => Some(JdbcType("DATE", Types.DATE))
    case _: DecimalType => Some(JdbcType("NUMERIC", Types.NUMERIC))
    case _ => None
  }

  /** JDBC option key: pin every partition's read to one commit timestamp
    * (RFC-3339), mirroring the reference's batchReadOnly snapshot switch
    * (DataCopier.java:87-106) — without it, the N parallel partition
    * reads of one table can observe N different database states under
    * concurrent writes. Pass it as a read option:
    * `spark.read.format("graft-jdbc").option(SpannerDialect
    * .ReadTimestampProperty, ts)`, or as an entry of `DataCopier.readJdbc`'s
    * `props`. */
  val ReadTimestampProperty = "graft.readTimestamp"

  /** Bounded-staleness alternative (seconds) when an exact timestamp
    * isn't required — Spanner serves from any replica within the bound. */
  val MaxStalenessProperty = "graft.maxStalenessSeconds"

  /** Spark calls this once per partition task, on the task's own
    * connection, before the partition query runs — exactly the per-worker
    * hook the snapshot pin needs (every partition sees the same state). */
  override def beforeFetch(connection: Connection,
      properties: Map[String, String]): Unit = {
    def prop(key: String): Option[String] = properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }
    val staleness = prop(ReadTimestampProperty)
      .map(ts => s"SET READ_ONLY_STALENESS = 'READ_TIMESTAMP $ts'")
      .orElse(prop(MaxStalenessProperty)
        .map(s => s"SET READ_ONLY_STALENESS = 'MAX_STALENESS ${s}s'"))
    staleness.foreach { sql =>
      val st = connection.createStatement()
      try {
        st.execute("SET READONLY = TRUE") // Spanner JDBC session statement
        st.execute(sql)
      } finally st.close()
    }
  }

  /** Spanner has no `TRUNCATE`; the fast full-wipe is delete-all. */
  override def getTruncateQuery(table: String,
      cascade: Option[Boolean] = None): String = s"DELETE FROM $table WHERE TRUE"

  override def isCascadingTruncateTable(): Option[Boolean] = Some(false)

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }
}
