package graft.sources

import java.sql.Connection
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}

/** Cloud Spanner `JdbcDialect` for the `graft-jdbc` source (SURVEY §2.1
  * S2 mapping: "a custom JdbcDialect for Spanner covers dialect quirks").
  *
  * It overrides two things: identifier quoting (backticks,
  * Spanner/GoogleSQL lexical rules) and the per-connection `beforeFetch`
  * snapshot pin. Column types come from `TypeMapper.sparkType` on read
  * and `TypeMapper.ddlType` in DDL.
  *
  * Register once per JVM via `SpannerDialect.register()` — Spark then
  * routes any `jdbc:cloudspanner:` URL through it.
  */
object SpannerDialect extends JdbcDialect {

  override def canHandle(url: String): Boolean =
    url.toLowerCase.startsWith("jdbc:cloudspanner:")

  override def quoteIdentifier(colName: String): String = s"`$colName`"

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

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }
}
