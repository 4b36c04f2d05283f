package graft.sources

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}

/** The one JDBC connection opener, transaction guard and row count,
  * plus the per-connection dialect hooks shared by every JDBC-opening
  * path (the V2 partition reader, the delete/copy split-point probes). */
object JdbcHooks {

  /** Open `url` with `props` as the driver's connection properties. */
  def connect(url: String, props: Map[String, String]): Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  /** Run `body` on a fresh connection with autocommit off; `body`
    * commits at its own cadence. On failure the open transaction rolls
    * back before the connection closes (Derby refuses to close with a
    * transaction open, 25001), and a rollback or close error is
    * suppressed into the first error, never thrown in its place. */
  def inTransaction[T](url: String, props: Map[String, String])(
      body: Connection => T): T = {
    val conn = connect(url, props)
    val result =
      try {
        conn.setAutoCommit(false)
        body(conn)
      } catch {
        case t: Throwable =>
          try conn.rollback() catch { case r: Throwable => t.addSuppressed(r) }
          try conn.close() catch { case c: Throwable => t.addSuppressed(c) }
          throw t
      }
    conn.close()
    result
  }

  /** `SELECT COUNT(*)` of `table` (used as written, unquoted) on
    * `conn`; the statement and its result set close on every path. */
  def count(conn: Connection, table: String): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally st.close()
  }

  /** Run every matching dialect's `beforeFetch` hook (the snapshot-pin
    * contract — [[SpannerDialect.beforeFetch]] pins
    * `READ_ONLY_STALENESS`) on a freshly opened connection.
    * `JdbcDialects.get` wraps multiple matches in an
    * `AggregatedDialect` that does NOT delegate `beforeFetch` — a
    * session hook would silently vanish the moment a second dialect
    * matches the URL; unwrap it (the member list is a private field,
    * hence the narrow reflective read) and invoke each member's hook.
    * Falls back to the resolved dialect's own hook if the internals
    * ever change shape. */
  def beforeFetchAll(url: String, conn: Connection,
      props: Map[String, String]): Unit = {
    val d = JdbcDialects.get(url)
    val members =
      if (d.getClass.getName == "org.apache.spark.sql.jdbc.AggregatedDialect")
        try {
          val f = d.getClass.getDeclaredField("dialects")
          f.setAccessible(true)
          f.get(d).asInstanceOf[Seq[JdbcDialect]]
        } catch { case _: Exception => Seq(d) }
      else Seq(d)
    members.foreach(_.beforeFetch(conn, props))
  }
}
