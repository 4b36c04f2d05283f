package graft.app

import java.sql.DriverManager
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import graft.{GraftSession, SparkTestBase}

/** Counts every `beforeFetch` call on a connection the `graft-jdbc`
  * source opens to the export's source database, keyed by the `dbtable`
  * option: one call per split probe and one per partition query. */
object ExportRecordingDialect extends JdbcDialect {
  val tables = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def canHandle(url: String): Boolean = url.contains("graftExportSrc")
  override def beforeFetch(connection: java.sql.Connection,
      properties: Map[String, String]): Unit =
    tables.add(properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("dbtable") => v.toUpperCase.split('.').last
    }.getOrElse("?"))
  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }
}

class ExportAppSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftExportSrc;create=true"

  private def rows(sql: String): Seq[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Iterator.continually(rs.next()).takeWhile(identity)
        .map(_ => (1 to n).map(k => String.valueOf(rs.getObject(k))).mkString("|"))
        .toVector
      rs.close()
      out.sorted
    } finally c.close()
  }

  test("ExportApp reads each table once: one split probe plus one query " +
      "per partition, and the parquet rows equal the source") {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      for (t <- Seq("EX_SINGLE", "EX_COMPOSITE", "EX_NOPK"))
        try st.executeUpdate(s"DROP TABLE $t") catch { case _: Exception => }
      st.executeUpdate("CREATE TABLE ex_single (id BIGINT NOT NULL PRIMARY KEY, " +
        "name VARCHAR(16), bal DOUBLE)")
      st.executeUpdate("CREATE TABLE ex_composite (g VARCHAR(4) NOT NULL, " +
        "id INTEGER NOT NULL, amount DOUBLE, PRIMARY KEY (g, id))")
      st.executeUpdate("CREATE TABLE ex_nopk (txt VARCHAR(16))")
      for (i <- 0 until 90) {
        st.executeUpdate(s"INSERT INTO ex_single VALUES ($i, 'n$i', ${i * 0.5})")
        st.executeUpdate(s"INSERT INTO ex_composite VALUES " +
          s"('${Seq("a", "b", "c")(i % 3)}', $i, ${i * 1.25})")
      }
      st.executeUpdate("INSERT INTO ex_nopk VALUES ('x'), ('y')")
      st.close()
    } finally c.close()

    ExportRecordingDialect.register()
    ExportRecordingDialect.tables.clear()
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    ExportApp.run(Array(url, out), spark)

    val calls = ExportRecordingDialect.tables.asScala.toSeq
      .groupBy(identity).map { case (t, c) => t -> c.size }
    for ((table, pk) <- Seq("EX_SINGLE" -> true, "EX_COMPOSITE" -> true,
        "EX_NOPK" -> false)) {
      val path = s"$out/${table.toLowerCase}.parquet"
      val parts = new java.io.File(path).listFiles.count(_.getName.startsWith("part-"))
      assert(parts == (if (pk) GraftSession.cpus.toInt else 1), s"$table: $parts files")
      val probes = if (parts > 1) 1 else 0
      assert(calls.getOrElse(table, 0) == probes + parts,
        s"$table: beforeFetch ran ${calls.getOrElse(table, 0)} times, " +
          s"want $probes probe(s) + $parts partition queries")
      val parquet = spark.read.parquet(path).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      assert(parquet == rows(s"SELECT * FROM $table"), table)
    }
  }

  test("ExportApp fails fast when two source schemas share a table name, " +
      "before any parquet is written") {
    val src = "jdbc:derby:memory:graftExportColl;create=true"
    val c = DriverManager.getConnection(src)
    try {
      val st = c.createStatement()
      for ((schema, n) <- Seq("S1" -> 3, "S2" -> 1)) {
        st.executeUpdate(s"CREATE SCHEMA $schema")
        st.executeUpdate(s"CREATE TABLE $schema.users (id BIGINT NOT NULL PRIMARY KEY)")
        for (i <- 0 until n) st.executeUpdate(s"INSERT INTO $schema.users VALUES ($i)")
      }
      st.close()
    } finally c.close()
    val out = java.nio.file.Files.createTempDirectory("graft-export-coll").toFile
    val e = intercept[IllegalArgumentException](
      ExportApp.run(Array(src, out.getPath), spark))
    assert(e.getMessage.contains("USERS"), e.getMessage)
    assert(out.list().isEmpty, s"written before the check: ${out.list().toSeq}")
  }
}
