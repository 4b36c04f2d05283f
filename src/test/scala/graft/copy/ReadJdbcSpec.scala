package graft.copy

import java.sql.{DriverManager, Types}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.SparkTestBase
import graft.catalog.Catalog

/** `DataCopier.readJdbc`, the copy's one JDBC read path, against
  * embedded Derby: a `graft-jdbc` scan partitioned on the PK, with every
  * column type `TypeMapper` maps read back exactly, NULLs included. */
class ReadJdbcSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftReadJdbc;create=true"

  /** One nullable column per mapped JDBC type, with the value bound for
    * row `i`. */
  private val valueCols: Seq[(String, String, Int, Int => Any)] = Seq(
    ("c_big", "BIGINT", Types.BIGINT, i => i * 1000000007L),
    ("c_int", "INTEGER", Types.INTEGER, i => i * 7 - 100),
    ("c_small", "SMALLINT", Types.SMALLINT, i => (i % 300).toShort),
    ("c_dbl", "DOUBLE", Types.DOUBLE, i => i * 0.25),
    ("c_dec", "DECIMAL(12,3)", Types.DECIMAL,
      i => new java.math.BigDecimal(i * 1.125).setScale(3)),
    ("c_vc", "VARCHAR(16)", Types.VARCHAR, i => s"v$i'x"),
    ("c_date", "DATE", Types.DATE,
      i => java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i))),
    ("c_ts", "TIMESTAMP", Types.TIMESTAMP, i => java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2021, 6, 1, 10, 0).plusMinutes(i).plusNanos(123456000L))),
    ("c_bool", "BOOLEAN", Types.BOOLEAN, i => i % 2 == 0),
    ("c_bin", "VARCHAR(8) FOR BIT DATA", Types.VARBINARY,
      i => Array[Byte](i.toByte, (i * 3).toByte)))

  private val rows = 60

  /** `keyDdl` declares the leading key columns (and PK, if any);
    * `keyVals` binds them for row `i`. Row `i` leaves value column
    * `i % 11` NULL, so every type carries NULLs. */
  private def create(table: String, keyDdl: String, keyVals: Int => Seq[Any]): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate(s"DROP TABLE $table") catch { case _: Exception => }
      st.executeUpdate(s"CREATE TABLE $table ($keyDdl, " +
        valueCols.map(v => s"${v._1} ${v._2}").mkString(", ") + ")")
      st.close()
      val nKeys = keyVals(0).size
      val ps = c.prepareStatement(s"INSERT INTO $table VALUES (" +
        Seq.fill(nKeys + valueCols.size)("?").mkString(", ") + ")")
      for (i <- 0 until rows) {
        keyVals(i).zipWithIndex.foreach { case (v, j) => ps.setObject(j + 1, v) }
        valueCols.zipWithIndex.foreach { case ((_, _, jdbcType, value), j) =>
          if (i % 11 == j) ps.setNull(nKeys + j + 1, jdbcType)
          else ps.setObject(nKeys + j + 1, value(i))
        }
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    } finally c.close()
  }

  private def render(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** Every row through plain JDBC (`SELECT *`), rendered and sorted. */
  private def direct(table: String): Seq[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      val out = Iterator.continually(rs.next()).takeWhile(identity)
        .map(_ => (1 to n).map(k => render(rs.getObject(k))).mkString("|")).toVector
      rs.close()
      out.sorted
    } finally c.close()
  }

  private def viaSpark(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(render).mkString("|")).toSeq.sorted

  private def readJdbc(table: String, partitions: Int): DataFrame = {
    val c = DriverManager.getConnection(url)
    val spec = try Catalog.introspectTable(c, Some("APP"), table.toUpperCase)
      finally c.close()
    DataCopier.readJdbc(spark, url, spec, new java.util.Properties(),
      numPartitions = partitions, pkBounds = None)
  }

  test("readJdbc is a graft-jdbc scan: PK tables split into numPartitions " +
      "ranges, a PK-less table reads whole, every type and NULL exact") {
    create("rj_single", "id BIGINT NOT NULL PRIMARY KEY", i => Seq(i.toLong))
    create("rj_composite", "g VARCHAR(8) NOT NULL, id INTEGER NOT NULL, " +
      "PRIMARY KEY (g, id)", i => Seq(Seq("a", "b", "c")(i % 3), i))
    create("rj_nopk", "id BIGINT", i => Seq(i.toLong))
    // P2: a PK column named like its table (the reference table-qualifies
    // it in Spanner SELECT lists; the scan quotes every column instead)
    create("rj_self", "rj_self BIGINT NOT NULL PRIMARY KEY", i => Seq(i.toLong))
    for ((table, partitions) <- Seq("rj_single" -> 4, "rj_composite" -> 4,
        "rj_nopk" -> 1, "rj_self" -> 4)) {
      val df = readJdbc(table, partitions = 4)
      val scans = Bridge.deepCollect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.scan.description()
      }
      assert(scans.size == 1 && scans.head.startsWith("graft-jdbc"),
        s"$table: not a graft-jdbc scan: $scans")
      assert(df.rdd.getNumPartitions == partitions, table)
      val got = viaSpark(df)
      assert(got.size == rows, table)
      assert(got == direct(table), table)
    }
  }

  test("a delimited mixed-case column reads through readJdbc, in the " +
      "SELECT list, a Spark filter and a Spark max") {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate("DROP TABLE rj_camel") catch { case _: Exception => }
      st.executeUpdate(
        """CREATE TABLE rj_camel (id BIGINT NOT NULL PRIMARY KEY,
          | "camelCol" VARCHAR(8))""".stripMargin)
      for (i <- 0 until 20) st.executeUpdate(s"INSERT INTO rj_camel VALUES ($i, 'c$i')")
      st.close()
    } finally c.close()
    val df = readJdbc("rj_camel", partitions = 2)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.columns.toSeq == Seq("ID", "camelCol"))
    assert(df.select("camelCol").collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 20).map(i => s"c$i").sorted)
    assert(df.filter(col("camelCol") === "c7").select("ID").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    assert(df.agg(max("camelCol")).collect()(0).getString(0) == "c9")
  }
}
