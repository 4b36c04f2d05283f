package graft.delete

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.app.ConverterApp
import graft.copy.DataCopier

class DeletePlannerSpec extends SparkTestBase {

  /** `t`'s PK columns copied into an in-memory Derby table without a PK
    * constraint ((l_orderkey, l_linenumber) repeats in the fixture), so
    * split points come from the database probe. Returns the URL. */
  private def derbyKeys(t: String, pk: Seq[(String, String)]): String = {
    val url = s"jdbc:derby:memory:deletePlanner_$t;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(s"CREATE TABLE $t (" +
      pk.map { case (n, ty) => s"$n $ty NOT NULL" }.mkString(", ") + ")")
    finally c.close()
    val keys = Tables(spark, sfDir, t).select(pk.map(k => col(k._1)): _*)
    DataCopier.copyTable(keys,
      ConverterApp.specFromStruct(t, keys.schema, pk.map(_._1)), url)
    url
  }

  /** The rows of `sql` with `r`'s split keys bound. */
  private def select[T](c: Connection, sql: String, r: KeyRange)(
      f: java.sql.ResultSet => T): Seq[T] = {
    val ps = c.prepareStatement(sql)
    try {
      r.bind(ps)
      val rs = ps.executeQuery()
      Iterator.continually(rs.next()).takeWhile(identity).map(_ => f(rs)).toVector
    } finally ps.close()
  }

  /** `table`'s row count in each range, evaluated by Derby. */
  private def rangeCounts(url: String, table: String, ranges: Seq[KeyRange]): Seq[Long] = {
    val c = DriverManager.getConnection(url)
    try ranges.map(r =>
      select(c, s"SELECT COUNT(*) FROM $table WHERE ${r.sql}", r)(_.getLong(1)).head)
    finally c.close()
  }

  test("exact split points + range predicates form a disjoint cover") {
    val orders = Tables(spark, sfDir, "orders")
    val url = derbyKeys("orders", Seq("o_orderkey" -> "BIGINT"))
    val splits = DeletePlanner.splitPointsOffset(url, "orders", Seq("o_orderkey"), 4)
    assert(splits.size == 3)
    val ranges = DeletePlanner.rangePredicates(Seq("o_orderkey"), splits)
    assert(ranges.size == 4)
    // evaluating the bound ranges partitions every row exactly once
    val counts = rangeCounts(url, "orders", ranges)
    assert(counts.sum == orders.count())
    assert(counts.forall(_ > 0))
  }

  test("composite-PK range predicates are parseable and cover lineitem") {
    val li = Tables(spark, sfDir, "lineitem")
    val pk = Seq("l_orderkey", "l_linenumber")
    val url = derbyKeys("lineitem",
      Seq("l_orderkey" -> "BIGINT", "l_linenumber" -> "INTEGER"))
    val splits = DeletePlanner.splitPointsOffset(url, "lineitem", pk, 4)
    val ranges = DeletePlanner.rangePredicates(pk, splits)
    assert(rangeCounts(url, "lineitem", ranges).sum == li.count())
  }

  test("lexicographic range predicate matches tuple order (exhaustive 2-col domain)") {
    val domain = for (a <- 0 to 4; b <- 0 to 4) yield (a, b)
    val ord = Ordering[(Int, Int)]
    val c = DriverManager.getConnection("jdbc:derby:memory:deletePlanner_dom;create=true")
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE dom (a INTEGER NOT NULL, b INTEGER NOT NULL)")
      domain.foreach { case (a, b) => st.executeUpdate(s"INSERT INTO dom VALUES ($a, $b)") }
      st.close()
      // every (lo, hi) pair with lo <= hi: the below / [lo, hi) /
      // at-or-above ranges, evaluated by Derby with their split keys
      // bound, must select exactly the tuples lexicographic order puts there
      for (lo <- domain; hi <- domain if ord.gteq(hi, lo)) {
        val ranges = DeletePlanner.rangePredicates(Seq("a", "b"),
          Seq(Seq(lo._1, lo._2), Seq(hi._1, hi._2)))
        val got = ranges.map(r => select(c, s"SELECT a, b FROM dom WHERE ${r.sql}", r)(
          rs => (rs.getInt(1), rs.getInt(2))).toSet)
        val want = Seq(domain.filter(ord.lt(_, lo)),
          domain.filter(t => ord.gteq(t, lo) && ord.lt(t, hi)),
          domain.filter(ord.gteq(_, hi))).map(_.toSet)
        assert(got == want, s"lo=$lo hi=$hi")
      }
    } finally c.close()
    // and the statement binds both bounds, in marker order
    assert(DeletePlanner.rangePredicates(Seq("a", "b"),
      Seq(Seq(1, 2), Seq(3, 4)))(1) == KeyRange(
      "((a > ?) OR (a = ? AND b >= ?)) AND ((a < ?) OR (a = ? AND b < ?))",
      Seq(1, 1, 2, 3, 3, 4)))
  }

  test("a (TIMESTAMP, DATE, VARCHAR) PK with fractional seconds and quotes " +
      "round-trips: 4-partition read and range delete cover every row") {
    val url = "jdbc:derby:memory:deletePlanner_temporal;create=true"
    val pk = Seq("created_at", "day", "name")
    // 3 × 2 × 7 keys: the 4-way split points fall inside the name groups
    val names = Seq("a", "o'brien", "o'brien2", "p", "q'x", "r", "z")
    val keys = for {
      ts <- Seq("2024-03-01 12:30:45.5", "2024-03-01 12:30:45.25", "2024-03-02 00:00:00.125")
      day <- Seq("2024-03-01", "2024-12-31"); name <- names
    } yield (java.sql.Timestamp.valueOf(ts), java.sql.Date.valueOf(day), name)
    def dump(c: Connection): Seq[String] =
      select(c, "SELECT created_at, day, name, v FROM tk", KeyRange("", Nil))(rs =>
        (1 to 4).map(k => String.valueOf(rs.getObject(k))).mkString("|")).sorted
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE tk (created_at TIMESTAMP NOT NULL, " +
        "day DATE NOT NULL, name VARCHAR(16) NOT NULL, v INTEGER, " +
        "PRIMARY KEY (created_at, day, name))")
      st.close()
      val ps = c.prepareStatement("INSERT INTO tk VALUES (?, ?, ?, ?)")
      keys.zipWithIndex.foreach { case ((ts, d, n), i) =>
        ps.setTimestamp(1, ts); ps.setDate(2, d); ps.setString(3, n); ps.setInt(4, i)
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
      val source = dump(c)
      assert(source.size == 42)

      val splits = DeletePlanner.splitPointsOffset(url, "tk", pk, 4)
      assert(splits.size == 3 && splits.exists(_.contains("o'brien")), splits)
      val read = DataCopier.readJdbc(spark, url,
        graft.catalog.TableSpec(None, None, "tk", Nil, pk, Nil),
        new java.util.Properties(), numPartitions = 4, pkBounds = None)
      assert(read.rdd.getNumPartitions == 4)
      val perPart = read.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
      assert(perPart.forall(_ > 0), perPart)
      assert(read.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted ==
        source)

      assert(DeletePlanner.execute(url, "tk",
        DeleteStrategy.Partitioned(DeletePlanner.rangePredicates(pk, splits))) == 42L)
      assert(dump(c).isEmpty)
    } finally c.close()
  }

  test("range statements bind their split keys: a 10-way read, probe and " +
      "delete leave at most 3 statement texts each in Derby's cache") {
    val url = "jdbc:derby:memory:graftStmtCache;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE sc_t (k BIGINT NOT NULL PRIMARY KEY, v VARCHAR(16))")
      val ps = c.prepareStatement("INSERT INTO sc_t VALUES (?, ?)")
      for (i <- 0 until 200) { ps.setLong(1, i); ps.setString(2, s"v$i"); ps.addBatch() }
      ps.executeBatch(); ps.close(); st.close()
    } finally c.close()
    val spec = graft.catalog.TableSpec(None, None, "sc_t", Nil, Seq("k"), Nil)
    val read = DataCopier.readJdbc(spark, url, spec, new java.util.Properties(),
      numPartitions = 10, pkBounds = None)
    assert(read.rdd.getNumPartitions == 10)
    assert(read.collect().length == 200)
    val splits = DeletePlanner.splitPointsOffset(url, "sc_t", Seq("k"), 10)
    assert(DeletePlanner.execute(url, "sc_t",
      DeleteStrategy.Partitioned(DeletePlanner.rangePredicates(Seq("k"), splits))) == 200L)

    val cached = {
      val c2 = DriverManager.getConnection(url)
      try {
        val rs = c2.createStatement().executeQuery(
          "SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
        val out = Iterator.continually(rs.next()).takeWhile(identity)
          .map(_ => rs.getString(1).toUpperCase).toSet
        rs.close(); out
      } finally c2.close()
    }
    val selects = cached.filter(t => t.startsWith("SELECT") &&
      t.contains("FROM SC_T WHERE") && !t.contains("OFFSET") &&
      !t.contains("WHERE 1=0")) // the schema probe
    val probes = cached.filter(t => t.contains("FROM SC_T ORDER BY") && t.contains("OFFSET"))
    val deletes = cached.filter(_.startsWith("DELETE FROM SC_T WHERE"))
    assert(selects.nonEmpty && selects.size <= 3, selects.mkString("\n"))
    assert(probes.size == 1, probes.mkString("\n"))
    assert(deletes.nonEmpty && deletes.size <= 3, deletes.mkString("\n"))
  }

  test("a failing range DELETE surfaces its own SQLException, rolled back") {
    val url = "jdbc:derby:memory:graftDeleteFk;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE fk_p (id BIGINT NOT NULL PRIMARY KEY)")
      st.executeUpdate("CREATE TABLE fk_c (id BIGINT NOT NULL PRIMARY KEY, " +
        "pid BIGINT REFERENCES fk_p (id))")
      for (i <- 0 until 20) st.executeUpdate(s"INSERT INTO fk_p VALUES ($i)")
      st.executeUpdate("INSERT INTO fk_c VALUES (1, 15)") // pins the upper range
      st.close()
    } finally c.close()
    val splits = DeletePlanner.splitPointsOffset(url, "fk_p", Seq("id"), 2)
    assert(splits == Seq(Seq(10L)))
    val e = intercept[java.sql.SQLException](DeletePlanner.execute(url, "fk_p",
      DeleteStrategy.Partitioned(DeletePlanner.rangePredicates(Seq("id"), splits))))
    assert(e.getSQLState == "23503", s"${e.getSQLState}: ${e.getMessage}")
    // the lower range committed; the failing range left its rows
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery("SELECT MIN(id), COUNT(*) FROM fk_p")
      rs.next()
      assert((rs.getLong(1), rs.getLong(2)) == ((10L, 10L)))
      rs.close()
    } finally c2.close()
  }
}
