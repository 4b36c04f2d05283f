package graft.copy

import java.sql.DriverManager
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.{SparkTestBase, Tables}
import graft.catalog.Catalog
import graft.config.{ConvertMode, ConverterConfig, Dialect}
import graft.ddl.DdlGenerator
import graft.delete.{DeletePlanner, DeleteStrategy}

/** t1-style end-to-end smoke of the reference's whole 3-stage pipeline
  * (SURVEY §3.1/§7.2) against a real JDBC destination: embedded Derby
  * (in /opt/spark/jars) stands in for the destination database.
  *
  * customer (sf0.001 parquet) → introspect/DDL → commit-aware partitioned
  * copy → partitioned JDBC read-back → count + per-column checksum
  * fidelity → delete strategies.
  */
class DerbyEndToEndSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftE2E;create=true"
  private def conn() = DriverManager.getConnection(url)

  test("end-to-end: DDL → copy → read back → verify → delete") {
    val src = Tables(spark, sfDir, "customer")
    val n = src.count()
    assert(n == 150)

    // --- stage 1: DDL (driver-side, dialect-mapped) ------------------
    val c = conn()
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE customer (
        | c_custkey BIGINT NOT NULL, c_name VARCHAR(64),
        | c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR(16),
        | PRIMARY KEY (c_custkey))""".stripMargin)

    // catalog introspection sees it back (S3–S5)
    val tables = Catalog.listTables(c, Dialect.Derby)
    assert(tables.map(_._2.toUpperCase).contains("CUSTOMER"))
    val spec = Catalog.introspectTable(c, Some("APP"), "CUSTOMER")
    assert(spec.primaryKey.map(_.toUpperCase) == Seq("C_CUSTKEY"))
    assert(spec.columns.size == 5)
    assert(spec.hasPrimaryKey)

    // DDL round-trip: generated DDL for the introspected spec parses
    val regen = DdlGenerator.createTable(spec, Dialect.Derby).get
    assert(regen.toUpperCase.contains("PRIMARY KEY (C_CUSTKEY)"))

    // mode gate: table exists → SkipExisting skips, Throw fails (J2)
    assert(DdlGenerator.script(spec, Dialect.Derby, ConvertMode.SkipExisting,
      existsInDestination = true) == Right(Seq.empty))
    assert(DdlGenerator.script(spec, Dialect.Derby, ConvertMode.ThrowExceptionIfExists,
      existsInDestination = true).isLeft)

    // --- stage 2: commit-aware partitioned copy (S7/X3) --------------
    val cfg = ConverterConfig(maxStatementsInOneJdbcBatch = 40)
    val report = DataCopier.copyTable(
      src.repartition(4), spec.copy(schema = None, name = "customer"), url, cfg)
    assert(report.records == n)
    assert(report.bytes > 0)

    // --- stage 3: partitioned JDBC read-back + fidelity (S1) ---------
    val back = DataCopier.readJdbc(spark, url,
      spec.copy(schema = None, name = "customer"),
      new java.util.Properties(), numPartitions = 4, pkBounds = None)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == n)
    // per-column checksum fidelity (A2-style accounting, exact ints)
    def sig(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum(col("c_custkey")).as("k"),
      sum(expr("crc32(c_name)")).as("nm"),
      sum(col("c_nationkey")).as("nk"),
      sum(expr("cast(c_acctbal * 100 as bigint)")).as("ab"),
      sum(expr("crc32(c_mktsegment)")).as("mk")).collect()(0)
    assert(sig(back) == sig(src))

    // a filter on the read-back frame runs in Spark over the PK slices
    // and keeps exactly the source rows it keeps
    val filtered = back.filter(col("c_acctbal") > 1000.0)
    val plan = filtered.queryExecution.executedPlan
    assert(Bridge.deepCollect(plan) { case b: BatchScanExec => b.scan.description() }
      .forall(!_.contains("Pushed")) &&
      Bridge.deepCollect(plan) { case f: FilterExec => f }.nonEmpty,
      s"filter not evaluated by Spark:\n$plan")
    assert(filtered.count() == src.filter(col("c_acctbal") > 1000.0).count())

    // --- delete: strategy threshold + partitioned range delete (S9/X4)
    assert(DeletePlanner.decide(n, cfg) == DeleteStrategy.SingleStatement)
    assert(DeletePlanner.decide(20000, cfg).isInstanceOf[DeleteStrategy.Partitioned])

    val splits = DeletePlanner.splitPointsOffset(url, "customer", Seq("c_custkey"), 4)
    assert(splits.size == 3)
    val ranges = DeletePlanner.rangePredicates(Seq("c_custkey"), splits)
    assert(ranges.size == 4)
    val deleted = DeletePlanner.execute(url, "customer",
      DeleteStrategy.Partitioned(ranges))
    assert(deleted == n) // ranges are a disjoint cover → every row deleted
    val left = st.executeQuery("SELECT COUNT(*) AS n FROM customer")
    left.next()
    assert(left.getInt(1) == 0)

    // single-statement path on a refilled small table
    DataCopier.copyTable(src.limit(10), spec.copy(schema = None, name = "customer"), url, cfg)
    assert(DeletePlanner.execute(url, "customer", DeleteStrategy.SingleStatement) == 10L)
    st.close(); c.close()
  }

  test("composite-PK table gets a partitioned JDBC read (S2 scale path)") {
    val c = conn()
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE cust_seg (
        | seg VARCHAR(16) NOT NULL, id BIGINT NOT NULL, bal DOUBLE,
        | PRIMARY KEY (seg, id))""".stripMargin)
    val src = Tables(spark, sfDir, "customer").select(
      col("c_mktsegment").as("seg"), col("c_custkey").as("id"),
      col("c_acctbal").as("bal"))
    val spec = Catalog.introspectTable(c, Some("APP"), "CUST_SEG")
    assert(spec.primaryKey.map(_.toUpperCase) == Seq("SEG", "ID"))
    DataCopier.copyTable(src, spec.copy(schema = None, name = "cust_seg"), url)

    // the read back through readJdbc must carry >1 input partition even
    // though the PK is composite — each partition is one pushed
    // lexicographic range predicate (reference gives every table
    // intra-table parallelism regardless of PK shape).
    val back = DataCopier.readJdbc(spark, url,
      spec.copy(schema = None, name = "cust_seg"),
      new java.util.Properties(), numPartitions = 4, pkBounds = None)
    assert(back.rdd.getNumPartitions == 4,
      s"expected 4 range partitions, got ${back.rdd.getNumPartitions}")
    assert(back.count() == 150)
    // fidelity: ranges must be a disjoint exact cover (no dup/lost rows)
    def sig(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum(col("id")).as("k"),
      sum(expr("crc32(seg)")).as("s"),
      sum(expr("cast(bal * 100 as bigint)")).as("b")).collect()(0)
    assert(sig(back) == sig(src))
    st.close(); c.close()
  }

  test("index DDL runs in the pipeline and feeds rows-per-commit (stage 2)") {
    import graft.catalog.IndexSpec
    import graft.copy.CopyPlanner
    val c = conn()
    val st = c.createStatement()
    val src = Tables(spark, sfDir, "supplier")
    val ix = IndexSpec("idx_sup_name", Seq(("s_name", true)), unique = true)
    val spec = graft.app.ConverterApp.specFromStruct(
      "sup_ix", src.schema, Seq("s_suppkey"), Seq(ix))
    // one script: the bare table, then the key and the index that
    // ConverterApp builds after the load
    val script = DdlGenerator.script(spec, Dialect.Derby,
      ConvertMode.SkipExisting, existsInDestination = false) match {
      case Right(s) => s
      case Left(e) => fail(e)
    }
    assert(script.size == 3 &&
      script(1) == "ALTER TABLE sup_ix ADD PRIMARY KEY (s_suppkey)" &&
      script(2) == "CREATE UNIQUE INDEX idx_sup_name ON sup_ix (s_name)", script)
    script.foreach(st.executeUpdate)
    // re-introspection sees the key and the UNIQUE index back, and the
    // PK-backing index is still correctly skipped (J3)
    val seen = Catalog.introspectTable(c, Some("APP"), "SUP_IX")
    assert(seen.primaryKey.map(_.toUpperCase) == Seq("S_SUPPKEY"))
    assert(seen.indexes.exists(i =>
      i.name.equalsIgnoreCase("idx_sup_name") && i.unique &&
        i.columns.map(_._1.toUpperCase) == Seq("S_NAME")))
    assert(!seen.indexes.exists(_.columns.map(_._1.toUpperCase) == Seq("S_SUPPKEY")))
    // the carried index raises mutations-per-row: fewer rows per commit
    def rpc(numIndexes: Int) = CopyPlanner.rowsPerCommit(
      spec.estimatedRowSizeBytes, spec.columns.size, numIndexes, 100000000L)
    val without = rpc(0)
    val withIx = rpc(spec.indexes.size)
    assert(withIx < without,
      s"index must lower rowsPerCommit (with=$withIx, without=$without)")
    st.close(); c.close()
  }

  test("ConverterApp JDBC→JDBC: introspect a live Derby source, DDL + " +
      "partitioned copy to a Derby destination — zero parquet") {
    val srcUrl = "jdbc:derby:memory:graftJ2Jsrc"
    val dstUrl = "jdbc:derby:memory:graftJ2Jdst"
    // --- seed the SOURCE database: 2 PK tables (one with two secondary
    // indexes, one composite-PK with a UNIQUE index over a DESC column)
    // + 1 PK-less table the app must skip
    val sc = DriverManager.getConnection(srcUrl + ";create=true")
    try {
      val st = sc.createStatement()
      for (t <- Seq("ACCOUNTS", "LEDGER", "NOTES"))
        try st.executeUpdate(s"DROP TABLE $t") catch { case _: Exception => }
      st.executeUpdate(
        """CREATE TABLE accounts (
          | acct_id BIGINT NOT NULL, owner VARCHAR(40), balance DOUBLE,
          | PRIMARY KEY (acct_id))""".stripMargin)
      st.executeUpdate("CREATE INDEX idx_accounts_owner ON accounts (owner)")
      st.executeUpdate("CREATE INDEX idx_accounts_bal ON accounts (balance DESC, owner)")
      st.executeUpdate(
        """CREATE TABLE ledger (
          | acct_id BIGINT NOT NULL, seq INTEGER NOT NULL, amount DOUBLE,
          | PRIMARY KEY (acct_id, seq))""".stripMargin)
      st.executeUpdate(
        "CREATE UNIQUE INDEX ux_ledger_amount ON ledger (amount DESC, seq)")
      st.executeUpdate("CREATE TABLE notes (txt VARCHAR(40))") // no PK
      val pa = sc.prepareStatement("INSERT INTO accounts VALUES (?, ?, ?)")
      for (i <- 0 until 500) {
        pa.setLong(1, i); pa.setString(2, s"owner$i"); pa.setDouble(3, i * 1.25)
        pa.addBatch()
      }
      pa.executeBatch()
      val pl = sc.prepareStatement("INSERT INTO ledger VALUES (?, ?, ?)")
      for (i <- 0 until 1200) {
        pl.setLong(1, i % 100); pl.setInt(2, i / 100); pl.setDouble(3, i * 0.5)
        pl.addBatch()
      }
      pl.executeBatch()
      st.executeUpdate("INSERT INTO notes VALUES ('skip me')")
      st.close()
    } finally sc.close()

    // --- the reference's real two-URL flow, end to end
    graft.app.ConverterApp.run(
      Array(srcUrl, dstUrl, "DropAndRecreate", "--yes"), spark)

    // --- verify the DESTINATION over JDBC only
    val dc = DriverManager.getConnection(dstUrl)
    try {
      def one(sql: String): (Long, Double) = {
        val rs = dc.createStatement().executeQuery(sql)
        rs.next(); val r = (rs.getLong(1), rs.getDouble(2)); rs.close(); r
      }
      val (na, sa) = one(
        "SELECT COUNT(*), SUM(balance) FROM accounts")
      assert(na == 500L && math.abs(sa - (0 until 500).map(_ * 1.25).sum) < 1e-6)
      val (ol, _) = one("SELECT COUNT(*), SUM(LENGTH(owner)) FROM accounts")
      assert(ol == 500L)
      val (nl, sl) = one("SELECT COUNT(*), SUM(amount) FROM ledger")
      assert(nl == 1200L && math.abs(sl - (0 until 1200).map(_ * 0.5).sum) < 1e-6)
      // the secondary index carried through stage-2 DDL
      val seen = Catalog.introspectTable(dc, Some("APP"), "ACCOUNTS")
      assert(seen.indexes.exists(i =>
        i.name.equalsIgnoreCase("idx_accounts_owner") &&
          i.columns.map(_._1.toUpperCase) == Seq("OWNER")))
      // composite PK survived
      assert(Catalog.introspectTable(dc, Some("APP"), "LEDGER")
        .primaryKey.map(_.toUpperCase) == Seq("ACCT_ID", "SEQ"))
      // the key and indexes built after the load match the source's:
      // key columns and order; index names, columns, direction, uniqueness
      val source = DriverManager.getConnection(srcUrl)
      try for (t <- Seq("ACCOUNTS", "LEDGER")) {
        val want = Catalog.introspectTable(source, Some("APP"), t)
        val got = Catalog.introspectTable(dc, Some("APP"), t)
        assert(got.primaryKey == want.primaryKey, t)
        assert(got.indexes == want.indexes, t)
      } finally source.close()
      assert(Catalog.introspectTable(dc, Some("APP"), "LEDGER").indexes == Seq(
        graft.catalog.IndexSpec("UX_LEDGER_AMOUNT", Seq(("AMOUNT", false), ("SEQ", true)),
          unique = true)))
      // the PK-less table was skipped, as the reference does
      assert(!Catalog.listTables(dc, Dialect.Derby)
        .map(_._2.toUpperCase).contains("NOTES"))

      // J1/J2 on a second run: every source table already in the
      // destination (matched on upper-cased name) keeps its rows under
      // SkipExisting — no DDL, no copy
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.app.ConverterApp.run(Array(srcUrl, dstUrl, "SkipExisting"), spark)
      }
      val log = buf.toString("UTF-8")
      for (t <- Seq("ACCOUNTS", "LEDGER"))
        assert(log.contains(s"[convert] $t: data skipped (mode=SkipExisting"), log)
      assert(log.contains("[convert] TOTAL: 0 records, 0 bytes"), log)
      assert(one("SELECT COUNT(*), SUM(balance) FROM accounts") == ((na, sa)))
      assert(one("SELECT COUNT(*), SUM(amount) FROM ledger") == ((nl, sl)))
    } finally dc.close()
  }

  test("ConverterApp SkipAll into an empty destination creates every table " +
      "with its key and indexes, and copies no row") {
    val dstUrl = "jdbc:derby:memory:graftSkipAll"
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.app.ConverterApp.run(Array(sfDir, dstUrl, "SkipAll"), spark)
    }
    val log = out.toString("UTF-8")
    // lineitem has no enforceable key and embeddings no JDBC mapping:
    // neither is created
    val created = Tables.names.filterNot(Set("lineitem", "embeddings"))
    val dc = DriverManager.getConnection(dstUrl)
    try {
      assert(Catalog.listTables(dc, Dialect.Derby).map(_._2.toUpperCase).toSet ==
        created.map(_.toUpperCase).toSet)
      for (t <- created) {
        val T = t.toUpperCase
        assert(log.contains(s"[convert] $t: data skipped (mode=SkipAll"), log)
        val seen = Catalog.introspectTable(dc, Some("APP"), T)
        assert(seen.primaryKey == Tables.primaryKeys(t).map(_.toUpperCase), T)
        assert(seen.indexes == Tables.indexes.getOrElse(t, Nil).map(ix =>
          ix.copy(name = ix.name.toUpperCase,
            columns = ix.columns.map { case (c, asc) => (c.toUpperCase, asc) })), T)
        assert(graft.sources.JdbcHooks.count(dc, T) == 0L, T)
      }
    } finally dc.close()
    assert(log.contains("[convert] TOTAL: 0 records, 0 bytes"), log)
  }

  test("a duplicate key in the source fails the run loudly: SQLState 23505 " +
      "naming the table, and no TOTAL line") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dupkey")
    try {
      for (t <- Tables.names.filterNot(_ == "region"))
        java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, s"$t.parquet"),
          dir.resolve(s"$t.parquet"))
      // region with its first row twice
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      region.union(region.limit(1)).coalesce(1)
        .write.parquet(dir.resolve("region.parquet").toString)
      val out = new java.io.ByteArrayOutputStream()
      val ex = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        intercept[Exception] {
          graft.app.ConverterApp.run(Array(dir.toString,
            "jdbc:derby:memory:graftDupKey", "DropAndRecreate", "--yes"), spark)
        }
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toList
      assert(chain.exists {
        case q: java.sql.SQLException => q.getSQLState == "23505"
        case _ => false
      }, chain)
      assert(chain.exists(e => Option(e.getMessage).exists(_.contains("REGION"))), chain)
      assert(!out.toString("UTF-8").contains("[convert] TOTAL"), out.toString("UTF-8"))
    } finally {
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally files.close()
    }
  }

  test("ConverterApp JDBC mode sizes each table's copy by the reference's " +
      "worker formula: 1 write task for 5 rows, 3 for 25,000") {
    val srcUrl = "jdbc:derby:memory:graftFanSrc"
    val dstUrl = "jdbc:derby:memory:graftFanDst"
    val sizes = Map("FEW" -> 5, "MANY" -> 25000)
    val c = DriverManager.getConnection(srcUrl + ";create=true")
    try {
      for ((t, n) <- sizes) {
        c.createStatement().executeUpdate(
          s"CREATE TABLE $t (id BIGINT NOT NULL, v VARCHAR(16), PRIMARY KEY (id))")
        val ps = c.prepareStatement(s"INSERT INTO $t VALUES (?, ?)")
        for (i <- 0 until n) { ps.setLong(1, i); ps.setString(2, s"v$i"); ps.addBatch() }
        ps.executeBatch(); ps.close()
      }
    } finally c.close()

    // each table's copy runs its write job under the description
    // "convert <table>"; its tasks are the copy's read partitions
    val sc = spark.sparkContext
    val stageTable = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val tasks = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val Convert = "convert (\\w+)".r
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .collect { case Convert(t) => e.stageIds.foreach(stageTable.put(_, t)) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageTable.get(e.stageId)).foreach(tasks.merge(_, 1, _ + _))
    }
    Bridge.awaitListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      graft.app.ConverterApp.run(
        Array(srcUrl, dstUrl, "DropAndRecreate", "--yes"), spark)
      Bridge.awaitListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(tasks.asScala.toMap == Map("FEW" -> 1, "MANY" -> 3))

    def sig(u: String, t: String): (Long, Long, Long) = {
      val c = DriverManager.getConnection(u)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT COUNT(*), SUM(id), SUM(LENGTH(v)) FROM $t")
        rs.next(); val r = (rs.getLong(1), rs.getLong(2), rs.getLong(3)); rs.close(); r
      } finally c.close()
    }
    for ((t, n) <- sizes) {
      assert(sig(dstUrl, t) == sig(srcUrl, t))
      assert(sig(dstUrl, t)._1 == n.toLong)
    }
  }

  /** Runs ConverterApp and returns each copied table's
    * `[convert] <table>: <records> records, <bytes> bytes` pair. */
  private def convertTotals(args: Array[String]): Map[String, (Long, Long)] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.app.ConverterApp.run(args, spark)
    }
    val line = """\[convert\] (\w+): (\d+) records, (\d+) bytes,.*""".r
    buf.toString("UTF-8").linesIterator.collect {
      case line(t, r, b) => t.toUpperCase -> ((r.toLong, b.toLong))
    }.toMap
  }

  test("CopyReport records and bytes follow the reference byte rules (A3) " +
      "for every fixture table and every bound column type") {
    // the sf0.001 fixtures in fixture mode (lineitem has no enforceable
    // PK and is skipped). The pairs are those the external-Row pump
    // reported before the InternalRow pump replaced it.
    assert(convertTotals(Array(sfDir, "jdbc:derby:memory:graftBytesFx",
      "DropAndRecreate", "--yes")) == Map(
      "REGION" -> ((5L, 74L)), "NATION" -> ((25L, 615L)),
      "CUSTOMER" -> ((150L, 7639L)), "SUPPLIER" -> ((10L, 420L)),
      "PART" -> ((200L, 9357L)), "ORDERS" -> ((1500L, 68065L)),
      "EVENTS" -> ((1000L, 46519L)), "DOCUMENTS" -> ((500L, 164406L)),
      "TOTAL" -> ((3390L, 297095L))))

    // every type the pump binds, NULLs included, through a JDBC source
    val srcUrl = "jdbc:derby:memory:graftBytesSrc;create=true"
    val dstUrl = "jdbc:derby:memory:graftBytesDst"
    val cols = "id, flag, small, num, dbl, amt, txt, day, ts, bin"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      st.executeUpdate("""CREATE TABLE all_types (
        | id BIGINT NOT NULL PRIMARY KEY, flag BOOLEAN, small SMALLINT,
        | num INTEGER, dbl DOUBLE, amt DECIMAL(12, 0), txt VARCHAR(40),
        | day DATE, ts TIMESTAMP, bin VARCHAR(16) FOR BIT DATA)""".stripMargin)
      st.close()
      val ps = sc.prepareStatement(s"INSERT INTO all_types ($cols) " +
        "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
      for (i <- 0 until 60) {
        ps.setLong(1, i)
        if (i % 7 == 3) (2 to 10).foreach(ps.setObject(_, null))
        else {
          ps.setBoolean(2, i % 2 == 0); ps.setShort(3, (i - 30).toShort)
          ps.setInt(4, i * 1000); ps.setDouble(5, i * 0.25)
          ps.setBigDecimal(6, java.math.BigDecimal.valueOf(i * 123456789L))
          ps.setString(7, Seq("plain", "héllo", "日本語", "o'brien")(i % 4) + i)
          ps.setDate(8, java.sql.Date.valueOf(s"2024-0${1 + i % 9}-1${i % 10}"))
          ps.setTimestamp(9, java.sql.Timestamp.valueOf(
            s"2024-03-01 12:${10 + i % 50}:45.${100000 + i}"))
          ps.setBytes(10, Array.tabulate(i % 5)(k => (i * 31 + k).toByte))
        }
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    } finally sc.close()
    assert(convertTotals(Array(srcUrl, dstUrl, "DropAndRecreate", "--yes")) ==
      Map("ALL_TYPES" -> ((60L, 3517L)), "TOTAL" -> ((60L, 3517L))))
    def dump(u: String): Seq[String] = {
      val c = DriverManager.getConnection(u)
      try {
        val rs = c.createStatement().executeQuery(s"SELECT $cols FROM all_types ORDER BY id")
        val out = Iterator.continually(rs.next()).takeWhile(identity).map { _ =>
          (1 to 10).map(k => rs.getObject(k) match {
            case b: Array[Byte] => b.mkString("[", ",", "]")
            case v => String.valueOf(v)
          }).mkString("|")
        }.toVector
        rs.close(); out
      } finally c.close()
    }
    assert(dump(dstUrl) == dump(srcUrl))
  }

  test("ConverterApp fails fast when two source schemas share a table name " +
      "(unqualified destination would collide)") {
    val srcUrl = "jdbc:derby:memory:graftColl;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    try {
      val st = sc.createStatement()
      for (t <- Seq("S1.USERS", "S2.USERS"))
        try st.executeUpdate(s"DROP TABLE $t") catch { case _: Exception => }
      for (s <- Seq("S1", "S2")) {
        try st.executeUpdate(s"CREATE SCHEMA $s") catch { case _: Exception => }
        st.executeUpdate(
          s"CREATE TABLE $s.users (id BIGINT NOT NULL, PRIMARY KEY (id))")
        st.executeUpdate(s"INSERT INTO $s.users VALUES (1)")
      }
      st.close()
    } finally sc.close()
    val e = intercept[IllegalArgumentException] {
      graft.app.ConverterApp.run(
        Array(srcUrl, "jdbc:derby:memory:graftCollDst;create=true",
          "DropAndRecreate", "--yes"), spark)
    }
    assert(e.getMessage.contains("USERS"), e.getMessage)
  }

  /** A destination whose pre-created, empty CUSTOMER has
    * `c_name VARCHAR(5)`: SkipExisting copies into it, and every c_name
    * is longer than 5 characters, so that INSERT fails on truncation. */
  private def truncatingDestination(db: String): String = {
    val dstUrl = s"jdbc:derby:memory:$db"
    val c = DriverManager.getConnection(dstUrl + ";create=true")
    try c.createStatement().executeUpdate(
      """CREATE TABLE customer (
        | c_custkey BIGINT NOT NULL, c_name VARCHAR(5),
        | c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR(16),
        | PRIMARY KEY (c_custkey))""".stripMargin)
    finally c.close()
    dstUrl
  }

  private def assertTruncation(ex: Throwable): Unit = {
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("truncation")), messages)
  }

  private def poolThreads(): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    val poolThread = """pool-\d+-thread-\d+""".r
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && poolThread.matches(t.getName)).toSet
  }

  /** Waits up to 60 s for the table-worker threads started since
    * `before` to exit, and returns those still alive. */
  private def awaitPoolExit(before: Set[Thread]): Set[Thread] = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var alive = poolThreads() -- before
    while (alive.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      alive = poolThreads() -- before
    }
    alive
  }

  test("a failed table copy leaves no table-worker thread alive") {
    val dstUrl = truncatingDestination("graftPoolLeak")
    val before = poolThreads()
    assertTruncation(intercept[Exception] {
      graft.app.ConverterApp.run(Array(sfDir, dstUrl, "SkipExisting"), spark)
    })
    // a shut-down pool's threads exit once their copies finish, an open
    // pool's threads wait for work forever
    val leaked = awaitPoolExit(before)
    assert(leaked.isEmpty, leaked.map(_.getName))
  }

  test("a failed table copy is final: no Spark job runs and no table " +
      "reports a copy once run throws") {
    // every other table's copy is still in flight when CUSTOMER's
    // INSERT fails
    val dstUrl = truncatingDestination("graftCopyFailFinal")
    val before = poolThreads()
    // the table workers inherit this Console.out: they are started
    // inside the block
    val out = new java.io.ByteArrayOutputStream()
    val ex = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      intercept[Exception] {
        graft.app.ConverterApp.run(Array(sfDir, dstUrl, "SkipExisting"), spark)
      }
    }
    val activeAtThrow = spark.sparkContext.statusTracker.getActiveJobIds.toSeq
    val printedAtThrow = out.toString("UTF-8")
    assertTruncation(ex)
    assert(activeAtThrow.isEmpty, s"Spark jobs still running: $activeAtThrow")
    // a copy that outlived run reports once it finishes, before its
    // worker thread exits
    awaitPoolExit(before)
    val late = out.toString("UTF-8").drop(printedAtThrow.length)
      .linesIterator.filter(_.startsWith("[convert]")).toSeq
    assert(late.isEmpty, late)
  }

  test("DropAndRecreate without an explicit ack aborts before any DDL") {
    import graft.app.ConverterApp
    assert(ConverterApp.requireDestructiveAck(
      ConvertMode.DropAndRecreate, acked = false).isLeft)
    assert(ConverterApp.requireDestructiveAck(
      ConvertMode.DropAndRecreate, acked = true).isRight)
    assert(ConverterApp.requireDestructiveAck(
      ConvertMode.SkipExisting, acked = false).isRight)
  }

  test("upload worker deadline fails the copy instead of hanging (X6)") {
    val c = conn()
    c.createStatement().executeUpdate(
      "CREATE TABLE tiny_t (k BIGINT NOT NULL, PRIMARY KEY (k))")
    c.close()
    val src = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"))
    val cfg = ConverterConfig(uploadWorkerMaxWaitMinutes = 0,
      maxStatementsInOneJdbcBatch = 10)
    val ex = intercept[Throwable] {
      DataCopier.writeJdbc(src, url, "tiny_t", cfg, rowsPerCommit = 10L)
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("upload worker exceeded")),
      s"no deadline failure in: $messages")
  }

  test("writeJdbc: a failing INSERT batch rolls back and surfaces its own " +
      "error, not the connection close's") {
    import spark.implicits._
    val c = conn()
    c.createStatement().executeUpdate(
      "CREATE TABLE dup_t (k BIGINT NOT NULL, v VARCHAR(8), PRIMARY KEY (k))")
    c.createStatement().executeUpdate("INSERT INTO dup_t VALUES (3, 'old')")
    c.close()
    // one partition, one transaction: key 3 is already in the table, so
    // the batch's INSERT violates the primary key before any commit
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
    val e = intercept[Exception](DataCopier.writeJdbc(df, url, "dup_t"))
    val states = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case q: java.sql.SQLException => q.getSQLState }.toList
    assert(states.contains("23505") && !states.contains("25001"),
      s"SQLStates in the cause chain: $states")
    val left = conn()
    try {
      val rs = left.createStatement().executeQuery("SELECT k, v FROM dup_t")
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getLong(1) -> r.getString(2)).toList
      assert(rows == List(3L -> "old"), s"rolled-back table holds $rows")
    } finally left.close()
  }
}
