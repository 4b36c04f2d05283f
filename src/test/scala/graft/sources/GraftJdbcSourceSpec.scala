package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import graft.SparkTestBase

/** Records the per-connection beforeFetch calls the V2 reader must make
  * (the snapshot-pin contract) — scoped to one in-memory Derby URL so it
  * never shadows the stock Derby dialect elsewhere. */
object PinRecordingDialect extends JdbcDialect {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var lastProps: Map[String, String] = Map.empty
  // EVERY invocation's props — a last-write-only record would let an
  // unpinned probe connection hide behind a later pinned reader call
  val allProps = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
  override def canHandle(url: String): Boolean = url.contains("graftDsv2Pin")
  override def beforeFetch(connection: java.sql.Connection,
      properties: Map[String, String]): Unit = {
    calls.incrementAndGet()
    lastProps = properties
    allProps.add(properties)
  }
  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }
}

/** A dialect whose `beforeFetch` refuses every connection it is handed,
  * recording each one, so a test can check the failed reader closed it. */
object RefusingFetchDialect extends JdbcDialect {
  val conns = new java.util.concurrent.ConcurrentLinkedQueue[java.sql.Connection]()
  override def canHandle(url: String): Boolean = url.contains("graftReaderLeak")
  override def beforeFetch(connection: java.sql.Connection,
      properties: Map[String, String]): Unit = {
    conns.add(connection)
    throw new IllegalStateException("beforeFetch refused")
  }
  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }
}

/** The DataSource V2 JDBC read against embedded Derby: partition
  * planning over a composite PK, checksum fidelity, column pruning,
  * and filter pushdown. */
class GraftJdbcSourceSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftDsv2;create=true"

  private def setup(): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate("DROP TABLE t") catch { case _: Exception => }
      st.executeUpdate(
        """CREATE TABLE t (
          | a BIGINT NOT NULL, b INTEGER NOT NULL, s VARCHAR(32),
          | v DOUBLE, PRIMARY KEY (a, b))""".stripMargin)
      val ps = c.prepareStatement("INSERT INTO t VALUES (?, ?, ?, ?)")
      for (i <- 0 until 1000) {
        ps.setLong(1, i / 4); ps.setInt(2, i % 4)
        ps.setString(3, s"row$i"); ps.setDouble(4, i * 0.5)
        ps.addBatch()
      }
      ps.executeBatch(); st.close()
    } finally c.close()
  }

  private def read() = spark.read.format("graft-jdbc")
    .option("url", url).option("dbtable", "t")
    .option("pk", "a,b").option("partitions", "4").load()

  test("composite-PK partition planning: 4 disjoint slices, full fidelity") {
    setup()
    val df = read()
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 1000)
    // no dup/loss across partition boundaries: checksum both key cols
    val sums = df.agg(sum("a"), sum("b"), sum(length(col("s")))).collect()(0)
    assert(sums.getLong(0) == (0L until 1000L).map(_ / 4).sum)
    assert(sums.getLong(1) == (0 until 1000).map(_ % 4).sum)
    // per-partition rows are a real split, not 1000+empty
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.count(_ > 0) >= 3, s"degenerate split: ${perPart.toSeq}")
  }

  test("column pruning reaches the source SELECT list") {
    setup()
    val df = read().select("s")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") || df.columns.sameElements(Array("s")))
    assert(df.collect().length == 1000)
    // schema of the scan output is just the pruned column
    assert(df.queryExecution.executedPlan.output.map(_.name) == Seq("s"))
  }

  test("filters compile into the source WHERE clause; residuals stay in Spark") {
    setup()
    val df = read().filter(col("a") < 10L && col("s").contains("row1"))
    val desc = df.queryExecution.executedPlan.toString
    // the comparison filter is pushed (scan description carries it);
    // StringContains is not compiled and must remain a Spark Filter
    assert(desc.contains("PushedFilters") || desc.contains("graft-jdbc"))
    val rows = df.collect()
    // a < 10 keeps rows 0..39 (a = i/4); of their names row0..row39,
    // "row1" is contained in row1 and row10..row19 → 11 rows
    assert(rows.length == 11, s"got ${rows.length}")
    // Derby reports uppercase column names — address by position
    assert(rows.forall(_.getString(2).contains("row1")))
  }

  test("aggregate pushdown: COUNT/MIN/MAX/SUM group on the database, merge in Spark") {
    setup()
    val df = read().groupBy("b").agg(
      count(lit(1)).as("n"), min("v").as("mn"),
      max("v").as("mx"), sum("a").as("sa"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), s"aggregates not pushed:\n$plan")
    val got = df.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toMap
    // cross-check against the naive full-scan aggregation
    val expect = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t").load()
      .groupBy("b").agg(count(lit(1)), min("v"), max("v"), sum("a"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toMap
    assert(got == expect)
    assert(got.keySet == Set(0, 1, 2, 3) && got(0)._1 == 250L)
  }

  test("global count(*) pushes down without a GROUP BY") {
    setup()
    val df = read().agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), s"count not pushed:\n$plan")
    assert(df.collect()(0).getLong(0) == 1000L)
  }

  test("limit pushdown: FETCH FIRST reaches each partition query, " +
      "global limit still exact") {
    setup()
    val df = read().limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"), s"limit not pushed:\n$plan")
    assert(df.collect().length == 7) // partial push: Spark applies the final 7
    // limit composes with a pushed filter
    val filtered = read().filter(col("a") >= 100L).limit(3)
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedLimit: 3"))
    val rows = filtered.collect()
    assert(rows.length == 3 && rows.forall(_.getLong(0) >= 100L))
  }

  test("top-n pushdown: ORDER BY + LIMIT compile to the source; " +
      "per-partition top-n merges to the exact global answer") {
    setup()
    val df = read().orderBy(col("a").desc, col("b").asc).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toUpperCase.contains("PUSHEDTOPN: [\"A\" DESC") &&
      plan.contains("PushedLimit: 5"), s"top-n not pushed:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1).toLong))
    // rows are (a = i/4, b = i%4): global top-5 by (a desc, b asc)
    assert(got.toSeq == Seq((249L, 0L), (249L, 1L), (249L, 2L), (249L, 3L),
      (248L, 0L)))
  }

  test("offset pushdown: single-partition reads push OFFSET, " +
      "partitioned reads refuse it") {
    setup()
    val one = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t")
      .option("pk", "a,b").option("partitions", "1").load()
      .orderBy("a", "b").offset(10).limit(4)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PushedOffset: 10"), s"offset not pushed:\n$plan")
    assert(one.collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq ==
      (10 until 14).map(i => (i.toLong / 4, i.toLong % 4)))
    // with 4 partitions a per-partition OFFSET would drop rows — refused
    val many = read().orderBy("a", "b").offset(10).limit(4)
    assert(!many.queryExecution.executedPlan.toString.contains("PushedOffset"))
    assert(many.collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq ==
      (10 until 14).map(i => (i.toLong / 4, i.toLong % 4)))
  }

  test("top-n on a string sort key is NOT pushed (collation can differ " +
      "from Spark's binary ordering)") {
    setup()
    val one = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t")
      .option("pk", "a,b").option("partitions", "1").load()
      .orderBy(col("s").desc).limit(5)
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedTopN"), s"string top-n wrongly pushed:\n$plan")
    // Spark orders: row999 > row998 > ... in binary UTF-8
    assert(one.collect().map(_.getString(2)).toSeq ==
      Seq("row999", "row998", "row997", "row996", "row995"))
  }

  test("limit(m).offset(n) with n >= m refuses the offset push " +
      "(would be a malformed FETCH NEXT <= 0) and returns empty") {
    setup()
    val one = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t")
      .option("pk", "a,b").option("partitions", "1").load()
    val degenerate = one.orderBy("a", "b").limit(4).offset(10)
    val plan = degenerate.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedOffset"), s"offset wrongly pushed:\n$plan")
    assert(degenerate.collect().isEmpty) // first 4 rows, then skip 10
    // the healthy direction still pushes both and stays exact
    val healthy = one.orderBy("a", "b").limit(10).offset(4)
    val hplan = healthy.queryExecution.executedPlan.toString
    assert(hplan.contains("PushedOffset: 4"), s"offset not pushed:\n$hplan")
    assert(healthy.collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq ==
      (4 until 10).map(i => (i.toLong / 4, i.toLong % 4)))
  }

  private val pinUrl = "jdbc:derby:memory:graftDsv2Pin;create=true"

  /** 100-row single-PK table behind the beforeFetch-recording dialect. */
  private def setupPinned(): Unit = {
    val c = DriverManager.getConnection(pinUrl)
    try {
      val st = c.createStatement()
      try st.executeUpdate("DROP TABLE t") catch { case _: Exception => }
      st.executeUpdate(
        "CREATE TABLE t (a BIGINT NOT NULL, v DOUBLE, PRIMARY KEY (a))")
      val ps = c.prepareStatement("INSERT INTO t VALUES (?, ?)")
      for (i <- 0 until 100) { ps.setLong(1, i); ps.setDouble(2, i); ps.addBatch() }
      ps.executeBatch(); st.close()
    } finally c.close()
  }

  test("dialect beforeFetch (snapshot-pin contract) runs on every " +
      "partition connection with the source options") {
    setupPinned()
    PinRecordingDialect.register()
    PinRecordingDialect.calls.set(0)
    PinRecordingDialect.allProps.clear()
    val df = spark.read.format("graft-jdbc")
      .option("url", pinUrl).option("dbtable", "t")
      .option("pk", "a").option("partitions", "4")
      .option(SpannerDialect.ReadTimestampProperty, "2026-01-01T00:00:00Z")
      .load()
    assert(df.count() == 100)
    // 4 partition-reader connections + the split-point probe connection
    // (the reference pins every partitioned read path, probes included;
    // the exact count is pinned by the probe-once test below)
    assert(PinRecordingDialect.calls.get() >= 5,
      s"beforeFetch ran ${PinRecordingDialect.calls.get()} times, want >= 5 " +
        "(one per partition connection plus the boundary probe)")
    // EVERY connection — the 4 partition readers AND the split-point
    // probe — must see the pin option; a single unpinned call means one
    // connection read a different database state than the others
    import scala.jdk.CollectionConverters._
    val unpinned = PinRecordingDialect.allProps.asScala.zipWithIndex.filterNot {
      case (props, _) => props.exists {
        case (k, v) => k.equalsIgnoreCase(SpannerDialect.ReadTimestampProperty) &&
          v == "2026-01-01T00:00:00Z"
      }
    }
    assert(unpinned.isEmpty,
      s"beforeFetch call(s) without the pin option: $unpinned")
  }

  test("a partitioned read runs its split probe once: 1 probe + 4 " +
      "partition connections") {
    setupPinned()
    PinRecordingDialect.register()
    PinRecordingDialect.calls.set(0)
    spark.read.format("graft-jdbc")
      .option("url", pinUrl).option("dbtable", "t")
      .option("pk", "a").option("partitions", "4").load()
      .write.format("noop").mode("overwrite").save()
    // physical planning copies the scan node and each copy asks for the
    // partitions; an unmemoized plan probes the database twice (6 calls)
    assert(PinRecordingDialect.calls.get() == 5,
      s"beforeFetch ran ${PinRecordingDialect.calls.get()} times, want 5")
  }

  test("schema inference maps JDBC types through TypeMapper") {
    setup()
    val df = read()
    assert(df.schema.map(f => (f.name.toLowerCase, f.dataType.typeName)) ==
      Seq(("a", "long"), ("b", "integer"), ("s", "string"), ("v", "double")))
  }

  test("a partition reader whose setup fails closes its connection") {
    val leakUrl = "jdbc:derby:memory:graftReaderLeak;create=true"
    val c = DriverManager.getConnection(leakUrl)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE lk (k BIGINT NOT NULL PRIMARY KEY)")
      st.executeUpdate("INSERT INTO lk VALUES (1), (2), (3)")
      st.close()
    } finally c.close()
    import scala.jdk.CollectionConverters._
    RefusingFetchDialect.register()
    RefusingFetchDialect.conns.clear()
    val e = intercept[Exception](spark.read.format("graft-jdbc")
      .option("url", leakUrl).option("dbtable", "lk").load().collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("beforeFetch refused")), messages)
    val conns = RefusingFetchDialect.conns.asScala.toSeq
    assert(conns.nonEmpty && conns.forall(_.isClosed),
      s"${conns.count(!_.isClosed)} of ${conns.size} reader connections left open")
  }
}
