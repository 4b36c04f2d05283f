package graft.sources

import java.sql.DriverManager

import org.apache.commons.lang3.ClassUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
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
  * planning over a composite PK, checksum fidelity and column pruning.
  * Every filter, aggregate, limit, sort and offset runs in Spark above
  * the scan, and its answer follows Spark's ordering, not the
  * database's. */
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

  /** Spark, not the database, computed `df`: its `graft-jdbc` scan
    * description carries no `Pushed` entry, and every name in `ops` ends
    * a Spark operator's node name in the executed plan. */
  private def assertSparkComputes(df: DataFrame, ops: String*): Unit = {
    val plan = df.queryExecution.executedPlan
    val scans = Bridge.deepCollect(plan) { case b: BatchScanExec => b.scan.description() }
    assert(scans.nonEmpty && scans.forall(d =>
      d.startsWith("graft-jdbc") && !d.contains("Pushed")), s"work pushed to the scan:\n$plan")
    val names = Bridge.deepCollect(plan) { case p => p.nodeName }
    ops.foreach(op => assert(names.exists(_.endsWith(op)), s"no Spark $op above the scan:\n$plan"))
  }

  test("filters run in Spark above the scan; none reach the source WHERE clause") {
    setup()
    val df = read().filter(col("a") < 10L && col("s").contains("row1"))
    assertSparkComputes(df, "Filter")
    val rows = df.collect()
    // a < 10 keeps rows 0..39 (a = i/4); of their names row0..row39,
    // "row1" is contained in row1 and row10..row19 → 11 rows
    assert(rows.length == 11, s"got ${rows.length}")
    // Derby reports uppercase column names — address by position
    assert(rows.forall(_.getString(2).contains("row1")))
  }

  test("grouped COUNT/MIN/MAX/SUM run in Spark over the partitioned scan") {
    setup()
    val df = read().groupBy("b").agg(
      count(lit(1)).as("n"), min("v").as("mn"),
      max("v").as("mx"), sum("a").as("sa"))
    assertSparkComputes(df, "HashAggregate")
    val got = df.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toMap
    // cross-check against the unpartitioned read
    val expect = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t").load()
      .groupBy("b").agg(count(lit(1)), min("v"), max("v"), sum("a"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toMap
    assert(got == expect)
    assert(got.keySet == Set(0, 1, 2, 3) && got(0)._1 == 250L)
  }

  test("global count(*) runs in Spark over a one-column scan") {
    setup()
    val df = read().agg(count(lit(1)).as("n"))
    assertSparkComputes(df, "HashAggregate")
    // the empty projection still SELECTs one column
    assert(Bridge.deepCollect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.output.size } == Seq(1))
    assert(df.collect()(0).getLong(0) == 1000L)
  }

  test("limit runs in Spark over the partitioned scan, alone and after a filter") {
    setup()
    val df = read().limit(7)
    assertSparkComputes(df, "Limit")
    assert(df.collect().length == 7)
    val filtered = read().filter(col("a") >= 100L).limit(3)
    assertSparkComputes(filtered, "Filter", "Limit")
    val rows = filtered.collect()
    assert(rows.length == 3 && rows.forall(_.getLong(0) >= 100L))
  }

  test("ORDER BY + LIMIT runs in Spark: the exact global top-n over 4 partitions") {
    setup()
    val df = read().orderBy(col("a").desc, col("b").asc).limit(5)
    assertSparkComputes(df, "TakeOrderedAndProject")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1).toLong))
    // rows are (a = i/4, b = i%4): global top-5 by (a desc, b asc)
    assert(got.toSeq == Seq((249L, 0L), (249L, 1L), (249L, 2L), (249L, 3L),
      (248L, 0L)))
  }

  test("offset runs in Spark for single-partition and partitioned reads alike") {
    setup()
    val one = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t")
      .option("pk", "a,b").option("partitions", "1").load()
      .orderBy("a", "b").offset(10).limit(4)
    assertSparkComputes(one, "TakeOrderedAndProject")
    assert(one.collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq ==
      (10 until 14).map(i => (i.toLong / 4, i.toLong % 4)))
    val many = read().orderBy("a", "b").offset(10).limit(4)
    assertSparkComputes(many, "TakeOrderedAndProject")
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
    assertSparkComputes(one, "TakeOrderedAndProject")
    // Spark orders: row999 > row998 > ... in binary UTF-8
    assert(one.collect().map(_.getString(2)).toSeq ==
      Seq("row999", "row998", "row997", "row996", "row995"))
  }

  test("limit(m).offset(n) runs in Spark: empty when n >= m, rows n " +
      "until m otherwise") {
    setup()
    val one = spark.read.format("graft-jdbc")
      .option("url", url).option("dbtable", "t")
      .option("pk", "a,b").option("partitions", "1").load()
    val degenerate = one.orderBy("a", "b").limit(4).offset(10)
    // Spark's optimizer proves it empty, so no scan reaches the source
    val dplan = degenerate.queryExecution.executedPlan
    assert(Bridge.deepCollect(dplan) { case b: BatchScanExec => b }.isEmpty &&
      Bridge.deepCollect(dplan) { case l: LocalTableScanExec => l }.nonEmpty,
      s"degenerate offset not answered by Spark:\n$dplan")
    assert(degenerate.collect().isEmpty) // first 4 rows, then skip 10
    val healthy = one.orderBy("a", "b").limit(10).offset(4)
    assertSparkComputes(healthy, "TakeOrderedAndProject")
    assert(healthy.collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq ==
      (4 until 10).map(i => (i.toLong / 4, i.toLong % 4)))
  }

  test("MIN/MAX and a string comparison follow Spark's binary order, not " +
      "the database's (Derby ranks U+FF5E above U+1F600)") {
    val ordUrl = "jdbc:derby:memory:graftDsv2Order;create=true"
    val names = Seq("\uD83D\uDE00", "\uFF5E", "abc") // U+1F600, U+FF5E, ASCII
    val c = DriverManager.getConnection(ordUrl)
    try {
      val st = c.createStatement()
      try st.executeUpdate("DROP TABLE o") catch { case _: Exception => }
      st.executeUpdate(
        "CREATE TABLE o (id INTEGER NOT NULL PRIMARY KEY, name VARCHAR(8))")
      st.close()
      val ps = c.prepareStatement("INSERT INTO o VALUES (?, ?)")
      for (i <- 0 until 12) { ps.setInt(1, i); ps.setString(2, names(i % 3)); ps.addBatch() }
      ps.executeBatch(); ps.close()
    } finally c.close()
    import spark.implicits._
    val local = (0 until 12).map(i => (i, names(i % 3))).toDF("ID", "NAME")
    def answers(df: DataFrame) = (
      df.agg(max("NAME"), min("NAME")).collect().toSeq,
      df.filter(col("NAME") > "\uFF5E").count())
    val want = answers(local)
    assert(want == (Seq(Row(names(0), "abc")), 4L)) // Spark's own order
    for (partitions <- Seq(1, 4)) {
      val df = spark.read.format("graft-jdbc")
        .option("url", ordUrl).option("dbtable", "o")
        .option("pk", "id").option("partitions", partitions.toString).load()
      assert(df.rdd.getNumPartitions == partitions)
      assert(answers(df) == want, s"$partitions partition(s)")
    }
  }

  test("the scan builder pushes down columns only: no filter, aggregate, " +
      "limit, top-n or offset pushdown") {
    import scala.jdk.CollectionConverters._
    val pushDowns = ClassUtils.getAllInterfaces(classOf[GraftJdbcScanBuilder]).asScala
      .map(_.getName).filter(_.startsWith("org.apache.spark.sql.connector.read.SupportsPushDown"))
      .toSet
    assert(pushDowns == Set(classOf[SupportsPushDownRequiredColumns].getName),
      s"pushdown interfaces: $pushDowns")
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
