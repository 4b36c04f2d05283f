package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Pins the load-boundary invariant that broke round 6: `events.ts`
  * must surface from `Tables.apply` as LongType epoch NANOS regardless
  * of the fixture's physical parquet encoding (timestamp[ns] read as
  * raw long via `nanosAsLong`, or timestamp[us] read as TIMESTAMP_NTZ
  * and normalized by `Tables.normalizeTs`). All 19 downstream
  * `ts div …` sites depend on this. */
class FixtureSchemaSpec extends SparkTestBase {

  test("events.ts loads as LongType nanos from the driver fixture") {
    val ev = Tables(spark, sfDir, "events")
    assert(ev.schema("ts").dataType === LongType,
      s"events.ts must load as LongType nanos, got ${ev.schema("ts").dataType}")
    // values are epoch nanos: all within [2000-01-01, 2100-01-01) and
    // µs-aligned (both fixture encodings carry at most µs precision)
    val Row(lo: Long, hi: Long, misaligned: Long) = ev.agg(
      min("ts"), max("ts"),
      sum(when(col("ts") % 1000L =!= 0L, 1L).otherwise(0L))).head()
    assert(lo >= 946684800L * 1000000000L, s"min ts $lo predates 2000-01-01")
    assert(hi < 4102444800L * 1000000000L, s"max ts $hi past 2100-01-01")
    assert(misaligned === 0L, "ts values must be whole microseconds")
  }

  test("normalizeTs is the identity on an already-long ts") {
    import spark.implicits._
    val df = Seq((1L, 1700000000000000000L)).toDF("event_id", "ts")
    assert(Tables.normalizeTs(df).schema("ts").dataType === LongType)
    assert(Tables.normalizeTs(df).head().getLong(1) === 1700000000000000000L)
  }

  test("normalizeTs converts TIMESTAMP_NTZ micros to epoch nanos") {
    import spark.implicits._
    // 2023-11-14T22:13:20.123456 UTC = 1700000000.123456 epoch seconds
    val df = Seq(1L).toDF("event_id")
      .withColumn("ts",
        expr("make_timestamp_ntz(2023, 11, 14, 22, 13, 20.123456)"))
    assert(df.schema("ts").dataType === TimestampNTZType)
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === LongType)
    assert(out.head().getLong(1) === 1700000000123456000L)
  }

  test("normalizeTs converts TIMESTAMP (LTZ) micros to epoch nanos") {
    import spark.implicits._
    val df = Seq(1L).toDF("event_id")
      .withColumn("ts", expr("timestamp_micros(1700000000123456)"))
    assert(df.schema("ts").dataType === TimestampType)
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === LongType)
    assert(out.head().getLong(1) === 1700000000123456000L)
  }

  test("normalizeDates converts a long-nanos date column to TimestampType " +
      "and leaves timestamp-typed ones alone") {
    import spark.implicits._
    // ns-encoded drift case: raw long nanos → TimestampType micros
    val drifted = Seq((1L, 1700000000123456000L)).toDF("o_orderkey", "o_orderdate")
    val out = Tables.normalizeDates(drifted)
    assert(out.schema("o_orderdate").dataType === TimestampType)
    assert(out.select(expr("unix_micros(o_orderdate)")).head().getLong(0) ===
      1700000000123456L)
    // current encoding (timestamp) passes through normalizeDates untouched
    val orders = Tables(spark, sfDir, "orders")
    assert(Set[DataType](TimestampType, TimestampNTZType)
      .contains(orders.schema("o_orderdate").dataType))
  }

  test("tables with no ts column pass through untouched") {
    val li = Tables(spark, sfDir, "lineitem")
    assert(!li.schema.fieldNames.contains("ts"))
    assert(li.count() > 0)
  }

  // ---------------------------------------------------------------
  // Early-warning guard for the round-6 failure mode: the driver can
  // regenerate /root/testdata with different physical encodings
  // between rounds, and a type drift that analysis-errors 18 queries
  // shows up as SILENTLY MISSING correctness rows. This pins the
  // Spark-side type of every column the codebase does arithmetic or
  // date logic on, for all 10 tables — a regeneration that changes
  // any of them fails HERE first, with the exact column named.
  // (Date columns matter like ts did: if o_orderdate/l_shipdate ever
  // arrive ns-encoded, nanosAsLong surfaces them as LongType and every
  // TIMESTAMP-literal filter breaks — the mirror image of round 6.)
  // ---------------------------------------------------------------
  private val pinnedTypes: Map[String, Map[String, DataType]] = {
    def ts = Seq(TimestampType, TimestampNTZType) // either tz variant ok
    Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> LongType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> ts.head),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_shipdate" -> ts.head),
      "events" -> Map("event_id" -> LongType, "ts" -> LongType, // post-normalize
        "user_id" -> LongType, "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
  }

  test("every arithmetic-bearing fixture column loads with its pinned type") {
    val tsTypes: Set[DataType] = Set(TimestampType, TimestampNTZType)
    val drifts = for {
      (table, cols) <- pinnedTypes.toSeq
      schema = Tables(spark, sfDir, table).schema
      (name, want) <- cols.toSeq
      got = schema.find(_.name == name).map(_.dataType)
      ok = got.exists { g =>
        g == want ||
          // timestamp columns accept either tz variant (reader-config
          // dependent); a LongType here is exactly the ns-drift alarm
          (tsTypes.contains(want) && tsTypes.contains(g))
      }
      if !ok
    } yield s"$table.$name: expected $want, got ${got.getOrElse("MISSING")}"
    assert(drifts.isEmpty,
      s"fixture schema drift (regen changed encodings?):\n  ${drifts.mkString("\n  ")}")
  }

  /** The Spark jobs `body` starts, counted on a drained listener bus. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.awaitListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      Bridge.awaitListenerBus(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second Tables.apply of a table starts no Spark job") {
    Tables(spark, sfDir, "orders")
    assert(jobsOf(Tables(spark, sfDir, "orders")) === 0)
  }

  test("every fixture frame equals a plain parquet read, normalized") {
    Tables.names.foreach { t =>
      Tables(spark, sfDir, t)
      val memo = Tables(spark, sfDir, t)
      val plain = Tables.normalizeDates(Tables.normalizeTs(
        spark.read.parquet(s"$sfDir/$t.parquet")))
      assert(memo.schema === plain.schema, t)
      assert(memo.exceptAll(plain).isEmpty && plain.exceptAll(memo).isEmpty,
        s"$t: rows differ from the plain read")
    }
  }

  test("a fixture file rewritten at the same path loads with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fixture-rewrite")
    /** `df` as one parquet file at `dir/t.parquet`, the fixture layout. */
    def writeFixture(df: DataFrame, run: String): Unit = {
      val out = dir.resolve(run)
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).filter { f =>
        val n = f.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.findFirst().get()
      Files.copy(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    writeFixture(Seq(1L, 2L).toDF("a"), "w1")
    assert(Tables(spark, dir.toString, "t").schema.fieldNames.toSeq === Seq("a"))
    writeFixture(Seq(("x", 7)).toDF("a", "b"), "w2")
    val after = Tables(spark, dir.toString, "t")
    assert(after.schema.map(f => f.name -> f.dataType) ===
      Seq("a" -> StringType, "b" -> IntegerType))
    assert(after.collect().toSeq === Seq(Row("x", 7)))
  }
}
