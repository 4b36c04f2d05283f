package graft

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.functions.{array, col, lit}
import graft.functions.SketchExpressions.{char_shingles, cosine_sim, dot_product, minhash_sig, simhash64}
import graft.functions.{ContentChunks, MisraGries, RollingHash}

/** Audit of the injected SQL surface: every `injectFunction` kernel in
  * [[GraftExtensions]] must (a) register through Spark's OWN
  * `registerFunctions` path (the exact code `spark.sql.extensions`
  * runs — not a hand-maintained re-registration that can drift), and
  * (b) round-trip from one-line `spark.sql` text to the same result as
  * its Column-API form. The name set is enumerated FROM the extension
  * object, so adding an `injectFunction` without extending the audit
  * fails the coverage assertion here. */
class SqlSurfaceAuditSpec extends SparkTestBase {

  /** the injected builders, registered via the production path */
  private lazy val injectedNames: Set[String] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    import org.apache.spark.sql.graftbridge.Bridge
    // fresh empty registry → listFunction is exactly the injected set
    val probe = new SimpleFunctionRegistry
    Bridge.registerInjectedFunctions(ext, probe)
    // also register into the LIVE session so spark.sql sees them
    Bridge.registerInjectedFunctions(ext, spark.sessionState.functionRegistry)
    probe.listFunction().map(_.funcName).toSet
  }

  // forcing injectedNames here makes every test self-sufficient: a
  // single test run in isolation (-z) still registers the functions
  // instead of depending on an earlier test having touched the lazy val
  private def sql1(q: String) = { injectedNames; spark.sql(q).collect()(0) }

  test("the audit covers every injected function, enumerated from the extension") {
    val audited = Set("rolling_hash", "simhash64", "minhash_sig",
      "content_chunks", "cosine_sim", "dot_product", "char_shingles",
      "z_value", "heavy_hitters", "bottom_k")
    assert(injectedNames == audited,
      s"injected vs audited drift: +${injectedNames -- audited} -${audited -- injectedNames}")
  }

  test("rolling_hash: SQL == kernel") {
    assert(injectedNames.contains("rolling_hash"))
    assert(sql1("SELECT rolling_hash('graft')").getLong(0) ==
      RollingHash.hash("graft"))
  }

  test("simhash64: SQL == Column API") {
    val want = spark.range(1)
      .select(simhash64(array(lit("a"), lit("bb"), lit("c")))).collect()(0).getLong(0)
    assert(sql1("SELECT simhash64(array('a','bb','c'))").getLong(0) == want)
  }

  test("minhash_sig: SQL == Column API") {
    val want = spark.range(1)
      .select(minhash_sig(array(lit("x"), lit("y")), 8)).collect()(0).getSeq[Long](0)
    assert(sql1("SELECT minhash_sig(array('x','y'), 8)").getSeq[Long](0) == want)
  }

  test("content_chunks: SQL (default + explicit mask) == Column API; lossless cover") {
    val s = "ab" * 60
    val want = spark.range(1)
      .select(ContentChunks.content_chunks(lit(s))).collect()(0).getSeq[String](0)
    val got = sql1(s"SELECT content_chunks('$s')").getSeq[String](0)
    assert(got == want && got.mkString == s)
    val want15 = spark.range(1)
      .select(ContentChunks.content_chunks(lit(s), 0xFL)).collect()(0).getSeq[String](0)
    assert(sql1(s"SELECT content_chunks('$s', 15L)").getSeq[String](0) == want15)
  }

  test("cosine_sim: SQL == Column API") {
    val want = spark.range(1).select(
      cosine_sim(array(lit(1d), lit(2d), lit(3d)),
        array(lit(4d), lit(5d), lit(6d)))).collect()(0).getDouble(0)
    assert(sql1("SELECT cosine_sim(array(1D,2D,3D), array(4D,5D,6D))")
      .getDouble(0) == want)
  }

  test("dot_product: SQL == Column API") {
    val want = spark.range(1).select(
      dot_product(array(lit(1d), lit(2d)), array(lit(3d), lit(4d))))
      .collect()(0).getDouble(0)
    assert(sql1("SELECT dot_product(array(1D,2D), array(3D,4D))")
      .getDouble(0) == want && want == 11.0)
  }

  test("char_shingles: SQL == Column API") {
    val want = spark.range(1)
      .select(char_shingles(lit("abcabc"), 3)).collect()(0).getSeq[String](0)
    assert(sql1("SELECT char_shingles('abcabc', 3)").getSeq[String](0) == want)
  }

  test("z_value: SQL (default + explicit bits) == Layout.zValue Column form") {
    val want = spark.range(1)
      .select(graft.operators.Layout.zValue(lit(25L), lit(41L), 16))
      .collect()(0).getLong(0)
    assert(sql1("SELECT z_value(25L, 41L)").getLong(0) == want)
    val want8 = spark.range(1)
      .select(graft.operators.Layout.zValue(lit(25L), lit(41L), 8))
      .collect()(0).getLong(0)
    assert(sql1("SELECT z_value(25L, 41L, 8)").getLong(0) == want8)
  }

  test("heavy_hitters: SQL aggregate == Column API aggregate") {
    import spark.implicits._
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("s")
    df.createOrReplaceTempView("audit_hh")
    val want = df.select(MisraGries.heavy_hitters(col("s"), 8))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    val got = sql1("SELECT heavy_hitters(s, 8) FROM audit_hh")
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got == want && got.head == ("a", 3L))
  }

  test("bottom_k: SQL aggregate == Column API aggregate; keys match the " +
      "md5-prefix construction") {
    import spark.implicits._
    val df = Seq("a", "b", "a", "c", "d", "b").toDF("s")
    df.createOrReplaceTempView("audit_bk")
    val want = df.select(graft.functions.BottomK.bottom_k(col("s"), 3))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    val got = sql1("SELECT bottom_k(s, 3) FROM audit_bk")
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got == want)
    assert(got.size == 3)
    // duplicates collapse: 4 distinct values, sample holds the 3
    // smallest md5-prefix keys in ascending order
    assert(got.map(_._2) == got.map(_._2).sorted)
    got.foreach { case (item, key) =>
      assert(key == graft.functions.BottomK.key(item))
      // same value DuckDB computes: ('0x' || substr(md5(x),1,15))::BIGINT
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(item.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(key == java.lang.Long.parseLong(md5hex.take(15), 16))
    }
  }

  test("src/main reads one spark.graft.* session key: spark.graft.ann.indexDir") {
    val root = java.nio.file.Paths.get("src", "main")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repo root: no ${root.toAbsolutePath}")
    val keyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
    val keys = scala.util.Using.resource(java.nio.file.Files.walk(root)) { paths =>
      import scala.jdk.CollectionConverters._
      paths.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).flatMap { f =>
        keyLiteral.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1))
      }.toSet
    }
    assert(keys == Set("spark.graft.ann.indexDir"),
      s"session keys in src/main: ${keys.toSeq.sorted.mkString(", ")}")
  }
}
