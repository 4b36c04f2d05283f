package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.functions.SketchExpressions._

/** The fused sketch kernels replace SQL-composed forms in the hot paths of
  * dedup / ANN. These tests pin bit-identity against the exact SQL
  * expressions they replaced, on real fixture data — the property the
  * DuckDB oracle compares rely on. */
class SketchKernelSpec extends SparkTestBase {

  test("char_shingles ≡ array_distinct(transform(sequence, substr)) on fixture docs") {
    val docs = Tables(spark, sfDir, "documents")
    val mismatches = docs
      .select(col("doc_id"),
        char_shingles(col("text"), 3).as("fast"),
        expr(
          """CASE WHEN length(text) >= 3
            | THEN array_distinct(transform(sequence(1, length(text) - 2),
            |      i -> substr(text, i, 3)))
            | ELSE array() END""".stripMargin).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("char_shingles edge cases: short, exact-length, repeated, multi-byte") {
    // register under a temp name to avoid clashing with extension wiring
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("char_shingles2",
      exprs => Shingles(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    val rows = spark.sql(
      """SELECT char_shingles2(s, 3) AS sh FROM VALUES
        | (''), ('ab'), ('abc'), ('aaaa'), ('héllo') AS t(s)""".stripMargin)
    val got = rows.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      Nil, Nil, List("abc"), List("aaa"), List("hél", "éll", "llo")))
  }

  test("dot_product and cosine_sim ≡ the SQL folds on fixture embeddings") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"))
    val pairs = a.crossJoin(b)
      .filter(col("a_id") < col("b_id") && col("b_id") < col("a_id") + 7)
    val mismatches = pairs
      .withColumn("dp_fast", dot_product(col("va"), col("vb")))
      .withColumn("dp_slow", expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (a, z) -> a + z)"))
      .withColumn("cs_fast", cosine_sim(col("va"), col("vb")))
      .withColumn("cs_slow", expr(
        """aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, z) -> acc + z)
          | / (sqrt(aggregate(va, 0D, (acc, x) -> acc + x * x))
          |  * sqrt(aggregate(vb, 0D, (acc, x) -> acc + x * x)))""".stripMargin))
      // bit-exact, not approximate: the oracle hash compare needs identity
      .filter(col("dp_fast") =!= col("dp_slow") || col("cs_fast") =!= col("cs_slow"))
      .count()
    assert(mismatches == 0)
  }

  /** Runs `body` once with generated code only (whole-stage codegen
    * on) and once fully interpreted (whole-stage off, expression
    * factories NO_CODEGEN), restoring both settings after each run. */
  private def underBothEvalModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        val saved = keys.map(k => k -> spark.conf.getOption(k))
        spark.conf.set(keys(0), mode)
        spark.conf.set(keys(1), wholeStage)
        try body(mode)
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }

  test("intersect_count ≡ size(array_intersect) on fixture shingle sets and " +
      "edge cases, both argument orders, generated and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sets = graft.operators.Dedup.shingleSets(
      Tables(spark, sfDir, "documents"), "doc_id", "text")
    // neighbouring ids in both orders (and each doc with itself)
    val fixturePairs = sets.select(col("doc_id").as("a_id"), col("shs").as("a"))
      .crossJoin(sets.select(col("doc_id").as("b_id"), col("shs").as("b")))
      .filter(abs(col("a_id") - col("b_id")) <= 2)
      .select("a", "b")
    // (a, b, expected count), each also run as (b, a)
    val edge: Seq[(Seq[String], Seq[String], Option[Int])] = Seq(
      (Seq(), Seq(), Some(0)), (Seq(), Seq("x"), Some(0)), (Seq(), Seq(null), Some(0)),
      (null, Seq("x"), None), (null, null, None), (null, Seq(), None),
      (Seq(null, "a"), Seq("a", "b"), Some(1)),          // NULL on one side
      (Seq("a", null), Seq(null, "b"), Some(1)),         // NULL on both sides
      (Seq(null, null, "a"), Seq(null, "a", "a"), Some(2)),
      (Seq("a", "a", "b"), Seq("a", "c"), Some(1)),      // duplicates on one side
      (Seq("a", "a"), Seq("a", "a", "a"), Some(1)),      // duplicates on both
      (Seq("a", "b", "c", "d"), Seq("d"), Some(1)),
      (Seq("hél", "éll", "llo"), Seq("éll", "llo", "lló"), Some(2)),  // multi-byte
      (Seq("\u00e9"), Seq("e\u0301"), Some(0)))          // same glyph, other bytes
    val schema = StructType(Seq(
      StructField("a", ArrayType(StringType, containsNull = true)),
      StructField("b", ArrayType(StringType, containsNull = true))))
    // an RDD source, not a LocalRelation: the optimizer would otherwise
    // evaluate both sides on the driver before either eval mode applies
    val edgePairs = spark.createDataFrame(spark.sparkContext.parallelize(
      edge.map { case (a, b, _) => Row(a, b) } ++
        edge.map { case (a, b, _) => Row(b, a) }, 2), schema)
    underBothEvalModes { mode =>
      val checked = fixturePairs.unionByName(edgePairs)
        .select(intersect_count(col("a"), col("b")).as("fast"),
          size(array_intersect(col("a"), col("b"))).as("slow"))
      val mismatches = checked.filter(!(col("fast") <=> col("slow"))).count()
      assert(mismatches == 0, s"under $mode")
      val edgeGot = edgePairs
        .select(intersect_count(col("a"), col("b"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
      assert(edgeGot == edge.map(_._3) ++ edge.map(_._3), s"under $mode")
      assert(checked.count() > edge.size * 2 + 100, "fixture pairs missing")
    }
  }

  test("intersect_count rejects arrays of anything but strings") {
    import org.apache.spark.sql.AnalysisException
    val df = spark.range(1).select(array(lit(1), lit(2)).as("ints"),
      array(lit("1")).as("strs"))
    Seq(("ints", "ints"), ("ints", "strs"), ("strs", "ints")).foreach {
      case (a, b) =>
        val e = intercept[AnalysisException](
          df.select(intersect_count(col(a), col(b))).collect())
        assert(e.getMessage.contains("intersect_count requires two ARRAY<STRING>"),
          e.getMessage)
    }
  }

  test("cosine_sim of a zero or empty vector is 0, never NaN (NaN would " +
      "outrank every real neighbor in a descending top-k)") {
    import spark.implicits._
    val rows = Seq(
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)),  // zero left
      (Array(1.0, 2.0, 3.0), Array(0.0, 0.0, 0.0)),  // zero right
      (Array.empty[Double], Array(1.0, 2.0, 3.0)))   // empty
      .toDF("va", "vb")
      .select(cosine_sim(col("va"), col("vb")).as("cs")).collect()
    rows.foreach(r => assert(r.getDouble(0) == 0.0, s"got ${r.getDouble(0)}"))
  }
}
