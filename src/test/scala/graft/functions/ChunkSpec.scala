package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.functions.ContentChunks.content_chunks

class ChunkSpec extends SparkTestBase {

  test("chunks concatenate back to the original text") {
    val out = Tables(spark, sfDir, "documents")
      .select(col("text"), concat_ws("", content_chunks(col("text"))).as("rejoined"))
    assert(out.filter(col("text") =!= col("rejoined")).count() == 0)
  }

  test("chunk lengths respect min/max bounds (except the tail)") {
    val chunks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(content_chunks(col("text"))))
      .select(col("doc_id"), col("pos"), length(col("col")).as("len"))
    assert(chunks.filter(col("len") > ChunkImpl.MaxChunk).count() == 0)
    // every non-tail chunk is >= MinChunk
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val nonTail = chunks
      .withColumn("maxpos", max("pos").over(wMax))
      .filter(col("pos") < col("maxpos"))
    assert(nonTail.filter(col("len") < ChunkImpl.MinChunk).count() == 0)
  }

  test("content-defined property: identical passages chunk identically when shifted") {
    import spark.implicits._
    // high-entropy deterministic passage: periodic text can have no
    // boundary-hash hits at all (only 85 distinct windows in a repeated
    // sentence), which degenerates to position-dependent MaxChunk cuts
    val rnd = new scala.util.Random(7)
    val passage = Array.fill(600)(('a' + rnd.nextInt(26)).toChar).mkString
    val a = "PREFIX-A " + passage
    val b = "a totally different and much longer prefix sits here " + passage
    val byId = Seq((1, a), (2, b)).toDF("id", "t")
      .select(col("id"), content_chunks(col("t")).as("cs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    val (ca, cb) = (byId(1), byId(2))
    // after the prefixes diverge-then-resync, the chunk streams share
    // a long common suffix of identical chunks
    val common = ca.reverse.zip(cb.reverse).takeWhile { case (x, y) => x == y }
    assert(common.length >= 2,
      s"no shared chunks despite shared content:\nA=${ca.toSeq}\nB=${cb.toSeq}")
  }

  test("multi-byte text: chunks stay valid UTF-8 and rejoin losslessly " +
      "(boundaries never split a codepoint)") {
    import spark.implicits._
    // CJK + accents + emoji, long enough to force several boundaries
    val doc = ("数据处理引擎对多字节字符的切分必须落在码点边界上。" +
      "Érable déjà vu naïve façade. 🚀🎯 ").repeat(40)
    val out = Seq(doc).toDF("text")
      .select(content_chunks(col("text")).as("cs"),
        concat_ws("", content_chunks(col("text"))).as("rejoined"))
      .select(col("cs"), col("rejoined"),
        expr("transform(cs, c -> length(c))").as("charLens"))
      .head()
    assert(out.getString(1) == doc, "chunks must rejoin to the input")
    val chunks = out.getSeq[String](0)
    assert(chunks.length > 1, "expected multiple chunks")
    // every chunk round-trips through UTF-8 bytes unchanged — a chunk
    // cut mid-codepoint would produce replacement chars on re-decode
    chunks.foreach { c =>
      assert(new String(c.getBytes("UTF-8"), "UTF-8") == c &&
        !c.contains('�'), s"malformed chunk: ${c.take(20)}…")
    }
  }

  test("deterministic across runs") {
    val q = graft.SparkEntry.queries("text_chunk_dedup")(spark, sfDir)
    assert(q.collect().toSet == q.collect().toSet)
    assert(q.count() > 0) // shared vocab yields cross-doc repeated chunks
  }
}
