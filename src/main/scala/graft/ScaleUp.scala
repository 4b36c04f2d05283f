package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-experiment data generator: blow the fact tables of a fixture
  * directory up N× by unioning id-shifted copies, so the SAME bench
  * binary can measure each query at 1× vs N× and PERF.md can report
  * measured scaling exponents instead of plan-shape arguments.
  *
  * Copies are id-disjoint (ids shift by i·(max+1)) and content-decorrelated
  * so the blow-up doesn't manufacture adversarial duplicate structure
  * that no real corpus has at scale:
  *  - `documents.text` gets a per-copy letter substitution
  *    (`translate`: 5 vowel rotations × 20 consonant rotations = 100
  *    distinct transforms, pairwise-distinct for factor ≤ 100) —
  *    token/char counts and lengths are preserved, but shingles,
  *    hashes and minhash signatures decorrelate, so dedup candidate
  *    counts scale like a real corpus instead of like N identical
  *    crawls. Beyond factor 100 copies i and i+100 repeat content
  *    verbatim — widen the rotation alphabets before using larger
  *    factors. (The SCALING_r08 artifacts, kept in git history at
  *    commit 3e2f6268d7ba, predate the consonant axis: their factor-10 corpus had each text exactly
  *    twice, as PERF.md's caveats note.)
  *  - `embeddings.embedding` gets a small deterministic per-(copy, dim)
  *    perturbation — breaks exact-duplicate geometry, keeps the
  *    cluster structure the IVF/k-means paths bucket on.
  *  - `events` shifts `user_id` too (copies are disjoint user
  *    populations: 10× sessions/edges, same per-user density).
  *  - `lineitem`/`orders` shift the shared `orderkey` domain
  *    consistently; dimension tables (customer/part/supplier/nation/
  *    region) copy verbatim — the classic "facts grow, dims don't"
  *    scale-up, so dimension joins stay broadcast-able exactly as they
  *    would at 100 TB.
  * Copy 0 is the identity, so the 1× content is a subset of the N× dir.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <destDir> <factor>` */
object ScaleUp {

  private val vowels = "aeiou"
  private val consonants = "bcdfghjklmnpqrstvwxz"

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.start()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")
    def shift(df: DataFrame, idCols: Seq[String])(
        transform: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = df.cache()
      val strides = idCols.map { c =>
        c -> (base.agg(max(col(c))).collect()(0).getLong(0) + 1L)
      }
      val copies = (0 until factor).map { i =>
        val shifted = strides.foldLeft(base) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i.toLong * stride))
        }
        transform(shifted, i)
      }
      copies.reduce(_ unionAll _)
    }

    // per-copy substitution: vowel rotation (i mod 5) × consonant
    // rotation (i div 5 mod 20) — identity at i=0, pairwise-distinct
    // through i=99 (5 × 20 rotation combos), covering the 100× runs
    def rot(alpha: String, i: Int): String = {
      val k = i % alpha.length
      (alpha + alpha).substring(k, k + alpha.length)
    }

    write(shift(read("documents"), Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text", translate(col("text"),
        vowels + consonants, rot(vowels, i % 5) + rot(consonants, i / 5)))
    }, "documents")

    write(shift(read("embeddings"), Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding", expr(
        s"""transform(embedding, (x, j) ->
           |  cast(x + ((($i * 1009 + j * 31) % 13) - 6) * 0.002d as float))"""
          .stripMargin))
    }, "embeddings")

    write(shift(read("events"), Seq("event_id", "user_id"))((d, _) => d),
      "events")

    // lineitem and orders share the orderkey domain — one stride for both
    val orderStride = math.max(
      read("lineitem").agg(max(col("l_orderkey"))).collect()(0).getLong(0),
      read("orders").agg(max(col("o_orderkey"))).collect()(0).getLong(0)) + 1L
    def shiftBy(df: DataFrame, c: String): DataFrame =
      (0 until factor).map(i =>
        df.withColumn(c, col(c) + lit(i.toLong * orderStride)))
        .reduce(_ unionAll _)
    write(shiftBy(read("lineitem").cache(), "l_orderkey"), "lineitem")
    write(shiftBy(read("orders").cache(), "o_orderkey"), "orders")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    println(s"""{"scaled": $factor, "src": "$src", "dest": "$dest"}""")
    spark.stop()
  }
}
