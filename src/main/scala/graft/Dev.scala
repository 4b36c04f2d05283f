package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.operators.{Recall, Similarity}

/** Dev tooling, not library surface: one main with four subcommands, each
  * over the fixture directory SPARK_GRAFT_SF_DIR names (required) on the
  * [[GraftSession.start]] session.
  *
  *  - `profile <q>...` runs the named queries IN THE GIVEN ORDER in one
  *    session, [[Bench.passes]] passes each after Bench's untimed warmup,
  *    and prints a `[meta]` line, then per query
  *    `[probe] <q> min= med= max= | <persisted-block footprint>`
  *    (`tools/floor_report.py` reads these lines). The tool for "is
  *    query B slow because query A left state behind?";
  *    `SPARK_GRAFT_BENCH_K=2 ... profile <q>` times one query cold and
  *    warm.
  *  - `explain <outDir> <suffix> <q>...|all` writes each query's
  *    `explain("formatted")` to `<outDir>/<q>_<suffix>.txt` (the
  *    optimization rounds' `plans/r{N}/` evidence); `all` is every
  *    registered query. Plan build only: no jobs run beyond what planning
  *    needs.
  *  - `recall [docMod] [vecMod]` prints one JSON line: candidate-stage
  *    recall of the two approximate dedup pipelines against exact ground
  *    truth, on documents with doc_id % docMod == 0 (default 23) and
  *    embeddings with vec_id % vecMod == 0 (default 7). The defaults land
  *    a 10× sf0.1 corpus at 2–3k rows per stratum, inside
  *    [[Recall.maxStratum]]. Run it on a ScaleUp-rotated corpus: the
  *    fixture's construction makes recall 1.0 trivially.
  *  - `index-scale <indexDir> [rebuild]` prints one JSON line: builds a
  *    persisted ANN index over the embeddings with
  *    `Similarity.buildIndex`'s default quantizer (or reuses the one in
  *    `indexDir` unless `rebuild`), then times `sim_ann_ivf` served from
  *    the saved index against trained in-session.
  *
  * The subcommand, query names and SPARK_GRAFT_SF_DIR are checked before
  * the session starts. */
object Dev {

  val usage: String = "usage: Dev profile <q>... | " +
    "explain <outDir> <suffix> <q>...|all | recall [docMod] [vecMod] | " +
    "index-scale <indexDir> [rebuild]"

  private type Cmd = (SparkSession, String) => Unit

  def main(args: Array[String]): Unit = {
    def abort(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }
    val cmd = try parse(args) catch { case e: IllegalArgumentException => abort(e.getMessage) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      abort("SPARK_GRAFT_SF_DIR must name the fixture directory"))
    val spark = GraftSession.start()
    try cmd(spark, sfDir) finally spark.stop()
  }

  /** One subcommand against a caller-provided session and fixture
    * directory (main wraps this with the session lifecycle; tests call it
    * directly). Bad arguments throw IllegalArgumentException carrying
    * [[usage]] before anything runs. */
  def run(args: Array[String], spark: SparkSession, sfDir: String): Unit =
    parse(args)(spark, sfDir)

  private def parse(args: Array[String]): Cmd = args.toList match {
    case "profile" :: (qs @ _ :: _) =>
      val names = known(qs)
      profile(names, _, _)
    case "explain" :: outDir :: suffix :: (qs @ _ :: _) =>
      val names =
        if (qs == List("all")) SparkEntry.queries.keys.toSeq.sorted else known(qs)
      explain(Paths.get(outDir), suffix, names, _, _)
    case "recall" :: mods if mods.size <= 2 && mods.forall(_.toIntOption.exists(_ > 0)) =>
      val m = mods.map(_.toInt)
      recall(m.headOption.getOrElse(23), m.lift(1).getOrElse(7), _, _)
    case "index-scale" :: indexDir :: rest if rest == Nil || rest == List("rebuild") =>
      indexScale(indexDir, rest.nonEmpty, _, _)
    case _ => throw new IllegalArgumentException(usage)
  }

  private def known(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query: ${unknown.mkString(", ")}\n$usage")
    names
  }

  private def profile(names: Seq[String], spark: SparkSession, sfDir: String): Unit = {
    // floor_report.py lifts this line into the artifact's _meta
    println(s"[meta] ${RunMeta.json(spark, sfDir)}")
    Bench.warmup(spark, sfDir)
    val k = Bench.passes
    names.foreach { name =>
      val times = Seq.fill(k)(Bench.timePass(SparkEntry.queries(name), spark, sfDir))
      val sc = spark.sparkContext
      val info = sc.getRDDStorageInfo
      val footprint = s"persistedRDDs=${sc.getPersistentRDDs.size} " +
        s"storedBlocks=${info.map(_.numCachedPartitions).sum} " +
        s"mem=${info.map(_.memSize).sum / 1024 / 1024}MB"
      println(f"[probe] $name%-24s min=${times.min}%.3f " +
        f"med=${Bench.median(times)}%.3f max=${times.max}%.3f | $footprint")
    }
  }

  private def explain(outDir: Path, suffix: String, names: Seq[String],
      spark: SparkSession, sfDir: String): Unit = {
    Files.createDirectories(outDir)
    names.foreach { name =>
      val out = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(out, SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
      println(s"[explain] $name -> $out")
    }
  }

  private def recall(docMod: Int, vecMod: Int, spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % docMod === 0)
    // same parameters the registered dedup_minhash_lsh deploys
    val lsh = Recall.lshCandidateRecall(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, num = 3, den = 8).collect()(0)

    val emb = Tables(spark, sfDir, "embeddings")
    val asDoubles = expr("transform(embedding, x -> cast(x as double))").as("v")
    val vecs = emb.filter(col("vec_id") % vecMod === 0)
      .select(col("vec_id"), asDoubles)
    // deployed coarse quantizer: label-mean centroids over the FULL
    // corpus (what sharedStages trains), assignment restricted to the
    // stratum by the join inside ivfCandidateRecall
    val cent = Similarity.meanCentroids(
      emb.select(col("label"), asDoubles)).persist()
    // the recall/cost dial: nprobe=1 is dedup_semantic as deployed
    // (single-bucket SemDeDup); 2 and 4 measure what multi-probe
    // assignment buys back at bucket boundaries. tau=0.3 is the
    // deployed threshold (loose — many moderate-similarity pairs
    // straddle buckets); tau=0.8 is the near-duplicate regime where
    // true pairs are geometrically close and bucketing should hold.
    val ivfByProbe = Seq(1, 2, 4).map { p =>
      p -> Recall.ivfCandidateRecall(vecs, Similarity.ivfAssignN(vecs, cent, p),
        tau = 0.3).collect()(0)
    }
    val ivfNearDup = Recall.ivfCandidateRecall(vecs,
      Similarity.ivfAssignN(vecs, cent, 1), tau = 0.8).collect()(0)
    cent.unpersist(false)

    def j(r: Row): String = {
      val rec = if (r.isNullAt(4)) "null" else f"${r.getDouble(4)}%.4f"
      s"""{"n_docs":${r.getLong(0)},"n_truth":${r.getLong(1)},""" +
        s""""n_cand":${r.getLong(2)},"n_hit":${r.getLong(3)},"recall":$rec}"""
    }
    val probes = ivfByProbe.map { case (p, r) => s""""probe$p":${j(r)}""" }
      .mkString(",")
    println(s"""{"sf_dir":"$sfDir","doc_mod":$docMod,"vec_mod":$vecMod,""" +
      s""""lsh":${j(lsh)},"ivf_tau03":{$probes},""" +
      s""""ivf_tau08_probe1":${j(ivfNearDup)}}""")
  }

  private def indexScale(indexDir: String, rebuild: Boolean,
      spark: SparkSession, sfDir: String): Unit = {
    def secs[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val vecs = Tables(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
    val (stats, buildSec) =
      if (rebuild || !Similarity.pathExists(spark, s"$indexDir/centroids.parquet"))
        secs(Similarity.buildIndex(vecs, indexDir))
      else (Similarity.indexStats(spark, indexDir), 0.0)

    def run(s: SparkSession): Double = {
      val (_, t) = secs {
        SparkEntry.queries("sim_ann_ivf")(s, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      Similarity.releaseStages(s)
      t
    }
    // served: fresh session pinned to the saved index (shared stages
    // come straight off parquet — zero training in the plan)
    val served = spark.newSession()
    served.conf.set("spark.graft.ann.indexDir", indexDir)
    val warmup = run(served) // parquet-reader/codegen init
    val serveSec = run(served)
    // trained: same query with no index conf — the in-session path
    val trainSec = run(spark.newSession())
    def r2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"n_vectors":${stats.nVectors},""" +
      s""""n_centroids":${stats.nCentroids},""" +
      s""""imbalance":${r2(stats.imbalance)},""" +
      s""""build_sec":${r2(buildSec)},""" +
      s""""warmup_sec":${r2(warmup)},""" +
      s""""serve_sec":${r2(serveSec)},""" +
      s""""train_sec":${r2(trainSec)},""" +
      s""""sf":"$sfDir"}""")
  }
}
