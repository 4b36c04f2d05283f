package graft.streaming

import scala.annotation.unused
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, CurationPipeline}

/** Incremental [[CurationPipeline]]: the same dedup → quality →
  * decontamination → quota → split → pack stages driven one micro-batch
  * at a time from `writeStream.foreachBatch`, with the cross-batch
  * facts — which content hashes exist, how many docs each source has
  * accepted, where each source's packed token axis currently ends —
  * carried as session state between batches. Under id-ordered arrival
  * (the append-ingest contract: a doc's id is its arrival order, which
  * is what every stage's "keep the lowest id" tie-break means), the
  * accumulated output after N batches is bit-identical to one batch
  * `CurationPipeline.curate` over the union of the batches —
  * `StreamingSpec` proves it on the fixtures.
  *
  * State layout (all under `stateDir`, all append-only so a batch never
  * rewrites files a concurrent lazy read may still enumerate):
  *  - `hashes/`  — one `content_hash` row per first-seen doc; the
  *    cross-batch dedup filter. At 100 TB this anti-join becomes
  *    [[graft.operators.Dedup.freshAgainstKnown]]'s bloom-pruned form —
  *    same semantics, the bloom only pre-prunes.
  *  - `quota/`   — per-batch `(source, n)` accepted-count deltas;
  *    read = one tiny sum per source, broadcast.
  *  - `offsets/` — per-batch `(source, tok_delta)` packed-token deltas;
  *    read = summed into `tok_base` for [[Curation.packSequences]]'s
  *    incremental form.
  * Each batch materializes its deduped slice (`localCheckpoint` — batch-
  * sized, never corpus-sized) BEFORE appending state, so the stage
  * computations can't observe their own batch's state writes. A
  * production deployment runs this inside a checkpointed streaming
  * query; exactly-once then comes from Spark's batchId-keyed commit log
  * plus making the four appends idempotent on batchId (skip if the
  * batch's marker exists) — noted here, not implemented, because the
  * fixture tests drive batches exactly once. */
final class StreamingCuration(
    benchmark: DataFrame, outDir: String, stateDir: String,
    idCol: String, textCol: String, sourceCol: String,
    minChars: Int = 100, minTokens: Int = 10, decontamK: Int = 5,
    seqLen: Long = 256L, decontamMode: String = "overlap",
    quotaPerSource: Option[Int] = None) extends Serializable {

  private val hashesDir = s"$stateDir/hashes"
  private val quotaDir = s"$stateDir/quota"
  private val offsetsDir = s"$stateDir/offsets"

  // Hadoop-FS existence, NOT java.io.File: state dirs live wherever the
  // pipeline writes (s3a://, hdfs://) — a local-file probe would read
  // "absent" there every batch and silently reset dedup/quota/offsets.
  private def readState(spark: SparkSession, dir: String): Option[DataFrame] =
    if (graft.operators.Similarity.pathExists(spark, dir))
      Some(spark.read.parquet(dir))
    else None

  /** The `foreachBatch` body: curate one micro-batch against the carried
    * state, append its packed train sequences to `outDir`, advance the
    * state. Usable directly:
    * {{{ stream.writeStream.foreachBatch(curator.processBatch _).start() }}}
    * `batchId` is unused; `foreachBatch` fixes the signature. */
  def processBatch(batch: DataFrame, @unused batchId: Long): Unit = {
    val spark = batch.sparkSession

    // 1. exact dedup — in-batch min-id representative per content hash,
    //    then drop anything a previous batch already claimed
    //    (first-arrived ≡ min-id under id-ordered arrival).
    val hashed = batch.withColumn("content_hash", md5(col(textCol)))
    val keep = hashed.groupBy("content_hash").agg(min(col(idCol)).as(idCol))
    val inBatch = hashed.join(keep, Seq("content_hash", idCol), "left_semi")
    val deduped = (readState(spark, hashesDir) match {
      case None => inBatch
      case Some(seen) => inBatch.join(seen, Seq("content_hash"), "left_anti")
    }).localCheckpoint() // freeze before this batch's state appends

    // 2. quality gate (per-doc, stateless)
    val quality = Curation.qualityFilter(deduped, idCol, textCol,
        minChars = minChars, minTokens = minTokens)
      .select(col("doc_id").as(idCol))
    val gated = deduped.join(quality, Seq(idCol), "left_semi")

    // 3. decontamination vs the static benchmark — the exact drop rule
    //    the batch pipeline uses (shared dispatch, per-doc so
    //    batch-decomposable)
    val dirty = CurationPipeline.dirtyIds(gated, benchmark, idCol, textCol,
      decontamK, decontamMode)
    val clean = gated.join(dirty, Seq(idCol), "left_anti")

    // 3b. per-source quota against the carried accepted counts: a doc is
    //     accepted while its source's running total stays within k.
    val quotad = quotaPerSource match {
      case None => clean
      case Some(k) =>
        val accepted = readState(spark, quotaDir)
          .map(_.groupBy(sourceCol).agg(sum("n").as("n_acc")))
        val ranked = Curation.groupQuota(clean, idCol, sourceCol, Int.MaxValue)
        val based = accepted match {
          case None => ranked.withColumn("n_acc", lit(0L))
          case Some(a) => ranked
            .join(broadcast(a), Seq(sourceCol), "left")
            .withColumn("n_acc", coalesce(col("n_acc"), lit(0L)))
        }
        based.filter(col("rn") + col("n_acc") <= k).drop("rn", "n_acc")
    }

    // 4. leak-safe split; 5. pack the train slice onto each source's
    //    carried token axis
    val train = quotad
      .withColumn("split", Curation.split(col(textCol)))
      .filter(col("split") === "train")
    val tokBase = readState(spark, offsetsDir)
      .map(_.groupBy(sourceCol).agg(sum("tok_delta").as("tok_base")))
    val packed = Curation.packSequences(train, idCol, textCol, sourceCol,
      seqLen, baseOffsets = tokBase)
    packed.write.mode("append").parquet(outDir)

    // advance state (append-only; deduped is checkpointed so these
    // writes can't feed back into this batch's own stages)
    deduped.select("content_hash").write.mode("append").parquet(hashesDir)
    if (quotaPerSource.isDefined)
      quotad.groupBy(sourceCol).agg(count(lit(1)).as("n"))
        .write.mode("append").parquet(quotaDir)
    train
      .select(col(sourceCol),
        graft.operators.TextAnalysis.tokenCount(col(textCol)).as("nt"))
      .groupBy(sourceCol).agg(sum("nt").as("tok_delta"))
      .write.mode("append").parquet(offsetsDir)
  }

  /** The accumulated packed output so far. */
  def packedSoFar(spark: SparkSession): DataFrame =
    spark.read.parquet(outDir)

  /** Fold the append-only state down to one file set per dir. Every
    * batch appends a file set to each state dir, so after N batches a
    * state read plans N files — harmless for tens of batches, file-
    * listing-bound for thousands (the same pressure `compactIndex`
    * relieves for tombstones). Folding is semantics-free: hashes
    * dedupe, quota/offset deltas sum (reads aggregate them anyway, so
    * pre-summing changes file counts, not results). Same write-then-
    * swap discipline as `Similarity.compactIndex`, and the same
    * QUIESCE contract: run between batches, not during one. */
  def compactState(spark: SparkSession): Unit = {
    // Hadoop-FS rename/delete (same discipline + failure handling as
    // Similarity.compactIndex): works on any supported filesystem, and
    // FS rename/delete signal failure by returning false, not throwing.
    def fold(dir: String)(agg: DataFrame => DataFrame): Unit =
      if (graft.operators.Similarity.pathExists(spark, dir)) {
        val tmp = s"$dir.compact"
        agg(spark.read.parquet(dir)).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val (dirP, fs) = graft.operators.Similarity.fsPath(spark, dir)
        val tmpP = new org.apache.hadoop.fs.Path(tmp)
        val oldP = new org.apache.hadoop.fs.Path(s"$dir.old")
        if (fs.exists(oldP) && !fs.delete(oldP, true))
          throw new java.io.IOException(
            s"compactState: cannot clear stale $oldP — aborting before any swap")
        if (!fs.rename(dirP, oldP))
          throw new java.io.IOException(
            s"compactState: rename $dirP -> $oldP failed; state unchanged")
        if (!fs.rename(tmpP, dirP)) {
          fs.rename(oldP, dirP) // roll the original back
          throw new java.io.IOException(
            s"compactState: rename $tmpP -> $dirP failed; original restored")
        }
        fs.delete(oldP, true) // best-effort cleanup; stale .old is harmless
        ()
      }
    fold(hashesDir)(_.distinct())
    fold(quotaDir)(_.groupBy(sourceCol).agg(sum("n").as("n")))
    fold(offsetsDir)(_.groupBy(sourceCol)
      .agg(sum("tok_delta").as("tok_delta")))
  }
}
