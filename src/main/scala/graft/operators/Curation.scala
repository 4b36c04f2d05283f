package graft.operators

import org.apache.spark.sql.{functions, Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SketchExpressions

/** Training-data curation library: deterministic dataset splitting,
  * C4-style quality gating, and per-source quota sampling — the
  * selection passes that run between dedup and tokenization in a
  * large-corpus pipeline. All predicates are integer-exact (no RNG, no
  * floats), so every pass is reproducible across runs, engines, and
  * partitionings, and each is DuckDB-oracle-checked via the registered
  * `CurationQueries` wrappers. */
object Curation {

  /** Deterministic content-hash bucket in [0, buckets): the first 8 md5
    * hex digits as an integer. Stable across engines and re-partitioning,
    * and identical texts land in the same bucket — so exact duplicates
    * can never straddle a train/test boundary (split-leak-safe), which
    * is why content beats doc-id as the split key. */
  def hashBucket(text: Column, buckets: Int = 100): Column =
    graft.functions.HashFunctions.md5_prefix64(text, 8) % buckets

  /** train/val/test assignment by content-hash percentile */
  def split(text: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(text)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Stratified deterministic sampling: keep a doc when its content-hash
    * bucket (of 1000) falls under its group's per-mille rate — exact
    * per-group downsampling ratios with no RNG, reproducible across
    * engines and partitionings. A narrow filter over one scan. */
  def stratifiedHashSample(docs: DataFrame, textCol: String,
      groupCol: String, perMilleByGroup: Map[String, Int],
      defaultPerMille: Int): DataFrame = {
    val rate = perMilleByGroup.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPerMille)) { case (acc, (g, r)) =>
        when(col(groupCol) === g, lit(r)).otherwise(acc)
      }
    docs.filter(hashBucket(col(textCol), 1000) < rate)
  }

  /** C4-style quality gate: minimum length and token count, bounded
    * punctuation density (per-mille, integer cross-multiplied). Returns
    * passing docs with their signals — a narrow filter over one scan. */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
      minChars: Int = 300, minTokens: Int = 30,
      maxPunctPerMille: Int = 50): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol).as("doc_id"),
        length(t).cast("long").as("n_chars_f"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.charClassCount(t, "[.,!?;:]").as("n_punct"))
      .filter(col("n_chars_f") >= minChars && col("n_tokens") >= minTokens &&
        col("n_punct") * 1000 <= col("n_chars_f") * maxPunctPerMille)
  }

  /** Hashed bag-of-words linear quality model — the full *plumbing* of
    * a fastText-style learned quality filter: tokens hash to
    * `numFeatures` buckets, per-doc bucket counts dot a broadcast
    * weight vector, and the normalized logit maps through a sigmoid to
    * a quality score in [0, 1] (quantized to ppm so the gate hashes
    * exactly). The weights here are a DETERMINISTIC STUB (a Knuth-hash
    * ramp over the bucket id — there is no model training in this
    * sandbox, same policy as the multimodal decode stubs); production
    * swaps the generated `weights` table for exported model weights and
    * nothing else changes.
    *
    * Scale shape: one narrow tokenize+hash pass, one partial-aggregated
    * (doc, bucket) count shuffle, a broadcast join against the
    * numFeatures-row weight table, one per-doc sum. The weight table
    * never exceeds numFeatures rows no matter the corpus.
    * Output `(doc_id, n_toks, raw_dot, score_q, pass)`, all integers. */
  def modelQualityScore(docs: DataFrame, idCol: String, textCol: String,
      numFeatures: Int = 1024, threshold: Int = 500000): DataFrame = {
    val spark = docs.sparkSession
    val weights = spark.range(numFeatures.toLong).toDF("bucket")
      .withColumn("wgt", (col("bucket") * 2654435761L) % 1001L - 500L)
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(org.apache.spark.sql.functions.split(
          lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("bucket", hashBucket(col("w"), numFeatures))
    val feats = toks.groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))
    feats.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_toks"),
        sum(col("tf") * col("wgt")).as("raw_dot"))
      .withColumn("score_q", expr(
        """cast(floor(
          |  1.0d / (1.0d + exp(-(cast(raw_dot as double)
          |                       / (1000.0d * n_toks))))
          |  * 1e6 + 0.5d) as bigint)""".stripMargin))
      .withColumn("pass",
        when(col("score_q") >= threshold, 1L).otherwise(0L))
  }

  /** Per-group quota sampling: keep the k lowest-id docs per group —
    * deterministic source balancing. One shuffle keyed by the group;
    * each group's window state is bounded because rows past the quota
    * rank are dropped immediately. */
  def groupQuota(docs: DataFrame, idCol: String, groupCol: String,
      k: Int): DataFrame =
    docs.withColumn("rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col(idCol))).cast("long"))
      .filter(col("rn") <= k)

  /** Benchmark decontamination: flag training docs that share any
    * k-token shingle with the benchmark/eval set — the overlap check a
    * pipeline must run before training so eval answers don't leak into
    * the corpus. Shape: a narrow shingling map on each side, then the
    * (tiny — eval suites are MBs, the corpus is TBs) benchmark shingle
    * set broadcast against the training side's exploded shingles; one
    * per-doc aggregate. The training corpus is never shuffled. Returns
    * one row per contaminated training doc with the distinct shingle
    * hit count and how many benchmark docs it collides with. */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    def shingled(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(array_distinct(TextAnalysis.wordNgrams(col(textCol), k)))
        .as("sh"))
    shingled(train, "doc_id")
      .join(broadcast(shingled(benchmark, "bench_id")), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("n_hit_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Quality-ranked token-budget selection — "fill N tokens with the
    * best documents": take docs in (quality desc, id) order until the
    * cumulative token count would exceed `budget`. The final curation
    * step when the training-compute budget, not the corpus, is the
    * binding constraint. The running total comes from
    * [[Ids.cumulativeSum]] (range-repartition + per-partition prefix
    * sums + metadata-sized offsets — no single-task global window), so
    * the selection survives a corpus where "sort by quality" is a
    * 100 TB distributed sort. Keeps every doc whose INCLUSIVE running
    * total fits (prefix property: the kept set is exactly the sort
    * order's longest affordable prefix). Output: (`idCol`, quality,
    * tokens, `cum_tokens`); `quality` keeps the caller's type and
    * ORDERS UNCAST — a fractional score (the [0,1] classifier-output
    * shape) ranks at full precision rather than collapsing to a
    * truncated integer. */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, quality: Column,
      tokens: Column, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val base = docs.select(col(idCol), quality.as("quality"),
      tokens.cast("long").as("n_tokens"))
    Ids.cumulativeSum(base, Seq(col("quality").desc, col(idCol)),
        col("n_tokens"), sumName = "cum_tokens")
      .filter(col("cum_tokens") <= budget)
  }

  /** Fuzzy decontamination — the third member of the decon family
    * (exact hash < FUZZY near-dup < any-shingle overlap): which
    * training docs are a NEAR-duplicate of a benchmark doc at
    * word-`k`-gram Jaccard ≥ num/(den−num)? Catches the leaks the
    * other two bracket wrong: a lightly paraphrased or
    * truncated benchmark copy is not hash-equal ([[decontaminateExact]]
    * misses it) but flagging every single-shingle overlap
    * ([[decontaminate]]) is far too aggressive as a DROP rule.
    *
    * Scale shape: MinHash-banded candidates ([[Dedup.bandedMinhash]]) —
    * the benchmark side is metadata-sized, so its banded rows
    * broadcast and the training corpus joins by (band, bucket) without
    * ever shuffling — then exact-Jaccard verification on the candidate
    * pairs only (integer cross-multiplied, float-free). Banding recall
    * follows the 16×2 s-curve: ≥ 0.999 at jaccard 0.6, higher above.
    *
    * Deliberately NO bucket cap, unlike the self-join dedup paths: a
    * hot train bucket here joins against at most the benchmark rows in
    * that bucket (bounded by the tiny broadcast side), so cost is
    * linear in the banded train rows — no O(bucket²) blow-up exists in
    * the cross shape. And a decontamination filter must not drop hot
    * buckets: a benchmark doc mass-duplicated into the training corpus
    * is exactly the leak it exists to catch.
    * Output: (`doc_id`, `bench_id`, `n_inter`, `n_train`, `n_bench`)
    * per flagged (train, benchmark) pair — all integers, so
    * jaccard = n_inter/(n_train+n_bench−n_inter) is reconstructible
    * exactly. */
  def decontaminateFuzzy(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 5, numHashes: Int = 32,
      bands: Int = 16, num: Int = 1, den: Int = 3): DataFrame = {
    def sets(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      array_distinct(TextAnalysis.wordNgrams(col(textCol), k)).as("shs"))
    // The train-side shingle sets feed BOTH the banding pass and the
    // exact-Jaccard verify join; materialize them once (round 14, guide
    // §5 localCheckpoint) instead of re-shingling the corpus per use.
    // The benchmark side is metadata-sized — recomputing it is cheaper
    // than a checkpoint job. §5 trade, named: localCheckpoint truncates
    // lineage onto executor-local blocks, so a cluster executor loss
    // between the two consumers aborts instead of recomputing — here
    // the window is two downstream stages and re-running the whole
    // operator is the recovery path; a persist() would keep lineage
    // but leak a CacheManager entry (no unpersist point survives this
    // function).
    val tSets = Layout.spread(sets(train)).localCheckpoint()
    val bSets = sets(benchmark)
    val tBand = Dedup.bandedMinhash(tSets, numHashes, bands)
    val bBand = Dedup.bandedMinhash(bSets, numHashes, bands)
    val cand = tBand
      .join(broadcast(bBand.select(col("doc_id").as("bench_id"),
        col("band"), col("sigh"))), Seq("band", "sigh"))
      .select("doc_id", "bench_id").distinct()
    cand
      .join(tSets.select(col("doc_id"), col("shs").as("st")), Seq("doc_id"))
      .join(broadcast(bSets.select(col("doc_id").as("bench_id"),
        col("shs").as("sb"))), Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"),
        SketchExpressions.intersect_count(col("st"), col("sb")).cast("long").as("n_inter"),
        size(col("st")).cast("long").as("n_train"),
        size(col("sb")).cast("long").as("n_bench"))
      .filter(lit(den) * col("n_inter") >= lit(num) * (col("n_train") + col("n_bench")))
  }

  /** Exact-match decontamination: which training docs are a benchmark
    * doc verbatim, up to case and whitespace (lowercase + trim +
    * collapse runs)? The cheap companion to the n-gram overlap check
    * ([[decontaminate]]) — it catches whole-document leaks that were
    * lightly reformatted. Benchmark hashes broadcast (eval suites are
    * metadata-sized next to a 100 TB corpus), so the corpus is one
    * narrow scan + a broadcast semi join — no shuffle at all (the semi
    * join dedupes build-side keys itself, so the bench side needs no
    * distinct). Normalization collapses whitespace runs BEFORE trimming
    * so leading/trailing tabs/newlines cannot survive as edge spaces.
    * Output: (idCol, `content_hash`) for each contaminated train doc. */
  def decontaminateExact(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def norm(c: Column): Column =
      md5(trim(regexp_replace(lower(c), "\\s+", " ")))
    train.select(col(idCol), norm(col(textCol)).as("content_hash"))
      .join(broadcast(benchmark.select(norm(col(textCol)).as("content_hash"))),
        Seq("content_hash"), "left_semi")
      .select(col(idCol), col("content_hash"))
  }

  /** Epoch-aware mixture expansion: each group's docs are emitted
    * `epochs` times, where epochs is a per-group per-mille target
    * (2500‰ = 2.5 epochs → every doc twice, a deterministic
    * content-hash-selected half a third time; 400‰ = downsample to
    * 0.4 epochs). This is the "repeat high-quality sources, subsample
    * the rest" mixing step a training-data pipeline runs last. The
    * fractional part uses an integer content-hash predicate like
    * [[stratifiedHashSample]]'s — no RNG, reproducible everywhere — but
    * over a SALTED hash ("epoch|" prefix): the unsalted bucket is the
    * selection key of split/stratified sampling, and reusing it here
    * would make the fractional copies all-or-nothing on any corpus that
    * already passed a hash sample (every survivor of `bucket < r`
    * trivially satisfies `bucket < e%1000` for r ≤ e%1000). The
    * expansion is a narrow `explode(sequence(...))` over one scan:
    * output size is exactly sum(epochs·|group|), no shuffle.
    * Output: (idCol, groupCol, `copy_id` ∈ [0, n_copies)). */
  def epochMix(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, epochsPerMilleByGroup: Map[String, Int],
      defaultPerMille: Int = 1000): DataFrame = {
    val e = epochsPerMilleByGroup.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPerMille)) { case (acc, (g, r)) =>
        when(col(groupCol) === g, lit(r)).otherwise(acc)
      }
    // whole epochs + one deterministic fractional copy; integer halves
    // ((e - e%1000)/1000 is exact), so no float ever decides a copy
    val copies = ((e - e % 1000) / 1000).cast("long") +
      when(hashBucket(concat(lit("epoch|"), col(textCol)), 1000) < e % 1000,
        1L).otherwise(0L)
    docs.select(col(idCol), col(groupCol), copies.as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col(idCol), col(groupCol),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_id"))
  }

  /** Temperature-flattened mixture sampling at α = 1/2: each domain
    * keeps ~sqrt(n_d / n_max) of its docs, so oversized domains are
    * downsampled toward a flatter mixture while the largest stays whole
    * and small ones are untouched. The keep predicate is pure integer
    * cross-multiplication — b²·n_max < 10⁶·n_d with b the content-hash
    * per-mille bucket — no floats, no RNG, identical on every engine and
    * partitioning. Shape: one metadata-sized domain-count aggregate
    * broadcast back over a single corpus scan. */
  def temperatureSample(docs: DataFrame, textCol: String,
      domainCol: String): DataFrame = {
    val counts = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("n_d"))
    val rates = counts.crossJoin(broadcast(counts.agg(max("n_d").as("n_max"))))
    docs.join(broadcast(rates), domainCol)
      .withColumn("b", hashBucket(col(textCol), 1000))
      .filter(col("b") * col("b") * col("n_max") < lit(1000000L) * col("n_d"))
  }

  /** Sequence packing WITH document splitting: lay each group's docs
    * end-to-end on a token axis (cumulative window) and cut the axis
    * into fixed `seqLen`-token training sequences; a doc straddling a
    * boundary emits one row per covered sequence with its in-doc token
    * span [tok_from, tok_to). This is [[tokenShards]]' strict sibling —
    * shards round docs down to whole units, packing splits them so every
    * sequence is exactly full (the last per group excepted). One window
    * shuffle on the group key + a narrow explode; all integer math.
    *
    * `baseOffsets` (optional, `(groupCol, tok_base)`) shifts each
    * group's token axis by a carried starting offset — the incremental
    * form: a streaming ingest packs each micro-batch against the token
    * totals of everything packed before it ([[graft.streaming.StreamingCuration]]),
    * so the union of per-batch outputs is bit-identical to one batch
    * pack of the whole corpus (given id-ordered arrival per group).
    * Groups absent from `baseOffsets` start at 0; `None` is the plain
    * batch form. The offsets table is one row per group — broadcast. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, seqLen: Long,
      baseOffsets: Option[DataFrame] = None): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = docs
      .select(col(groupCol), col(idCol).as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("tok_end_rel", sum("n_tokens").over(w))
    val based = baseOffsets match {
      case None => cum.withColumn("tok_base", lit(0L))
      case Some(o) => cum
        .join(broadcast(o.select(col(groupCol), col("tok_base"))),
          Seq(groupCol), "left")
        .withColumn("tok_base", coalesce(col("tok_base"), lit(0L)))
    }
    based
      .withColumn("tok_end", col("tok_end_rel") + col("tok_base"))
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .withColumn("seq_id", explode(expr(
        s"sequence(tok_start div $seqLen, (tok_end - 1) div $seqLen)")))
      .withColumn("tok_from",
        greatest(col("tok_start"), col("seq_id") * seqLen) - col("tok_start"))
      .withColumn("tok_to",
        least(col("tok_end"), (col("seq_id") + 1) * seqLen) - col("tok_start"))
      .select(col(groupCol), col("doc_id"), col("seq_id"),
        col("tok_from"), col("tok_to"))
  }

  /** Token-budget shard packing: assign each doc to a shard of
    * ~`tokensPerShard` whitespace tokens, per group, in id order — the
    * shard-building step before sequence packing / tokenization. A doc's
    * shard is its group's running token count *before* it, divided by
    * the budget, so shards fill to the budget then roll over. Windows
    * are per-group (one shuffle on the group key), never global — the
    * scale-safe form of "cut the corpus into ~N-token files". */
  def tokenShards(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, tokensPerShard: Long): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(groupCol), col(idCol).as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      // integer `div`, not `/`: double division would round where the
      // oracle's BIGINT floor-division truncates
      .withColumn("shard",
        expr(s"(cum_tokens - n_tokens) div $tokensPerShard"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al., 2023):
    * score every raw document by how much more likely its hashed-n-gram
    * features are under a TARGET (curated) distribution than under the
    * RAW pool, w(doc) = Σ_tokens ln p̂_target(f) − ln p̂_raw(f) with
    * add-one smoothing over the OCCUPIED hashed unigram features (the
    * hash range `buckets` only bounds the table; smoothing over the
    * mostly-empty range would bias every λ negative). Docs with
    * w > 0 look more target-like than pool-like — the standard cheap
    * proxy-free selector for "find me more data shaped like my curated
    * set" at crawl scale.
    *
    * Shape at 100 TB: the feature vocabulary is HASH-BOUNDED at
    * `buckets` rows (md5-bucket, the engine-portable hash), so both
    * count tables and the per-feature log-ratio table stay broadcast-
    * able at ANY corpus size; scoring is one broadcast equi-join on the
    * bucket id + a per-doc integer sum (λ quantized to micro per
    * FEATURE, so the doc reduction is order-free). Two corpus-scan
    * aggregates + one broadcast join — no vocab-sized shuffle ever.
    * The doc-level join back to ids is corpus-sized on both sides and
    * merge-pinned. */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 4096): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), isTarget.as("tgt"),
        explode(functions.split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("bucket",
        graft.functions.HashFunctions.md5_prefix64(col("w"), 8) % buckets)
    val counts = toks.groupBy("bucket").agg(
      count(lit(1)).as("cr"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
    // smoothing mass = OCCUPIED buckets, not the hash range: +1 over
    // `buckets` mostly-empty cells biases every λ negative (the target
    // denominator inflates by the same absolute prior as the 10×-larger
    // raw one), and the selector degenerates to "select nothing"
    val tot = counts.agg(sum("cr").as("nr"), sum("ct").as("nt"),
      count(lit(1)).as("nb"))
    // λ per feature, micro-quantized: one fixed-op-order double expr
    val lam = counts.crossJoin(broadcast(tot)).select(col("bucket"), expr(
      """cast(floor(
        |  (ln((ct + 1) / cast(nt + nb as double))
        |   - ln((cr + 1) / cast(nr + nb as double)))
        |  * 1e6 + 0.5d) as bigint)""".stripMargin).as("lam_micro"))
    val scored = toks
      .join(broadcast(lam), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("lam_micro").as("dsir_micro"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("dsir_micro"), lit(0L)).as("dsir_micro"),
        (coalesce(col("dsir_micro"), lit(0L)) > 0).cast("int").as("selected"))
  }
}
