package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, DecimalType,
  IntegerType, LongType, ShortType}
import graft.functions.SketchExpressions
import scala.collection.mutable

/** User-facing deduplication library: DataFrame in → DataFrame out, no
  * fixture coupling. The registered `DedupQueries` entries are thin
  * wrappers over these with the driver fixture's parameters, so every
  * function here is exercised by the DuckDB oracle gate.
  *
  * Scale design (see PERF.md): candidates always come from an equi-join
  * on a bucket key — never an unbounded cartesian — with two skew guards:
  * a document-frequency cap on shingle keys and a size cap on LSH band
  * buckets (broadcast anti join against the tiny over-cap set). Exact
  * verification runs per candidate pair. Thresholds compare in integer
  * cross-multiplied form so no floating point is involved.
  */
object Dedup {

  /** Exact content dedup: one shuffle on the content hash; keeps the
    * lowest id per group. Output: (content_hash, keep_id, n_copies). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental-ingest dedup: which of `fresh`'s docs already exist
    * (by exact content) in `known`? A Bloom filter over the known
    * content hashes broadcasts to prune the fresh side BEFORE any
    * shuffle — at ingest scale the fresh batch is small and the known
    * corpus is the 100 TB side, so the win is that only bloom-positive
    * candidates (true dups + the tiny FP fraction) reach the exact
    * verify join; the result itself is EXACT (the semi join re-checks
    * every candidate, so false positives drop out and the filter has
    * no false negatives by construction). */
  def incrementalExact(fresh: DataFrame, known: DataFrame, idCol: String,
      textCol: String, expectedKnown: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val knownHashed = known.select(md5(col(textCol)).as("kh"))
    // Build the filter with Spark's native BloomFilterAggregate over
    // xxhash64(content-hash); membership is the codegen'd
    // BloomFilterMightContain expression — the per-row path stays inside
    // whole-stage codegen (no boxed UDF). numBits follows the standard
    // -n·ln(p)/ln²2 sizing the fpp implies.
    val numBits = math.max(64L, math.ceil(
      -expectedKnown * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate silently clamps its sizing to the runtime
    // bloom-filter caps (defaults: 4M items / 67.1M bits) — at corpus
    // scale that saturates the filter (fpp → 1) and the prune stops
    // pruning. Raise the caps to the requested sizing so the documented
    // fpp is actually honored.
    val sess = known.sparkSession
    def raiseCap(key: String, atLeast: Long): Unit = {
      val current = scala.util.Try(sess.conf.get(key).toLong).getOrElse(0L)
      if (current < atLeast) sess.conf.set(key, atLeast.toString)
    }
    raiseCap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expectedKnown)
    raiseCap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits)
    val bloomBytes = knownHashed
      .select(Bridge.column(new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("kh"))),
        Literal(expectedKnown), Literal(numBits)).toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    val mightExist = Bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType),
      Bridge.expression(xxhash64(col("fh")))))
    fresh.select(col(idCol).as("doc_id"), md5(col(textCol)).as("fh"))
      .filter(mightExist) // narrow prune, no shuffle yet
      // the known-hash set is corpus-sized — merge-pinned so the exact
      // verify can never become a driver broadcast on a misestimate
      .join(knownHashed.select(col("kh").as("fh")).distinct().hint("merge"),
        Seq("fh"), "left_semi") // exact verify: FPs drop out here
      .select(col("doc_id"), col("fh").as("content_hash"))
  }

  /** Distinct character n-gram shingle sets per document (single-pass
    * `Shingles` kernel; empty array for texts shorter than n). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      SketchExpressions.char_shingles(col(textCol), n).as("shs"))

  /** Exact Jaccard verification of candidate (a_id, b_id) pairs against
    * shingle sets, in integer form: keep pairs with
    * den·|a∩b| >= num·(|a|+|b|)  ⇔  jaccard >= num/(den−num) scaled —
    * callers pass e.g. (3, 8) for jaccard ≥ 3/5. Cost is O(candidates). */
  def verifyJaccard(cand: DataFrame, shingles: DataFrame,
      num: Int = 3, den: Int = 8): DataFrame =
    // shingle sets are one WIDE row per doc — corpus-sized; merge hints
    // forbid the broadcast a plan-time misestimate might pick
    cand
      .join(shingles.select(col("doc_id").as("a_id"), col("shs").as("sa"))
        .hint("merge"), Seq("a_id"))
      .join(shingles.select(col("doc_id").as("b_id"), col("shs").as("sb"))
        .hint("merge"), Seq("b_id"))
      .filter(lit(den) * SketchExpressions.intersect_count(col("sa"), col("sb")) >=
        lit(num) * (size(col("sa")) + size(col("sb"))))
      .select("a_id", "b_id")

  /** n-gram Jaccard near-dup pairs (a_id < b_id): candidates from an
    * equi-join on shingles whose document frequency is ≤ dfCap (hot
    * shingles like " th" would contribute O(df²) pairs), then exact
    * verification. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, dfCap: Int = 40, num: Int = 3, den: Int = 8): DataFrame = {
    // ROUND-14 NOTE: both an eager localCheckpoint and a round-robin
    // spread of these shingle sets were tried and REVERTED — the rows
    // are WIDE (one string array per doc), so materializing or
    // exchanging them costs more than re-running the narrow shingling
    // scan per use (measured 20-35% and ~2× slower respectively).
    val sets = shingleSets(docs, idCol, textCol, n)
    val sh = sets.select(col("doc_id"), explode(col("shs")).as("sh"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("sh")
    // rare is one row per distinct low-df shingle — corpus-sized, as is
    // the self-joined candidate table; merge hints forbid misestimated
    // broadcasts (round-9 100x lesson)
    val rareSh = sh.join(rare.hint("merge"), "sh")
    val cand = rareSh.select(col("doc_id").as("a_id"), col("sh"))
      .join(rareSh.select(col("doc_id").as("b_id"), col("sh")).hint("merge"), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    verifyJaccard(cand, sets, num, den)
  }

  /** Shingle-CONTAINMENT near-dup pairs (a_id < b_id): catches
    * document-inside-document duplication that symmetric Jaccard misses —
    * a short doc fully quoted inside a long one has low Jaccard
    * (|∩|/|∪| is diluted by the big doc) but containment ≈ 1.
    * Candidates come from the same df-capped shingle equi-join as
    * [[jaccardPairs]]; verification keeps pairs with
    * den·|a∩b| >= num·min(|a|,|b|) in integer form. `contained_id`
    * names the smaller-set document (ties → a_id) — the one a
    * keep-the-superset policy would drop. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, dfCap: Int = 40, num: Int = 9, den: Int = 10): DataFrame = {
    // same wide-row lesson as jaccardPairs (see there) — no spread,
    // no checkpoint
    val sets = shingleSets(docs, idCol, textCol, n)
    val sh = sets.select(col("doc_id"), explode(col("shs")).as("sh"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("sh")
    // rare is one row per distinct low-df shingle — corpus-sized, as is
    // the self-joined candidate table; merge hints forbid misestimated
    // broadcasts (round-9 100x lesson)
    val rareSh = sh.join(rare.hint("merge"), "sh")
    val cand = rareSh.select(col("doc_id").as("a_id"), col("sh"))
      .join(rareSh.select(col("doc_id").as("b_id"), col("sh")).hint("merge"), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("shs").as("sa"))
        .hint("merge"), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("shs").as("sb"))
        .hint("merge"), Seq("b_id"))
      .filter(lit(den) * SketchExpressions.intersect_count(col("sa"), col("sb")) >=
        lit(num) * least(size(col("sa")), size(col("sb"))))
      .select(col("a_id"), col("b_id"),
        when(size(col("sa")) <= size(col("sb")), col("a_id"))
          .otherwise(col("b_id")).as("contained_id"))
  }

  /** Drop rows whose bucket (key columns) holds more than cap documents.
    * The over-cap set is ≤ corpus/cap rows by construction, so it always
    * broadcasts and the banded table never shuffles for this filter. */
  def capBuckets(banded: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .drop("bucket_n")
    banded.join(broadcast(hot), keys, "left_anti")
  }

  /** Banded MinHash rows (`doc_id`, `band`, `sigh`) from shingle sets
    * (`doc_id`, `shs`): k-permutation signature (single-pass
    * `MinHashSig`), split into `bands` bands of k/bands rows, each
    * band's slice hashed to one bucket key. Docs with EMPTY shingle
    * sets are excluded — every empty set gets the identical
    * all-sentinel signature, so without the filter all short docs
    * band-collide (and verify vacuously downstream). */
  def bandedMinhash(sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands); " +
        "otherwise trailing signature components are silently unused and " +
        "the banding s-curve shifts")
    val rows = numHashes / bands
    val sig = sets.filter(size(col("shs")) > 0).select(col("doc_id"),
      SketchExpressions.minhash_sig(col("shs"), numHashes).as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(i => col("sig").getItem(i)): _*)
          .as("sigh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sigh").as("sigh"))
  }

  /** MinHash + LSH near-dup pairs: k-permutation signatures (single-pass
    * `MinHashSig`), banded rows-per-band = k/bands, candidates agree on
    * ≥ 1 band, exact-Jaccard verified. Recall at the threshold follows
    * the banding s-curve (16×2 ≈ 0.999 at jaccard 0.6). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      bucketCap: Int = 1000, num: Int = 3, den: Int = 8): DataFrame = {
    // same wide-row lesson as jaccardPairs (see there); the banded
    // self-join sides already share their (band, sigh) exchange
    val sets = shingleSets(docs, idCol, textCol, n)
    val banded = capBuckets(bandedMinhash(sets, numHashes, bands),
      Seq("band", "sigh"), bucketCap)
    // the banded self-join sides are corpus×bands rows — merge-pinned
    // so no size misestimate can broadcast them (round-9 100x lesson)
    val cand = banded.alias("x")
      .join(banded.hint("merge").alias("y"), Seq("band", "sigh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, sets, num, den)
  }

  /** SimHash near-dup pairs: 64-bit token-vote fingerprint (single-pass
    * `SimHash64`), candidates share one 16-bit band, verified by
    * bit_count(xor) ≤ maxHamming. Output: (a_id, b_id, hamming). */
  def simhashPairs(docs: DataFrame, idCol: String, tokens: Column,
      maxHamming: Int = 16, bucketCap: Int = 1000): DataFrame = {
    // token-less docs all hash to fingerprint 0 and would pair with each
    // other at hamming 0; excluding them also matches the SQL-oracle
    // form, where a doc with no token rows never reaches the band join
    val sig = docs.filter(size(tokens) > 0)
      .select(col(idCol).as("doc_id"),
        SketchExpressions.simhash64(tokens).as("simhash"))
    val banded = capBuckets(
      sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            expr(s"(simhash >> ${b * 16}) & 65535").as("bits"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band").as("band"), col("bk.bits").as("bits")),
      Seq("band", "bits"), bucketCap)
    // merge-pinned: corpus×4-band rows, never broadcastable (see
    // minhashLshPairs)
    banded.alias("x").join(banded.hint("merge").alias("y"), Seq("band", "bits"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over near-dup pairs — the clustering step after
    * pair generation: every document gets the MINIMUM id reachable
    * through the pair graph as its `cluster_id`, so "keep one doc per
    * near-dup cluster" is `filter(id === cluster_id)`.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING.
    * Each round (a) takes every vertex's min over its own label and its
    * neighbors' labels, then (b) jumps every label to its label's label
    * (path halving: l(v) ← min(l(v), l(l(v)))). Edge propagation alone
    * needs O(diameter) rounds — a long chain costs a full shuffle per
    * hop; the jump step collapses label paths geometrically, so
    * convergence is O(log diameter) rounds. It stops when the label sum
    * stops moving. The rounds run on [[Fixpoint.loop]], whose scaladoc
    * has the checkpoint lifecycle and the fault-tolerance trade.
    *
    * The rounds are an RDD kernel, not SQL. Per round, two AQE-planned
    * queries ran 5–6 jobs, and on graphs of a few thousand pairs their
    * fixed cost per query, stage and task was nearly all of it. The
    * kernel runs ONE job per round (three shuffles: the propagate
    * messages, the jump's request, and its answer) plus two set-up
    * jobs: one counts the edges, one symmetrizes them and probes the
    * seed. Upstream of that, a planned `edges` frame runs its own AQE
    * stage jobs once. Per-row work is a hash-map lookup on primitive
    * arrays, messages combine per partition before they shuffle, and
    * shuffles move one block per partition pair; the partition count
    * follows the edge count, capped at `spark.sql.shuffle.partitions`.
    * So the kernel also beats the SQL rounds on large graphs (measured
    * up to 6.5M pairs and 2M vertices).
    *
    * Input: `vertices` with column `id`; `edges` with columns
    * (`a_id`, `b_id`), all integral, or whole-number decimals of at
    * most 18 digits — the label-sum probe is only monotone under
    * numeric order, so any other type is rejected at call time.
    * Output: (`id`, `cluster_id`), both of the vertices' id type. The
    * output reads the kernel's final label checkpoint, which Spark's
    * ContextCleaner drops once the output is garbage collected. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame =
    connectedComponentsCounted(vertices, edges, maxIter).labels

  /** A [[connectedComponentsCounted]] result: the labels, the executed
    * round count (including the final confirming round), and the
    * kernel's final label checkpoint, which `labels` reads. The
    * checkpoint belongs to the caller: [[release]] drops it once nothing
    * reads `labels` again (persisted copies included, until they are
    * materialized); left alone, Spark's ContextCleaner drops it once
    * `labels` is garbage collected, as it does a [[Fixpoint.run]]
    * result. */
  private[graft] final case class Components(labels: DataFrame, rounds: Int,
      checkpoint: RDD[_]) {
    def release(): Unit = Bridge.unpersistRdd(checkpoint)
  }

  /** Ids the kernel runs on: integral types, and whole-number decimals
    * that fit a Long (JDBC sources carry NUMERIC/NUMBER keys). */
  private def integralId(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.scale == 0 && d.precision <= 18
    case _ => false
  }

  /** [[connectedComponents]] with its round count and checkpoint — the
    * round count is the observable DedupSpec pins so convergence stays
    * probe-driven and round-count optimizations are assertable rather
    * than assumed. */
  private[graft] def connectedComponentsCounted(vertices: DataFrame,
      edges: DataFrame, maxIter: Int = 25): Components = {
    for ((df, c) <- Seq(vertices -> "id", edges -> "a_id", edges -> "b_id")) {
      val t = df.schema(c).dataType
      require(integralId(t),
        s"connectedComponents needs integral ids, but column '$c' is " +
          s"${t.sql}: the label-sum convergence probe is only monotone " +
          "under numeric order")
    }
    val spark = vertices.sparkSession
    // The edges, read once, as one interleaved (a, b) array per input
    // partition. A pair with a NULL end never joins a label, so it is
    // dropped here.
    val pairs = edges.select(col("a_id").cast(LongType), col("b_id").cast(LongType))
      .na.drop().queryExecution.toRdd
      .mapPartitions { it =>
        val ab = Array.newBuilder[Long]
        it.foreach { r => ab += r.getLong(0); ab += r.getLong(1) }
        Iterator.single(ab.result())
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The partition count follows the graph: a round runs one task per
    // partition in each of its stages, so a few thousand pairs get one
    // partition (as AQE would coalesce their shuffles) and a large
    // graph up to spark.sql.shuffle.partitions. Counting the edges is
    // the set-up's first job.
    val symRows = pairs.map(_.length.toLong).fold(0L)(_ + _)
    val part = new HashPartitioner(math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toLong,
      math.max(1L, (symRows + CcRowsPerPartition - 1) / CcRowsPerPartition)).toInt)
    // Symmetrized edges, laid out like the labels: partition i holds
    // every edge (dst, src) whose dst is a label key of partition i, as
    // two parallel arrays, so a round reads its neighbors' labels
    // without a shuffle.
    val sym = exchange(pairs.flatMap { ab =>
        Iterator.range(0, ab.length, 2).flatMap { i =>
          Iterator((ab(i + 1), ab(i)), (ab(i), ab(i + 1)))
        }
      }, part)
      .mapPartitions { it =>
        val (dst, src) = (Array.newBuilder[Long], Array.newBuilder[Long])
        it.foreach { case (d, s) => dst += d; src += s }
        Iterator.single((dst.result(), src.result()))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Iterate only over vertices that appear in an edge: a pair-free
    // vertex can never change its label, and near-dup graphs are sparse
    // (most of a corpus is in no pair), so the per-round shuffle domain
    // is |edge endpoints|, not |corpus|. Singletons reattach at the end.
    // Round 15 REVERT of the round-14 min(id, min neighbor) seeding:
    // the head-start argument was sound (same min-reachable-id
    // fixpoint, oracle green) but the measurement was not — the seeded
    // form ran dedup_semantic 15–29% SLOWER in every window, r14's
    // loaded ones and round 15's same-window cross-binary probe
    // (5.34 s old vs 6.90 s seeded, min-of-3). Mechanism: the seed's
    // min-aggregate feeds the convergence probe a DIFFERENT trajectory
    // — the pre-run half-round doesn't reduce the measured round count
    // on the near-dup fixtures (components are mostly pairs; the jump
    // round already collapses them), so the extra aggregate work per
    // seed buys nothing. Plain l(v) = v seeding.
    val seed = sym.mapPartitions { blocks =>
      val l = mutable.LongMap.empty[Long]
      blocks.foreach { case (dst, _) => dst.foreach(v => l(v) = v) }
      l.iterator
    }
    seed.localCheckpoint()
    // the set-up's second job: it also materializes `sym`
    val seedSum = labelSum(seed)
    pairs.unpersist(blocking = false)
    // Every label RDD keeps partition i's keys in partition i of `part`,
    // so zipPartitions lines a partition up with its edges and labels.
    val (clusters, rounds) = Fixpoint.loop(seed, Some(seedSum),
        Fixpoint.Stable, maxIter) { labels =>
      // UNION-propagate (round 15): each vertex takes the min over its
      // own label and its neighbors' labels in ONE min-reduce, not a
      // neighbor-min aggregate THEN a vertex-keyed join (one
      // vertex-sized stage gone per round). Measured on the
      // dedup_semantic sf0.1 graph (3241 pairs, 7 rounds), the SQL form
      // of this shape won or tied every interleaved pairing (~10–20% on
      // the CC portion). Each edge partition combines its messages to
      // one per source vertex before the shuffle, so graph-sized work
      // stays in the partition and the shuffle is vertex-sized.
      // Round count is propagation-bound, not jump-bound —
      // 2 and 3 jumps per round measured the SAME 7 rounds at strictly
      // higher cost, so multi-hop jumping is deliberately NOT used.
      val messages = sym.zipPartitions(labels) { (blocks, labs) =>
        val l = table(labs)
        val best = mutable.LongMap.empty[Long]
        blocks.foreach { case (dst, src) =>
          var i = 0
          while (i < dst.length) {
            val m = l(dst(i))
            if (m < best.getOrElse(src(i), Long.MaxValue)) best(src(i)) = m
            i += 1
          }
        }
        best.iterator
      }
      val propagated = exchange(messages, part).zipPartitions(labels) { (ms, labs) =>
        val l = table(labs)
        ms.foreach { case (v, m) => if (m < l(v)) l(v) = m }
        l.iterator
      }
      // pointer jump: follow the label one more hop (its own current
      // label), halving every label path — labels only decrease, so
      // the convergence probe stays monotone. Each (label, vertex)
      // pair moves to the label's partition, reads the label's own
      // label there, and moves back.
      val next = exchange(exchange(propagated.map(_.swap), part)
        .zipPartitions(propagated) { (req, props) =>
          val p = table(props)
          req.map { case (l, v) => (v, math.min(l, p.getOrElse(l, l))) }
        }, part)
      next.localCheckpoint()
      (next, labelSum(next))
    }(Bridge.unpersistRdd)
    sym.unpersist(blocking = false)
    import spark.implicits._
    val idType = vertices.schema("id").dataType
    Components(vertices.select(col("id"))
      .join(clusters.toDF("id", "cluster_id"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id").cast(idType), col("id")).as("cluster_id")),
      rounds, clusters)
  }

  /** Symmetrized edges per CC partition: enough that a partition's
    * per-row work (a few map lookups per row and stage) outweighs the
    * fixed cost of its task. */
  private val CcRowsPerPartition = 1L << 16

  /** Moves every row (k, v) to partition `part.getPartition(k)`. Each
    * task ships one array of interleaved keys and values per target
    * partition, so the shuffle serializes a few blocks, not one record
    * per row. The result claims no partitioner: the kernel lines
    * partitions up by index. */
  private def exchange(rows: RDD[(Long, Long)],
      part: HashPartitioner): RDD[(Long, Long)] =
    rows.mapPartitions { it =>
      val blocks = Array.fill(part.numPartitions)(Array.newBuilder[Long])
      it.foreach { case (k, v) => val b = blocks(part.getPartition(k)); b += k; b += v }
      blocks.iterator.map(_.result()).zipWithIndex.filter(_._1.nonEmpty).map(_.swap)
    }
      // an Int key p in [0, numPartitions) goes to partition p
      .partitionBy(part)
      .mapPartitions(_.flatMap { case (_, kv) =>
        Iterator.range(0, kv.length, 2).map(i => (kv(i), kv(i + 1)))
      })

  /** One partition of a label RDD as a map from vertex to label. */
  private def table(labels: Iterator[(Long, Long)]): mutable.LongMap[Long] = {
    val m = mutable.LongMap.empty[Long]
    labels.foreach { case (v, l) => m(v) = l }
    m
  }

  /** The CC convergence probe, and the one action of each round: the
    * exact sum of the labels, so it materializes the round's local
    * checkpoint. Labels only ever decrease, so the sum is strictly
    * monotone while anything changes — converged once it stops moving. */
  private def labelSum(labels: RDD[(Long, Long)]): BigInt =
    labels.values.aggregate(BigInt(0))(_ + _, _ + _)

  /** SemDeDup-style semantic dedup (public recipe: k-means-cluster the
    * embeddings, call a pair a near-duplicate only when its cosine
    * clears `tau` WITHIN a cluster, keep one representative per
    * connected component). The centroid-bucket equi-join bounds the
    * pairwise stage to per-bucket cardinality — no global cartesian;
    * missing cross-bucket near-dups is the published trade, and bucket
    * count grows with the corpus so bucket size stays bounded.
    *
    * Input: `vectors` as (`vec_id`, `v: array<double>`); `centroids` as
    * produced by [[Similarity.meanCentroids]] (broadcast — small).
    * Output: (`vec_id`, `cluster_id` = min vec_id of its near-dup
    * component, `keep` = is that representative).
    *
    * `bucketCap` is the hot-bucket skew guard (same design as the LSH
    * band cap): a centroid bucket larger than the cap skips the
    * pairwise stage entirely — its members stay singletons — because an
    * O(bucket²) blow-up on one degenerate centroid would dominate the
    * job. Size the centroid count so buckets stay well under the cap
    * (k ≈ corpus/1000 in the SemDeDup recipe). */
  def semanticClusters(vectors: DataFrame, centroids: DataFrame,
      tau: Double, bucketCap: Int = 100000): DataFrame =
    semanticClustersAssigned(vectors, Similarity.ivfAssign(vectors, centroids),
      tau, bucketCap)

  /** As [[semanticClusters]] but taking a precomputed IVF assignment
    * (`vec_id`, `centroid`) — callers that already ran the coarse
    * quantizer (e.g. the shared ANN stage every registered similarity
    * query reuses) skip re-planning the centroid aggregate. The bucketed
    * vectors+assignment join feeds BOTH sides of the pair generation, so
    * it is persisted for the duration of the component search and
    * released once the labels are checkpointed. */
  def semanticClustersAssigned(vectors: DataFrame, assignment: DataFrame,
      tau: Double, bucketCap: Int = 100000): DataFrame = {
    val assign = capBuckets(assignment, Seq("centroid"), bucketCap)
    val av = vectors.join(assign, "vec_id").persist()
    val a = av.select(col("centroid"), col("vec_id").as("a_id"), col("v").as("va"))
    val b = av.select(col("centroid"), col("vec_id").as("b_id"), col("v").as("vb"))
    val pairs = a.join(b, Seq("centroid"))
      .filter(col("a_id") < col("b_id"))
      .filter(SketchExpressions.cosine_sim(col("va"), col("vb")) >= lit(tau))
      .select("a_id", "b_id")
    // connectedComponents runs its label rounds eagerly (convergence
    // probes are actions) and returns checkpointed labels, so `av` can
    // be released as soon as it returns.
    val cc = connectedComponents(vectors.select(col("vec_id").as("id")), pairs)
    av.unpersist(false)
    cc.select(col("id").as("vec_id"), col("cluster_id"),
      (col("id") === col("cluster_id")).as("keep"))
  }

  /** Representative selection: per near-dup cluster, keep the member
    * with the highest quality score (ties → lowest id) — the policy a
    * real pipeline applies after clustering, where "one doc per
    * cluster" should keep the BEST copy (longest, cleanest), not an
    * arbitrary one. The argmax is a single `max(struct(score, -id))`
    * aggregate, so it map-side combines and needs exactly one shuffle
    * keyed by cluster — no per-cluster sort, no window. Ordering is
    * exact when `score` is integral (the registered query uses token
    * counts).
    *
    * Input: `labels` (idCol, `cluster_id`) as produced by
    * [[connectedComponents]]; `quality` (idCol, scoreCol). The join is
    * LEFT so a member missing from `quality` still counts in
    * `n_members` and can never silently erase its cluster: null scores
    * lose the argmax to any scored member (struct ordering ranks a null
    * field lowest), and a cluster with no scored member falls back to
    * the min-id representative with a null `keep_score`. Output:
    * (`cluster_id`, `keep_id`, `keep_score`, `n_members`). */
  def keepBest(labels: DataFrame, quality: DataFrame, idCol: String,
      scoreCol: String): DataFrame =
    labels.join(quality, Seq(idCol), "left")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negId")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("best.negId")).as("keep_id"),
        col("best.s").as("keep_score"), col("n_members"))
}
