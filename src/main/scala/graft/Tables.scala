package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.catalog.IndexSpec

/** Parquet-backed loaders for the driver fixtures (TESTDATA.md) and shared
  * session configuration.
  *
  * Scale posture: `spark.read.parquet` is a distributed columnar scan —
  * projection and predicates push down to the parquet reader, so the same
  * call shape works unchanged on a 1000-executor cluster reading 100 TB.
  *
  * `apply` infers a file's schema once per JVM, keyed by the files'
  * (path, length, modification time) and the session's `spark.sql.*`
  * settings, so a rewritten file or other settings infer afresh.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Primary keys per fixture table (reference requires a PK on every
    * convertible table — TableConverter.java:246-250). */
  val primaryKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"), // composite
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Secondary indexes the converter carries through its stage-2 index
    * DDL (the reference introspects these from the source database —
    * IndexConverter.java:95-138; the parquet fixtures have no catalog, so
    * the FK-access-path indexes a TPC-H source would declare live here).
    * They also count toward rows-per-commit sizing (X3/A5). */
  val indexes: Map[String, Seq[IndexSpec]] = Map(
    "customer" -> Seq(IndexSpec("idx_customer_nationkey",
      Seq(("c_nationkey", true)), unique = false)),
    "orders" -> Seq(IndexSpec("idx_orders_custkey",
      Seq(("o_custkey", true)), unique = false)),
    "supplier" -> Seq(IndexSpec("idx_supplier_nationkey",
      Seq(("s_nationkey", true)), unique = false)))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeDates(normalizeTs(readParquet(spark, s"$dir/$name.parquet")))

  /** What a schema was inferred under: every data file's (qualified
    * path, length, modification time) and the session's `spark.sql.*`
    * settings, which inference reads (e.g. `nanosAsLong`). */
  private final case class SchemaKey(files: Seq[(String, Long, Long)],
      sqlConf: Map[String, String])

  /** One entry per qualified path: a miss replaces the path's entry, so
    * rewrites cannot grow the memo. */
  private val inferred = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** `spark.read.parquet(path)` without its schema-inference job once
    * the path's schema is memoized under the same [[SchemaKey]]: a read
    * with a given schema starts no job. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = SchemaKey(fileStatuses(fs, p),
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))
    val slot = fs.makeQualified(p).toString
    val schema = Option(inferred.get(slot)).collect {
      case (k, s) if k == key => s
    }.getOrElse {
      val s = spark.read.parquet(path).schema
      inferred.put(slot, (key, s))
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** (qualified path, length, modification time) of `p`, or of every
    * file under it when `p` is a directory. */
  private def fileStatuses(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    val st = fs.getFileStatus(p)
    val leaves =
      if (!st.isDirectory) Iterator(st)
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      }
    leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sorted
  }

  /** Normalize the event-time encoding at the load boundary. Fixture
    * generations have shipped `events.ts` both as parquet timestamp[ns]
    * (which `nanosAsLong` surfaces as a raw LONG of epoch nanos) and as
    * timestamp[us] (which Spark reads as TIMESTAMP_NTZ). Every
    * downstream site does integer epoch math on `ts` as long NANOS, so
    * a timestamp-typed `ts` is converted to epoch nanos here — the
    * session time zone is pinned to UTC (GraftSession.configure), so
    * the NTZ→LTZ cast is the identity and `unix_micros * 1000` is the
    * exact epoch-nanos value for any µs-precision encoding. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) |
           Some(org.apache.spark.sql.types.TimestampType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000L"))
      case _ => df
    }

  /** Columns the queries treat as TIMESTAMPs (date filters, EXTRACT,
    * interval math). The inverse hazard of `ts`: if a fixture regen
    * writes these as parquet timestamp[ns], `nanosAsLong` surfaces
    * them as raw LONG nanos and every TIMESTAMP-literal comparison
    * breaks. Normalize long-nanos → TimestampType here (session TZ is
    * UTC) so both encodings behave identically downstream. */
  private val dateColumns = Set("o_orderdate", "l_shipdate")

  def normalizeDates(df: DataFrame): DataFrame =
    df.schema.fields
      .filter(f => dateColumns(f.name) &&
        f.dataType == org.apache.spark.sql.types.LongType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name, org.apache.spark.sql.functions.expr(
          s"timestamp_micros(${f.name} div 1000)"))
      }
}

/** One place for session settings every entry point (Verify, Bench, tests)
  * must share so results are reproducible and oracle-comparable. */
object GraftSession {
  /** Library teardown: drop ALL session-scoped SHARED cached state
    * (the ANN shared stages, the dedup CC labels, the graph shared
    * stages) without stopping the session — call when a long-lived
    * session is done with this library, or before switching corpora.
    * Blocking, so those cache blocks are gone on return. Per-call loop
    * state is not this method's job: [[graft.operators.Fixpoint.run]]
    * already drops each superseded round's checkpoint and its static
    * inputs as the loop runs, so a converged fixpoint leaves only the
    * frame it returns. Out of scope are the frames a call hands back
    * (a fixpoint's result, StreamingCuration's per-batch slices): they
    * belong to the caller and are reclaimed by Spark's ContextCleaner
    * once garbage collected. */
  def release(spark: SparkSession): Unit = {
    graft.operators.Similarity.releaseStages(spark)
    graft.operators.DedupQueries.releaseStages(spark)
    graft.operators.GraphQueries.releaseStages(spark)
  }

  /** Master URL shared by every entry point: `local[cpus]` by default,
    * overridable via SPARK_GRAFT_MASTER — the supported override is
    * `local-cluster[n,cores,memMB]`, which runs REAL separate executor
    * JVMs (real closure/row serialization, broadcast lifecycle, and
    * shuffle service) instead of local mode's single-JVM threads: the
    * bug classes local mode structurally cannot catch. Requires
    * SPARK_HOME (the executor launch command) and, because executor
    * JVMs only inherit the distribution's jars, the library classes on
    * the executor classpath via SPARK_GRAFT_EXECUTOR_CLASSPATH. */
  def masterFor(cpus: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  private val LocalCluster =
    """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r

  /** Shuffle-partition count consistent with the EFFECTIVE master: when
    * SPARK_GRAFT_MASTER overrides to `local-cluster[n,cores,memMB]`, the
    * `cpus` argument no longer describes the execution resources, so the
    * partition count is derived from the parsed spec (n×cores) instead —
    * otherwise a stale SPARK_GRAFT_CPUS would silently skew partition
    * sizing against the real total core count. Entry points must set
    * `spark.sql.shuffle.partitions` from THIS, never from raw cpus. */
  def shufflePartitionsFor(cpus: String): String =
    sys.env.get("SPARK_GRAFT_MASTER").map(_.trim) match {
      case Some(LocalCluster(n, cores)) => (n.toInt * cores.toInt).toString
      case _ => cpus
    }

  /** Local cores for an entry point's session: SPARK_GRAFT_CPUS, 4 when
    * unset. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session every main runs on: [[configure]]d, on [[masterFor]]
    * with [[shufflePartitionsFor]] partitions for [[cpus]], UI off, log
    * level WARN. */
  def start(): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(masterFor(cpus))
      .config("spark.sql.shuffle.partitions", shufflePartitionsFor(cpus))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    val withCp = sys.env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH")
      .fold(b)(cp => b.config("spark.executor.extraClassPath", cp))
    withCp
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries timestamp[ns]; Spark's parquet reader rejects
    // nanos unless read as raw long (we bucket on integer epoch math).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Broadcast policy (round-9 lesson): the STATIC threshold works on
    // Catalyst's plan-time ESTIMATES, which for aggregate-over-explode
    // shapes (token/shingle frequency tables) track the parquet scan
    // size, not the true output — at 100× a corpus-sized min-owner
    // table estimated under a generous 64 MB static bar was broadcast
    // and OOM'd the driver. So: conservative static bar (misestimates
    // cost at most 16 MB), generous ADAPTIVE bar — AQE re-plans with
    // ACTUAL post-shuffle sizes, so every genuinely-small table still
    // gets its broadcast join, measured rather than guessed.
    .config("spark.sql.autoBroadcastJoinThreshold", (16L * 1024 * 1024).toString)
    .config("spark.sql.adaptive.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // Janino's class cache is JVM-global and LRU, 100 entries by default.
    // The 7-query benchmark pass alone needs 153 distinct generated
    // classes, always in the same order, so at 100 each was evicted
    // before its next use and every warm pass recompiled 146 of them. A
    // graft.Bench session over all 256 queries at sf0.001 (k = 3)
    // compiles 3,035 classes and evicts none at this cap. At the end of
    // that session (4 vCPUs, -Xmx3g) the JVM had committed, against the
    // default cap, 14 MB more metaspace (2 MB of it class space) and
    // 8 MB more code cache. Static conf: read once, when the JVM
    // compiles its first generated class.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
  }
}
