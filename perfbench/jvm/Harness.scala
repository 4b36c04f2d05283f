package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry, Tables}
import graft.app.ConverterApp
import graft.catalog.Catalog
import graft.config.{ConvertMode, ConverterConfig, Dialect}
import graft.copy.{CopyPlanner, DataCopier}
import graft.ddl.DdlGenerator
import graft.delete.{DeletePlanner, DeleteStrategy}

/** The JVM half of the benchmark: runs one workload against the repo's
  * public entry points, checks every output, and writes raw samples to
  * `<out>/result.json` (and spans to `<out>/spans.json` when traced).
  * `perfbench/run.py` builds this, launches it and turns the samples
  * into metrics; statistics live there so they are unit-tested.
  *
  * Usage: Harness --workload W --sf DIR --seed N --seconds S --trace 0|1 --out DIR
  */
object Harness {

  /** Operations after the first that still run while the JIT compiles
    * the hot paths; checked, but left out of the warm statistics. */
  val Warmup = 1
  /** Warm operations every run makes even when `--seconds` has run out. */
  val MinWarm = 3
  /** Hard cap on warm operations so a fast box cannot run away. */
  val MaxWarm = 200

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(a("out")).toAbsolutePath.toString
    val cfg = RunConfig(a("workload"), a("sf"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", out, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val code = try { run(cfg); 0 } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] ABORT: $e"); e.printStackTrace(); 3 }
    sys.exit(code)
  }

  def run(c: RunConfig): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = c.workload match {
      case "migrate_jdbc" => new MigrateJdbc(c)
      case "queries" => new Queries(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: process start to ready, then again from a stopped session
    val setups = ArrayBuffer.empty[Cost]
    var spark = Session.create(c)
    wl.setup(spark)
    setups += Cost((System.currentTimeMillis() - jvmStart) / 1e3, Cost.cpuNow())
    for (_ <- 2 to wl.setupReps) {
      wl.teardown(spark)
      Session.stop(spark)
      // let the stopped session's threads finish before timing the next
      System.gc()
      Thread.sleep(300)
      setups += Cost.of { spark = Session.create(c); wl.setup(spark) }._2
    }
    val checks = ArrayBuffer.empty[Check]
    checks ++= wl.prepare(spark)

    val tracer = new Tracer
    val engine = new EngineListener
    val phases = new PhaseListener
    if (c.trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(phases)
    }
    def drainCounters(): Unit = if (c.trace) BusDrain.drain(spark.sparkContext)
    if (c.trace) tracer.jobs = () => { drainCounters(); engine.jobsStarted }

    val ops = ArrayBuffer.empty[Map[String, Any]]
    def runOp(i: Int, warm: Boolean): Unit = {
      // traced runs alternate tracing on and off across warm operations
      // so one run measures its own tracing overhead
      val traced = c.trace && (!warm || i % 2 == 1)
      tracer.on = traced
      tracer.run = i
      drainCounters(); engine.take(); phases.take()
      val gc0 = Jvm.gcSeconds()
      val jit0 = Jvm.jitCpuSeconds()
      val res = try tracer.span("op") { wl.op(spark, i, tracer) }
      catch { case NonFatal(e) => OpResult.failed(e) }
      drainCounters()
      val (counters, worstStage) = engine.take()
      val catalyst = phases.take()
      val jit = Jvm.jitCpuSeconds() - jit0
      val check = if (res.ok) wl.verify(spark, i, res) else Check(s"op $i", ok = false, res.err)
      checks += check
      ops += res.fields ++ Map(
        "i" -> i, "warm" -> warm, "traced" -> traced, "ok" -> (res.ok && check.ok),
        "err" -> (if (res.ok) check.err else res.err),
        "jvm_gc_s" -> (Jvm.gcSeconds() - gc0), "jit_cpu_s" -> jit) ++
        (if (traced) Map("counters" -> (counters ++ catalyst),
          "worst_stage_task_ms" -> worstStage) else Map.empty)
    }
    (0 to Warmup).foreach(runOp(_, warm = false))
    val loopStart = System.nanoTime()
    var i = Warmup + 1
    while (i - Warmup - 1 < MinWarm ||
        ((System.nanoTime() - loopStart) / 1e9 < c.seconds && i - Warmup - 1 < MaxWarm)) {
      runOp(i, warm = true)
      i += 1
    }
    wl.finish(spark)

    val layers = if (c.trace) {
      tracer.on = true
      tracer.run = -1
      try tracer.span("layers") { wl.layers(spark, tracer) }
      catch { case NonFatal(e) =>
        checks += Check("layer pass", ok = false, Some(e.toString)); Map.empty[String, Any] }
    } else Map.empty[String, Any]
    wl.teardown(spark)
    if (c.trace) {
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(phases)
    }
    Session.stop(spark)
    System.gc()
    val heapAfterGc = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    val result = Map(
      "setup_s" -> setups.map(_.wall).toSeq, "setup_cpu_s" -> setups.map(_.cpu).toSeq,
      "ops" -> ops.toSeq,
      "checks" -> checks.map(_.fields).toSeq,
      "layers" -> layers,
      "query_names" -> (wl match { case q: Queries => q.names.sorted; case _ => Nil }),
      "source_rows" -> (wl match { case m: MigrateJdbc => m.sourceRows; case _ => Map.empty }),
      "peak_rss_mb" -> Jvm.peakRssMb(), "heap_after_gc_mb" -> heapAfterGc)
    Files.writeString(Paths.get(c.out, "result.json"), Json(result), UTF_8)
    if (c.trace) Files.writeString(Paths.get(c.out, "spans.json"),
      Json(tracer.spans.map(_.fields).toSeq), UTF_8)
  }
}

final case class RunConfig(workload: String, sf: String, seed: Long,
    seconds: Double, trace: Boolean, out: String, cpus: String)

/** One correctness check; every failed check counts as a failed operation. */
final case class Check(what: String, ok: Boolean, err: Option[String]) {
  def fields: Map[String, Any] = Map("what" -> what, "ok" -> ok, "err" -> err)
}

/** Wall seconds, and CPU seconds of this JVM without its JIT compiler
  * threads. CPU time leaves out time the host gives to other tenants, so
  * it is the steadier of the two on a shared machine; compilation is
  * left out because how much of it lands in an operation depends on
  * timing. (The JVM runs with a fixed set of compiler threads, so none
  * exits and takes its CPU time out of the subtraction.) */
final case class Cost(wall: Double, cpu: Double) {
  def +(o: Cost): Cost = Cost(wall + o.wall, cpu + o.cpu)
}
object Cost {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow(): Double = os.getProcessCpuTime / 1e9 - Jvm.jitCpuSeconds()
  def of[A](f: => A): (A, Cost) = {
    val (w0, c0) = (System.nanoTime(), cpuNow())
    val r = f
    (r, Cost((System.nanoTime() - w0) / 1e9, cpuNow() - c0))
  }
}

/** What one timed operation did: its cost without checks, and the CPU
  * seconds of each of its steps. */
final case class OpResult(ok: Boolean, err: Option[String], cost: Cost,
    steps: Map[String, Double] = Map.empty, extra: Map[String, Any] = Map.empty) {
  def fields: Map[String, Any] = extra ++ Map("s" -> cost.wall, "cpu_s" -> cost.cpu, "steps" -> steps)
}
object OpResult {
  def failed(e: Throwable): OpResult =
    OpResult(ok = false, Some(e.toString.take(500)), Cost(Double.NaN, Double.NaN))
}

trait Workload {
  /** Set-ups per run; the reported set-up time is their median. */
  def setupReps: Int = 3
  /** Timed set-up after the session is up. */
  def setup(spark: SparkSession): Unit
  /** Untimed work before the operations: the expected outputs. */
  def prepare(spark: SparkSession): Seq[Check]
  def op(spark: SparkSession, i: Int, t: Tracer): OpResult
  def verify(spark: SparkSession, i: Int, r: OpResult): Check
  /** Untimed work after the last operation. */
  def finish(spark: SparkSession): Unit = ()
  /** Traced runs only: call each layer's functions one at a time. */
  def layers(spark: SparkSession, t: Tracer): Map[String, Any]
  /** Undo `setup` so the next set-up starts from nothing. */
  def teardown(spark: SparkSession): Unit = ()
}

object Session {
  def create(c: RunConfig): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master(GraftSession.masterFor(c.cpus))
      .config("spark.sql.shuffle.partitions", GraftSession.shufflePartitionsFor(c.cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.out}/spark-warehouse")
      .config("spark.local.dir", s"${c.out}/tmp"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Jvm {
  /** CPU seconds of the JIT compiler threads, from /proc (the JVM does
    * not list them among its Java threads). */
  def jitCpuSeconds(): Double =
    new java.io.File("/proc/self/task").listFiles().iterator.map { task =>
      try {
        val stat = new String(Files.readAllBytes(task.toPath.resolve("stat")), UTF_8)
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        // utime and stime, fields 14 and 15 of stat, in ticks of 1/100 s
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (name.contains("CompilerThre")) (f(11).toLong + f(12).toLong) / 100.0 else 0.0
      } catch { case _: java.io.IOException => 0.0 } // the thread ended meanwhile
    }.sum

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  /** VmHWM: the resident-set high-water mark of this process. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

// ---------------------------------------------------------------- tracing

final case class Span(name: String, start: Long, end: Long, parent: Int, run: Int) {
  def fields: Map[String, Any] =
    Map("name" -> name, "start" -> start, "end" -> end, "parent" -> parent, "run" -> run)
}

/** In-memory spans (name, start, end, parent index, run id), written out
  * once the run ends. Off, `span` only runs its body. */
final class Tracer {
  var on = false
  var run = 0
  /** Spark jobs started so far; counted only while tracing. */
  var jobs: () => Long = () => 0L
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spans.size
      spans += Span(name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1), run)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }
}

/** Spark engine counters, summed since the last `take`. */
final class EngineListener extends SparkListener {
  private val c = mutable.HashMap.empty[String, Double]
  private val stageRuns = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private val jobCount = new java.util.concurrent.atomic.AtomicLong()
  def jobsStarted: Long = jobCount.get
  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1); jobCount.incrementAndGet() }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("spark.stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      add("spark.tasks", 1)
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, serializing or fetching the result
      val duration = info.finishTime - info.launchTime
      val fetch = if (info.gettingResultTime > 0) info.launchTime + duration - info.gettingResultTime else 0L
      add("spark.scheduler_delay_s", math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch) / 1e3)
      stageRuns.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }
  /** Counters since the last call, and the task run times (ms) of the
    * stage that ran longest in total. */
  def take(): (Map[String, Double], Seq[Long]) = synchronized {
    val snap = c.toMap
    val worst = if (stageRuns.isEmpty) Seq.empty[Long] else stageRuns.values.maxBy(_.sum).toSeq
    c.clear(); stageRuns.clear()
    (snap, worst)
  }
}

/** Catalyst phase times from each query's QueryPlanningTracker. */
final class PhaseListener extends QueryExecutionListener {
  private val c = mutable.HashMap.empty[String, Double]
  private val kept = Set("analysis", "optimization", "planning")
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (p, s) =>
      if (kept(p)) c(s"catalyst.${p}_s") = c.getOrElse(s"catalyst.${p}_s", 0.0) + s.durationMs / 1e3
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def take(): Map[String, Double] = synchronized { val m = c.toMap; c.clear(); m }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

// ---------------------------------------------------------------- Derby

object Derby {
  def url(db: String): String = s"jdbc:derby:memory:$db"
  def connect(db: String): Connection = {
    val p = new Properties()
    p.setProperty("create", "true")
    DriverManager.getConnection(url(db), p)
  }
  /** Drop an in-memory database; Derby reports success as SQLState 08006. */
  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" || e.getSQLState == "XJ004" => () }
  def withConn[A](db: String)(f: Connection => A): A = {
    val c = connect(db)
    try f(c) finally c.close()
  }
  def count(c: Connection, table: String): Long = {
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
    try { rs.next(); rs.getLong(1) } finally rs.close()
  }
  def tables(c: Connection): Set[String] =
    Catalog.listTables(c, Dialect.Derby).map(_._2.toLowerCase).toSet
}

// ---------------------------------------------------------------- checks

object Checksums {
  private val M = (1L << 61) - 1
  /** Row count and an order-insensitive checksum of a table: the sum,
    * modulo 2^61 - 1 as in etl_table_checksum, of a 64-bit hash of each
    * row's values in the JDBC driver's string form. */
  def of(conn: Connection, table: String): (Long, Long) = {
    val rs = conn.createStatement().executeQuery(s"SELECT * FROM $table")
    try {
      val n = rs.getMetaData.getColumnCount
      val sb = new java.lang.StringBuilder
      var rows, sum = 0L
      while (rs.next()) {
        sb.setLength(0)
        for (i <- 1 to n) sb.append(rs.getString(i)).append('\u0001')
        val row = sb.toString
        val h = (MurmurHash3.stringHash(row, 1).toLong << 32) |
          (MurmurHash3.stringHash(row, 2) & 0xffffffffL)
        sum = Math.floorMod(sum + Math.floorMod(h, M), M)
        rows += 1
      }
      (rows, sum)
    } finally rs.close()
  }
  def all(db: String): Map[String, (Long, Long)] =
    Derby.withConn(db)(conn => Derby.tables(conn).map(t => t -> of(conn, t)).toMap)
  def compare(what: String, expected: Map[String, (Long, Long)],
      actual: Map[String, (Long, Long)]): Check = {
    val bad = (expected.keySet ++ actual.keySet).toSeq.sorted.filter(t => expected.get(t) != actual.get(t))
    if (bad.isEmpty) Check(what, ok = true, None)
    else Check(what, ok = false, Some(bad.map(t =>
      s"$t: expected ${expected.get(t)} got ${actual.get(t)}").mkString("; ")))
  }
}

// ---------------------------------------------------------------- migrations

/** Per-table lines ConverterApp prints after each copy. */
object ConvertReport {
  private val Line = """\[convert\] (\w+): (\d+) records, (\d+) bytes, rowsPerCommit=(\d+), (\d+) ms""".r
  def capture[A](f: => A): (A, Map[String, Map[String, Any]]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, UTF_8)
    // the app's table workers are created inside this scope, so they
    // inherit the redirected Console
    val r = Console.withOut(ps)(f)
    ps.flush()
    val tables = buf.toString(UTF_8).linesIterator.collect {
      case Line(t, rec, bytes, rpc, ms) => t -> Map[String, Any](
        "records" -> rec.toLong, "bytes" -> bytes.toLong,
        "rows_per_commit" -> rpc.toLong, "s" -> ms.toLong / 1e3)
    }.toMap
    (r, tables)
  }
}

/** `migrate_jdbc`: in-memory Derby source → fresh in-memory Derby through
  * ConverterApp, then a keyset range delete of every copied table. Set-up
  * loads the source from the fixture directory through ConverterApp. */
final class MigrateJdbc(c: RunConfig) extends Workload {
  val cfg = ConverterConfig()
  val src = "src"
  /** Tables the fixture-mode app copies: `embeddings` is not
    * JDBC-expressible and `lineitem` has no unique key, so it skips both. */
  val copied: Seq[String] = Tables.names.filterNot(Set("embeddings", "lineitem"))
  private var expected: Map[String, (Long, Long)] = Map.empty

  def setup(spark: SparkSession): Unit = {
    Derby.drop(src)
    ConvertReport.capture(ConverterApp.run(
      Array(c.sf, Derby.url(src), "DropAndRecreate", "--yes"), spark))
  }
  override def teardown(spark: SparkSession): Unit = Derby.drop(src)

  /** Row counts of the loaded source, which run.py checks against the
    * fixture files. */
  var sourceRows: Map[String, Long] = Map.empty

  /** Each copy must equal the source. */
  def prepare(spark: SparkSession): Seq[Check] = {
    expected = Checksums.all(src)
    sourceRows = expected.map { case (t, (n, _)) => t -> n }
    val ok = expected.keySet == copied.toSet
    Seq(Check("source tables", ok,
      if (ok) None else Some(s"source holds ${expected.keySet.toSeq.sorted}, expected $copied")))
  }

  def op(spark: SparkSession, i: Int, t: Tracer): OpResult = {
    val db = s"dst$i"
    val ((_, tables), copy) = Cost.of(t.span("convert")(ConvertReport.capture(
      ConverterApp.run(Array(Derby.url(src), Derby.url(db), "DropAndRecreate", "--yes"), spark))))
    // the copy is checked before the delete empties it; not timed
    val copyCheck = Checksums.compare(s"op $i copy", expected, Checksums.all(db))
    val (del, delete) = Cost.of(t.span("delete")(deleteAll(db, t)))
    OpResult(ok = true, None, copy + delete, Map("copy" -> copy.cpu, "delete" -> delete.cpu),
      Map("db" -> db, "copy_s" -> copy.wall, "delete_s" -> delete.wall, "copy_err" -> copyCheck.err,
        "rows" -> tables.values.map(_("records").asInstanceOf[Long]).sum, "tables" -> tables) ++ del)
  }

  /** DeletePlanner on every table: decide, probe split points, render the
    * range predicates, execute. */
  private def deleteAll(db: String, t: Tracer): Map[String, Any] = {
    val url = Derby.url(db)
    val specs = Derby.withConn(db)(conn => Catalog.introspectAll(conn, Dialect.Derby))
    var ranges = 0L
    var rows = 0L
    specs.foreach { spec =>
      val n = Derby.withConn(db)(Derby.count(_, spec.name))
      val strategy = DeletePlanner.decide(n, cfg) match {
        case DeleteStrategy.Partitioned(_) =>
          val splits = t.span("delete.probe")(DeletePlanner.splitPointsOffset(
            url, spec.name, spec.primaryKey, cfg.maxNumberOfWorkers))
          DeleteStrategy.Partitioned(DeletePlanner.rangePredicates(spec.primaryKey, splits))
        case single => single
      }
      ranges += (strategy match { case DeleteStrategy.Partitioned(p) => p.size; case _ => 1 })
      rows += t.span("delete.exec")(DeletePlanner.execute(url, spec.name, strategy))
    }
    Map("delete_ranges" -> ranges, "deleted" -> rows)
  }

  def verify(spark: SparkSession, i: Int, r: OpResult): Check = try {
    val left = Derby.withConn(r.extra("db").toString) { conn =>
      Derby.tables(conn).toSeq.sorted.map(t => t -> Derby.count(conn, t)).filter(_._2 != 0)
    }
    val errs = r.extra("copy_err").asInstanceOf[Option[String]].toSeq ++
      (if (left.isEmpty) Nil else Seq(s"rows left after delete: ${left.mkString(", ")}")) ++
      (if (r.extra("deleted") == r.extra("rows")) Nil
       else Seq(s"deleted ${r.extra("deleted")} of ${r.extra("rows")} copied rows"))
    Check(s"op $i copy+delete", errs.isEmpty, if (errs.isEmpty) None else Some(errs.mkString("; ")))
  } finally Derby.drop(r.extra("db").toString)

  /** Catalog, DDL, split probe, JDBC read, write from a materialized
    * frame and the graft-jdbc read, each called on its own. */
  def layers(spark: SparkSession, t: Tracer): Map[String, Any] = {
    val url = Derby.url(src)
    val props = new Properties()
    val specs = t.span("catalog.introspect")(
      Derby.withConn(src)(conn => Catalog.introspectAll(conn, Dialect.Derby)))
    val db = "layers"
    Derby.drop(db)
    val perTable = Derby.withConn(db) { conn =>
      specs.map { spec0 =>
        val spec = spec0.copy(schema = None)
        val script = t.span("ddl") {
          val s = DdlGenerator.script(spec, Dialect.Derby, ConvertMode.DropAndRecreate,
            existsInDestination = false, cfg).fold(e => throw new IllegalStateException(e), identity)
          val st = conn.createStatement()
          try s.foreach(st.executeUpdate) finally st.close()
          s
        }
        t.span("copy.split_probe")(DeletePlanner.splitPointsOffset(
          url, spec0.name, spec0.primaryKey, cfg.maxNumberOfWorkers))
        def read() = DataCopier.readJdbc(spark, url, spec0, props, cfg.maxNumberOfWorkers, None)
        t.span("copy.read")(read().write.format("noop").mode("overwrite").save())
        val rpc = CopyPlanner.rowsPerCommit(spec, cfg)
        val frame = read().persist()
        val partRows = frame.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
        t.span("copy.write")(DataCopier.writeJdbc(frame, Derby.url(db), spec.name, cfg, rpc))
        frame.unpersist(blocking = true)
        t.span("sources.read")(spark.read.format("graft-jdbc")
          .option("url", url).option("dbtable", spec0.name)
          .option("pk", spec0.primaryKey.mkString(","))
          .option("partitions", cfg.maxNumberOfWorkers.toString)
          .load().write.format("noop").mode("overwrite").save())
        spec.name -> Map[String, Any]("ddl_statements" -> script.size,
          "rows_per_commit" -> rpc, "partition_rows" -> partRows)
      }.toMap
    }
    Derby.drop(db)
    Map("tables" -> perTable)
  }
}

// ---------------------------------------------------------------- queries

/** `queries`: passes over a fixed query list in a seeded order. Each pass
  * starts with `GraftSession.release`, so every shared-stage family is
  * built once per pass. The first pass writes results for the oracle
  * check; later passes materialize through the `noop` sink as Bench does. */
final class Queries(c: RunConfig) extends Workload {
  val names: Seq[String] = {
    val rnd = new scala.util.Random(c.seed)
    rnd.shuffle(QuerySet.all)
  }
  private var cacheStats: Map[String, Any] = Map.empty
  /** A session restart is cheap, so more of them steady the median. */
  override def setupReps: Int = 5

  def setup(spark: SparkSession): Unit = ()
  def prepare(spark: SparkSession): Seq[Check] = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
    val oracles = names.filter(SparkEntry.oracleSql.contains).map(n => n -> SparkEntry.oracleSql(n)).toMap
    Files.createDirectories(Paths.get(c.out, "results"))
    Files.writeString(Paths.get(c.out, "results", "oracle_sql.json"), Json(oracles), UTF_8)
    Seq(Check("query set", missing.isEmpty && noOracle.isEmpty,
      if (missing.isEmpty && noOracle.isEmpty) None
      else Some(s"not registered: $missing; no oracle: $noOracle")))
  }

  /** Release the shared stages, recording what the last pass left cached. */
  private def release(spark: SparkSession, t: Tracer): Map[String, Any] = t.span("release") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    GraftSession.release(spark)
    Map("builds" -> (before - sc.getPersistentRDDs.size), "storage_mb" -> storageMb,
      "blocks_after_release" -> sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum)
  }

  def op(spark: SparkSession, i: Int, t: Tracer): OpResult = {
    val (queries, cost) = Cost.of {
      val prev = release(spark, t)
      if (i > 0) cacheStats = cacheStats + (s"pass_${i - 1}" -> prev)
      names.map { q =>
        q -> t.span(s"query.$q") {
          val j0 = t.jobs()
          val (df, build) = Cost.of(t.span("build")(SparkEntry.queries(q)(spark, c.sf)))
          val (_, exec) = Cost.of(t.span("exec") {
            if (i == 0) df.write.mode("overwrite").parquet(s"${c.out}/results/$q")
            else df.write.format("noop").mode("overwrite").save()
          })
          Map[String, Any]("build_s" -> build.wall, "exec_s" -> exec.wall,
            "s" -> (build + exec).wall, "cpu_s" -> (build + exec).cpu, "jobs" -> (t.jobs() - j0))
        }
      }.toMap
    }
    OpResult(ok = true, None, cost,
      queries.map { case (q, m) => q -> m("cpu_s").asInstanceOf[Double] },
      Map("queries" -> queries))
  }
  def verify(spark: SparkSession, i: Int, r: OpResult): Check = Check(s"op $i", ok = true, None)
  override def finish(spark: SparkSession): Unit = {
    cacheStats = cacheStats + ("last" -> release(spark, new Tracer))
  }
  def layers(spark: SparkSession, t: Tracer): Map[String, Any] = Map("stage_cache" -> cacheStats)
}

/** The query list of the `queries` workload. */
object QuerySet {
  /** The dedup connected-components fixpoint loop over its shared stage. */
  val iterative: Seq[String] = Seq("dedup_cluster_cc")
  /** Single-pass plans: Catalyst and the `plans` rules. */
  val singlePass: Seq[String] = Seq(
    "q1_pricing_summary", "etl_table_checksum", "win_topk_rewrite",
    "asof_merge_join", "scalar_string", "set_union")
  val all: Seq[String] = iterative ++ singlePass
}
