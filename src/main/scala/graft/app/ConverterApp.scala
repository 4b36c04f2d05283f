package graft.app

import java.sql.{Connection, Types}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Success
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import graft.{GraftSession, Tables}
import graft.catalog.{Catalog, ColumnSpec, TableSpec}
import graft.config.{ConvertMode, ConverterConfig, Dialect}
import graft.copy.{CopyPlanner, DataCopier}
import graft.ddl.DdlGenerator
import graft.sources.JdbcHooks

/** The reference's `Converter.main` re-expressed (SURVEY §3.1): given a
  * source and a destination JDBC URL, run the pipeline with mode gates,
  * then report totals. Each new destination table is created bare, its
  * rows are copied, and then its primary key and secondary indexes are
  * built over the loaded rows (the reference creates the key and indexes
  * before the data, Converter.java:69-83; a dialect that cannot add a key
  * later, Spanner, keeps it in CREATE TABLE).
  *
  * Usage: ConverterApp <source> <destJdbcUrl> [mode] [--yes]
  *
  * `source` is either
  *  - a JDBC URL (`jdbc:…`) — the reference's real day-one flow
  *    (`SRC/Converter.java:57-58`): the source catalog is introspected
  *    (`Catalog.introspectAll` — tables, columns, PKs, secondary
  *    indexes; source discovery `SRC/data/DataCopier.java:108-126`),
  *    DDL runs against the destination, and each table is read as a
  *    PK-range-partitioned Spark scan (`DataCopier.readJdbc`) and
  *    batch-INSERTed. Discovery counts each PK table's source rows once
  *    (the reference's prepare-phase count, A1), and the scan has the
  *    reference's worker count, `CopyPlanner.readPartitions` (X2); or
  *  - a fixture parquet directory (testing convenience) — schemas come
  *    from the parquet footers and the fixture PK/index registry.
  *
  *   e.g.  "jdbc:derby:memory:srcdb" "jdbc:derby:/tmp/graftdb" DropAndRecreate --yes
  */
object ConverterApp {

  /** Destructive-mode gate — the reference interactively confirms before
    * dropping objects (Converter.java:43-56,85-110); headless Spark jobs
    * can't prompt, so DropAndRecreate requires an explicit `--yes` ack and
    * aborts BEFORE any DDL runs otherwise. */
  def requireDestructiveAck(mode: ConvertMode, acked: Boolean): Either[String, Unit] =
    if (mode == ConvertMode.DropAndRecreate && !acked)
      Left("mode=DropAndRecreate drops destination tables; re-run with --yes to confirm")
    else Right(())

  /** Spark schema → TableSpec (reverse of Catalog introspection) so the
    * DDL generator can target any dialect from a DataFrame source. */
  def specFromStruct(name: String, schema: StructType, pk: Seq[String],
      indexes: Seq[graft.catalog.IndexSpec] = Nil): TableSpec = {
    val cols = schema.fields.map { f =>
      val (jdbc, size, scale) = f.dataType match {
        case BooleanType => (Types.BOOLEAN, 0, 0)
        case LongType => (Types.BIGINT, 19, 0)
        case IntegerType => (Types.INTEGER, 10, 0)
        case ShortType | ByteType => (Types.SMALLINT, 5, 0)
        case FloatType => (Types.FLOAT, 0, 0)
        case DoubleType => (Types.DOUBLE, 0, 0)
        case d: DecimalType => (Types.DECIMAL, d.precision, d.scale)
        case StringType => (Types.VARCHAR, 4000, 0)
        case DateType => (Types.DATE, 0, 0)
        case TimestampType | TimestampNTZType => (Types.TIMESTAMP, 0, 0)
        case BinaryType => (Types.VARBINARY, 32000, 0)
        case other => throw new IllegalArgumentException(
          s"No JDBC mapping for $name.${f.name}: $other")
      }
      ColumnSpec(f.name, jdbc, size, scale, f.nullable && !pk.contains(f.name))
    }
    TableSpec(None, None, name, cols.toIndexedSeq, pk, indexes)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    // every failure path honors the abort contract (stderr ABORT line,
    // session stopped, exit 2) — not just argument errors: DDL-script
    // conflicts throw IllegalStateException, the JDBC layer SQLException
    try run(args, spark)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[convert] ABORT: ${e.getMessage}"); spark.stop(); sys.exit(2)
    }
    spark.stop()
  }

  /** The full pipeline against a caller-provided session (main wraps
    * this with session lifecycle + exit codes; tests call it directly). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val acked = args.contains("--yes")
    val positional = args.filterNot(_.startsWith("--"))
    if (positional.length < 2) throw new IllegalArgumentException(
      "usage: ConverterApp <sourceDirOrJdbcUrl> <destJdbcUrl> [mode] [--yes]")
    val source = positional(0)
    val url = positional(1)
    val mode = if (positional.length > 2) ConvertMode.parse(positional(2))
      else ConvertMode.SkipExisting
    requireDestructiveAck(mode, acked) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(()) => ()
    }
    val cfg = ConverterConfig()

    // --- source discovery: one (TableSpec, partitioned read) per table.
    val srcIsJdbc = source.toLowerCase.startsWith("jdbc:")
    val srcConn =
      if (srcIsJdbc) Some(JdbcHooks.connect(source, Map.empty)) else None
    // everything below runs inside the try so the source connection
    // cannot leak when introspection or the destination connect throws
    try {
    val sourceTables: Seq[(graft.catalog.TableSpec, () => org.apache.spark.sql.DataFrame)] =
      srcConn match {
        case Some(c) =>
          // the reference's real flow: introspect the live source catalog
          // (tables/columns/PKs/indexes) and read each table as a
          // PK-range-partitioned scan pushed down to the source, in as
          // many partitions as the reference has upload workers. The
          // count only sizes the read: the scan's own probe and
          // half-open ranges still cover every row.
          Catalog.introspectAll(c, Dialect.forUrl(source)).map { spec =>
            val partitions =
              if (!spec.hasPrimaryKey) 1
              else CopyPlanner.readPartitions(
                JdbcHooks.count(c, DataCopier.sourceTable(spec)), cfg)
            (spec, () => DataCopier.readJdbc(spark, source, spec,
              new java.util.Properties(), partitions, None))
          }
        case None =>
          // fixture mode: schemas from parquet footers, PKs/indexes from
          // the fixture registry. Tables whose schemas aren't
          // JDBC-expressible stay parquet-only (arrays are carried as
          // zero-size opaque values by the reference and unsupported by
          // most JDBC destinations — embeddings).
          // (l_orderkey, l_linenumber) is NOT unique in the fixture data,
          // so lineitem is effectively PK-less for a constrained
          // destination — the reference skips PK-less tables
          // (TableConverter.java:246-250, GenericJdbcTableWorker.java:
          // 32-36) and so do we.
          val enforceablePks = Tables.primaryKeys + ("lineitem" -> Seq.empty)
          Tables.names.filterNot(_ == "embeddings").map { t =>
            val df = Tables(spark, source, t)
            (specFromStruct(t, df.schema, enforceablePks(t),
              Tables.indexes.getOrElse(t, Nil)), () => df)
          }
      }

    // destination tables are unqualified (the source schema has no
    // meaning in the destination catalog)
    Catalog.requireDistinctNames(sourceTables.map(_._1))

    // Derby: ask for DB creation via properties (a ";create=true" URL
    // attribute doesn't survive sbt's command parsing).
    val destDialect = Dialect.forUrl(url)
    val conn = JdbcHooks.connect(url,
      if (url.startsWith("jdbc:derby:")) Map("create" -> "true") else Map.empty)
    try {
      conn.setAutoCommit(true)
      val existing = Catalog.listTables(conn, destDialect)
        .map(_._2.toUpperCase).toSet

      val t0 = System.currentTimeMillis()

      // --- phase 1 (sequential, driver-side): DDL with mode gates (J2).
      // Each table's DDL plan splits around its copy: the DROP and the
      // bare CREATE TABLE run here, before any data moves; its `afterLoad`
      // (ADD PRIMARY KEY, then CREATE INDEX) runs once its rows are in.
      // rows-per-commit still counts the carried indexes, the reference's
      // X3/A5 formula (each secondary index one extra mutation per row).
      final case class Plan(spec: graft.catalog.TableSpec,
          read: () => org.apache.spark.sql.DataFrame,
          copyData: Boolean, reason: String, afterLoad: Seq[String])
      val plans = sourceTables.map { case (spec0, read) =>
        // destination tables are unqualified: the source schema (e.g.
        // Derby APP) has no meaning in the destination catalog
        val spec = spec0.copy(schema = None)
        val t = spec.name
        if (!spec.hasPrimaryKey) Plan(spec, read, copyData = false, "no primary key", Nil)
        else {
          val ddl = DdlGenerator.plan(spec, destDialect, mode,
            existing.contains(t.toUpperCase), cfg) match {
            case Left(err) => throw new IllegalStateException(err)
            case Right(p) => p
          }
          execute(conn, ddl.beforeLoad)
          val destCount =
            if (ddl.beforeLoad.nonEmpty || !existing.contains(t.toUpperCase)) 0L
            else JdbcHooks.count(conn, t)
          if (mode == ConvertMode.SkipAll ||
              (mode == ConvertMode.SkipExisting && destCount > 0)) {
            // a table created here but left empty gets its key and
            // indexes at once
            execute(conn, ddl.afterLoad)
            Plan(spec, read, copyData = false, s"mode=$mode, destRows=$destCount", Nil)
          } else Plan(spec, read, copyData = true, "", ddl.afterLoad)
        }
      }

      // --- phase 2: table-level fan-out (X1) — `numberOfTableWorkers`
      // concurrent per-table Spark jobs, the Spark shape of the
      // reference's fixed table-worker pool (DataCopier.java:167-190).
      // The jobs share the context's scheduler, FIFO unless the session
      // was started with another `spark.scheduler.mode`. Each table's
      // key and indexes are built on its own connection right after its
      // rows are written, and the `[convert]` line's ms covers both.
      // Failures — of a copy or of its key and index DDL — propagate
      // (X6 fix) and are final: the first failed table cancels
      // the run's job group, and `run` rethrows it (the others'
      // failures suppressed) only once every table's copy has ended, so
      // nothing writes to the destination after `run` throws; once a
      // table has failed, no other table builds its key or indexes. The
      // pool is shut down on every exit so no idle worker threads remain.
      val sc = spark.sparkContext
      val jobGroup = s"graft-convert-${java.util.UUID.randomUUID()}"
      val firstFailure = new AtomicReference[Throwable]()
      val pool = Executors.newFixedThreadPool(cfg.numberOfTableWorkers)
      val results = try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val futures = plans.map { p =>
          if (!p.copyData) Future {
            println(s"[convert] ${p.spec.name}: data skipped (${p.reason})")
            (0L, 0L)
          } else Future {
            sc.setJobGroup(jobGroup, s"convert ${p.spec.name}", interruptOnCancel = false)
            try {
              val rpc = CopyPlanner.rowsPerCommit(p.spec, cfg)
              val df = p.read()
              val report = DataCopier.writeJdbc(df, url, p.spec.name, cfg, rpc)
              if (firstFailure.get == null) {
                val ddlStart = System.currentTimeMillis()
                if (p.afterLoad.nonEmpty) {
                  val c = JdbcHooks.connect(url, Map.empty)
                  try execute(c, p.afterLoad) finally c.close()
                }
                val ms = report.elapsedMillis + System.currentTimeMillis() - ddlStart
                println(s"[convert] ${p.spec.name}: ${report.records} records, " +
                  s"${report.bytes} bytes, rowsPerCommit=$rpc, $ms ms")
              }
              (report.records, report.bytes)
            } catch { case e: Throwable =>
              if (firstFailure.compareAndSet(null, e))
                sc.cancelJobGroupAndFutureJobs(jobGroup,
                  s"table ${p.spec.name} failed")
              throw e
            }
          }
        }
        Await.ready(Future.sequence(futures.map(_.transform(Success(_)))),
          cfg.tableWorkerMaxWaitMinutes.minutes)
        Option(firstFailure.get).foreach { first =>
          futures.flatMap(_.value.flatMap(_.failed.toOption))
            .filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        }
        futures.map(_.value.get.get)
      } finally pool.shutdown()
      println(s"[convert] TOTAL: ${results.map(_._1).sum} records, " +
        s"${results.map(_._2).sum} bytes, ${System.currentTimeMillis() - t0} ms")
    } finally {
      conn.close()
    }
    } finally {
      srcConn.foreach(c => try c.close() catch { case _: Exception => })
    }
  }

  /** Runs DDL statements in order on `conn`. */
  private def execute(conn: Connection, ddl: Seq[String]): Unit =
    if (ddl.nonEmpty) {
      val st = conn.createStatement()
      try ddl.foreach(st.executeUpdate) finally st.close()
    }
}
