package graft.copy

import java.sql.{DriverManager, PreparedStatement}
import scala.annotation.unused
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.catalog.TableSpec
import graft.config.ConverterConfig

/** Totals for one copy — the reference's `ConversionResult`
  * (ConversionResult.java:8-36), except failures are NOT swallowed
  * (X6 fix, SURVEY §2.11): any task exception fails the Spark job. */
final case class CopyReport(records: Long, bytes: Long, elapsedMillis: Long)

/** The Spark heart of the reference's hot path (SURVEY §3.2):
  * partitioned JDBC read (`graft-jdbc`) or parquet read → identity
  * projection → commit-aware batched JDBC sink. These are the only JDBC
  * read and write paths of the copy.
  *
  * Mapping: the reference's two-level worker hierarchy (table workers ×
  * upload workers, DataCopier.java:167-190) collapses into Spark's
  * driver-side job concurrency × task parallelism. Each task owns its
  * JDBC connection (like UploadWorker.java:41-42), batches
  * `maxStatementsInOneJdbcBatch` statements per executeBatch
  * (AbstractTablePartWorker.java:84-102) and commits every
  * `rowsPerCommit` rows (X3 — ConverterUtils.java:25-40).
  *
  * Scale posture: the sink is `foreachPartition` over however many
  * partitions the plan carries — on a 1000-executor cluster each task
  * streams its partition through a single PreparedStatement; no driver
  * materialization, no shuffle (partitioning comes from the source).
  */
object DataCopier {

  /** Partitioned JDBC source read (S1/S2): one `graft-jdbc` scan with
    * the spec's PK as the split key. The source probes `numPartitions - 1`
    * PK boundary tuples on the database (index-served OFFSET/FETCH, no
    * Spark scan) and reads one lexicographic PK range per partition, so
    * single-column and composite PKs alike get intra-table parallelism —
    * the reference's universal worker split
    * (GenericJdbcTableWorker.java:42-58). A table without a PK, or
    * `numPartitions <= 1`, reads as one partition. Every entry of `props`
    * is passed as a source option (connection user/password, the
    * snapshot-pin keys).
    *
    * `pkBounds` has no effect: the split points come from the probe, not
    * from MIN/MAX bounds. It stays only to keep the six-parameter
    * signature for positional callers. */
  def readJdbc(spark: SparkSession, url: String, spec: TableSpec,
      props: java.util.Properties, numPartitions: Int,
      @unused pkBounds: Option[(Long, Long)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val table = spec.schema.map(s => s"$s.${spec.name}").getOrElse(spec.name)
    spark.read.format("graft-jdbc")
      .options(props.stringPropertyNames.asScala.map(k => k -> props.getProperty(k)).toMap)
      .option("url", url).option("dbtable", table)
      .option("pk", spec.primaryKey.mkString(","))
      .option("partitions", numPartitions.toString)
      .load()
  }

  /** Commit-aware batched INSERT sink (S7 + X3). Runs on executors;
    * `url` must be reachable from every task. Returns (records, bytes)
    * accumulated across tasks. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      cfg: ConverterConfig = ConverterConfig(),
      rowsPerCommit: Long = 10000L,
      connProps: Map[String, String] = Map.empty): CopyReport = {
    val spark = df.sparkSession
    val records: LongAccumulator = spark.sparkContext.longAccumulator(s"$table.records")
    val bytes: LongAccumulator = spark.sparkContext.longAccumulator(s"$table.bytes")
    val schema = df.schema
    val insertSql = {
      val cols = schema.fieldNames.mkString(", ")
      val qs = schema.fieldNames.map(_ => "?").mkString(", ")
      s"INSERT INTO $table ($cols) VALUES ($qs)" // AbstractTablePartWorker.java:65-70
    }
    val maxBatch = cfg.maxStatementsInOneJdbcBatch
    val useBatching = cfg.useJdbcBatching
    // per-task deadline — the reference bounds each upload worker with
    // uploadWorkerMaxWaitInMinutes (ConverterConfiguration.java:217-225);
    // a Spark task is the upload worker, so it checks the same budget at
    // every batch flush and fails the job (X6: no swallowed hangs).
    val uploadDeadlineMillis = cfg.uploadWorkerMaxWaitMinutes * 60000L
    val propsSeq = connProps.toSeq
    val t0 = System.currentTimeMillis()
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val taskStart = System.currentTimeMillis()
        def checkDeadline(): Unit =
          if (System.currentTimeMillis() - taskStart >= uploadDeadlineMillis)
            throw new java.util.concurrent.TimeoutException(
              s"upload worker exceeded ${cfg.uploadWorkerMaxWaitMinutes} minutes for $table")
        val p = new java.util.Properties()
        propsSeq.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = DriverManager.getConnection(url, p)
        var failed: Throwable = null
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(insertSql)
          var inBatch = 0L
          var sinceCommit = 0L
          var taskRecords = 0L
          var taskBytes = 0L
          rows.foreach { row =>
            bindRow(ps, row, schema)
            if (useBatching) { ps.addBatch(); inBatch += 1 }
            else ps.executeUpdate()
            sinceCommit += 1; taskRecords += 1
            taskBytes += rowWireSize(row, schema)
            if (inBatch >= maxBatch) { ps.executeBatch(); inBatch = 0; checkDeadline() }
            if (sinceCommit >= rowsPerCommit) {
              if (inBatch > 0) { ps.executeBatch(); inBatch = 0 }
              conn.commit(); sinceCommit = 0
              checkDeadline()
            }
          }
          if (inBatch > 0) ps.executeBatch()
          conn.commit()
          ps.close()
          records.add(taskRecords)
          bytes.add(taskBytes)
        } catch {
          case t: Throwable =>
            failed = t
            // roll back the open transaction so close() doesn't mask the
            // real failure; the task exception fails the job (X6 fix —
            // the reference silently swallowed worker errors).
            try conn.rollback() catch { case _: Throwable => () }
            throw t
        } finally {
          try conn.close() catch {
            case c: Throwable => if (failed == null) throw c
          }
        }
      }
    }
    CopyReport(records.value, bytes.value, System.currentTimeMillis() - t0)
  }

  /** Positional setObject pump — AbstractTablePartWorker.java:72-103
    * (values pass through opaquely; JDBC driver coerces). */
  private def bindRow(ps: PreparedStatement, row: Row, schema: StructType): Unit = {
    var i = 0
    while (i < schema.length) {
      val v = row.get(i)
      if (v == null) ps.setObject(i + 1, null)
      else schema(i).dataType match {
        case TimestampNTZType =>
          ps.setTimestamp(i + 1,
            java.sql.Timestamp.valueOf(v.asInstanceOf[java.time.LocalDateTime]))
        case _ => ps.setObject(i + 1, v)
      }
      i += 1
    }
  }

  /** A3 per-value byte accounting — ConverterUtils.java:118-152. */
  private def rowWireSize(row: Row, schema: StructType): Long = {
    var total = 0L
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) total += (schema(i).dataType match {
        case BooleanType => 1L
        case DateType => 4L
        case LongType | IntegerType | ShortType | ByteType |
             DoubleType | FloatType | _: DecimalType => 8L
        case TimestampType | TimestampNTZType => 12L
        case StringType => row.getString(i).getBytes("UTF-8").length.toLong
        case BinaryType => row.getAs[Array[Byte]](i).length.toLong
        case _ => 0L // ARRAY etc. carried as zero — ConverterUtils.java:89-90
      })
      i += 1
    }
    total
  }

  /** End-to-end one-table copy (the §7.2 minimum slice): source
    * DataFrame → destination JDBC table sized by the reference formulas. */
  def copyTable(df: DataFrame, spec: TableSpec, url: String,
      cfg: ConverterConfig = ConverterConfig(),
      connProps: Map[String, String] = Map.empty): CopyReport = {
    val rpc = CopyPlanner.rowsPerCommit(spec, cfg)
    writeJdbc(df, url, spec.name, cfg, rpc, connProps)
  }
}
