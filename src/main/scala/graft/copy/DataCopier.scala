package graft.copy

import java.sql.PreparedStatement
import scala.annotation.unused
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.catalog.TableSpec
import graft.config.ConverterConfig
import graft.sources.JdbcHooks

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

  /** The source table `readJdbc` reads: `schema.name`, or the bare name
    * when the spec has no schema. */
  def sourceTable(spec: TableSpec): String =
    spec.schema.map(s => s"$s.${spec.name}").getOrElse(spec.name)

  /** Partitioned JDBC source read (S1/S2): one `graft-jdbc` scan with
    * the spec's PK as the split key. The source probes `numPartitions - 1`
    * PK boundary tuples on the database (index-served OFFSET/FETCH, no
    * Spark scan) and reads one lexicographic PK range per partition, so
    * single-column and composite PKs alike get intra-table parallelism —
    * the reference's universal worker split
    * (GenericJdbcTableWorker.java:42-58). A table without a PK, or
    * `numPartitions <= 1`, reads as one partition. The scan pushes the
    * pruned column list and the PK range, nothing else: a filter,
    * aggregate, limit or sort on the returned frame runs in Spark, since
    * the database's string order can differ from Spark's. Every entry of
    * `props` is passed as a source option (connection user/password, the
    * snapshot-pin keys).
    *
    * `pkBounds` has no effect: the split points come from the probe, not
    * from MIN/MAX bounds. It stays only to keep the six-parameter
    * signature for positional callers. */
  def readJdbc(spark: SparkSession, url: String, spec: TableSpec,
      props: java.util.Properties, numPartitions: Int,
      @unused pkBounds: Option[(Long, Long)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.read.format("graft-jdbc")
      .options(props.stringPropertyNames.asScala.map(k => k -> props.getProperty(k)).toMap)
      .option("url", url).option("dbtable", sourceTable(spec))
      .option("pk", spec.primaryKey.mkString(","))
      .option("partitions", numPartitions.toString)
      .load()
  }

  /** Commit-aware batched INSERT sink (S7 + X3). Runs on executors;
    * `url` must be reachable from every task. Returns (records, bytes)
    * accumulated across tasks.
    *
    * The pump reads the plan's internal rows (`queryExecution.toRdd`)
    * inside one SQL execution, so listeners still see the write, and
    * binds each value through a per-column setter built once per
    * partition — no external-`Row` conversion, no per-value type match. */
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
    // per-task deadline — the reference bounds each upload worker with
    // uploadWorkerMaxWaitInMinutes (ConverterConfiguration.java:217-225);
    // a Spark task is the upload worker, so it checks the same budget at
    // every batch flush and fails the job (X6: no swallowed hangs).
    val uploadDeadlineMillis = cfg.uploadWorkerMaxWaitMinutes * 60000L
    val t0 = System.currentTimeMillis()
    val pump: Iterator[InternalRow] => Unit = { rows =>
      if (rows.hasNext) {
        val taskStart = System.currentTimeMillis()
        def checkDeadline(): Unit =
          if (System.currentTimeMillis() - taskStart >= uploadDeadlineMillis)
            throw new java.util.concurrent.TimeoutException(
              s"upload worker exceeded ${cfg.uploadWorkerMaxWaitMinutes} minutes for $table")
        val setters = schema.fields.map(f => setter(f.dataType))
        val width = setters.length
        // a failure rolls back before close, so close() cannot mask it,
        // and the task exception fails the job (X6 fix — the reference
        // silently swallowed worker errors)
        JdbcHooks.inTransaction(url, connProps) { conn =>
          val ps = conn.prepareStatement(insertSql)
          var inBatch = 0L
          var sinceCommit = 0L
          var taskRecords = 0L
          var taskBytes = 0L
          rows.foreach { row =>
            // positional pump — AbstractTablePartWorker.java:72-103
            var i = 0
            while (i < width) {
              if (row.isNullAt(i)) ps.setObject(i + 1, null)
              else taskBytes += setters(i)(ps, row, i)
              i += 1
            }
            ps.addBatch(); inBatch += 1
            sinceCommit += 1; taskRecords += 1
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
        }
      }
    }
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(s"writeJdbc $table"))(
      qe.toRdd.foreachPartition(pump))
    CopyReport(records.value, bytes.value, System.currentTimeMillis() - t0)
  }

  /** Binds the non-null value at one ordinal of a row to marker
    * `ordinal + 1` and returns its A3 wire size. */
  private type Setter = (PreparedStatement, InternalRow, Int) => Long

  /** The setter for one column type: the JDBC value the external `Row`
    * would carry, and the byte rules of ConverterUtils.java:118-152
    * (a string counts its UTF-8 bytes; ARRAY and other types count
    * zero — ConverterUtils.java:89-90). */
  private def setter(dt: DataType): Setter = dt match {
    case BooleanType => (ps, r, i) => { ps.setBoolean(i + 1, r.getBoolean(i)); 1L }
    case ByteType => (ps, r, i) => { ps.setByte(i + 1, r.getByte(i)); 8L }
    case ShortType => (ps, r, i) => { ps.setShort(i + 1, r.getShort(i)); 8L }
    case IntegerType => (ps, r, i) => { ps.setInt(i + 1, r.getInt(i)); 8L }
    case LongType => (ps, r, i) => { ps.setLong(i + 1, r.getLong(i)); 8L }
    case FloatType => (ps, r, i) => { ps.setFloat(i + 1, r.getFloat(i)); 8L }
    case DoubleType => (ps, r, i) => { ps.setDouble(i + 1, r.getDouble(i)); 8L }
    case d: DecimalType => (ps, r, i) => {
      ps.setBigDecimal(i + 1, r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal); 8L
    }
    case _: StringType => (ps, r, i) => {
      val s = r.getUTF8String(i)
      ps.setString(i + 1, s.toString); s.numBytes.toLong
    }
    case BinaryType => (ps, r, i) => {
      val b = r.getBinary(i)
      ps.setBytes(i + 1, b); b.length.toLong
    }
    case DateType => (ps, r, i) => {
      ps.setDate(i + 1, DateTimeUtils.toJavaDate(r.getInt(i))); 4L
    }
    case TimestampType => (ps, r, i) => {
      ps.setTimestamp(i + 1, DateTimeUtils.toJavaTimestamp(r.getLong(i))); 12L
    }
    case TimestampNTZType => (ps, r, i) => {
      ps.setTimestamp(i + 1, java.sql.Timestamp.valueOf(
        DateTimeUtils.microsToLocalDateTime(r.getLong(i)))); 12L
    }
    case other =>
      val toScala = CatalystTypeConverters.createToScalaConverter(other)
      (ps, r, i) => { ps.setObject(i + 1, toScala(r.get(i, other))); 0L }
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
