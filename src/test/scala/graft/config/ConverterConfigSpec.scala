package graft.config

import java.util.Properties
import org.scalatest.funsuite.AnyFunSuite

/** Property parsing with the reference's keys and defaults
  * (ConverterConfiguration.java; BASELINE.md table). */
class ConverterConfigSpec extends AnyFunSuite {

  test("defaults match the reference envelope") {
    val c = ConverterConfig()
    assert(c.batchSizeBytes == 1500000L)
    assert(c.maxNumberOfWorkers == 10)
    assert(c.numberOfTableWorkers == 10)
    assert(c.maxStatementsInOneJdbcBatch == 10000)
    assert(c.useJdbcBatching)
    assert(c.tableWorkerMaxWaitMinutes == 60)
    assert(c.maxRecordsInSingleDeleteStatement == 10000)
    assert(c.tableConvertMode == ConvertMode.SkipExisting)
    assert(!c.lossyNumericAsDouble)
  }

  test("parses the reference's example tuning profile") {
    val p = new Properties()
    p.setProperty("DataConverter.batchSize", "1000")
    p.setProperty("DataConverter.maxNumberOfWorkers", "100")
    p.setProperty("DataConverter.uploadWorkerMaxWaitInMinutes", "60")
    p.setProperty("DataConverter.useJdbcBatching", "true")
    val c = ConverterConfig.fromProperties(p)
    assert(c.batchSizeBytes == 1000L)
    assert(c.maxNumberOfWorkers == 100)
    assert(c.uploadWorkerMaxWaitMinutes == 60)
    assert(c.useJdbcBatching)
  }

  test("unknown keys become column-type overrides (uuid=BYTES(16) style)") {
    val p = new Properties()
    p.setProperty("uuid", "BYTES(16)")
    p.setProperty("mytable.mycolumn", "STRING(100)")
    p.setProperty("TableConverter.convertMode", "DropAndRecreate")
    val c = ConverterConfig.fromProperties(p)
    assert(c.columnTypeOverrides == Map(
      "uuid" -> "BYTES(16)", "mytable.mycolumn" -> "STRING(100)"))
    assert(c.tableConvertMode == ConvertMode.DropAndRecreate)
  }

  test("all four ConvertModes parse case-insensitively; unknown throws") {
    assert(ConvertMode.parse("skipall") == ConvertMode.SkipAll)
    assert(ConvertMode.parse("SkipExisting") == ConvertMode.SkipExisting)
    assert(ConvertMode.parse("DROPANDRECREATE") == ConvertMode.DropAndRecreate)
    assert(ConvertMode.parse("ThrowExceptionIfExists") == ConvertMode.ThrowExceptionIfExists)
    intercept[IllegalArgumentException](ConvertMode.parse("nope"))
  }

  test("system-schema predicates per dialect") {
    assert(Dialect.Spanner.isSystemSchema("INFORMATION_SCHEMA"))
    assert(Dialect.PostgreSql.isSystemSchema("pg_catalog"))
    assert(Dialect.Derby.isSystemSchema("SYSIBM"))
    assert(!Dialect.PostgreSql.isSystemSchema("public"))
  }

  test("Dialect.forUrl keys the dialect off the URL scheme") {
    assert(Dialect.forUrl(
      "jdbc:cloudspanner:/projects/p/instances/i/databases/db") == Dialect.Spanner)
    assert(Dialect.forUrl("JDBC:PostgreSQL://localhost:5432/db") == Dialect.PostgreSql)
    assert(Dialect.forUrl("jdbc:derby:memory:db;create=true") == Dialect.Derby)
    // a PostgreSQL source keeps a user schema that only Derby's SYS*
    // rule would hide
    assert(!Dialect.forUrl("jdbc:postgresql://h/db").isSystemSchema("SYSTEM_DATA"))
  }
}
