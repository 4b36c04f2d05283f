package graft.config

import org.scalatest.funsuite.AnyFunSuite

/** The configuration surface and its reference defaults
  * (ConverterConfiguration.java; BASELINE.md table). A new setting needs
  * a caller that sets it and an edit to the field list below. */
class ConverterConfigSpec extends AnyFunSuite {

  test("defaults match the reference envelope") {
    val c = ConverterConfig()
    assert(c.productElementNames.toSeq == Seq(
      "maxStatementsInOneJdbcBatch", "uploadWorkerMaxWaitMinutes",
      "columnTypeOverrides"))
    assert(c.maxStatementsInOneJdbcBatch == 10000)
    assert(c.uploadWorkerMaxWaitMinutes == 60)
    assert(c.columnTypeOverrides.isEmpty)
    assert(c.batchSizeBytes == 1500000L)
    assert(c.maxNumberOfWorkers == 10)
    assert(c.numberOfTableWorkers == 10)
    assert(c.tableWorkerMaxWaitMinutes == 60)
    assert(c.maxRecordsInSingleDeleteStatement == 10000)
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
