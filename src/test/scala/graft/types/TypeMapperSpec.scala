package graft.types

import java.sql.Types
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.{ConverterConfig, Dialect}

/** §1.2 mapping matrix, $1 sizing rules, override precedence —
  * reference TableConverter.java:59-109,254-295. */
class TypeMapperSpec extends AnyFunSuite {
  private val cfg = ConverterConfig()

  test("Spanner default map covers every §1.2 row") {
    val expected = Map(
      Types.BOOLEAN -> "BOOL", Types.BIT -> "BOOL",
      Types.BIGINT -> "INT64", Types.SMALLINT -> "INT64",
      Types.TINYINT -> "INT64", Types.INTEGER -> "INT64",
      Types.CHAR -> "STRING(1)", Types.FLOAT -> "FLOAT64",
      Types.DOUBLE -> "FLOAT64", Types.DECIMAL -> "FLOAT64",
      Types.NUMERIC -> "FLOAT64", Types.DATE -> "DATE",
      Types.TIME -> "TIMESTAMP", Types.TIMESTAMP -> "TIMESTAMP")
    expected.foreach { case (jdbc, ddl) =>
      assert(TypeMapper.ddlType(Dialect.Spanner, cfg, "t", "c", jdbc, 0) == ddl)
    }
  }

  test("sized types substitute $1 with min(size, 1e6)") {
    assert(TypeMapper.ddlType(Dialect.Spanner, cfg, "t", "c", Types.VARCHAR, 42)
      == "STRING(42)")
    assert(TypeMapper.ddlType(Dialect.Spanner, cfg, "t", "c", Types.VARCHAR, 5000000)
      == "STRING(1000000)")
    assert(TypeMapper.ddlType(Dialect.PostgreSql, cfg, "t", "c", Types.NVARCHAR, 42)
      == "VARCHAR(42)")
  }

  test("zero reported size falls back to defaults 4000/1e6") {
    assert(TypeMapper.ddlType(Dialect.Spanner, cfg, "t", "c", Types.VARCHAR, 0)
      == "STRING(4000)")
    assert(TypeMapper.ddlType(Dialect.Spanner, cfg, "t", "c", Types.VARBINARY, 0)
      == "BYTES(1000000)")
  }

  test("override precedence: table.column > column > default") {
    val c = cfg.copy(columnTypeOverrides = Map(
      "users.uuid" -> "BYTES(16)", "uuid" -> "STRING(36)"))
    assert(TypeMapper.ddlType(Dialect.Spanner, c, "users", "uuid", Types.VARCHAR, 99)
      == "BYTES(16)")
    assert(TypeMapper.ddlType(Dialect.Spanner, c, "other", "uuid", Types.VARCHAR, 99)
      == "STRING(36)")
    assert(TypeMapper.ddlType(Dialect.Spanner, c, "other", "name", Types.VARCHAR, 99)
      == "STRING(99)")
  }

  test("unmapped type throws (reference fail-fast)") {
    intercept[IllegalArgumentException] {
      TypeMapper.ddlType(Dialect.Spanner, cfg, "t", "c", Types.ARRAY, 0)
    }
  }

  test("Spark types: DECIMAL and NUMERIC are lossless") {
    assert(TypeMapper.sparkType(Types.DECIMAL, 12, 2) == DecimalType(12, 2))
    assert(TypeMapper.sparkType(Types.NUMERIC, 20, 4) == DecimalType(20, 4))
  }

  test("Spark types: core scalar mappings") {
    assert(TypeMapper.sparkType(Types.BIGINT, 0, 0) == LongType)
    assert(TypeMapper.sparkType(Types.INTEGER, 0, 0) == IntegerType)
    assert(TypeMapper.sparkType(Types.VARCHAR, 100, 0) == StringType)
    assert(TypeMapper.sparkType(Types.DOUBLE, 0, 0) == DoubleType)
    assert(TypeMapper.sparkType(Types.TIME, 0, 0) == TimestampType)
    assert(TypeMapper.sparkType(Types.BLOB, 0, 0) == BinaryType)
    assert(TypeMapper.sparkType(Types.BIT, 0, 0) == BooleanType)
  }

  test("byte-size estimates follow ConverterUtils constants") {
    assert(TypeMapper.estimatedByteSize(Types.BOOLEAN, 0) == 1L)
    assert(TypeMapper.estimatedByteSize(Types.DATE, 0) == 4L)
    assert(TypeMapper.estimatedByteSize(Types.BIGINT, 0) == 8L)
    assert(TypeMapper.estimatedByteSize(Types.TIMESTAMP, 0) == 12L)
    assert(TypeMapper.estimatedByteSize(Types.NVARCHAR, 50) == 100L)
    assert(TypeMapper.estimatedByteSize(Types.VARBINARY, 64) == 64L)
    assert(TypeMapper.estimatedByteSize(Types.ARRAY, 10) == 0L)
  }
}
