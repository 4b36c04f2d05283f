package graft.types

import java.sql.Types
import org.apache.spark.sql.types._
import graft.config.{ConverterConfig, Dialect}

/** JDBC type → (Spark DataType, destination DDL type) mapping with the
  * reference's sizing rules and two-level override mechanism.
  *
  * Reference: default maps `TableConverter.java:59-83` (Spanner) and
  * `:85-109` (PostgreSQL); `$1` size substitution and clamps `:34-40,
  * 269-277,287-295`; override lookup order (`table.column`, then bare
  * `column`, then default map) `:254-277`.
  *
  * Divergence (SURVEY §7.4.3): DECIMAL/NUMERIC map to DecimalType
  * instead of the reference's lossy FLOAT64.
  */
object TypeMapper {

  /** sizing defaults when COLUMN_SIZE is reported as 0 —
    * TableConverter.java:34-40 */
  val DefaultStringSize = 4000
  val DefaultBytesSize = 1000000
  val DefaultOtherSize = 100
  val MaxSize = 1000000

  /** Spanner DDL map — TableConverter.java:59-83 ($1 = size placeholder). */
  val spannerMap: Map[Int, String] = Map(
    Types.BOOLEAN -> "BOOL", Types.BIT -> "BOOL",
    Types.BIGINT -> "INT64", Types.SMALLINT -> "INT64",
    Types.TINYINT -> "INT64", Types.INTEGER -> "INT64",
    Types.CHAR -> "STRING(1)",
    Types.VARCHAR -> "STRING($1)", Types.NVARCHAR -> "STRING($1)",
    Types.LONGVARCHAR -> "STRING($1)", Types.CLOB -> "STRING($1)",
    Types.FLOAT -> "FLOAT64", Types.DOUBLE -> "FLOAT64",
    Types.DECIMAL -> "FLOAT64", Types.NUMERIC -> "FLOAT64",
    Types.DATE -> "DATE", Types.TIME -> "TIMESTAMP",
    Types.TIMESTAMP -> "TIMESTAMP",
    Types.BINARY -> "BYTES($1)", Types.VARBINARY -> "BYTES($1)",
    Types.LONGVARBINARY -> "BYTES($1)", Types.BLOB -> "BYTES($1)")

  /** PostgreSQL DDL map — TableConverter.java:85-109. */
  val postgresMap: Map[Int, String] = Map(
    Types.BOOLEAN -> "BOOLEAN", Types.BIT -> "BOOLEAN",
    Types.BIGINT -> "BIGINT", Types.SMALLINT -> "SMALLINT",
    Types.TINYINT -> "SMALLINT", Types.INTEGER -> "INTEGER",
    Types.CHAR -> "CHARACTER", Types.VARCHAR -> "VARCHAR($1)",
    Types.NVARCHAR -> "VARCHAR($1)", Types.LONGVARCHAR -> "TEXT",
    Types.CLOB -> "TEXT",
    Types.FLOAT -> "REAL", Types.DOUBLE -> "DOUBLE PRECISION",
    Types.DECIMAL -> "DECIMAL", Types.NUMERIC -> "NUMERIC",
    Types.DATE -> "DATE", Types.TIME -> "TIME",
    Types.TIMESTAMP -> "TIMESTAMP",
    Types.BINARY -> "BYTEA", Types.VARBINARY -> "BYTEA",
    Types.LONGVARBINARY -> "BYTEA", Types.BLOB -> "BYTEA")

  /** Derby map (test dialect, not in the reference). */
  val derbyMap: Map[Int, String] = Map(
    Types.BOOLEAN -> "BOOLEAN", Types.BIT -> "BOOLEAN",
    Types.BIGINT -> "BIGINT", Types.SMALLINT -> "SMALLINT",
    Types.TINYINT -> "SMALLINT", Types.INTEGER -> "INTEGER",
    Types.CHAR -> "CHAR(1)", Types.VARCHAR -> "VARCHAR($1)",
    Types.NVARCHAR -> "VARCHAR($1)", Types.LONGVARCHAR -> "LONG VARCHAR",
    Types.CLOB -> "CLOB",
    Types.FLOAT -> "REAL", Types.DOUBLE -> "DOUBLE",
    Types.DECIMAL -> "DECIMAL($1)", Types.NUMERIC -> "NUMERIC($1)",
    Types.DATE -> "DATE", Types.TIME -> "TIME",
    Types.TIMESTAMP -> "TIMESTAMP",
    Types.BINARY -> "CHAR($1) FOR BIT DATA",
    Types.VARBINARY -> "VARCHAR($1) FOR BIT DATA",
    Types.LONGVARBINARY -> "LONG VARCHAR FOR BIT DATA",
    Types.BLOB -> "BLOB")

  private def dialectMap(d: Dialect): Map[Int, String] = d match {
    case Dialect.Spanner => spannerMap
    case Dialect.PostgreSql => postgresMap
    case Dialect.Derby => derbyMap
  }

  /** Size clamp + zero-size defaults — TableConverter.java:287-295. */
  def effectiveSize(template: String, reportedSize: Int): Int = {
    val clamped = math.min(reportedSize, MaxSize)
    if (clamped > 0) clamped
    else if (template.startsWith("STRING") || template.startsWith("VARCHAR") ||
      template.startsWith("LONG VARCHAR") || template.startsWith("CHAR"))
      DefaultStringSize
    else if (template.startsWith("BYTES") || template.startsWith("BYTEA") ||
      template.contains("BIT DATA") || template.startsWith("BLOB"))
      DefaultBytesSize
    else DefaultOtherSize
  }

  /** Destination DDL type for one column, honoring overrides —
    * TableConverter.java:254-295. Throws on unmapped types (reference
    * behavior `:266-268`). */
  def ddlType(dialect: Dialect, cfg: ConverterConfig, table: String,
      column: String, jdbcType: Int, size: Int): String = {
    cfg.columnTypeOverrides.get(s"$table.$column")
      .orElse(cfg.columnTypeOverrides.get(column))
      .getOrElse {
        val template = dialectMap(dialect).getOrElse(jdbcType,
          throw new IllegalArgumentException(
            s"No mapping found for SQL type $jdbcType ($table.$column)"))
        if (template.contains("$1"))
          template.replace("$1", effectiveSize(template, size).toString)
        else template
      }
  }

  /** JDBC type → Spark Catalyst type (§1.2 table, right column). */
  def sparkType(jdbcType: Int, precision: Int, scale: Int): DataType = jdbcType match {
    case Types.BOOLEAN | Types.BIT => BooleanType
    case Types.BIGINT => LongType
    case Types.INTEGER => IntegerType
    case Types.SMALLINT | Types.TINYINT => ShortType
    case Types.CHAR | Types.VARCHAR | Types.NVARCHAR |
         Types.LONGVARCHAR | Types.CLOB => StringType
    case Types.FLOAT | Types.REAL => FloatType
    case Types.DOUBLE => DoubleType
    case Types.DECIMAL | Types.NUMERIC =>
      DecimalType(math.min(math.max(precision, 1), 38), math.min(scale, 37))
    case Types.DATE => DateType
    case Types.TIME | Types.TIMESTAMP => TimestampType
    case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY |
         Types.BLOB => BinaryType
    case other =>
      throw new IllegalArgumentException(s"No Spark mapping for SQL type $other")
  }

  /** Per-type wire-size estimate — ConverterUtils.java:75-116 (row
    * estimate; NVARCHAR counts 2×size) and :118-152 (per-value). */
  def estimatedByteSize(jdbcType: Int, size: Int): Long = jdbcType match {
    case Types.BOOLEAN | Types.BIT => 1L
    case Types.DATE => 4L
    case Types.FLOAT | Types.DOUBLE | Types.BIGINT | Types.INTEGER |
         Types.SMALLINT | Types.TINYINT | Types.DECIMAL | Types.NUMERIC => 8L
    case Types.TIME | Types.TIMESTAMP => 12L
    case Types.CHAR | Types.VARCHAR | Types.NVARCHAR | Types.LONGVARCHAR |
         Types.CLOB => 2L * math.max(size, 0)
    case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY |
         Types.BLOB => math.max(size, 0).toLong
    case Types.ARRAY => 0L // carried as zero-size — ConverterUtils.java:89-90
    case _ => 8L
  }
}
