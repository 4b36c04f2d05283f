package graft.config

import java.util.Properties
import scala.jdk.CollectionConverters._

/** Table/data conversion modes — reference `ConvertMode.java:3-6`. */
sealed trait ConvertMode
object ConvertMode {
  case object SkipAll extends ConvertMode
  case object SkipExisting extends ConvertMode
  case object DropAndRecreate extends ConvertMode
  case object ThrowExceptionIfExists extends ConvertMode

  def parse(s: String): ConvertMode = s.trim.toLowerCase match {
    case "skipall" => SkipAll
    case "skipexisting" => SkipExisting
    case "dropandrecreate" => DropAndRecreate
    case "throwexceptionifexists" => ThrowExceptionIfExists
    case other => throw new IllegalArgumentException(s"Unknown ConvertMode: $other")
  }
}

/** Destination/source dialect behavior — reference `DatabaseType` enum
  * (ConverterConfiguration.java:15-86). */
sealed trait Dialect {
  def name: String
  /** PK clause inside the column list (PostgreSQL) vs trailing after the
    * close-paren (Spanner) — TableConverter.java:220-245. */
  def pkInsideColumnList: Boolean
  /** system schemas excluded from every catalog scan —
    * ConverterConfiguration.java:38-41,63-68. */
  def isSystemSchema(schema: String): Boolean
  def defaultSchema: String
}
object Dialect {
  /** Dialect from the JDBC URL scheme (the reference keys the same
    * decision off its configuration's DatabaseType); any other URL is
    * treated as Derby. */
  def forUrl(url: String): Dialect = {
    val u = url.toLowerCase
    if (u.startsWith("jdbc:cloudspanner:")) Spanner
    else if (u.startsWith("jdbc:postgresql:")) PostgreSql
    else Derby
  }

  case object Spanner extends Dialect {
    val name = "cloudspanner"
    val pkInsideColumnList = false
    def isSystemSchema(s: String): Boolean =
      s != null && (s.equalsIgnoreCase("INFORMATION_SCHEMA") ||
        s.toUpperCase.startsWith("PG_"))
    val defaultSchema = ""
  }
  case object PostgreSql extends Dialect {
    val name = "postgresql"
    val pkInsideColumnList = true
    def isSystemSchema(s: String): Boolean =
      s != null && (s.equalsIgnoreCase("INFORMATION_SCHEMA") ||
        s.toUpperCase.startsWith("PG_"))
    val defaultSchema = "public"
  }
  /** Embedded Derby — test dialect (not in the reference). */
  case object Derby extends Dialect {
    val name = "derby"
    val pkInsideColumnList = true
    def isSystemSchema(s: String): Boolean =
      s != null && s.toUpperCase.startsWith("SYS")
    val defaultSchema = "APP"
  }
}

/** Runtime configuration — same property keys and defaults as the
  * reference (`ConverterConfiguration.java`; defaults documented in
  * BASELINE.md). */
final case class ConverterConfig(
    // DataConverter.* — ConverterConfiguration.java:180-244
    batchSizeBytes: Long = 1500000L,
    maxNumberOfWorkers: Int = 10,
    numberOfTableWorkers: Int = 10,
    maxStatementsInOneJdbcBatch: Int = 10000,
    useJdbcBatching: Boolean = true,
    tableWorkerMaxWaitMinutes: Int = 60,
    uploadWorkerMaxWaitMinutes: Int = 60,
    // TableConverter.* / delete — ConverterConfiguration.java:122-158
    maxRecordsInSingleDeleteStatement: Int = 10000,
    tableConvertMode: ConvertMode = ConvertMode.SkipExisting,
    dataConvertMode: ConvertMode = ConvertMode.SkipExisting,
    /** reference's lossy DECIMAL/NUMERIC→FLOAT64 behavior, off by default
      * (we keep DecimalType; SURVEY §7.4.3) */
    lossyNumericAsDouble: Boolean = false,
    /** per-column type overrides: `table.column` or bare `column` →
      * dialect type string — TableConverter.java:254-277 */
    columnTypeOverrides: Map[String, String] = Map.empty)

object ConverterConfig {
  /** Parse reference-style properties, e.g.
    * `DataConverter.batchSize=1000`, `uuid=BYTES(16)`,
    * `mytable.mycolumn=STRING(100)` — ConverterConfiguration.java:264-278. */
  def fromProperties(props: Properties): ConverterConfig = {
    def get(k: String): Option[String] = Option(props.getProperty(k)).map(_.trim)
    val known = Set(
      "DataConverter.batchSize", "DataConverter.maxNumberOfWorkers",
      "DataConverter.numberOfTableWorkers",
      "DataConverter.maxStatementsInOneJdbcBatch",
      "DataConverter.useJdbcBatching",
      "DataConverter.tableWorkerMaxWaitInMinutes",
      "DataConverter.uploadWorkerMaxWaitInMinutes",
      "DataConverter.maxRecordsInSingleDeleteStatement",
      "TableConverter.convertMode", "DataConverter.convertMode",
      "TypeConverter.lossyNumericAsDouble")
    val overrides = props.stringPropertyNames().asScala
      .filterNot(known.contains)
      .map(k => k -> props.getProperty(k).trim).toMap
    ConverterConfig(
      batchSizeBytes = get("DataConverter.batchSize").map(_.toLong).getOrElse(1500000L),
      maxNumberOfWorkers = get("DataConverter.maxNumberOfWorkers").map(_.toInt).getOrElse(10),
      numberOfTableWorkers = get("DataConverter.numberOfTableWorkers").map(_.toInt).getOrElse(10),
      maxStatementsInOneJdbcBatch =
        get("DataConverter.maxStatementsInOneJdbcBatch").map(_.toInt).getOrElse(10000),
      useJdbcBatching = get("DataConverter.useJdbcBatching").forall(_.toBoolean),
      tableWorkerMaxWaitMinutes =
        get("DataConverter.tableWorkerMaxWaitInMinutes").map(_.toInt).getOrElse(60),
      uploadWorkerMaxWaitMinutes =
        get("DataConverter.uploadWorkerMaxWaitInMinutes").map(_.toInt).getOrElse(60),
      maxRecordsInSingleDeleteStatement =
        get("DataConverter.maxRecordsInSingleDeleteStatement").map(_.toInt).getOrElse(10000),
      tableConvertMode = get("TableConverter.convertMode").map(ConvertMode.parse)
        .getOrElse(ConvertMode.SkipExisting),
      dataConvertMode = get("DataConverter.convertMode").map(ConvertMode.parse)
        .getOrElse(ConvertMode.SkipExisting),
      lossyNumericAsDouble =
        get("TypeConverter.lossyNumericAsDouble").exists(_.toBoolean),
      columnTypeOverrides = overrides)
  }
}
