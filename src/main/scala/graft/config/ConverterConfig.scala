package graft.config

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
  /** PK clause inside the column list (PostgreSQL) vs trailing after the
    * close-paren (Spanner) — TableConverter.java:220-245. */
  def pkInsideColumnList: Boolean
  /** Whether `ALTER TABLE … ADD PRIMARY KEY` can key an existing table,
    * so a migration can build the key after loading the rows (Derby,
    * PostgreSQL). Spanner's key is part of its CREATE TABLE. */
  def canAddPrimaryKey: Boolean
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
    val pkInsideColumnList = false
    val canAddPrimaryKey = false
    def isSystemSchema(s: String): Boolean =
      s != null && (s.equalsIgnoreCase("INFORMATION_SCHEMA") ||
        s.toUpperCase.startsWith("PG_"))
    val defaultSchema = ""
  }
  case object PostgreSql extends Dialect {
    val pkInsideColumnList = true
    val canAddPrimaryKey = true
    def isSystemSchema(s: String): Boolean =
      s != null && (s.equalsIgnoreCase("INFORMATION_SCHEMA") ||
        s.toUpperCase.startsWith("PG_"))
    val defaultSchema = "public"
  }
  /** Embedded Derby — test dialect (not in the reference). */
  case object Derby extends Dialect {
    val pkInsideColumnList = true
    val canAddPrimaryKey = true
    def isSystemSchema(s: String): Boolean =
      s != null && s.toUpperCase.startsWith("SYS")
    val defaultSchema = "APP"
  }
}

/** Runtime configuration. A caller sets three values; the rest of the
  * reference's `ConverterConfiguration.java` settings are constants at
  * the reference defaults (BASELINE.md), since no entry point needs
  * another value. */
final case class ConverterConfig(
    /** statements per executeBatch — DataConverter.maxStatementsInOneJdbcBatch,
      * ConverterConfiguration.java:236-244 */
    maxStatementsInOneJdbcBatch: Int = 10000,
    /** per-task copy deadline — DataConverter.uploadWorkerMaxWaitInMinutes,
      * ConverterConfiguration.java:217-225 */
    uploadWorkerMaxWaitMinutes: Int = 60,
    /** per-column type overrides: `table.column` or bare `column` →
      * dialect type string — TableConverter.java:254-277 */
    columnTypeOverrides: Map[String, String] = Map.empty) {

  /** commit byte budget — DataConverter.batchSize,
    * ConverterConfiguration.java:180-187 */
  val batchSizeBytes: Long = 1500000L
  /** read partitions per table — DataConverter.maxNumberOfWorkers,
    * ConverterConfiguration.java:198-205 */
  val maxNumberOfWorkers: Int = 10
  /** concurrent table copies — DataConverter.numberOfTableWorkers,
    * ConverterConfiguration.java:189-196 */
  val numberOfTableWorkers: Int = 10
  /** deadline for all table copies — DataConverter.tableWorkerMaxWaitInMinutes,
    * ConverterConfiguration.java:207-215 */
  val tableWorkerMaxWaitMinutes: Int = 60
  /** row count from which a delete is split into ranges —
    * ConverterConfiguration.java:122-127,152-158 */
  val maxRecordsInSingleDeleteStatement: Int = 10000
}
