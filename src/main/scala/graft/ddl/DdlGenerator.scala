package graft.ddl

import graft.catalog.{IndexSpec, TableSpec}
import graft.config.{ConvertMode, ConverterConfig, Dialect}
import graft.types.TypeMapper

/** What the mode gate decided for one object —
  * TableConverter.java:159-184,197-203. */
sealed trait DdlAction
object DdlAction {
  case object Create extends DdlAction
  case object Skip extends DdlAction
  case object DropThenCreate extends DdlAction
  final case class Fail(reason: String) extends DdlAction
}

/** CREATE TABLE / CREATE INDEX / DROP generation + mode gates.
  * Pure functions, no SparkSession (SURVEY §3.3 "Spark shape").
  *
  * Reference: table DDL TableConverter.java:191-252; PK position per
  * dialect :220-245; NOT NULL :279-285; no-PK skip :246-250; index DDL
  * IndexConverter.java:158-180 (we additionally emit UNIQUE — the
  * reference scans uniqueness but drops it, a bug per SURVEY §2.11). */
object DdlGenerator {

  /** Mode gate for one object given destination existence. */
  def decide(mode: ConvertMode, existsInDestination: Boolean, name: String): DdlAction =
    if (!existsInDestination) DdlAction.Create
    else mode match {
      case ConvertMode.SkipAll | ConvertMode.SkipExisting => DdlAction.Skip
      case ConvertMode.DropAndRecreate => DdlAction.DropThenCreate
      case ConvertMode.ThrowExceptionIfExists =>
        DdlAction.Fail(s"Table $name already exists")
    }

  /** CREATE TABLE, or None when the table has no PK (reference skips —
    * TableConverter.java:246-250). */
  def createTable(spec: TableSpec, dialect: Dialect,
      cfg: ConverterConfig = ConverterConfig()): Option[String] = {
    if (!spec.hasPrimaryKey) return None
    val cols = spec.columns.map { c =>
      val t = TypeMapper.ddlType(dialect, cfg, spec.name, c.name, c.jdbcType, c.size)
      val notNull = if (!c.nullable) " NOT NULL" else ""
      s"${c.name} $t$notNull"
    }
    val pkList = spec.primaryKey.mkString(", ")
    val body =
      if (dialect.pkInsideColumnList)
        (cols :+ s"PRIMARY KEY ($pkList)").mkString(", ")
      else cols.mkString(", ")
    val trailer = if (dialect.pkInsideColumnList) "" else s" PRIMARY KEY ($pkList)"
    Some(s"CREATE TABLE ${spec.qualifiedName(dialect)} ($body)$trailer")
  }

  /** CREATE INDEX with ASC/DESC and UNIQUE — IndexConverter.java:158-180. */
  def createIndex(spec: TableSpec, ix: IndexSpec, dialect: Dialect): String = {
    val unique = if (ix.unique) "UNIQUE " else ""
    val cols = ix.columns.map { case (c, asc) =>
      if (asc) c else s"$c DESC"
    }.mkString(", ")
    s"CREATE ${unique}INDEX ${ix.name} ON ${spec.qualifiedName(dialect)} ($cols)"
  }

  def dropTable(spec: TableSpec, dialect: Dialect): String =
    s"DROP TABLE ${spec.qualifiedName(dialect)}"

  /** Full DDL script for one table under a mode, in execution order.
    * Dry-run = don't execute, return the strings (reference
    * `convert(false)` — TableConverter.java:147,172-179). */
  def script(spec: TableSpec, dialect: Dialect, mode: ConvertMode,
      existsInDestination: Boolean,
      cfg: ConverterConfig = ConverterConfig()): Either[String, Seq[String]] =
    decide(mode, existsInDestination, spec.name) match {
      case DdlAction.Fail(reason) => Left(reason)
      case DdlAction.Skip => Right(Seq.empty)
      case DdlAction.Create =>
        Right(createTable(spec, dialect, cfg).toSeq ++
          spec.indexes.map(createIndex(spec, _, dialect)))
      case DdlAction.DropThenCreate =>
        Right(dropTable(spec, dialect) +:
          (createTable(spec, dialect, cfg).toSeq ++
            spec.indexes.map(createIndex(spec, _, dialect))))
    }
}
