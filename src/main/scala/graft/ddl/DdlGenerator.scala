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

/** One table's DDL split around its data copy: `beforeLoad` (DROP when
  * the mode asks for it, then CREATE TABLE) runs before any row is
  * written, `afterLoad` (ADD PRIMARY KEY where the dialect can add one,
  * then every CREATE INDEX) once the rows are in, so the destination
  * builds each B-tree once over the loaded rows instead of maintaining
  * it row by row. */
final case class DdlPlan(beforeLoad: Seq[String], afterLoad: Seq[String])

/** CREATE TABLE / ADD PRIMARY KEY / CREATE INDEX / DROP generation + mode gates.
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
    * TableConverter.java:246-250). `inlineKey = false` leaves the PK
    * clause out, for a key added after the load by [[addPrimaryKey]]. */
  def createTable(spec: TableSpec, dialect: Dialect,
      cfg: ConverterConfig = ConverterConfig(),
      inlineKey: Boolean = true): Option[String] = {
    if (!spec.hasPrimaryKey) return None
    val cols = spec.columns.map { c =>
      val t = TypeMapper.ddlType(dialect, cfg, spec.name, c.name, c.jdbcType, c.size)
      val notNull = if (!c.nullable) " NOT NULL" else ""
      s"${c.name} $t$notNull"
    }
    val key = s"PRIMARY KEY (${spec.primaryKey.mkString(", ")})"
    val (body, trailer) =
      if (!inlineKey) (cols, "")
      else if (dialect.pkInsideColumnList) (cols :+ key, "")
      else (cols, s" $key")
    Some(s"CREATE TABLE ${spec.qualifiedName(dialect)} (${body.mkString(", ")})$trailer")
  }

  /** The key of a table created without one, in KEY_SEQ order. */
  def addPrimaryKey(spec: TableSpec, dialect: Dialect): String =
    s"ALTER TABLE ${spec.qualifiedName(dialect)} ADD PRIMARY KEY " +
      s"(${spec.primaryKey.mkString(", ")})"

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

  /** One table's DDL under a mode, split around its data copy. The
    * reference creates the key and indexes before the data
    * (Converter.java:69-83); here they follow it. A dialect that cannot
    * add a key to an existing table (Spanner) keeps it in CREATE TABLE
    * and defers only the indexes. */
  def plan(spec: TableSpec, dialect: Dialect, mode: ConvertMode,
      existsInDestination: Boolean,
      cfg: ConverterConfig = ConverterConfig()): Either[String, DdlPlan] =
    decide(mode, existsInDestination, spec.name) match {
      case DdlAction.Fail(reason) => Left(reason)
      case DdlAction.Skip => Right(DdlPlan(Nil, Nil))
      case action =>
        val deferKey = dialect.canAddPrimaryKey && spec.hasPrimaryKey
        val drop =
          if (action == DdlAction.DropThenCreate) Seq(dropTable(spec, dialect)) else Nil
        Right(DdlPlan(
          drop ++ createTable(spec, dialect, cfg, inlineKey = !deferKey),
          (if (deferKey) Seq(addPrimaryKey(spec, dialect)) else Nil) ++
            spec.indexes.map(createIndex(spec, _, dialect))))
    }

  /** Full DDL script for one table under a mode, in execution order:
    * `beforeLoad ++ afterLoad` of its [[plan]]. Dry-run = don't execute,
    * return the strings (reference `convert(false)` —
    * TableConverter.java:147,172-179). */
  def script(spec: TableSpec, dialect: Dialect, mode: ConvertMode,
      existsInDestination: Boolean,
      cfg: ConverterConfig = ConverterConfig()): Either[String, Seq[String]] =
    plan(spec, dialect, mode, existsInDestination, cfg)
      .map(p => p.beforeLoad ++ p.afterLoad)
}
