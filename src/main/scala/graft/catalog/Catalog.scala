package graft.catalog

import java.sql.{Connection, DatabaseMetaData}
import scala.collection.mutable.ArrayBuffer
import graft.config.Dialect
import graft.types.TypeMapper

/** One introspected column: name + JDBC metadata (the reference's
  * `Columns` parallel lists — Columns.java:9-13 — as a typed row). */
final case class ColumnSpec(
    name: String, jdbcType: Int, size: Int, scale: Int, nullable: Boolean)

/** One index — IndexConverter.java:95-138: name, ordered columns with
  * ASC/DESC, uniqueness (the reference scans NON_UNIQUE but never emits
  * UNIQUE — a bug we fix; SURVEY §2.11). */
final case class IndexSpec(
    name: String, columns: Seq[(String, Boolean)], unique: Boolean)

/** Full shape of one table (SURVEY §1.3 mapping of `Table` + `Columns`). */
final case class TableSpec(
    catalog: Option[String], schema: Option[String], name: String,
    columns: Seq[ColumnSpec], primaryKey: Seq[String],
    indexes: Seq[IndexSpec]) {

  def hasPrimaryKey: Boolean = primaryKey.nonEmpty

  /** `catalog.schema.table` with `public`-schema elision (the reference
    * drops "public" unconditionally — ConverterUtils.java:154-164 — and
    * we also drop the dialect's own default schema). */
  def qualifiedName(dialect: Dialect): String = {
    val s = schema.filterNot(x => x.isEmpty ||
      x.equalsIgnoreCase("public") || x.equalsIgnoreCase(dialect.defaultSchema))
    (catalog.filter(_.nonEmpty).toSeq ++ s.toSeq :+ name).mkString(".")
  }

  /** Reference row-size estimate: 8 + Σ per-column sizes —
    * ConverterUtils.java:61-116. */
  def estimatedRowSizeBytes: Long =
    8L + columns.map(c => TypeMapper.estimatedByteSize(c.jdbcType, c.size)).sum
}

/** Driver-side JDBC catalog introspection (S3–S6). Schema/PK/index
  * discovery has no Spark primitive; it stays plain JDBC on the driver
  * and produces `TableSpec`s. Reference: DataCopier.java:108-126,
  * TableConverter.java:131-152,205-243, IndexConverter.java:95-138,
  * ConverterUtils.java:166-191. */
object Catalog {

  /** Fails fast when two tables share a name case-insensitively. The
    * converter creates each destination table, and the export writes
    * each parquet directory, under the unqualified name, so same-named
    * tables from different source schemas would otherwise interleave
    * their rows or silently overwrite each other. */
  def requireDistinctNames(specs: Seq[TableSpec]): Unit = {
    val dups = specs.map(_.name.toUpperCase).groupBy(identity)
      .collect { case (n, g) if g.size > 1 => n }.toSeq.sorted
    if (dups.nonEmpty) throw new IllegalArgumentException(
      "source tables collide on unqualified destination name(s): " +
        dups.mkString(", ") + " (same-named tables in different source " +
        "schemas need distinct destination names)")
  }

  /** S3: enumerate user tables, excluding system schemas (P6). */
  def listTables(conn: Connection, dialect: Dialect,
      catalog: Option[String] = None): Seq[(Option[String], String)] = {
    val md = conn.getMetaData
    val rs = md.getTables(catalog.orNull, null, null, Array("TABLE"))
    val out = ArrayBuffer.empty[(Option[String], String)]
    while (rs.next()) {
      val schema = Option(rs.getString("TABLE_SCHEM"))
      if (!schema.exists(dialect.isSystemSchema))
        out += ((schema, rs.getString("TABLE_NAME")))
    }
    rs.close()
    out.toSeq
  }

  /** S4–S6: full TableSpec for one table. */
  def introspectTable(conn: Connection, schema: Option[String],
      table: String): TableSpec = {
    val md = conn.getMetaData
    // columns (S4) — ConverterUtils.java:166-181
    val crs = md.getColumns(null, schema.orNull, table, null)
    val cols = ArrayBuffer.empty[ColumnSpec]
    while (crs.next()) {
      cols += ColumnSpec(
        name = crs.getString("COLUMN_NAME"),
        jdbcType = crs.getInt("DATA_TYPE"),
        size = crs.getInt("COLUMN_SIZE"),
        scale = crs.getInt("DECIMAL_DIGITS"),
        nullable = crs.getInt("NULLABLE") != DatabaseMetaData.columnNoNulls)
    }
    crs.close()
    // primary key (S5), in KEY_SEQ order — ConverterUtils.java:183-189
    val prs = md.getPrimaryKeys(null, schema.orNull, table)
    val pk = ArrayBuffer.empty[(Short, String)]
    while (prs.next()) pk += ((prs.getShort("KEY_SEQ"), prs.getString("COLUMN_NAME")))
    prs.close()
    // indexes (S6), grouped by name, skipping PK-backing index (J3) —
    // IndexConverter.java:58-79,95-138
    val irs = md.getIndexInfo(null, schema.orNull, table, false, false)
    val idxRows = ArrayBuffer.empty[(String, Boolean, String, Boolean)]
    while (irs.next()) {
      val name = irs.getString("INDEX_NAME")
      val colName = irs.getString("COLUMN_NAME")
      if (name != null && colName != null)
        idxRows += ((name, !irs.getBoolean("NON_UNIQUE"), colName,
          irs.getString("ASC_OR_DESC") != "D"))
    }
    irs.close()
    val pkCols = pk.sortBy(_._1).map(_._2).toSeq
    val indexes = idxRows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (name, rows) =>
        IndexSpec(name, rows.map(r => (r._3, r._4)).toSeq, rows.head._2)
    }.filterNot(ix => isPrimaryKeyIndex(ix, pkCols))
    TableSpec(None, schema, table, cols.toSeq, pkCols, indexes)
  }

  /** J3: an index whose column set equals the PK backs the PK constraint —
    * skip it (reference matches on constraint name, IndexConverter.java:
    * 23,58-79; column-set equality is driver-portable). */
  private def isPrimaryKeyIndex(ix: IndexSpec, pk: Seq[String]): Boolean =
    pk.nonEmpty && ix.columns.map(_._1.toUpperCase) == pk.map(_.toUpperCase)

  def introspectAll(conn: Connection, dialect: Dialect): Seq[TableSpec] =
    listTables(conn, dialect).map { case (schema, t) =>
      introspectTable(conn, schema, t)
    }
}
