package graft.app

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.catalog.Catalog
import graft.config.Dialect
import graft.copy.DataCopier
import graft.sources.JdbcHooks

/** The reverse conversion direction (the reference converts both ways —
  * README.md:7-8): JDBC source → parquet destination, with PK-range
  * partitioned reads planned from introspected metadata.
  *
  * Usage: ExportApp <jdbcUrl> <outDir>
  *
  * For each user table: introspect (S3–S5) → `DataCopier.readJdbc` (the
  * `graft-jdbc` source probes the PK's split points on the database and
  * reads one PK range per partition, composite PKs included) → parquet
  * write. Tables without a PK read as one partition.
  */
object ExportApp {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    try run(args, spark) finally spark.stop()
  }

  /** The export against a caller-provided session. Each table is read
    * from the source exactly once, by the parquet write: one split probe
    * plus one query per partition. The reported row and file counts
    * come from the written parquet, not from another source scan. */
  def run(args: Array[String], spark: SparkSession): Unit = {
    if (args.length < 2) throw new IllegalArgumentException(
      "usage: ExportApp <jdbcUrl> <outDir>")
    val url = args(0)
    val outDir = args(1)
    val conn = JdbcHooks.connect(url, Map.empty)
    val specs = try Catalog.introspectAll(conn, Dialect.forUrl(url))
      finally conn.close()
    // each table's file is named by its unqualified name
    Catalog.requireDistinctNames(specs)

    specs.foreach { spec =>
      val path = s"$outDir/${spec.name.toLowerCase}.parquet"
      DataCopier.readJdbc(spark, url, spec, new java.util.Properties(),
        numPartitions = GraftSession.cpus.toInt, pkBounds = None)
        .write.mode("overwrite").parquet(path)
      val written = spark.read.parquet(path)
      println(s"[export] ${spec.name}: ${written.count()} rows, " +
        s"${written.inputFiles.length} parquet files, " +
        s"pk=${spec.primaryKey.mkString(",")}")
    }
  }
}
