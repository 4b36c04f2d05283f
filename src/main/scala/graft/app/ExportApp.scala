package graft.app

import java.sql.DriverManager
import graft.GraftSession
import graft.catalog.Catalog
import graft.config.Dialect
import graft.copy.DataCopier

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
    val url = args(0)
    val outDir = args(1)
    val spark = GraftSession.start()

    val conn = DriverManager.getConnection(url)
    val specs = try {
      Catalog.listTables(conn, Dialect.Derby).map { case (schema, t) =>
        Catalog.introspectTable(conn, schema, t)
      }
    } finally conn.close()

    val props = new java.util.Properties()
    specs.foreach { spec =>
      val df = DataCopier.readJdbc(spark, url, spec, props,
        numPartitions = GraftSession.cpus.toInt, pkBounds = None)
      val n = df.count()
      df.write.mode("overwrite").parquet(s"$outDir/${spec.name.toLowerCase}.parquet")
      println(s"[export] ${spec.name}: $n rows, " +
        s"${df.rdd.getNumPartitions} read partitions, pk=${spec.primaryKey.mkString(",")}")
    }
    spark.stop()
  }
}
