package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: restrict the dump, and oracle_sql.json with
    // it, to these query names, so tools/check_oracle.py can check one
    // family (with exactly two args every query and oracle is written).
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println(s"[verify] WARNING: unknown query name(s) " +
        s"ignored: ${unknown.mkString(", ")}")
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    // Failure manifest: a query whose build/write throws must surface as
    // an explicit error artifact, never as a silently-missing dump (in
    // round 6 an 18-query breakage read as "deregistered" because the
    // only trace was stderr).
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    def q(s: String): String = JsonUtil.quote(s)
    // self-describing header: names the effective master/mode/SHA so a
    // cluster-mode dump is distinguishable from a local one by content
    // (check_oracle.py embeds this as the report's _meta)
    Files.writeString(Paths.get(s"$outDir/_meta.json"),
      RunMeta.json(spark, sfDir))
    val json = SparkEntry.oracleSql.filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always write the manifest (empty object when all green) so its
    // absence is itself a signal that Verify died before finishing.
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${
        if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
