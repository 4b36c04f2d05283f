package graft

import java.nio.file.Files

/** `graft.Dev` driven through `Dev.run` on the shared test session. */
class DevSpec extends SparkTestBase {

  // tools/floor_report.py's pattern for a profile line
  private val probeLine =
    """\[probe\] (\S+)\s+min=([\d.]+) med=([\d.]+) max=([\d.]+)""".r.unanchored

  test("explain writes <q>_<suffix>.txt holding the physical plan") {
    val out = Files.createTempDirectory("dev-explain")
    Dev.run(Array("explain", out.toString, "before", "q1_pricing_summary"), spark, sfDir)
    val plan = Files.readString(out.resolve("q1_pricing_summary_before.txt"))
    assert(plan.contains("== Physical Plan =="))
  }

  test("profile prints one [probe] line per query, in argument order") {
    val names = Seq("set_union", "q1_pricing_summary")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Dev.run(("profile" +: names).toArray, spark, sfDir))
    val lines = buf.toString("UTF-8").split("\n").toSeq
    assert(lines.head.startsWith("[meta] {"))
    val probes = lines.collect { case probeLine(n, min, med, max) =>
      assert(min.toDouble <= med.toDouble && med.toDouble <= max.toDouble)
      n
    }
    assert(probes == names)
  }

  test("an unknown subcommand or query name fails with the usage message " +
      "before any file is written") {
    val out = Files.createTempDirectory("dev-bad").resolve("plans")
    Seq(
      Array("nope"),
      Array("explain", out.toString, "x", "q1_pricing_summary", "no_such_query"),
      Array("profile", "no_such_query")
    ).foreach { args =>
      val e = intercept[IllegalArgumentException](Dev.run(args, spark, sfDir))
      assert(e.getMessage.contains(Dev.usage), args.mkString(" "))
    }
    assert(!Files.exists(out))
  }
}
