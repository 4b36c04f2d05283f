package graft

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge

/** The session's codegen cache must hold a warm pass's working set.
  * Janino's cache is JVM-global and LRU; at Spark's default of 100
  * entries a pass over more distinct classes than that, repeated in
  * the same order, evicts every class before its next use and
  * recompiles all of them on every pass. */
class CodegenCacheSpec extends SparkTestBase {

  test("a second sweep over 150 distinct generated classes compiles nothing") {
    // plans are rebuilt per sweep, as a bench pass rebuilds its queries;
    // the inlined literal makes each plan's generated class distinct
    def sweep(): Unit =
      (1 to 150).foreach(i => spark.range(8).select(col("id") + lit(i)).collect())
    sweep()
    val before = Bridge.codegenCompiles
    sweep()
    assert(Bridge.codegenCompiles - before == 0)
  }
}
