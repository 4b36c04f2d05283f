package graft.sources

import org.apache.spark.sql.jdbc.JdbcDialects
import org.scalatest.funsuite.AnyFunSuite

class SpannerDialectSpec extends AnyFunSuite {

  test("registers for cloudspanner URLs") {
    SpannerDialect.register()
    val d = JdbcDialects.get("jdbc:cloudspanner://localhost/projects/p/instances/i/databases/db")
    assert(d == SpannerDialect)
    assert(d.quoteIdentifier("order") == "`order`")
  }

  /** java.sql.Connection proxy recording every statement-executed SQL —
    * stands in for a partition task's connection. */
  private def recordingConnection(executed: scala.collection.mutable.Buffer[String]): java.sql.Connection = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    lazy val stmt: java.sql.Statement = Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[java.sql.Statement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, a: Array[AnyRef]): AnyRef = m.getName match {
          case "execute" => executed += a(0).asInstanceOf[String]; java.lang.Boolean.FALSE
          case "close" => null
          case _ => null
        }
      }).asInstanceOf[java.sql.Statement]
    Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[java.sql.Connection]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, a: Array[AnyRef]): AnyRef = m.getName match {
          case "createStatement" => stmt
          case _ => null
        }
      }).asInstanceOf[java.sql.Connection]
  }

  test("beforeFetch pins a read timestamp on the partition connection (S2 snapshot)") {
    val executed = scala.collection.mutable.Buffer.empty[String]
    // Spark invokes beforeFetch once per partition task with the read
    // options — every partition's connection gets the same snapshot pin.
    SpannerDialect.beforeFetch(recordingConnection(executed),
      Map(SpannerDialect.ReadTimestampProperty -> "2026-01-01T00:00:00Z"))
    assert(executed == Seq(
      "SET READONLY = TRUE",
      "SET READ_ONLY_STALENESS = 'READ_TIMESTAMP 2026-01-01T00:00:00Z'"))
  }

  test("beforeFetch: bounded staleness variant, and no-op without the options") {
    val executed = scala.collection.mutable.Buffer.empty[String]
    SpannerDialect.beforeFetch(recordingConnection(executed),
      Map(SpannerDialect.MaxStalenessProperty -> "10"))
    assert(executed == Seq(
      "SET READONLY = TRUE",
      "SET READ_ONLY_STALENESS = 'MAX_STALENESS 10s'"))
    val none = scala.collection.mutable.Buffer.empty[String]
    SpannerDialect.beforeFetch(recordingConnection(none), Map("user" -> "x"))
    assert(none.isEmpty)
  }
}
