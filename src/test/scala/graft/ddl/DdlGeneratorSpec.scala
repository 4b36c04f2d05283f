package graft.ddl

import java.sql.Types
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{ColumnSpec, IndexSpec, TableSpec}
import graft.config.{ConvertMode, Dialect}

class DdlGeneratorSpec extends AnyFunSuite {

  private val users = TableSpec(None, Some("public"), "users",
    Seq(
      ColumnSpec("id", Types.BIGINT, 19, 0, nullable = false),
      ColumnSpec("name", Types.VARCHAR, 100, 0, nullable = true),
      ColumnSpec("created", Types.TIMESTAMP, 0, 0, nullable = false)),
    primaryKey = Seq("id"),
    indexes = Seq(IndexSpec("ix_users_name", Seq(("name", true)), unique = false)))

  test("Spanner: PK clause trails the column list") {
    val ddl = DdlGenerator.createTable(users, Dialect.Spanner).get
    assert(ddl == "CREATE TABLE users (id INT64 NOT NULL, name STRING(100), " +
      "created TIMESTAMP NOT NULL) PRIMARY KEY (id)")
  }

  test("PostgreSQL: PK clause inside the column list, public schema elided") {
    val ddl = DdlGenerator.createTable(users, Dialect.PostgreSql).get
    assert(ddl == "CREATE TABLE users (id BIGINT NOT NULL, name VARCHAR(100), " +
      "created TIMESTAMP NOT NULL, PRIMARY KEY (id))")
  }

  test("non-default schema is kept in the qualified name") {
    val inOther = users.copy(schema = Some("crm"))
    assert(DdlGenerator.createTable(inOther, Dialect.PostgreSql).get
      .startsWith("CREATE TABLE crm.users ("))
  }

  test("table without PK is skipped (returns None)") {
    assert(DdlGenerator.createTable(users.copy(primaryKey = Nil), Dialect.Spanner).isEmpty)
  }

  test("composite PK keeps column order") {
    val li = users.copy(name = "lineitem", primaryKey = Seq("id", "name"))
    assert(DdlGenerator.createTable(li, Dialect.Spanner).get
      .endsWith("PRIMARY KEY (id, name)"))
  }

  test("index DDL: ASC/DESC and UNIQUE (reference bug fixed)") {
    val ix = IndexSpec("ix_mixed", Seq(("a", true), ("b", false)), unique = true)
    assert(DdlGenerator.createIndex(users, ix, Dialect.PostgreSql)
      == "CREATE UNIQUE INDEX ix_mixed ON users (a, b DESC)")
  }

  test("mode gates: all four ConvertModes × existence") {
    import ConvertMode._
    assert(DdlGenerator.decide(SkipExisting, existsInDestination = false, "t") == DdlAction.Create)
    assert(DdlGenerator.decide(SkipExisting, existsInDestination = true, "t") == DdlAction.Skip)
    assert(DdlGenerator.decide(SkipAll, existsInDestination = true, "t") == DdlAction.Skip)
    assert(DdlGenerator.decide(DropAndRecreate, existsInDestination = true, "t") == DdlAction.DropThenCreate)
    assert(DdlGenerator.decide(DropAndRecreate, existsInDestination = false, "t") == DdlAction.Create)
    assert(DdlGenerator.decide(ThrowExceptionIfExists, existsInDestination = true, "t")
      .isInstanceOf[DdlAction.Fail])
  }

  test("script: DropAndRecreate emits drop, create table, create index in order") {
    val Right(script) = DdlGenerator.script(users, Dialect.PostgreSql,
      ConvertMode.DropAndRecreate, existsInDestination = true)
    assert(script.length == 3)
    assert(script(0).startsWith("DROP TABLE"))
    assert(script(1).startsWith("CREATE TABLE"))
    assert(script(2).startsWith("CREATE INDEX"))
  }
}
