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
    // the key follows the load with the indexes: drop, bare create table,
    // add primary key, create index
    val Right(script) = DdlGenerator.script(users, Dialect.PostgreSql,
      ConvertMode.DropAndRecreate, existsInDestination = true)
    assert(script.length == 4)
    assert(script(0).startsWith("DROP TABLE"))
    assert(script(1).startsWith("CREATE TABLE") && !script(1).contains("PRIMARY KEY"))
    assert(script(2) == "ALTER TABLE users ADD PRIMARY KEY (id)")
    assert(script(3).startsWith("CREATE INDEX"))
  }

  /** A composite key listed out of column order, a UNIQUE index with a
    * DESC column and a plain one. */
  private val ledger = TableSpec(None, None, "ledger",
    Seq(
      ColumnSpec("acct", Types.BIGINT, 19, 0, nullable = false),
      ColumnSpec("seq", Types.INTEGER, 10, 0, nullable = false),
      ColumnSpec("amount", Types.DOUBLE, 0, 0, nullable = true)),
    primaryKey = Seq("seq", "acct"),
    indexes = Seq(
      IndexSpec("ux_ledger_amount", Seq(("amount", false), ("acct", true)), unique = true),
      IndexSpec("ix_ledger_acct", Seq(("acct", true)), unique = false)))

  private val ledgerIndexes = Seq(
    "CREATE UNIQUE INDEX ux_ledger_amount ON ledger (amount DESC, acct)",
    "CREATE INDEX ix_ledger_acct ON ledger (acct)")

  test("plan: Derby and PostgreSQL create the table bare, then add the key " +
      "(KEY_SEQ order) and the indexes after the load") {
    for ((dialect, dbl) <- Seq(Dialect.Derby -> "DOUBLE", Dialect.PostgreSql -> "DOUBLE PRECISION")) {
      val Right(p) = DdlGenerator.plan(ledger, dialect,
        ConvertMode.DropAndRecreate, existsInDestination = true)
      assert(p.beforeLoad == Seq("DROP TABLE ledger",
        s"CREATE TABLE ledger (acct BIGINT NOT NULL, seq INTEGER NOT NULL, amount $dbl)"),
        dialect)
      assert(p.afterLoad ==
        "ALTER TABLE ledger ADD PRIMARY KEY (seq, acct)" +: ledgerIndexes, dialect)
    }
  }

  test("plan: Spanner keeps its key in CREATE TABLE and defers only the indexes") {
    val Right(p) = DdlGenerator.plan(ledger, Dialect.Spanner,
      ConvertMode.SkipExisting, existsInDestination = false)
    assert(p.beforeLoad == Seq("CREATE TABLE ledger (acct INT64 NOT NULL, " +
      "seq INT64 NOT NULL, amount FLOAT64) PRIMARY KEY (seq, acct)"))
    assert(p.afterLoad == ledgerIndexes)
  }

  test("script is the plan's beforeLoad ++ afterLoad for every mode, " +
      "dialect and existence") {
    import ConvertMode._
    for {
      mode <- Seq(SkipAll, SkipExisting, DropAndRecreate, ThrowExceptionIfExists)
      dialect <- Seq(Dialect.Derby, Dialect.PostgreSql, Dialect.Spanner)
      exists <- Seq(false, true)
      spec <- Seq(users, ledger)
    } {
      val plan = DdlGenerator.plan(spec, dialect, mode, exists)
      assert(DdlGenerator.script(spec, dialect, mode, exists) ==
        plan.map(p => p.beforeLoad ++ p.afterLoad), (mode, dialect, exists, spec.name))
    }
    // a skipped table gets no DDL on either side of the load
    assert(DdlGenerator.plan(users, Dialect.Derby, SkipExisting,
      existsInDestination = true) == Right(DdlPlan(Nil, Nil)))
  }
}
