package graft.copy

import org.scalatest.funsuite.AnyFunSuite

/** X3 rows-per-commit formula — reference ConverterUtils.java:25-40 —
  * and X2 worker formula — GenericJdbcTableWorker.java:68-72. */
class CopyPlannerSpec extends AnyFunSuite {

  test("read partitions: min(rows / 10000 + 1, maxNumberOfWorkers)") {
    val cfg = graft.config.ConverterConfig()
    val expected = Seq(0L -> 1, 9999L -> 1, 10000L -> 2, 15000L -> 2,
      89999L -> 9, 90000L -> 10, 1000000000000L -> 10)
    assert(expected.map { case (rows, _) =>
      rows -> CopyPlanner.readPartitions(rows, cfg) } == expected)
  }

  test("rows-per-commit honors the byte budget") {
    // 1.5MB budget / 150-byte rows = 10000, capped by mutations 20000/5 = 4000
    assert(CopyPlanner.rowsPerCommit(150, 4, 1, 1500000L) == 4000L)
    // tiny rows, 1 column: byte budget huge → mutation cap 20000
    assert(CopyPlanner.rowsPerCommit(10, 1, 0, 1500000L) == 20000L)
  }

  test("rows-per-commit floor of 100 (reference constant)") {
    assert(CopyPlanner.rowsPerCommit(10000000L, 2, 0, 1500000L) == 100L)
  }

  test("rows-per-commit 20k mutation cap divides by cols+indexes") {
    assert(CopyPlanner.rowsPerCommit(1, 10, 10, Long.MaxValue / 4) == 1000L)
  }
}
