package graft.copy

import org.scalatest.funsuite.AnyFunSuite

/** X3 rows-per-commit formula — reference ConverterUtils.java:25-40. */
class CopyPlannerSpec extends AnyFunSuite {

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
