package graft.copy

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** X2/X3 formulas + partition-range algebra — reference
  * ConverterUtils.java:25-40, GenericJdbcTableWorker.java:42-72.
  * Property-style checks use a seeded Random (deterministic). */
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

  test("worker count formula: min(total/batch + 1, max)") {
    assert(CopyPlanner.workerCount(0, 10000, 10) == 1)
    assert(CopyPlanner.workerCount(25000, 10000, 10) == 3)
    assert(CopyPlanner.workerCount(1000000, 10000, 10) == 10)
  }

  test("offset ranges: disjoint ordered cover of [0, total), 500 random cases") {
    val rnd = new Random(42)
    (1 to 500).foreach { _ =>
      val total = rnd.nextLong(1000001L)
      val workers = 1 + rnd.nextInt(64)
      val ranges = CopyPlanner.offsetRanges(total, workers)
      assert(ranges.map(_.numRecords).sum == total)
      ranges.foldLeft(0L) { (expectBegin, r) =>
        assert(r.beginOffset == expectBegin); r.beginOffset + r.numRecords
      }
      assert(ranges.forall(_.numRecords > 0))
      assert(ranges.size <= workers)
    }
  }
}
