package graft.copy

import graft.catalog.TableSpec
import graft.config.ConverterConfig

/** One worker's contiguous slice of a table in PK order —
  * GenericJdbcTableWorker.java:42-58. */
final case class OffsetRange(beginOffset: Long, numRecords: Long)

/** Sizing / partitioning math lifted from the reference's prepare phase
  * (its real "physical planner" — SURVEY §4).
  *
  * All pure functions so every formula is unit-testable, incl. the
  * reference's exact constants: 20,000 mutations/commit cap and 100-row
  * floor (ConverterUtils.java:25-40), worker count
  * min(total/batch + 1, maxWorkers) (GenericJdbcTableWorker.java:68-72).
  */
object CopyPlanner {

  val MutationsPerCommitCap = 20000L
  val RowsPerCommitFloor = 100L

  /** X3: rows per commit under both the byte budget and Spanner's 20k
    * mutation/commit limit — ConverterUtils.java:25-40.
    * mutations per row = numColumns + numIndexes. */
  def rowsPerCommit(estimatedRowSizeBytes: Long, numColumns: Int,
      numIndexes: Int, batchSizeBytes: Long): Long = {
    val byBytes = batchSizeBytes / math.max(estimatedRowSizeBytes, 1L)
    val byMutations = MutationsPerCommitCap / math.max(numColumns + numIndexes, 1)
    math.max(math.min(byBytes, byMutations), RowsPerCommitFloor)
  }

  def rowsPerCommit(spec: TableSpec, cfg: ConverterConfig): Long =
    rowsPerCommit(spec.estimatedRowSizeBytes, spec.columns.size,
      spec.indexes.size, cfg.batchSizeBytes)

  /** X2: upload workers per table — GenericJdbcTableWorker.java:68-72. */
  def workerCount(totalRecords: Long, batchSize: Long, maxWorkers: Int): Int =
    math.min(totalRecords / math.max(batchSize, 1L) + 1, maxWorkers.toLong).toInt

  /** X2: disjoint offset ranges covering [0, totalRecords) — the
    * reference's begin/number math (GenericJdbcTableWorker.java:42-58),
    * remainder spread over the leading workers. */
  def offsetRanges(totalRecords: Long, numWorkers: Int): Seq[OffsetRange] = {
    require(numWorkers > 0)
    val base = totalRecords / numWorkers
    val remainder = totalRecords % numWorkers
    val sizes = (0 until numWorkers).map(i => base + (if (i < remainder) 1L else 0L))
    sizes.scanLeft(0L)(_ + _).zip(sizes).map { case (begin, n) => OffsetRange(begin, n) }
      .filter(_.numRecords > 0)
  }
}
