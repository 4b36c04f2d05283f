package graft.copy

import graft.catalog.TableSpec
import graft.config.ConverterConfig

/** Copy sizing lifted from the reference's prepare phase (its real
  * "physical planner" — SURVEY §4), with the reference's exact
  * constants: 20,000 mutations/commit cap and 100-row floor
  * (ConverterUtils.java:25-40), and 10,000 rows per upload worker
  * (GenericJdbcTableWorker.java:68-72).
  */
object CopyPlanner {

  val MutationsPerCommitCap = 20000L
  val RowsPerCommitFloor = 100L
  val RowsPerWorker = 10000L

  /** X2: a table's read partitions (the reference's upload workers),
    * `min(rows / RowsPerWorker + 1, maxNumberOfWorkers)` from the
    * source row count — GenericJdbcTableWorker.java:68-72. */
  def readPartitions(rows: Long, cfg: ConverterConfig): Int =
    math.min(rows / RowsPerWorker + 1, cfg.maxNumberOfWorkers.toLong).toInt

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
}
