package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Physical-layout helpers: scan spreading for one-split inputs, and
  * the Morton z-value that maps a 2-D key onto a 1-D curve, so rows
  * close in EITHER dimension get close keys. */
object Layout {

  /** Scale-adaptive scan spreading (optimization guide §2.5, input
    * skew): a single small file — the driver-fixture shape: one parquet
    * file, ONE row group — yields a one-task scan, so a heavy per-row
    * kernel downstream (JPEG encode/decode, a ×B explode) serializes on
    * one core no matter how many the session has. When the scan plans
    * FEWER partitions than the session's shuffle parallelism,
    * round-robin repartition up to it; when the input already has at
    * least that many splits (any real corpus), this is the identity —
    * no exchange is added, so the 100 TB plan is unchanged. The
    * repartition carries only the columns the caller selected
    * (project-before-exchange, guide §2.3). */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val np = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    if (df.rdd.getNumPartitions >= np) df else df.repartition(np)
  }

  /** Morton z-value: interleave the low `bits` bits of two non-negative
    * integer columns (`a` on even positions, `b` on odd). A closed-form
    * sum of shift/mask terms — whole-stage-codegen'd, no UDF, and
    * replayable in ANSI SQL for the oracle. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }
}
