package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved the Column ↔ Expression constructors behind
  * `private[sql]` (Column is a thin ColumnNode wrapper in sql-api).
  * This bridge lives inside the `org.apache.spark.sql` namespace to
  * expose exactly the two conversions a custom Catalyst expression
  * needs for a Column-API entry point. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is `private[sql]` in Spark 4 — the entry point for
    * wrapping a custom LogicalPlan node into a user-facing DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Idempotently add a planner strategy to the session (the
    * programmatic twin of `spark.sql.extensions` registration). */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
  }

  /** Test-only visibility shims: the extension-builder accessors are
    * `private[sql]`, but a spec needs to assert what a configured
    * `SparkSessionExtensions` would contribute to a session; the
    * listener bus is `private[spark]`, but a spec reading
    * `getRDDStorageInfo` must first let the status store catch up. */
  def builtPlannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)
  def builtOptimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)
  def awaitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `registerFunctions` is `private[sql]` — the production path
    * `spark.sql.extensions` uses to install `injectFunction` entries
    * into a registry. Exposed so the SQL-surface audit registers (and
    * enumerates) exactly what a configured extension would. */
  def registerInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(registry)

  /** `MemoryManager.pageSizeBytes` is `private[spark]` — the page size a
    * spilling sorter should use (what SortExec itself passes to
    * `UnsafeExternalRowSorter`). */
  def pageSizeBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Drop an RDD's stored blocks the way ContextCleaner does once the
    * RDD is garbage collected (`SparkContext.unpersistRDD` is
    * `private[spark]`). `RDD.unpersist` would also log a WARN per call
    * for a local checkpoint, which a loop releasing every superseded
    * round would repeat once per round. */
  def unpersistRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Collect matching nodes across the WHOLE executed tree, descending
    * through the AQE wrappers (`AdaptiveSparkPlanExec.executedPlan`,
    * `QueryStageExec.plan`) that hide the real operators from a plain
    * `collect` — needed to read a custom exec's SQLMetrics after an
    * adaptive execution. */
  def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    here ++ kids.flatMap(deepCollect(_)(pf))
  }

  /** Idempotently add an optimizer rule to the session (the
    * programmatic twin of `injectOptimizerRule`). */
  def ensureOptimizerRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(rule))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ rule
  }
}
