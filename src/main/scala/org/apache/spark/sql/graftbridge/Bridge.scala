package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Column ↔ Expression bridge. Spark 4 moved Column construction behind
  * `org.apache.spark.sql.classic` (package-private to `sql`); custom
  * Catalyst expressions need this one-hop adapter to surface as `Column`s.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a Catalyst expression with
    * the session's converter. Unlike [[expression]] (which may defer in a
    * lazy wrapper), the result is a plain expression tree the analyzer
    * can finish resolving — required for FunctionRegistry builders. */
  def expressionNow(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .converter.apply(c.node)

  /** DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` cached at `level` like `Dataset.persist` — computed on first
    * use, its rows kept for every later read of the returned frame — but
    * without an entry in the session's CacheManager: no other query's
    * cache lookup sees it, nothing outlives the frame, and ContextCleaner
    * frees the blocks once the frame is unreachable. */
  def cacheUnregistered(df: DataFrame, level: StorageLevel): DataFrame =
    ofRows(df.sparkSession, InMemoryRelation(level, df.queryExecution, None))

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The running task's memory-manager page size — what a spilling
    * operator hands to `UnsafeExternalRowSorter.create`. The accessor is
    * `private[spark]`, hence this bridge hop. Executor-side only. */
  def taskPageSizeBytes: Long =
    org.apache.spark.TaskContext.get().taskMemoryManager().pageSizeBytes()
}
