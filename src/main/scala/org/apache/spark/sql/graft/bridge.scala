/*
 * Minimal access bridge: `org.apache.spark.sql.classic.ExpressionUtils` is
 * public bytecode but `private[sql]` at the Scala level, so third-party
 * code cannot name it. This one-file shim — the conventional pattern for
 * Spark-external Catalyst extensions — re-exports the two conversions the
 * graft expressions need, plus the few other `private[sql]`/`private[spark]`
 * entry points documented on each method below.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Clone a session: shared SparkContext + a COPY of the current session
    * state (SQLConf, registered functions, temp views). `newSession()`
    * would start from SparkConf defaults, silently dropping runtime conf
    * the caller set; `cloneSession` is `private[sql]`, hence the bridge. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Wrap an (analyzed) logical plan back into a DataFrame —
    * `Dataset.ofRows` is `private[sql]`. Used by the tie-audit gate to
    * evaluate a query's sort-key uniqueness on the Sort node's CHILD,
    * where sort columns later dropped by a projection still exist. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `localCheckpoint` with the ORIGIN STATISTICS DROPPED. Spark's
    * `Dataset.localCheckpoint` truncates the logical plan to a
    * `LogicalRDD` but copies the originating plan's size ESTIMATE into
    * it (`originStats`, so broadcast decisions survive the truncation).
    * In an iterative self-join loop that inheritance is fatal: a
    * self-join SQUARES sizeInBytes, the checkpoint preserves the square,
    * and the estimate's BigInteger doubles in BIT LENGTH every round —
    * past ~25 rounds the stats visitor crawls for minutes and dies with
    * "BigInteger would overflow supported range" (reproduced: 4 rounds of
    * checkpointed self-join take sizeInBytes bits 11→21→40→79). This
    * helper rebuilds the truncated leaf with `originStats = None` so each
    * round re-plans from the conf default — loop kernels MUST checkpoint
    * through this, not through bare localCheckpoint. */
  def flatCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val ck = df.localCheckpoint()
    val plan = ck.queryExecution.analyzed
    val flat = plan match {
      case lr: LogicalRDD =>
        LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          None, None)
      case other => other
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      flat)
  }

  /** Delete `dir` recursively when the JVM exits, through Spark's own
    * shutdown-delete hook (it runs after the SparkContext stops, so no
    * task still reads the directory). `ShutdownHookManager` is
    * `private[spark]`, hence the bridge. */
  def deleteOnExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** Block until every listener event posted so far has been delivered,
    * so a listener's totals are complete. `SparkContext.listenerBus` is
    * `private[spark]`, hence the bridge. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
