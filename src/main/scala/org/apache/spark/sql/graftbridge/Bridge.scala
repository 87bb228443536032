package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for Spark 4's node-backed Column.
  *
  * Lives under `org.apache.spark.sql` so the `private[sql]` classic-session
  * helpers are reachable — the standard packaging trick for Catalyst
  * extensions built on the public jars.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-bind a DataFrame's logical plan to another session of the SAME
    * SparkContext — zero-copy (no RDD row round-trip): the plan is simply
    * re-planned under the target session's runtime conf. The use case is
    * conf-isolated execution (e.g. an iterative loop that wants AQE off
    * and a measured shuffle width on a cloned session) without perturbing
    * concurrent queries on the caller's session.
    */
  def rebind(
      spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.logical)

  /** Register an expression builder as a session-temporary SQL function —
    * makes custom Catalyst expressions (cosine_similarity, …) callable
    * from `spark.sql`, matching how the engine's module registry exposes
    * named transforms.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Block until every queued listener event has been delivered (the bus
    * is `private[spark]`), so listener totals read next are complete.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
