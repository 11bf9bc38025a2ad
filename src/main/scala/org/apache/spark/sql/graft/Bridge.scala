package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column ↔ Expression ↔
  * LogicalPlan seams — the same route SparkSessionExtensions-
  * registered functions and strategies take internally.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager Column → catalyst Expression conversion (the lazy
    * ColumnNodeExpression wrapper stays Unevaluable inside custom
    * logical nodes, so convert up front).
    */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A cloned session (shared SparkContext/SharedState, cloned
    * SessionState incl. runtime conf and temp views) with the given
    * conf overrides applied to the CLONE only — the per-plan
    * conf-scoping primitive: mutating a shared session's conf around
    * a plan (set/restore) races every concurrent query on that
    * session, while a clone scopes the override to exactly the plans
    * analyzed through it.
    */
  def cloneWithConf(spark: SparkSession,
                    overrides: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Apply a SparkSessionExtensions bundle to an already-running
    * session (builder-time `.withExtensions` is ignored by
    * `getOrCreate` when a session exists): registers injected
    * functions on the live registry and appends injected planner
    * strategies to `experimental.extraStrategies`.
    */
  def applyExtensions(spark: SparkSession,
                      ext: org.apache.spark.sql.SparkSessionExtensions)
                     : Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ext.registerFunctions(cs.sessionState.functionRegistry)
    ext.registerTableFunctions(cs.sessionState.tableFunctionRegistry)
    val fresh = ext.buildPlannerStrategies(cs)
      .filterNot(s => cs.experimental.extraStrategies.exists(_ eq s))
    cs.experimental.extraStrategies =
      cs.experimental.extraStrategies ++ fresh
    val freshRules = ext.buildOptimizerRules(cs)
      .filterNot(r => cs.experimental.extraOptimizations.exists(_ eq r))
    cs.experimental.extraOptimizations =
      cs.experimental.extraOptimizations ++ freshRules
  }
}
