package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge to `private[sql]` converters and constructors
  * (org.apache.spark.sql.classic). Lives in the sql package solely to
  * re-export what graft's Column-level API and the custom logical
  * operator ([[graft.plans.AsOfJoin]]) need; no Spark internals are
  * modified. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame — the resolved child a
    * custom logical node composes over. */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a (resolved) logical plan back into a DataFrame. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Whether `s` was built with an extension that injects the planner
    * strategy `strat`: read from the classic session's `private[sql]`
    * extensions, so what [[graft.GraftSession.install]] appended to
    * `experimental` never counts. */
  def injects(s: SparkSession, strat: SparkStrategy): Boolean = {
    val cs = s.asInstanceOf[classic.SparkSession]
    cs.extensions.buildPlannerStrategies(cs).contains(strat)
  }

  /** An eager local checkpoint WITHOUT origin statistics — the
    * per-round materialization of an iterative fixpoint. A plain
    * `localCheckpoint` wraps the RDD in a [[execution.LogicalRDD]]
    * carrying the ORIGIN plan's estimated Statistics; when a
    * fixpoint's next round joins the previous checkpoint more than
    * once, sizeInBytes multiplies against itself through the
    * checkpoint chain and its DIGIT COUNT doubles per round — by
    * round ~30 the optimizer sits in `BigInteger.multiply` on
    * trillion-digit numbers (observed live: the r15 coreness fixpoint
    * wedged the sf0.1 bench for an hour; a 10-round probe measured
    * 12 → 7963 digits). Dropping originStats makes the leaf report
    * the flat default, so every round's plan costs the same to
    * estimate. Partitioning/ordering are preserved verbatim. */
  def checkpointDetached(df: Dataset[_]): DataFrame = {
    val ck = df.asInstanceOf[classic.Dataset[_]].localCheckpoint(true)
    ck.queryExecution.logical match {
      case l: execution.LogicalRDD =>
        classic.Dataset.ofRows(ck.sparkSession,
          execution.LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(ck.sparkSession))
      case _ => ck.toDF()
    }
  }

  /** Parse SQL text with the session's own parser (the injected
    * [[graft.plans.GraftSqlParser]] when extensions are installed, the
    * stock parser otherwise). */
  def parsePlan(s: SparkSession, sqlText: String): LogicalPlan =
    s.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sqlText)
}
