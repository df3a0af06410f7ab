package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Minimal bridge into Spark's `private[sql]` plan-to-DataFrame constructor
  * (`Dataset.ofRows`), needed to execute a programmatically rewritten
  * parsed plan — e.g. graft's spear-dialect `^`-as-power rewrite
  * (graft.api.Context.spearSql). Same idiom used by frameless and other
  * public Spark libraries that build logical plans directly; contains no
  * logic of its own. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** Column for the i-th output attribute of a DataFrame — positional, so
    * it bypasses Spark's name-based (globally case-insensitive) resolution.
    * Needed by the facade's reference-semantics identifier shim
    * (graft.api.DataFrame.col): after graft resolves `"Quoted"` to ONE
    * schema position, sibling columns differing only in case must not make
    * Spark's `df.col(name)` re-resolution throw ambiguity. */
  def colAt(df: DataFrame, i: Int): Column = {
    val attr = df.asInstanceOf[CDataset[Row]].queryExecution.analyzed.output(i)
    classic.ExpressionUtils.column(attr)
  }

  /** Column over a raw catalyst Expression — for graft's internal
    * expressions that carry non-expression state (e.g. a driver-held
    * codebook baked as a reference object) and so cannot route through
    * the function registry's Seq[Expression] builders. */
  def ofExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse of [[ofExpr]]. */
  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener
    * (the bus delivers asynchronously, so a count read right after an
    * action can miss that action's last events). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The SparkListeners registered on `sc`'s bus. */
  def listeners(sc: org.apache.spark.SparkContext)
      : Seq[org.apache.spark.scheduler.SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.toSeq
  }
}
