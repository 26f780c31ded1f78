package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made `ExpressionUtils` private[sql];
  * custom Catalyst expressions (graft.expressions.*) still need to surface
  * as user-facing Columns, so this shim re-exports the two conversions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener
    * (`listenerBus` is private[spark]). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** EAGER ColumnNode → Catalyst conversion. `expression` wraps the node
    * lazily (ColumnNodeExpression), which the DataFrame API unwraps during
    * plan conversion — but a FunctionRegistry builder's output is spliced
    * into the plan directly, where the lazy wrapper survives to codegen
    * and dies (`Cannot generate code for expression: columnnodeexpression`).
    * Converting eagerly yields plain (possibly Unresolved*) Catalyst
    * expressions, which mid-analysis resolution then handles normally. */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame over a raw LogicalPlan — the entry point custom logical
    * nodes (graft.plans.AsOfJoinPlan) need; `Dataset.ofRows` went
    * private[sql] with the classic/connect split. */
  def dataset(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A private session sharing the SparkContext, catalog and extensions
    * but with an ISOLATED SQL conf — lets a caller pin per-query confs
    * (streaming shuffle partitions, no-data micro-batches) for one
    * `start()` without mutating the shared session. The set-confs /
    * start / restore-confs window on a SHARED session was a real race:
    * a watermarked query started concurrently (parallel test suites)
    * could capture `noDataMicroBatches=false` meant for an unwatermarked
    * sibling and never flush its final windows. `cloneSession` is
    * private[sql], hence this bridge. */
  def sessionWithConf(spark: SparkSession,
      confs: Map[String, String]): SparkSession = {
    val cloned = spark.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => cloned.conf.set(k, v) }
    cloned
  }

  /** The FINAL adaptive physical plan as a string, for plan-posture
    * assertions. `executedPlan.toString` on an AQE plan prints the final
    * plan followed by "== Initial Plan ==" — and a cached subtree
    * (InMemoryRelation) nests ANOTHER adaptive plan whose own initial
    * section appears mid-tree, so "split at the first initial marker"
    * truncates everything below the cache. `finalPhysicalPlan` (package-
    * private, hence this bridge) is the plan that actually ran, printed
    * without the wrapper's before/after noise. */
  def finalPlanString(df: DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan.toString
      case p => p.toString
    }
}
