package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the converters
  * (`classic.ExpressionUtils`) private[sql]; extension libraries shipping
  * custom Catalyst expressions expose them through a package-local shim —
  * the same pattern used by public Spark connector/extension projects.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session-aware conversion: fully converts ColumnNodes to catalyst
    * expressions (UnresolvedAttribute etc.) so the analyzer can resolve
    * them inside custom logical operators — `ExpressionUtils.expression`
    * only wraps lazily, which never resolves outside standard operators.
    */
  def sessionExpression(spark: org.apache.spark.sql.SparkSession,
                        c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Resolved logical plan of a DataFrame (for embedding under custom
    * logical operators).
    */
  def plan(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Run a plan through the session's analyzer (resolution only). */
  def analyze(spark: org.apache.spark.sql.SparkSession,
              plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(plan).analyzed

  /** A new session over `spark`'s SparkContext and cached data, carrying
    * a copy of its conf, temp views, functions and execution listeners;
    * settings on either one no longer reach the other.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The query-execution listeners registered on `spark`. */
  def listeners(spark: org.apache.spark.sql.SparkSession):
      Seq[org.apache.spark.sql.util.QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a logical plan back into a DataFrame whose planning phases are
    * timed on `tracker`.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             tracker: org.apache.spark.sql.catalyst.QueryPlanningTracker):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan, tracker)

  /** Re-declare the physical layout of a checkpoint-PINNED DataFrame.
    *
    * `Dataset.localCheckpoint` preserves the child's
    * outputPartitioning/outputOrdering in its `LogicalRDD` — but only
    * when AQE is off: under AQE the captured `executedPlan` is an
    * `AdaptiveSparkPlanExec`, whose static `outputPartitioning` is
    * `UnknownPartitioning`, so a frame pinned as
    * `repartition(n, keys).sortWithinPartitions(...)` loses its layout
    * and every downstream window/join re-exchanges and re-sorts it.
    * This helper rebuilds the `LogicalRDD` with the layout declared.
    *
    * CONTRACT (the caller must make this literally true, or downstream
    * co-partitioned joins/windows silently compute wrong results):
    * the checkpointed RDD really is hash(partCols)-partitioned with
    * Spark's `HashPartitioning` function over exactly
    * `rdd.getNumPartitions` partitions, and each partition really is
    * sorted by `sortCols` asc nulls-first. `repartition(n, cols)` with
    * an EXPLICIT n (AQE never coalesces user-numbered repartitions)
    * followed by `sortWithinPartitions(cols)` + `localCheckpoint()`
    * satisfies it by construction.
    */
  def declareCheckpointLayout(df: org.apache.spark.sql.DataFrame,
                              partCols: Seq[String],
                              sortCols: Seq[String]):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        def attr(n: String) = l.output.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"declareCheckpointLayout: no column '$n' in ${l.output}"))
        val part = HashPartitioning(partCols.map(attr),
          l.rdd.getNumPartitions)
        val ord = sortCols.map(n => SortOrder(attr(n), Ascending))
        val spark =
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          LogicalRDD(l.output, l.rdd, part, ord, l.isStreaming, l.stream)(
            spark, None, None))
      case other => throw new IllegalArgumentException(
        "declareCheckpointLayout expects a checkpoint-pinned frame " +
          s"(LogicalRDD), got ${other.getClass.getSimpleName}")
    }
  }
}
