package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One shared local session for the whole test JVM. */
object SparkTestBase {
  // 4 cores whatever the box: specs pin partition counts; any
  // managed-table write goes to a scratch dir, not the repo
  lazy val spark: SparkSession = Session("graft-tests", cores = 4,
    confs = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh-test").toString))

  /** Jobs launched while `body` runs. A sentinel RDD count (exactly one
    * job) flushes the listener bus: events arrive in order, so once the
    * sentinel is seen every job `body` launched has been counted.
    */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("tables.sentinel") != null)
          sentinel.set(true)
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setLocalProperty("tables.sentinel", "1")
      try spark.sparkContext.parallelize(Seq(1)).count()
      finally spark.sparkContext.setLocalProperty("tables.sentinel", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinel.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel.get(), "listener bus never delivered the sentinel job")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Janino compiles in this JVM so far, on any thread. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Shape of an executed plan, query stages included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  /** Whether the plan `df` ran fused at least one whole-stage codegen stage. */
  def fused(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
}
