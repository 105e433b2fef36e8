package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark listeners attribute to one span. */
final class SparkStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** max/median task time of the worst stage with at least two tasks. */
  var skew = 0.0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  def add(o: SparkStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; skew = math.max(skew, o.skew)
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** One timed span; `parent` is -1 at the top. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans from the benchmark's own code around each call into a layer, plus
  * a `SparkListener` and a `QueryExecutionListener` that attribute jobs,
  * stages, tasks, shuffle, spill and Catalyst phases to the innermost span
  * open when the work was submitted. Jobs carry the span id as a local
  * property; Catalyst phases follow their SQL execution id to the span of
  * its jobs. A disabled tracer only runs the wrapped code.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stats = mutable.Map.empty[Int, SparkStats]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def statsOf(span: Int): SparkStats = stats.getOrElseUpdate(span, new SparkStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      statsOf(span).jobs += 1
      e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
      // a command's jobs run under a nested execution; its root id is the
      // one the execution listener reports
      for (p <- Option(e.properties).toSeq;
           key <- Seq("spark.sql.execution.id", "spark.sql.execution.root.id");
           id <- Option(p.getProperty(key)))
        execSpan.getOrElseUpdate(id.toLong, span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val s = statsOf(stageSpan.getOrElse(info.stageId, -1))
      s.stages += 1
      s.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        s.executorRunMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      taskMs.remove(info.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).max(1L)
        s.skew = math.max(s.skew, sorted.last.toDouble / med)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val s = statsOf(execSpan.getOrElse(qe.id, -1))
      val ph = qe.tracker.phases
      s.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      s.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      s.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
        spans += s
        stack = s :: stack
        s
      }
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally synchronized {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Analysis time of a DataFrame's own (eagerly analysed) plan, which no
    * execution listener sees; added to the innermost open span.
    */
  def recordAnalysis(df: DataFrame): Unit = if (enabled) synchronized {
    val ms = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    statsOf(stack.headOption.map(_.id).getOrElse(-1)).analysisMs += ms
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def sparkStats(span: Int): SparkStats = synchronized(stats.getOrElse(span, new SparkStats))

  /** Spark work summed over every span (and work outside any span). */
  def sparkTotal: SparkStats = synchronized {
    val t = new SparkStats
    stats.values.foreach(t.add)
    t
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Total seconds of top-most spans whose name satisfies `p` (a span
    * nested in another matching span is not counted twice).
    */
  def seconds(p: String => Boolean): Double = {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    def coveredByMatch(s: Span): Boolean =
      s.parent >= 0 && (p(byId(s.parent).name) || coveredByMatch(byId(s.parent)))
    spans.iterator.filter(s => p(s.name) && !coveredByMatch(s)).map(_.seconds).sum
  }

  /** Per-span detail for the trace file. */
  def spansJson: String = synchronized {
    spans.map { s =>
      val st = stats.getOrElse(s.id, new SparkStats)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""seconds":${s.seconds}%.6f,"self_seconds":${selfSeconds(s)}%.6f,""" +
        s""""jobs":${st.jobs},"stages":${st.stages},"tasks":${st.tasks},""" +
        s""""executor_run_ms":${st.executorRunMs},"shuffle_read_bytes":${st.shuffleRead},""" +
        s""""shuffle_write_bytes":${st.shuffleWrite},"spill_bytes":${st.spill},""" +
        f""""task_skew":${st.skew}%.3f,"analysis_ms":${st.analysisMs},""" +
        s""""optimization_ms":${st.optimizationMs},"planning_ms":${st.planningMs}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
