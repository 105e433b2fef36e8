package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark runner: one JVM, one `local[nproc]` session, one workload.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --data <sf0.01 dir>
  *
  * Prints one JSON line: `correct`, `attempted`, `failed` and `metrics`
  * (end-to-end metrics untraced, per-layer metrics traced). The query
  * surface also leaves its oracle inputs under `<work>/oracle` for the
  * DuckDB comparison that `run.py` makes outside the timed window.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: String)

  /** Input generation is repeated this many times; setup_s takes the median. */
  val SetupReps = 3

  /** What one timed phase (untraced or traced) measured: the wall seconds
    * of each unit, the latency of each operation, and the operations that
    * threw or failed an output check.
    */
  final case class Phase(unitSeconds: Seq[Double], opMs: Seq[Double], attempted: Int,
                         failedOps: Set[Int], notes: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val out =
      try a.workload match {
        case "lifecycle" => new LifecycleBench(spark, a, sessionS).run()
        case "query_surface" => new QueryBench(spark, a, sessionS).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    println(out)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, m.getOrElse("data", ""))
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run whole units until `seconds` have passed since the first started
    * (at least one); `unit` returns its own timed seconds.
    */
  def loop(seconds: Double)(unit: () => Double): Seq[Double] = {
    val runs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) runs += unit()
    runs.toSeq
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toVector.reverse.foreach(Files.delete)
    } finally s.close()
  }

  /** A metric value with its unit, as JSON. */
  final case class M(value: Double, unit: String)

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, M)]): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, m) => s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}""" }
    Seq(s""""correct":$correct""", s""""attempted":$attempted""", s""""failed":$failed""",
      s""""metrics":{${ms.mkString(",")}}""").mkString("{", ",", "}")
  }

  /** End-to-end metrics shared by every workload. A unit has too few
    * operations for a higher percentile with ten samples beyond it, so the
    * 90th percentile is a per-layer figure only.
    */
  def endToEnd(setupS: Double, p: Phase): Seq[(String, M)] =
    Seq("setup_s" -> M(setupS, "s"),
      "run_s" -> M(median(p.unitSeconds), "s"),
      "op_p50_ms" -> M(median(p.opMs), "ms"))

  /** The result line of a run; `known` failures (see [[Expected.StaleFlag]])
    * count in `failed` but do not make the run incorrect.
    */
  def result(phases: Seq[Phase], metrics: Seq[(String, M)],
             known: String => Boolean = _ => false): String = {
    val notes = phases.flatMap(_.notes).distinct
    notes.foreach(n => System.err.println(s"[check] $n"))
    json(notes.forall(known), phases.map(_.attempted).sum,
      phases.flatMap(_.failedOps).toSet.size, metrics)
  }

  def noop(df: org.apache.spark.sql.DataFrame): Double =
    time(df.write.format("noop").mode("overwrite").save())._2

  def writeTrace(a: Args, t: Tracer): Unit =
    Files.writeString(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"), t.spansJson)

  def jvmPeakHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }

  /** Every per-layer metric name with its unit; a workload that does not
    * reach a layer reports 0 for it.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "llm.calls" -> "count", "llm.calls_per_convo" -> "ratio", "llm.busy_s" -> "s",
    "llm.fallback_errors" -> "count",
    "geocode.best_match_s" -> "s", "geocode.tag_viable_s" -> "s",
    "geocode.accepted_ratio" -> "ratio", "convo.reassembly_s" -> "s",
    "warehouse.overwrite_s" -> "s", "warehouse.append_s" -> "s", "warehouse.upsert_s" -> "s",
    "warehouse.bytes_written" -> "bytes", "warehouse.files_written" -> "count",
    "warehouse.write_amplification" -> "ratio", "warehouse.storage_mb" -> "MB",
    "warehouse.bytes_per_user_byte" -> "ratio",
    "sources.pages" -> "count", "sources.rows" -> "count", "sources.fetch_s" -> "s",
    "pipeline.agents_s" -> "s", "pipeline.tags_s" -> "s", "pipeline.tickets_s" -> "s",
    "pipeline.messages_s" -> "s", "pipeline.convos_s" -> "s", "pipeline.metrics_s" -> "s",
    "pipeline.backfill_s" -> "s", "pipeline.window_s" -> "s",
    "query.build_ms" -> "ms", "query.exec_ms" -> "ms", "query.jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_skew" -> "ratio",
    "op_p90_ms" -> "ms", "jvm.peak_heap_mb" -> "MB", "trace.overhead_s" -> "s",
    "ops.fail_ratio" -> "ratio")

  /** Fill `PerLayer` from `values` (missing → 0), in declaration order. */
  def perLayer(values: Map[String, Double]): Seq[(String, M)] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    PerLayer.map { case (k, u) => k -> M(values.getOrElse(k, 0.0), u) }
  }

  /** Spark totals of a tracer, divided over `units` traced units. */
  def sparkLayer(t: Tracer, units: Int): Map[String, Double] = {
    val s = t.sparkTotal
    val n = units.toDouble.max(1)
    Map("spark.jobs" -> s.jobs / n, "spark.stages" -> s.stages / n,
      "spark.tasks" -> s.tasks / n, "spark.executor_run_s" -> s.executorRunMs / 1000.0 / n,
      "spark.shuffle_read_bytes" -> s.shuffleRead / n,
      "spark.shuffle_write_bytes" -> s.shuffleWrite / n,
      "spark.spill_bytes" -> s.spill / n, "spark.task_skew" -> s.skew,
      "catalyst.analysis_s" -> s.analysisMs / 1000.0 / n,
      "catalyst.optimization_s" -> s.optimizationMs / 1000.0 / n,
      "catalyst.planning_s" -> s.planningMs / 1000.0 / n)
  }
}

