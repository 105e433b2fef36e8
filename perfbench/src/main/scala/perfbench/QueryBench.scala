package perfbench

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.queries.QueryDef

/** `query_surface`: the SURVEY §2 reference-operator queries of the catalog
  * over the sf0.01 tables, run by one closed-loop client. The unit is one
  * pass over every query in an order drawn from the seed; an operation is
  * one query, built (`QueryDef.fn`) and materialized through the `noop`
  * sink.
  */
final class QueryBench(spark: SparkSession, a: Main.Args, sessionS: Double) {
  import Main._
  import QueryBench._

  private val queries = surface
  require(queries.size == Size, s"query surface has ${queries.size} queries, expected $Size")
  private val rng = new scala.util.Random(a.seed)

  private def exec(q: QueryDef, tracer: Tracer): Exec = {
    val t0 = System.nanoTime()
    var t1 = 0L
    val err =
      try {
        tracer.span("query") {
          val df = tracer.span("query.build") {
            val df = q.fn(spark, a.data)
            tracer.recordAnalysis(df)
            df
          }
          t1 = System.nanoTime()
          tracer.span("query.exec")(df.write.format("noop").mode("overwrite").save())
        }
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    Exec(q.name, (t1 - t0) / 1e6, (t2 - t1) / 1e6, err)
  }

  /** Executions so far, so operation indices are unique across phases. */
  private var execCount = 0

  private def phase(tracer: Tracer): (Phase, Seq[Exec]) = {
    val execs = ArrayBuffer.empty[Exec]
    val units = loop(a.seconds) { () =>
      time(rng.shuffle(queries).foreach(q => execs += exec(q, tracer)))._2
    }
    val failed = execs.zipWithIndex.collect { case (e, i) if e.error.nonEmpty => execCount + i }.toSet
    execCount += execs.size
    (Phase(units, execs.map(e => e.buildMs + e.execMs).toSeq, execs.size, failed,
      execs.flatMap(e => e.error.map(m => s"${e.name}: $m")).toSeq), execs.toSeq)
  }

  /** Write the results of a seeded share of the oracle-backed queries, with
    * their oracle SQL and timed execution counts, for the DuckDB check.
    */
  private def writeOracleInputs(execs: Seq[Exec]): Unit = {
    val dir = a.work.resolve("oracle")
    Files.createDirectories(dir)
    val oracle = graft.SparkEntry.oracleSql
    val withOracle = queries.filter(q => oracle.contains(q.name))
    val checked = rng.shuffle(withOracle).take(math.ceil(withOracle.size * OracleShare).toInt)
    checked.foreach(q => q.fn(spark, a.data).write.parquet(dir.resolve(q.name).toString))
    val counts = execs.groupBy(_.name).map { case (k, v) => k -> v.size }
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    } + "\""
    Files.writeString(dir.resolve("oracle.json"),
      checked.map(q => s"${str(q.name)}:{\"sql\":${str(oracle(q.name))}," +
        s"\"executions\":${counts.getOrElse(q.name, 0)}}").mkString("{", ",\n", "}"))
  }

  def run(): String = {
    val warm = new Tracer(spark, false)
    val (_, warmS) = time(queries.take(WarmupQueries).foreach(exec(_, warm)))
    val setupS = sessionS + warmS
    val (plain, execs) = phase(new Tracer(spark, false))
    if (!a.trace) {
      writeOracleInputs(execs)
      result(Seq(plain), endToEnd(setupS, plain))
    } else {
      // the overhead compares the traced pass with an untraced pass run
      // just before it, so both are equally warm
      val (reference, _) = phase(new Tracer(spark, false))
      val tracer = new Tracer(spark, true)
      val (p, texecs) = phase(tracer)
      tracer.stop()
      writeTrace(a, tracer)
      val ok = texecs.filter(_.error.isEmpty)
      val jobs = tracer.spans.filter(_.name == "query").map(s =>
        (tracer.sparkStats(s.id) +: tracer.spans.filter(_.parent == s.id)
          .map(c => tracer.sparkStats(c.id))).map(_.jobs).sum)
      val values = Map(
        "query.build_ms" -> median(ok.map(_.buildMs)),
        "query.exec_ms" -> median(ok.map(_.execMs)),
        "query.jobs" -> jobs.sum.toDouble / math.max(1, jobs.size),
        "jvm.peak_heap_mb" -> jvmPeakHeapMb,
        "op_p90_ms" -> quantile(p.opMs, 0.9),
        "trace.overhead_s" -> (median(p.unitSeconds) - median(reference.unitSeconds)),
        "ops.fail_ratio" -> p.failedOps.size.toDouble / p.attempted
      ) ++ sparkLayer(tracer, p.unitSeconds.size)
      result(Seq(plain, reference, p), perLayer(values))
    }
  }
}

object QueryBench {
  /** One query's build and execute latency, and what it threw. */
  final case class Exec(name: String, buildMs: Double, execMs: Double, error: Option[String])

  /** SURVEY §2 reference-operator names, plus the lifecycle enrich query. */
  val Pattern: scala.util.matching.Regex = "^(a|f|j|k|p|s|w)\\d+_".r
  val Size = 80
  /** Queries run once before timing, so JIT and Spark's lazy set-up are warm. */
  val WarmupQueries = 3
  /** Share of the oracle-backed queries whose results a run checks. */
  val OracleShare = 0.05

  def surface: Seq[QueryDef] =
    graft.SparkEntry.all.filter(q =>
      Pattern.findFirstIn(q.name).nonEmpty || q.name == "lifecycle_msg_enrich")
}
