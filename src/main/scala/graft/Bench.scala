package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, materializing full rows through the `noop` sink
  * (a bare count() would let Catalyst prune unfiltered projection columns
  * and measure only the scan).
  *
  * One protocol. The per-corpus front builds run first, COLD (FrontCache
  * cleared), as first-class `front_*` rows; then SPARK_GRAFT_BENCH_RUNS
  * interleaved passes run every query once each (pass 1 over all queries,
  * then pass 2, ...), so a loaded stretch of the box poisons at most one
  * sample of a row. A row's figure is the minimum of its samples; a row
  * that throws on every run is an error, not a timing. The bench total
  * includes each front build once.
  *
  * After each pass and once at the end, the artifact (`bench_full.json`)
  * is rewritten and one JSON summary line is printed, so a run killed
  * mid-way still leaves both parseable; the last line on stdout is the
  * most complete. The artifact carries every row's figure, the raw
  * samples (`front_build`, `passes`), each run's Janino compiles, what an
  * error row threw, and the load average at start and end. Two runs are
  * compared artifact to artifact with `scripts/compare_bench.py`.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS
  * (default 2) and SPARK_GRAFT_BENCH_ONLY (comma-separated rows; such a
  * run prints every row it timed and leaves the artifact alone).
  */
object Bench {

  /** One run of a bench row: its seconds, or the class and message of the
    * non-fatal error it threw; and the Janino compiles made while it ran,
    * on any thread of this JVM.
    */
  private[graft] final case class RowRun(name: String, seconds: Option[Double],
                                         compiles: Long, compileMs: Double,
                                         error: Option[String])

  /** Run one bench row. A fatal error (out of memory, a linkage error)
    * escapes; any other error makes the run an error run.
    */
  private[graft] def timed(name: String)(body: => Unit): RowRun = {
    val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val t0 = System.nanoTime()
    val error =
      try { body; None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val seconds = (System.nanoTime() - t0) / 1e9
    RowRun(name, if (error.isEmpty) Some(seconds) else None,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
      (CodeGenerator.compileTime - ns0) / 1e6, error)
  }

  /** Rows printed on stdout: a subset spanning the operator families
    * (relational agg/join, window, dedup, ANN, text, streaming, upsert,
    * composed pipeline), plus every front build. The full map goes to the
    * artifact only: the stdout line must stay short enough for a driver
    * that keeps only the tail of the output.
    */
  private[graft] val headline: Set[String] =
    graft.queries.CorpusFronts.benchFronts.map(_.name).toSet ++ Set(
      "q1_agg", "q3_join_agg", "q5_region_revenue", "a6_convo_agg",
      "j1_lookup_join", "j8_fuzzy_semi_join", "w4_sort_limit",
      "win_moving_avg", "dedup_exact", "dedup_minhash_lsh",
      "dedup_ngram_jaccard", "dedup_simhash", "ann_topk_bruteforce",
      "ann_topk_ivf", "ann_topk_lsh", "text_quality", "tfidf_top_terms",
      "stream_sessionize", "k4_merge_upsert", "pipeline_doc_filter",
      "session_window_native", "topk_per_segment", "scalar_subquery_select",
      "asof_prev_purchase", "text_tokens_bpe", "mixture_sample")

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  private def jsonOf(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => Verify.jsonString(k) + ":" + r3(v) }.mkString("{", ",", "}")

  /** The summary line over the runs made so far: the stdout contract, and
    * with `detail` appended the artifact. A row's figure is the minimum
    * of its samples over `runs`; a row of `names` with none is an error.
    * `queries` lists the timed rows that `show` picks.
    */
  private[graft] def summaryLine(names: Seq[String], runs: Seq[RowRun],
                                 stage: String, passesRun: Int,
                                 runsIntended: Int, sfDir: String,
                                 show: String => Boolean,
                                 detail: String = ""): String = {
    val samples = runs.groupBy(_.name)
    val best =
      names.map(n => n -> samples.getOrElse(n, Nil).flatMap(_.seconds).minOption)
    val results = best.collect { case (n, Some(t)) => n -> t }
    val errors = best.collect { case (n, None) => n }
    val shown = results.filter(r => show(r._1))
    s"""{"metric":"total","value":${r3(results.map(_._2).sum)},"unit":"sec",""" +
    s""""n":${names.size},"n_ok":${results.size},"n_shown":${shown.size},""" +
    s""""stage":"$stage","passes_run":$passesRun,"runs_intended":$runsIntended,""" +
    s""""errors":${errors.map(Verify.jsonString).mkString("[", ",", "]")},""" +
    s""""queries":${jsonOf(shown)}$detail,"sf":${Verify.jsonString(sfDir)}}"""
  }

  /** The artifact's detail blocks: the cold front-build samples, the raw
    * per-pass samples, each run's Janino compiles, and the class and
    * message of what an error row threw (its last error).
    */
  private def detail(frontRuns: Seq[RowRun], passRuns: Seq[Seq[RowRun]]): String = {
    def timings(rs: Seq[RowRun]) = rs.collect { case RowRun(n, Some(t), _, _, _) => n -> t }
    def compilesOf(rs: Seq[RowRun]): String = rs.map(r =>
      Verify.jsonString(r.name) + ":{\"compiles\":" + r.compiles + ",\"compile_ms\":" +
        r3(r.compileMs) + "}").mkString("{", ",", "}")
    val fronts = timings(frontRuns)
    val rowErrors = (frontRuns ++ passRuns.flatten)
      .collect { case RowRun(n, _, _, _, Some(e)) => n -> e }.toMap
    (if (fronts.isEmpty) "" else s""","front_build":${jsonOf(fronts)}""") +
    (if (passRuns.isEmpty) ""
     else passRuns.map(rs => jsonOf(timings(rs))).mkString(""","passes":[""", ",", "]")) +
    (if (frontRuns.isEmpty) "" else s""","front_codegen":${compilesOf(frontRuns)}""") +
    (if (passRuns.isEmpty) ""
     else passRuns.map(compilesOf).mkString(""","codegen":[""", ",", "]")) +
    (if (rowErrors.isEmpty) ""
     else rowErrors.toSeq.sorted
       .map { case (n, e) => Verify.jsonString(n) + ":" + Verify.jsonString(e) }
       .mkString(""","row_errors":{""", ",", "}"))
  }

  /** 1/5/15-minute load averages (zeros off-Linux — fingerprint only). */
  private def loadavg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case NonFatal(e) => swallowed("loadavg", e); Seq(0.0, 0.0, 0.0) }

  /** A non-fatal error the bench carries on past: `class: message` on
    * stderr, so the stdout JSON line stays as it is.
    */
  private def swallowed(what: String, e: Throwable): Unit =
    System.err.println(s"[bench] $what failed: ${e.getClass.getName}: ${e.getMessage}")

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val loadStart = loadavg()
    val spark = Session("graft-bench")

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    // JVM/codegen warmup outside the measured window
    try run((s, d) => Tables.load(s, d, "nation")) catch { case NonFatal(_) => }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val frontSel = graft.queries.CorpusFronts.benchFronts
      .filter(f => only.isEmpty || only(f.name))
    val names = frontSel.map(_.name) ++ selected.map(_._1)

    // Cold front builds, left PINNED so the passes' head queries read
    // steady state.
    if (frontSel.nonEmpty)
      try graft.operators.FrontCache.clear()
      catch { case NonFatal(e) => swallowed("front cache clear", e) }
    val frontRuns = frontSel.map(f => timed(f.name)(f.build(spark, sfDir)))
    var passRuns = Vector.empty[Seq[RowRun]]

    // Rewrite the artifact (every row, the detail blocks and the load
    // average) unless the run is filtered, and print the short line.
    def emit(stage: String): String = {
      val all = frontRuns ++ passRuns.flatten
      def lineOf(show: String => Boolean, extra: String) =
        summaryLine(names, all, stage, passRuns.size, runs, sfDir, show, extra)
      if (only.isEmpty) {
        val load =
          s""","load":{"loadavg_start":[${loadStart.mkString(",")}],""" +
          s""""loadavg_end":[${loadavg().mkString(",")}],""" +
          s""""elapsed_sec":${r3((System.nanoTime() - benchT0) / 1e9)},"cpus":${Session.cpus}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
          (lineOf(_ => true, detail(frontRuns, passRuns) + load) + "\n").getBytes("UTF-8"))
      }
      lineOf(if (only.nonEmpty) _ => true else headline, "")
    }

    for (pass <- 1 to runs) {
      passRuns :+= selected.map { case (name, fn) => timed(name)(run(fn)) }
      println(emit(if (pass == runs) "interleaved" else s"pass$pass"))
      System.out.flush()
    }

    // Silence executor/shutdown logging, stop, THEN print: the final line
    // must be the last thing on stdout before sbt's own success line.
    val summary = emit("final")
    try { spark.sparkContext.setLogLevel("OFF"); spark.stop() }
    catch { case NonFatal(e) => swallowed("session stop", e) }
    println(summary)
  }
}
