package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, materializing full rows through the `noop` sink
  * (a bare count() would let Catalyst prune unfiltered projection columns
  * and measure only the scan). Prints ONE JSON line per completed phase
  * (the last line on stdout is always the most-enriched one).
  *
  * Timeout durability: the artifact (`bench_full.json`) and the stdout
  * summary line are written IMMEDIATELY after the interleaved passes,
  * then rewritten/re-printed after the adjudicator phase and again after
  * the fresh-JVM phase. A run killed mid-protocol therefore always
  * leaves a parseable line + a complete-for-its-phase artifact (round 13
  * shipped `rc: 124, parsed: null` because everything was emitted only
  * at the very end). A wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_S,
  * default 900 s) skips the remaining protocol phases when exceeded —
  * the interleaved result is the load-robust headline; the later phases
  * are enrichment, never worth a zero-information artifact.
  *
  * Protocol honesty (round 14's top ask): every emitted line carries
  * `passes_run`/`runs_intended`; a budget-truncated run is labeled
  * `passN-only`, NEVER `interleaved` (r14's official artifact stamped
  * cold pass-1 samples "interleaved" and earned 14 false >2x flags);
  * the file artifact carries the raw per-pass sample arrays; and a
  * truncated run still self-adjudicates its 5 worst baseline ratios in
  * a small reserved budget slice. `scripts/compare_bench.py` refuses
  * standing-baseline regression grading of truncated artifacts.
  *
  * Front builds are timed COLD as first-class `front_*` entries before
  * pass 1 (the registry moved them out of every head's figure — the
  * most expensive computations in the suite need standing numbers), and
  * the bench total includes them once.
  */
object Bench {

  /** Box-state fingerprint: seconds for a FIXED single-thread CPU work
    * unit (400M xorshift64 steps ≈ 0.9 s on this class of box when idle).
    * Cross-run bench ratios drift with box load (the r12 driver run read
    * ~1.9x the recorded fresh floors across the board — both protocols on
    * a loaded box); recording time-to-fixed-work START and END of the run
    * lets compare_bench.py adjudicate a ratio mechanically instead of by
    * narrative. Deterministic, allocation-free, DCE-proofed by the sink.
    */
  private def spinSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 400000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.print("") // consume x: defeat dead-code elim
    math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000
  }

  /** Wall seconds for the SAME fixed work unit split across `n`
    * threads (100M steps each). The single-thread spin cannot see a
    * box whose PARALLEL throughput is degraded (shared-tenant CPU
    * quota, SMT saturation): round 15 measured every sub-second query
    * ~2x its baseline row on a box whose single-thread spin read a
    * healthy 0.77 s — and an A/B of the r14 tree on the same box read
    * identically, proving box-not-tree. This probe makes that
    * adjudication mechanical: wall time rises with lost parallel
    * throughput while the single-thread spin stays flat.
    */
  private def spinParallelSeconds(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until n).map { i =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var k = 0L
        while (k < 100000000L) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          k += 1
        }
        if (x == 42L) System.err.print("") // consume x: defeat DCE
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000
  }

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
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Wall-clock budget for the OPTIONAL protocol phases (interleaved
    // passes beyond the first, adjudicator, fresh-JVM forks). Once
    // elapsed exceeds it, remaining phases are skipped — the artifact
    // records which phases ran ("stage"). 900 s fits pass 2 (~5 min at
    // sf0.1) plus the trimmed adjudicator and a few rotating forks; any
    // driver timeout above ~7 min still collects a complete artifact
    // because every phase emits incrementally.
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "900").toDouble
    // fingerprint only on full runs: the fresh-JVM children (BENCH_ONLY
    // set) would otherwise each pay ~2 s of spin for a file they never
    // write — and their spin would itself perturb the box under test
    val fullRun = !sys.env.contains("SPARK_GRAFT_BENCH_ONLY")
    val loadStart = if (fullRun) loadavg() else Nil
    val spinStart = if (fullRun) spinSeconds() else 0.0
    val cpusN = cpus.toInt
    // discard one MT probe first: the start sample otherwise runs the
    // thread body interpreted (JVM-cold) and reads ~2x the warm figure,
    // which would false-flag every run's max(start, end)
    val spinMtStart =
      if (fullRun) { spinParallelSeconds(cpusN); spinParallelSeconds(cpusN) }
      else 0.0
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    // JVM/codegen warmup outside the measured window
    try run((s, d) => Tables.load(s, d, "nation")) catch { case NonFatal(_) => }

    // steady-state timing: best of N INTERLEAVED full passes (first touch
    // of a query carries JIT compilation of generated code — observed 2-5x
    // noise on cold paths). Interleaving (pass 1 over ALL queries, then
    // pass 2 over all, ...) instead of consecutive best-of-N per query
    // means a transiently loaded stretch of the box poisons at most ONE
    // sample of any given query — its other samples land minutes away —
    // so the per-query min stays a plan-cost measurement, not a load
    // measurement. A query that throws on EVERY pass is an ERROR, not a
    // timing — its time-to-exception (often ~0.05 s) would otherwise read
    // as a fake speedup in any per-query comparison against the baseline.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // dev-mode isolation: SPARK_GRAFT_BENCH_ONLY=q1_agg,f30_xml_extract
    // times just those queries (for separating plan cost from box load)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // Per-corpus front builds, timed COLD as first-class `front_*`
    // entries (round-14 ask #2): the registry moved these builds out of
    // every head query's figure, so without this phase the most
    // expensive computations in the suite (suffix fronts, edge sets,
    // BM25 leg, ANN training) had no standing number at all.
    val frontDefs = graft.queries.CorpusFronts.benchFronts
    val frontMap = frontDefs.map(f => f.name -> f).toMap
    val frontSel = frontDefs.filter(f => only.isEmpty || only(f.name))
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def jsonOf(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")

    // Headline subset spanning the operator families (relational agg/join,
    // window, dedup, ANN, text, streaming, upsert, composed pipeline),
    // plus every front build — the real per-corpus work belongs on
    // stdout, not only in the file.
    val headline = frontDefs.map(_.name).toSet ++ Set(
      "q1_agg", "q3_join_agg", "q5_region_revenue", "a6_convo_agg",
      "j1_lookup_join", "j8_fuzzy_semi_join", "w4_sort_limit",
      "win_moving_avg", "dedup_exact", "dedup_minhash_lsh",
      "dedup_ngram_jaccard", "dedup_simhash", "ann_topk_bruteforce",
      "ann_topk_ivf", "ann_topk_lsh", "text_quality", "tfidf_top_terms",
      "stream_sessionize", "k4_merge_upsert", "pipeline_doc_filter",
      "session_window_native", "topk_per_segment", "scalar_subquery_select",
      "asof_prev_purchase", "text_tokens_bpe", "mixture_sample")

    // samples accumulate pass by pass; every summary below recomputes
    // from what exists SO FAR, so an artifact can land after each pass.
    // Front builds are sampled ONCE (cold, before pass 1) and flow
    // through the same min-of-samples summary.
    var samples = Seq.empty[(String, Option[Double])]
    val allNames: Seq[String] = frontSel.map(_.name) ++ selected.map(_._1)
    def summarize(): (Int, Seq[(String, Double)], Seq[String], Double) = {
      val byName = samples.groupBy(_._1)
      // getOrElse: RUNS=0 means no samples at all — report every query
      // as an error rather than crash
      val timed = allNames.map { name =>
        name -> byName.getOrElse(name, Seq.empty).flatMap(_._2).minOption
      }
      val results = timed.collect { case (n, Some(t)) => n -> t }
      val errors = timed.collect { case (n, None) => n }
      (timed.size, results, errors, r3(results.map(_._2).sum))
    }

    // protocol accounting, stamped into EVERY emitted line (round-14
    // verdict #1: a budget-truncated single pass must be distinguishable
    // from a true min-of-N run — r14's official artifact labeled cold
    // pass-1 samples "interleaved" and earned 14 false >2x flags)
    var passesRun = 0
    var passRuns = Vector.empty[Seq[RowRun]]
    var frontRuns = Seq.empty[RowRun]
    def timings(rs: Seq[RowRun]): Seq[(String, Double)] =
      rs.collect { case RowRun(n, Some(t), _, _, _) => n -> t }

    def line(n: Int, nOk: Int, total: Double, errors: Seq[String],
             queries: Seq[(String, Double)], nShown: Int, stage: String,
             isoJson: String, extra: String = ""): String =
      s"""{"metric":"total","value":$total,"unit":"sec","n":$n,""" +
      s""""n_ok":$nOk,"n_shown":$nShown,"stage":"$stage",""" +
      s""""passes_run":$passesRun,"runs_intended":$runs,""" +
      s""""errors":${errors.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":${jsonOf(queries)}$isoJson$extra,"sf":"$sfDir"}"""

    // The one artifact writer: rewrite bench_full.json (full per-query map
    // + load fingerprint) and return the short headline summary line. Full
    // per-query timings go to the file only: the bench driver keeps the
    // last ~2000 chars of output, so the stdout line must stay short
    // (~80 queries at full precision overflowed the window in r01/r02 and
    // the driver recorded "parsed": null) — the fresh-JVM map and the
    // load fingerprint live ONLY in the file for the same reason.
    def writeArtifact(stage: String, isolated: Seq[(String, Double)],
                      fresh: Seq[(String, Double)],
                      extraJson: String = ""): String = {
      val (n, results, errors, total) = summarize()
      val isoJson =
        if (isolated.isEmpty) "" else s""","isolated":${jsonOf(isolated)}"""
      val freshJson =
        if (fresh.isEmpty) "" else s""","fresh":${jsonOf(fresh)}"""
      val loadNow = if (fullRun) loadavg() else Nil
      val spinNow = if (fullRun) spinSeconds() else 0.0
      val spinMtNow = if (fullRun) spinParallelSeconds(cpusN) else 0.0
      val loadJson =
        s""","load":{"loadavg_start":[${loadStart.mkString(",")}],""" +
        s""""loadavg_end":[${loadNow.mkString(",")}],""" +
        s""""spin_start_sec":$spinStart,"spin_end_sec":$spinNow,""" +
        s""""spin_mt_start_sec":$spinMtStart,"spin_mt_end_sec":$spinMtNow,""" +
        s""""elapsed_sec":${r3(elapsedS)},"cpus":$cpus}"""
      // file-only protocol detail: the cold front-build map and the raw
      // per-pass sample arrays (min-of-passes hides which pass carried
      // a reading; the arrays make any artifact self-explaining)
      val frontJson =
        if (timings(frontRuns).isEmpty) ""
        else s""","front_build":${jsonOf(timings(frontRuns))}"""
      val passesJson =
        if (passRuns.isEmpty) ""
        else passRuns.map(rs => jsonOf(timings(rs))).mkString(""","passes":[""", ",", "]")
      // per row and run: the Janino compiles it made, and the class and
      // message of what an error row threw (its last error)
      def compilesOf(rs: Seq[RowRun]): String = rs.map(r =>
        "\"" + r.name + "\":{\"compiles\":" + r.compiles + ",\"compile_ms\":" +
          r3(r.compileMs) + "}").mkString("{", ",", "}")
      val codegenJson =
        (if (frontRuns.isEmpty) "" else s""","front_codegen":${compilesOf(frontRuns)}""") +
        (if (passRuns.isEmpty) ""
         else passRuns.map(compilesOf).mkString(""","codegen":[""", ",", "]"))
      val rowErrors = (frontRuns ++ passRuns.flatten)
        .collect { case RowRun(n, _, _, _, Some(e)) => n -> e }.toMap
      val errorsJson =
        if (rowErrors.isEmpty) ""
        else rowErrors.toSeq.sorted.map { case (n, e) => "\"" + n + "\":" + Verify.jsonString(e) }
          .mkString(""","row_errors":{""", ",", "}")
      if (only.isEmpty) // a filtered dev run must not clobber the artifact
        java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_full.json"),
          (line(n, results.size, total, errors, results, results.size, stage,
            isoJson, freshJson + frontJson + passesJson + codegenJson +
              errorsJson + extraJson + loadJson) + "\n")
            .getBytes("UTF-8"))
      val shown =
        if (only.nonEmpty) results else results.filter(r => headline(r._1))
      line(n, results.size, total, errors, shown, shown.size, stage, isoJson)
    }

    // Emit one phase: write the artifact and print its summary line.
    def emit(stage: String, isolated: Seq[(String, Double)],
             fresh: Seq[(String, Double)], extraJson: String = ""): Unit = {
      println(writeArtifact(stage, isolated, fresh, extraJson))
      System.out.flush()
    }

    // Phase 0: cold front builds. FrontCache cleared first so every
    // `front_*` reading is the real build, then left PINNED so pass 1's
    // head queries read steady state (the contract BASELINE.md's
    // post-front per-head figures were recorded under).
    if (frontSel.nonEmpty) {
      try graft.operators.FrontCache.clear()
      catch { case NonFatal(e) => swallowed("front cache clear", e) }
      frontRuns = frontSel.map(f => timed(f.name)(f.build(spark, sfDir)))
      samples ++= frontRuns.map(r => r.name -> r.seconds)
    }

    // Passes run one at a time, an artifact after EACH: the r13 driver
    // kill arrived mid-run and got nothing, and even the phase-1 emit is
    // too late if it waits for every pass — pass 1 alone is a complete
    // (if JIT-inflated) per-query map, on disk ~halfway through the run.
    // Later passes are skipped once the budget is spent: the min-of-N
    // protocol matters least exactly when the box can't afford N passes.
    // A truncated run is labeled "passN-only", NEVER "interleaved" — its
    // samples carry cold JIT and the full front-order effects that
    // min-of-N amortizes away, so downstream comparison must know.
    while (passesRun < runs && (passesRun == 0 || elapsedS < budgetS)) {
      val ps = selected.map { case (name, fn) => timed(name)(run(fn)) }
      samples ++= ps.map(r => r.name -> r.seconds)
      passRuns :+= ps
      passesRun += 1
      emit(if (passesRun >= runs) "interleaved" else s"pass$passesRun",
        Seq.empty, Seq.empty)
    }
    val truncated = passesRun < runs
    if (truncated) emit(s"pass$passesRun-only", Seq.empty, Seq.empty)
    val (_, results, _, _) = summarize()

    // --- self-adjudication: any query reading > 1.5x its BASELINE.md
    // figure gets an immediate ISOLATED re-run (best of 2, nothing else
    // in flight) so a transiently loaded box can't masquerade as a plan
    // regression — both numbers are recorded, and a real regression shows
    // up as isolated ≈ interleaved while a load artifact collapses to the
    // baseline. BASELINE.md's per-query table (`name` seconds cells) is
    // the single source of the figures; no file → no adjudication. The
    // figures were recorded at sf0.1 — at any other SF the comparison is
    // meaningless (everything reads >1.5x at sf1.0), so adjudication only
    // arms when the bench dir IS that scale factor. Sub-second-baseline
    // queries are NOT adjudicated: at that scale the isolated re-run
    // measures GC wake-up, not plans (r13 judge run: text_token_quantiles
    // isolated 1.10 s vs interleaved 0.44 s), so re-running them only
    // burns wall-clock to produce a noisier number.
    val baseline: Map[String, Double] =
      if (!sfDir.stripSuffix("/").endsWith("sf0.1") ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get("BASELINE.md")))
        Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
        // anchored to TABLE ROWS only (lines starting with '|'): prose
        // mentions like "`graph_pagerank` 5.11 s" must not enter the map.
        // Later tables override earlier ones (toMap keeps the last match),
        // so the newest standing-baseline section wins per query.
        val cell = "`([a-z0-9_]+)` ([0-9]+\\.[0-9]+)".r
        txt.linesIterator.filter(_.trim.startsWith("|")).flatMap(line =>
          cell.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toDouble))
          .toMap
      }
    val qmap = SparkEntry.queries
    // A `front_*` entry re-runs COLD (invalidate just its keys, rebuild
    // — which re-pins the front, so a later head's re-run stays warm);
    // a query re-runs as-is. On a TRUNCATED run the main budget is spent
    // by definition, but its outliers are exactly the readings most in
    // need of adjudication (round-14 ask #8: the pass1-only artifact
    // shipped 14 unadjudicated false >2x flags) — so the worst 5 ratios
    // still get isolated re-runs inside a small reserved slice.
    def isolatedRun(name: String): Unit = frontMap.get(name) match {
      case Some(f) =>
        graft.operators.FrontCache.invalidate(spark, f.keyPrefix)
        f.build(spark, sfDir)
      case None => run(qmap(name))
    }
    // Candidates sorted WORST-RATIO-FIRST in both branches: if the slice
    // runs out mid-list, the readings most in need of adjudication are
    // the ones that got it (the r15 clean run armed 16 candidates and
    // isolated only the alphabetically-first one — the full-run branch
    // reserved no slice and took candidates in name order).
    val candidates: Seq[(String, Double, Double)] = results.flatMap {
      case (name, t) => baseline.get(name).collect {
        case b if b >= 1.0 && t > 1.5 * b => (name, t, t / b)
      }
    }.sortBy(-_._3)
    val adjPicked = if (!truncated) candidates else candidates.take(5)
    // Full runs get a RESERVED slice past whatever the passes consumed
    // (the truncated branch's elapsedS+150 pattern): a clean 2/2-pass run
    // that lands near the budget must still isolate every armed
    // candidate, not just the first. The deadline is checked before each
    // candidate, so the overshoot is bounded by one re-run.
    val adjDeadline =
      if (!truncated) math.max(budgetS, elapsedS) + 240.0 else elapsedS + 150.0
    // Load probe AROUND the adjudication batch (round-15 ask #3): the
    // isolated figures are only trustworthy if the box was healthy WHILE
    // they ran — the r15 driver artifact's isolated block read 7.6-8.8x
    // under a 6 s spin and nothing in the artifact said so.
    val isoSpinBefore =
      if (fullRun && adjPicked.nonEmpty && only.isEmpty) spinSeconds() else 0.0
    val isoSpinMtBefore =
      if (fullRun && adjPicked.nonEmpty && only.isEmpty) spinParallelSeconds(cpusN)
      else 0.0
    val isolated: Seq[(String, Double)] =
      if (only.nonEmpty) Seq.empty // dev-filtered runs are already isolated
      else adjPicked.collect {
        case (name, t, _) if elapsedS < adjDeadline =>
          val ts = (1 to 2).flatMap(_ => timed(name)(isolatedRun(name)).seconds)
          name -> ts.minOption.getOrElse(t)
      }
    val isoSpinAfter =
      if (fullRun && isolated.nonEmpty) spinSeconds() else 0.0
    val isoSpinMtAfter =
      if (fullRun && isolated.nonEmpty) spinParallelSeconds(cpusN) else 0.0
    // Interference-suspect annotation (round-17, VERDICT r16 #7): a row
    // that ARMED in the full run but collapses to ≤1.1× its baseline
    // when re-run isolated — WHILE the iso-load probe reads healthy
    // (spins within 15% of the run's own start fingerprint) — was a
    // full-run interference artifact, not a plan regression. Stamping
    // the adjudication into the artifact stops every later verdict from
    // re-litigating the same box-sensitive rows (f30_xml_extract,
    // q16_part_supplier_variety in r15/r16).
    val isoHealthy = isolated.nonEmpty && spinStart > 0 &&
      isoSpinBefore <= spinStart * 1.15 && isoSpinAfter <= spinStart * 1.15
    val interferenceSuspect =
      if (!isoHealthy) Seq.empty[String]
      else isolated.collect {
        case (name, t) if baseline.get(name).exists(b => t <= 1.1 * b) => name
      }
    val isoLoadJson =
      if (isolated.isEmpty) ""
      else s""","iso_load":{"spin_before_sec":$isoSpinBefore,""" +
        s""""spin_after_sec":$isoSpinAfter,""" +
        s""""spin_mt_before_sec":$isoSpinMtBefore,""" +
        s""""spin_mt_after_sec":$isoSpinMtAfter,""" +
        s""""armed":${adjPicked.size},"run":${isolated.size},""" +
        s""""interference_suspect":${interferenceSuspect
          .map("\"" + _ + "\"").mkString("[", ",", "]")}}"""

    // PHASE 2 artifact (only if the adjudicator actually ran on anything —
    // an identical rewrite would just churn the file's mtime).
    if (isolated.nonEmpty) emit("adjudicated", isolated, Seq.empty, isoLoadJson)

    // --- dual protocol: the FRESH-JVM isolated floor per headline query.
    // The interleaved min depends on what ran before it in this JVM (JIT
    // state, code cache, heap shape) and the adjudicator's same-JVM
    // isolated re-runs inherit that too — "isolated" drifted 1.45×→1.77×
    // across rounds on bit-identical f30_xml_extract code. A freshly
    // forked JVM per query (best of 2 INSIDE the child, so its reading
    // excludes JVM/session startup but includes one warm re-run) is the
    // reproducible-across-rounds second protocol. To keep the whole bench
    // inside the driver's budget, each run forks only a ROTATING slice of
    // the headline subset (SPARK_GRAFT_BENCH_FRESH_N per run, default 8 —
    // full coverage every ceil(26/8)=4 runs); the cursor persists in
    // bench_fresh_cursor.txt across runs. Armed with the baseline (sf0.1,
    // BASELINE.md present), bounded by a per-child timeout and the global
    // budget; SPARK_GRAFT_BENCH_FRESH=0 disables.
    val freshEnabled = only.isEmpty && baseline.nonEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FRESH", "1") != "0" &&
      elapsedS < budgetS
    val fresh: Seq[(String, Double)] =
      if (!freshEnabled) Seq.empty
      else {
        // every timing that uses the parent's state is recorded — release
        // the pinned fronts and cached frames so the parent idles at low
        // heap while the children run (a GC-pressured parent perturbs
        // the box the fresh floors are supposed to read as idle)
        try {
          graft.operators.FrontCache.clear()
          spark.catalog.clearCache()
          System.gc()
        } catch { case NonFatal(e) => swallowed("cache release", e) }
        val resultNames = results.map(_._1).toSet
        val pool = headline.toSeq.sorted.filter(resultNames)
        val freshN = math.min(pool.size,
          sys.env.getOrElse("SPARK_GRAFT_BENCH_FRESH_N", "8").toInt)
        val cursorPath = java.nio.file.Paths.get("bench_fresh_cursor.txt")
        val cursor =
          try new String(java.nio.file.Files.readAllBytes(cursorPath),
            "UTF-8").trim.toInt
          catch { case NonFatal(e) => swallowed("fresh cursor read", e); 0 }
        val slice =
          if (pool.isEmpty) Seq.empty
          else (0 until freshN).map(i => pool((cursor + i) % pool.size))
        try java.nio.file.Files.write(cursorPath,
          (((cursor + freshN) % math.max(1, pool.size)).toString + "\n")
            .getBytes("UTF-8"))
        catch { // read-only cwd: rotation just stalls
          case NonFatal(e) => swallowed("fresh cursor write", e)
        }
        val javaBin = System.getProperty("java.home") + "/bin/java"
        val opens = Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar",
        ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
        // children get a CAPPED heap, not the parent's: one sf0.1 query
        // fits in 16 GiB easily, while 8 sequential children inheriting
        // a ~100 GiB ceiling beside a parent that has just run 600
        // queries (and holds the pinned fronts) creates the exact memory
        // pressure the fresh floors are supposed to be free of — the r14
        // first run read 69 min of sys time and a 1.74 s end spin from
        // it, poisoning every fresh reading
        val childMx = math.min(Runtime.getRuntime.maxMemory(), 16L << 30)
        val cmd = Seq(javaBin) ++ opens ++ Seq(
          s"-Xmx$childMx",
          "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
          "-cp", System.getProperty("java.class.path"), "graft.Bench")
        // iterator: the budget predicate must be re-read BETWEEN child
        // forks (on a strict seq every predicate evaluates before the
        // first fork, so the global budget never interrupted the
        // sequence — only the 240 s per-child timeout bounded it)
        slice.iterator.takeWhile(_ => elapsedS < budgetS).flatMap { name =>
          val pb = new ProcessBuilder(cmd: _*)
          pb.redirectError(ProcessBuilder.Redirect.DISCARD)
          // a front that DERIVES from earlier fronts forks with its deps
          // selected too (built first — benchFronts order), so the child's
          // reading for `name` measures the same derivation-only quantity
          // as the interleaved row; the regex below extracts `name`'s own
          // figure, never a dep's (round-17 adjudication-asymmetry fix)
          val childOnly = frontMap.get(name)
            .map(f => (f.deps :+ name).mkString(",")).getOrElse(name)
          pb.environment().put("SPARK_GRAFT_BENCH_ONLY", childOnly)
          pb.environment().put("SPARK_GRAFT_BENCH_RUNS", "2")
          pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
          pb.environment().put("SPARK_GRAFT_CPUS", cpus)
          val p = pb.start()
          val outF = java.util.concurrent.CompletableFuture.supplyAsync(() =>
            new String(p.getInputStream.readAllBytes(), "UTF-8"))
          val done = p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
          if (!done) { p.destroyForcibly(); None }
          else {
            val out = outF.get()
            val re = ("\"" + java.util.regex.Pattern.quote(name) +
              "\":([0-9][0-9.eE+-]*)").r
            // the child emits per-pass lines too now; the LAST match is
            // its final (min-of-passes) figure — the first would be the
            // JIT-cold pass-1 reading
            re.findAllMatchIn(out).toSeq.lastOption
              .map(m => name -> m.group(1).toDouble)
          }
        }.toSeq
      }

    // FINAL artifact + summary. Silence executor/shutdown logging, stop,
    // THEN print: the final line must be the last thing on stdout before
    // sbt's own success line.
    val summary = writeArtifact("final", isolated, fresh, isoLoadJson)
    try { spark.sparkContext.setLogLevel("OFF"); spark.stop() }
    catch { case NonFatal(e) => swallowed("session stop", e) }
    println(summary)
  }
}
