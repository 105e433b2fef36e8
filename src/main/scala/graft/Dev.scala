package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Entry smoke + scratch main (the verify skill expects ENTRY_ROWS here).
  * Pass query names as args to print their formatted plans instead.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.isEmpty) {
      val e = SparkEntry.entry(spark)
      println(s"ENTRY_ROWS=${e.count()}")
      e.show(5, false)
    } else if (args.head == "--plans-md") {
      // regenerate PLANS.md: formatted physical plans of the headline
      // queries (the artifact of the explain-and-iterate loop)
      val dir = sys.env.getOrElse("DEV_SF", "/root/testdata/sf0.01")
      val names = args.tail
      val sb = new StringBuilder
      sb.append("# PLANS — headline query physical plans\n\n")
      sb.append("Generated by `sbt \"runMain graft.Dev --plans-md <names>\"` at ")
      sb.append(s"`$dir`. What to look for: `PushedFilters`/`ReadSchema` on\n")
      sb.append("every scan (pushdown + pruning), `BroadcastHashJoin` on dim\n")
      sb.append("sides, wide `WholeStageCodegen` spans around the custom\n")
      sb.append("expressions, `ObjectHashAggregate` for the typed top-k\n")
      sb.append("aggregate, and exactly one Exchange per declared shuffle.\n")
      for (q <- names) {
        val df = SparkEntry.queries(q)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $q\n\n```\n").append(plan.trim).append("\n```\n")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
        sb.toString.getBytes("UTF-8"))
      println(s"PLANS.md written (${names.length} queries)")
    } else if (args.head == "--suffix-build-plans") {
      // formatted plans of the suffix-front DERIVATIONS over the shared
      // label base (the lazy part above the base's checkpoint): the
      // round-16 evidence that the L=8/L=12 fronts run no densify of
      // their own — one window-key projection + one count/max window
      val dir = sys.env.getOrElse("DEV_SF", "/root/testdata/sf0.01")
      val toks = graft.operators.SuffixDedup.tokenize(
        Tables.load(spark, dir, "documents"), "doc_id", "text")
      val base = graft.operators.SuffixDedup.labelBase(toks)
      val heads = Seq(
        "dup_spans_build" ->
          graft.operators.SuffixDedup.maximalDuplicateSpansFromBase(base, 8),
        "decontam_spans_build" ->
          graft.operators.SuffixDedup.contaminationSpansFromBase(base,
            Tables.load(spark, dir, "documents"), "doc_id",
            org.apache.spark.sql.functions.col("source") === "src0", 12))
      for ((n, df) <- heads) {
        println(s"===== $n")
        df.explain("formatted")
      }
    } else if (args.head == "--suffix-round0-plan") {
      // the base build's round-0 shape: how does toks ⋈ tokIds plan?
      // (round-17 session 2: tokenIds is the vocab-gated broadcast path)
      val dir = sys.env.getOrElse("DEV_SF", "/root/testdata/sf0.01")
      val toks = graft.operators.SuffixDedup.tokenize(
        Tables.load(spark, dir, "documents"), "doc_id", "text")
      val (tokIds, nTok) = graft.operators.SuffixDedup.tokenIds(toks)
      println(s"===== round0_join nTok=$nTok")
      toks.join(tokIds, Seq("tok")).explain("formatted")
    } else if (args.head == "--r17-plans") {
      // round-17 evidence dumps for the shapes that live UPSTREAM of a
      // localCheckpoint (invisible in any query head's own explain):
      // the fused PartitionRank densify pass and the pagerank edge+deg
      // cache build
      val dir = sys.env.getOrElse("DEV_SF", "/root/testdata/sf0.01")
      import org.apache.spark.sql.functions._
      val toks = graft.operators.SuffixDedup.tokenize(
        Tables.load(spark, dir, "documents"), "doc_id", "text")
      // the base build's first densify input: token-id pairs (the frame
      // withDenseRank range-partitions and ranks)
      val (tokIds, _) = graft.operators.GlobalRank.globalRowNumberWithCount(
        toks.select(col("tok")).distinct(), Seq(col("tok")), "id")
      val cur = toks.join(tokIds, Seq("tok"))
        .select(col("doc_id"), col("pos"), col("id").as("lbl"))
      println("===== densify_partition_rank")
      graft.plans.PartitionRank(cur, Seq(col("lbl")),
        "__pid", "__rn", "__ldr").explain("formatted")
      println("===== pagerank_edge_deg_build")
      val e = graft.queries.CorpusFronts.custSuppPairs(spark, dir)
        .select(col("c").cast("long").as("src"),
          col("sn").cast("long").as("dst"))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      e.repartition(col("src")).join(deg, Seq("src")).explain("formatted")
    } else if (args.head == "--sql") {
      // scratch SQL probe: run each remaining arg as a statement, with
      // the test tables registered as views (events needs the nanos shim)
      val sqlDir = sys.env.getOrElse("DEV_SF", "/root/testdata/sf0.01")
      Tables.names.foreach(n =>
        Tables.load(spark, sqlDir, n).createOrReplaceTempView(n))
      for (q <- args.tail) {
        println(s"===== $q")
        try spark.sql(q).show(20, false)
        catch { case NonFatal(e) =>
          println(s"ERR: ${e.getClass.getName}: ${e.getMessage}".take(300)) }
      }
    } else {
      val dir = sys.env.getOrElse("DEV_SF", "/root/testdata/sf0.01")
      for (q <- args) {
        println(s"===== $q")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}
