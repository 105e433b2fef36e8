package graft

import scala.util.control.NonFatal

/** Entry smoke + scratch main (the verify skill expects ENTRY_ROWS here).
  * Pass query names as args to print their formatted plans instead.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-dev")
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
