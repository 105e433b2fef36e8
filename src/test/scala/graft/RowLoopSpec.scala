package graft

import org.scalatest.funsuite.AnyFunSuite

/** The row loops of `Verify` and `Bench` turn a query's non-fatal error
  * into an error row that names its class and message, and let a fatal
  * one escape.
  */
class RowLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("a query's non-fatal error becomes a row with its class and message; a fatal error escapes") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    val fails: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalArgumentException("bad input")
    val ok: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(3).toDF()
    assert(Verify.writeResults(spark, "", out, Seq("fails" -> fails, "ok" -> ok)) ==
      Seq("[verify] fails failed: java.lang.IllegalArgumentException: bad input"))
    assert(spark.read.parquet(s"$out/ok").count() == 3)
    val row = Bench.timed("fails")(throw new IllegalArgumentException("bad input"))
    assert(row.seconds.isEmpty &&
      row.error.contains("java.lang.IllegalArgumentException: bad input"))

    val fatal: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new NoClassDefFoundError("graft/Missing")
    intercept[NoClassDefFoundError](Verify.writeResults(spark, "", out, Seq("fatal" -> fatal)))
    intercept[NoClassDefFoundError](Bench.timed("fatal")(fatal(spark, "")))
  }
}
