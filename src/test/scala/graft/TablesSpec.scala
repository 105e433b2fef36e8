package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The loader contract of [[Tables]]: a load runs no Spark job, pins the
  * schema per file identity (so a rewritten file is never served a stale
  * schema), and leaves the session conf as it found it.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def tempDir(): String =
    Files.createTempDirectory("graft_tables").toString

  test("a load launches no Spark job, the first one included") {
    val tmp = tempDir()
    Files.copy(Paths.get(dir, "orders.parquet"), Paths.get(tmp, "orders.parquet"))
    val n = SparkTestBase.jobsDuring {
      val first = Tables.load(spark, tmp, "orders")
      val second = Tables.load(spark, tmp, "orders")
      assert(first.schema == second.schema && first.schema.nonEmpty)
      second.queryExecution.analyzed
    }
    assert(n == 0, s"loading a table twice launched $n jobs, expected 0")
  }

  test("a file rewritten under the same path is read with its new schema") {
    import spark.implicits._
    val tmp = tempDir()
    val file = Paths.get(tmp, "region.parquet")
    Files.copy(Paths.get(dir, "region.parquet"), file)
    assert(Tables.load(spark, tmp, "region").columns.contains("r_regionkey"))
    Files.copy(Paths.get(dir, "nation.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
    val swapped = Tables.load(spark, tmp, "region")
    assert(swapped.columns.contains("n_nationkey") && !swapped.columns.contains("r_regionkey"),
      s"stale schema after the rewrite: ${swapped.columns.mkString(",")}")
    assert(swapped.count() == spark.read.parquet(s"$dir/nation.parquet").count())

    // a Spark-written table is a directory of part files; overwriting it
    // changes the files, and with them the pinned schema
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$tmp/part.parquet")
    assert(Tables.load(spark, tmp, "part").schema.map(_.dataType) == Seq(LongType, StringType))
    Seq(("x", 2L, 3L)).toDF("s", "k", "n").write.mode("overwrite").parquet(s"$tmp/part.parquet")
    val over = Tables.load(spark, tmp, "part")
    assert(over.columns.toSeq == Seq("s", "k", "n"))
    assert(over.collect().map(_.toSeq).toSeq == Seq(Seq("x", 2L, 3L)))
  }

  test("only a scan of few, large row groups is spread") {
    def spread(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString.contains("RepartitionByExpression")
    // the largest sf0.01 row group (lineitem, 1.24 MB) scans as one task
    Seq("lineitem", "documents", "events").foreach(n =>
      assert(!spread(Tables.load(spark, "/root/testdata/sf0.01", n)), n))
    // one ~2.4 MB row group: hash-spread on its leading column
    val tmp = tempDir()
    spark.range(0, 300000, 1, 1).selectExpr("id AS k", "id * 7 AS v")
      .write.parquet(s"$tmp/big.parquet")
    val big = Tables.load(spark, tmp, "big")
    assert(spread(big) && big.queryExecution.optimizedPlan.toString.contains("xxhash64(k"))
    assert(big.where("k < 10").count() == 10)
  }

  test("loading events writes no session conf") {
    val before = spark.conf.getAll
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.where("ts >= timestamp'2024-01-10 00:00:00'").count() > 0)
    assert(spark.conf.getAll == before,
      s"session conf changed: ${(spark.conf.getAll.toSet diff before.toSet).mkString(", ")}")
  }

  test("NANOS events: ts converts by truncating div, with no session conf written") {
    // Spark cannot write parquet TIMESTAMP(NANOS); the fixture is a
    // pyarrow file with sub-microsecond remainders on every row
    val fx = Paths.get(getClass.getResource("/graft/events_nanos").toURI).toString
    val before = spark.conf.getAll
    val ev = Tables.load(spark, fx, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val base = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val got = ev.orderBy("event_id").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).toInstant).toSeq
    assert(got.size == 24)
    got.foreach { case (i, ts) =>
      val ns = i * 3600L * 1000000000L + (i * 7919) % 1000
      assert(ts == base.plusNanos(ns / 1000 * 1000), s"event $i: $ts")
    }
    assert(spark.conf.getAll == before,
      s"session conf changed: ${(spark.conf.getAll.toSet diff before.toSet).mkString(", ")}")
  }
}
