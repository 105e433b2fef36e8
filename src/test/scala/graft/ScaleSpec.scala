package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Runtime re-planning mechanisms the 100 TB story leans on, asserted
  * against the real physical plans:
  *
  * - AQE skew-join: a hot key on the build side is split into multiple
  *   tasks at runtime (isSkewJoin) instead of one straggler task holding
  *   the whole stage.
  * - Runtime bloom-filter injection: a selective filter on the dim side
  *   of a shuffle join plants a BloomFilterMightContain probe on the fact
  *   scan, cutting shuffled fact rows before the exchange.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // 1 key carries ~200k rows, the rest ~1 each: a classic hot partition.
    val fact = spark.range(0, 220000)
      .select(when(col("id") < 200000, 7L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val dim = spark.range(0, 20000).select(col("id").as("k"), (col("id") % 5).as("tag"))
    val joined = fact.join(dim, "k")
    val plan = withSkewConfigs {
      finalPlan(joined)
    }
    // assert on the tree string: the join sits inside materialized query
    // stages, which plan.collect does not descend into
    val tree = plan.treeString
    assert(tree.contains("SortMergeJoin"),
      s"expected sort-merge join, got:\n${tree.take(600)}")
    assert(tree.contains("skew=true") || tree.contains("isSkewJoin=true"),
      s"AQE did not mark the join skewed:\n${tree.take(800)}")
    assert(tree.contains("skewed"), // AQEShuffleRead shows "coalesced and skewed"
      s"no skewed shuffle read:\n${tree.take(800)}")
  }

  private def withSkewConfigs[T](body: => T): T = {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> conf.getOption("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" -> conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold"))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // local-scale thresholds so a ~MB hot partition counts as skewed
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // force shuffle joins — a broadcast would hide the skew machinery
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("runtime bloom filter from selective dim filter prunes fact side") {
    val dir = Files.createTempDirectory("graft_bloom").toString
    spark.range(0, 100000)
      .select((col("id") % 1000).as("fk"), col("id").as("v"))
      .write.mode("overwrite").parquet(s"$dir/fact")
    spark.range(0, 1000)
      .select(col("id").as("dk"), when(col("id") === 7, "hot").otherwise("cold").as("tag"))
      .write.mode("overwrite").parquet(s"$dir/dim")

    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> conf.getOption("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" -> conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // broadcast join would use its own DPP-ish path
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").where(col("tag") === "hot")
      val q = fact.join(dim, col("fk") === col("dk")).select(col("fk"), col("v"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no bloom filter injected:\n${optimized.take(800)}")
      assert(q.count() == 100) // 100000 / 1000 keys → 100 rows for dk=7
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
