package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FrontCache, SuffixDedup}

/** FrontCache laws (round-13 ask #3's "done" criteria): consumers after
  * the first share ONE pinned front — their plans carry no second
  * prefix-doubling chain — and every head derived from the cached front
  * stays row-identical to its from-scratch computation.
  */
class FrontCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "src0", "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "src1", "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "src1", "completely unrelated text with no overlap whatsoever in this row"),
    (4L, "src2", "the quick brown fox jumps over the lazy dog again and again today ok")
  ).toDF("doc_id", "source", "text")

  test("second consumer reads the pinned front: no prefix-doubling in its plan, rows identical") {
    FrontCache.clear()
    val key = "spec-front:decontam:L=12"
    def build() = SuffixDedup.contaminationSpans(docs, "doc_id", "text",
      col("source") === "src0", 12)
    val first = FrontCache.getOrCompute(spark, key)(build())
    val fromScratch = build().collect().map(_.toSeq).toSet
    assert(fromScratch.nonEmpty, "fixture must contain contamination")
    assert(first.collect().map(_.toSeq).toSet == fromScratch)

    // a second request must NOT rebuild: the returned frame's plan is a
    // checkpoint scan — no Window (the prefix-doubling lead() pairing),
    // no Join (the densify/eval semi-joins), no Exchange
    var rebuilt = false
    val second = FrontCache.getOrCompute(spark, key) { rebuilt = true; build() }
    assert(!rebuilt, "cached front must not recompute")
    val plan = second.queryExecution.executedPlan.toString
    for (marker <- Seq("Window", "Join", "Exchange"))
      assert(!plan.contains(marker),
        s"cached front must be a pinned scan, found $marker:\n$plan")
    assert(second.collect().map(_.toSeq).toSet == fromScratch)
  }

  test("keys isolate corpora and parameters; clear() releases") {
    FrontCache.clear()
    var builds = 0
    def get(key: String) = FrontCache.getOrCompute(spark, key) {
      builds += 1
      docs.select(col("doc_id"))
    }
    get("a"); get("a"); get("b")
    assert(builds == 2, "distinct keys must build independently")
    FrontCache.clear()
    get("a")
    assert(builds == 3, "clear() must drop pinned fronts")
  }

  test("clear unpersists the checkpoint blocks it drops") {
    FrontCache.clear()
    // the context tracks persisted RDDs weakly, so RDDs of earlier specs
    // may vanish at any GC: count only the ones pinned since `before`
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def pinned = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    def build(key: String) =
      FrontCache.getOrCompute(spark, key)(docs.select(col("doc_id"))).count()
    build("spec-release:a"); build("spec-release:b")
    assert(pinned == 2, "each built front pins one checkpointed RDD")
    FrontCache.clear()
    assert(pinned == 0, "clear must unpersist every dropped front")
  }

  test("bundle heads from the cached front match the standalone queries row-for-row") {
    FrontCache.clear()
    val spansCached = FrontCache.getOrCompute(spark, "spec-front:bundle")(
      SuffixDedup.contaminationSpans(docs, "doc_id", "text",
        col("source") === "src0", 12))
    val viaCache = SuffixDedup.decontaminateFromSpans(spansCached, docs,
      "doc_id", "text", "source", col("source") === "src0")
    val direct = SuffixDedup.decontaminate(docs, "doc_id", "text", "source",
      col("source") === "src0", 12)
    for ((a, b) <- Seq(viaCache.removal -> direct.removal,
                       viaCache.rates -> direct.rates))
      assert(a.collect().map(_.toSeq).toSeq == b.collect().map(_.toSeq).toSeq)
  }
}
