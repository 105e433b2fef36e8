package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{FrontCache, FrontStore}

/** Per-corpus fronts shared across query families through
  * [[FrontCache]] (the suffix-front pattern, round-13 ask #3 applied to
  * the other expensive rebuild): an edge list is a corpus artifact — a
  * real analytics run materializes it once and every graph algorithm
  * reads the pinned frame. `graph_triangle_coeff` and `graph_bfs_reach`
  * consume the SAME capped part co-purchase pair set; `graph_pagerank`'s
  * customer↔supplier build was profiled (round 10) as that query's cost
  * floor. Oracle contracts unchanged — the pinned values are the exact
  * frames the standalone builds produce.
  */
object CorpusFronts {

  /** Distinct part co-purchase pairs (u < v) over orders capped at
    * orderkey ≤ 6000 — the shared input of the triangle and BFS queries.
    */
  def partCoPurchase(s: SparkSession, dir: String): DataFrame =
    FrontStore.frame(s, s"copurchase-part:$dir:cap=6000", dir) {
      val li = Tables.load(s, dir, "lineitem")
        .where(col("l_orderkey") <= 6000)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .distinct()
    }

  /** Distinct (customer, supplier+10⁶) co-purchase pairs over the full
    * lineitem⋈orders join — `graph_pagerank`'s bipartite graph.
    */
  def custSuppPairs(s: SparkSession, dir: String): DataFrame =
    FrontStore.frame(s, s"copurchase-cs:$dir", dir) {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000L).as("sn")).distinct()
    }

  /** The shared IVF index over the corpus embeddings (k-means‖ init,
    * `iters = 0` — the form three queries train identically): a trained
    * ANN index is THE canonical per-corpus serving artifact — train
    * once, serve every probe. Driver-side value, deterministic build.
    */
  def ivfIndex(s: SparkSession, dir: String,
               nlist: Int): graft.operators.Ann.IvfIndex =
    FrontStore.value(s, s"ivf-index:$dir:nlist=$nlist:iters=0", dir)(
      graft.operators.Ann.ivfTrain(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", nlist = nlist, iters = 0))

  /** The shared PQ codebooks (the compressor that fits a 100 TB vector
    * index in executor memory) — same train-once contract.
    */
  def pqIndex(s: SparkSession, dir: String, m: Int,
              ksub: Int): graft.operators.Ann.PqIndex =
    FrontStore.value(s, s"pq-index:$dir:m=$m:ksub=$ksub:iters=0", dir)(
      graft.operators.Ann.pqTrain(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", m = m, ksub = ksub, iters = 0))

  /** One cold registry build: `build` leaves the front PINNED, so the
    * head queries timed after it read steady state.
    */
  final case class FrontBuild(name: String,
                              build: (SparkSession, String) => Unit)

  /** The per-corpus fronts the bench times as FIRST-CLASS entries: the
    * registry moved the build cost out of every head query's figure —
    * correct for per-head tracking, but the builds themselves (the most
    * expensive computations in the suite: the prefix-doubling suffix
    * fronts, the graph edge sets, the BM25 sparse leg, ANN training)
    * would otherwise have no figure of their own. `graft.Bench`
    * cold-builds each of these in this order (FrontCache cleared first)
    * before its first pass and reports them as `front_*` rows.
    *
    * getOrCompute's `localCheckpoint` is eager, so touching each
    * accessor IS the materialized build; the two index trainers are
    * driver-side values whose builds collect bounded samples.
    */
  def benchFronts: Seq[FrontBuild] = Seq(
    // the shared suffix-label base is a row of its own, built before the
    // three fronts that derive from it: each of their rows measures only
    // its own derivation, and the base's cost has a figure of its own
    FrontBuild("front_suffix_base", (s, d) => { CurationWave4Queries.suffixBase(s, d); () }),
    FrontBuild("front_dup_spans", (s, d) => { CurationWave4Queries.dupSpans(s, d); () }),
    FrontBuild("front_decontam_spans", (s, d) => { CurationWave4Queries.decontamSpans(s, d); () }),
    FrontBuild("front_suffix_ranks", (s, d) => { CurationWave4Queries.suffixRanksFront(s, d); () }),
    FrontBuild("front_copurchase", (s, d) => { partCoPurchase(s, d); () }),
    FrontBuild("front_cs_pairs", (s, d) => { custSuppPairs(s, d); () }),
    FrontBuild("front_bm25", (s, d) => { RetrievalQueries.bm25ScoresCached(s, d); () }),
    FrontBuild("front_ivf", (s, d) => { ivfIndex(s, d, nlist = 8); () }),
    FrontBuild("front_pq", (s, d) => { pqIndex(s, d, m = 4, ksub = 8); () }))
}
