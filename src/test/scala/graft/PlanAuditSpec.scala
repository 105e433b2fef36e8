package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties QUERIES.md's scale notes claim, so a
  * regression (a filter that stops pushing, a dim that stops
  * broadcasting, a scan that re-widens) fails a spec instead of silently
  * costing a full extra 100 TB scan.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize AQE so the executed plan is the real one
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    p.toString
  }

  /** KEY-shuffle count: the hash exchanges of the plan. */
  private def keyShuffles(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).size

  private def scansOf(name: String): Seq[FileSourceScanExec] = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // query stages hide their children from collect — walk the string for
    // joins, but scans are reachable via collectLeaves on each stage
    def leaves(sp: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      sp.collectLeaves().flatMap {
        case s: FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
        case _ => Nil
      }
    leaves(p)
  }

  test("q1: shipdate range predicate reaches the lineitem parquet scan") {
    val scans = scansOf("q1_agg")
    assert(scans.nonEmpty)
    val li = scans.find(_.tableIdentifier.isEmpty).getOrElse(scans.head)
    assert(li.metadata("PushedFilters").contains("LessThanOrEqual(l_shipdate"),
      s"no pushed shipdate filter: ${li.metadata("PushedFilters")}")
    // projection pruning: only the referenced columns are read
    assert(li.requiredSchema.fieldNames.toSet.subsetOf(Set(
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")),
      s"scan reads too many columns: ${li.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q5: all dimension sides broadcast — no fact-side shuffle join") {
    val plan = planOf("q5_region_revenue")
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!plan.contains("SortMergeJoin"),
      s"dimension join degenerated to a shuffle join:\n${plan.take(600)}")
  }

  test("dedup_exact: document scan pruned to the needed columns") {
    // (the LSH variants cache their self-join side, so their leaves are
    // InMemoryTableScans; dedup_exact reads the file directly)
    val scans = scansOf("dedup_exact")
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.requiredSchema.fieldNames.length <= 3,
        s"dedup scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("j11 NOT EXISTS plans as a broadcast anti join, not a subquery loop") {
    val plan = planOf("j11_not_exists")
    assert(plan.contains("LeftAnti"), s"no anti join:\n${plan.take(400)}")
  }

  test("j15 LATERAL LIMIT decorrelates to a rank-limited window join") {
    val plan = planOf("j15_lateral_topn")
    // WindowGroupLimit = the top-n is bounded BEFORE the window shuffle
    // (partial rank-limit per map task); without it every order row is
    // shuffled and ranked just to keep 2 per customer
    assert(plan.contains("WindowGroupLimit"),
      s"no rank-limit pushdown:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"),
      "lateral degenerated to a per-row cartesian")
  }

  test("win_count_distinct: both windows share one partition exchange") {
    val plan = planOf("win_count_distinct")
    // dense_rank + partition max reuse the event_type hashpartitioning —
    // a second exchange would double the wide stage at scale
    val exchanges = keyShuffles(plan)
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
  }

  test("lifecycle_msg_enrich: both agent-dim joins broadcast, no shuffle join") {
    val plan = planOf("lifecycle_msg_enrich")
    // the enrichment CASE rides two broadcast hash joins of the agents
    // dim; a sort-merge join here would shuffle the full message fact side
    // twice at scale
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected 2 broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "agents-dim join fell back to sort-merge")
  }

  test("corpus_shuffle: position window partitions by shard, never single-partition") {
    val plan = planOf("corpus_shuffle")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in the shuffle plan:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(shard"),
      s"expected shard hashpartitioning before the window:\n$plan")
  }

  test("text_packing: cumulative window is sharded, never single-partition") {
    val plan = planOf("text_packing")
    // the pack must hash-partition by the shard key; Exchange
    // SinglePartition feeding a Window would serialize the whole corpus
    // through one task at scale
    assert(plan.contains("Window"), "expected a Window node")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in the packing plan:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(shard"),
      s"expected shard hashpartitioning before the window:\n$plan")
  }

  test("win_cume_ratio: two-phase form ≡ native cume_dist, fact never windowed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // value equivalence vs the native 3-partition window it replaces
    val li = Tables.load(spark, dir, "lineitem")
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val naive = li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"),
        cume_dist().over(byFlag.orderBy(col("l_quantity"))).as("cume"),
        (col("l_quantity") /
          sum(col("l_quantity").cast("decimal(18,4)")).over(byFlag)
            .cast("double")).as("qty_share"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("cume"), col("qty_share"))
    val twoPhase = SparkEntry.queries("win_cume_ratio")(spark, dir)
    assert(twoPhase.collect().toSeq == naive.collect().toSeq)
    // plan: the fact feeds a broadcast join; only the tiny histogram is
    // windowed (the window sees the post-agg side, not the raw scan)
    val plan = planOf("win_cume_ratio")
    assert(plan.contains("BroadcastHashJoin"),
      s"histogram join fell back to shuffle:\n${plan.take(600)}")
  }

  test("q17: selective-part-first rewrite ≡ the correlated-subquery form") {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("q17s_l")
    Tables.load(spark, dir, "part").createOrReplaceTempView("q17s_p")
    val correlated = spark.sql("""
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) / 7.0
                  AS DOUBLE) AS avg_yearly
      FROM q17s_l l JOIN q17s_p p ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#4'
        AND l_quantity < (
          SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                        / count(*))
          FROM q17s_l l2 WHERE l2.l_partkey = l.l_partkey)""")
    val rewritten = SparkEntry.queries("q17_small_qty_revenue")(spark, dir)
    assert(rewritten.collect().toSeq == correlated.collect().toSeq)
  }

  test("q21: ONE fact pass — lineitem scanned once, sole supplier in-aggregate") {
    // the round-6 rewrite recovers the sole late supplier inside the
    // per-order aggregate; a regression back to the join-flagged-to-
    // perOrder form would scan/shuffle the fact twice
    val scans = scansOf("q21_sole_late_supplier")
    val lineitemScans = scans.count(
      _.metadata("Location").contains("lineitem.parquet"))
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
    val ordersScans = scans.count(
      _.metadata("Location").contains("orders.parquet"))
    assert(ordersScans == 1, s"orders scanned $ordersScans times")
  }

  test("q11: threshold is a broadcast 1-row aggregate, fact aggregated once") {
    val scans = scansOf("q11_value_concentration")
    assert(scans.count(_.metadata("Location").contains("lineitem.parquet")) == 1,
      "value and total must derive from ONE lineitem pass (reused exchange)")
    val plan = planOf("q11_value_concentration")
    // the 1-row total joins via broadcast NLJ — never a driver collect
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"total threshold not broadcast:\n${plan.take(600)}")
  }

  test("bloom_semi_join: might_contain prunes the fact BELOW the semi join") {
    val plan = planOf("bloom_semi_join")
    assert(plan.contains("might_contain"),
      s"bloom predicate missing from the plan:\n${plan.take(600)}")
    // the prune must sit under the join, not above it: in the plan string
    // the Filter carrying might_contain appears after (deeper than) the
    // semi join node
    val joinAt = plan.indexOf("LeftSemi")
    val bloomAt = plan.indexOf("might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      "might_contain filter is not below the semi join")
  }

  test("bloom_anti_join: miss branch bypasses the join; exactly one anti join") {
    // structural claims on the optimized logical plan — AQE stage
    // printing elides join subtrees from the physical string
    val df = SparkEntry.queries("bloom_anti_join")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.toString.contains("might_contain"))
    val joins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }
    assert(joins.count(_.sql == "LEFT ANTI") == 1,
      s"expected exactly one anti join, got $joins")
    val unions = opt.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.size == 1, "miss branch must union in join-free")
  }

  test("text_lm_score: bigram-keyed joins only — corpus never cross-joins") {
    val plan = planOf("text_lm_score")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus self-comparison must stay equi-keyed:\n${plan.take(600)}")
    // documents feed tokens once per branch of the self-aggregation —
    // never more than the 3 declared reads (bigram stream ×2 + doc spine)
    val docScans = scansOf("text_lm_score")
      .count(_.metadata("Location").contains("documents.parquet"))
    assert(docScans <= 3, s"documents scanned $docScans times")
  }

  test("skew_salted_agg: two aggregation phases, partial keyed by salt") {
    val df = SparkEntry.queries("skew_salted_agg")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    val aggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.size
    }
    // partial phase groups on (event_type, __salt); final on event_type
    assert(aggs.contains(2) && aggs.contains(1),
      s"expected salted partial + final agg phases, got groupings $aggs")
  }

  test("skew_salted_join: join key widened to (key, salt) — no broadcast") {
    val df = SparkEntry.queries("skew_salted_join")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    val joinKeys = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.references.map(_.name).toSeq.sorted).getOrElse(Nil)
    }
    assert(joinKeys.exists(_.count(_.startsWith("__salt")) >= 1),
      s"salt column missing from the join condition: $joinKeys")
  }

  test("incremental_agg_merge: delta folds via ONE outer join, no history rescan") {
    val df = SparkEntry.queries("incremental_agg_merge")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    val outer = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType.sql == "FULL OUTER" => j
    }
    assert(outer.size == 1, s"expected exactly one full-outer merge join")
    // both sides arrive pre-aggregated: the join's inputs are aggregates,
    // so the merge shuffles |keys|, never |events|
    val aggsBelowJoin = outer.head.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggsBelowJoin.size == 2,
      s"expected standing+delta aggregates below the merge join, got ${aggsBelowJoin.size}")
  }

  test("sample_reservoir: bounded top-k aggregate, never a row_number window") {
    val plan = planOf("sample_reservoir")
    assert(plan.contains("graft_top_k"), s"expected TopKAgg:\n${plan.take(600)}")
    assert(!plan.contains("Window"),
      s"reservoir degenerated to the full-sort window form:\n${plan.take(600)}")
  }

  test("text_bm25: df/stats broadcast, top-k via the bounded aggregate — no ranking window") {
    // the query now reads the FrontCache-pinned scoring leg (a
    // checkpoint scan — audited in FrontCacheSpec); the plan properties
    // pinned HERE belong to the leg's BUILD, so audit the builder
    val buildPlan = graft.queries.RetrievalQueries.bm25TwoTermScores(
        graft.Tables.load(spark, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text")))
      .queryExecution.executedPlan.toString
    assert(buildPlan.contains("BroadcastHashJoin") ||
      buildPlan.contains("BroadcastNestedLoopJoin"),
      "expected the 2-row df and 1-row stats sides to broadcast")
    assert(!buildPlan.contains("Window"),
      s"BM25 scoring fell back to a window:\n${buildPlan.take(600)}")
    val plan = planOf("text_bm25")
    assert(plan.contains("graft_top_k"), s"expected TopKAgg:\n${plan.take(600)}")
    assert(!plan.contains("Window"),
      s"BM25 ranking fell back to a window:\n${plan.take(600)}")
  }

  test("incremental_join_agg: both delta joins broadcast the delta side") {
    val plan = planOf("incremental_join_agg")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2,
      s"expected the two delta joins to broadcast, saw $broadcasts:\n${plan.take(800)}")
    assert(plan.contains("FullOuter") || plan.contains("full_outer"),
      "expected the standing+delta applyDelta outer-join fold")
  }

  test("text_cdc_chunks: document scan pruned to (doc_id, text)") {
    val scans = scansOf("text_cdc_chunks")
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.requiredSchema.fieldNames.length <= 2,
        s"cdc scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("validate_contracts: referential check is a broadcast anti join, no shuffle join") {
    // the anti join sits inside a nested broadcast query stage whose
    // EXECUTED-plan string no longer surfaces it (exchange reuse
    // re-nested the stages) — audit the planner's formatted plan
    // instead: the dimension side carries an explicit broadcast hint,
    // so the static choice IS the property (AQE cannot demote it)
    val df = SparkEntry.queries("validate_contracts")(spark, dir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"referential rule lost its broadcast anti join:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"),
      s"a contract check degenerated to a shuffle join:\n${plan.take(600)}")
  }

  test("feature_minmax: group stats broadcast back onto the fact") {
    val plan = planOf("feature_minmax")
    assert(plan.contains("BroadcastHashJoin"),
      s"stats side stopped broadcasting:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"), "fact shuffled for the stats join")
  }

  test("graph_triangle_coeff: every triangle join is an equi-join — no cartesian") {
    val plan = planOf("graph_triangle_coeff")
    assert(!plan.contains("CartesianProduct"),
      s"triangle enumeration degenerated to a cartesian:\n${plan.take(600)}")
    // the only nested-loop join allowed is the final 1-row × 1-row cross
    val nl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nl <= 1, s"unexpected nested-loop joins ($nl):\n${plan.take(800)}")
  }

  test("text_phrase_search: both-words prefilter sits BELOW the posting explode") {
    val plan = planOf("text_phrase_search")
    val gen = plan.indexOf("Generate")
    val filt = plan.indexOf("array_contains")
    assert(gen >= 0 && filt >= 0 && gen < filt,
      s"docs lacking a phrase word are exploded anyway:\n${plan.take(800)}")
  }

  test("dedup_time_window: keeper window partitions by the composite key") {
    val plan = planOf("dedup_time_window")
    assert(plan.contains("hashpartitioning(user_id"),
      s"window lost its key partitioning:\n${plan.take(600)}")
  }

  test("layout_zorder_stats: z and bucket are projections — one aggregate shuffle only") {
    val plan = planOf("layout_zorder_stats")
    assert(!plan.contains("Window"),
      s"bucketing degenerated to a window:\n${plan.take(600)}")
    // ONE key shuffle (the bucket aggregate); the only other exchanges
    // are the final ORDER BY range partition and the broadcast of the
    // 1-row bounds
    val nKey = keyShuffles(plan)
    assert(nKey == 1,
      s"expected exactly one key shuffle, saw $nKey:\n${plan.take(800)}")
  }

  test("stats_equidepth_histogram: cum window partitioned by shard — never global") {
    val plan = planOf("stats_equidepth_histogram")
    assert(plan.contains("hashpartitioning(shard"),
      s"prefix-sum window lost its shard partitioning:\n${plan.take(800)}")
    // the only SinglePartition exchanges allowed are the 1-row aggregate
    // combines — a Window fed by one would be the global-sort regression
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0, "expected the within-shard cumsum window")
    val windowBody = plan.substring(winAt, math.min(plan.length, winAt + 400))
    assert(windowBody.contains("windowspecdefinition(shard"),
      s"the cumsum window is not shard-partitioned:\n$windowBody")
  }

  test("embed_quantize_int8: pure projection — no key shuffle at all") {
    val plan = planOf("embed_quantize_int8")
    val nKey = keyShuffles(plan)
    assert(nKey == 0,
      s"quantization gained a shuffle ($nKey):\n${plan.take(800)}")
    assert(!plan.contains("Window"), "quantization gained a window")
  }

  test("ann_recall_eval: both index paths keep the bounded top-k aggregate") {
    val plan = planOf("ann_recall_eval")
    val topk = "graft_top_k".r.findAllIn(plan).size
    assert(topk >= 2,
      s"expected TopKAgg in both the exact and LSH paths, saw $topk")
    assert(!plan.contains("CartesianProduct"),
      "a recall path degenerated to a cartesian")
  }

  test("seq_pattern_match: step filters reach the events scan") {
    val scans = scansOf("seq_pattern_match")
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata("PushedFilters").contains("EqualTo(event_type")),
      s"event_type filters not pushed: ${scans.map(_.metadata("PushedFilters")).mkString(" | ")}")
  }

  test("mine_frequent_pairs: item counts and basket total broadcast onto support") {
    val plan = planOf("mine_frequent_pairs")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2,
      s"expected both item-count joins to broadcast, saw $broadcasts")
    assert(!plan.contains("CartesianProduct"),
      "pair mining degenerated to a cartesian")
  }

  test("table_diff_audit: one co-shuffle — a single outer join, no extra pass") {
    val plan = planOf("table_diff_audit")
    assert(plan.contains("FullOuter") || plan.contains("full_outer"),
      s"diff lost its full-outer classification join:\n${plan.take(600)}")
    val joins = "Join".r.findAllIn(plan).size
    assert(joins <= 2, s"unexpected extra joins ($joins)") // outer + none
  }

  test("markov_transitions: lead window partitioned by user, totals broadcast") {
    val plan = planOf("markov_transitions")
    assert(plan.contains("windowspecdefinition(user_id"),
      s"lead window lost its user partitioning:\n${plan.take(600)}")
    assert(plan.contains("BroadcastHashJoin"), "row totals stopped broadcasting")
  }

  test("geo_grid_join: cell equi-join — never a nested-loop spatial join") {
    val plan = planOf("geo_grid_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"radius join degenerated:\n${plan.take(600)}")
    assert(plan.contains("Generate"),
      "the 3×3 neighborhood explode disappeared — candidates incomplete?")
  }

  test("dedup_chunk_overlap: chunk-hash equi-join, document scan pruned") {
    val plan = planOf("dedup_chunk_overlap")
    assert(!plan.contains("CartesianProduct"),
      "chunk overlap degenerated to doc×doc")
    val scans = scansOf("dedup_chunk_overlap")
    scans.foreach { s =>
      assert(s.requiredSchema.fieldNames.length <= 2,
        s"chunk scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("anomaly_seasonal: baseline broadcast back onto the fact, no shuffle join") {
    val plan = planOf("anomaly_seasonal")
    assert(plan.contains("BroadcastHashJoin"), "baseline stopped broadcasting")
    assert(!plan.contains("SortMergeJoin"), "fact shuffled for the baseline join")
  }

  test("gdpr_cascade_audit: every membership test is a broadcast semi join") {
    val plan = planOf("gdpr_cascade_audit")
    val semis = "LeftSemi".r.findAllIn(plan).size
    assert(semis >= 2, s"expected the order/lineitem semi joins, saw $semis")
    assert(!plan.contains("SortMergeJoin"),
      "a fact table shuffled for a victim-set membership test")
  }

  test("dedup_incremental_batch: standing check is an anti join — text never re-read") {
    val plan = planOf("dedup_incremental_batch")
    assert(plan.contains("LeftAnti"), "standing-fingerprint anti join missing")
    assert(!plan.contains("SortMergeJoin"),
      "fingerprint check degenerated to a shuffle join")
  }

  test("s18_named_window: three functions share ONE window pass") {
    val plan = planOf("s18_named_window")
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows == 1,
      s"named window expanded to $windows Window operators:\n${plan.take(600)}")
  }

  test("text_tokens_bpe: pruned two-column scan, BPE count inside codegen, no join") {
    val scans = scansOf("text_tokens_bpe")
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      s"scan reads ${scans.head.requiredSchema.fieldNames.mkString(",")}")
    val plan = planOf("text_tokens_bpe")
    assert(plan.contains("bpecounttokens") || plan.contains("BpeCountTokens") ||
      plan.contains("WholeStageCodegen"), s"plan:\n${plan.take(400)}")
    assert(!plan.contains("Join"), "per-row projection must not join")
  }

  test("bpe_token_freq: map-side partial aggregate before the one count shuffle") {
    val plan = planOf("bpe_token_freq")
    // partial + final HashAggregate pair around exactly one exchange
    // (plus the TakeOrderedAndProject for the top-20) — the explode must
    // not shuffle raw tokens unaggregated
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final aggregates:\n${plan.take(600)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must be a bounded TakeOrdered, not a global sort")
  }

  test("text_packing_bpe: cumulative window partitioned by shard — never global") {
    val plan = planOf("text_packing_bpe")
    assert("windowspecdefinition\\(shard".r.findFirstIn(plan).isDefined,
      s"window lost its shard partitioning (a global window serializes " +
        s"the corpus through one task):\n${plan.take(800)}")
  }

  test("pack_fingerprint: shard-partitioned window, no extra corpus pass") {
    val plan = planOf("pack_fingerprint")
    assert("windowspecdefinition\\(shard".r.findFirstIn(plan).isDefined,
      s"window lost its shard partitioning:\n${plan.take(800)}")
    // the per-doc ids hash is computed once in the projection — joining
    // the corpus back to itself would show as a Join
    assert(!plan.contains("Join"), s"unexpected join:\n${plan.take(600)}")
  }

  test("mixture_sample: ONE corpus scan (no double BPE pass), weights broadcast") {
    val plan = planOf("mixture_sample")
    assert(plan.contains("BroadcastHashJoin"),
      s"weights must broadcast, not shuffle the docs:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n${plan.take(600)}")
    // per-domain totals ride a window over the already-computed per-doc
    // counts — re-deriving them from a second scan would re-run the
    // expensive BPE encode over the whole corpus
    val scans = scansOf("mixture_sample")
    assert(scans.length == 1,
      s"expected one documents scan, saw ${scans.length}")
  }

  test("j7_similarity_top1_blocked: equi-joins only, no cartesian, no window top-1") {
    // the large-gazetteer scale path: candidates via the gram inverted
    // index (plain hash equi-joins — a tiny ref side MAY broadcast, the
    // algorithm just never REQUIRES it), top-1 via the bounded
    // min(struct) aggregate — never the |inputs| x |ref| nested loop the
    // broadcast formulation uses, and never a row_number window sort
    val plan = planOf("j7_similarity_top1_blocked")
    assert(!plan.contains("CartesianProduct"),
      s"blocked path degenerated to a cartesian:\n${plan.take(600)}")
    // exactly ONE nested-loop is by design: the |distinct n| replicate
    // (crossJoin(broadcast(ns)) — a handful of rows); a second would mean
    // the |inputs| x |ref| scoring loop came back
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"blocked path scored via a nested loop:\n${plan.take(800)}")
    assert(!plan.contains("Window"),
      s"top-1 fell back to a window sort:\n${plan.take(600)}")
  }

  test("text_winnowing: one narrow projection — no join, no aggregate, 2-column scan") {
    val plan = planOf("text_winnowing")
    assert(!plan.contains("Join"), s"unexpected join:\n${plan.take(600)}")
    assert(!plan.contains("HashAggregate"),
      s"unexpected aggregate:\n${plan.take(600)}")
    val scans = scansOf("text_winnowing")
    assert(scans.nonEmpty && scans.forall(_.requiredSchema.fieldNames.length <= 2),
      s"scan reads ${scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
  }

  test("sample_cluster_balanced: quota via bounded TopKAgg, never a per-cell window sort") {
    val plan = planOf("sample_cluster_balanced")
    assert(!plan.contains("Window"),
      s"quota selection fell back to a window sort:\n${plan.take(600)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell sizes must broadcast:\n${plan.take(600)}")
  }

  test("er_entity_resolution: blocked pairs are an equi-join, never all-pairs") {
    val plan = planOf("er_entity_resolution")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking degenerated to all-pairs:\n${plan.take(600)}")
  }

  test("ann_topk_sq: queries broadcast once, corpus scan pruned, top-k never a window") {
    val plan = planOf("ann_topk_sq")
    // ONE nested loop by design: the broadcast query side vs the
    // streamed quantized corpus (same shape as ann_topk_bruteforce)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1,
      s"expected exactly one broadcast nested loop:\n${plan.take(800)}")
    assert(!plan.contains("Window"),
      s"top-k fell back to a window sort:\n${plan.take(600)}")
    val scans = scansOf("ann_topk_sq")
    assert(scans.forall(_.requiredSchema.fieldNames.length <= 2),
      s"scan reads ${scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
  }

  test("drift queries: narrow scans — TV reads (ts, event_type), KS reads (event_id, value)") {
    val tvScans = scansOf("drift_tv_weekly")
    assert(tvScans.nonEmpty && tvScans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(
        Set("ts", "event_type"))),
      s"tv scan reads ${tvScans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
    val ksScans = scansOf("drift_ks_value")
    assert(ksScans.nonEmpty && ksScans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("event_id", "value"))),
      s"ks scan reads ${ksScans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
    // the KS cumsum window must run on the DISTINCT-BIN table (post-agg),
    // never on raw rows: the plan has an aggregate BELOW the window
    val plan = planOf("drift_ks_value")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 &&
      plan.indexOf("HashAggregate", winIdx) > winIdx,
      s"window not above the bin aggregate:\n${plan.take(800)}")
  }

  test("drift_source_lang_tv: one fact aggregation, grid sides broadcast, 2-column scan") {
    val plan = planOf("drift_source_lang_tv")
    assert(!plan.contains("SortMergeJoin"),
      s"grid joins must broadcast, not shuffle:\n${plan.take(800)}")
    val scans = scansOf("drift_source_lang_tv")
    assert(scans.nonEmpty && scans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(
        Set("source", "lang"))),
      s"scan reads ${scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
  }

  test("vocab_growth: scan reads (doc_id, text); cumsum above the first-seen aggregate") {
    val scans = scansOf("vocab_growth")
    assert(scans.nonEmpty && scans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("doc_id", "text"))),
      s"scan reads ${scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
    val plan = planOf("vocab_growth")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.indexOf("HashAggregate", winIdx) > winIdx,
      s"window not above the batch aggregate:\n${plan.take(800)}")
  }

  // --- bounded-window family: every PARTITION-LESS window (a
  // single-partition sort at execution) must take its input from a
  // GROUPED aggregate, so its cardinality is the grouping-key domain
  // (value bins, distinct doc lengths, top-k candidates), never the row
  // count. These executed-plan walks turn the "bounded by construction"
  // comments into failing specs.

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case o => o.children
    }
    p +: kids.flatMap(allNodes)
  }

  private def executedOf(name: String): org.apache.spark.sql.execution.SparkPlan = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan
  }

  private def windowsOf(name: String) = allNodes(executedOf(name)).collect {
    case w: org.apache.spark.sql.execution.window.WindowExec => w
  }

  private def assertPartitionlessWindowsPostAggregate(name: String): Unit = {
    val wins = windowsOf(name)
    assert(wins.nonEmpty, s"$name: no WindowExec found — audit is vacuous")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val agg = allNodes(w.child).exists {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.nonEmpty
        case _ => false
      }
      assert(agg, s"$name: partition-less window input is NOT a grouped " +
        s"aggregate — its sort scales with row count:\n${w.child.toString.take(600)}")
    }
  }

  test("drift_ks_value + drift_decile_bounds: cumulative windows run on the bin grid, post-aggregate") {
    assertPartitionlessWindowsPostAggregate("drift_ks_value")
    assertPartitionlessWindowsPostAggregate("drift_decile_bounds")
  }

  test("stats_gini_doclen + stats_lorenz_doclen: rank windows run on the count-of-counts grid, post-aggregate") {
    assertPartitionlessWindowsPostAggregate("stats_gini_doclen")
    assertPartitionlessWindowsPostAggregate("stats_lorenz_doclen")
  }

  test("retrieval_rrf_fusion + retrieval_prf_expansion: ranking windows see only aggregated top-k candidates") {
    assertPartitionlessWindowsPostAggregate("retrieval_rrf_fusion")
    assertPartitionlessWindowsPostAggregate("retrieval_prf_expansion")
  }

  test("rfm_segments: NO partition-less window — quartiles come from the sharded ntile") {
    // the sharded ntile's own per-partition windows live BEHIND its
    // localCheckpoints (GlobalRankSpec pins that internal shape); the
    // final plan must show no global window at any point
    val unpartitioned = windowsOf("rfm_segments").filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      s"rfm quartile assignment regressed to a global window:\n${unpartitioned.headOption.map(_.toString.take(400))}")
  }

  test("dedup_substring_suffix: equi-joins only — no cartesian, no nested loop, no partition-less window") {
    val plan = planOf("dedup_substring_suffix")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-doubling degenerated to all-pairs:\n${plan.take(800)}")
    val unpartitioned = windowsOf("dedup_substring_suffix").filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      "suffix dedup must only use per-doc (gaps-and-islands) and per-range-partition windows")
  }

  test("decontamination_suffix: equi-joins only — no cartesian, no nested loop, no partition-less window") {
    // the eval-key semi-join must stay an equi-join (the benchmark side
    // is the small side and broadcasts); the lead()-pairing windows are
    // all per-doc or per-range-partition
    val plan = planOf("decontamination_suffix")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination degenerated to all-pairs:\n${plan.take(800)}")
    val unpartitioned = windowsOf("decontamination_suffix").filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      "decontamination must only use per-doc and per-range-partition windows")
  }

  test("dedup_embedding_lsh: bucket equi-join, never all-pairs, 2-column scan") {
    // the hyperplane-LSH scale path must pair rows ONLY through the
    // bucket equi-join — a cartesian or nested loop means the blocking
    // collapsed and the O(N²) exact baseline came back under a new name
    val plan = planOf("dedup_embedding_lsh")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH blocking degenerated to all-pairs:\n${plan.take(800)}")
    val scans = scansOf("dedup_embedding_lsh")
    assert(scans.forall(_.requiredSchema.fieldNames.length <= 2),
      s"scan reads ${scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}")
  }
}
