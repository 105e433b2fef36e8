package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Ann, SuffixDedup}

/** Round-10 curation wave: suffix-ranking substring dedup (the Lee et al.
  * 2021 "all maximal duplicate spans ≥ L tokens" standard, replacing the
  * fixed-L gram-key approximation's boolean per-doc flag with exact span
  * boundaries), computed by prefix doubling over equi-joins — see
  * [[graft.operators.SuffixDedup]] for the plan-shape and 100 TB argument.
  */
object CurationWave4Queries {

  private def t(name: String) = (s: org.apache.spark.sql.SparkSession, dir: String) =>
    Tables.load(s, dir, name)

  /** Span window length in tokens (Lee et al. use 50 BPE tokens at web
    * scale; 8 word-tokens matches `dedup_substring_exact`'s gram size so
    * the two operators adjudicate the same duplicates on this corpus).
    */
  private val SpanL = 8

  /** Decontamination overlap threshold: LONGER than the fixed-8-gram
    * `decontamination` query's window — the policy knob the suffix form
    * exists for (any L without re-materializing grams).
    */
  private val DecontamL = 12

  /** The SHARED suffix-label base for this corpus (round-16: the common
    * prefix — one tokenize, one token-id densify, one first-round
    * densify — that all three suffix fronts below previously rebuilt
    * independently; see [[SuffixDedup.LabelBase]]). Session-pinned
    * through [[graft.operators.FrontCache]] under its own key, so the
    * FIRST front build of a session pays it and the other two derive;
    * the bench times it as its own `front_suffix_base` row, built before
    * the three fronts, so each front's row is its OWN derivation. The
    * key carries the sf directory; a persistent
    * [[graft.operators.FrontStore]] never stores the base — it stores
    * the three derived fronts, which is strictly smaller and already
    * proven row-stable.
    */
  private[graft] def suffixBase(s: org.apache.spark.sql.SparkSession,
                                dir: String): SuffixDedup.LabelBase =
    graft.operators.FrontCache.getOrComputeValue(s, s"suffix-base:$dir")(
      SuffixDedup.labelBase(
        SuffixDedup.tokenize(t("documents")(s, dir), "doc_id", "text")))

  /** The decontamination span front, computed ONCE per (session, corpus
    * version) and pinned through [[graft.operators.FrontCache]] — the
    * round-13 VERDICT ask #3: the four decontamination queries are heads
    * over one front, exactly like a real curation run; previously each
    * paid the full O(corpus·log L) prefix-doubling pipeline. The cache
    * key carries the sf directory and L, so a different corpus or policy
    * knob never reads a stale front; values are checkpoint-pinned, so
    * every head sees the same dense-label assignment. Heads re-sort —
    * checkpointed block order is not an output contract.
    */
  private[graft] def decontamSpans(s: org.apache.spark.sql.SparkSession,
                            dir: String) =
    graft.operators.FrontStore.frame(s,
      s"decontam-spans:$dir:L=$DecontamL", dir)(
      SuffixDedup.contaminationSpansFromBase(suffixBase(s, dir),
        t("documents")(s, dir), "doc_id", col("source") === "src0",
        DecontamL))

  /** The suffix-rank front of `suffix_array_topk` — the per-corpus
    * suffix array, registry-pinned like [[decontamSpans]] (and timed as
    * a first-class `front_*` bench entry through
    * [[CorpusFronts.benchFronts]]). Continues the doubling chain from
    * the shared [[suffixBase]] (bit-identical labels — the base IS the
    * chain's first round).
    */
  private[graft] def suffixRanksFront(s: org.apache.spark.sql.SparkSession,
                                      dir: String) =
    graft.operators.FrontStore.frame(s, s"suffix-ranks:$dir", dir)(
      SuffixDedup.suffixRanksFromBase(suffixBase(s, dir)))

  /** The duplicate-span front (corpus-wide maximal duplicate spans at
    * [[SpanL]]) shared by `dedup_substring_suffix` / `_removal` /
    * `dup_span_length_hist` — same registry contract as
    * [[decontamSpans]].
    */
  private[graft] def dupSpans(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.FrontStore.frame(s, s"dup-spans:$dir:L=$SpanL", dir)(
      SuffixDedup.maximalDuplicateSpansFromBase(suffixBase(s, dir), SpanL))

  /** Shared oracle CTE chain for the decontamination family: materialized
    * 12-gram cross-source overlap → covered positions → gaps-and-islands
    * merged `spans(doc_id, span_start, span_end, span_len)`. One source
    * of truth for `decontamination_suffix` and its removal/rate heads.
    */
  private def decontamSpanCtes: String = s"""tk AS (SELECT doc_id, source, ${Sql.tokens("text")} AS ts
                  FROM documents),
      g AS (SELECT doc_id, source,
                   unnest(generate_series(1, greatest(len(ts) - ${DecontamL - 1}, 0)))
                     AS pos,
                   unnest(list_transform(
                     generate_series(1, greatest(len(ts) - ${DecontamL - 1}, 0)),
                     i -> array_to_string(ts[i:i+${DecontamL - 1}], ' '))) AS gram
            FROM tk),
      ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
      cov AS (SELECT doc_id, pos FROM g
              WHERE source <> 'src0' AND gram IN (SELECT gram FROM ev)),
      isl AS (SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            IS NULL
                          OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) > $DecontamL
                          THEN 1 ELSE 0 END AS brk
              FROM cov),
      is2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM isl),
      spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                       CAST(max(pos) + ${DecontamL - 1} AS BIGINT) AS span_end,
                       CAST(max(pos) + $DecontamL - min(pos) AS BIGINT) AS span_len
                FROM is2 GROUP BY doc_id, island)"""

  val defs: Seq[QueryDef] = Seq(

    // Suffix-window benchmark decontamination (round-12): maximal spans
    // (≥ 12 tokens) of TRAINING docs (source ≠ src0) whose token windows
    // also occur in the held-out eval source — the exact-extent form of
    // the boolean 8-gram `decontamination` and the approximate
    // `decontamination_fuzzy`. Engine: prefix-doubling window keys + a
    // distinct over the eval side's keys + one semi-join (eval benchmarks
    // broadcast at scale), then the gaps-and-islands span merge. Oracle:
    // materialized 12-gram strings, the affordable sf0.01 form — label
    // equality is exact, so both define the same covered set.
    QueryDef("decontamination_suffix", (s, dir) =>
      decontamSpans(s, dir).orderBy(col("doc_id"), col("span_start"))
    , Some(s"""
      WITH $decontamSpanCtes
      SELECT doc_id, span_start, span_end, span_len
      FROM spans ORDER BY doc_id, span_start""")),

    // Decontamination APPLY step (round-12): per TRAINING doc, tokens
    // before/after cutting the contaminated spans — what a curation run
    // actually ships downstream of decontamination_suffix. Maximal
    // spans are disjoint by construction, so contaminated = Σ span_len
    // exactly; one grouped agg + a left join onto per-doc token counts.
    QueryDef("decontamination_suffix_removal", (s, dir) => {
      val docs = t("documents")(s, dir)
      val spans = decontamSpans(s, dir)
      val per = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_len")).as("removed"))
      docs.where(col("source") =!= "src0")
        .select(col("doc_id"),
          size(graft.functions.TextAnalysisFns.tokens(col("text")))
            .cast("long").as("n_tokens"))
        .join(per, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("removed"), lit(0L)).as("contaminated_tokens"),
          (col("n_tokens") - coalesce(col("removed"), lit(0L)))
            .as("retained_tokens"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $decontamSpanCtes,
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(span_len) AS BIGINT) AS removed
              FROM spans GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
             coalesce(per.n_spans, 0) AS n_spans,
             coalesce(per.removed, 0) AS contaminated_tokens,
             CAST(len(t.ts) - coalesce(per.removed, 0) AS BIGINT)
               AS retained_tokens
      FROM tk t LEFT JOIN per USING (doc_id)
      WHERE t.source <> 'src0' ORDER BY t.doc_id""")),

    // Contamination monitoring head: per training source, the share of
    // docs and of tokens overlapping the eval benchmark — the dashboard
    // number a data-governance pass tracks per feed. Integer counts to
    // two final double divisions (portable-exact).
    QueryDef("contamination_rate_by_source", (s, dir) => {
      val docs = t("documents")(s, dir)
      val spans = decontamSpans(s, dir)
      val per = spans.groupBy(col("doc_id"))
        .agg(sum(col("span_len")).as("removed"))
      docs.where(col("source") =!= "src0")
        .select(col("doc_id"), col("source"),
          size(graft.functions.TextAnalysisFns.tokens(col("text")))
            .cast("long").as("n_toks"))
        .join(per, Seq("doc_id"), "left_outer")
        .select(col("source"), col("n_toks"),
          coalesce(col("removed"), lit(0L)).as("rem"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rem") > 0, 1L).otherwise(0L)).as("contaminated_docs"),
          sum(col("rem")).as("__rt"), sum(col("n_toks")).as("__tt"))
        .select(col("source"), col("n_docs"), col("contaminated_docs"),
          (col("contaminated_docs").cast("double") /
            col("n_docs").cast("double")).as("doc_rate"),
          (col("__rt").cast("double") / col("__tt").cast("double"))
            .as("token_share"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH $decontamSpanCtes,
      per AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS removed
              FROM spans GROUP BY doc_id),
      d AS (SELECT t.doc_id, t.source, CAST(len(t.ts) AS BIGINT) AS n_toks,
                   coalesce(per.removed, 0) AS rem
            FROM tk t LEFT JOIN per USING (doc_id)
            WHERE t.source <> 'src0')
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN rem > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS contaminated_docs,
             CAST(sum(CASE WHEN rem > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS doc_rate,
             CAST(sum(rem) AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE)
               AS token_share
      FROM d GROUP BY source ORDER BY source""")),

    // Composed decontamination run (round-13, VERDICT r12 ask #5): ONE
    // suffix front feeds every head. The three standalone queries each
    // pay the full prefix-doubling pipeline (correct for independent
    // queries — they ARE independent); a real curation run computes the
    // spans once (localCheckpoint — pinned and lineage-truncated) and
    // derives the apply + governance heads from the pinned frame
    // (SuffixDedup.decontaminate). Output: the per-doc apply row joined
    // with its source's governance rates — every head's numbers in one
    // frame. SuffixDedupSpec pins each bundled head row-identical to its
    // standalone query.
    QueryDef("pipeline_decontam_e2e", (s, dir) => {
      val b = SuffixDedup.decontaminateFromSpans(decontamSpans(s, dir),
        t("documents")(s, dir), "doc_id", "text", "source",
        col("source") === "src0")
      b.perDoc
        .join(b.rates.select(col("source"),
          col("doc_rate").as("src_doc_rate"),
          col("token_share").as("src_token_share")), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("n_spans"), col("contaminated_tokens"),
          (col("n_tokens") - col("contaminated_tokens"))
            .as("retained_tokens"),
          col("src_doc_rate"), col("src_token_share"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $decontamSpanCtes,
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(span_len) AS BIGINT) AS removed
              FROM spans GROUP BY doc_id),
      d AS (SELECT t.doc_id, t.source, CAST(len(t.ts) AS BIGINT) AS n_tokens,
                   coalesce(per.n_spans, 0) AS n_spans,
                   coalesce(per.removed, 0) AS contaminated_tokens
            FROM tk t LEFT JOIN per USING (doc_id)
            WHERE t.source <> 'src0'),
      r AS (SELECT source,
                   CAST(sum(CASE WHEN contaminated_tokens > 0
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS src_doc_rate,
                   CAST(sum(contaminated_tokens) AS DOUBLE)
                     / CAST(sum(n_tokens) AS DOUBLE) AS src_token_share
            FROM d GROUP BY source)
      SELECT d.doc_id, d.source, d.n_tokens, d.n_spans,
             d.contaminated_tokens,
             CAST(d.n_tokens - d.contaminated_tokens AS BIGINT)
               AS retained_tokens,
             r.src_doc_rate, r.src_token_share
      FROM d JOIN r USING (source) ORDER BY d.doc_id""")),

    // Maximal duplicate token spans (≥ 8 tokens, 1-based inclusive token
    // positions, within-doc AND cross-doc occurrences both count). The
    // engine never materializes an L-gram: labels double in width through
    // log2(L) equi-join rounds and the final duplicated-key test is a
    // grouped count. The oracle CAN afford L-gram strings at sf0.01 —
    // it explodes every 8-token window, groups to find duplicated grams,
    // and merges covered positions with the same gaps-and-islands rule
    // (windows merge while next_start <= prev_start + L). Label equality
    // is exact (dense ids, no hashing), so the two formulations define
    // the same covered set by construction.
    QueryDef("dedup_substring_suffix", (s, dir) =>
      dupSpans(s, dir).orderBy(col("doc_id"), col("span_start"))
    , Some(s"""
      WITH tk AS (SELECT doc_id, ${Sql.tokens("text")} AS ts FROM documents),
      g AS (SELECT doc_id,
                   unnest(generate_series(1, greatest(len(ts) - ${SpanL - 1}, 0)))
                     AS pos,
                   unnest(list_transform(
                     generate_series(1, greatest(len(ts) - ${SpanL - 1}, 0)),
                     i -> array_to_string(ts[i:i+${SpanL - 1}], ' '))) AS gram
            FROM tk),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      isl AS (SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            IS NULL
                          OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) > $SpanL
                          THEN 1 ELSE 0 END AS brk
              FROM cov),
      is2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM isl)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + ${SpanL - 1} AS BIGINT) AS span_end,
             CAST(max(pos) + $SpanL - min(pos) AS BIGINT) AS span_len
      FROM is2 GROUP BY doc_id, island
      ORDER BY doc_id, span_start""")),

    // Span-removal report — the APPLY step of suffix dedup (Lee et al.
    // ExactSubstr removes every occurrence of a duplicated span): per
    // doc, tokens before/after cutting the maximal duplicate spans.
    // Maximal spans are disjoint by construction (overlapping/touching
    // windows merged), so removed = Σ span_len is exact. One extra
    // grouped aggregate + a left join onto the per-doc token counts —
    // the spans pipeline's plan shape carries over unchanged.
    QueryDef("dedup_substring_removal", (s, dir) => {
      val docs = t("documents")(s, dir)
      val spans = dupSpans(s, dir)
      val per = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_len")).as("removed_tokens"))
      docs.select(col("doc_id"),
          size(graft.functions.TextAnalysisFns.tokens(col("text")))
            .cast("long").as("n_tokens"))
        .join(per, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"))
        .withColumn("retained_tokens", col("n_tokens") - col("removed_tokens"))
        .withColumn("retained_frac",
          when(col("n_tokens") === 0L, lit(1.0)).otherwise(
            col("retained_tokens").cast("double") /
              col("n_tokens").cast("double")))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, ${Sql.tokens("text")} AS ts FROM documents),
      g AS (SELECT doc_id,
                   unnest(generate_series(1, greatest(len(ts) - ${SpanL - 1}, 0)))
                     AS pos,
                   unnest(list_transform(
                     generate_series(1, greatest(len(ts) - ${SpanL - 1}, 0)),
                     i -> array_to_string(ts[i:i+${SpanL - 1}], ' '))) AS gram
            FROM tk),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      isl AS (SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            IS NULL
                          OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) > $SpanL
                          THEN 1 ELSE 0 END AS brk
              FROM cov),
      is2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM isl),
      sp AS (SELECT doc_id, island,
                    max(pos) + $SpanL - min(pos) AS span_len
             FROM is2 GROUP BY doc_id, island),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(span_len) AS BIGINT) AS removed_tokens
              FROM sp GROUP BY doc_id)
      SELECT tk.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             coalesce(per.n_spans, 0) AS n_spans,
             coalesce(per.removed_tokens, 0) AS removed_tokens,
             CAST(len(ts) AS BIGINT) - coalesce(per.removed_tokens, 0)
               AS retained_tokens,
             CASE WHEN len(ts) = 0 THEN 1.0
                  ELSE CAST(len(ts) - coalesce(per.removed_tokens, 0) AS DOUBLE)
                       / CAST(len(ts) AS DOUBLE) END AS retained_frac
      FROM tk LEFT JOIN per USING (doc_id)
      ORDER BY tk.doc_id""")),

    // Per-source boilerplate grams — the prevalence dimension exact
    // substring dedup doesn't see: an 8-token gram is BOILERPLATE in a
    // source when it appears in ≥ 3 distinct documents of that source
    // (headers, footers, templates — the CCNet-style within-source
    // cleanup signal). Per doc: distinct grams, boilerplate grams among
    // them, and the fraction. Shuffles key on (source, gram) and
    // (doc_id) only — never doc×doc; prevalence counts are per-source
    // grouped counts of DISTINCT (gram, doc) postings.
    QueryDef("boilerplate_gram_source", (s, dir) => {
      val docs = t("documents")(s, dir)
      val grams = docs.select(col("doc_id"), col("source"),
          explode(graft.functions.SimFns.wordShingles(
            graft.functions.TextAnalysisFns.tokens(col("text")), SpanL))
            .as("g"))
      val prev = grams.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("nd"))
      val boiler = prev.where(col("nd") >= 3)
        .select(col("source"), col("g"), lit(1L).as("is_boiler"))
      val per = grams.join(boiler, Seq("source", "g"), "left_outer")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      per.select(col("doc_id"), col("source"), col("n_grams"),
          col("n_boiler"),
          (col("n_boiler").cast("double") / col("n_grams").cast("double"))
            .as("boiler_frac"))
        .orderBy(col("doc_id"))
    }, Some {
      val sh = Sql.wordShingles("ts", SpanL)
      s"""
      WITH tk AS (SELECT doc_id, source, ${Sql.tokens("text")} AS ts
                  FROM documents),
      gr AS (SELECT doc_id, source, unnest($sh) AS g FROM tk
             WHERE len(ts) >= $SpanL),
      prev AS (SELECT source, g, CAST(count(*) AS BIGINT) AS nd
               FROM gr GROUP BY source, g),
      per AS (SELECT gr.doc_id, gr.source,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN prev.nd >= 3 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_boiler
              FROM gr JOIN prev ON prev.source = gr.source AND prev.g = gr.g
              GROUP BY gr.doc_id, gr.source)
      SELECT doc_id, source, n_grams, n_boiler,
             CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE) AS boiler_frac
      FROM per ORDER BY doc_id"""
    }),

    // Cross-source duplication matrix — the contamination map between
    // corpus sources: for each UNORDERED source pair, how many distinct
    // 8-token grams they share. Per gram, the distinct source list is
    // tiny (≤ |sources|), so the pair fan-out per gram is bounded by
    // |sources|² regardless of corpus size; the output is |sources|²
    // rows. Shuffle keys: gram, then (src_a, src_b) — never doc×doc.
    QueryDef("dup_cross_source_matrix", (s, dir) => {
      val docs = t("documents")(s, dir)
      val sg = docs.select(col("source"),
          explode(graft.functions.SimFns.wordShingles(
            graft.functions.TextAnalysisFns.tokens(col("text")), SpanL))
            .as("g"))
        .distinct()
      val pairs = sg.as("a").join(sg.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      pairs.groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
        .orderBy(col("src_a"), col("src_b"))
    }, Some {
      val sh = Sql.wordShingles("ts", SpanL)
      s"""
      WITH tk AS (SELECT doc_id, source, ${Sql.tokens("text")} AS ts
                  FROM documents),
      sg AS (SELECT DISTINCT source, g
             FROM (SELECT source, unnest($sh) AS g FROM tk
                   WHERE len(ts) >= $SpanL)),
      pr AS (SELECT a.source AS src_a, b.source AS src_b
             FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source)
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS shared_grams
      FROM pr GROUP BY src_a, src_b
      ORDER BY src_a, src_b"""
    }),

    // TRUE distributed suffix array: the first 100 corpus suffixes in
    // lexicographic token order (rank, position, 8-token preview) —
    // SuffixDedup.suffixRanks' order-correct prefix-doubling labels
    // (⌈log₂ max-doc-len⌉ equi-join + densify-sort rounds over
    // fixed-width rows; suffix STRINGS are never materialized
    // engine-side). The oracle CAN afford the strings at sf0.01: it
    // sorts space-joined suffixes directly — byte order of space-joined
    // token lists equals token-sequence lexicographic order because
    // tokens are whitespace-free and ' ' (0x20) sorts below every token
    // byte, and a shorter prefix-suffix sorts first in both conventions
    // (the engine's −1 sentinel ≡ the string's early end). Equal
    // suffixes (duplicated text) tie-break by (doc_id, pos) on both
    // sides. The final top-100 is a sort-limit (TakeOrdered — bounded),
    // and the 100-row rank window is bounded by the LIMIT.
    QueryDef("suffix_array_topk", (s, dir) => {
      val docs = t("documents")(s, dir)
      val withTs = docs.select(col("doc_id"),
        graft.functions.TextAnalysisFns.tokens(col("text")).as("ts"))
      // the suffix-rank front is a per-corpus artifact too (a real run
      // builds the suffix array once) — registry-pinned like decontamSpans
      val ranks = suffixRanksFront(s, dir)
      val top = ranks
        .orderBy(col("lbl"), col("doc_id"), col("pos")).limit(100)
      top.join(withTs, Seq("doc_id"))
        .select(col("lbl"), col("doc_id"), col("pos"),
          concat_ws(" ",
            slice(col("ts"), col("pos").cast("int"), lit(8))).as("preview"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("lbl"), col("doc_id"), col("pos"))).cast("int"))
        .select(col("rank"), col("doc_id"), col("pos"), col("preview"))
        .orderBy(col("rank"))
    }, Some(s"""
      WITH tk AS (SELECT doc_id, ${Sql.tokens("text")} AS ts FROM documents),
      p AS (SELECT doc_id, unnest(generate_series(1, len(ts))) AS pos, ts
            FROM tk),
      s AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                   array_to_string(ts[pos:len(ts)], ' ') AS suf,
                   array_to_string(ts[pos:least(pos+7, len(ts))], ' ')
                     AS preview
            FROM p)
      SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) AS INT)
               AS rank,
             doc_id, pos, preview
      FROM s ORDER BY rank LIMIT 100""")),

    // One Lloyd's update round, hash-exact: per (cell, dim), the member
    // count and the new centroid mean — iteration-0 assignment (the same
    // argmin device dedup_semantic gates) followed by the k-means MEANS
    // step pinned cross-engine: the per-(cell, dim) float sum is an
    // ORDERED fold (members sorted by vec_id on both sides), then ONE
    // division. Ann.ivfTrain's production loop uses Spark's unordered
    // grouped sum for speed (spec'd with tolerance); THIS query pins the
    // arithmetic of the update step bit-for-bit. Scale: assignment is a
    // one-scan codegen projection; the means shuffle keys on
    // (cell, dim) — nlist × dim rows out, never vectors × vectors.
    QueryDef("ivf_lloyd_means", (s, dir) => {
      val emb = t("embeddings")(s, dir)
      val index = CorpusFronts.ivfIndex(s, dir, nlist = 8)
      val cells = Ann.assignCells(emb, "embedding", index)
      cells
        .select(col("cell"), col("vec_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("d0", "x")))
        .groupBy(col("cell"), col("d0"))
        .agg(count(lit(1)).as("n"),
          aggregate(
            sort_array(collect_list(struct(col("vec_id"), col("x")))),
            lit(0.0), (a, e) => a + e.getField("x")).as("sx"))
        .select(col("cell").cast("int").as("cell"),
          (col("d0") + 1).cast("long").as("d"), col("n"),
          (col("sx") / col("n").cast("double")).as("mean"))
        .orderBy(col("cell"), col("d"))
    }, Some {
      def distSq(v: String, c: String): String =
        s"(${Sql.dot(v, v)} - 2.0 * ${Sql.dot(v, c)} + ${Sql.dot(c, c)})"
      s"""
      WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
        QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
      corp AS (SELECT vec_id, embedding AS v FROM embeddings),
      assign AS (
        SELECT corp.vec_id, cent.cid,
               row_number() OVER (PARTITION BY corp.vec_id
                 ORDER BY ${distSq("corp.v", "cent.cv")}, cent.cid) AS rn
        FROM corp CROSS JOIN cent),
      cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
      xs AS (SELECT c.cell, e.vec_id,
                    unnest(generate_series(1, len(e.embedding))) AS d,
                    unnest(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE))) AS x
             FROM cells c JOIN embeddings e ON e.vec_id = c.vec_id),
      m AS (SELECT cell, d, CAST(count(*) AS BIGINT) AS n,
                   list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list(x ORDER BY vec_id)),
                     (a, xx) -> a + xx) AS sx
            FROM xs GROUP BY cell, d)
      SELECT CAST(cell AS INT) AS cell, CAST(d AS BIGINT) AS d, n,
             sx / CAST(n AS DOUBLE) AS mean
      FROM m ORDER BY cell, d"""
    }),

    // Hapax-legomena profile per source: the fraction of a source's
    // distinct vocabulary that occurs exactly once — the lexical-richness
    // signal (natural prose ≈ 0.4–0.6; templated/boilerplate-heavy
    // sources read far lower, token-soup spam far higher). Two grouped
    // counts keyed on (source, term) then source; all integers to one
    // final division.
    QueryDef("text_hapax_ratio", (s, dir) => {
      val tf = t("documents")(s, dir)
        .select(col("source"),
          explode(graft.functions.TextAnalysisFns.tokens(col("text")))
            .as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("c")).as("n_tokens"))
        .select(col("source"), col("n_terms"), col("n_hapax"),
          col("n_tokens"),
          (col("n_hapax").cast("double") / col("n_terms").cast("double"))
            .as("hapax_ratio"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH tf AS (
        SELECT source, t AS term, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT source, unnest(${Sql.tokens("text")}) AS t
              FROM documents)
        GROUP BY source, t)
      SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS hapax_ratio
      FROM tf GROUP BY source ORDER BY source""")),

    // Head-coverage curve: what fraction of all token OCCURRENCES the
    // top-k most frequent terms cover, k ∈ {10, 50, 100, 500} — the
    // vocabulary-truncation planning curve (how small a vocab still
    // covers the corpus). Term ranks come from the text_vocab
    // decomposition trick if needed, but here the cumulative weight of
    // the top k needs only: per-term counts, a bounded top-k tail
    // (TopKAgg over terms — shuffle O(k)), and one total. Integers to
    // one division per k.
    QueryDef("ngram_coverage_curve", (s, dir) => {
      val ks = Seq(10, 50, 100, 500)
      val tf = t("documents")(s, dir)
        .select(explode(graft.functions.TextAnalysisFns.tokens(col("text")))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("n_total"))
      // one bounded top-500 tail; each k reads its prefix
      val top = tf.groupBy()
        .agg(graft.expressions.TopKAgg.topK(
          struct(col("c").cast("double"),
            graft.functions.SketchFns.hash52(col("term")).cast("long")), 500)
          .as("__top"))
      // hash52 id is only a tiebreak carrier — the SCORE (count) is what
      // the coverage sums; ties among equal-count boundary terms make the
      // top-k AMBIGUOUS, so the scores (not identities) must drive the
      // sum. Both engines order by (count desc, hash52(term)) — same
      // deterministic boundary choice, same prefix sums.
      val exploded = top.select(posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select((col("__pos") + 1).as("rk"), col("__e.score").cast("long").as("c"))
      // all four prefix sums in ONE aggregate over the ≤500-entry tail
      // (a union of four aggregates would re-evaluate the TopKAgg subtree
      // per branch), then unpivoted to rows
      val one = exploded.agg(
        sum(when(col("rk") <= ks.head, col("c"))).as(s"t${ks.head}"),
        ks.tail.map(k =>
          sum(when(col("rk") <= k, col("c"))).as(s"t$k")): _*)
      val curve = one.select(explode(array(ks.map(k =>
          struct(lit(k).as("k"), col(s"t$k").as("top_tokens"))): _*)).as("e"))
        .select(col("e.k").as("k"), col("e.top_tokens").as("top_tokens"))
      curve.crossJoin(broadcast(tot))
        .select(col("k"), col("top_tokens"), col("n_total"),
          (col("top_tokens").cast("double") / col("n_total").cast("double"))
            .as("coverage"))
        .orderBy(col("k"))
    }, Some {
      val ks = Seq(10, 50, 100, 500)
      s"""
      WITH tf AS (
        SELECT t AS term, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(${Sql.tokens("text")}) AS t FROM documents)
        GROUP BY t),
      r AS (SELECT c, row_number() OVER (ORDER BY c DESC,
                      ${Sql.hash52("term")}) AS rk
            FROM tf),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM tf),
      curve AS (${ks.map(k =>
        s"SELECT $k AS k, CAST(sum(CASE WHEN rk <= $k THEN c END) AS BIGINT) AS top_tokens FROM r")
        .mkString(" UNION ALL ")})
      SELECT k, top_tokens, n_total,
             CAST(top_tokens AS DOUBLE) / CAST(n_total AS DOUBLE) AS coverage
      FROM curve CROSS JOIN tot
      ORDER BY k"""
    }),

    // Duplication profile: histogram of maximal duplicate-span lengths —
    // the report that distinguishes "a few whole-document copies" (mass
    // at long spans) from "pervasive boilerplate" (mass at short spans).
    // One grouped count over the spans table.
    QueryDef("dup_span_length_hist", (s, dir) =>
      dupSpans(s, dir)
        .groupBy(col("span_len"))
        .agg(count(lit(1)).as("n_spans"))
        .orderBy(col("span_len"))
    , Some(s"""
      WITH tk AS (SELECT doc_id, ${Sql.tokens("text")} AS ts FROM documents),
      g AS (SELECT doc_id,
                   unnest(generate_series(1, greatest(len(ts) - ${SpanL - 1}, 0)))
                     AS pos,
                   unnest(list_transform(
                     generate_series(1, greatest(len(ts) - ${SpanL - 1}, 0)),
                     i -> array_to_string(ts[i:i+${SpanL - 1}], ' '))) AS gram
            FROM tk),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      isl AS (SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            IS NULL
                          OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) > $SpanL
                          THEN 1 ELSE 0 END AS brk
              FROM cov),
      is2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM isl),
      sp AS (SELECT doc_id, island,
                    CAST(max(pos) + $SpanL - min(pos) AS BIGINT) AS span_len
             FROM is2 GROUP BY doc_id, island)
      SELECT span_len, CAST(count(*) AS BIGINT) AS n_spans
      FROM sp GROUP BY span_len ORDER BY span_len"""))
  )
}
