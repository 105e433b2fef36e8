package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Suffix-ranking substring deduplication — the scale upgrade of the
  * fixed-L gram-key approach (`dedup_substring_exact`): find all MAXIMAL
  * duplicate token spans of length ≥ L across the corpus, the
  * training-data-dedup standard of Lee et al. 2021 ("Deduplicating
  * Training Data Makes Language Models Better", arXiv:2107.06499), which
  * builds a suffix array over the corpus and removes every repeated
  * substring over a length threshold.
  *
  * Spark-first shape — prefix doubling over per-doc lead() windows,
  * never all-pairs and never materialized L-grams:
  *
  *  - Round 0 assigns each distinct TOKEN a dense integer label.
  *  - Doubling: label_{2w}(p) = dense id of the pair
  *    (label_w(p), label_w(p+w)) — the partner label comes from
  *    lead(lbl, w) over the per-doc window (positions are contiguous),
  *    one N-row shuffle instead of a two-sided self-join; densify is an
  *    in-place sharded dense rank. Two doublings FUSE per densify: the
  *    packed (l1 << 32 | l2) long is itself an order-correct width-2w
  *    label, so only the width-4w pair pays the range shuffle —
  *    ⌈log₄ L⌉ densify rounds. Each row is a fixed handful of longs, so
  *    the working set is O(N·log L) small rows — the gram-key approach
  *    pays O(N·L) tokens of materialized gram strings (a 50× blowup at
  *    Lee et al.'s L = 50).
  *  - Two positions share an L-token window iff their overlapping
  *    power-of-two window labels agree: with a = the largest power of two
  *    < L (so a ≥ L/2), key_L(p) = (label_a(p), label_a(p+L−a)) — the
  *    sparse-table trick; label equality is EXACT (dense ids, no hashing,
  *    zero false positives/negatives).
  *  - A position is COVERED iff its key occurs ≥ 2 times corpus-wide
  *    (cross-doc or within-doc). Maximal spans = per-doc runs of covered
  *    positions merged while consecutive windows overlap or touch
  *    (gap ≤ L) — a bounded per-doc gaps-and-islands window.
  *
  * Dense labels are assigned by total-sorting the distinct pair set and
  * attaching contiguous indices (GlobalRank.globalRowNumber — the sharded
  * prefix-sum pattern: range partition, per-partition rank window,
  * broadcast offsets; no single-partition window, no RDD round trip). Each round's labeled table is
  * `localCheckpoint`ed: the values are pinned once (a lazily recomputed
  * id assignment could disagree with itself across reuses) and the
  * per-round lineage is truncated, exactly like PageRank's iterations.
  *
  * 100 TB: every join is an equi-join on (doc_id, pos) keys; shuffles
  * carry O(N) fixed-width rows per round for ⌈log₂ L⌉ ≈ 6 rounds at
  * L = 50; the only windows are per-doc (bounded by doc length). The
  * densify sort is a standard distributed sort of ≤ N rows per round.
  */
object SuffixDedup {

  /** Largest label universe for which an (l1, l2) dense-pair packs into
    * one signed 64-bit key: l1 takes the high 32 bits ⇒ l1 < 2^31 keeps
    * the long positive; l2 (plus the sentinel offset) the low 32 ⇒
    * l2 + 1 < 2^32. Dense labels are 1..n, so both hold while
    * n ≤ 2^31 − 2. Beyond that (a ~100 TB corpus can exceed 2^31
    * distinct windows) the densify falls back to the two-column key —
    * same semantics, wider shuffle.
    */
  private val PackableLabels = (1L << 31) - 2

  /** (l1 << 32) + (l2 + 1): injective and ORDER-preserving for dense
    * l1 ∈ [1, 2^31) and l2 ∈ [−1, 2^32 − 2), so the dense rank of the
    * packed key is bit-identical to the dense rank of the pair — but the
    * densify shuffle carries ONE primitive long instead of two, and the
    * range partitioner / window comparator / distinct-count run on a
    * codegen'd long instead of a two-field ordering. The +1 admits
    * suffixRanks' −1 "suffix ends here" sentinel while keeping the low
    * word non-negative.
    */
  private def packPair(l1: Column, l2: Column): Column =
    shiftleft(l1, 32) + l2 + lit(1L)

  /** The per-doc pairing window. Positions are CONTIGUOUS per doc (the
    * documented input contract), so `lead(lbl, w)` over this window is
    * the label at pos + w — the prefix-doubling pair partner — without a
    * self-equi-join: one N-row shuffle on doc_id instead of shuffling
    * both join sides, and the window is bounded by doc length (never a
    * partition-less sort).
    */
  private val docW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))

  /** Vocab-size gate for the round-0 broadcast path: a distinct-token
    * set at or below this collects to the driver (≤ 2²⁰ strings — tens
    * of MB, the same bounded-collect contract as withDenseRank's
    * per-partition counts) and ids are assigned driver-side; above it
    * the distributed sharded rank runs as before. Word-level vocab of a
    * real corpus saturates in the millions while the corpus grows
    * unbounded, so most production runs take the broadcast path — and a
    * 100 TB corpus with an out-of-gate vocab degrades to the exact
    * distributed shape, never to a driver OOM.
    */
  private val VocabBroadcastMax = 1 << 20

  /** Unsigned byte order of the UTF-8 encoding — exactly
    * `UTF8String.compareTo`, the order Spark's string sort (and thus the
    * distributed round-0 rank) uses. Java's `String.compareTo` is NOT it
    * (UTF-16 code-unit order differs above the BMP).
    */
  private def utf8Less(a: String, b: String): Boolean = {
    if (a == null) return b != null // Spark sorts NULLS FIRST asc
    if (b == null) return false
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Round 0: the dense, order-correct token-id table (tok → id, ids
    * 1..nTok in token order) plus nTok. Two exact-identical paths gated
    * on vocab size (`gate` is a test seam — production callers use the
    * default):
    *
    *  - vocab ≤ gate: ONE bounded job (distinct + limited collect),
    *    driver-side sort in UTF8-byte order (= Spark's string order),
    *    and the id table is a broadcast local relation — no range
    *    sampling job, no checkpoint, no offsets collect, and the
    *    corpus-side join is a broadcast hash join by construction;
    *  - vocab > gate: the sharded distributed rank (exact same ids —
    *    both orders are UTF8-byte order and ids are dense from 1).
    */
  private[graft] def tokenIds(toks: DataFrame,
      gate: Int = VocabBroadcastMax): (DataFrame, Long) = {
    val spark = toks.sparkSession
    val probe = toks.select(col("tok")).distinct()
      .limit(gate + 1).collect()
    if (probe.length <= gate) {
      val sorted = probe.map(r => r.getString(0)).sortWith(utf8Less)
      import spark.implicits._
      val ids = sorted.zipWithIndex
        .map { case (t, i) => (t, i + 1L) }.toSeq.toDF("tok", "id")
      (broadcast(ids), sorted.length.toLong)
    } else {
      GlobalRank.globalRowNumberWithCount(
        toks.select(col("tok")).distinct(), Seq(col("tok")), "id")
    }
  }

  /** The SHARED prefix of every suffix pipeline over one corpus: the
    * sentinel-semantics dense-label table at a small fixed width (the
    * first fused-quadruple round of [[suffixRanks]] — width 4 while the
    * label universe packs, width 2 in the >2³¹-label fallback), kept for
    * EVERY position. One tokenize + one token-id densify + one doubling
    * densify, paid ONCE per corpus and consumed three ways:
    *
    *  - [[suffixRanksFromBase]] CONTINUES the doubling chain from it
    *    (the base is bit-identical to the chain's own first round);
    *  - [[windowKeysFromBase]] derives the exact window-content key for
    *    ANY L ≥ width by TILING the window with width-sized blocks —
    *    equal block-label tuples ⟺ equal L-token windows (each block is
    *    full inside a full window, and full-block sentinel labels equal
    *    iff contents equal), so the derived covered sets are identical
    *    to the per-L doubling chains they replace.
    *
    * Before round 16 the three corpus fronts (dup spans at L = 8,
    * decontamination spans at L = 12, suffix ranks) each rebuilt this
    * prefix from scratch — three tokenizes, three token densifies,
    * three first-round densifies over the same corpus.
    *
    * `lbl` is (doc_id, pos, lbl) over ALL positions; `n` the dense-label
    * count of the last densify; `nTok` the token-id count (round 0) —
    * the pair is the doubling chain's stability signal.
    */
  private[graft] final case class LabelBase(lbl: DataFrame, width: Int,
                                            nTok: Long, n: Long)

  /** Build the [[LabelBase]] for a (doc_id, pos, tok) table (1-based,
    * contiguous per-doc positions — the [[windowKeys]] contract). The
    * body is EXACTLY [[suffixRanks]]' round 0 + first loop round, so a
    * rank chain continued from the base is bit-identical to one built
    * from scratch (same dense ids: same key order, same universe).
    */
  /** Materialize a labeled frame as THE pinned base/loop layout:
    * hash(doc_id)-partitioned and sorted by (doc_id, pos) within
    * partitions BEFORE the checkpoint, so the pinned frame's
    * outputPartitioning/outputOrdering (checkpoint preserves both)
    * already satisfy every per-doc lead window downstream — the
    * consumers' `Exchange hashpartitioning(doc_id)` + Sort disappear
    * from planning entirely. One corpus-sized exchange paid once at
    * build time replaces one exchange + sort PER CONSUMER (the base has
    * four; round 16/early-17 consumers each re-shuffled the pinned
    * range-partitioned frame back to doc_id).
    */
  private def pinByDoc(labeled: DataFrame): DataFrame = {
    val n = labeled.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // explicit n: AQE never coalesces a user-numbered repartition, so
    // hash(doc_id) over exactly n partitions + the in-partition sort is
    // the literal physical truth declareCheckpointLayout re-attaches.
    // Without it every consumer pays an Exchange + Sort: under AQE,
    // localCheckpoint records UnknownPartitioning
    val pinned = labeled.select(col("doc_id"), col("pos"), col("lbl"))
      .repartition(n, col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("pos"))
      .localCheckpoint()
    Bridge.declareCheckpointLayout(pinned,
      Seq("doc_id"), Seq("doc_id", "pos"))
  }

  private[graft] def labelBase(toks: DataFrame): LabelBase = {
    // round 0: broadcast-gated dense token ids (ONE bounded job for an
    // in-gate vocab — no range sampling, no checkpoint, no offsets
    // collect; the corpus join is a broadcast hash join)
    val (tokIds, nTok) = tokenIds(toks)
    val cur = toks.join(tokIds, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("id").as("lbl"))
    // the base frame is pinned doc_id-partitioned/sorted (pinByDoc): its
    // four consumers (two window-key derivations, the rank-chain
    // continuation, the maxLen probe) all open with per-doc lead windows
    if (nTok <= PackableLabels) {
      // ONE window pass: lead(lbl, 1/2/3) in a single Window projection.
      // __k2 was coalesce(lead(__p, 2), −1) over a SECOND window stacked
      // on the first (__p = pack(lbl, coalesce(lead(lbl,1), −1)));
      // positions are contiguous per doc, so lead(__p, 2) is null ⟺
      // lead(lbl, 2) is null, and where it exists it equals
      // pack(lead(lbl,2), coalesce(lead(lbl,3), −1)) — the same rows,
      // computed without a second WindowExec pass over the corpus.
      val l1 = coalesce(lead(col("lbl"), 1).over(docW), lit(-1L))
      val l2 = lead(col("lbl"), 2).over(docW)
      val l3 = lead(col("lbl"), 3).over(docW)
      val nxt = cur.select(col("doc_id"), col("pos"),
        packPair(col("lbl"), l1).as("__k1"),
        when(l2.isNull, lit(-1L))
          .otherwise(packPair(l2, coalesce(l3, lit(-1L)))).as("__k2"))
      val (labeled, n4) = GlobalRank.withDenseRank(
        nxt, Seq(col("__k1"), col("__k2")), "lbl")
      LabelBase(pinByDoc(labeled), 4, nTok, n4)
    } else {
      val nxt = cur.select(col("doc_id"), col("pos"), col("lbl").as("l1"),
        coalesce(lead(col("lbl"), 1).over(docW), lit(-1L)).as("l2"))
      val (labeled, n2) = GlobalRank.withDenseRank(
        nxt, Seq(col("l1"), col("l2")), "lbl")
      LabelBase(pinByDoc(labeled), 2, nTok, n2)
    }
  }

  /** (doc_id, pos, __k) for every position with a full L-token window,
    * derived from the shared [[LabelBase]] with no further densify: the
    * window [p, p+L−1] is tiled by width-w blocks at offsets 0, w, 2w, …
    * plus a tail block at L−w, and `__k` is the tuple of block labels
    * (consecutive pairs packed into longs while the universe fits). A
    * position is kept iff position p+L−1 exists (the base holds every
    * position, so `lead(lbl, L−1)` is the exact full-window test); every
    * block of a kept window has ≥ w tokens remaining, so its label is a
    * FULL-block class and tuple equality ⟺ window-content equality —
    * the same zero-FP/FN contract as the per-L doubling chain.
    */
  private[graft] def windowKeysFromBase(base: LabelBase, L: Int): DataFrame = {
    require(L >= base.width,
      s"window length $L below the base width ${base.width}")
    val w = base.width
    val offs = (0 until L / w).map(_ * w) ++
      (if (L % w != 0) Seq(L - w) else Nil)
    val lblAt: Seq[Column] = offs.map {
      case 0 => col("lbl")
      case o => lead(col("lbl"), o).over(docW)
    }
    val keyCols: Seq[Column] =
      if (base.n <= PackableLabels)
        lblAt.grouped(2).map(g =>
          if (g.size == 2) packPair(g(0), g(1)) else g(0)).toSeq
      else lblAt
    base.lbl
      .withColumn("__k",
        if (keyCols.size == 1) keyCols.head else struct(keyCols: _*))
      .withColumn("__full", lead(col("lbl"), L - 1).over(docW).isNotNull)
      .where(col("__full"))
      .select(col("doc_id"), col("pos"), col("__k"))
  }

  /** (doc_id, pos, __k) for every position with a full L-token window:
    * `__k` identifies the window CONTENT exactly (the dense-label
    * sparse-table key — equal keys ⟺ equal L-token windows, no hashing,
    * zero false positives/negatives). The shared front of
    * [[coveredPositions]] (which keeps keys occurring ≥ 2 times) and
    * [[contaminationSpans]] (which keeps keys occurring in the eval
    * group). `toks` must be (doc_id: long, pos: long 1-based,
    * tok: string) with contiguous per-doc positions.
    *
    * For L ≥ 4 this routes through the shared [[LabelBase]] derivation
    * (identical covered sets, one densify round instead of ⌈log₄ L⌉);
    * the per-L doubling chain below remains the direct path for the
    * tiny-L corner the base width cannot tile.
    */
  def windowKeys(toks: DataFrame, L: Int): DataFrame =
    if (L >= 4) windowKeysFromBase(labelBase(toks), L)
    else windowKeysDirect(toks, L)

  private def windowKeysDirect(toks: DataFrame, L: Int): DataFrame = {
    require(L >= 2, s"window length must be >= 2, got $L")

    // a = largest power of two < L; a >= L/2 so the two a-windows at p and
    // p+L-a overlap and exactly cover [p, p+L-1]
    val a = Integer.highestOneBit(L - 1)

    // round 0: dense token ids (distinct tokens, total-sorted in UTF8
    // order — broadcast-gated like labelBase's); the row count is the
    // label-universe size that decides pair packing
    val (tokIds, nTok) = tokenIds(toks)
    var cur = toks.join(tokIds, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("id").as("lbl"))
      .localCheckpoint()
    var n = nTok

    // Doubling rounds, two structural cuts over the naive
    // join-densify-per-doubling loop (both EXACT):
    //  - pairing is a lead() over the per-doc window, not a self-join
    //    (cur's positions stay contiguous per doc: each round keeps the
    //    prefix 1..len−width+1, so the row `width` ahead is pos+width);
    //  - FUSED double-doubling: pack(lbl, lead(lbl, w)) is itself an
    //    order-correct (sparse) width-2w label, so the width-4w pair is
    //    formed in the same window pass — (p_2w(x), p_2w(x+2w)) — and
    //    only IT pays a densify. Half the range-shuffle/checkpoint/
    //    counts-job rounds; the densify key is two longs (a packed pair
    //    of packed longs exceeds 63 bits).
    var width = 1
    while (width < a) {
      if (width * 4 <= a && n <= PackableLabels) {
        val p2w = cur.withColumn("__p",
          packPair(col("lbl"), lead(col("lbl"), width).over(docW)))
        // __k2 non-null ⟺ the full 4w window fits (pos + 4w − 1 ≤ len);
        // __p's own null at the tail never survives that filter
        val nxt = p2w
          .withColumn("__k2", lead(col("__p"), 2 * width).over(docW))
          .where(col("__k2").isNotNull)
          .select(col("doc_id"), col("pos"), col("__p").as("__k1"),
            col("__k2"))
        val (labeled, n2) = GlobalRank.withDenseRank(
          nxt, Seq(col("__k1"), col("__k2")), "lbl")
        cur = labeled.select(col("doc_id"), col("pos"), col("lbl"))
        n = n2
        width *= 4
      } else {
        // single doubling (final hop to a, or the >2^31-label fallback)
        val paired = cur
          .withColumn("__l2", lead(col("lbl"), width).over(docW))
          .where(col("__l2").isNotNull)
        val (nxt, keys) =
          if (n <= PackableLabels)
            (paired.select(col("doc_id"), col("pos"),
              packPair(col("lbl"), col("__l2")).as("__pk")), Seq(col("__pk")))
          else (paired.select(col("doc_id"), col("pos"),
            col("lbl").as("l1"), col("__l2").as("l2")),
            Seq(col("l1"), col("l2")))
        val (labeled, n2) = GlobalRank.withDenseRank(nxt, keys, "lbl")
        cur = labeled.select(col("doc_id"), col("pos"), col("lbl"))
        n = n2
        width *= 2
      }
    }

    // key_L(p) = (label_a(p), label_a(p + L - a)); the lead's null test
    // also enforces pos + L - 1 <= doc_len (short-tail positions drop
    // out). Same packing as the densify rounds: the downstream agg and
    // semi-joins run on one long key when the universe fits.
    cur
      .withColumn("__l2", lead(col("lbl"), L - a).over(docW))
      .where(col("__l2").isNotNull)
      .select(col("doc_id"), col("pos"),
        (if (n <= PackableLabels) packPair(col("lbl"), col("__l2"))
         else struct(col("lbl"), col("__l2"))).as("__k"))
  }

  /** The duplicate-occurrence filter over a keyed window table: keep the
    * positions whose `__k` occurs ≥ 2 times corpus-wide.
    *
    * Shape (round-17 skew-safety, VERDICT r16 #1): a partial-aggregating
    * groupBy builds the duplicated-key set, then a LEFT SEMI join keeps
    * the covered positions. Round 16 used a count over the
    * __k-partitioned window (one exchange fewer on paper), but an
    * unbounded-frame window buffers EVERY occurrence of one key in one
    * task — natural corpora have heavy-tailed n-grams (boilerplate,
    * whitespace runs), so one pathological key pins a straggler with
    * unbounded buffering and neither AQE nor map-side aggregation can
    * split it. The aggregate shrinks a hot key map-side to one row per
    * map partition, the dup-key set is distinct-key-bounded, and the
    * semi join is AQE-skew-splittable on the probe side. The probe-side
    * exchange is the same one full-table shuffle the window paid, and
    * the keyed table's own lead-window exchange is shared between the
    * two consumers by exchange reuse.
    */
  private def keptDuplicated(keyed: DataFrame): DataFrame = {
    val dup = keyed.groupBy(col("__k")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select(col("__k"))
    keyed.join(dup, Seq("__k"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** (doc_id, pos) of every position whose L-token window occurs ≥ 2
    * times in the corpus (within-doc AND cross-doc both count). Input
    * contract as [[windowKeys]].
    */
  def coveredPositions(toks: DataFrame, L: Int): DataFrame =
    keptDuplicated(windowKeys(toks, L))

  /** [[coveredPositions]] over the shared [[LabelBase]]. */
  private[graft] def coveredPositionsFromBase(base: LabelBase,
                                              L: Int): DataFrame =
    keptDuplicated(windowKeysFromBase(base, L))

  /** TRUE suffix ranks — the distributed suffix ARRAY, not just the
    * duplicate test: every (doc_id, pos) gets a label such that
    * label(a) < label(b) ⇔ the token suffix starting at a sorts strictly
    * before the one starting at b (equal suffixes share a label; ties are
    * broken downstream by (doc_id, pos)). Same prefix-doubling loop as
    * [[coveredPositions]] with two changes that make the labels
    * ORDER-correct, not merely equality-correct:
    *
    *  - the densify sort assigns ids in (l1, l2) order and the initial
    *    token ids are assigned in token order, so order is preserved
    *    inductively — rank_{2w} order IS lexicographic (rank_w[p],
    *    rank_w[p+w]) order;
    *  - positions whose second half falls off the end of the doc keep a
    *    SENTINEL −1 second label (LEFT join), which sorts first — the
    *    standard "shorter suffix is a prefix ⇒ sorts first" rule.
    *
    * Rounds: ⌈log₂ max-doc-length⌉ equi-join + densify-sort rounds; the
    * suffix order of a corpus-sized token table is built in O(N log N)
    * fixed-width rows, never materializing suffix strings.
    */
  def suffixRanks(toks: DataFrame): DataFrame =
    suffixRanksFromBase(labelBase(toks))

  /** [[suffixRanks]] CONTINUED from the shared [[LabelBase]]: the base
    * IS the chain's round 0 + first round (same code path, same dense
    * ids), so resuming at `base.width` with the base's counts yields
    * bit-identical final labels while paying the shared prefix once per
    * corpus. The base always runs its first round even when the longest
    * doc is shorter than the width — harmless: beyond-end partners are
    * sentinels, so those labels equal the shorter-width labels in both
    * value and order (same classes, same key order, same dense rank).
    * maxLen comes from the base frame itself (positions are contiguous
    * 1..len per doc, so max(pos) is the longest doc) — no re-tokenize.
    */
  private[graft] def suffixRanksFromBase(base: LabelBase): DataFrame = {
    val maxLen = base.lbl.agg(max(col("pos"))).first().getLong(0)
    // lead() offsets are Ints; the quadrupling loop's last width is
    // < 4·maxLen. Single documents beyond half a billion tokens need a
    // doc-splitting pre-pass, not a wider offset.
    require(maxLen < Int.MaxValue / 4, s"longest doc has $maxLen tokens")
    var cur = base.lbl
    var width = base.width.toLong
    // classic prefix-doubling termination: label classes only ever SPLIT,
    // so if a round's distinct-label count is unchanged the partition is
    // identical and (inductively) every later round is too — iterate
    // until stable or width covers the longest doc, whichever is first.
    // The position set is constant (left join), so round 0's count (the
    // distinct-token count, free from the id assignment) participates:
    // an all-distinct-token corpus terminates after ONE round. On
    // mostly-unique text this stops at width ≈ the longest repeated
    // passage, not the longest document. Stability implies the final
    // labels equal the would-be next round's (identical partition, same
    // order ⇒ same dense ranks), so early exit is bit-exact.
    var n = base.n
    var stable = base.n == base.nTok
    // Same two structural cuts as coveredPositions — lead() pairing over
    // the per-doc window (every position stays present here: the left
    // semantics keep the row set constant, nulls become the −1 "suffix
    // ends here" sentinel which sorts first) and FUSED double-doubling:
    // p_2w = pack(lbl, lead(lbl, w) | −1) is an order-correct sparse
    // width-2w label (p_2w ≥ 2^32 > −1, so the next level's sentinel
    // still sorts first), and only (p_2w(x), p_2w(x+2w) | −1) pays the
    // densify — the dense rank of that pair IS rank_4w, bit-exact.
    // Overshooting maxLen on the last quadruple is harmless: beyond-end
    // partners are sentinels, which is exactly rank_maxLen. In-place
    // ORDER-correct dense rank: one range shuffle per densify, on the
    // packed long key while the universe fits; the distinct count for
    // the termination test is the offsets sum — free; labels are pinned
    // by the checkpoint inside withDenseRank.
    while (width < maxLen && !stable) {
      val (labeled, n2) =
        if (n <= PackableLabels) {
          // one fused window pass (leads w/2w/3w — the same rewrite as
          // labelBase's: lead of the stacked __p window ≡ pack of the
          // direct leads, because positions are contiguous per doc and
          // lbl is never null)
          val w = width.toInt
          val l1 = coalesce(lead(col("lbl"), w).over(docW), lit(-1L))
          val l2 = lead(col("lbl"), 2 * w).over(docW)
          val l3 = lead(col("lbl"), 3 * w).over(docW)
          val nxt = cur.select(col("doc_id"), col("pos"),
            packPair(col("lbl"), l1).as("__k1"),
            when(l2.isNull, lit(-1L))
              .otherwise(packPair(l2, coalesce(l3, lit(-1L)))).as("__k2"))
          width *= 4
          GlobalRank.withDenseRank(nxt, Seq(col("__k1"), col("__k2")), "lbl")
        } else {
          val nxt = cur.select(col("doc_id"), col("pos"),
            col("lbl").as("l1"),
            coalesce(lead(col("lbl"), width.toInt).over(docW), lit(-1L))
              .as("l2"))
          width *= 2
          GlobalRank.withDenseRank(nxt, Seq(col("l1"), col("l2")), "lbl")
        }
      cur = labeled.select(col("doc_id"), col("pos"), col("lbl"))
      stable = n2 == n
      n = n2
    }
    cur
  }

  /** Tokenize docs into the (doc_id, pos, tok) contract (1-based,
    * contiguous per doc).
    */
  private[graft] def tokenize(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextAnalysisFns.tokens(col(textCol)))
          .as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok"))

  /** Merge covered (doc_id, pos) window-start positions into maximal
    * spans: per-doc gaps-and-islands, two windows merge while they
    * overlap or touch (next start ≤ prev start + L). Output (doc_id,
    * span_start, span_end, span_len), 1-based inclusive token positions.
    */
  private def spansFromCovered(covered: DataFrame, L: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    covered
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") - col("__prev") > L, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (L - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Maximal duplicate spans ≥ L tokens: merged runs of covered L-windows
    * per doc — output (doc_id, span_start, span_end, span_len), 1-based
    * inclusive token positions.
    */
  def maximalDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                            L: Int): DataFrame =
    spansFromCovered(coveredPositions(tokenize(docs, idCol, textCol), L), L)

  /** [[maximalDuplicateSpans]] over the shared [[LabelBase]]. */
  private[graft] def maximalDuplicateSpansFromBase(base: LabelBase,
                                                   L: Int): DataFrame =
    spansFromCovered(coveredPositionsFromBase(base, L), L)

  /** Suffix-window benchmark DECONTAMINATION: maximal spans (≥ L tokens)
    * of non-eval documents whose token windows also occur in an
    * eval-group document. The fixed-8-gram `decontamination` and MinHash
    * `decontamination_fuzzy` queries approximate long-overlap leakage;
    * this is the exact form at an arbitrary threshold L — the same
    * prefix-doubling labels as [[coveredPositions]], with the duplicate
    * test replaced by a semi-join against the eval group's key set, so a
    * verbatim leaked passage is reported with its exact extent. Shape:
    * one distinct over eval keys + one equi-join — never corpora ×
    * corpora; eval benchmarks are the small side and broadcast at scale.
    *
    * `isEval` is a predicate over `docs` rows naming the held-out group.
    */
  def contaminationSpans(docs: DataFrame, idCol: String, textCol: String,
                         isEval: Column, L: Int): DataFrame =
    contaminationSpansKeyed(windowKeys(tokenize(docs, idCol, textCol), L),
      docs, idCol, isEval, L)

  /** [[contaminationSpans]] over the shared [[LabelBase]] (the three
    * suffix fronts share one tokenize + token densify + first-round
    * densify per corpus — see [[LabelBase]]).
    *
    * The key derivation is SPLIT BY DOC GROUP below the lead windows
    * (round 17): the generic keyed path filters eval/train ABOVE the
    * window-key projection, so each side's branch replayed the per-doc
    * lead windows over the WHOLE corpus (Catalyst cannot push a
    * joined-flag filter below a window). Positions are per-doc and the
    * lead windows are per-doc, so restricting the base to one group's
    * docs BEFORE the windows yields exactly the same keys for exactly
    * that group's positions — one corpus-sized window pass total (eval
    * subset + train subset) instead of two, and the eval side's pass
    * shrinks to the benchmark suite's own rows.
    */
  private[graft] def contaminationSpansFromBase(base: LabelBase,
      docs: DataFrame, idCol: String, isEval: Column, L: Int): DataFrame = {
    val groups = docs.select(col(idCol).as("doc_id"), isEval.as("__eval"))
    def slice(wantEval: Boolean): LabelBase = {
      val ids = groups.where(if (wantEval) col("__eval") else !col("__eval"))
        .select(col("doc_id"))
      // only the EVAL id list is broadcast-by-contract (benchmark suite);
      // the train side is corpus-doc-cardinality — planner/AQE choose
      base.copy(lbl = base.lbl.join(
        if (wantEval) broadcast(ids) else ids, Seq("doc_id"), "left_semi"))
    }
    val evalKeys = windowKeysFromBase(slice(wantEval = true), L)
      .select(col("__k")).distinct()
    val covered = windowKeysFromBase(slice(wantEval = false), L)
      .join(broadcast(evalKeys), Seq("__k"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spansFromCovered(covered, L)
  }

  private def contaminationSpansKeyed(keyed0: DataFrame, docs: DataFrame,
      idCol: String, isEval: Column, L: Int): DataFrame = {
    val groups = docs.select(col(idCol).as("doc_id"), isEval.as("__eval"))
    val keyed = keyed0.join(groups, Seq("doc_id"))
    // "window occurs in SOME eval doc" as a distinct over the EVAL side's
    // keys + a BROADCAST semi join (round-17 skew-safety, VERDICT r16
    // #1): round 16 used a max-flag over the __k-partitioned window —
    // one full-table exchange, but every occurrence of one key buffered
    // in one window task (hot boilerplate n-grams pin a straggler at
    // corpus scale). The eval group is the held-out BENCHMARK suite —
    // small by contract and independent of corpus growth — so its
    // distinct key set broadcasts and the training side is never
    // exchanged at all: strictly fewer shuffled bytes than the window
    // AND no per-key buffering anywhere (the distinct partial-aggregates
    // map-side over eval rows only).
    val evalKeys = keyed.where(col("__eval")).select(col("__k")).distinct()
    val covered = keyed.where(!col("__eval"))
      .join(broadcast(evalKeys), Seq("__k"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spansFromCovered(covered, L)
  }

  /** One decontamination run's full output set, sharing ONE suffix front.
    *
    * @param spans   exact leakage spans — [[contaminationSpans]]' schema
    * @param perDoc  (doc_id, <groupCol>, n_tokens, n_spans,
    *                contaminated_tokens) for every TRAINING doc
    * @param removal the apply head (`decontamination_suffix_removal`'s
    *                exact schema)
    * @param rates   the governance head (`contamination_rate_by_source`'s
    *                exact schema)
    */
  final case class DecontamBundle(spans: DataFrame, perDoc: DataFrame,
                                  removal: DataFrame, rates: DataFrame)

  /** End-to-end decontamination: compute the prefix-doubling span front
    * ONCE and derive every head from it — the shape a real curation run
    * takes. The standalone `decontamination_suffix` / `_removal` /
    * `contamination_rate_by_source` queries share the same pinned front
    * through [[FrontCache]] (round-13 ask #3 — previously each paid the
    * full suffix pipeline per query); a pipeline run wants the spans
    * `localCheckpoint`ed (pinned + lineage-truncated, like PageRank's
    * iterations) and the cheap per-doc/per-source heads derived from the
    * pinned frame ([[decontaminateFromSpans]]). Each head is
    * row-identical to its standalone query by construction — the specs
    * pin that.
    *
    * `groupCol` names the training-feed grouping for the rates head (the
    * reference corpus' `source`).
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, isEval: Column, L: Int): DecontamBundle =
    decontaminateFromSpans(
      contaminationSpans(docs, idCol, textCol, isEval, L).localCheckpoint(),
      docs, idCol, textCol, groupCol, isEval)

  /** [[decontaminate]] over an ALREADY-pinned spans frame (a
    * [[FrontCache]] entry or a `Warehouse` snapshot) — the entry point
    * that lets several independent queries of one run share one suffix
    * front. `spans` must be [[contaminationSpans]]' output for the same
    * (docs, isEval, L), already materialized (localCheckpoint/parquet);
    * this method never recomputes or re-pins it.
    */
  def decontaminateFromSpans(spans: DataFrame, docs: DataFrame, idCol: String,
                             textCol: String, groupCol: String,
                             isEval: Column): DecontamBundle = {
    val per = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("removed"))
    // one row per training doc: bounded by the corpus' doc count, the
    // frame every downstream head re-aggregates — pin it too
    val perDoc = docs.where(!isEval)
      .select(col(idCol).as("doc_id"), col(groupCol),
        size(graft.functions.TextAnalysisFns.tokens(col(textCol)))
          .cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col(groupCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed"), lit(0L)).as("contaminated_tokens"))
      .localCheckpoint()
    val removal = perDoc
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("contaminated_tokens"),
        (col("n_tokens") - col("contaminated_tokens")).as("retained_tokens"))
      .orderBy(col("doc_id"))
    val rates = perDoc.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated_tokens") > 0, 1L).otherwise(0L))
          .as("contaminated_docs"),
        sum(col("contaminated_tokens")).as("__rt"),
        sum(col("n_tokens")).as("__tt"))
      .select(col(groupCol), col("n_docs"), col("contaminated_docs"),
        (col("contaminated_docs").cast("double") /
          col("n_docs").cast("double")).as("doc_rate"),
        (col("__rt").cast("double") / col("__tt").cast("double"))
          .as("token_share"))
      .orderBy(col(groupCol))
    DecontamBundle(spans, perDoc, removal, rates)
  }
}
