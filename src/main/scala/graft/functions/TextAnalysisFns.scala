package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * token counting (whitespace + BPE-ish regex), language identification
  * (stopword n-gram heuristic), quality scoring, and fingerprinting glue.
  * All built-in expressions — at 100 TB these run inside whole-stage
  * codegen over the scan, no shuffle.
  */
object TextAnalysisFns {

  /** Whitespace tokenization; empty string → empty array. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def wordCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: GPT-2-style pretokenizer regex match count.
    * Counts contractions, word runs, digit runs, punctuation runs.
    *
    * DOCUMENTED DEVIATION from the reference (F14): the reference counts
    * with tiktoken's o200k_base encoding for "gpt-4o-mini"
    * (`core/extract/ConvoDataExtract.py:74-82` — `tiktoken
    * .encoding_for_model(...).encode(text)`), whose merge table is a
    * 200k-entry learned vocabulary this container cannot ship. This
    * regex reproduces only the PRE-tokenizer split, i.e. it counts one
    * token per pretoken and never splits a long word into subwords, so:
    *  - short common-word English text matches closely (most pretokens
    *    are single BPE tokens);
    *  - it UNDERCOUNTS text with long/rare words, non-Latin scripts, or
    *    heavy Unicode (each multi-subword pretoken counts once);
    *  - it never OVERCOUNTS (BPE merges cannot join across pretoken
    *    boundaries).
    * So the value is a deterministic lower bound on the tiktoken count.
    * For EXACT counts use [[graft.expressions.BpeCountTokens]] — the real
    * byte-level merge-loop BPE over a GPT-2-format merges table (shipped:
    * the corpus-trained table; drop in OpenAI's published merges.txt for
    * GPT-2-exact counts). This regex variant stays as the zero-table
    * fallback. The reference's failure mode (any exception → 0,
    * `ConvoDataExtract.py:78-82`) is not reproduced: the regex cannot
    * throw.
    */
  val BpeishPattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"
  def bpeishTokenCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Order-sensitive integer fold hash of a BPE id sequence
    * (`((0·31+id₀)·31+id₁)… mod 1e9+7`) — the ONE definition both
    * `bpe_ids_fingerprint` and `pack_fingerprint`'s per-doc hash use, so
    * their cross-query invariant (pack hashes chain doc hashes) cannot
    * drift. Mirrored by the fold inside [[graft.queries.Sql.bpeIdCtes]].
    */
  def bpeIdsFoldHash(ids: Column): Column =
    aggregate(ids, lit(0L), (a, x) => (a * 31 + x.cast("long")) % 1000000007L)

  /** Stopword marker lists for the n-gram/stopword language-ID heuristic.
    * Scores are counts of distinct token hits per language; deterministic
    * priority order breaks ties.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "un", "una", "es"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "du", "est", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "eine", "nicht", "mit", "den"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "zhe", "men", "bu"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(array_intersect(array_distinct(tokens(lower(text))),
      array(markers.map(lit): _*)))

  /** Language-ID: argmax of marker-hit score; ties resolved by list order;
    * all-zero → "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> langScore(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best === 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Quality metrics: character length, word count, mean word length,
    * punctuation ratio, stopword ratio, uppercase ratio.
    */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[^a-zA-Z0-9\\s]")).cast("double") / n.cast("double"))
  }

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val en = array(LangMarkers.head._2.map(lit): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(en, t))).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: rewards reasonable length and
    * stopword presence, penalizes punctuation soup. Deterministic rational
    * arithmetic (all terms are exact ratios or clamps).
    */
  def qualityScore(text: Column): Column = {
    val lenTerm  = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopTerm = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punTerm  = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    (lenTerm + stopTerm + punTerm) / 3.0
  }

  /** Document fingerprint — rolling hash over tokens (HashFns). */
  def fingerprint(text: Column): Column =
    HashFns.rollingFingerprint(tokens(text))

  /** DEFLATE-compressed byte count (graft.expressions.DeflateLen). */
  def deflateLen(text: Column): Column =
    graft.expressions.DeflateLen(text)

  /** Compression ratio: deflated bytes / raw UTF-8 bytes (empty → 1.0).
    * The CCNet/RefinedWeb-style quality cut: boilerplate and templated
    * spam sit far below prose (≲0.3), random noise near/above 1.0 —
    * prose lands in a band in between. Pure per-row projection, no
    * shuffle; the band bounds are the caller's policy.
    */
  def compressRatio(text: Column): Column = {
    val raw = octet_length(text).cast("double")
    when(raw === 0.0, lit(1.0))
      .otherwise(deflateLen(text).cast("double") / raw)
  }

  /** Fixed-width pseudo-lines: consecutive `n`-token windows re-joined
    * with single spaces (the last window may be short); empty text →
    * empty array. The "line" unit for line-level dedup on corpora without
    * newline structure — on real text, split on '\n' instead.
    */
  def pseudoLines(text: Column, n: Int): Column = {
    require(n > 0, "pseudo-line width must be positive")
    val toks = tokens(text)
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks), lit(n)),
        s => array_join(slice(toks, s, lit(n)), " ")))
  }
}
