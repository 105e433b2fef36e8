package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Common surface of the two byte-level-BPE tokenizer families the engine
  * loads — the explicit-merges GPT-2 file format ([[BpeOps.Tokenizer]])
  * and the base64 rank-file tiktoken format ([[BpeOps.RankTokenizer]],
  * the format the reference's actual `gpt-4o-mini`/o200k_base encoding
  * ships in — `core/extract/ConvoDataExtract.py:74-82`). Top-level trait
  * so whole-stage-codegen'd Java references the interface by its clean
  * binary name; the expressions pass the encoder instance through
  * `ctx.addReferenceObj`, so the per-row cost is one virtual call.
  */
trait BpeEncoder extends Serializable {
  /** Pretokens of a text under this encoding's pretokenizer, in order. */
  def pretokenize(text: String): Vector[String]
  /** Exact token count; null/empty → 0. Specials count as plain text. */
  def countTokens(text: String): Long
  /** Exact token ids in document order; special tokens are atomic. */
  def encodeIds(text: String): Array[Int]
  /** The token sequence as mapped-symbol strings (GPT-2 byte→unicode),
    * pretokens concatenated in order; specials treated as plain text.
    */
  def encodeTokenStrings(text: String): Vector[String]

  // --- codegen entry points (called from generated Java) ---
  final def countTokensUtf8(s: UTF8String): Long = countTokens(s.toString)
  final def encodeIdsUtf8(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(encodeIds(s.toString))
  final def encodeTokensUtf8(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      encodeTokenStrings(s.toString).map(t => UTF8String.fromString(t): Any).toArray)
}

/** Exact byte-level BPE (the GPT-2 / tiktoken tokenizer family), closing
  * F14's documented lower bound: the reference counts with a real BPE
  * (`core/extract/ConvoDataExtract.py:74-82`, tiktoken for "gpt-4o-mini");
  * this is the same ALGORITHM — GPT-2 pretokenizer regex, byte→unicode
  * symbol mapping, and the authentic min-rank merge loop — driven by any
  * merges table in the public GPT-2 `merges.txt` file format. The shipped
  * table (`/graft/bpe/merges.txt`, 32 merges trained on the synthetic
  * documents corpus with the [[graft.queries.TrainingWave2Queries]]
  * bpe_merge_train procedure) makes counts EXACT with respect to that
  * table; loading OpenAI's published `gpt2/merges.txt` through the same
  * loader reproduces GPT-2 token counts byte-for-byte — the table is
  * data, not code.
  *
  * Scale: encoding is a per-row static call inside whole-stage codegen —
  * no shuffle, no UDF, and a process-wide pretoken cache (the same trick
  * as GPT-2's `encoder.py` cache) collapses the Zipfian head of any real
  * corpus to hash lookups.
  */
object BpeOps {

  /** GPT-2's bytes→unicode map (public `encoder.py bytes_to_unicode`):
    * the three printable Latin-1 runs map to themselves; the remaining
    * 68 byte values map to U+0100+n in ascending order — every byte gets
    * a VISIBLE single-char symbol, so merge-table entries never contain
    * whitespace (space = 0x20 → 'Ġ').
    */
  val byteToChar: Array[Char] = {
    val printable = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
    val out = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (printable(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
    }
    out
  }

  /** UTF-8 bytes of a pretoken → the mapped symbol string (one char per
    * byte — the initial BPE symbol sequence).
    */
  def mapBytes(pretoken: String): String = {
    val bytes = pretoken.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xFF)); i += 1 }
    sb.toString
  }

  /** The GPT-2 pretokenizer (public `encoder.py` pattern): contractions,
    * space-prefixed letter/digit/punct runs, and whitespace with the
    * keep-last-space-for-the-next-word lookahead.
    */
  val Gpt2Pattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** Pretokens of `text` under `pattern`, in order. */
  def pretokenize(pattern: java.util.regex.Pattern, text: String): Vector[String] = {
    if (text == null || text.isEmpty) return Vector.empty
    val m = pattern.matcher(text)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group()
    b.result()
  }

  /** Single forward scan splitting `text` at special-token occurrences:
    * each special's next position is cached and only re-searched once the
    * cursor passes it — amortized O(specials · |text|), no substring
    * copies. `specialsByLength` must be longest-first so at equal
    * positions the longest special wins (the tiktoken resolution).
    * Shared by both tokenizer families.
    */
  private[expressions] def scanSpecials(text: String,
      specialsByLength: Seq[(String, Int)])(
      emitSpecial: Int => Unit, encodePlain: String => Unit): Unit = {
    if (specialsByLength.isEmpty) { encodePlain(text); return }
    val specials = specialsByLength.toArray
    val nextAt = Array.fill(specials.length)(-2) // -2 = stale, -1 = absent
    var pos = 0
    while (pos < text.length) {
      var bestPos = -1
      var bestIdx = -1
      var i = 0
      while (i < specials.length) {
        if (nextAt(i) != -1 && nextAt(i) < pos)
          nextAt(i) = text.indexOf(specials(i)._1, pos)
        val p = nextAt(i)
        if (p >= 0 && (bestPos < 0 || p < bestPos)) { bestPos = p; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) { encodePlain(text.substring(pos)); pos = text.length }
      else {
        if (bestPos > pos) encodePlain(text.substring(pos, bestPos))
        emitSpecial(specials(bestIdx)._2)
        pos = bestPos + specials(bestIdx)._1.length
      }
    }
  }

  /** Parse the GPT-2 `merges.txt` format: optional `#version` header,
    * then one "<first> <second>" pair per line, rank = line order.
    */
  def parseMerges(lines: Iterator[String]): Vector[(String, String)] = {
    val merges = lines.map(_.stripLineEnd)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.lastIndexOf(' ')
        require(i > 0 && i < l.length - 1, s"malformed merges line: '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }.toVector
    // two merges with the same OUTPUT would make the derived token→id map
    // ambiguous (HashMap last-put wins) while the oracle's vocab VALUES
    // kept both rows — fail loudly instead of silently diverging
    val dupOut = merges.groupBy { case (a, b) => a + b }
      .collectFirst { case (out, ms) if ms.size > 1 => out }
    require(dupOut.isEmpty,
      s"merges table has two merges producing '${dupOut.get}' — ambiguous ids")
    merges
  }

  /** Parse a GPT-2 `encoder.json` vocabulary (public file format: a JSON
    * object of mapped-token-string → id). When present it OVERRIDES the
    * derived merge-order ids, making id output byte-identical to a
    * published tokenizer's. Jackson keeps the exact unicode token keys.
    */
  def parseVocab(json: String): Map[String, Int] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    require(root != null && root.isObject, "encoder.json must be a JSON object")
    import scala.jdk.CollectionConverters._
    root.fields().asScala.map { e =>
      require(e.getValue.isIntegralNumber,
        s"encoder.json id for '${e.getKey}' is not an integer")
      e.getKey -> e.getValue.asInt()
    }.toMap
  }

  /** A BPE encoder over one merges table. Thread-safe; share one instance
    * per JVM (the expression path uses [[BpeOps.default]]).
    *
    * `explicitVocab`: a GPT-2 `encoder.json` map (see [[BpeOps.parseVocab]])
    * replacing the derived merge-order ids. `specialTokens`: atomic
    * strings (e.g. `<|endoftext|>` → 50256) cut out BEFORE pretokenization
    * and emitted as single ids — the tiktoken `allowed_special` behavior a
    * sequence assembler needs for document separators. `pattern`: the
    * encoding's pretokenizer (defaults to GPT-2's; each published encoding
    * defines its own — see [[BpeOps.Encodings]]).
    */
  final class Tokenizer(val merges: Vector[(String, String)],
                        explicitVocab: Option[Map[String, Int]] = None,
                        val specialTokens: Map[String, Int] = Map.empty,
                        val pattern: java.util.regex.Pattern = BpeOps.Gpt2Pattern)
      extends BpeEncoder {
    // a special token sharing an id with a vocab token would make two
    // distinct tokens indistinguishable in downstream id sequences — fail
    // at construction, not in data. With an explicit vocab the special may
    // legitimately BE a vocab entry (GPT-2's encoder.json carries
    // <|endoftext|> at 50256) as long as the same string maps to the id.
    specialTokens.foreach { case (tok, id) =>
      explicitVocab match {
        case Some(v) =>
          require(!v.exists { case (t, i) => i == id && t != tok },
            s"special token '$tok' id $id collides with a different vocab token")
          // ...and conversely: if the special's STRING is a vocab entry it
          // must carry the same id, else the surface string would encode
          // to two different ids depending on whether the special path or
          // the vocab path handled it.
          require(v.get(tok).forall(_ == id),
            s"special token '$tok' exists in the vocab under id ${v(tok)}, not $id")
        case None =>
          require(id < 0 || id > 255 + merges.size,
            s"special token '$tok' id $id lies inside the derived id range 0..${255 + merges.size}")
      }
    }
    private val ranks: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      merges.zipWithIndex.foreach { case ((a, b), r) => m.put(a + "\u0000" + b, r) }
      m
    }
    // pretoken → encoded tokens cache (encoder.py's `self.cache`), bounded
    // so adversarial high-cardinality input can't leak memory. Caching the
    // token VECTOR (not just its size) serves counting, token, and id
    // encoding alike — the Zipfian head of a real corpus collapses to
    // hash lookups on every path.
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()
    private val CacheCap = 1 << 17

    /** Encoded tokens of one pretoken (cached). */
    def encodePretoken(pretoken: String): Vector[String] = {
      val hit = cache.get(pretoken)
      if (hit != null) return hit
      val v = encodeMapped(mapBytes(pretoken))
      if (cache.size < CacheCap) cache.put(pretoken, v)
      v
    }

    private def rankOf(a: String, b: String): Int = {
      val r = ranks.get(a + "\u0000" + b)
      if (r == null) Int.MaxValue else r.intValue()
    }

    /** The authentic merge loop (`encoder.py bpe()`): repeatedly find the
      * LOWEST-RANK adjacent pair present, merge all its occurrences
      * leftmost-greedily, until no adjacent pair is in the table.
      * Input/output are mapped symbol sequences.
      */
    def encodeMapped(mapped: String): Vector[String] = {
      if (mapped.isEmpty) return Vector.empty
      var word: Vector[String] = mapped.map(_.toString).toVector
      while (word.size >= 2) {
        var best = Int.MaxValue
        var bi = -1
        var i = 0
        while (i < word.size - 1) {
          val r = rankOf(word(i), word(i + 1))
          if (r < best) { best = r; bi = i }
          i += 1
        }
        if (bi < 0) return word
        val (p1, p2) = merges(best)
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < word.size) {
          if (j + 1 < word.size && word(j) == p1 && word(j + 1) == p2) {
            out += p1 + p2; j += 2
          } else { out += word(j); j += 1 }
        }
        word = out.result()
      }
      word
    }

    /** Token count of one pretoken (cached). */
    def countPretoken(pretoken: String): Int = encodePretoken(pretoken).size

    override def pretokenize(text: String): Vector[String] =
      BpeOps.pretokenize(pattern, text)

    /** Exact BPE token count of a text: pretokenize, then encode each
      * pretoken. Empty/blank → 0.
      */
    override def countTokens(text: String): Long = {
      if (text == null || text.isEmpty) return 0L
      val m = pattern.matcher(text)
      var n = 0L
      while (m.find()) n += countPretoken(m.group())
      n
    }

    override def encodeTokenStrings(text: String): Vector[String] = {
      if (text == null || text.isEmpty) return Vector.empty
      val out = Vector.newBuilder[String]
      val m = pattern.matcher(text)
      while (m.find()) encodePretoken(m.group()).foreach(out += _)
      out.result()
    }

    /** Token → id, the standard derivation for a trained-from-scratch
      * GPT-2-style tokenizer: the 256 base byte symbols get ids 0–255 (in
      * byte-value order), each merge's output gets 256 + rank. (Published
      * GPT-2 ships an explicit encoder.json instead — loading one would
      * replace this map; ids are data, the encode loop is identical.)
      * Total: no out-of-vocabulary token is reachable — every final
      * symbol is either a base byte or a merge output.
      */
    lazy val tokenToId: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](512 + merges.size * 2)
      explicitVocab match {
        case Some(v) => v.foreach { case (t, id) => m.put(t, id) }
        case None =>
          (0 until 256).foreach(b => m.put(BpeOps.byteToChar(b).toString, b))
          merges.zipWithIndex.foreach { case ((p1, p2), r) => m.put(p1 + p2, 256 + r) }
      }
      m
    }

    // longest-first so overlapping special strings resolve like tiktoken
    @transient private lazy val specialsByLength: Seq[(String, Int)] =
      specialTokens.toSeq.sortBy { case (t, _) => (-t.length, t) }

    /** Exact BPE token ids of a text, document order. Special tokens are
      * atomic: each occurrence emits its reserved id and never merges
      * with surrounding text.
      */
    override def encodeIds(text: String): Array[Int] = {
      if (text == null || text.isEmpty) return Array.empty
      val out = Array.newBuilder[Int]
      def encodePlain(seg: String): Unit = {
        val m = pattern.matcher(seg)
        while (m.find())
          encodePretoken(m.group()).foreach { t =>
            val id = tokenToId.get(t)
            require(id != null, s"token '$t' missing from the explicit vocabulary")
            out += id.intValue()
          }
      }
      BpeOps.scanSpecials(text, specialsByLength)(id => out += id, encodePlain)
      out.result()
    }

    /** Rank-order fold application (apply merge 1 everywhere, then merge
      * 2, ...) — the SQL-expressible formulation. For any VALID GPT-2
      * table (each merge's parts constructible only from earlier merges —
      * true of every trained table by construction) this is equivalent to
      * the min-rank loop; BpeSpec pins the equivalence on the shipped
      * table over the corpus, and the DuckDB oracle relies on it.
      */
    def applyMergesInOrder(mapped: String): Vector[String] = {
      var word: Vector[String] = mapped.map(_.toString).toVector
      merges.foreach { case (p1, p2) =>
        if (word.size >= 2) {
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < word.size) {
            if (j + 1 < word.size && word(j) == p1 && word(j + 1) == p2) {
              out += p1 + p2; j += 2
            } else { out += word(j); j += 1 }
          }
          word = out.result()
        }
      }
      word
    }
  }

  /** Parse the tiktoken rank-file format (the format OpenAI publishes
    * o200k_base / cl100k_base in): one `base64(token_bytes) rank` per
    * line. Ranks are simultaneously the merge priorities AND the token
    * ids — there is no separate merges/vocab pair.
    */
  def parseTiktoken(lines: Iterator[String]): Vector[(Array[Byte], Int)] = {
    val dec = java.util.Base64.getDecoder
    val out = lines.map(_.stripLineEnd).filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf(' ')
      require(i > 0 && i < l.length - 1, s"malformed tiktoken line: '$l'")
      (dec.decode(l.substring(0, i)), l.substring(i + 1).toInt)
    }.toVector
    require(out.map(_._2).distinct.size == out.size, "duplicate ranks in tiktoken file")
    require(out.map(e => new String(e._1, java.nio.charset.StandardCharsets.ISO_8859_1))
      .distinct.size == out.size, "duplicate tokens in tiktoken file")
    out
  }

  /** Serialize entries to the tiktoken rank-file format (ascending rank). */
  def renderTiktoken(entries: Vector[(Array[Byte], Int)]): String = {
    val enc = java.util.Base64.getEncoder
    entries.sortBy(_._2)
      .map { case (b, r) => s"${enc.encodeToString(b)} $r" }
      .mkString("", "\n", "\n")
  }

  /** A BPE encoder over a tiktoken rank file — the authentic tiktoken
    * semantics, distinct from the GPT-2 formulation: encoding operates on
    * RAW BYTES, and a pair of adjacent parts merges when their
    * concatenated bytes appear in the rank table, lowest rank first (one
    * merge per step, leftmost on ties). Ranks double as token ids.
    * Thread-safe; share one instance per JVM.
    */
  final class RankTokenizer(val entries: Vector[(Array[Byte], Int)],
                            val pattern: java.util.regex.Pattern,
                            val specialTokens: Map[String, Int] = Map.empty)
      extends BpeEncoder {
    // byte-sequence key: ISO-8859-1 maps bytes 1:1 onto chars 0–255
    private def k(bytes: Array[Byte], from: Int, until: Int): String =
      new String(bytes, from, until - from, java.nio.charset.StandardCharsets.ISO_8859_1)

    private val ranks: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](entries.size * 2)
      entries.foreach { case (b, r) => m.put(k(b, 0, b.length), r) }
      m
    }
    // every single byte must be a token or some input is unencodable
    (0 until 256).foreach { b =>
      require(ranks.containsKey(b.toChar.toString),
        s"tiktoken table is missing single-byte token 0x${b.toHexString}")
    }
    // special ids must be disjoint from the rank/id space (same contract
    // as Tokenizer's derived-range check)
    specialTokens.foreach { case (tok, id) =>
      require(!entries.exists(_._2 == id),
        s"special token '$tok' id $id collides with a rank-table id")
    }

    /** mapped-symbol token string → id (rank), for the expression path
      * that works in GPT-2 symbol space.
      */
    private val symToId: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](entries.size * 2)
      entries.foreach { case (b, r) =>
        val sb = new java.lang.StringBuilder(b.length)
        b.foreach(x => sb.append(BpeOps.byteToChar(x & 0xFF)))
        m.put(sb.toString, r)
      }
      m
    }

    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()
    private val CacheCap = 1 << 17

    /** The tiktoken byte-pair merge: repeatedly merge the adjacent part
      * pair whose concatenated bytes have the LOWEST rank `< maxRank`
      * (leftmost on ties), until none qualifies. Returns the final part
      * boundaries. `maxRank` < MaxValue is used by merge-pair recovery.
      */
    private[expressions] def tokenRanges(bytes: Array[Byte], maxRank: Int): Vector[(Int, Int)] = {
      val n = bytes.length
      if (n == 0) return Vector.empty
      val starts = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
      var done = starts.length < 2
      while (!done) {
        var best = maxRank
        var bi = -1
        var i = 0
        while (i < starts.length - 1) {
          val end = if (i + 2 < starts.length) starts(i + 2) else n
          val r = ranks.get(k(bytes, starts(i), end))
          if (r != null && r.intValue() < best) { best = r.intValue(); bi = i }
          i += 1
        }
        if (bi < 0) done = true
        else { starts.remove(bi + 1); done = starts.length < 2 }
      }
      Vector.tabulate(starts.length) { i =>
        (starts(i), if (i + 1 < starts.length) starts(i + 1) else n)
      }
    }

    /** Encoded tokens of one pretoken as mapped-symbol strings (cached). */
    def encodePretoken(pretoken: String): Vector[String] = {
      val hit = cache.get(pretoken)
      if (hit != null) return hit
      val bytes = pretoken.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val v = tokenRanges(bytes, Int.MaxValue).map { case (from, until) =>
        val sb = new java.lang.StringBuilder(until - from)
        var i = from
        while (i < until) { sb.append(BpeOps.byteToChar(bytes(i) & 0xFF)); i += 1 }
        sb.toString
      }
      if (cache.size < CacheCap) cache.put(pretoken, v)
      v
    }

    override def pretokenize(text: String): Vector[String] =
      BpeOps.pretokenize(pattern, text)

    override def countTokens(text: String): Long = {
      if (text == null || text.isEmpty) return 0L
      val m = pattern.matcher(text)
      var n = 0L
      while (m.find()) n += encodePretoken(m.group()).size
      n
    }

    override def encodeTokenStrings(text: String): Vector[String] = {
      if (text == null || text.isEmpty) return Vector.empty
      val out = Vector.newBuilder[String]
      val m = pattern.matcher(text)
      while (m.find()) encodePretoken(m.group()).foreach(out += _)
      out.result()
    }

    @transient private lazy val specialsByLength: Seq[(String, Int)] =
      specialTokens.toSeq.sortBy { case (t, _) => (-t.length, t) }

    override def encodeIds(text: String): Array[Int] = {
      if (text == null || text.isEmpty) return Array.empty
      val out = Array.newBuilder[Int]
      def encodePlain(seg: String): Unit = {
        val m = pattern.matcher(seg)
        while (m.find())
          encodePretoken(m.group()).foreach { t =>
            val id = symToId.get(t)
            require(id != null, s"token '$t' missing from the rank table")
            out += id.intValue()
          }
      }
      BpeOps.scanSpecials(text, specialsByLength)(id => out += id, encodePlain)
      out.result()
    }
  }

  /** Recover the implicit merge list of a tiktoken rank table: for each
    * multi-byte token in rank order, run the merge loop on its bytes with
    * only LOWER ranks enabled — a valid table (one produced by sequential
    * BPE training, as all published ones are) leaves exactly two parts,
    * which ARE the merge pair. Returned as mapped-symbol string pairs in
    * rank order — the form the rank-order-fold DuckDB oracle consumes
    * (BpeSpec pins fold ≡ tiktoken-loop corpus-wide, the same law the
    * GPT-2 oracle rests on).
    */
  def mergePairsFromRanks(entries: Vector[(Array[Byte], Int)]): Vector[(String, String)] = {
    val probe = new RankTokenizer(entries, Gpt2Pattern)
    entries.filter(_._1.length > 1).sortBy(_._2).map { case (bytes, rank) =>
      val parts = probe.tokenRanges(bytes, rank)
      require(parts.size == 2,
        s"rank-$rank token does not split into two lower-rank parts " +
          s"(${parts.size}) — not a sequentially-trained table")
      def sym(from: Int, until: Int): String = {
        val sb = new java.lang.StringBuilder(until - from)
        var i = from
        while (i < until) { sb.append(byteToChar(bytes(i) & 0xFF)); i += 1 }
        sb.toString
      }
      (sym(parts(0)._1, parts(0)._2), sym(parts(1)._1, parts(1)._2))
    }
  }

  /** The published encoding definitions (tiktoken's public
    * `openai_public.py`): per-encoding pretokenizer regex and special
    * tokens. The regexes are data about a public file format; Java's
    * engine supports their possessive quantifiers and lookaheads
    * directly.
    */
  object Encodings {
    import java.util.regex.Pattern.{compile, UNICODE_CHARACTER_CLASS}

    /** o200k_base (GPT-4o family — the reference's `gpt-4o-mini`
      * encoding, `core/extract/ConvoDataExtract.py:74-82`): word tokens
      * may lead with one non-letter/digit char and absorb a
      * case-insensitive contraction suffix; digit runs chunk at 3.
      */
    val O200kPattern: java.util.regex.Pattern = compile(Seq(
      "[^\\r\\n\\p{L}\\p{N}]?[\\p{Lu}\\p{Lt}\\p{Lm}\\p{Lo}\\p{M}]*" +
        "[\\p{Ll}\\p{Lm}\\p{Lo}\\p{M}]+(?i:'s|'t|'re|'ve|'m|'ll|'d)?",
      "[^\\r\\n\\p{L}\\p{N}]?[\\p{Lu}\\p{Lt}\\p{Lm}\\p{Lo}\\p{M}]+" +
        "[\\p{Ll}\\p{Lm}\\p{Lo}\\p{M}]*(?i:'s|'t|'re|'ve|'m|'ll|'d)?",
      "\\p{N}{1,3}",
      " ?[^\\s\\p{L}\\p{N}]+[\\r\\n/]*",
      "\\s*[\\r\\n]+",
      "\\s+(?!\\S)",
      "\\s+").mkString("|"), UNICODE_CHARACTER_CLASS)
    val O200kSpecials: Map[String, Int] = Map(
      "<|endoftext|>" -> 199999, "<|endofprompt|>" -> 200018)
  }

  /** Train a merges table from pretoken frequencies — the reference
    * procedure the SHIPPED resource was produced with (and the same
    * weighted-pair-counting trick as the distributed `bpe_merge_train`
    * gate query: after the one corpus pass that built `freqs`, every
    * round runs on the vocab table, never the corpus). Deterministic:
    * each round merges the (count DESC, "p1 p2" ASC) argmax pair,
    * applied leftmost-greedily. BpeSpec pins that re-running this on the
    * corpus reproduces the resource byte-for-byte — the table is derived
    * data with recorded provenance, not a magic blob.
    */
  def train(freqs: Map[String, Long], rounds: Int): Vector[(String, String)] = {
    var vocab: Map[Vector[String], Long] =
      freqs.toSeq.groupMapReduce { case (pt, _) => mapBytes(pt).map(_.toString).toVector }(_._2)(_ + _)
    val out = Vector.newBuilder[(String, String)]
    var r = 0
    var continue = true
    while (r < rounds && continue) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairs.update(k, pairs.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (pairs.isEmpty) continue = false
      else {
        val (p1, p2) = pairs.toSeq
          .minBy { case ((a, b), c) => (-c, a + " " + b) }._1
        out += ((p1, p2))
        vocab = vocab.toSeq.groupMapReduce { case (syms, _) =>
          val m = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == p1 && syms(j + 1) == p2) {
              m += p1 + p2; j += 2
            } else { m += syms(j); j += 1 }
          }
          m.result()
        }(_._2)(_ + _)
        r += 1
      }
    }
    out.result()
  }

  /** The shipped corpus-trained table (GPT-2 file format, classpath
    * resource) — swap the resource for OpenAI's `merges.txt` to count
    * exactly as GPT-2.
    */
  lazy val default: Tokenizer = {
    val in = getClass.getResourceAsStream("/graft/bpe/merges.txt")
    require(in != null, "missing resource /graft/bpe/merges.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try new Tokenizer(parseMerges(src.getLines())) finally src.close()
  }

  /** The committed o200k-subset fixture (tiktoken rank-file format,
    * classpath resource): the o200k_base PRETOKENIZER and SPECIAL TOKENS
    * driving a corpus-trained subset vocabulary — proving the reference's
    * actual `gpt-4o-mini` encoding file drops in as data through the same
    * loader (the full published o200k_base.tiktoken is ~4 MB; the subset
    * keeps the repo light while exercising every format/semantics path).
    * Provenance is spec-pinned: BpeSpec retrains the resource
    * byte-for-byte from the corpus.
    */
  lazy val o200kFixture: RankTokenizer = {
    val in = getClass.getResourceAsStream("/graft/bpe/o200k_fixture.tiktoken")
    require(in != null, "missing resource /graft/bpe/o200k_fixture.tiktoken")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try new RankTokenizer(parseTiktoken(src.getLines()),
      Encodings.O200kPattern, Encodings.O200kSpecials)
    finally src.close()
  }

  /** Static entry point for generated code. */
  def countTokens(s: UTF8String): Long = default.countTokens(s.toString)

  /** Static entry point for generated code: token ids, document order. */
  def encodeIds(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      default.encodeIds(s.toString))

  /** Static entry point for generated code: the full encoded token
    * sequence (mapped-symbol strings, pretokens concatenated in order).
    */
  def encodeTokens(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val text = s.toString
    val out = Vector.newBuilder[Any]
    if (text.nonEmpty) {
      val m = Gpt2Pattern.matcher(text)
      while (m.find())
        default.encodePretoken(m.group()).foreach(t => out += UTF8String.fromString(t))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.result().toArray)
  }
}

/** `bpe_count_tokens(text)` — exact BPE token count as a codegen-friendly
  * expression: one call per row on the bound [[BpeEncoder]] (passed as a
  * codegen reference object), enclosing operators stay in whole-stage
  * codegen. Defaults to the shipped GPT-2-format table; pass
  * [[BpeOps.o200kFixture]] (or any loaded encoder) to count under a
  * different encoding.
  */
case class BpeCountTokens(child: Expression, enc: BpeEncoder) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_count_tokens expects string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    enc.countTokensUtf8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", enc, "graft.expressions.BpeEncoder")
    defineCodeGen(ctx, ev, s => s"$ref.countTokensUtf8($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeCountTokens {
  def apply(s: Column): Column = apply(s, BpeOps.default)
  def apply(s: Column, enc: BpeEncoder): Column =
    Bridge.column(BpeCountTokens(Bridge.expression(s), enc))
}

/** `bpe_tokens(text)` — the encoded BPE token sequence (mapped-symbol
  * strings, document order) as a codegen expression; feeds explode-based
  * vocabulary statistics. Array-valued, so it never appears in an oracle
  * OUTPUT directly — gate queries aggregate it first.
  */
case class BpeEncodeTokens(child: Expression, enc: BpeEncoder) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens expects string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    enc.encodeTokensUtf8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", enc, "graft.expressions.BpeEncoder")
    defineCodeGen(ctx, ev, s => s"$ref.encodeTokensUtf8($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeEncodeTokens {
  def apply(s: Column): Column = apply(s, BpeOps.default)
  def apply(s: Column, enc: BpeEncoder): Column =
    Bridge.column(BpeEncodeTokens(Bridge.expression(s), enc))
}

/** `bpe_ids(text)` — exact BPE token ids (base bytes 0–255, merges
  * 256+rank), document order — what actually feeds a training tensor.
  */
case class BpeEncodeIds(child: Expression, enc: BpeEncoder) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_ids expects string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    enc.encodeIdsUtf8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", enc, "graft.expressions.BpeEncoder")
    defineCodeGen(ctx, ev, s => s"$ref.encodeIdsUtf8($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeEncodeIds {
  def apply(s: Column): Column = apply(s, BpeOps.default)
  def apply(s: Column, enc: BpeEncoder): Column =
    Bridge.column(BpeEncodeIds(Bridge.expression(s), enc))
}
