package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500 / WARC/1.0–1.1) ingestion — the standard container
  * for web-scrape corpora (Common Crawl ships ~100 TB per crawl as
  * `.warc.gz`), and therefore the entry point a training-data pipeline
  * at this engine's target scale actually reads. The reference pipeline
  * has no web-scrape ingestion; this is a framework-native source:
  * parse the public format exactly, degrade malformed data honestly,
  * keep the Spark surface declarative.
  *
  * Scale shape: one task per WARC file (the Common Crawl layout is
  * ~1 GB per file, hundreds of thousands of files per crawl), driven by
  * `spark.read.format("binaryFile")` or any (path, content) DataFrame —
  * parallelism comes from the file count, which is the same execution
  * model production CC processors use. Parsing is a per-partition
  * flatMap: no shuffle, no driver involvement, predicate pushdown on
  * the emitted columns happens after a narrow projection. Files beyond
  * 2 GB (the JVM array cap; CC caps at 1 GB) need a streaming splitter
  * — documented boundary, loud error rather than silent truncation.
  *
  * Honest degrades: a malformed record header or short block ends that
  * FILE's parse at the last good record (web archives are routinely
  * tail-truncated); per-record damage never throws into the job.
  */
object Warc {

  /** One parsed WARC record. `body` is the raw block; for HTTP response
    * records the HTTP envelope is additionally parsed into
    * status/headers/payload, the payload DECHUNKED (Transfer-Encoding:
    * chunked) and CONTENT-DECODED (gzip/x-gzip/deflate) — Common Crawl
    * stores raw HTTP responses, so without this the text column carries
    * chunk framing and compressed bytes. `httpContentEncoding` /
    * `httpTransferEncoding` name the encoding REMAINING on `body`: ""
    * once fully decoded (or none was present); the original header value
    * when the encoding is unsupported (br, zstd) or its framing is
    * malformed — downstream treats such bodies as binary rather than
    * decoding garbage.
    */
  final case class WarcRecord(
      warcType: String,
      recordId: String,
      date: String,
      targetUri: String,
      contentType: String,
      contentLength: Long,
      httpStatus: Int, // -1 when the block carries no HTTP envelope
      httpContentType: String, // "" likewise
      httpContentEncoding: String, // encoding still on body ("" = identity)
      httpTransferEncoding: String, // "" once dechunked / none
      body: Array[Byte]) // HTTP payload for http blocks, raw block otherwise

  private val Crlf = "\r\n".getBytes("ISO-8859-1")

  /** Parse every record in a WARC file (gzip-transparent: `.warc.gz`
    * files are concatenated per-record gzip members, which the JDK
    * inflater walks natively). Damaged tails yield the records parsed
    * so far; a non-WARC payload yields Nil.
    */
  def parseAll(payload: Array[Byte]): Seq[WarcRecord] = {
    if (payload == null || payload.length < 12) return Nil
    val bytes =
      if ((payload(0) & 0xFF) == 0x1F && (payload(1) & 0xFF) == 0x8B) gunzipAll(payload)
      else payload
    if (bytes == null) return Nil
    val out = Seq.newBuilder[WarcRecord]
    var off = 0
    var ok = true
    while (ok && off < bytes.length) {
      parseRecord(bytes, off) match {
        case Some((rec, next)) =>
          out += rec
          off = next
        case None =>
          ok = false // damaged tail: keep what parsed
      }
    }
    out.result()
  }

  /** Concatenated-member gzip inflate with a 2 GB output cap. */
  private def gunzipAll(gz: Array[Byte]): Array[Byte] = {
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz), 1 << 16)
      val out = new java.io.ByteArrayOutputStream(math.min(gz.length * 4, 1 << 20))
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      var total = 0L
      while (n > 0) {
        total += n
        // over the JVM byte[] cap: degrade (null → caller keeps raw bytes
        // or Nil) rather than throw out of parseAll and fail the Spark
        // task on one oversized file. Whole-file >2 GiB archives belong
        // on the streaming path ([[parseStream]]/[[recordsFromPaths]]),
        // which never materializes the inflated file.
        if (total > Int.MaxValue - 16) return null
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.ZipException => null
      case _: java.io.EOFException => null
    }
  }

  /** Streaming record walk — the >2 GiB path: records are parsed off a
    * bounded InputStream (gzip-transparent, concatenated members walked
    * natively by the JDK inflater) one at a time, so heap holds ONE
    * record block at most, never the inflated file. Common Crawl caps
    * files at ~1 GB but other crawl sources don't; this is the honest
    * answer where [[parseAll]]'s byte[] form degrades. Same damage
    * contract: a malformed header, over-cap record (> 2 GB block — the
    * format's own unit must still fit one array), or truncated tail ends
    * the walk at the last good record; nothing throws out of `next()`.
    *
    * The caller owns `in`'s lifetime; the iterator never closes it
    * (close after exhaustion — [[recordsFromPaths]] shows the pattern).
    */
  def parseStream(in: java.io.InputStream): Iterator[WarcRecord] =
    parseStreamFiltered(in, (_, _, _) => true, needBlock = true)

  /** [[parseStream]] with SOURCE-SIDE record skipping — the walk the
    * DSv2 connector's filter pushdown compiles to. `keep(warcType,
    * targetUri, contentType)` is evaluated on the WARC headers BEFORE
    * the record block is touched: a rejected record's block bytes are
    * skipped, never allocated, envelope-parsed, or content-decoded —
    * under a selective pushed predicate (one host out of a crawl
    * segment) that's the difference between walking headers and
    * inflating gigabytes. `needBlock = false` additionally skips the
    * block of KEPT records (column pruning: no body/http_* column
    * requested) — such records carry an empty body and a -1/-""
    * envelope; WARC headers stay exact.
    */
  def parseStreamFiltered(in: java.io.InputStream,
                          keep: (String, String, String) => Boolean,
                          needBlock: Boolean): Iterator[WarcRecord] = {
    val s: java.io.InputStream =
      try {
        val pb = new java.io.PushbackInputStream(
          new java.io.BufferedInputStream(in, 1 << 16), 2)
        val b1 = pb.read()
        if (b1 < 0) return Iterator.empty
        val b2 = pb.read()
        if (b2 >= 0) pb.unread(b2)
        pb.unread(b1)
        if (b1 == 0x1F && b2 == 0x8B)
          new java.util.zip.GZIPInputStream(pb, 1 << 16)
        else pb
      } catch { case _: java.io.IOException => return Iterator.empty }

    def nextRecord(): WarcRecord =
      try {
        while (true) {
          // skip record separators (blank lines) up to the version line
          var line = readCrlfLine(s)
          while (line != null && line.isEmpty) line = readCrlfLine(s)
          if (line == null || !line.startsWith("WARC/")) return null
          var warcType = ""
          var recordId = ""
          var date = ""
          var uri = ""
          var ctype = ""
          var clen = -1L
          var done = false
          while (!done) {
            val h = readCrlfLine(s)
            if (h == null) return null
            if (h.isEmpty) done = true
            else {
              val colon = h.indexOf(':')
              if (colon > 0) {
                val k = h.substring(0, colon).trim.toLowerCase
                val v = h.substring(colon + 1).trim
                k match {
                  case "warc-type" => warcType = v
                  case "warc-record-id" => recordId = v
                  case "warc-date" => date = v
                  case "warc-target-uri" => uri = v
                  case "content-type" => ctype = v
                  case "content-length" =>
                    clen = try v.toLong catch { case _: NumberFormatException => -1L }
                  case _ => ()
                }
              }
            }
          }
          if (clen < 0 || clen > Int.MaxValue - 16) return null // over-cap
          if (!keep(warcType, uri, ctype)) {
            s.skipNBytes(clen) // rejected: block bytes never materialize
          } else if (!needBlock) {
            s.skipNBytes(clen) // kept, but no block-derived column needed
            return interpretRecord(warcType, recordId, date, uri, ctype,
              clen, Array.emptyByteArray)
          } else {
            val block = s.readNBytes(clen.toInt)
            if (block.length < clen) return null // truncated tail
            return interpretRecord(warcType, recordId, date, uri, ctype,
              clen, block)
          }
        }
        null // unreachable
      } catch {
        case _: java.io.IOException => null // ZipException/EOF included
      }

    new Iterator[WarcRecord] {
      private var ahead: WarcRecord = nextRecord()
      def hasNext: Boolean = ahead != null
      def next(): WarcRecord = {
        val r = ahead
        ahead = nextRecord()
        r
      }
    }
  }

  /** One CRLF-terminated ISO-8859-1 line (terminator stripped); null at
    * EOF or past the 1 MiB header-line bound (headers that long are
    * damage, and the bound keeps a hostile stream from ballooning the
    * heap the streaming path exists to protect).
    */
  private def readCrlfLine(s: java.io.InputStream): String = {
    val sb = new java.lang.StringBuilder(96)
    var prev = -1
    var c = s.read()
    while (c >= 0) {
      if (prev == '\r' && c == '\n') {
        sb.setLength(sb.length - 1)
        return sb.toString
      }
      if (sb.length > (1 << 20)) return null
      sb.append(c.toChar)
      prev = c
      c = s.read()
    }
    null
  }

  /** Decode RFC 9112 §7.1 chunked framing: hex size line (extensions
    * after ';' ignored), CRLF, data, CRLF, …, 0-size chunk, optional
    * trailer fields, final CRLF. None on any framing violation (the
    * caller keeps the raw bytes and the transfer-encoding mark).
    */
  private def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var p = 0
    while (true) {
      val e = lineEnd(b, p)
      if (e < 0) return None
      val sizeStr = str(b, p, e).takeWhile(_ != ';').trim
      val size =
        try java.lang.Long.parseLong(sizeStr, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0 || size > Int.MaxValue - 16) return None
      p = e + 2
      if (size == 0) {
        // trailer fields until an empty line (or clean end of input)
        var tdone = p >= b.length
        while (!tdone) {
          val te = lineEnd(b, p)
          if (te < 0) tdone = true // tolerate a truncated final CRLF
          else if (te == p) tdone = true
          else p = te + 2
        }
        return Some(out.toByteArray)
      }
      if (p + size > b.length) return None
      out.write(b, p, size.toInt)
      p += size.toInt
      // data must be followed by CRLF
      if (p + 2 > b.length || b(p) != Crlf(0) || b(p + 1) != Crlf(1))
        return None
      p += 2
    }
    None // unreachable
  }

  /** RFC 9110 `deflate` content coding: zlib-wrapped DEFLATE, with the
    * raw-DEFLATE fallback real servers historically emit. None on
    * corrupt input or an over-2GB inflate.
    */
  private def inflateBody(b: Array[Byte]): Option[Array[Byte]] = {
    def tryWith(raw: Boolean): Option[Array[Byte]] =
      try {
        val inf = new java.util.zip.Inflater(raw)
        val in = new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(b), inf, 1 << 16)
        val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        var n = in.read(buf)
        while (n > 0) {
          total += n
          if (total > Int.MaxValue - 16) return None
          out.write(buf, 0, n)
          n = in.read(buf)
        }
        Some(out.toByteArray)
      } catch { case _: java.io.IOException => None }
      finally ()
    tryWith(raw = false).orElse(tryWith(raw = true))
  }

  /** One record at `off`: version line, headers, Content-Length block,
    * two CRLF separators. Returns (record, offset after separators).
    */
  private def parseRecord(b: Array[Byte], off: Int): Option[(WarcRecord, Int)] = {
    val verEnd = lineEnd(b, off)
    if (verEnd < 0) return None
    val version = str(b, off, verEnd)
    if (!version.startsWith("WARC/")) return None
    var p = verEnd + 2
    var warcType = ""
    var recordId = ""
    var date = ""
    var uri = ""
    var ctype = ""
    var clen = -1L
    var done = false
    while (!done) {
      val e = lineEnd(b, p)
      if (e < 0) return None
      if (e == p) { done = true; p += 2 } // empty line: headers end
      else {
        val line = str(b, p, e)
        val colon = line.indexOf(':')
        if (colon > 0) {
          val k = line.substring(0, colon).trim.toLowerCase
          val v = line.substring(colon + 1).trim
          k match {
            case "warc-type" => warcType = v
            case "warc-record-id" => recordId = v
            case "warc-date" => date = v
            case "warc-target-uri" => uri = v
            case "content-type" => ctype = v
            case "content-length" =>
              clen = try v.toLong catch { case _: NumberFormatException => -1L }
            case _ => ()
          }
        }
        p = e + 2
      }
    }
    if (clen < 0 || p + clen > b.length) return None
    val blockStart = p
    val blockEnd = (p + clen).toInt
    // record separator: two CRLFs (tolerate a truncated final separator)
    var next = blockEnd
    var seps = 0
    while (seps < 2 && next + 2 <= b.length &&
      b(next) == Crlf(0) && b(next + 1) == Crlf(1)) {
      next += 2
      seps += 1
    }
    if (seps == 0 && next < b.length) return None // garbage after block
    val block = java.util.Arrays.copyOfRange(b, blockStart, blockEnd)
    Some((interpretRecord(warcType, recordId, date, uri, ctype, clen, block),
      next))
  }

  /** Interpret a fully-carved record block: for `application/http` blocks
    * parse the HTTP envelope, dechunk, and content-decode (see
    * [[WarcRecord]]); other blocks pass through raw. Shared by the
    * in-memory ([[parseAll]]) and streaming ([[parseStream]]) paths.
    */
  private def interpretRecord(warcType: String, recordId: String,
                              date: String, uri: String, ctype: String,
                              clen: Long, block: Array[Byte]): WarcRecord = {
    var status = -1
    var httpCt = ""
    var httpCe = ""
    var httpTe = ""
    var body = block
    val blockEnd = block.length
    if (ctype.toLowerCase.startsWith("application/http")) {
      val se = lineEnd(block, 0)
      if (se > 0) {
        val statusLine = str(block, 0, se)
        if (statusLine.startsWith("HTTP/")) {
          val parts = statusLine.split(' ')
          if (parts.length >= 2)
            status = try parts(1).toInt catch { case _: NumberFormatException => -1 }
          var q = se + 2
          var hdone = false
          while (!hdone && q < blockEnd) {
            val e = lineEnd(block, q)
            if (e < 0) { hdone = true }
            else if (e == q) { q += 2; hdone = true } // end of HTTP headers
            else {
              val line = str(block, q, e)
              val colon = line.indexOf(':')
              if (colon > 0) {
                val k = line.substring(0, colon).trim.toLowerCase
                val v = line.substring(colon + 1).trim
                k match {
                  case "content-type" => httpCt = v
                  case "content-encoding" => httpCe = v
                  case "transfer-encoding" => httpTe = v
                  case _ => ()
                }
              }
              q = e + 2
            }
          }
          if (q <= blockEnd)
            body = java.util.Arrays.copyOfRange(block, q, blockEnd)
          // Transfer decode first (chunk framing wraps the encoded body),
          // then content decode — RFC 9112 §6/§7 layering. Each step that
          // succeeds clears its header; a failed/unsupported step keeps
          // the header AND the bytes as-is (honest degrade: downstream
          // sees "still encoded" and treats the body as binary).
          if (httpTe.toLowerCase.contains("chunked")) {
            dechunk(body) match {
              case Some(dc) => body = dc; httpTe = ""
              case None => ()
            }
          }
          val ceNorm = httpCe.toLowerCase
          if (httpTe.isEmpty && ceNorm.nonEmpty) {
            if (ceNorm == "identity") httpCe = ""
            else if (ceNorm == "gzip" || ceNorm == "x-gzip") {
              val d = gunzipAll(body)
              if (d != null) { body = d; httpCe = "" }
            } else if (ceNorm == "deflate") {
              inflateBody(body) match {
                case Some(d) => body = d; httpCe = ""
                case None => ()
              }
            } // else: br/zstd/... stay marked — no JDK decoder
          }
        }
      }
    }
    WarcRecord(warcType, recordId, date, uri, ctype, clen, status,
      httpCt, httpCe, httpTe, body)
  }

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  private def str(b: Array[Byte], from: Int, to: Int): String =
    new String(b, from, to - from, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Decode an HTTP payload to text using the Content-Type charset
    * (default UTF-8), malformed input replaced, never a throw.
    */
  def bodyText(body: Array[Byte], httpContentType: String): String = {
    if (body == null) return ""
    val cs = {
      val m = "charset=([A-Za-z0-9_\\-]+)".r.findFirstMatchIn(
        Option(httpContentType).getOrElse(""))
      m.map(_.group(1)).flatMap { name =>
        try Some(java.nio.charset.Charset.forName(name))
        catch { case _: Exception => None }
      }.getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    }
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    try dec.decode(java.nio.ByteBuffer.wrap(body)).toString
    catch { case _: Exception => "" }
  }

  /** Basic HTML → visible text: drop script/style/comments, strip tags,
    * decode the common + numeric entities, collapse whitespace. A
    * deliberate approximation (no DOM) — stated scope, matching what
    * corpus text-quality filters expect as their raw input.
    */
  def htmlToText(html: String): String = {
    if (html == null) return ""
    val noScript = "(?is)<(script|style)[^>]*>.*?</\\1>".r.replaceAllIn(html, " ")
    val noComment = "(?s)<!--.*?-->".r.replaceAllIn(noScript, " ")
    val noTags = "(?s)<[^>]*>".r.replaceAllIn(noComment, " ")
    val entities = "&(#x?[0-9a-fA-F]+|[a-zA-Z]+);".r.replaceAllIn(noTags, m => {
      val e = m.group(1)
      val repl = e match {
        case "amp" => "&"
        case "lt" => "<"
        case "gt" => ">"
        case "quot" => "\""
        case "apos" => "'"
        case "nbsp" => " "
        case _ if e.startsWith("#x") || e.startsWith("#X") =>
          try new String(Character.toChars(Integer.parseInt(e.substring(2), 16)))
          catch { case _: Exception => " " }
        case _ if e.startsWith("#") =>
          try new String(Character.toChars(e.substring(1).toInt))
          catch { case _: Exception => " " }
        case _ => " "
      }
      scala.util.matching.Regex.quoteReplacement(repl)
    })
    entities.replaceAll("\\s+", " ").trim
  }

  // ---- Spark surface -----------------------------------------------------

  /** All records of every WARC file in `files` (path, content) — one
    * row per record, one task per file, no shuffle. Pair with
    * `spark.read.format("binaryFile").load(dir)` renamed to
    * (path, content).
    */
  def records(spark: SparkSession, files: DataFrame): DataFrame = {
    import spark.implicits._
    files.select(col("path").cast("string"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (path, content) =>
          parseAll(content).map { r =>
            (path, r.warcType, r.recordId, r.date, r.targetUri, r.contentType,
              r.contentLength, r.httpStatus, r.httpContentType,
              r.httpContentEncoding, r.httpTransferEncoding, r.body)
          }
        }
      }
      .toDF("path", "warc_type", "record_id", "warc_date", "target_uri",
        "content_type", "content_length", "http_status", "http_content_type",
        "http_content_encoding", "http_transfer_encoding", "body")
  }

  /** [[records]] over file PATHS instead of loaded contents — the
    * >2 GiB route: each task opens its file through the Hadoop
    * filesystem (so file://, hdfs://, s3a:// all resolve exactly as the
    * cluster's other reads do) and walks records via [[parseStream]],
    * holding one record in memory at a time. Same row schema and
    * one-task-per-file parallelism as [[records]]; use it when archives
    * can exceed the `binaryFile` byte[] cap. `paths` needs one string
    * column `path`. Unreadable paths degrade to zero rows (a crawl batch
    * with one bad file must not lose the other 99 999).
    */
  def recordsFromPaths(spark: SparkSession, paths: DataFrame): DataFrame = {
    import spark.implicits._
    val hadoopConfSer = spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toMap)
    paths.select(col("path").cast("string")).as[String]
      .mapPartitions { it =>
        lazy val conf = {
          val c = new org.apache.hadoop.conf.Configuration(false)
          hadoopConfSer.value.foreach { case (k, v) => c.set(k, v) }
          c
        }
        // close-at-exhaustion alone leaks the CURRENT crawl file's stream
        // when the task terminates early (LIMIT/take never drains the
        // iterator) — the task-completion listener closes whatever is
        // still open, one registration per partition
        var open: java.io.InputStream = null
        def closeOpen(): Unit = {
          val s = open; open = null
          if (s != null) { try s.close() catch { case _: Exception => () } }
        }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOpen()))
        it.flatMap { p =>
          val opened =
            try {
              val hp = new org.apache.hadoop.fs.Path(p)
              Some(hp.getFileSystem(conf).open(hp))
            } catch { case _: Exception => None }
          opened match {
            case None => Iterator.empty
            case Some(in) =>
              open = in
              val base = parseStream(in).map { r =>
                (p, r.warcType, r.recordId, r.date, r.targetUri,
                  r.contentType, r.contentLength, r.httpStatus,
                  r.httpContentType, r.httpContentEncoding,
                  r.httpTransferEncoding, r.body)
              }
              // close exactly once, when the walk ends
              new Iterator[(String, String, String, String, String, String,
                  Long, Int, String, String, String, Array[Byte])] {
                def hasNext: Boolean = {
                  val h = base.hasNext
                  if (!h && (open eq in)) closeOpen()
                  h
                }
                def next() = base.next()
              }
          }
        }
      }
      .toDF("path", "warc_type", "record_id", "warc_date", "target_uri",
        "content_type", "content_length", "http_status", "http_content_type",
        "http_content_encoding", "http_transfer_encoding", "body")
  }

  /** The curation entry point: HTTP `response` records reduced to
    * (uri, date, status, content type, extracted text, byte size) — the
    * row shape the text-quality / langid / dedup families consume.
    * HTML-ish payloads go through [[htmlToText]]; other text types
    * decode charset-aware as-is; binary payloads keep text="" with
    * their true byte size, so downstream filters can count them without
    * pretending to read them. Bodies whose transfer/content encoding
    * could NOT be removed at parse time (unsupported coding, malformed
    * framing — see [[WarcRecord]]) are treated as binary the same way:
    * emitting mojibake into the text column would poison langid/quality/
    * dedup downstream.
    */
  def responses(spark: SparkSession, files: DataFrame): DataFrame =
    responsesOf(spark, records(spark, files))

  /** [[responses]] over file paths — the >2 GiB route, pairing
    * [[recordsFromPaths]]' streaming walk with the same curation tail.
    */
  def responsesFromPaths(spark: SparkSession, paths: DataFrame): DataFrame =
    responsesOf(spark, recordsFromPaths(spark, paths))

  private def responsesOf(spark: SparkSession, records: DataFrame): DataFrame = {
    import spark.implicits._
    records
      .where(col("warc_type") === "response" && col("http_status") >= 0)
      .select(col("path"), col("target_uri"), col("warc_date"),
        col("http_status"), col("http_content_type"),
        (col("http_content_encoding") === "" &&
          col("http_transfer_encoding") === "").as("decoded"),
        col("body"))
      .as[(String, String, String, Int, String, Boolean, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (path, uri, date, status, ct, decoded, body) =>
          val lower = Option(ct).getOrElse("").toLowerCase
          val text =
            if (!decoded) ""
            else if (lower.startsWith("text/html") || lower.startsWith("application/xhtml"))
              Warc.htmlToText(bodyText(body, ct))
            else if (lower.startsWith("text/")) bodyText(body, ct)
            else ""
          (path, uri, date, status, ct,
            if (body == null) 0L else body.length.toLong, text)
        }
      }
      .toDF("path", "target_uri", "warc_date", "http_status",
        "http_content_type", "n_bytes", "text")
  }
}
