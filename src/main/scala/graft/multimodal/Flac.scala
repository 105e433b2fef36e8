package graft.multimodal

/** Pure-JVM FLAC (RFC 9639) decoder for the multimodal audio column
  * family — the compressed-codec upgrade of the JDK-native WAV/PCM
  * path. The reference pipeline has NO audio handling; this is a
  * framework-native capability (opaque binary payloads + typed decode),
  * not a reference-behavior port.
  *
  * EVERYTHING here is algorithmic — Rice/unary coding, fixed and
  * quantized-LPC predictors, CRC-8/16, inter-channel decorrelation —
  * with no empirical probability tables to transcribe, so there is no
  * unvalidatable-constant caveat. Better:
  * the format carries its own end-to-end check — STREAMINFO's MD5 of
  * the unencoded PCM — and [[decode]] VERIFIES it (along with every
  * frame-header CRC-8 and frame CRC-16) whenever the encoder wrote one.
  * A decode that doesn't reproduce the encoder's exact samples returns
  * None rather than wrong audio, for third-party files too.
  *
  * Implemented in full: STREAMINFO + metadata-block skip, frame headers
  * (all block-size/sample-rate/sample-size codes, UTF-8-style coded
  * numbers, both blocking strategies), subframes CONSTANT / VERBATIM /
  * FIXED(0–4) / LPC(1–32) with wasted-bits, 4- and 5-bit Rice residual
  * partitions with escape codes, and left-side / right-side / mid-side
  * stereo decorrelation. Honest degrades (None): reserved/invalid codes,
  * CRC or MD5 mismatch, truncation, >8 channels per frame mismatch,
  * and sample counts over [[MaxTotalSamples]] (hostile-header cap).
  *
  * Scope limit: 32-bit streams using stereo DECORRELATION (left/right/
  * mid-side) are rejected to None — RFC 9639 gives the difference
  * channel one extra bit (33), which exceeds this decoder's 32-bit
  * sample reads (`effBps > 32` guard below). 32-bit INDEPENDENT-channel
  * streams decode fully; 33-bit side channels need Long-widened
  * subframe reads, not just a relaxed guard.
  */
object Flac {

  /** Samples-per-channel cap: 2^28 (~1.5 h at 48 kHz) keeps a hostile
    * header from allocating GBs.
    */
  val MaxTotalSamples: Long = 1L << 28

  final case class StreamInfo(sampleRate: Int, channels: Int, bps: Int,
                              totalSamples: Long, md5: Array[Byte])

  // ---- bit reader (MSB-first, byte-position aware for CRC spans) ---------

  private[graft] final class BitReader(b: Array[Byte], start: Int) {
    private var pos = start * 8 // absolute bit position
    def bytePos: Int = {
      require((pos & 7) == 0, "unaligned bytePos")
      pos >> 3
    }
    def remaining: Long = b.length.toLong * 8 - pos
    def u(n: Int): Int = {
      if (n == 0) return 0
      if (remaining < n) throw new IllegalStateException("flac underrun")
      var v = 0
      var i = 0
      while (i < n) {
        v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1
        i += 1
      }
      v
    }
    def u64(n: Int): Long = {
      if (n <= 32) u(n).toLong & ((1L << n) - 1)
      else ((u(n - 32).toLong & 0xFFFFFFFFL) << 32) | (u(32).toLong & 0xFFFFFFFFL)
    }
    /** Sign-extended n-bit read (n ≤ 32). */
    def s(n: Int): Int = {
      val v = u(n)
      if (n == 32) v else (v << (32 - n)) >> (32 - n)
    }
    /** Unary: number of 0 bits before the terminating 1. */
    def unary(): Int = {
      var q = 0
      while (u(1) == 0) {
        q += 1
        if (q > (1 << 24)) throw new IllegalStateException("unary runaway")
      }
      q
    }
    def byteAligned: Boolean = (pos & 7) == 0
    def byteAlign(): Unit = pos = (pos + 7) & ~7
  }

  // ---- CRCs (FLAC polynomials, zero-initialized) --------------------------

  /** CRC-8, poly x^8+x^2+x+1 (0x07), over b[from, to). */
  private[graft] def crc8(b: Array[Byte], from: Int, to: Int): Int = {
    var crc = 0
    var i = from
    while (i < to) {
      crc ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly x^16+x^15+x^2+1 (0x8005), over b[from, to). */
  private[graft] def crc16(b: Array[Byte], from: Int, to: Int): Int = {
    var crc = 0
    var i = from
    while (i < to) {
      crc ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
        else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  // ---- tables from the spec (short, structural) ---------------------------

  /** Frame-header sample-rate code → Hz; 0 = use STREAMINFO; 12/13/14
    * read trailing bits; 15 invalid.
    */
  private def sampleRateOf(code: Int, r: BitReader, si: StreamInfo): Int = code match {
    case 0 => si.sampleRate
    case 1 => 88200
    case 2 => 176400
    case 3 => 192000
    case 4 => 8000
    case 5 => 16000
    case 6 => 22050
    case 7 => 24000
    case 8 => 32000
    case 9 => 44100
    case 10 => 48000
    case 11 => 96000
    case 12 => r.u(8) * 1000
    case 13 => r.u(16)
    case 14 => r.u(16) * 10
    case _ => throw new IllegalStateException("invalid sample rate code")
  }

  private def sampleSizeOf(code: Int, si: StreamInfo): Int = code match {
    case 0 => si.bps
    case 1 => 8
    case 2 => 12
    case 4 => 16
    case 5 => 20
    case 6 => 24
    case 7 => 32
    case _ => throw new IllegalStateException("reserved sample size code")
  }

  // ---- decode --------------------------------------------------------------

  /** Decode a whole FLAC stream: (stream info, per-channel samples).
    * None on any malformation, CRC mismatch, or — when STREAMINFO
    * carries a nonzero MD5 — an MD5 mismatch of the decoded PCM.
    */
  def decode(payload: Array[Byte]): Option[(StreamInfo, Array[Array[Int]])] = {
    if (payload == null || payload.length < 42) return None
    if (payload(0) != 'f' || payload(1) != 'L' || payload(2) != 'a' ||
      payload(3) != 'C') return None
    try {
      val r = new BitReader(payload, 4)
      // metadata blocks; STREAMINFO must be first
      var last = r.u(1) == 1
      if (r.u(7) != 0) return None
      if (r.u(24) != 34) return None
      r.u(16); r.u(16) // min/max block size
      r.u(24); r.u(24) // min/max frame size
      val sampleRate = r.u(20)
      val channels = r.u(3) + 1
      val bps = r.u(5) + 1
      val totalSamples = r.u64(36)
      val md5 = Array.tabulate(16)(_ => r.u(8).toByte)
      if (sampleRate == 0 || totalSamples > MaxTotalSamples) return None
      val si = StreamInfo(sampleRate, channels, bps, totalSamples, md5)
      while (!last) {
        last = r.u(1) == 1
        r.u(7)
        val len = r.u(24)
        var i = 0
        while (i < len) { r.u(8); i += 1 }
      }
      // frames until EOF
      val out = Array.fill(channels)(Array.newBuilder[Int])
      var decoded = 0L
      while (r.remaining >= 16) {
        val n = decodeFrame(payload, r, si, out)
        decoded += n
        if (decoded > MaxTotalSamples) return None
      }
      if (totalSamples != 0 && decoded != totalSamples) return None
      val chans = out.map(_.result())
      if (chans(0).isEmpty) return None
      if (md5.exists(_ != 0) && !md5Matches(si, chans)) return None
      Some((si, chans))
    } catch { case _: Exception => None }
  }

  /** Decode one frame into `out`; returns its block size. */
  private def decodeFrame(payload: Array[Byte], r: BitReader, si: StreamInfo,
                          out: Array[scala.collection.mutable.ArrayBuilder[Int]]): Int = {
    val headerStart = r.bytePos
    if (r.u(14) != 0x3FFE) throw new IllegalStateException("bad sync")
    r.u(1) // reserved
    r.u(1) // blocking strategy — parse-only; decode never seeks
    val bsCode = r.u(4)
    val srCode = r.u(4)
    val chCode = r.u(4)
    val ssCode = r.u(3)
    r.u(1) // reserved
    // UTF-8-style coded frame/sample number (up to 36 bits → 7 bytes)
    val first = r.u(8)
    var extra = 0
    var mask = 0x80
    while ((first & mask) != 0) { extra += 1; mask >>= 1 }
    // 1 byte (extra 0) up to the 7-byte 0xFE form 36-bit sample numbers use
    if (extra == 1 || extra > 7) throw new IllegalStateException("bad coded number")
    var i = 0
    while (i < extra - (if (extra > 0) 1 else 0)) {
      if ((r.u(8) & 0xC0) != 0x80) throw new IllegalStateException("bad continuation")
      i += 1
    }
    val blockSize = bsCode match {
      case 0 => throw new IllegalStateException("reserved block size")
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.u(8) + 1
      case 7 => r.u(16) + 1
      case c => 256 << (c - 8)
    }
    sampleRateOf(srCode, r, si) // validates + consumes trailing bits
    val frameBps = sampleSizeOf(ssCode, si)
    val (nCh, assignment) =
      if (chCode <= 7) (chCode + 1, -1)
      else if (chCode <= 10) (2, chCode - 8) // 0=left/side 1=right/side 2=mid/side
      else throw new IllegalStateException("reserved channel assignment")
    if (nCh != si.channels) throw new IllegalStateException("channel count mismatch")
    val headerEnd = r.bytePos
    val wantCrc8 = r.u(8)
    if (crc8(payload, headerStart, headerEnd) != wantCrc8)
      throw new IllegalStateException("frame header CRC-8 mismatch")
    // subframes
    val ch = Array.ofDim[Int](nCh, blockSize)
    var c = 0
    while (c < nCh) {
      val effBps = frameBps + (assignment match {
        case 0 => if (c == 1) 1 else 0 // left/side: side is ch 1
        case 1 => if (c == 0) 1 else 0 // right/side: side is ch 0
        case 2 => if (c == 1) 1 else 0 // mid/side: side is ch 1
        case _ => 0
      })
      decodeSubframe(r, blockSize, effBps, ch(c))
      c += 1
    }
    r.byteAlign()
    val frameEnd = r.bytePos
    val wantCrc16 = r.u(16)
    if (crc16(payload, headerStart, frameEnd) != wantCrc16)
      throw new IllegalStateException("frame CRC-16 mismatch")
    // stereo decorrelation
    assignment match {
      case 0 => // left/side → right = left - side
        var i = 0
        while (i < blockSize) { ch(1)(i) = ch(0)(i) - ch(1)(i); i += 1 }
      case 1 => // right/side → left = right + side (side is ch 0)
        var i = 0
        while (i < blockSize) { ch(0)(i) = ch(1)(i) + ch(0)(i); i += 1 }
      case 2 => // mid/side
        var i = 0
        while (i < blockSize) {
          val side = ch(1)(i)
          var mid = ch(0)(i)
          mid = (mid << 1) | (side & 1)
          ch(0)(i) = (mid + side) >> 1
          ch(1)(i) = (mid - side) >> 1
          i += 1
        }
      case _ => ()
    }
    c = 0
    while (c < nCh) { out(c) ++= ch(c); c += 1 }
    blockSize
  }

  private def decodeSubframe(r: BitReader, blockSize: Int, bps: Int,
                             out: Array[Int]): Unit = {
    if (r.u(1) != 0) throw new IllegalStateException("subframe pad bit set")
    val typ = r.u(6)
    val wasted = if (r.u(1) == 1) r.unary() + 1 else 0
    val effBps = bps - wasted
    if (effBps <= 0 || effBps > 32) throw new IllegalStateException("bad eff bps")
    typ match {
      case 0 => // CONSTANT
        val v = r.s(effBps)
        java.util.Arrays.fill(out, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { out(i) = r.s(effBps); i += 1 }
      case t if (t & 0x38) == 0x08 && (t & 0x07) <= 4 => // FIXED, order 0-4
        val order = t & 0x07
        var i = 0
        while (i < order) { out(i) = r.s(effBps); i += 1 }
        val res = new Array[Int](blockSize - order)
        decodeResidual(r, blockSize, order, res)
        i = order
        while (i < blockSize) {
          val p: Long = order match {
            case 0 => 0L
            case 1 => out(i - 1).toLong
            case 2 => 2L * out(i - 1) - out(i - 2)
            case 3 => 3L * out(i - 1) - 3L * out(i - 2) + out(i - 3)
            case 4 => 4L * out(i - 1) - 6L * out(i - 2) + 4L * out(i - 3) - out(i - 4)
          }
          out(i) = (p + res(i - order)).toInt
          i += 1
        }
      case t if (t & 0x20) != 0 => // LPC, order 1-32
        val order = (t & 0x1F) + 1
        var i = 0
        while (i < order) { out(i) = r.s(effBps); i += 1 }
        val precision = r.u(4) + 1
        if (precision == 16) throw new IllegalStateException("invalid qlp precision")
        val shift = r.s(5)
        if (shift < 0) throw new IllegalStateException("negative qlp shift")
        val coefs = Array.tabulate(order)(_ => r.s(precision))
        val res = new Array[Int](blockSize - order)
        decodeResidual(r, blockSize, order, res)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          out(i) = ((acc >> shift) + res(i - order)).toInt
          i += 1
        }
      case _ => throw new IllegalStateException("reserved subframe type")
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) <<= wasted; i += 1 }
    }
  }

  /** Rice-coded residual: 2-bit method (4- or 5-bit params), 4-bit
    * partition order, per-partition parameter with the all-ones escape
    * to fixed-width raw samples.
    */
  private def decodeResidual(r: BitReader, blockSize: Int, predOrder: Int,
                             out: Array[Int]): Unit = {
    val method = r.u(2)
    if (method > 1) throw new IllegalStateException("reserved residual method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = r.u(4)
    val nParts = 1 << partOrder
    if (blockSize % nParts != 0)
      throw new IllegalStateException("bad partition order")
    var n = 0
    var part = 0
    while (part < nParts) {
      val count = (blockSize >> partOrder) - (if (part == 0) predOrder else 0)
      if (count < 0) throw new IllegalStateException("bad partition count")
      val param = r.u(paramBits)
      if (param == escape) {
        val bits = r.u(5)
        var i = 0
        while (i < count) { out(n) = if (bits == 0) 0 else r.s(bits); n += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.unary()
          val rem = if (param == 0) 0 else r.u(param)
          val v = (q.toLong << param) | rem
          out(n) = ((v >>> 1) ^ -(v & 1L)).toInt // zigzag
          n += 1
          i += 1
        }
      }
      part += 1
    }
    if (n != out.length) throw new IllegalStateException("residual count mismatch")
  }

  /** STREAMINFO MD5 check: MD5 over the unencoded PCM — samples
    * interleaved, each in the minimum whole-byte width for the stream's
    * bits-per-sample, little-endian, signed.
    */
  private def md5Matches(si: StreamInfo, chans: Array[Array[Int]]): Boolean = {
    val bytesPer = (si.bps + 7) / 8
    val n = chans(0).length
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](bytesPer * si.channels)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < si.channels) {
        val v = chans(c)(i)
        var k = 0
        while (k < bytesPer) {
          buf(c * bytesPer + k) = ((v >> (8 * k)) & 0xFF).toByte
          k += 1
        }
        c += 1
      }
      md.update(buf)
      i += 1
    }
    java.util.Arrays.equals(md.digest(), si.md5)
  }
}
