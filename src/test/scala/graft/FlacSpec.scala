package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.multimodal.{Flac, Multimodal}
import FlacFixture.{Constant, Fixed, Frame, Lpc, Verbatim}

/** FLAC decode laws. There are no empirical tables — everything is
  * algorithmic — and the format
  * carries its own end-to-end oracle: the engine verifies STREAMINFO's
  * PCM MD5 and both CRCs, so every round-trip here cross-checks all
  * decoded samples cryptographically (the fixture computes the MD5 from
  * the TRUE samples independently of the decode path). CRCs are pinned
  * to their PUBLISHED check values (external goldens), and the fixture's
  * table-driven CRCs double as a second transcription of the engine's
  * bitwise ones.
  */
class FlacSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def mono(samples: Array[Int], sub: FlacFixture.Sub,
                   bps: Int = 16, rate: Int = 44100): Array[Byte] =
    FlacFixture.stream(rate, bps, Seq(Frame(Array(samples), Seq(sub))))

  private def decoded(b: Array[Byte]): Array[Array[Int]] = {
    val got = Flac.decode(b)
    assert(got.isDefined, "engine failed to decode fixture stream")
    got.get._2
  }

  // ---- CRC external goldens ---------------------------------------------------

  test("CRC-8 (poly 0x07) and CRC-16 (poly 0x8005) match published check values") {
    val check = "123456789".getBytes("ASCII")
    // CRC-8/SMBUS check value 0xF4; CRC-16/UMTS (aka BUYPASS) 0xFEE8
    assert(Flac.crc8(check, 0, check.length) == 0xF4)
    assert(Flac.crc16(check, 0, check.length) == 0xFEE8)
    assert(FlacFixture.crc8(check) == 0xF4)
    assert(FlacFixture.crc16(check) == 0xFEE8)
    // bitwise (engine) vs table-driven (fixture) on random strings
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 50) {
      val b = Array.fill(1 + rnd.nextInt(100))(rnd.nextInt(256).toByte)
      assert(Flac.crc8(b, 0, b.length) == FlacFixture.crc8(b))
      assert(Flac.crc16(b, 0, b.length) == FlacFixture.crc16(b))
    }
  }

  // ---- subframe round-trips (MD5-gated: any wrong sample → None → fail) -------

  test("constant / verbatim / fixed(0..4) subframes round-trip exactly") {
    val rnd = new scala.util.Random(17)
    assert(decoded(mono(Array.fill(192)(-1234), Constant))(0).forall(_ == -1234))
    val vb = Array.fill(192)(rnd.nextInt(65536) - 32768)
    assert(decoded(mono(vb, Verbatim))(0).toSeq == vb.toSeq)
    for (order <- 0 to 4) {
      // a gentle ramp keeps fixed-predictor residuals small but nonzero
      val s = Array.tabulate(576)(i =>
        (800 * math.sin(i / 9.0) + 20 * math.cos(i / 2.0) + rnd.nextInt(7)).toInt)
      assert(decoded(mono(s, Fixed(order, riceParam = 6)))(0).toSeq == s.toSeq,
        s"fixed order $order")
    }
  }

  test("LPC subframes round-trip exactly (orders 1, 2, 8; negative coefs)") {
    val rnd = new scala.util.Random(19)
    val s = Array.tabulate(576)(i =>
      (5000 * math.sin(i / 23.0) + rnd.nextInt(50)).toInt)
    for ((coefs, shift, prec) <- Seq(
      (Array(3), 1, 5),
      (Array(3, -1), 1, 6),
      (Array(2, -3, 1, 4, -2, 1, 1, -1), 3, 7))) {
      val b = mono(s, Lpc(coefs, shift, prec, riceParam = 9))
      assert(decoded(b)(0).toSeq == s.toSeq, s"lpc order ${coefs.length}")
    }
  }

  test("rice machinery: multi-partition residuals, escape partitions, param 0, 5-bit params") {
    val rnd = new scala.util.Random(23)
    val s = Array.tabulate(256)(i => (300 * math.sin(i / 7.0)).toInt + rnd.nextInt(5))
    // 4 partitions
    assert(decoded(mono(s, Fixed(2, riceParam = 5, partOrder = 2)))(0).toSeq == s.toSeq)
    // escape: raw 18-bit residuals
    assert(decoded(mono(s, Fixed(1, escapeBits = Some(18))))(0).toSeq == s.toSeq)
    // rice param 0 (all-unary) on near-constant data
    val flat = Array.tabulate(192)(i => 100 + (i & 1))
    assert(decoded(mono(flat, Fixed(1, riceParam = 0)))(0).toSeq == flat.toSeq)
    // 5-bit parameter (method 1)
    val wild = Array.tabulate(192)(_ => rnd.nextInt(1 << 20) - (1 << 19))
    assert(decoded(mono(wild, Fixed(0, riceParam = 17), bps = 24))(0).toSeq == wild.toSeq)
  }

  test("wasted bits shift samples back up; 8- and 24-bit depths pack MD5 correctly") {
    val s = Array.tabulate(192)(i => ((i % 50) - 25) * 8) // multiples of 8 → 3 wasted bits
    val b = FlacFixture.stream(8000, 16,
      Seq(Frame(Array(s), Seq(Verbatim), wasted = Seq(3))))
    assert(decoded(b)(0).toSeq == s.toSeq)
    val s8 = Array.tabulate(192)(i => (i % 200) - 100)
    assert(decoded(mono(s8, Verbatim, bps = 8))(0).toSeq == s8.toSeq)
    val s24 = Array.tabulate(192)(i => (i * 40961) % (1 << 22) - (1 << 21))
    assert(decoded(mono(s24, Verbatim, bps = 24))(0).toSeq == s24.toSeq)
  }

  test("stereo: independent, left/side, right/side, mid/side all reconstruct L and R") {
    val rnd = new scala.util.Random(29)
    val left = Array.tabulate(256)(i => (900 * math.sin(i / 11.0)).toInt + rnd.nextInt(9))
    val right = Array.tabulate(256)(i => (700 * math.cos(i / 13.0)).toInt - rnd.nextInt(9))
    for (assign <- Seq(-1, 0, 1, 2)) {
      val b = FlacFixture.stream(44100, 16, Seq(
        Frame(Array(left, right), Seq(Fixed(2, riceParam = 6), Fixed(2, riceParam = 6)),
          assignment = assign)))
      val ch = decoded(b)
      assert(ch(0).toSeq == left.toSeq, s"assignment $assign left")
      assert(ch(1).toSeq == right.toSeq, s"assignment $assign right")
    }
  }

  test("multi-frame streams concatenate; mixed subframe plans per frame") {
    val rnd = new scala.util.Random(31)
    val f1 = Array.fill(192)(77)
    val f2 = Array.tabulate(576)(i => (400 * math.sin(i / 5.0)).toInt)
    val f3 = Array.fill(256)(rnd.nextInt(2000) - 1000)
    val b = FlacFixture.stream(22050, 16, Seq(
      Frame(Array(f1), Seq(Constant)),
      Frame(Array(f2), Seq(Fixed(3, riceParam = 7))),
      Frame(Array(f3), Seq(Verbatim))))
    assert(decoded(b)(0).toSeq == (f1 ++ f2 ++ f3).toSeq)
  }

  // ---- integrity gates ----------------------------------------------------------

  test("integrity: corrupt CRCs, wrong MD5, truncation, non-FLAC → None; fuzz never throws") {
    val s = Array.tabulate(256)(i => (500 * math.sin(i / 9.0)).toInt)
    val good = mono(s, Fixed(2, riceParam = 6))
    assert(Flac.decode(good).isDefined)
    // flip one bit inside the LAST byte (frame CRC-16 territory) and in
    // the middle of the residual bits — both must be caught by a CRC
    val tail = good.clone(); tail(tail.length - 1) = (tail(tail.length - 1) ^ 1).toByte
    assert(Flac.decode(tail).isEmpty, "frame CRC-16 must catch a tail flip")
    val mid = good.clone(); mid(good.length - 40) = (mid(good.length - 40) ^ 0x10).toByte
    assert(Flac.decode(mid).isEmpty, "CRC/MD5 must catch a residual flip")
    // stream whose STREAMINFO MD5 is deliberately wrong
    val badMd5 = FlacFixture.stream(44100, 16,
      Seq(Frame(Array(s), Seq(Verbatim))), md5Valid = false)
    assert(Flac.decode(badMd5).isEmpty, "MD5 gate must reject")
    for (k <- 1 until 10) assert(Flac.decode(good.take(good.length * k / 10)).isEmpty)
    assert(Flac.decode("RIFFnotflac".getBytes).isEmpty)
    assert(Flac.decode(null).isEmpty)
    val rnd = new scala.util.Random(37)
    for (_ <- 0 until 300) {
      val m = good.clone()
      val at = rnd.nextInt(m.length)
      m(at) = (m(at) ^ (1 << rnd.nextInt(8))).toByte
      Flac.decode(m) // no escaped exception; None or (for don't-care bytes) Some
    }
    for (sz <- Seq(0, 4, 41, 512)) Flac.decode(Array.fill(sz)(rnd.nextInt(256).toByte))
  }

  // ---- feature-path integration ---------------------------------------------------

  test("decodeAudio: FLAC features and duration EXACTLY equal the same samples as WAV") {
    val rnd = new scala.util.Random(41)
    val left = Array.tabulate(4096)(i => (9000 * math.sin(i / 31.0)).toInt + rnd.nextInt(99))
    val right = Array.tabulate(4096)(i => (6000 * math.cos(i / 17.0)).toInt - rnd.nextInt(99))
    val flac = FlacFixture.stream(8000, 16, Seq(
      Frame(Array(left, right), Seq(Fixed(2, riceParam = 9), Fixed(2, riceParam = 9)),
        assignment = 2)))
    val wav = FlacFixture.wav(8000, Array(left, right))
    val Some((dFlac, fFlac)) = Multimodal.decodeAudio(flac)
    val Some((dWav, fWav)) = Multimodal.decodeAudio(wav)
    assert(dFlac == dWav)
    assert(fFlac.toSeq == fWav.toSeq,
      "same samples must produce bit-identical features through both codecs")
  }

  test("extractAudioFeatures: FLAC rows decode with real duration; garbage degrades") {
    val s = Array.tabulate(2048)(i => (3000 * math.sin(i / 21.0)).toInt)
    val flac = mono(s, Fixed(2, riceParam = 8), rate = 16000)
    val rows = Seq(
      Row(1L, flac, Row("audio", 0, 0, 0L)),
      Row(2L, "not audio at all".getBytes, Row("audio", 0, 0, 0L)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.extractAudioFeatures(df).orderBy("media_id").collect()
    assert(got(0).getAs[Boolean]("decoded") && got(0).getAs[Long]("duration_ms") == 128)
    assert(!got(1).getAs[Boolean]("decoded"))
  }
}
