package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** ISO BMFF (MP4) container-metadata parsing: box walking, mdhd v0/v1
  * timing, stts run-length expansion, stco chunk counts, video-track
  * selection among multiple tracks, and the honest-degrade contract
  * (real timing + `decoded=false` pixels) through sampleVideoFrames.
  */
class Mp4IndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // --- minimal ISO BMFF builders (big-endian size + fourcc + payload) ---
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
  private def fourcc(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(8L + body.length) ++ fourcc(typ) ++ body
  }

  private def ftyp = box("ftyp", fourcc("isom"), be32(512), fourcc("isom"))
  private def hdlr(handler: String) =
    box("hdlr", be32(0), be32(0), fourcc(handler), new Array[Byte](12))
  private def mdhdV0(timescale: Long, duration: Long) =
    box("mdhd", be32(0), be32(0), be32(0), be32(timescale), be32(duration),
      be32(0x55C40000L)) // language + pre_defined
  private def mdhdV1(timescale: Long, duration: Long) =
    box("mdhd", Array(1.toByte, 0, 0, 0), be64(0), be64(0), be32(timescale),
      be64(duration), be32(0x55C40000L))
  private def stts(entries: (Long, Long)*) =
    box("stts", be32(0), be32(entries.length),
      entries.toArray.flatMap { case (n, d) => be32(n) ++ be32(d) })
  private def stco(offsets: Long*) =
    box("stco", be32(0), be32(offsets.length), offsets.toArray.flatMap(be32))
  private def trak(mdhd: Array[Byte], handler: String,
                   sttsBox: Array[Byte], stcoBox: Array[Byte]) =
    box("trak", box("mdia", mdhd, hdlr(handler),
      box("minf", box("stbl", sttsBox, stcoBox))))

  /** Tiny real MP4: audio track first (must be skipped), then the video
    * track — timescale 1000, declared duration 450, frames at 0/100/200.
    */
  private def sampleMp4: Array[Byte] =
    ftyp ++ box("moov",
      trak(mdhdV0(44100, 44100), "soun", stts((10L, 4410L)), stco(900L)),
      trak(mdhdV0(1000, 450), "vide",
        stts((2L, 100L), (1L, 250L)), stco(48L, 700L))) ++
      box("mdat", Array.fill[Byte](32)(7))

  test("mp4FrameIndex: mdhd v0 timing, stts expansion, stco chunks, track selection") {
    val Some((dur, starts, chunks)) = Multimodal.mp4FrameIndex(sampleMp4)
    assert(dur == 450L)
    assert(starts.toSeq == Seq(0L, 100L, 200L))
    assert(chunks == 2)
  }

  test("mp4FrameIndex: mdhd v1, unknown duration falls back to the stts sum") {
    val mp4 = ftyp ++ box("moov",
      trak(mdhdV1(600, 0), "vide", stts((3L, 200L)), stco(48L)))
    val Some((dur, starts, chunks)) = Multimodal.mp4FrameIndex(mp4)
    // 3 frames of 200/600 s; integer ms conversion: 200*1000/600 = 333
    assert(starts.toSeq == Seq(0L, 333L, 666L))
    assert(dur == 1000L) // 600 units at timescale 600
    assert(chunks == 1)
  }

  test("mp4FrameIndex: non-BMFF and truncated payloads → None, never a throw") {
    assert(Multimodal.mp4FrameIndex(null).isEmpty)
    assert(Multimodal.mp4FrameIndex(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.mp4FrameIndex("not a movie at all!!".getBytes).isEmpty)
    // valid ftyp but moov truncated mid-box
    val broken = (ftyp ++ box("moov", trak(mdhdV0(1000, 450), "vide",
      stts((2L, 100L)), stco(48L)))).dropRight(10)
    assert(Multimodal.mp4FrameIndex(broken).isEmpty)
    // audio-only file: no video track
    val audioOnly = ftyp ++ box("moov",
      trak(mdhdV0(44100, 44100), "soun", stts((10L, 4410L)), stco(900L)))
    assert(Multimodal.mp4FrameIndex(audioOnly).isEmpty)
  }

  test("videoFrameIndex routes MP4; pixel decode stays honest-degrade") {
    val Some((dur, starts)) = Multimodal.videoFrameIndex(sampleMp4)
    assert(dur == 450L && starts.length == 3)
    assert(Multimodal.decodeVideoFrame(sampleMp4, 0).isEmpty,
      "no JDK H.264 decoder — pixels must stay degraded")
  }

  test("fuzz: random, flipped, truncated MP4 never throws") {
    val rnd = new scala.util.Random(1453)
    for (sz <- Seq(0, 1, 17, 128, 1024, 8192)) {
      val junk = Array.fill(sz)(rnd.nextInt(256).toByte)
      Multimodal.videoFrameIndex(junk)
      assert(Multimodal.decodeVideoFrame(junk, 0).isEmpty)
    }
    val good = sampleMp4
    // single-bit corruptions anywhere in the file: the index may read or
    // not (a flip in mdat is a don't-care byte) — an escaped exception is
    // a failure, and no MP4 ever yields pixels
    for (_ <- 0 until 300) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      Multimodal.videoFrameIndex(mutated)
      assert(Multimodal.decodeVideoFrame(mutated, 0).isEmpty)
    }
    for (k <- 1 until 10) {
      val cut = good.take(good.length * k / 10)
      Multimodal.videoFrameIndex(cut)
      assert(Multimodal.decodeVideoFrame(cut, 0).isEmpty)
    }
  }

  test("sampleVideoFrames: MP4 rows carry REAL frame timing with decoded=false") {
    import spark.implicits._
    val rows = Seq((1L, sampleMp4, 9999L))
      .toDF("media_id", "payload", "duration_ms")
      .select(col("media_id"), col("payload"),
        struct(col("duration_ms")).as("meta"))
    val got = Multimodal.sampleVideoFrames(rows, everyMs = 100L)
      .select("media_id", "frame_ms", "frame_idx", "decoded")
      .as[(Long, Long, Int, Boolean)].collect().sortBy(_._2)
    // real container duration 450 (NOT meta's 9999) → samples at 0..400
    assert(got.map(_._2).toSeq == Seq(0L, 100L, 200L, 300L, 400L))
    // every sampled instant resolved a real covering frame index upstream,
    // but the pixel decode degrades → emitted frame_idx -1, decoded=false
    assert(got.forall(r => r._3 == -1 && !r._4))
  }
}
