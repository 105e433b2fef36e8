package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import WebmIndexSpec._

/** VP8 payloads — WebM video blocks and lossy WebP stills — have no
  * pixel decoder in the engine: the WebM container still indexes
  * ([[Multimodal.webmFrameIndex]]), but every frame and every WebP image
  * degrades (None → `decoded=false`). Random, bit-flipped and truncated
  * payloads must keep to that contract and never throw.
  */
class Vp8Spec extends AnyFunSuite {

  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  /** A keyframe-shaped VP8 frame: frame tag, start code, 32×16, then
    * header/partition bytes.
    */
  private val keyframe: Array[Byte] =
    Array[Byte](0x50, 0x02, 0x00, 0x9D.toByte, 0x01, 0x2A, 32, 0, 16, 0) ++
      Array.tabulate[Byte](40)(i => (i * 53 + 7).toByte)

  private val webm: Array[Byte] =
    header() ++ el(Segment, infoEl(Some(80.0)), tracks(1),
      el(Cluster, el(ClusterTs, be(0, 1)),
        sblock(1, 0, flags = 0x80, extra = keyframe),
        sblock(1, 40, flags = 0x80, extra = keyframe)))

  private val webp: Array[Byte] =
    "RIFF".getBytes ++ le32(4 + 8 + keyframe.length) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ le32(keyframe.length) ++ keyframe

  test("fuzz: random and bit-flipped payloads never throw — degrade only") {
    val rnd = new scala.util.Random(977)
    // the fixtures themselves: the container indexes, the pixels degrade
    assert(Multimodal.videoFrameIndex(webm).isDefined)
    assert(Multimodal.decodeVideoFrame(webm, 0).isEmpty)
    assert(Multimodal.decodeImage(webp).isEmpty)
    // pure garbage at several sizes
    for (sz <- Seq(0, 1, 9, 64, 513, 4096)) {
      val junk = Array.fill(sz)(rnd.nextInt(256).toByte)
      Multimodal.videoFrameIndex(junk)
      assert(Multimodal.decodeVideoFrame(junk, 0).isEmpty)
      assert(Multimodal.decodeImage(junk).isEmpty)
    }
    // single random bit flips: the index may read or not (a flip inside a
    // block is a don't-care byte) — an escaped exception is a failure,
    // and no flip ever yields pixels
    for (good <- Seq(webm, webp); _ <- 0 until 150) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      Multimodal.videoFrameIndex(mutated)
      assert(Multimodal.decodeVideoFrame(mutated, 0).isEmpty)
      assert(Multimodal.decodeImage(mutated).isEmpty)
    }
    // truncations at every length decile
    for (good <- Seq(webm, webp); k <- 1 until 10) {
      val cut = good.take(good.length * k / 10)
      Multimodal.videoFrameIndex(cut)
      assert(Multimodal.decodeVideoFrame(cut, 0).isEmpty)
      assert(Multimodal.decodeImage(cut).isEmpty)
    }
  }
}
