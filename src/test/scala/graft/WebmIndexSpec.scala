package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** Matroska/WebM metadata extraction ([[Multimodal.webmFrameIndex]])
  * against hand-built EBML fixtures — the happy path (sized clusters,
  * SimpleBlock + BlockGroup>Block), the two most common real-world
  * streaming shapes (unknown-size Segment / unknown-size Clusters, as
  * produced by MediaRecorder-style live muxers), laced blocks, and the
  * malformed/degrade contract. Reference: the pipeline treats video
  * attachments as opaque binary + typed metadata (SURVEY §2 multimodal);
  * element ids are the public Matroska registry, structure per RFC 8794.
  */
class WebmIndexSpec extends AnyFunSuite {

  import WebmIndexSpec._

  test("sized clusters: cluster+rel timing, BlockGroup blocks, declared duration") {
    val c0 = el(Cluster, el(ClusterTs, be(0, 1)), sblock(1, 0), sblock(1, 40))
    val c1 = el(Cluster, el(ClusterTs, be(80, 1)), bgroup(1, 0), sblock(1, 40))
    val webm = header() ++ el(Segment, infoEl(Some(200.0)), tracks(1), c0, c1)
    val Some((dur, starts, clusters)) = Multimodal.webmFrameIndex(webm)
    assert(dur == 200L)
    assert(starts.toSeq == Seq(0L, 40L, 80L, 120L))
    assert(clusters == 2)
  }

  test("streamed shape: unknown-size Segment + unknown-size Clusters don't swallow siblings") {
    // MediaRecorder-style: the muxer never knows extents up front, so the
    // Segment AND every Cluster carry the all-ones size VINT. RFC 8794:
    // each unknown-size Cluster ends where the next sibling-level id
    // (here: the next Cluster) begins.
    val c0 = elUnknown(Cluster, el(ClusterTs, be(0, 1)), sblock(1, 0), sblock(1, 33))
    val c1 = elUnknown(Cluster, el(ClusterTs, be(66, 1)), sblock(1, 0))
    val webm = header() ++ elUnknown(Segment, infoEl(None), tracks(1), c0, c1)
    val Some((dur, starts, clusters)) = Multimodal.webmFrameIndex(webm)
    assert(clusters == 2, "unknown-size cluster must stop at the next Cluster id")
    assert(starts.toSeq == Seq(0L, 33L, 66L))
    assert(dur == 66L) // no declared Duration → last frame start
  }

  test("laced SimpleBlock: every lace frame is counted, at the block's timestamp") {
    // flags 0x02 = Xiph lacing; next byte = frame count - 1 (here 3 frames)
    val laced = el(SimpleBlock, Array(0x81.toByte), be(0, 2),
      Array(0x02.toByte), Array(2.toByte), Array[Byte](5, 5, 5, 6, 7))
    val c = el(Cluster, el(ClusterTs, be(10, 1)), laced, sblock(1, 90))
    val webm = header() ++ el(Segment, infoEl(None), tracks(1), c)
    val Some((_, starts, _)) = Multimodal.webmFrameIndex(webm)
    assert(starts.toSeq == Seq(10L, 10L, 10L, 100L))
  }

  test("non-video tracks are ignored; matroska DocType accepted") {
    val c = el(Cluster, el(ClusterTs, be(0, 1)),
      sblock(2, 5), // audio track — not counted
      sblock(1, 20))
    val webm = header("matroska") ++ el(Segment, infoEl(None), tracks(1, extraAudioTrack = Some(2)), c)
    val Some((_, starts, _)) = Multimodal.webmFrameIndex(webm)
    assert(starts.toSeq == Seq(20L))
  }

  test("degrade contract: non-EBML, foreign DocType, truncated, audio-only → None") {
    assert(Multimodal.webmFrameIndex(null).isEmpty)
    assert(Multimodal.webmFrameIndex("RIFFnot a webm at all".getBytes).isEmpty)
    assert(Multimodal.webmFrameIndex(header("avi") ++ el(Segment, infoEl(None))).isEmpty)
    val ok = header() ++ el(Segment, infoEl(None), tracks(1),
      el(Cluster, el(ClusterTs, be(0, 1)), sblock(1, 0)))
    assert(Multimodal.webmFrameIndex(ok).isDefined)
    assert(Multimodal.webmFrameIndex(ok.take(ok.length / 2)).isEmpty)
    // a tracks section with no video entry → None
    val audioOnly = header() ++ el(Segment, infoEl(None),
      el(Tracks, el(TrackEntry, el(TrackNum, be(1, 1)), el(TrackType, be(2, 1)))),
      el(Cluster, el(ClusterTs, be(0, 1)), sblock(1, 0)))
    assert(Multimodal.webmFrameIndex(audioOnly).isEmpty)
  }

  test("videoFrameIndex routes WebM") {
    val webm = header() ++ el(Segment, infoEl(Some(40.0)), tracks(1),
      el(Cluster, el(ClusterTs, be(0, 1)), sblock(1, 0)))
    val Some((dur, starts)) = Multimodal.videoFrameIndex(webm)
    assert(dur == 40L && starts.toSeq == Seq(0L))
  }
}

/** EBML fixture builders, shared with the VP8 payload spec. */
object WebmIndexSpec {

  // --- EBML fixture builder ------------------------------------------
  def be(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray

  /** Data-size VINT (1–3 bytes, enough for fixtures). */
  def vsize(n: Int): Array[Byte] =
    if (n < 0x7F) Array((0x80 | n).toByte)
    else if (n < 0x3FFF) Array((0x40 | (n >> 8)).toByte, (n & 0xFF).toByte)
    else Array((0x20 | (n >> 16)).toByte, ((n >> 8) & 0xFF).toByte, (n & 0xFF).toByte)

  def el(id: Array[Byte], payload: Array[Byte]*): Array[Byte] = {
    val p = payload.flatten.toArray
    id ++ vsize(p.length) ++ p
  }

  /** Element with the all-ones "unknown size" VINT (0xFF), the streamed
    * form live muxers emit before the element's extent is known.
    */
  def elUnknown(id: Array[Byte], payload: Array[Byte]*): Array[Byte] =
    id ++ Array(0xFF.toByte) ++ payload.flatten.toArray

  val EbmlHdr = Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte)
  val DocType = Array(0x42, 0x82).map(_.toByte)
  val Segment = Array(0x18, 0x53, 0x80, 0x67).map(_.toByte)
  val Info = Array(0x15, 0x49, 0xA9, 0x66).map(_.toByte)
  val TsScale = Array(0x2A, 0xD7, 0xB1).map(_.toByte)
  val Duration = Array(0x44, 0x89).map(_.toByte)
  val Tracks = Array(0x16, 0x54, 0xAE, 0x6B).map(_.toByte)
  val TrackEntry = Array(0xAE).map(_.toByte)
  val TrackNum = Array(0xD7).map(_.toByte)
  val TrackType = Array(0x83).map(_.toByte)
  val Cluster = Array(0x1F, 0x43, 0xB6, 0x75).map(_.toByte)
  val ClusterTs = Array(0xE7).map(_.toByte)
  val SimpleBlock = Array(0xA3).map(_.toByte)
  val BlockGroup = Array(0xA0).map(_.toByte)
  val Block = Array(0xA1).map(_.toByte)

  def header(doc: String = "webm"): Array[Byte] =
    el(EbmlHdr, el(DocType, doc.getBytes("ISO-8859-1")))

  def infoEl(durUnits: Option[Double]): Array[Byte] = {
    val dur = durUnits.map(d =>
      el(Duration, be(java.lang.Float.floatToIntBits(d.toFloat) & 0xFFFFFFFFL, 4)))
      .getOrElse(Array.emptyByteArray)
    el(Info, el(TsScale, be(1000000L, 3)), dur)
  }

  def tracks(videoTrackNum: Int, extraAudioTrack: Option[Int] = None): Array[Byte] = {
    val video = el(TrackEntry, el(TrackNum, be(videoTrackNum, 1)), el(TrackType, be(1, 1)))
    val audio = extraAudioTrack.map(n =>
      el(TrackEntry, el(TrackNum, be(n, 1)), el(TrackType, be(2, 1))))
      .getOrElse(Array.emptyByteArray)
    el(Tracks, audio, video)
  }

  /** SimpleBlock payload: track VINT + int16 rel ts + flags + data. */
  def sblock(track: Int, rel: Int, flags: Int = 0, extra: Array[Byte] = Array(1, 2, 3)): Array[Byte] =
    el(SimpleBlock, Array((0x80 | track).toByte), be(rel.toLong & 0xFFFF, 2),
      Array(flags.toByte), extra)

  def bgroup(track: Int, rel: Int): Array[Byte] =
    el(BlockGroup, el(Block, Array((0x80 | track).toByte),
      be(rel.toLong & 0xFFFF, 2), Array(0.toByte), Array[Byte](9)))
}
