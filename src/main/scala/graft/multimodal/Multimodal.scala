package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the Spark-side plumbing for decode / feature
  * extraction — schema, partitioning, batch shape.
  *
  * IMAGE decode/resize is REAL (`javax.imageio`, JDK-native PNG/JPEG/BMP/
  * GIF — [[extractImageFeatures]], [[resizeImages]]); AUDIO decode is
  * REAL for WAV/PCM and anything else `javax.sound.sampled` can open,
  * and for FLAC through the in-engine [[Flac]] decoder
  * ([[extractAudioFeatures]]). VIDEO decode is REAL for the one
  * multi-frame container the JDK ships a codec for — animated GIF
  * ([[videoFrameIndex]] metadata-only frame timing, [[decodeVideoFrame]]
  * per-frame pixel decode, [[extractVideoFeatures]] /
  * [[sampleVideoFrames]] on top). In all three, a payload the JDK codec
  * cannot parse falls back to the deterministic byte-hash stub with a
  * `decoded=false` flag, so a mixed or corrupt batch degrades row-wise
  * instead of failing the task; MP4/WebM pixels and WebP images take
  * that degrade path until a JNI/FFmpeg decoder replaces the
  * leaf functions — the schema contract, size-aware repartitioning, and
  * mapPartitions batch shape do not change.
  *
  * Scale design: media rows are heavily skewed by payload size, so the
  * partitioner is byte-budget-based (`repartitionByBytes`), not row-count
  * based — a 1000-executor job must not put ten 4K videos in one task.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  val FeatureDim = 16

  /** Deterministic stand-in for the media decoder: a 16-dim feature vector
    * derived from payload bytes (rolling byte hash per dimension). ??? —
    * replace with the real decode (image resize / audio frames / video
    * frame-sample) when the native libs exist; signature and batch shape
    * stay identical.
    */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    if (payload == null) return out
    var i = 0
    while (i < payload.length) {
      val d = i % FeatureDim
      out(d) = out(d) * 31.0f + (payload(i) & 0xFF)
      out(d) = out(d) % 65521.0f
      i += 1
    }
    out
  }

  /** Feature extraction over the media table: typed Dataset mapPartitions
    * (one decoder init per partition — the expensive part with a real
    * codec), emitting (media_id, features, n_bytes). Stays in the
    * Dataset/Encoder world — no raw RDD hop.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real impl: init decoder/codec once here, per partition
        it.map { case (id, payload) =>
          (id, decodeStub(payload),
            if (payload == null) 0L else payload.length.toLong)
        }
      }
      .toDF("media_id", "features", "n_bytes")
  }

  /** Real image decode: ImageIO parse (PNG/JPEG/GIF/BMP — the JDK
    * codecs) + [[FeatureDim]]-dim feature vector of 4×4-grid luminance
    * means (row-major; partial edge cells use their true pixel counts).
    * None when the payload isn't a decodable image — WebP included, which
    * the JDK has no codec for.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    if (payload == null || payload.isEmpty) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else Some((img.getWidth, img.getHeight, luminanceGrid(img)))
  }

  /** grid×grid cells of luminance means over a decoded raster, row-major;
    * partial edge cells use their true pixel counts. Shared by the image
    * path (4×4 = [[FeatureDim]]), the per-frame video path, and the 8×8
    * (64-cell) perceptual-hash path.
    */
  private def luminanceGrid(img: java.awt.image.BufferedImage,
                            grid: Int = 4): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val cells = grid * grid
    val sums = new Array[Double](cells)
    val counts = new Array[Long](cells)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.114 * (rgb & 0xFF)
        val cell = math.min(grid - 1, y * grid / h) * grid +
          math.min(grid - 1, x * grid / w)
        sums(cell) += lum; counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(cells)(i =>
      if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
  }

  /** Image feature extraction with the REAL codec: one ImageIO decode per
    * row inside the same typed mapPartitions batch shape as
    * [[extractFeatures]]. Emits (media_id, width, height, features,
    * decoded, n_bytes); undecodable payloads keep the pipeline moving on
    * the stub features with `decoded=false` and geometry (0, 0).
    */
  def extractImageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          decodeImage(p) match {
            case Some((w, h, f)) => (id, w, h, f, true, n)
            case None            => (id, 0, 0, decodeStub(p), false, n)
          }
        }
      }
      .toDF("media_id", "width", "height", "features", "decoded", "n_bytes")
  }

  /** Real audio decode: FLAC through [[Flac]] (compressed codec, decode
    * MD5/CRC-verified against the encoder's own signature), everything
    * else through `javax.sound.sampled` (JDK-native WAV/PCM — AIFF/AU
    * too): stream → PCM → ([[FeatureDim]] windows of mean |amplitude|,
    * channel-averaged and normalized to [0,1], time-ordered — the 1-D
    * analog of the image path's luminance grid), plus the clip duration
    * in ms. None when the payload isn't decodable audio — a FLAC stream
    * that fails its CRC/MD5 checks included.
    */
  def decodeAudio(payload: Array[Byte]): Option[(Long, Array[Float])] = {
    if (payload == null || payload.isEmpty) return None
    if (payload.length >= 4 && payload(0) == 'f' && payload(1) == 'L' &&
      payload(2) == 'a' && payload(3) == 'C') {
      return Flac.decode(payload).map { case (si, chans) =>
        val n = chans(0).length
        val durationMs = math.round(n * 1000.0 / si.sampleRate)
        val norm = math.pow(2.0, si.bps - 1)
        val sums = new Array[Double](FeatureDim)
        val counts = new Array[Long](FeatureDim)
        var i = 0
        while (i < n) {
          var c = 0
          var acc = 0.0
          while (c < si.channels) { acc += math.abs(chans(c)(i).toDouble); c += 1 }
          val cell = math.min(FeatureDim - 1, i.toLong * FeatureDim / n).toInt
          sums(cell) += acc / si.channels / norm
          counts(cell) += 1
          i += 1
        }
        (durationMs, Array.tabulate(FeatureDim)(d =>
          if (counts(d) == 0) 0f else (sums(d) / counts(d)).toFloat))
      }
    }
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val src = ais.getFormat
        val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels,
          src.getChannels * 2, src.getSampleRate, false)
        val pcm = AudioSystem.getAudioInputStream(pcmFmt, ais)
        val bytes = pcm.readAllBytes()
        val ch = pcmFmt.getChannels
        val n = bytes.length / 2 / ch // samples per channel
        if (n == 0) return None
        val durationMs = math.round(n * 1000.0 / pcmFmt.getSampleRate)
        val sums = new Array[Double](FeatureDim)
        val counts = new Array[Long](FeatureDim)
        var i = 0
        while (i < n) {
          var c = 0
          var acc = 0.0
          while (c < ch) {
            val off = 2 * (i * ch + c) // little-endian s16
            acc += math.abs(((bytes(off + 1) << 8) | (bytes(off) & 0xFF)).toShort.toInt)
            c += 1
          }
          val cell = math.min(FeatureDim - 1, i.toLong * FeatureDim / n).toInt
          sums(cell) += acc / ch / 32768.0
          counts(cell) += 1
          i += 1
        }
        Some((durationMs, Array.tabulate(FeatureDim)(d =>
          if (counts(d) == 0) 0f else (sums(d) / counts(d)).toFloat)))
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** Audio feature extraction with the REAL codec: same typed
    * mapPartitions batch shape as [[extractImageFeatures]]. Emits
    * (media_id, duration_ms, features, decoded, n_bytes); undecodable
    * payloads keep the pipeline moving on the stub features with
    * `decoded=false` and duration 0.
    */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          decodeAudio(p) match {
            case Some((dur, f)) => (id, dur, f, true, n)
            case None           => (id, 0L, decodeStub(p), false, n)
          }
        }
      }
      .toDF("media_id", "duration_ms", "features", "decoded", "n_bytes")
  }

  /** Real image resize: ImageIO decode → smooth-scaled draw onto a fresh
    * RGB raster → PNG re-encode. None when the payload isn't an image.
    */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    if (payload == null || payload.isEmpty || w <= 0 || h <= 0) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(
        img.getScaledInstance(w, h, java.awt.Image.SCALE_SMOOTH), 0, 0, null)
      finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    }
  }

  /** Thumbnail projection with the REAL scaler; undecodable payloads fall
    * back to [[resizeStub]] with `decoded=false` (same geometry contract).
    */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          resizeImage(p, w, h) match {
            case Some(png) => (id, png, w, h, true)
            case None      => (id, resizeStub(p, w, h), w, h, false)
          }
        }
      }
      .toDF("media_id", "thumb", "width", "height", "decoded")
  }

  /** Deterministic stand-in for image resize: emits a fake thumbnail
    * payload of exactly `w*h` bytes derived from the source bytes. ??? —
    * replace with the real scaler; the contract (binary → binary of the
    * target geometry, null-safe) is what the pipeline depends on.
    */
  def resizeStub(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(0, w * h))
    if (payload == null || payload.isEmpty) return out
    var i = 0
    var acc = 1469598103934665603L
    while (i < out.length) {
      acc = (acc ^ payload(i % payload.length)) * 1099511628211L
      out(i) = (acc >>> 56).toByte
      i += 1
    }
    out
  }

  /** Thumbnail projection: typed mapPartitions batch shape (decoder init
    * per partition), binary in → binary out + target geometry columns.
    */
  def resizeAll(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real impl: init scaler once here, per partition
        it.map { case (id, p) => (id, resizeStub(p, w, h), w, h) }
      }
      .toDF("media_id", "thumb", "width", "height")
  }

  /** Video frame sampling: one row per sampled frame, every `everyMs`
    * across `meta.duration_ms` (frame 0 always included). The fan-out is a
    * declarative `explode(sequence(...))` — Catalyst knows the output
    * cardinality shape, and the per-frame decode happens AFTER the
    * explode, so a long video's frames spread across tasks instead of
    * being decoded inside one row's UDF call. Frame features come from the
    * stub decoder seeded with the frame offset (??? — real impl: seek +
    * decode the frame).
    */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id").cast("long"), col("payload"),
        coalesce(col("meta.duration_ms"), lit(0L)).as("__dur"))
      .withColumn("frame_ms",
        explode(sequence(lit(0L), greatest(col("__dur") - 1, lit(0L)),
          lit(everyMs))))
      .select(col("media_id"), col("payload"), col("frame_ms"))
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        // real impl: open container + seek per frame here
        it.map { case (id, p, ms) =>
          val seeded = if (p == null) Array[Byte]()
            else p :+ (ms & 0xFF).toByte :+ ((ms >> 8) & 0xFF).toByte
          (id, ms, decodeStub(seeded))
        }
      }
      .toDF("media_id", "frame_ms", "frame_features")
  }

  /** Default frame duration for GIF frames that declare no/zero delay —
    * the 100 ms convention every mainstream renderer applies to 0-delay
    * frames (a raw 0 would collapse all frames onto t=0 and a 0-length
    * clip).
    */
  val ZeroDelayFrameMs = 100L

  /** Real video container index — METADATA ONLY, no pixel decode: frame
    * start timestamps (ms) and total duration. Three container families:
    *
    *  - animated GIF (the one multi-frame container the JDK ships a
    *    codec for): per-frame delay from the GraphicControlExtension
    *    `delayTime` (units of 10 ms; 0 → [[ZeroDelayFrameMs]]);
    *  - ISO BMFF (MP4/MOV): real frame timing parsed from the container
    *    boxes (`moov/trak/mdia/{mdhd,hdlr,minf/stbl/{stts,stco}}`) — see
    *    [[mp4FrameIndex]];
    *  - Matroska/WebM: frame timing from the EBML cluster/block
    *    structure — see [[webmFrameIndex]].
    *
    * MP4 and WebM pixels have no decoder: [[decodeVideoFrame]] returns
    * None for them, so downstream rows carry real `frame_ms`/duration
    * with `decoded=false` features. None when the payload is none of the
    * three.
    */
  def videoFrameIndex(payload: Array[Byte]): Option[(Long, Array[Long])] =
    gifFrameIndex(payload).orElse(
      mp4FrameIndex(payload).map { case (dur, starts, _) => (dur, starts) })
      .orElse(
        webmFrameIndex(payload).map { case (dur, starts, _) => (dur, starts) })

  private def gifFrameIndex(payload: Array[Byte]): Option[(Long, Array[Long])] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          if (!reader.getFormatName.equalsIgnoreCase("gif")) return None
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) return None
          val starts = new Array[Long](n)
          var t = 0L
          var i = 0
          while (i < n) {
            starts(i) = t
            t += frameDelayMs(reader.getImageMetadata(i))
            i += 1
          }
          Some((t, starts))
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  /** ISO BMFF (MP4/MOV) container metadata, parsed straight off the box
    * structure (ISO/IEC 14496-12, public): for the FIRST video track
    * (`hdlr` handler `vide`), returns (duration ms, frame start times ms,
    * chunk count).
    *
    *  - timing: `stts` (decoding time-to-sample) run-length entries
    *    accumulated in `mdhd` timescale units, converted with integer
    *    `t * 1000 / timescale`;
    *  - duration: the `mdhd` duration when declared (0 / all-ones means
    *    unknown → fall back to the stts sum);
    *  - chunks: `stco` (32-bit) or `co64` chunk-offset count — the
    *    sample-data layout a real frame extractor would seek by.
    *
    * Metadata only — no sample decode; malformed boxes → None, never a
    * throw. Frame count is capped so a hostile header can't allocate GBs.
    */
  def mp4FrameIndex(payload: Array[Byte]): Option[(Long, Array[Long], Int)] = {
    if (payload == null || payload.length < 16) return None
    try {
      val top = boxChildren(payload, 0, payload.length)
      // brand check: ISO BMFF files lead with ftyp (MOV: also accepted)
      if (!top.exists(_._1 == "ftyp")) return None
      val moov = top.find(_._1 == "moov").getOrElse(return None)
      val traks = boxChildren(payload, moov._2, moov._3).filter(_._1 == "trak")
      traks.foreach { trak =>
        val mdia = boxChildren(payload, trak._2, trak._3).find(_._1 == "mdia")
          .getOrElse(return None)
        val mc = boxChildren(payload, mdia._2, mdia._3)
        val isVideo = mc.find(_._1 == "hdlr").exists { h =>
          // hdlr payload: version+flags(4) pre_defined(4) handler_type(4)
          h._3 - h._2 >= 12 &&
            new String(payload, h._2 + 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1) == "vide"
        }
        if (isVideo) {
          val mdhd = mc.find(_._1 == "mdhd").getOrElse(return None)
          val v = payload(mdhd._2) & 0xFF
          val (timescale, declaredDur) =
            if (v == 1) (be32u(payload, mdhd._2 + 20), be64(payload, mdhd._2 + 24))
            else (be32u(payload, mdhd._2 + 12), be32u(payload, mdhd._2 + 16))
          if (timescale <= 0) return None
          val stbl = mc.find(_._1 == "minf")
            .flatMap(m => boxChildren(payload, m._2, m._3).find(_._1 == "stbl"))
            .getOrElse(return None)
          val sc = boxChildren(payload, stbl._2, stbl._3)
          val stts = sc.find(_._1 == "stts").getOrElse(return None)
          val nEntries = be32u(payload, stts._2 + 4)
          if (nEntries < 0 || stts._2 + 8 + nEntries * 8 > stts._3) return None
          val starts = Array.newBuilder[Long]
          var t = 0L
          var total = 0L
          var e = 0
          val MaxFrames = 1 << 22
          while (e < nEntries) {
            val off = stts._2 + 8 + e * 8
            val cnt = be32u(payload, off.toInt)
            val delta = be32u(payload, off.toInt + 4)
            if (total + cnt > MaxFrames) return None
            var i = 0L
            while (i < cnt) {
              starts += t * 1000L / timescale
              t += delta
              i += 1
            }
            total += cnt
            e += 1
          }
          if (total == 0) return None
          // mdhd duration in v0 files uses all-ones for "unknown"
          val dur =
            if (declaredDur > 0 && declaredDur != 0xFFFFFFFFL) declaredDur
            else t
          val chunks = sc.find(c => c._1 == "stco" || c._1 == "co64")
            .map(c => be32u(payload, c._2 + 4).toInt).getOrElse(0)
          return Some((dur * 1000L / timescale, starts.result(), chunks))
        }
      }
      None
    } catch { case _: Exception => None }
  }

  /** Child boxes of the byte range [start, end): (type, payloadStart,
    * payloadEnd). Handles 32-bit sizes, 64-bit largesize (size == 1), and
    * to-end-of-file (size == 0); stops at the first malformed header.
    */
  private def boxChildren(b: Array[Byte], start: Int, end: Int): Seq[(String, Int, Int)] = {
    val out = Seq.newBuilder[(String, Int, Int)]
    var off = start
    var continue = true
    while (continue && off + 8 <= end) {
      val size32 = be32u(b, off)
      val typ = new String(b, off + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val (hdr, size): (Int, Long) =
        if (size32 == 1L && off + 16 <= end) (16, be64(b, off + 8))
        else if (size32 == 0L) (8, (end - off).toLong)
        else (8, size32)
      if (size < hdr || off + size > end) continue = false
      else {
        out += ((typ, off + hdr, off + size.toInt))
        off += size.toInt
      }
    }
    out.result()
  }

  /** Matroska/WebM container metadata, parsed straight off the EBML
    * structure (RFC 8794 + the public Matroska element registry) — the
    * second major container after ISO BMFF, mirroring [[mp4FrameIndex]]:
    * for the FIRST video track (TrackType 1), returns (duration ms, frame
    * start times ms, cluster count).
    *
    *  - timing: each Cluster's Timestamp plus every video-track
    *    SimpleBlock / BlockGroup>Block's signed 16-bit relative timestamp,
    *    in TimestampScale units (ns per unit, default 1,000,000 = 1 ms),
    *    converted with integer `ts * scaleNs / 1e6`;
    *  - duration: Segment>Info>Duration (float, scale units) when
    *    declared; else the last video frame's start;
    *  - clusters: the Cluster count — the seek granularity a real frame
    *    extractor would use.
    *
    * Metadata only — no pixel decode. Malformed EBML → None, never a
    * throw; frame count capped
    * against hostile headers. Accepts the `webm` and `matroska` DocTypes.
    * Streamed (MediaRecorder-style) files with unknown-size Segments /
    * Clusters are handled — an unknown-size Cluster ends at the next
    * sibling-level id per RFC 8794. Laced blocks count every lace frame
    * (all at the block's timestamp — the container carries no per-lace
    * timing).
    */
  def webmFrameIndex(payload: Array[Byte]): Option[(Long, Array[Long], Int)] = {
    if (payload == null || payload.length < 8) return None
    try {
      val top = ebmlChildren(payload, 0, payload.length)
      val hdr = top.find(_._1 == 0x1A45DFA3L).getOrElse(return None)
      // DocType (0x4282) defaults to "matroska" when absent (RFC 8794)
      val doc = ebmlChildren(payload, hdr._2, hdr._3).find(_._1 == 0x4282L)
        .map(e => new String(payload, e._2, e._3 - e._2,
          java.nio.charset.StandardCharsets.ISO_8859_1))
      if (!doc.forall(d => d == "webm" || d == "matroska")) return None
      val seg = top.find(_._1 == 0x18538067L).getOrElse(return None)
      val segKids = ebmlChildren(payload, seg._2, seg._3)
      var scaleNs = 1000000L
      var durUnits: Option[Double] = None
      segKids.find(_._1 == 0x1549A966L).foreach { info =>
        ebmlChildren(payload, info._2, info._3).foreach {
          case (0x2AD7B1L, s, e) => scaleNs = ebmlUInt(payload, s, e)
          case (0x4489L, s, e)   => durUnits = Some(ebmlFloat(payload, s, e))
          case _ => ()
        }
      }
      if (scaleNs <= 0) return None
      // first TrackEntry (0xAE) with TrackType (0x83) video=1 → TrackNumber (0xD7)
      val videoTrack = segKids.find(_._1 == 0x1654AE6BL).flatMap { tracks =>
        ebmlChildren(payload, tracks._2, tracks._3)
          .filter(_._1 == 0xAEL)
          .flatMap { te =>
            val kids = ebmlChildren(payload, te._2, te._3)
            val typ = kids.find(_._1 == 0x83L).map(k => ebmlUInt(payload, k._2, k._3))
            val num = kids.find(_._1 == 0xD7L).map(k => ebmlUInt(payload, k._2, k._3))
            if (typ.contains(1L)) num else None
          }.headOption
      }.getOrElse(return None)
      val starts = Array.newBuilder[Long]
      val MaxFrames = 1 << 22
      var nFrames = 0L
      var clusters = 0
      var maxTs = 0L
      segKids.filter(_._1 == 0x1F43B675L).foreach { cl =>
        clusters += 1
        var clusterTs = 0L
        ebmlChildren(payload, cl._2, cl._3).foreach {
          case (0xE7L, s, e) => clusterTs = ebmlUInt(payload, s, e)
          case (id, s, e) if id == 0xA3L || id == 0xA0L =>
            // SimpleBlock payload directly, or BlockGroup's Block (0xA1)
            val (bs, bEnd) =
              if (id == 0xA0L)
                ebmlChildren(payload, s, e).find(_._1 == 0xA1L)
                  .map(b => (b._2, b._3)).getOrElse((-1, -1))
              else (s, e)
            if (bs >= 0) {
              // block header: track-number VINT + int16 relative
              // timestamp + flags byte (lacing in bits 0x06)
              val (trk, vlen) = ebmlVint(payload, bs)
              if (vlen > 0 && trk == videoTrack && bs + vlen + 3 <= bEnd) {
                val rel = (((payload(bs + vlen) & 0xFF) << 8) |
                  (payload(bs + vlen + 1) & 0xFF)).toShort.toLong
                val flags = payload(bs + vlen + 2) & 0xFF
                // a laced block (Xiph 0x02 / fixed 0x04 / EBML 0x06)
                // carries FrameCount-1 in the byte after the flags; the
                // container assigns no per-lace timestamps (durations
                // live on the TrackEntry), so all laced frames report
                // the block's timestamp rather than under-counting as 1
                val laceFrames =
                  if ((flags & 0x06) != 0 && bs + vlen + 3 < bEnd)
                    (payload(bs + vlen + 3) & 0xFF) + 1
                  else 1
                val ts = clusterTs + rel
                nFrames += laceFrames
                if (nFrames > MaxFrames) return None
                var f = 0
                while (f < laceFrames) {
                  starts += ts * scaleNs / 1000000L
                  f += 1
                }
                if (ts > maxTs) maxTs = ts
              }
            }
          case _ => ()
        }
      }
      val arr = starts.result()
      if (arr.isEmpty) return None
      val durMs = durUnits.map(d => (d * scaleNs / 1e6).toLong)
        .getOrElse(maxTs * scaleNs / 1000000L)
      Some((durMs, arr, clusters))
    } catch { case _: Exception => None }
  }

  /** EBML children of [start, end): (element id WITH its marker bits —
    * the registry convention — payloadStart, payloadEnd). Unknown-size
    * elements (all-ones VINT): a streamed Segment extends to the
    * enclosing range's end; a streamed Cluster is terminated at the next
    * sibling-level id per RFC 8794 §6.2 (see [[unknownClusterEnd]]) so
    * MediaRecorder-style output with N unknown-size Clusters yields N
    * clusters, not one swallowing the rest. Stops at the first malformed
    * header.
    */
  private def ebmlChildren(b: Array[Byte], start: Int, end: Int): Seq[(Long, Int, Int)] = {
    val out = Seq.newBuilder[(Long, Int, Int)]
    var off = start
    var continue = true
    while (continue && off < end) {
      val (id, idLen) = ebmlId(b, off)
      if (idLen == 0) continue = false
      else {
        val (size, szLen, unknown) = ebmlSize(b, off + idLen)
        if (szLen == 0) continue = false
        else {
          val ps = off + idLen + szLen
          val pe =
            if (unknown && id == 0x1F43B675L) unknownClusterEnd(b, ps, end)
            else if (unknown) end
            else ps + size
          if (size < 0 || pe > end || ps > end) continue = false
          else {
            out += ((id, ps, pe))
            off = pe
          }
        }
      }
    }
    out.result()
  }

  /** Segment-level Matroska ids — the set whose appearance terminates an
    * unknown-size Cluster (they can only start a SIBLING of the Cluster,
    * never one of its children): Cluster, SeekHead, Info, Tracks, Cues,
    * Chapters, Tags, Attachments.
    */
  private val SegmentLevelIds: Set[Long] = Set(
    0x1F43B675L, 0x114D9B74L, 0x1549A966L, 0x1654AE6BL,
    0x1C53BB6BL, 0x1043A770L, 0x1254C367L, 0x1941A469L)

  /** End offset of an unknown-size Cluster whose payload starts at `ps`:
    * walks the cluster's SIZED children (Timestamp, SimpleBlock,
    * BlockGroup, ... — element-structure walk, not a byte scan, so block
    * payload bytes can't false-positive as ids) until an id in
    * [[SegmentLevelIds]] begins — that position ends the cluster. A
    * malformed or nested-unknown-size child ends the cluster there too
    * (degrade, never a throw); otherwise the enclosing range's end.
    */
  private def unknownClusterEnd(b: Array[Byte], ps: Int, end: Int): Int = {
    var off = ps
    while (off < end) {
      val (cid, idLen) = ebmlId(b, off)
      if (idLen == 0) return off
      if (SegmentLevelIds.contains(cid)) return off
      val (size, szLen, unknown) = ebmlSize(b, off + idLen)
      if (szLen == 0 || unknown) return off
      val next = off + idLen + szLen + size
      if (next <= off || next > end) return off
      off = next
    }
    end
  }

  /** EBML element id at `off`: (id incl marker, byte length 1–4); (0, 0)
    * when malformed.
    */
  private def ebmlId(b: Array[Byte], off: Int): (Long, Int) = {
    if (off >= b.length) return (0L, 0)
    val first = b(off) & 0xFF
    val len =
      if ((first & 0x80) != 0) 1
      else if ((first & 0x40) != 0) 2
      else if ((first & 0x20) != 0) 3
      else if ((first & 0x10) != 0) 4
      else 0
    if (len == 0 || off + len > b.length) return (0L, 0)
    var v = 0L
    var k = 0
    while (k < len) { v = (v << 8) | (b(off + k) & 0xFFL); k += 1 }
    (v, len)
  }

  /** EBML size/data VINT at `off`: (value with marker stripped, byte
    * length 1–8, all-ones "unknown size"); (0, 0, false) when malformed.
    */
  private def ebmlSize(b: Array[Byte], off: Int): (Int, Int, Boolean) = {
    val (v, len) = ebmlVint(b, off)
    if (len == 0) return (0, 0, false)
    val allOnes = v == (1L << (7 * len)) - 1
    if (v > Int.MaxValue) (0, 0, false) else (v.toInt, len, allOnes)
  }

  /** Data VINT (marker bit stripped — block track numbers, sizes). */
  private def ebmlVint(b: Array[Byte], off: Int): (Long, Int) = {
    if (off >= b.length) return (0L, 0)
    val first = b(off) & 0xFF
    var len = 0
    var mask = 0x80
    while (mask != 0 && (first & mask) == 0) { mask >>= 1; len += 1 }
    len += 1
    if (mask == 0 || off + len > b.length) return (0L, 0)
    var v = (first & (mask - 1)).toLong
    var k = 1
    while (k < len) { v = (v << 8) | (b(off + k) & 0xFFL); k += 1 }
    (v, len)
  }

  private def ebmlUInt(b: Array[Byte], s: Int, e: Int): Long = {
    var v = 0L
    var i = s
    while (i < e && i - s < 8) { v = (v << 8) | (b(i) & 0xFFL); i += 1 }
    v
  }

  private def ebmlFloat(b: Array[Byte], s: Int, e: Int): Double = (e - s) match {
    case 4 => java.lang.Float.intBitsToFloat(ebmlUInt(b, s, e).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(ebmlUInt(b, s, e))
    case _ => 0.0
  }

  private def be32u(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  private def be64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (b(i + k) & 0xFFL); k += 1 }
    v
  }

  private def frameDelayMs(md: javax.imageio.metadata.IIOMetadata): Long = {
    val tree = md.getAsTree("javax_imageio_gif_image_1.0")
      .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val nodes = tree.getElementsByTagName("GraphicControlExtension")
    val delay =
      if (nodes.getLength == 0) 0L
      else try nodes.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        .getAttribute("delayTime").toLong * 10L
      catch { case _: NumberFormatException => 0L }
    if (delay <= 0) ZeroDelayFrameMs else delay
  }

  /** Real per-frame video decode: GIF frame `idx`'s raster → geometry +
    * [[FeatureDim]] luminance-grid features (same grid as the image
    * path). Each frame decodes as its own raster (no disposal
    * compositing — features describe the frame's pixels, which is what a
    * sampling pipeline wants).
    *
    * None when the payload is not a GIF (MP4/WebM included), the index is
    * out of range, or the pixels can't be reconstructed.
    */
  def decodeVideoFrame(payload: Array[Byte], idx: Int): Option[(Int, Int, Array[Float])] = {
    if (payload == null || payload.isEmpty || idx < 0) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          if (!reader.getFormatName.equalsIgnoreCase("gif")) return None
          reader.setInput(iis)
          if (idx >= reader.getNumImages(true)) return None
          val img = reader.read(idx)
          if (img == null || img.getWidth == 0 || img.getHeight == 0) None
          else Some((img.getWidth, img.getHeight, luminanceGrid(img)))
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  /** Per-video summary with the REAL codec: container duration, frame
    * count, and the mean luminance grid across ALL frames — the video
    * analog of the image path's single grid. Same typed mapPartitions
    * batch shape; undecodable payloads degrade to the stub with
    * `decoded=false` and (0, 0) duration/frames.
    */
  def extractVideoFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          videoFrameIndex(p) match {
            case Some((dur, starts)) =>
              val acc = new Array[Double](FeatureDim)
              var decodedFrames = 0
              def add(f: Array[Float]): Unit = {
                var d = 0
                while (d < FeatureDim) { acc(d) += f(d); d += 1 }
                decodedFrames += 1
              }
              // one ImageReader per payload; MP4/WebM decode no frame
              // and degrade below
              foreachGifFrame(p, starts.length)(img => add(luminanceGrid(img)))
              if (decodedFrames == 0) (id, 0L, 0, decodeStub(p), false, n)
              else (id, dur, starts.length,
                Array.tabulate(FeatureDim)(d => (acc(d) / decodedFrames).toFloat),
                true, n)
            case None => (id, 0L, 0, decodeStub(p), false, n)
          }
        }
      }
      .toDF("media_id", "duration_ms", "n_frames", "features", "decoded", "n_bytes")
  }

  /** Decode up to `maxFrames` GIF frames through ONE ImageReader (the
    * per-frame path would re-create the reader — and re-parse the GIF
    * header chain — per frame). Invalid/short payloads invoke `f` for
    * however many frames decode; exceptions degrade silently like the
    * per-frame path.
    */
  private def foreachGifFrame(p: Array[Byte], maxFrames: Int)(
      f: java.awt.image.BufferedImage => Unit): Unit = {
    if (p == null || p.isEmpty) return
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(p))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return
        val reader = readers.next()
        try {
          if (!reader.getFormatName.equalsIgnoreCase("gif")) return
          reader.setInput(iis)
          val cnt = math.min(reader.getNumImages(true), maxFrames)
          var i = 0
          while (i < cnt) {
            val img = reader.read(i)
            if (img != null && img.getWidth > 0 && img.getHeight > 0) f(img)
            i += 1
          }
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => () }
  }

  /** Frame sampling with the REAL codec, in two passes so the expensive
    * pixel decode happens AFTER the fan-out:
    *
    *  1. metadata-only container index per video (cheap — no pixel
    *     decode): true duration + frame start times; a non-GIF payload
    *     falls back to `meta.duration_ms` with the stub flag.
    *  2. declarative `explode(sequence(0, dur-1, everyMs))` fan-out, the
    *     covering frame index resolved with an array HOF (`filter` on the
    *     starts column — codegen, no UDF), then a repartition on
    *     (media_id, frame_ms) so one long video's frames decode across
    *     the cluster instead of inside one task, then the per-frame
    *     pixel decode.
    *
    * Emits (media_id, frame_ms, frame_idx, frame_features, decoded);
    * degraded rows carry the stub features seeded with the frame offset
    * (identical contract to [[sampleFrames]]) and frame_idx −1.
    */
  def sampleVideoFrames(media: DataFrame, everyMs: Long): DataFrame = {
    require(everyMs > 0, s"everyMs must be positive, got $everyMs")
    val spark = media.sparkSession
    import spark.implicits._
    val indexed = media
      .select(col("media_id").cast("long"), col("payload"),
        coalesce(col("meta.duration_ms"), lit(0L)).as("__metaDur"))
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        it.map { case (id, p, metaDur) =>
          videoFrameIndex(p) match {
            case Some((dur, starts)) => (id, p, dur, starts, true)
            case None => (id, p, metaDur, Array.empty[Long], false)
          }
        }
      }
      .toDF("media_id", "payload", "__dur", "__starts", "__real")
    indexed
      .withColumn("frame_ms",
        explode(sequence(lit(0L), greatest(col("__dur") - 1, lit(0L)),
          lit(everyMs))))
      .withColumn("frame_idx",
        when(col("__real"),
          size(filter(col("__starts"), s => s <= col("frame_ms"))) - 1)
          .otherwise(lit(-1)))
      .repartition(col("media_id"), col("frame_ms"))
      .select(col("media_id"), col("payload"), col("frame_ms"), col("frame_idx"))
      .as[(Long, Array[Byte], Long, Int)]
      .mapPartitions { it =>
        it.map { case (id, p, ms, idx) =>
          val real = if (idx >= 0) decodeVideoFrame(p, idx) else None
          real match {
            case Some((_, _, f)) => (id, ms, idx, f, true)
            case None =>
              val seeded = if (p == null) Array[Byte]()
                else p :+ (ms & 0xFF).toByte :+ ((ms >> 8) & 0xFF).toByte
              (id, ms, -1, decodeStub(seeded), false)
          }
        }
      }
      .toDF("media_id", "frame_ms", "frame_idx", "frame_features", "decoded")
  }

  /** Byte-budget repartitioning: pack rows into partitions of roughly
    * `targetBytes` of payload — the size-skew answer for media tables (a
    * 4K video and a thumbnail must not count the same).
    *
    * Scale shape: the cumulative-sum window is PARTITIONED (hash of
    * media_id into `parallelism` groups), so no single task ever sees the
    * whole table — a global ORDER BY window would serialize 100 TB through
    * one task. Each group packs its own rows into `(group, localBucket)`
    * cells of ≤ targetBytes (+ one row of slack); the final repartition
    * hashes those cells across the cluster. Deterministic given media_id.
    */
  def repartitionByBytes(media: DataFrame, targetBytes: Long,
                         parallelism: Int = 64): DataFrame = {
    val sized = media.withColumn("__sz",
      coalesce(length(col("payload")).cast("long"), lit(0L)))
      .withColumn("__grp", pmod(hash(col("media_id")), lit(parallelism)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp")).orderBy(col("media_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val bucketed = sized
      .withColumn("__cum", sum(col("__sz")).over(w))
      .withColumn("__bucket",
        concat(col("__grp"), lit("#"), (col("__cum") / lit(targetBytes)).cast("long")))
    val n = math.max(1, bucketed.select(col("__bucket")).distinct().count().toInt)
    bucketed.repartition(n, col("__bucket")).drop("__sz", "__grp", "__cum", "__bucket")
  }

  /** Average-hash (aHash) over a [[FeatureDim]] luminance-grid features
    * column: bit i set when cell i exceeds the grid MEAN — the standard
    * perceptual hash for near-duplicate image detection (robust to
    * brightness/contrast shifts because the threshold is the image's own
    * mean; robust to rescaling because the grid already is the resize).
    * Pure column expression over the already-extracted features — no
    * second decode, stays in whole-stage codegen.
    */
  def perceptualHash(features: Column): Column = {
    val mean = aggregate(features, lit(0.0),
      (a, x) => a + x.cast("double")) / size(features)
    val bits = transform(features,
      f => when(f.cast("double") > mean, lit(1L)).otherwise(lit(0L)))
    // bit i = cell i: fold the REVERSED bit array with (acc << 1) | bit, so
    // cell 0 lands in the least-significant bit — no per-element shift.
    // Bitwise, not acc*2+bit: at 64 cells the final shift carries into the
    // sign bit, which ANSI-mode Multiply rejects as long overflow.
    aggregate(reverse(bits), lit(0L), (a, b) => shiftleft(a, 1).bitwiseOR(b))
  }

  /** Raw grid×grid luminance cells per image (the wide-hash decode path):
    * (media_id, cells, decoded). Same typed-mapPartitions batch shape as
    * [[extractImageFeatures]]; undecodable payloads emit `decoded=false`
    * with empty cells.
    */
  def extractImageGrid(media: DataFrame, grid: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img =
            if (p == null || p.isEmpty) null
            else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
            catch { case _: Exception => null }
          if (img == null || img.getWidth == 0 || img.getHeight == 0)
            (id, Array.empty[Float], false)
          else (id, luminanceGrid(img, grid), true)
        }
      }
      .toDF("media_id", "cells", "decoded")
  }

  /** Near-duplicate image detection on the perceptual hash: hashes band
    * into `maxHamming + 1` equal bit-slices (pigeonhole: ≤ maxHamming
    * differing bits leave at least one band intact), candidates come
    * from a band equi-join — never an all-pairs compare — and each
    * candidate is verified with an exact `bit_count(xor) ≤ maxHamming`.
    * Output: (media_id, phash, is_dup) where a row is a dup iff some
    * LOWER id matches within the Hamming radius — the keep-lowest-id
    * convention of the text dedup family.
    *
    * The hash is a dedicated 8×8 (64-bit) aHash, NOT the 16-dim feature
    * grid: at 16 bits the band key space is ≤2^8 values per band, so
    * common degenerate images (flat rasters → hash 0) pile into one
    * bucket and the banded self-join degenerates toward quadratic, and
    * unrelated images collide outright on any non-trivial corpus. 64
    * bits is the standard aHash width for real near-dup detection.
    */
  def dedupByPerceptualHash(media: DataFrame, maxHamming: Int = 1,
                            grid: Int = 8): DataFrame = {
    val hashBits = grid * grid
    require(hashBits > 0 && hashBits <= 64, s"grid² must fit a long, got $hashBits bits")
    require(maxHamming >= 0 && hashBits % (maxHamming + 1) == 0,
      s"bands must split $hashBits bits evenly")
    val nBands = maxHamming + 1
    val bandBits = hashBits / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val ph = extractImageGrid(media, grid)
      .where(col("decoded"))
      .select(col("media_id"), perceptualHash(col("cells")).as("phash"))
    val banded = ph.select(col("media_id"), col("phash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), b * bandBits).bitwiseAND(lit(mask))
            .as("bv"))): _*)).as("bk"))
      .select(col("media_id"), col("phash"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    val dups = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("b.media_id") < col("a.media_id"))
      .where(expr("bit_count(a.phash ^ b.phash)") <= maxHamming)
      .select(col("a.media_id").as("media_id")).distinct()
      .withColumn("__dup", lit(true))
    ph.join(dups, Seq("media_id"), "left")
      .select(col("media_id"), col("phash"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }
}
