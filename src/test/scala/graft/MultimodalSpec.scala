package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def media = {
    val rows = (1L to 10L).map { i =>
      Row(i, Array.fill((i * 100).toInt)((i % 127).toByte),
        Row("img", 64, 64, 0L))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
  }

  test("feature extraction: schema, determinism, byte accounting") {
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(f1.map(_.getSeq[Float](1)).toSeq == f2.map(_.getSeq[Float](1)).toSeq)
    assert(f1.forall(_.getSeq[Float](1).size == Multimodal.FeatureDim))
    assert(f1.map(_.getLong(2)).toSeq == (1L to 10L).map(_ * 100))
  }

  test("null payload → zero features, zero bytes") {
    val rows = Seq(Row(1L, null, Row("img", 0, 0, 0L)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.extractFeatures(df).collect().head
    assert(got.getSeq[Float](1).forall(_ == 0f) && got.getLong(2) == 0L)
  }

  test("resize: exact target geometry, deterministic, null-safe") {
    val t1 = Multimodal.resizeAll(media, 8, 4).orderBy("media_id").collect()
    val t2 = Multimodal.resizeAll(media, 8, 4).orderBy("media_id").collect()
    assert(t1.forall(r => r.getAs[Array[Byte]]("thumb").length == 32))
    assert(t1.map(_.getAs[Array[Byte]]("thumb").toSeq).toSeq ==
      t2.map(_.getAs[Array[Byte]]("thumb").toSeq).toSeq)
    val nullRow = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, null, Row("img", 0, 0, 0L)))),
      Multimodal.MediaSchema)
    assert(Multimodal.resizeAll(nullRow, 4, 4).collect()
      .head.getAs[Array[Byte]]("thumb").length == 16)
  }

  test("frame sampling: one row per everyMs step, frame 0 kept, features differ by frame") {
    val videos = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 10L).map { i =>
        Row(i, Array.fill((i * 100).toInt)((i % 127).toByte),
          Row("vid", 64, 64, i * 1000))
      }), Multimodal.MediaSchema)
    val frames = Multimodal.sampleFrames(videos, everyMs = 2000)
      .orderBy("media_id", "frame_ms").collect()
    val byId = frames.groupBy(_.getLong(0))
    byId.foreach { case (id, rows) =>
      val durMs = id * 1000
      val expected = (0L until math.max(durMs, 1L) by 2000L).toSeq
      assert(rows.map(_.getLong(1)).toSeq == expected, s"media $id")
    }
    // distinct frames of one video decode to distinct feature vectors
    val v10 = byId(10L).map(_.getSeq[Float](2))
    assert(v10.distinct.length == v10.length)
  }

  /** A real PNG: w×h horizontal gray gradient (left dark → right light). */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = x * 255 / math.max(1, w - 1)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A lossy WebP container: RIFF/WEBP header plus a "VP8 " chunk of
    * keyframe-shaped bytes. The JDK ships no WebP codec.
    */
  private val webpBytes: Array[Byte] = {
    val vp8 = Array[Byte](0x10, 0x02, 0x00, 0x9D.toByte, 0x01, 0x2A,
      16, 0, 8, 0) ++ Array.fill[Byte](22)(0x5A)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    "RIFF".getBytes ++ le32(4 + 8 + vp8.length) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ le32(vp8.length) ++ vp8
  }

  /** A corrupt FLAC stream: the `fLaC` magic, a STREAMINFO block header
    * and payload bytes with no valid frame — it fails the FLAC decoder's
    * checks, and `javax.sound.sampled` has no FLAC reader to fall back to.
    */
  private val flacBytes: Array[Byte] =
    "fLaC".getBytes ++ Array[Byte](0x80.toByte, 0, 0, 34) ++
      Array.tabulate[Byte](64)(i => (i * 37).toByte)

  test("real image decode: true geometry, gradient shows in grid features") {
    val rows = Seq(
      Row(1L, pngBytes(16, 8), Row("img", 16, 8, 0L)),
      Row(2L, "not an image".getBytes, Row("img", 0, 0, 0L)),
      Row(3L, null, Row("img", 0, 0, 0L)),
      Row(4L, webpBytes, Row("webp", 16, 8, 0L)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.extractImageFeatures(df).orderBy("media_id").collect()
    val ok = got(0)
    assert(ok.getAs[Boolean]("decoded") && ok.getAs[Int]("width") == 16 &&
      ok.getAs[Int]("height") == 8)
    val f = ok.getSeq[Float](ok.fieldIndex("features"))
    assert(f.size == Multimodal.FeatureDim)
    // row-major 4×4 grid over a left-to-right gradient: strictly brighter
    // across each grid row, equal down each column
    assert(f(0) < f(1) && f(1) < f(2) && f(2) < f(3))
    assert(f.grouped(4).toSeq.distinct.size == 1)
    // corrupt, null and WebP payloads (no JDK codec) degrade to the stub
    // with decoded=false
    assert(got.drop(1).forall(r => !r.getAs[Boolean]("decoded") &&
      r.getAs[Int]("width") == 0 && r.getAs[Int]("height") == 0))
    assert(got(1).getSeq[Float](got(1).fieldIndex("features")).size == Multimodal.FeatureDim)
    assert(got(3).getSeq[Float](got(3).fieldIndex("features")).toSeq ==
      Multimodal.decodeStub(webpBytes).toSeq)
  }

  test("real audio decode: WAV duration + loud/quiet halves in features") {
    // 500 ms mono 16-bit 8 kHz WAV: silent first half, full-scale square
    // wave second half — written through the same JDK codec that decodes
    def wavBytes(ms: Int, rate: Float = 8000f): Array[Byte] = {
      val n = (rate * ms / 1000).toInt
      val pcm = new Array[Byte](n * 2)
      var i = n / 2 // loud second half only
      while (i < n) {
        val v: Short = if (i % 8 < 4) 30000 else -30000
        pcm(2 * i) = (v & 0xFF).toByte; pcm(2 * i + 1) = (v >> 8).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      Row(1L, wavBytes(500), Row("wav", 0, 0, 0L)),
      Row(2L, "not audio at all".getBytes, Row("wav", 0, 0, 0L)),
      Row(3L, null, Row("wav", 0, 0, 0L)),
      Row(4L, flacBytes, Row("flac", 0, 0, 0L)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.extractAudioFeatures(df).orderBy("media_id").collect()
    val ok = got(0)
    assert(ok.getAs[Boolean]("decoded"))
    assert(ok.getAs[Long]("duration_ms") == 500L)
    val f = ok.getSeq[Float](ok.fieldIndex("features"))
    assert(f.size == Multimodal.FeatureDim)
    val (quiet, loud) = f.splitAt(Multimodal.FeatureDim / 2)
    assert(quiet.forall(_ < 0.01f), s"first half should be silent: $quiet")
    assert(loud.forall(_ > 0.8f), s"second half should be near full scale: $loud")
    // corrupt, null and corrupt-FLAC payloads degrade to the stub with
    // decoded=false and duration 0
    assert(got.drop(1).forall(r => !r.getAs[Boolean]("decoded") &&
      r.getAs[Long]("duration_ms") == 0L))
    assert(got(1).getSeq[Float](got(1).fieldIndex("features")).size ==
      Multimodal.FeatureDim)
    assert(got(3).getSeq[Float](got(3).fieldIndex("features")).toSeq ==
      Multimodal.decodeStub(flacBytes).toSeq)
  }

  test("real image resize: thumb is a valid PNG with target geometry") {
    val rows = Seq(
      Row(1L, pngBytes(32, 16), Row("img", 32, 16, 0L)),
      Row(2L, "junk".getBytes, Row("img", 0, 0, 0L)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.resizeImages(df, 8, 4).orderBy("media_id").collect()
    val thumb = got(0).getAs[Array[Byte]]("thumb")
    assert(got(0).getAs[Boolean]("decoded"))
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(thumb))
    assert(back.getWidth == 8 && back.getHeight == 4)
    // gradient survives the scale: left edge darker than right edge
    assert((back.getRGB(0, 0) & 0xFF) < (back.getRGB(7, 0) & 0xFF))
    // junk payload falls back to the stub thumbnail, flagged
    assert(!got(1).getAs[Boolean]("decoded"))
    assert(got(1).getAs[Array[Byte]]("thumb").length == 32)
  }

  /** A real animated GIF: `n` frames of uniform gray (frame i has level
    * `i*255/(n-1)`), each with a `delayCs` (hundredths) frame delay —
    * written through the same JDK codec that decodes.
    */
  private def gifBytes(n: Int, delayCs: Int, w: Int = 8, h: Int = 8): Array[Byte] = {
    import javax.imageio.{ImageIO, ImageTypeSpecifier, IIOImage}
    import javax.imageio.metadata.IIOMetadataNode
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (i <- 0 until n) {
      val v = if (n == 1) 0 else i * 255 / (n - 1)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      val param = writer.getDefaultWriteParam
      val md = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = new IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("transparentColorIndex", "0")
      gce.setAttribute("delayTime", delayCs.toString)
      tree.appendChild(gce)
      md.setFromTree(fmt, tree)
      writer.writeToSequence(new IIOImage(img, null, md), param)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  test("real video decode: GIF frame index, per-frame features, summary") {
    // 4 frames × 500 ms: black → dark → light → white
    val gif = gifBytes(n = 4, delayCs = 50)
    val idx = Multimodal.videoFrameIndex(gif)
    assert(idx.isDefined)
    val (dur, starts) = idx.get
    assert(dur == 2000L && starts.toSeq == Seq(0L, 500L, 1000L, 1500L))
    // frames decode to strictly brightening uniform grids
    val lums = (0 until 4).map { i =>
      val Some((w, h, f)) = Multimodal.decodeVideoFrame(gif, i)
      assert(w == 8 && h == 8 && f.distinct.length == 1) // uniform frame
      f.head
    }
    assert(lums == lums.sorted && lums.distinct.length == 4)
    assert(Multimodal.decodeVideoFrame(gif, 4).isEmpty) // out of range
    assert(Multimodal.videoFrameIndex(pngBytes(8, 8)).isEmpty) // not a container
    // per-video summary: container duration/frames win over meta
    val rows = Seq(
      Row(1L, gif, Row("gif", 8, 8, 0L)),
      Row(2L, "not a video".getBytes, Row("mp4", 0, 0, 1000L)),
      Row(3L, null, Row("mp4", 0, 0, 0L)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.extractVideoFeatures(df).orderBy("media_id").collect()
    assert(got(0).getAs[Boolean]("decoded") &&
      got(0).getAs[Long]("duration_ms") == 2000L &&
      got(0).getAs[Int]("n_frames") == 4)
    // mean-across-frames grid of a gray ramp ≈ mid-gray, uniform
    val mean = got(0).getSeq[Float](got(0).fieldIndex("features"))
    assert(mean.distinct.length == 1 && mean.head > 100 && mean.head < 155)
    assert(!got(1).getAs[Boolean]("decoded") && !got(2).getAs[Boolean]("decoded"))
  }

  test("real video frame sampling: covering frame per instant, honest degrade") {
    val gif = gifBytes(n = 4, delayCs = 50) // 2000 ms total
    val rows = Seq(
      Row(1L, gif, Row("gif", 8, 8, 0L)), // meta duration ignored: container wins
      Row(2L, "junk".getBytes, Row("mp4", 0, 0, 1500L))) // stub path on meta dur
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.MediaSchema)
    val got = Multimodal.sampleVideoFrames(df, everyMs = 750)
      .orderBy("media_id", "frame_ms").collect()
    val v1 = got.filter(_.getLong(0) == 1L)
    // samples at 0, 750, 1500 → frames 0 (starts 0), 1 (500), 3 (1500)
    assert(v1.map(_.getLong(1)).toSeq == Seq(0L, 750L, 1500L))
    assert(v1.map(_.getInt(2)).toSeq == Seq(0, 1, 3))
    assert(v1.forall(_.getAs[Boolean]("decoded")))
    // brightness follows the sampled frame, not the instant
    val l = v1.map(_.getSeq[Float](3).head)
    assert(l(0) < l(1) && l(1) < l(2))
    val v2 = got.filter(_.getLong(0) == 2L)
    assert(v2.map(_.getLong(1)).toSeq == Seq(0L, 750L) &&
      v2.forall(r => !r.getAs[Boolean]("decoded") && r.getInt(2) == -1))
  }

  test("byte-budget repartitioning: no partition exceeds ~budget") {
    val parts = Multimodal.repartitionByBytes(media, targetBytes = 1500)
    import org.apache.spark.sql.functions._
    val sizes = parts
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(sum(length(col("payload"))).as("bytes"))
      .collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 3000)) // budget + one max row of slack
    assert(parts.count() == 10)
  }
}
