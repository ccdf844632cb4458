package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite
import Multimodal._

/** The Spark-side multimodal plumbing is real even though the codec is a
  * stub: schema shape, per-partition decoder lifecycle, deterministic
  * features, frame-sampling explode. */
class MultimodalSpec extends AnyFunSuite with GraftSuite {

  private def media(id: Long, bytes: Array[Byte]) =
    MediaRecord(id, bytes, "img", bytes.length, 1)

  test("extractFeatures: schema, determinism, histogram sums to 1") {
    import spark.implicits._
    val ds = Seq(
      media(1, Array[Byte](0, 1, 2, 3, 100, -1, -128)),
      media(2, Array.emptyByteArray),
      media(3, Array.fill[Byte](256)(65))).toDS()
    val feats = extractFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).sameElements(Array(1L, 2L, 3L)))
    assert(feats(0).n_bytes == 7)
    assert(feats(0).feature.length == 8)
    assert(math.abs(feats(0).feature.sum - 1.0f) < 1e-5)
    assert(feats(1).n_bytes == 0 && feats(1).mean_byte == 0.0)
    // all 'A' (65) bytes land in bin 65>>5 = 2
    assert(feats(2).feature(2) == 1.0f && feats(2).mean_byte == 65.0)
    // determinism across runs
    val again = extractFeatures(ds).collect().sortBy(_.media_id)
    assert(again(0).feature.sameElements(feats(0).feature))
  }

  test("extractFeatures decodes a REAL PNG via javax.imageio (not the stub)") {
    import spark.implicits._
    // 8x4 image: left half pure black (luma 0 -> bin 0), right half pure
    // white (luma 255 -> bin 7)
    val img = new java.awt.image.BufferedImage(8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray

    val ds = Seq(
      MediaRecord(1L, png, "png", 8, 4),
      MediaRecord(2L, Array[Byte](1, 2, 3), "png", 1, 1), // corrupt image
      MediaRecord(3L, png, "bin", png.length, 1)          // non-image -> stub
    ).toDS()
    val feats = extractFeatures(ds).collect().sortBy(_.media_id)

    // real decode: half the pixels black, half white — the stub byte
    // histogram over compressed PNG bytes could never produce this
    assert(feats(0).feature.length == 8)
    assert(math.abs(feats(0).feature(0) - 0.5f) < 1e-6)
    assert(math.abs(feats(0).feature(7) - 0.5f) < 1e-6)
    assert((1 to 6).forall(feats(0).feature(_) == 0f))
    // corrupt image -> empty feature, not an exception
    assert(feats(1).feature.isEmpty)
    // same bytes under a non-image format take the documented stub path
    assert(feats(2).feature.sum > 0f && !feats(2).feature.sameElements(feats(0).feature))
  }

  /** Synthesized PCM WAV: `frames` samples of a loud square-ish wave in
    * the FIRST half and silence in the second — the envelope shape the
    * real decoder must see (a byte histogram over WAV container bytes
    * never could). */
  private def sineWav(frames: Int): Array[Byte] = {
    val pcm = new Array[Byte](frames * 2)
    for (i <- 0 until frames) {
      val v: Short =
        if (i >= frames / 2) 0
        else if ((i / 4) % 2 == 0) 16000 else -16000
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("extractFeatures decodes REAL PCM audio via javax.sound.sampled (not the stub)") {
    import spark.implicits._
    val wav = sineWav(800)
    val ds = Seq(
      MediaRecord(1L, wav, "wav", 800, 1),
      MediaRecord(2L, Array[Byte](4, 4, 4), "wav", 1, 1), // corrupt audio
      MediaRecord(3L, wav, "bin", wav.length, 1)          // non-audio -> stub
    ).toDS()
    val feats = extractFeatures(ds).collect().sortBy(_.media_id)
    // real decode: RMS envelope loud in windows 0-3, silent in 4-7 —
    // unreachable from a byte histogram of the compressed container
    assert(feats(0).feature.length == 8)
    assert((0 to 3).forall(feats(0).feature(_) > 0.3f),
      s"loud half lost: ${feats(0).feature.mkString(",")}")
    assert((4 to 7).forall(feats(0).feature(_) == 0f),
      s"silent half not silent: ${feats(0).feature.mkString(",")}")
    // corrupt audio -> empty feature, not an exception
    assert(feats(1).feature.isEmpty)
    // same bytes under a non-audio format take the documented stub path
    assert(feats(2).feature.sum > 0f && !feats(2).feature.sameElements(feats(0).feature))
    // determinism
    val again = extractFeatures(ds).collect().sortBy(_.media_id)
    assert(again(0).feature.sameElements(feats(0).feature))
  }

  test("decodeAudio handles big-endian AIFF via the JDK's endianness conversion") {
    import spark.implicits._
    // same loud-then-silent signal, but packed big-endian into an AIFF
    // container — the decoder's little-endian target format must convert
    val frames = 800
    val pcm = new Array[Byte](frames * 2)
    for (i <- 0 until frames / 2) {
      val v: Short = if ((i / 4) % 2 == 0) 16000 else -16000
      pcm(2 * i) = ((v >> 8) & 0xFF).toByte
      pcm(2 * i + 1) = (v & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, true) // bigEndian = true
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val ds = Seq(MediaRecord(1L, bos.toByteArray, "aiff", frames, 1)).toDS()
    val f = extractFeatures(ds).collect()(0).feature
    assert(f.length == 8)
    assert((0 to 3).forall(f(_) > 0.3f), s"loud half lost: ${f.mkString(",")}")
    assert((4 to 7).forall(f(_) == 0f), s"silent half not silent: ${f.mkString(",")}")
  }

  test("resize REALLY downsamples PCM audio (decimate -> WAV re-encode)") {
    import spark.implicits._
    val wav = sineWav(800)
    val ds = Seq(
      MediaRecord(1L, wav, "wav", 800, 1),
      MediaRecord(2L, Array[Byte](7), "wav", 1, 1), // corrupt
      MediaRecord(3L, wav, "wav", 800, 1)           // no-op case
    ).toDS()
    val out = resize(ds, targetWidth = 200).collect().sortBy(_.media_id)
    assert(out(0).width == 200 && out(0).height == 1 && out(0).format == "wav")
    // output is a REAL decodable WAV with exactly the decimated frames
    val back = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(out(0).payload))
    assert(back.getFrameLength == 200)
    assert(back.getFormat.getSampleRate == 2000f, "rate divides by the decimation step")
    back.close()
    // corrupt audio -> empty payload, zeroed dims
    assert(out(1).payload.isEmpty && out(1).width == 0 && out(1).height == 0)
    // already-small audio passes through untouched
    val same = resize(ds, targetWidth = 4000).collect().sortBy(_.media_id)
    assert(same(2).payload.sameElements(wav) && same(2).width == 800)
  }

  /** Synthesized animated GIF: `frames` 8×8 solid frames at distinct
    * gray levels — palette-exact, so real per-frame decode is provable
    * pixel-by-pixel. */
  private def animatedGif(frames: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (i <- 0 until frames) {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val v = (i * 32) & 0xFF
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  test("sampleFrames REALLY extracts animated-GIF frames (per-frame decode -> PNG)") {
    import spark.implicits._
    val gif = animatedGif(6)
    val ds = Seq(
      MediaRecord(1L, gif, "gif", 8, 8),
      MediaRecord(2L, Array[Byte](3, 1, 4), "gif", 1, 1) // corrupt -> no frames
    ).toDS()
    val frames = sampleFrames(ds, frameBytes = 10, everyK = 2).collect()
      .filter(_.getLong(0) == 1L).sortBy(_.getInt(1))
    // 6 stored frames, every 2nd -> stored indices 0, 2, 4
    assert(frames.map(_.getInt(1)).sameElements(Array(0, 2, 4)))
    // each sampled frame is a REAL decodable 8x8 PNG of its frame's
    // solid gray — unreachable from byte-chunking the compressed GIF
    frames.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame_payload")))
      assert(img.getWidth == 8 && img.getHeight == 8)
      val v = (r.getInt(1) * 32) & 0xFF
      assert((img.getRGB(4, 4) & 0xFFFFFF) == ((v << 16) | (v << 8) | v),
        s"frame ${r.getInt(1)} pixel mismatch")
    }
    // corrupt gif contributes zero frames, no exception
    assert(sampleFrames(ds, 10, 2).where("media_id = 2").count() == 0)
  }

  test("resize passes animated GIFs through untouched (no silent frame flattening)") {
    import spark.implicits._
    val gif = animatedGif(6)
    // 8px wide > targetWidth 4: the old path ImageIO-decoded frame 0 only,
    // re-encoded a single-frame PNG and retagged the format — destroying
    // frames 1-5 AND steering sampleFrames away from the real gif decode
    val out = resize(Seq(MediaRecord(1L, gif, "gif", 8, 8)).toDS(), targetWidth = 4)
    val rec = out.collect()(0)
    assert(rec.format == "gif" && (rec.payload sameElements gif),
      "multi-frame container must pass through byte-identical")
    // downstream frame extraction still sees all stored frames
    val idx = sampleFrames(out, frameBytes = 10, everyK = 2).collect()
      .map(_.getInt(1)).sorted
    assert(idx.sameElements(Array(0, 2, 4)))
    // a STATIC (1-frame) gif has no frames to lose: it resizes like any
    // image (the pass-through gate probes the stored frame count)
    val oneFrame = animatedGif(1)
    val resized = resize(
      Seq(MediaRecord(2L, oneFrame, "gif", 8, 8)).toDS(), targetWidth = 4)
      .collect()(0)
    assert(resized.format == "png" && resized.width == 4,
      s"static gif must resize, got ${resized.format}@${resized.width}")
  }

  test("resize fail-fasts on a non-positive targetWidth (driver-side, not in-task)") {
    import spark.implicits._
    val ds = Seq(media(1, Array.tabulate[Byte](10)(_.toByte))).toDS()
    // width 0 previously crashed image tasks in BufferedImage(0, h) and
    // silently WIPED audio payloads via an Int-overflowing step
    intercept[IllegalArgumentException] { resize(ds, targetWidth = 0) }
    intercept[IllegalArgumentException] { resize(ds, targetWidth = -3) }
  }

  test("sampleFrames: chunking + every-k selection") {
    import spark.implicits._
    val ds = Seq(media(7, Array.tabulate[Byte](100)(_.toByte))).toDS()
    val frames = sampleFrames(ds, frameBytes = 10, everyK = 3).collect()
    // 10 chunks, every 3rd -> idx 0,3,6,9
    assert(frames.map(_.getInt(1)).sorted.sameElements(Array(0, 3, 6, 9)))
    assert(frames.forall(_.getAs[Array[Byte]]("frame_payload").length == 10))
  }

  test("resize subsamples payload deterministically and updates metadata") {
    import spark.implicits._
    val ds = Seq(media(1, Array.tabulate[Byte](100)(_.toByte))).toDS()
    val out = resize(ds, targetWidth = 25).collect()(0)
    assert(out.width == 25 && out.payload.length == 25)
    assert(out.payload(0) == 0 && out.payload(1) == 4) // every 4th byte
    // no-op when already small enough
    val same = resize(ds, targetWidth = 200).collect()(0)
    assert(same.payload.length == 100)
  }

  test("resize REALLY scales an image (decode -> bilinear -> PNG re-encode)") {
    import spark.implicits._
    // 16x8 solid mid-gray: bilinear-scaled output stays solid mid-gray,
    // so we can assert pixels, not just dimensions
    val img = new java.awt.image.BufferedImage(16, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, 0x808080)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray

    val ds = Seq(
      MediaRecord(1L, png, "png", 16, 8),
      MediaRecord(2L, Array[Byte](9, 9, 9), "png", 1, 1), // corrupt
      MediaRecord(3L, png, "png", 16, 8)                  // no-upscale case
    ).toDS()
    val out = resize(ds, targetWidth = 8).collect().sortBy(_.media_id)
    // aspect preserved: 16x8 -> 8x4; output is a decodable PNG of those dims
    assert(out(0).width == 8 && out(0).height == 4 && out(0).format == "png")
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(0).payload))
    assert(decoded.getWidth == 8 && decoded.getHeight == 4)
    assert((decoded.getRGB(3, 2) & 0xFFFFFF) == 0x808080)
    // corrupt image -> empty payload, zeroed dims, no exception
    assert(out(1).payload.isEmpty && out(1).width == 0 && out(1).height == 0)
    // already-small image passes through untouched
    val big = resize(ds, targetWidth = 64).collect().sortBy(_.media_id)
    assert(big(2).payload.sameElements(png) && big(2).width == 16 && big(2).height == 8)
  }

  test("mediaFromDocuments binds the fixture table into the media schema") {
    val ds = mediaFromDocuments(spark, "/root/testdata/sf0.001")
    val first = ds.head()
    assert(first.format == "txt" && first.payload.nonEmpty)
    assert(ds.count() == 500)
  }
}
