package graft

import graft.sources.Multimodal
import graft.sources.Multimodal.{MediaRecord, UncompressedCodec}
import java.nio.{ByteBuffer, ByteOrder}

/** The REAL uncompressed-container decoders (PCM WAV / BMP / P6 PPM) through
  * the actual partition-batched Spark decode path. */
class MultimodalCodecSpec extends SparkSpec {

  private def wav(rate: Int, channels: Int, bits: Int, frames: Int): Array[Byte] = {
    val dataLen = frames * channels * (bits / 8)
    val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes); b.putInt(36 + dataLen); b.put("WAVE".getBytes)
    b.put("fmt ".getBytes); b.putInt(16)
    b.putShort(1); b.putShort(channels.toShort); b.putInt(rate)
    b.putInt(rate * channels * bits / 8); b.putShort((channels * bits / 8).toShort)
    b.putShort(bits.toShort)
    b.put("data".getBytes); b.putInt(dataLen)
    (0 until dataLen).foreach(i => b.put((i % 251).toByte))
    b.array()
  }

  private def bmp(w: Int, h: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte); b.put('M'.toByte); b.putInt(54); b.putShort(0); b.putShort(0)
    b.putInt(54); b.putInt(40); b.putInt(w); b.putInt(h)
    b.array()
  }

  private def ppm(w: Int, h: Int): Array[Byte] =
    s"P6\n$w $h\n255\n".getBytes ++ Array.fill(w * h * 3)(7.toByte)

  private def ppmWithComment(w: Int, h: Int): Array[Byte] =
    s"P6\n# Created by GIMP version 2.10\n$w $h\n255\n".getBytes ++
      Array.fill(w * h * 3)(7.toByte)

  test("WAV/BMP/PPM metadata decodes through the partition-batched path") {
    val spark0 = spark
    import spark0.implicits._
    val media = Seq(
      MediaRecord(1L, "audio", wav(rate = 16000, channels = 2, bits = 16, frames = 480)),
      MediaRecord(2L, "image", bmp(640, 360)),
      MediaRecord(3L, "image", ppm(32, 24))).toDS()
    val out = Multimodal.decode(media, UncompressedCodec)
      .collect().map(d => d.media_id -> d).toMap
    assert(out(1L).n_frames === 480)
    assert(out(1L).width === 16000) // sample rate
    assert(out(1L).height === 2)    // channels
    assert(out(2L).width === 640 && out(2L).height === 360)
    assert(out(3L).width === 32 && out(3L).height === 24)
    assert(out(3L).n_bytes === ppm(32, 24).length)
  }

  test("PPM header comments and top-down BMPs decode correctly") {
    val spark0 = spark
    import spark0.implicits._
    val negHeightBmp = {
      val b = bmp(640, 360)
      val bb = java.nio.ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(22, -360) // top-down marker
      b
    }
    val media = Seq(
      MediaRecord(4L, "image", ppmWithComment(640, 480)),
      MediaRecord(5L, "image", negHeightBmp)).toDS()
    val out = Multimodal.decode(media, UncompressedCodec)
      .collect().map(d => d.media_id -> d).toMap
    assert(out(4L).width === 640 && out(4L).height === 480) // not (2, 10)
    assert(out(5L).height === 360)
  }

  test("PNG fixture decodes bit-exactly against the committed raw pixels") {
    import graft.sources.{Fixtures, Images}
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.path("fixtures/sample.png")))
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.path("fixtures/sample.rgb")))
    val img = Images.decode(png)
    // fixture rows cycle all 5 filters and the IDAT stream is split in two
    assert(img.width === 41 && img.height === 23 && img.channels === 3)
    assert(java.util.Arrays.equals(img.pixels, raw))
  }

  test("PNG encode -> decode round-trips every color type") {
    import graft.sources.Images
    for (ch <- Seq(1, 2, 3, 4)) {
      val w = 13; val h = 9
      val px = Array.tabulate(w * h * ch)(i => ((i * 11 + ch * 3) % 256).toByte)
      val back = Images.decode(Images.encodePng(Images.Image(w, h, ch, px)))
      assert(back.width === w && back.height === h && back.channels === ch)
      assert(java.util.Arrays.equals(back.pixels, px), s"ch=$ch")
    }
  }

  test("RealCodec decodes PNG and baseline JPEG, falls through to WAV") {
    import graft.sources.{Fixtures, Images}
    val spark0 = spark
    import spark0.implicits._
    val png = Images.encodePng(Images.Image(17, 5, 3,
      Array.tabulate(17 * 5 * 3)(i => (i % 256).toByte)))
    val jpg = java.nio.file.Files.readAllBytes( // 37x29 baseline JFIF
      java.nio.file.Paths.get(Fixtures.path("fixtures/sample.jpg")))
    val media = Seq(
      MediaRecord(11L, "image", png),
      MediaRecord(12L, "audio", wav(rate = 8000, channels = 1, bits = 16, frames = 100)),
      MediaRecord(13L, "image", jpg))
      .toDS()
    val out = Multimodal.decode(media, Multimodal.RealCodec)
      .collect().map(d => d.media_id -> d).toMap
    assert(out(11L).width === 17 && out(11L).height === 5)
    assert(out(12L).width === 8000 && out(12L).n_frames === 100)
    assert(out(13L).width === 37 && out(13L).height === 29)
    // Truncated JPEG still fails loudly, never a silent skip.
    val broken = Seq(MediaRecord(14L, "image",
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte))).toDS()
    val e = intercept[Exception] {
      Multimodal.decode(broken, Multimodal.RealCodec).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("JPEG") || m.contains("truncated")))
  }

  test("truncated PNG fails loudly, not silently") {
    import graft.sources.Images
    val png = Images.encodePng(Images.Image(8, 8, 3, Array.fill(8 * 8 * 3)(5.toByte)))
    intercept[IllegalArgumentException] {
      Images.decode(java.util.Arrays.copyOf(png, png.length - 20))
    }
  }

  test("unsupported container fails loudly with the media id") {
    val spark0 = spark
    import spark0.implicits._
    val media = Seq(MediaRecord(9L, "video", Array[Byte](1, 2, 3, 4))).toDS()
    val e = intercept[Exception] {
      Multimodal.decode(media, UncompressedCodec).collect()
    }
    assert(e.getMessage != null)
  }

  test("AudioSynth WAV round-trips its PCM bit-exactly and parses as a valid WAV") {
    import graft.sources.AudioSynth
    for (id <- Seq(0L, 1L, 511L, 97L)) {
      val bytes = AudioSynth.wav(id)
      val (rate, smp) = AudioSynth.pcmSamples(bytes)
      assert(rate == 8000)
      assert(smp.sameElements(AudioSynth.pcm(id, AudioSynth.nSamples(id))))
      // the metadata decoder agrees on the frame count (WAV maps rate and
      // channels into the width/height slots)
      val meta = Multimodal.UncompressedCodec
        .decodeBatch(Iterator(MediaRecord(id, "audio", bytes))).next()
      assert(meta.n_frames == smp.length && meta.width == 8000 && meta.height == 1)
    }
  }

  test("AudioSynth rejects a truncated container instead of spinning") {
    import graft.sources.AudioSynth
    val bytes = AudioSynth.wav(7L)
    intercept[IllegalArgumentException] {
      AudioSynth.pcmSamples(java.util.Arrays.copyOf(bytes, bytes.length - 3))
    }
  }
}
