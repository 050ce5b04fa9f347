package graft

import graft.sources.{Fixtures, Images, Multimodal}
import graft.sources.Multimodal.MediaRecord
import org.scalatest.funsuite.AnyFunSuite

/** Baseline JPEG decode against committed fixtures written by an
  * independent encoder (see FIXTURES.md "C. Image codec fixtures"): each
  * fixture decodes through RealCodec's partition-batch path and through
  * `Images.decode`, and the pixels are compared with the re-rendered source
  * pattern within the quantization error bound. */
class JpegSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(Fixtures.path(s"fixtures/$name")))

  private def mae(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length)
    a.indices.map(i => math.abs((a(i) & 0xff) - (b(i) & 0xff))).sum.toDouble / a.length
  }

  /** The 0xFF-heavy noise pattern `sample.jpg` was encoded from (37x29, q95). */
  private val noise: Images.Image = {
    val (w, h) = (37, 29)
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      px((y * w + x) * 3) = ((x * 97 + y * 31) % 256).toByte
      px((y * w + x) * 3 + 1) = ((x * 53) % 256).toByte
      px((y * w + x) * 3 + 2) = ((y * 71) % 256).toByte
    }
    Images.Image(w, h, 3, px)
  }

  /** Decode through RealCodec (dimensions) and Images (samples); both agree. */
  private def decodeBoth(name: String): Images.Image = {
    val bytes = fixture(name)
    val meta = Multimodal.RealCodec.decodeBatch(Iterator(MediaRecord(1L, "image", bytes))).next()
    val img = Images.decode(bytes)
    assert(meta.width === img.width && meta.height === img.height && meta.n_bytes === bytes.length)
    assert(img.pixels.length === img.width * img.height * img.channels)
    img
  }

  test("grayscale single-channel image round-trips") {
    val got = decodeBoth("sample_gray.jpg") // 24x24, q85
    assert(got.channels === 1 && got.width === 24 && got.height === 24)
    assert(mae(Array.tabulate(24 * 24)(i => ((i * 7) % 256).toByte), got.pixels) <= 8.0)
  }

  test("odd (non-multiple-of-8) dimensions pad and crop correctly") {
    val got = decodeBoth("sample.jpg")
    assert(got.width === 37 && got.height === 29 && got.channels === 3)
    assert(mae(noise.pixels, got.pixels) <= 14.0)
  }

  test("magic sniffing and malformed input fail loudly") {
    val bytes = fixture("sample.jpg")
    assert(Images.isJpeg(bytes) && !Images.isPng(bytes))
    assert(!Images.isJpeg("not a jpeg".getBytes))
    intercept[IllegalArgumentException] { Images.decode("junkjunkjunk".getBytes) }
    intercept[IllegalArgumentException] { Images.decode(bytes.take(40)) } // truncated pre-SOS
  }

  test("entropy-coded 0xFF bytes are stuffed and unstuffed transparently") {
    // The fixture's scan carries stuffed 0xFF 0x00 pairs (spec F.1.2.3);
    // decode must still reproduce the pattern within the q95 bound.
    val bytes = fixture("sample.jpg")
    val sos = bytes.indices.find(i => (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xda).get
    assert((sos until bytes.length - 1).exists(i => bytes(i) == -1 && bytes(i + 1) == 0))
    assert(mae(noise.pixels, decodeBoth("sample.jpg").pixels) <= 14.0)
  }
}
