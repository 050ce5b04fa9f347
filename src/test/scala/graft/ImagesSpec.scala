package graft

import graft.sources.Images
import java.awt.image.BufferedImage
import java.nio.file.{Files, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit
import javax.imageio.ImageIO
import org.scalatest.funsuite.AnyFunSuite

/** `sources.Images` beyond the plain round trip: rasters that are not 8-bit
  * gray/gray+alpha/RGB/RGBA decode exactly or fail loudly, and no call
  * touches ImageIO's temp-file cache. */
class ImagesSpec extends AnyFunSuite {

  private def png(img: BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", out))
    out.toByteArray
  }

  /** Either exact 8-bit samples equal to `expected`, or an
    * IllegalArgumentException naming PNG; `None` means no exact 8-bit form
    * exists, so only the failure is acceptable. */
  private def exactOrLoud(bytes: Array[Byte], expected: Option[Images.Image]): Unit =
    try {
      val got = Images.decode(bytes)
      assert(expected.isDefined, s"decoded ${got.channels}-channel samples that cannot be exact")
      val e = expected.get
      assert((got.width, got.height, got.channels) === ((e.width, e.height, e.channels)))
      assert(java.util.Arrays.equals(got.pixels, e.pixels))
    } catch {
      case e: IllegalArgumentException => assert(e.getMessage.contains("PNG"), e.getMessage)
    }

  test("palette and 16-bit PNGs decode to exact 8-bit samples or fail loudly, never truncated") {
    val (w, h) = (11, 7)
    val palette = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until h; x <- 0 until w)
      palette.setRGB(x, y, 0xff000000 | ((x * 40) << 16) | ((y * 30) << 8) | ((x + y) * 9))
    val rgb = Array.tabulate(w * h * 3) { i =>
      val argb = palette.getRGB((i / 3) % w, i / 3 / w) // the indexed colour, exact
      ((argb >> (16 - 8 * (i % 3))) & 0xff).toByte
    }
    val palettePng = png(palette)
    assert(palettePng(8 + 8 + 9) === 3) // IHDR colour type 3: the file really is a palette PNG
    exactOrLoud(palettePng, Some(Images.Image(w, h, 3, rgb)))

    val deep = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    deep.getRaster.setSamples(0, 0, w, h, 0, Array.tabulate(w * h)(i => 0x1234 + i * 257))
    val deepPng = png(deep)
    assert(deepPng(8 + 8 + 8) === 16) // IHDR bit depth 16
    exactOrLoud(deepPng, None)
  }

  test("PNG and JPEG cut anywhere inside the data fail loudly, never decode grey-filled") {
    val img = Images.Image(16, 16, 3, Array.tabulate(16 * 16 * 3)(i => (i * 37 % 256).toByte))
    val png = Images.encodePng(img)
    val jpg = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.sources.Fixtures.path("fixtures/sample.jpg")))
    for ((bytes, format) <- Seq(png -> "PNG", jpg -> "JPEG"); cut <- Seq(0.5, 0.9, 0.99)) {
      val e = intercept[IllegalArgumentException] {
        Images.decode(bytes.take((bytes.length * cut).toInt))
      }
      assert(e.getMessage.startsWith(format), e.getMessage)
    }
  }

  test("100 encode/decode calls create no ImageIO cache file") {
    assert(ImageIO.getUseCache, "the check needs ImageIO's default file cache switched on")
    val dir = Files.createTempDirectory("imageio-cache")
    val before = ImageIO.getCacheDirectory
    val watcher = dir.getFileSystem.newWatchService()
    try {
      ImageIO.setCacheDirectory(dir.toFile)
      dir.register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
      val img = Images.Image(9, 6, 3, Array.tabulate(9 * 6 * 3)(_.toByte))
      for (_ <- 0 until 50) {
        assert(Images.decode(Images.encodePng(img)).pixels.sameElements(img.pixels))
      }
      val key = watcher.poll(500, TimeUnit.MILLISECONDS)
      val created = Option(key).toSeq.flatMap(k => scala.jdk.CollectionConverters
        .ListHasAsScala(k.pollEvents()).asScala.map(_.context().toString))
      assert(created.isEmpty, s"ImageIO cache files created: $created")
    } finally {
      watcher.close()
      ImageIO.setCacheDirectory(before)
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
