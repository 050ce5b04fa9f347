package graft.sources

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import javax.imageio.{ImageIO, ImageReader, ImageTypeSpecifier}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.collection.mutable.ArrayBuffer

/** PNG and JPEG through the JDK's `javax.imageio`, on one data model: 8-bit
  * interleaved samples, 1-4 channels (gray, gray+alpha, RGB, RGBA). A decode
  * returns the file's samples exactly or throws an `IllegalArgumentException`
  * naming the format: palette, 16-bit and sub-byte rasters are rejected, not
  * truncated, and every ImageIO failure is wrapped the same way. Streams are
  * in-memory: ImageIO's own stream factories write a temp file per call.
  */
object Images {

  /** `pixels` is row-major, `channels` bytes per pixel, in band order. */
  final case class Image(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  private def magic(b: Int*): Array[Byte] = b.map(_.toByte).toArray
  private val PngStart = magic(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
  /** Every complete PNG ends with its IEND chunk: length 0, type, CRC. */
  private val PngEnd = magic(0, 0, 0, 0, 'I', 'E', 'N', 'D', 0xae, 0x42, 0x60, 0x82)

  def isPng(b: Array[Byte]): Boolean = b.startsWith(PngStart)
  def isJpeg(b: Array[Byte]): Boolean = b.startsWith(magic(0xff, 0xd8, 0xff))

  def encodePng(img: Image): Array[Byte] = {
    val Image(w, h, ch, px) = img
    require(ch >= 1 && ch <= 4, s"$ch channels (1-4 supported)")
    require(px.length == w * h * ch, s"pixel buffer ${px.length} != ${w}x${h}x$ch")
    val space = ColorSpace.getInstance(if (ch <= 2) ColorSpace.CS_GRAY else ColorSpace.CS_sRGB)
    val image = ImageTypeSpecifier.createInterleaved(space, Array.range(0, ch),
      DataBuffer.TYPE_BYTE, ch % 2 == 0, false).createBufferedImage(w, h)
    image.getRaster.setDataElements(0, 0, w, h, px)
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try require(ImageIO.write(image, "png", out), "no PNG writer")
    finally out.close()
    bytes.toByteArray
  }

  /** Decode a PNG or JPEG to its exact 8-bit samples. */
  def decode(bytes: Array[Byte]): Image = {
    val format = if (isPng(bytes)) "PNG" else if (isJpeg(bytes)) "JPEG" else "image"
    val image = read(format, bytes)
    val raster = image.getRaster
    val ch = raster.getNumBands
    val bits = raster.getSampleModel.getSampleSize
    val model = image.getColorModel
    require(model.isInstanceOf[ComponentColorModel] && model.hasAlpha == (ch % 2 == 0) &&
      raster.getTransferType == DataBuffer.TYPE_BYTE && ch <= 4 && bits.forall(_ == 8),
      s"$format: only 8-bit gray, gray+alpha, RGB or RGBA decode exactly (got " +
        s"${model.getClass.getSimpleName}, ${bits.mkString("/")} bits)")
    val (w, h) = (image.getWidth, image.getHeight)
    Image(w, h, ch, raster.getPixels(0, 0, w, h, null: Array[Int]).map(_.toByte))
  }

  /** ImageIO accepts a PNG cut before IEND and only warns on a JPEG cut
    * mid-scan (grey-filling the rest): both fail here. */
  private def read(format: String, bytes: Array[Byte]): BufferedImage = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    try {
      if (format == "PNG" && !bytes.endsWith(PngEnd)) throw new IOException("truncated before IEND")
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) throw new IOException("no ImageIO reader recognises the bytes")
      val reader = readers.next()
      val warnings = ArrayBuffer.empty[String]
      reader.addIIOReadWarningListener((_: ImageReader, w: String) => warnings += w)
      val image = try { reader.setInput(in, true, true); reader.read(0) } finally reader.dispose()
      if (warnings.nonEmpty) throw new IOException(warnings.mkString("; "))
      image
    } catch {
      case e @ (_: IOException | _: RuntimeException) =>
        throw new IllegalArgumentException(s"$format: undecodable (${e.getMessage})", e)
    } finally in.close()
  }
}
