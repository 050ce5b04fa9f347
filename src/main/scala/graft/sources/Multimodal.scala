package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for a training-data
  * pipeline: media as opaque `binary` columns + typed metadata, processed in
  * partition-sized batches through typed Datasets — the Scala analog of
  * `mapInPandas` batch UDFs (same batch shape: an iterator of records per
  * partition, so a real codec can amortize per-batch init).
  *
  * The actual byte decoding is behind [[MediaCodec]]. [[RealCodec]] decodes
  * PNG and JPEG through the JDK's `javax.imageio` ([[Images]]) and PCM WAV,
  * BMP and P6 PPM with its own container parsers;
  * [[DeterministicFakeCodec]] remains for oracle-exact pipeline tests whose
  * metadata must be pure arithmetic. MP3 needs an audio codec the JDK does
  * not ship and fails loudly by name.
  */
object Multimodal {

  case class MediaRecord(media_id: Long, kind: String, content: Array[Byte])
  case class DecodedMedia(media_id: Long, kind: String, n_bytes: Int,
      n_frames: Int, width: Int, height: Int)

  /** Batch decoder contract. `decodeBatch` sees one partition's records as
    * an iterator (never materialized whole) and may hold per-batch state
    * (codec contexts, model handles). */
  trait MediaCodec extends Serializable {
    def decodeBatch(batch: Iterator[MediaRecord]): Iterator[DecodedMedia]
  }

  /** Deterministic stand-in for a real decoder (see `RealCodec` below).
    * Metadata is pure arithmetic over (id, kind, byte length) so a SQL
    * oracle reproduces it exactly. */
  object DeterministicFakeCodec extends MediaCodec {
    def decodeBatch(batch: Iterator[MediaRecord]): Iterator[DecodedMedia] =
      batch.map { r =>
        val n = r.content.length
        val frames = r.kind match {
          case "image" => 1
          case "audio" => n / 100 + 1
          case _       => n / 50 + 1
        }
        DecodedMedia(r.media_id, r.kind, n, frames,
          16 + (r.media_id % 64).toInt, 16 + (r.media_id % 48).toInt)
      }
  }

  /** REAL decoding for the uncompressed containers that need no codec
    * library: PCM WAV (RIFF fmt/data chunks — n_frames = sample frames,
    * width = sample rate, height = channels), BMP (BITMAPINFOHEADER
    * dimensions), and binary PPM (P6 ASCII header). Magic-byte dispatch,
    * per-record parsing inside the partition batch. */
  object UncompressedCodec extends MediaCodec {
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
        ((b(o + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    def decodeBatch(batch: Iterator[MediaRecord]): Iterator[DecodedMedia] =
      batch.map { r =>
        val b = r.content
        if (b.length >= 44 && b.startsWith("RIFF".getBytes) &&
            new String(b, 8, 4) == "WAVE") {
          // walk chunks: fmt_ (channels, rate, bits) then data (payload len)
          var off = 12
          var channels = 0; var rate = 0; var bits = 0; var dataLen = 0
          while (off + 8 <= b.length) {
            val id = new String(b, off, 4)
            val len = le32(b, off + 4)
            // a malformed length must fail loudly, not spin the chunk walk
            // (the odd-length pad byte is accounted for separately below, so
            // the declared payload itself must fit exactly)
            require(len >= 0 && off + 8 + len <= b.length,
              s"media ${r.media_id}: bad RIFF chunk length $len at offset $off")
            if (id == "fmt ") {
              require(len >= 16,
                s"media ${r.media_id}: fmt chunk too short ($len bytes)")
              channels = le16(b, off + 10); rate = le32(b, off + 12)
              bits = le16(b, off + 22)
            } else if (id == "data") dataLen = len
            off += 8 + len + (len & 1)
          }
          require(channels > 0 && bits > 0, s"media ${r.media_id}: bad WAV fmt chunk")
          val frames = dataLen / (channels * (bits / 8))
          DecodedMedia(r.media_id, r.kind, b.length, frames, rate, channels)
        } else if (b.length >= 26 && b(0) == 'B'.toByte && b(1) == 'M'.toByte) {
          // biHeight < 0 marks a top-down BMP; the dimension is its magnitude
          DecodedMedia(r.media_id, r.kind, b.length, 1,
            le32(b, 18), math.abs(le32(b, 22)))
        } else if (b.length >= 2 && b(0) == 'P'.toByte && b(1) == '6'.toByte) {
          // P6 <ws> width <ws> height <ws> maxval <single ws> pixels;
          // '#...' comment lines are legal anywhere in the header
          val header = new String(b, 0, math.min(256, b.length), "US-ASCII")
            .replaceAll("#[^\n]*", " ")
          val nums = "\\d+".r.findAllIn(header.drop(2)).take(2).map(_.toInt).toSeq
          require(nums.size == 2, s"media ${r.media_id}: bad PPM header")
          DecodedMedia(r.media_id, r.kind, b.length, 1, nums(0), nums(1))
        } else throw new IllegalArgumentException(
          s"media ${r.media_id}: unsupported container (not RIFF/WAVE, BMP, or P6 PPM)")
      }
  }

  /** REAL compressed-image decoding: PNG and JPEG decode fully through
    * [[Images]] (the JDK's `javax.imageio` readers) — dimensions from a
    * verified pixel decode, not header sniffing. Uncompressed containers
    * fall through to [[UncompressedCodec]]. MP3 needs an audio codec the
    * JDK does not ship and fails loudly by name — a boundary, not a silent
    * skip. */
  object RealCodec extends MediaCodec {
    def decodeBatch(batch: Iterator[MediaRecord]): Iterator[DecodedMedia] =
      batch.map { r =>
        val b = r.content
        if (Images.isPng(b) || Images.isJpeg(b)) {
          val img = Images.decode(b)
          DecodedMedia(r.media_id, r.kind, b.length, 1, img.width, img.height)
        } else if (b.length >= 3 && b.startsWith("ID3".getBytes))
          throw new UnsupportedOperationException(
            s"media ${r.media_id}: MP3 needs a codec library this build does not ship")
        else UncompressedCodec.decodeBatch(Iterator(r)).next()
      }
  }

  /** documents → a media table: text bytes as the opaque binary payload,
    * kind assigned by id (deterministic). Stands in for reading a real
    * media dataset's (id, kind, bytes) layout. */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaRecord]
  }

  /** Partition-batched decode: one codec invocation per partition, records
    * streamed through it. */
  def decode(media: Dataset[MediaRecord], codec: MediaCodec): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(codec.decodeBatch(_))
  }
}
