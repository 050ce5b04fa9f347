package graft.queries

import graft.{QueryCatalog, QueryDef}
import graft.core.Tables
import graft.sources.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column queries: binary payloads decoded in partition batches
  * (Multimodal.decode — the mapInPandas-shaped path) then aggregated
  * relationally. The fake codec's metadata is pure arithmetic, so the DuckDB
  * oracle checks the whole pipeline including the typed mapPartitions hop.
  */
object MediaQueries extends QueryCatalog {

  def defs: Map[String, QueryDef] = Map(

    "mm1_media_decode" -> QueryDef(
      (s, dir) => Multimodal.decode(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)),
          Multimodal.DeterministicFakeCodec)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum("n_bytes").as("total_bytes"),
          sum("n_frames").as("total_frames"),
          round(avg("width"), 4).as("avg_width"),
          round(avg("height"), 4).as("avg_height"))
        .orderBy("kind"),
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
             |    octet_length(encode(text)) AS n FROM documents),
             |d AS (SELECT media_id, kind, n,
             |    CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN n // 100 + 1
             |      ELSE n // 50 + 1 END AS n_frames,
             |    16 + media_id % 64 AS width, 16 + media_id % 48 AS height
             |  FROM m)
             |SELECT kind, count(*) AS n, CAST(sum(n) AS BIGINT) AS total_bytes,
             |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
             |  round(avg(width), 4) AS avg_width, round(avg(height), 4) AS avg_height
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MM2 — frame sampling: decoded media fan out into every-4th-frame rows
    // (the video→frames step of a multimodal training pipeline), per-frame
    // feature (fake brightness, arithmetic over (id, frame) so the oracle is
    // exact), per-kind rollup. The explode is the scale-relevant part: frame
    // sampling multiplies rows by frames/stride, so it must run distributed
    // after the batched decode, never by collecting media to the driver.
    "mm2_frame_sample" -> QueryDef(
      (s, dir) => Multimodal.decode(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)),
          Multimodal.DeterministicFakeCodec)
        .withColumn("frame_idx",
          explode(sequence(lit(0), col("n_frames") - 1, lit(4))))
        .withColumn("brightness",
          pmod(col("media_id") + col("frame_idx") * 7, lit(256L)))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_frames_sampled"),
          countDistinct(col("media_id")).as("n_media"),
          round(avg("brightness"), 4).as("avg_brightness"),
          max("frame_idx").as("max_frame_idx"))
        .orderBy("kind"),
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
             |    octet_length(encode(text)) AS n FROM documents),
             |d AS (SELECT media_id, kind,
             |    CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN n // 100 + 1
             |      ELSE n // 50 + 1 END AS n_frames
             |  FROM m),
             |f AS (SELECT media_id, kind, unnest(range(0, n_frames, 4)) AS frame_idx
             |  FROM d),
             |feat AS (SELECT media_id, kind, frame_idx,
             |    (media_id + frame_idx * 7) % 256 AS brightness FROM f)
             |SELECT kind, count(*) AS n_frames_sampled,
             |  count(DISTINCT media_id) AS n_media,
             |  round(avg(brightness), 4) AS avg_brightness,
             |  CAST(max(frame_idx) AS BIGINT) AS max_frame_idx
             |FROM feat GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MM3 — REAL compressed-image decode, oracle-proven: deterministic
    // pixels render per media id, PNG-encode, then decode through the
    // JDK's codecs (sources.Images); the aggregate sums DECODED pixel
    // bytes, so the DuckDB oracle (pure arithmetic over the same pattern)
    // only matches if the lossless round trip reproduces every byte.
    // Encode/decode are per-record inside partitions — the same batched
    // shape mm1 uses, no driver hop.
    "mm3_png_roundtrip" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(7L)) === 0).as[Long]
        val decoded = ids.mapPartitions { it =>
          it.map { id =>
            val w = 8 + (id % 16).toInt; val h = 8 + (id % 12).toInt
            val px = Array.tabulate(w * h * 3)(i => ((id * 31 + i) % 256).toByte)
            val img = graft.sources.Images.decode(
              graft.sources.Images.encodePng(graft.sources.Images.Image(w, h, 3, px)))
            var sum = 0L
            img.pixels.foreach(p => sum += (p & 0xff))
            (id, img.width, img.height, sum)
          }
        }.toDF("media_id", "width", "height", "pix_sum")
        decoded.agg(
          count(lit(1)).as("n_images"),
          sum("width").as("sum_width"),
          sum("height").as("sum_height"),
          sum("pix_sum").as("sum_pix"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    8 + CAST(doc_id % 16 AS INT) AS w,
             |    8 + CAST(doc_id % 12 AS INT) AS h
             |  FROM documents WHERE doc_id % 7 = 0),
             |px AS (SELECT media_id, w, h,
             |    unnest(range(0, CAST(w * h * 3 AS BIGINT))) AS i FROM m),
             |ps AS (SELECT media_id, any_value(w) AS w, any_value(h) AS h,
             |    sum((media_id * 31 + i) % 256) AS pix_sum
             |  FROM px GROUP BY media_id)
             |SELECT count(*) AS n_images, CAST(sum(w) AS BIGINT) AS sum_width,
             |  CAST(sum(h) AS BIGINT) AS sum_height,
             |  CAST(sum(pix_sum) AS BIGINT) AS sum_pix
             |FROM ps""".stripMargin)),

    // MM4 — audio feature extraction through a REAL WAV container: the
    // audio-kind media (id % 3 = 1, mm1's assignment) synthesize
    // closed-form 16-bit PCM, wrap it in a standard RIFF/WAVE container
    // (AudioSynth.wav), parse it BACK (AudioSynth.pcmSamples — the same
    // chunk-walk discipline as the metadata decoder), and compute windowed
    // RMS energy + zero-crossing rate per 256-sample window — the
    // mapInPandas-shaped DSP step of a multimodal pipeline, batched per
    // partition, never collected. The oracle recomputes the samples from
    // the closed form WITHOUT the container, so any header/byte-order/
    // chunk-walk bug shifts the samples and fails the hash. Aggregates are
    // integer (Σs², flip counts); the two reported rates divide exact
    // integers once.
    "mm4_audio_features" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ids = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(3L)) === 1)
          .select(col("doc_id")).as[Long]
        val feats = ids.mapPartitions { it =>
          it.flatMap { id =>
            val (_, smp) = graft.sources.AudioSynth.pcmSamples(
              graft.sources.AudioSynth.wav(id))
            val nwin = smp.length / 256
            (0 until nwin).iterator.map { w =>
              var sumsq = 0L; var flips = 0L; var k = 0
              while (k < 256) {
                val v = smp(w * 256 + k).toLong
                sumsq += v * v
                if (k < 255 && v * smp(w * 256 + k + 1) < 0) flips += 1
                k += 1
              }
              (id, w.toLong, sumsq, flips)
            }
          }
        }.toDF("media_id", "win_idx", "sumsq", "flips")
        feats.groupBy("win_idx")
          .agg(count(lit(1)).as("n_windows"),
            sum("sumsq").as("energy"),
            sum("flips").as("zero_crossings"),
            round(sqrt(sum("sumsq").cast("double") / (count(lit(1)) * lit(256))), 6)
              .as("pooled_rms"),
            round(sum("flips").cast("double") / (count(lit(1)) * lit(255)), 6)
              .as("zcr_rate"))
          .orderBy("win_idx")
      },
      Some("""WITH ids AS (SELECT doc_id AS id,
             |    CAST(1024 + doc_id % 512 AS BIGINT) AS n
             |  FROM documents WHERE doc_id % 3 = 1),
             |wins AS (SELECT id, unnest(generate_series(0, n // 256 - 1)) AS w
             |  FROM ids),
             |kk AS (SELECT id, w, unnest(generate_series(0, 255)) AS k FROM wins),
             |smp AS (SELECT id, w, k,
             |    ((id * 31 + (w * 256 + k) * 17) % 4096) - 2048 AS s,
             |    CASE WHEN k < 255
             |      THEN ((id * 31 + (w * 256 + k + 1) * 17) % 4096) - 2048 END AS s2
             |  FROM kk),
             |pw AS (SELECT id, w, CAST(sum(s * s) AS BIGINT) AS sumsq,
             |    CAST(sum(CASE WHEN s * s2 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS flips
             |  FROM smp GROUP BY 1, 2)
             |SELECT w AS win_idx, count(*) AS n_windows,
             |  CAST(sum(sumsq) AS BIGINT) AS energy,
             |  CAST(sum(flips) AS BIGINT) AS zero_crossings,
             |  round(sqrt(CAST(sum(sumsq) AS DOUBLE) / (count(*) * 256)), 6) AS pooled_rms,
             |  round(CAST(sum(flips) AS DOUBLE) / (count(*) * 255), 6) AS zcr_rate
             |FROM pw GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
