package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Word-cloud PNG sink (S13; VERDICT r12 item 5) — the reference's lab-4
  * wordcloud figures (实习四/实习四代码/yelp_analysis.ipynb
  * generate_wordclouds: WordCloud(width=800, height=400,
  * background_color='white', colormap='Greens' / 'Reds') over review
  * text, rendered via matplotlib and saved as PNG).
  *
  * Split as in Chart: the cloud DATA is the oracle-checked term-frequency
  * frame (the t5_word_freq query), landed as a JSON report; the cloud
  * DOCUMENT is a driver-side deterministic rasterizer through the JDK's
  * PNG writer (`sources.Images`). Glyphs are a from-scratch 5×7 dot-matrix
  * face (the classic LED-matrix letterforms, public domain shapes), so a
  * term's painted-pixel count is exact integer arithmetic:
  * scale² · Σ glyph dots — which is what lets WordCloudSpec decode the
  * emitted PNG and assert per-term pixel coverage exactly.
  *
  * Font size ∝ √frequency (the wordcloud library's default
  * relative_scaling ≈ area ∝ frequency), placement walks a deterministic
  * archimedean spiral from the center rejecting collisions (the library's
  * placement strategy, made seed-free), colors follow the requested ramp
  * by rank — with the BLUE channel replaced by the term's rank so every
  * term's color is unique and the spec can count its pixels exactly (a
  * ≤ 30-step blue perturbation is invisible and documented here).
  */
object WordCloud {

  /** ColorBrewer Greens / Reds (9-class) — the reference's colormaps.
    * Public colorbrewer2.org values. */
  val Greens: Array[String] = Array(
    "#f7fcf5", "#e5f5e0", "#c7e9c0", "#a1d99b", "#74c476",
    "#41ab5d", "#238b45", "#006d2c", "#00441b")
  val Reds: Array[String] = Array(
    "#fff5f0", "#fee0d2", "#fcbba1", "#fc9272", "#fb6a4a",
    "#ef3b2c", "#cb181d", "#a50f15", "#67000d")

  /** 5×7 dot-matrix glyphs, '#' = dot. Unknown characters render as the
    * full block so nothing silently disappears. */
  val Glyphs: Map[Char, Seq[String]] = Map(
    'A' -> Seq(".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    'B' -> Seq("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    'C' -> Seq(".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    'D' -> Seq("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    'E' -> Seq("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    'F' -> Seq("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    'G' -> Seq(".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".###."),
    'H' -> Seq("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    'I' -> Seq(".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."),
    'J' -> Seq("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    'K' -> Seq("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    'L' -> Seq("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    'M' -> Seq("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    'N' -> Seq("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    'O' -> Seq(".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    'P' -> Seq("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    'Q' -> Seq(".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    'R' -> Seq("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    'S' -> Seq(".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    'T' -> Seq("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    'U' -> Seq("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    'V' -> Seq("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    'W' -> Seq("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    'X' -> Seq("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    'Y' -> Seq("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    'Z' -> Seq("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    '0' -> Seq(".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    '1' -> Seq("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."),
    '2' -> Seq(".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    '3' -> Seq(".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."),
    '4' -> Seq("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    '5' -> Seq("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    '6' -> Seq("..##.", ".#...", "#....", "####.", "#...#", "#...#", ".###."),
    '7' -> Seq("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    '8' -> Seq(".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    '9' -> Seq(".###.", "#...#", "#...#", ".####", "....#", "...#.", ".##.."),
    '_' -> Seq(".....", ".....", ".....", ".....", ".....", ".....", "#####"),
    '-' -> Seq(".....", ".....", ".....", "#####", ".....", ".....", "....."))

  val Unknown: Seq[String] =
    Seq("#####", "#####", "#####", "#####", "#####", "#####", "#####")

  val GlyphW = 5
  val GlyphH = 7
  /** Inter-character gap in glyph units (scaled with the font). */
  val Gap = 1

  private def glyph(c: Char): Seq[String] =
    Glyphs.getOrElse(Character.toUpperCase(c), Unknown)

  /** Dot count of a term at scale 1 — exact painted pixels are
    * `scale² · glyphDots(term)` (exposed for the spec). */
  def glyphDots(term: String): Int =
    term.map(c => glyph(c).map(_.count(_ == '#')).sum).sum

  /** Term box in pixels at `scale`: (width, height). */
  def termBox(term: String, scale: Int): (Int, Int) =
    ((term.length * GlyphW + (term.length - 1) * Gap) * scale, GlyphH * scale)

  /** The wordcloud sizing rule: scale ∝ √(freq / maxFreq), clamped ≥ 1. */
  def termScale(freq: Long, maxFreq: Long, maxScale: Int): Int =
    math.max(1, math.round(maxScale * math.sqrt(freq.toDouble / maxFreq)).toInt)

  /** Rank color on `ramp` with the blue channel replaced by the rank so
    * every term's color is unique (spec-exact pixel counting). */
  def rankColor(rank: Int, total: Int, ramp: Array[String]): (Int, Int, Int) = {
    // The rank rides the blue channel and the raster stores channels via
    // toByte — beyond 256 terms colors would silently wrap and collide,
    // breaking the every-term-unique-color invariant the spec counts
    // pixels by. Fail loudly instead (t5's LIMIT 30 caller is far under).
    require(total <= 256,
      s"word cloud rank coloring supports at most 256 terms, got $total")
    // biggest terms take the DARK end of the ramp, like the library's
    // frequency-descending colormap walk
    val idx = ramp.length - 1 -
      math.min(ramp.length - 1, (rank.toDouble / math.max(1, total - 1) * (ramp.length - 2)).toInt)
    val c = ramp(idx)
    (Integer.parseInt(c.substring(1, 3), 16), Integer.parseInt(c.substring(3, 5), 16), rank)
  }

  case class Placed(term: String, freq: Long, scale: Int,
      x: Int, y: Int, color: (Int, Int, Int))

  /** Deterministic layout: terms by frequency desc (ties alphabetical),
    * each walking an archimedean spiral from the canvas center until its
    * padded box overlaps nothing already placed. Terms that cannot fit
    * raise (loud, like every exchange sink) — the caller controls canvas
    * and maxScale. */
  def layout(terms: Seq[(String, Long)], width: Int, height: Int,
      maxScale: Int, ramp: Array[String]): Seq[Placed] = {
    require(terms.nonEmpty, "word cloud needs at least one term")
    val sorted = terms.sortBy { case (t, n) => (-n, t) }
    val maxFreq = sorted.head._2
    val placed = scala.collection.mutable.ArrayBuffer.empty[Placed]
    val pad = 2
    def overlaps(x: Int, y: Int, w: Int, h: Int): Boolean =
      x < 0 || y < 0 || x + w > width || y + h > height || placed.exists { p =>
        val (pw, ph) = termBox(p.term, p.scale)
        !(x + w + pad <= p.x || p.x + pw + pad <= x ||
          y + h + pad <= p.y || p.y + ph + pad <= y)
      }
    sorted.zipWithIndex.foreach { case ((term, freq), rank) =>
      val scale = termScale(freq, maxFreq, maxScale)
      val (w, h) = termBox(term, scale)
      // archimedean spiral: r = a·θ, deterministic step
      var theta = 0.0
      var found = false
      while (!found && theta < 400.0) {
        val r = 3.0 * theta
        val x = (width / 2 + r * math.cos(theta)).toInt - w / 2
        val y = (height / 2 + r * math.sin(theta) * 0.6).toInt - h / 2
        if (!overlaps(x, y, w, h)) {
          placed += Placed(term, freq, scale, x, y, rankColor(rank, sorted.size, ramp))
          found = true
        }
        theta += 0.1
      }
      require(found, s"word cloud cannot place '$term' at scale $scale on ${width}x$height")
    }
    placed.toSeq
  }

  /** The library's fit behavior: if the requested maxScale cannot place
    * every term, shrink and retry (WordCloud repeatedly lowers font_size
    * until the canvas fits). Returns the layout and the maxScale used. */
  def fitLayout(terms: Seq[(String, Long)], width: Int, height: Int,
      maxScale: Int, ramp: Array[String]): (Seq[Placed], Int) = {
    var s = maxScale
    while (s > 1) {
      try return (layout(terms, width, height, s, ramp), s)
      catch { case _: IllegalArgumentException if s > 1 => s -= 1 }
    }
    (layout(terms, width, height, 1, ramp), 1)
  }

  /** Rasterize a layout: white ground, each term's dots in its unique
    * color, dot = scale×scale block (exact pixel arithmetic). */
  def raster(placed: Seq[Placed], width: Int, height: Int): Images.Image = {
    val px = Array.fill[Byte](width * height * 3)(0xff.toByte)
    def set(x: Int, y: Int, c: (Int, Int, Int)): Unit =
      if (x >= 0 && x < width && y >= 0 && y < height) {
        val o = (y * width + x) * 3
        px(o) = c._1.toByte; px(o + 1) = c._2.toByte; px(o + 2) = c._3.toByte
      }
    placed.foreach { p =>
      var cx = p.x
      p.term.foreach { ch =>
        val g = glyph(ch)
        for (gy <- 0 until GlyphH; gx <- 0 until GlyphW if g(gy)(gx) == '#';
             dy <- 0 until p.scale; dx <- 0 until p.scale)
          set(cx + gx * p.scale + dx, p.y + gy * p.scale + dy, p.color)
        cx += (GlyphW + Gap) * p.scale
      }
    }
    Images.Image(width, height, 3, px)
  }

  /** Full sink: the t5_word_freq frame lands as a JSON report, the driver
    * re-reads it and rasterizes the cloud through sources.Images — reference
    * geometry 800×400, white background, Greens (or Reds) colormap. */
  def writeWordCloudPng(s: SparkSession, dir: String, outPath: String,
      ramp: Array[String] = Greens, width: Int = 800, height: Int = 400,
      maxScale: Int = 8): Unit = {
    val rows = graft.SparkEntry.queries("t5_word_freq")(s, dir)
    IO.writeReportJson(rows, s"$outPath/term_rows")
    val back = s.read.schema("tok STRING, n LONG")
      .json(s"$outPath/term_rows").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val (placed, _) = fitLayout(back, width, height, maxScale, ramp)
    val img = raster(placed, width, height)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outPath))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outPath/wordcloud.png"), Images.encodePng(img)): Unit
  }
}
