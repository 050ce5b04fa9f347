package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** PNG chart sink (S13 chart parity; VERDICT r11 item 5) — the reference
  * saves matplotlib figures for every lab: the lab-2 feature-importance bar
  * chart (实习二/实习二代码/lx_lightgbmTest.py:190-198 — top-k importances,
  * `plt.bar`, savefig 'feature_importance.png'; ycyLightGBM…py:191 same)
  * and the lab-1 hourly complaint distribution
  * (实习一/实习一代码/visualize_noise.py:61-, savefig via _save_fig_as_png).
  *
  * Split as in StatPanel/MapPanel: chart DATA is engine work (oracle-
  * checked aggregate rows, landed via writeReportJson), the chart DOCUMENT
  * is driver work — here a deterministic pure-JVM rasterizer feeding the
  * JDK's PNG writer through `sources.Images`, so the artifact is a REAL
  * compressed PNG with no extra imaging library. Every bar's pixel
  * geometry is integer arithmetic over the aggregate values, which is
  * what lets ChartSpec decode the emitted file and assert bar-pixel sums
  * against the oracle-checked numbers exactly.
  */
object Chart {

  /** Bar fill — the stat panel's #4a7fb5. */
  val BarColor: (Int, Int, Int) = (0x4a, 0x7f, 0xb5)
  val AxisColor: (Int, Int, Int) = (0x22, 0x22, 0x22)

  /** Integer bar geometry: `n` slots over the plot width, bars fill 8/10
    * of a slot (matplotlib's default bar width 0.8), centered in the slot.
    * Returns (x0, barWidth) per bar. Exposed so the spec derives expected
    * pixel rectangles from the same arithmetic. */
  def barRects(n: Int, width: Int = 800, height: Int = 600): Seq[(Int, Int)] = {
    val (left, right) = (50, 20)
    val plotW = width - left - right
    val slot = plotW / math.max(1, n)
    val barW = math.max(1, slot * 8 / 10)
    val gap = (slot - barW) / 2
    (0 until n).map(i => (left + i * slot + gap, barW))
  }

  /** Bar height in pixels: value-proportional against the max, over the
    * plot height. Exposed for the same reason as [[barRects]]. */
  def barHeightPx(v: Double, maxV: Double, height: Int = 600): Int = {
    val plotH = height - 30 - 40
    if (maxV <= 0.0 || v <= 0.0) 0 else math.round(v / maxV * plotH).toInt
  }

  /** Deterministic bar-chart raster: white ground, 1-px axes, solid
    * [[BarColor]] bars. RGB, row-major. */
  def barChart(values: Seq[Double], width: Int = 800, height: Int = 600): Images.Image = {
    require(values.nonEmpty, "bar chart needs at least one value")
    require(values.forall(_ >= 0.0), "bar values must be non-negative")
    val (top, bottom) = (30, 40)
    val left = 50
    val plotH = height - top - bottom
    val px = Array.fill[Byte](width * height * 3)(0xff.toByte)
    def set(x: Int, y: Int, c: (Int, Int, Int)): Unit =
      if (x >= 0 && x < width && y >= 0 && y < height) {
        val o = (y * width + x) * 3
        px(o) = c._1.toByte; px(o + 1) = c._2.toByte; px(o + 2) = c._3.toByte
      }
    val maxV = values.max
    val rects = barRects(values.size, width, height)
    values.zip(rects).foreach { case (v, (x0, barW)) =>
      val h = barHeightPx(v, maxV, height)
      var y = top + plotH - h
      while (y < top + plotH) {
        var x = x0
        while (x < x0 + barW) { set(x, y, BarColor); x += 1 }
        y += 1
      }
    }
    // axes last so a full-height bar can't overwrite the baseline
    val xAxisY = top + plotH
    (left - 1 until width - 20).foreach(x => set(x, xAxisY, AxisColor))
    (top until xAxisY + 1).foreach(y => set(left - 1, y, AxisColor))
    Images.Image(width, height, 3, px)
  }

  // ------------------------------------------------------- lab-1 heatmap

  /** The reference heatmap colormap stops — test.py:384
    * `LinearSegmentedColormap.from_list(..., ['#f7fbff','#6baed6','#08306b'])`
    * (public matplotlib API; evenly spaced 3-stop linear ramp). */
  val HeatStops: Array[(Int, Int, Int)] =
    Array((0xf7, 0xfb, 0xff), (0x6b, 0xae, 0xd6), (0x08, 0x30, 0x6b))

  /** seaborn.heatmap gridline color (`linecolor='lightgray'`). */
  val HeatGrid: (Int, Int, Int) = (0xd3, 0xd3, 0xd3)

  /** Cell color: v normalized over [minV, maxV] (seaborn's default
    * vmin/vmax = data extremes), linearly interpolated across the evenly
    * spaced [[HeatStops]]. Exposed so the spec derives expected per-cell
    * colors from the same arithmetic. */
  def heatColor(v: Double, minV: Double, maxV: Double): (Int, Int, Int) = {
    val t = if (maxV > minV) math.min(1.0, math.max(0.0, (v - minV) / (maxV - minV))) else 0.0
    val seg = if (t <= 0.5) 0 else 1
    val u = (t - seg * 0.5) * 2.0
    val (a, b) = (HeatStops(seg), HeatStops(seg + 1))
    def mix(x: Int, y: Int) = math.round(x + (y - x) * u).toInt
    (mix(a._1, b._1), mix(a._2, b._2), mix(a._3, b._3))
  }

  /** Annot ink: black on the ramp's light half, white on the dark half
    * (neither collides with any ramp color — the ramp holds no pure
    * black/white). Exposed for the spec's pixel accounting. */
  def heatInk(v: Double, minV: Double, maxV: Double): (Int, Int, Int) =
    if ((v - minV) * 2.0 <= (maxV - minV)) (0, 0, 0) else (0xff, 0xff, 0xff)

  /** Integer cell geometry of the 7×24 matrix: (x0, y0, w, h) of the FILL
    * interior of (dow, hour) — 1-px gridlines sit on the boundary pixels
    * between cells. Exposed for the spec. */
  def heatCellRect(dow: Int, hour: Int, width: Int = 1010, height: Int = 400): (Int, Int, Int, Int) = {
    val (left, top, right, bottom) = (90, 30, 20, 40)
    val cw = (width - left - right) / 24
    val ch = (height - top - bottom) / 7
    (left + hour * cw + 1, top + dow * ch + 1, cw - 1, ch - 1)
  }

  /** Deterministic 7×24 heatmap raster — the lab-1 day-of-week × hour
    * complaint matrix figure (test.py:378-428: groupby(['day_of_week',
    * 'hour']).size().unstack(fill_value=0) through sns.heatmap with
    * annot=True integer labels, lightgray gridlines, the 3-stop blue
    * ramp). Cells fill with [[heatColor]]; each count is drawn centered in
    * scale-1 dot-matrix digits — black on the ramp's light half, white on
    * the dark half (annot text never collides with either since no ramp
    * color is pure black/white). */
  def heatmapChart(matrix: Seq[Seq[Long]], width: Int = 1010, height: Int = 400): Images.Image = {
    require(matrix.size == 7 && matrix.forall(_.size == 24),
      s"heatmap needs a dense 7x24 matrix, got ${matrix.size}x${matrix.headOption.map(_.size).getOrElse(0)}")
    val flat = matrix.flatten
    val (minV, maxV) = (flat.min.toDouble, flat.max.toDouble)
    val px = Array.fill[Byte](width * height * 3)(0xff.toByte)
    def set(x: Int, y: Int, c: (Int, Int, Int)): Unit =
      if (x >= 0 && x < width && y >= 0 && y < height) {
        val o = (y * width + x) * 3
        px(o) = c._1.toByte; px(o + 1) = c._2.toByte; px(o + 2) = c._3.toByte
      }
    // gridlines first: the cell boundary lattice, then fills inset by 1px
    val (x00, y00, cw1, ch1) = heatCellRect(0, 0, width, height)
    val (left, top) = (x00 - 1, y00 - 1)
    val (cw, ch) = (cw1 + 1, ch1 + 1)
    (0 to 24).foreach { i =>
      (top until top + 7 * ch + 1).foreach(y => set(left + i * cw, y, HeatGrid))
    }
    (0 to 7).foreach { j =>
      (left until left + 24 * cw + 1).foreach(x => set(x, top + j * ch, HeatGrid))
    }
    for (dow <- 0 until 7; hour <- 0 until 24) {
      val v = matrix(dow)(hour)
      val c = heatColor(v.toDouble, minV, maxV)
      val (x0, y0, w, h) = heatCellRect(dow, hour, width, height)
      var y = y0
      while (y < y0 + h) {
        var x = x0
        while (x < x0 + w) { set(x, y, c); x += 1 }
        y += 1
      }
      // annot=True: the integer count, centered, 5×7 dot-matrix digits
      val s = v.toString
      val tw = s.length * WordCloud.GlyphW + (s.length - 1) * WordCloud.Gap
      require(tw <= w && WordCloud.GlyphH <= h,
        s"cell ($dow,$hour) too small for annot '$s' ($tw px > $w px)")
      val (tx, ty) = (x0 + (w - tw) / 2, y0 + (h - WordCloud.GlyphH) / 2)
      val ink = heatInk(v.toDouble, minV, maxV)
      s.zipWithIndex.foreach { case (ch0, i) =>
        val g = WordCloud.Glyphs(ch0)
        val gx = tx + i * (WordCloud.GlyphW + WordCloud.Gap)
        for (r <- 0 until WordCloud.GlyphH; cix <- 0 until WordCloud.GlyphW)
          if (g(r)(cix) == '#') set(gx + cix, ty + r, ink)
      }
    }
    Images.Image(width, height, 3, px)
  }

  /** Lab-1 7×24 heatmap figure (VERDICT r13 item 6): the SAME oracle-
    * checked a2_pivot_heatmap frame (dow, h0..h23), landed as a JSON
    * report, re-read, zero-filled against the full 0..6 dow domain, and
    * rasterized. The a2 pivot enumerates all 24 hour columns up front and
    * na.fills 0, so only a missing day needs densifying here. */
  def writeLab1HeatmapPng(s: SparkSession, dir: String, outPath: String): Unit = {
    val frame = graft.queries.AggQueries.defs("a2_pivot_heatmap").fn(s, dir)
    IO.writeReportJson(frame, s"$outPath/heatmap_rows")
    val schema = "dow LONG, " + (0 to 23).map(h => s"h$h LONG").mkString(", ")
    val back = s.read.schema(schema).json(s"$outPath/heatmap_rows").collect()
      .map(r => r.getLong(0).toInt -> (0 to 23).map(h => r.getLong(h + 1)))
    require(back.length == back.map(_._1).distinct.length,
      s"duplicate dow keys in heatmap rows: ${back.map(_._1).mkString(",")}")
    val byDow = back.toMap
    require(byDow.keySet.subsetOf((0 until 7).toSet),
      s"dow outside 0..6: ${byDow.keySet.filterNot((0 until 7).contains).toSeq.sorted.mkString(",")}")
    val dense = (0 until 7).map(d => byDow.getOrElse(d, Seq.fill(24)(0L)))
    writePng(heatmapChart(dense), s"$outPath/heatmap.png")
  }

  // --------------------------------------------------- lab-4 KDE contour

  /** ColorBrewer Blues (9-class) — matplotlib's 'Blues' colormap anchor
    * colors (public colorbrewer2.org values), the reference's
    * `contourf(..., cmap='Blues', alpha=0.8)`. */
  val Blues: Array[(Int, Int, Int)] = Array(
    (0xf7, 0xfb, 0xff), (0xde, 0xeb, 0xf7), (0xc6, 0xdb, 0xef),
    (0x9e, 0xca, 0xe1), (0x6b, 0xae, 0xd6), (0x42, 0x92, 0xc6),
    (0x21, 0x71, 0xb5), (0x08, 0x51, 0x9c), (0x08, 0x30, 0x6b))

  /** contourf level band of density `v` over [minV, maxV]: [[Blues]].length
    * evenly spaced filled bands (matplotlib's default locator picks evenly
    * spaced levels across the data range). */
  def kdeBand(v: Double, minV: Double, maxV: Double): Int = {
    val t = if (maxV > minV) math.min(1.0, math.max(0.0, (v - minV) / (maxV - minV))) else 0.0
    math.min(Blues.length - 1, (t * Blues.length).toInt)
  }

  /** Band color composited at the reference's alpha=0.8 over the white
    * figure ground. */
  def kdeBandColor(band: Int): (Int, Int, Int) = {
    val c = Blues(band)
    def mix(v: Int) = math.round(0.8 * v + 0.2 * 255).toInt
    (mix(c._1), mix(c._2), mix(c._3))
  }

  /** Bilinear interpolation over grid-cell centers: `grid(gy)(gx)`, with
    * (fx, fy) in grid-center coordinates (0..nx-1, 0..ny-1), clamped at the
    * edges — the smooth field contourf draws its level sets through. */
  def bilinear(grid: Array[Array[Double]], fx: Double, fy: Double): Double = {
    val (ny, nx) = (grid.length, grid(0).length)
    val cx = math.min(nx - 1.0, math.max(0.0, fx))
    val cy = math.min(ny - 1.0, math.max(0.0, fy))
    val (x0, y0) = (math.min(nx - 2, cx.toInt), math.min(ny - 2, cy.toInt))
    val (ux, uy) = (cx - x0, cy - y0)
    grid(y0)(x0) * (1 - ux) * (1 - uy) + grid(y0)(x0 + 1) * ux * (1 - uy) +
      grid(y0 + 1)(x0) * (1 - ux) * uy + grid(y0 + 1)(x0 + 1) * ux * uy
  }

  /** Plot-area geometry of the contour figure; exposed for the spec. */
  val KdeMargins: (Int, Int, Int, Int) = (50, 20, 20, 40) // left, top, right, bottom

  /** Deterministic filled-contour raster of the m9 KDE grid — the lab-4
    * restaurant-density figure (实习四/…yelp_analysis.ipynb:1580-1599:
    * gaussian_kde on a meshgrid through `contourf(xi, yi, zi,
    * cmap='Blues', alpha=0.8)` twice, one per panel; one panel here, the
    * data is identical). The pixel field is the bilinear upsample of the
    * 8×10 grid (gy rows × gx cols, lat increasing UP the canvas like the
    * reference's axes), quantized into [[Blues]].length evenly spaced
    * level bands. Every pixel is reproducible arithmetic over the
    * oracle-checked densities, which is what the spec asserts. */
  def kdeContourChart(grid: Array[Array[Double]], width: Int = 530, height: Int = 420): Images.Image = {
    require(grid.length == 8 && grid.forall(_.length == 10),
      s"m9 grid is 8 rows (gy) x 10 cols (gx), got ${grid.length}x${grid.headOption.map(_.length).getOrElse(0)}")
    val flat = grid.flatten
    val (minV, maxV) = (flat.min, flat.max)
    val (left, top, right, bottom) = KdeMargins
    val (plotW, plotH) = (width - left - right, height - top - bottom)
    val px = Array.fill[Byte](width * height * 3)(0xff.toByte)
    var y = 0
    while (y < plotH) {
      val fy = (plotH - 1 - y).toDouble / (plotH - 1) * (grid.length - 1)
      var x = 0
      while (x < plotW) {
        val fx = x.toDouble / (plotW - 1) * (grid(0).length - 1)
        val c = kdeBandColor(kdeBand(bilinear(grid, fx, fy), minV, maxV))
        val o = ((top + y) * width + left + x) * 3
        px(o) = c._1.toByte; px(o + 1) = c._2.toByte; px(o + 2) = c._3.toByte
        x += 1
      }
      y += 1
    }
    // axes frame
    val ax = AxisColor
    (left - 1 to left + plotW).foreach { x =>
      val o = ((top + plotH) * width + x) * 3
      px(o) = ax._1.toByte; px(o + 1) = ax._2.toByte; px(o + 2) = ax._3.toByte
    }
    (top to top + plotH).foreach { yy =>
      val o = (yy * width + left - 1) * 3
      px(o) = ax._1.toByte; px(o + 1) = ax._2.toByte; px(o + 2) = ax._3.toByte
    }
    Images.Image(width, height, 3, px)
  }

  /** Lab-4 KDE contour figure (VERDICT r13 item 7): the SAME oracle-checked
    * m9_kde_grid frame (gx, gy, density), landed as a JSON report, re-read,
    * densified into the 8×10 matrix (the m9 cross-join always produces all
    * 80 cells — enforced loudly), and rasterized. */
  def writeLab4KdeContourPng(s: SparkSession, dir: String, outPath: String): Unit = {
    val frame = graft.queries.MLQueries.defs("m9_kde_grid").fn(s, dir)
    IO.writeReportJson(frame, s"$outPath/kde_rows")
    val back = s.read.schema("gx LONG, gy LONG, density DOUBLE")
      .json(s"$outPath/kde_rows").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2))
    require(back.length == 80 && back.map(_._1).distinct.length == 80,
      s"m9 grid must be exactly the 80 (gx,gy) cells, got ${back.length}")
    val byCell = back.toMap
    val grid = Array.tabulate(8, 10)((gy, gx) => byCell((gx, gy)))
    writePng(kdeContourChart(grid), s"$outPath/kde_contour.png")
  }

  private def writePng(img: Images.Image, path: String): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), Images.encodePng(img)): Unit
  }

  /** Lab-1 hourly-distribution chart (visualize_noise.py:61-): the SAME
    * oracle-checked hourly aggregate StatPanel renders, landed as a JSON
    * report and rasterized FROM the re-read rows — ALWAYS 24 bars in hour
    * order. The panel's hourly section is a plain groupBy with no
    * densification, so a corpus with a zero-complaint hour would otherwise
    * silently shift every later bar's position (ADVICE r12): the reader
    * zero-fills against the full 0..23 domain before rendering, and the
    * sink itself asserts the 24-bar invariant rather than leaving it to
    * the spec's corpus. */
  def writeLab1HourlyPng(s: SparkSession, dir: String, outPath: String): Unit = {
    val rows = StatPanel.lab1PanelRows(s, dir).filter(col("section") === "hourly")
    IO.writeReportJson(rows, s"$outPath/hourly_rows")
    val pairs = s.read.schema("section STRING, key STRING, value DOUBLE")
      .json(s"$outPath/hourly_rows").collect()
      .map(r => r.getString(1).toInt -> r.getDouble(2))
    // duplicate hour keys mark a malformed report — fail loudly like the
    // other invariants here instead of letting toMap silently last-win
    require(pairs.length == pairs.map(_._1).distinct.length,
      s"duplicate hour keys in hourly rows: ${pairs.map(_._1).groupBy(identity).collect { case (k, v) if v.length > 1 => k }.toSeq.sorted.mkString(",")}")
    val back = pairs.toMap
    require(back.keySet.subsetOf((0 until 24).toSet),
      s"hourly rows outside 0..23: ${back.keySet.filterNot((0 until 24).contains).toSeq.sorted.mkString(",")}")
    val dense = (0 until 24).map(h => back.getOrElse(h, 0.0))
    require(dense.size == 24, s"expected 24 hourly bars, got ${dense.size}")
    writePng(barChart(dense), s"$outPath/hourly.png")
  }

  /** Lab-2 feature-importance chart (lx_lightgbmTest.py:190-198): fit the
    * SAME pipeline the oracle-banded m12 query runs (identical features,
    * target, split — MLModelQueries m12), rank importances descending, top
    * k = min(10, n) like the reference, land them as a JSON report, chart
    * from the re-read rows. */
  def writeLab2ImportancePng(s: SparkSession, dir: String, outPath: String): Unit = {
    import graft.core.Tables
    val li = Tables.lineitem(s, dir)
      .withColumn("y", col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax")))
      .withColumn("is_train", pmod(col("l_orderkey") * lit(2654435761L), lit(100L)) < 70)
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val (_, _, _, importances, _) = graft.ml.MlPipelines.gbtFitHpo(
      li.filter(col("is_train")), li.filter(!col("is_train")), feats, "y")
    val k = math.min(10, feats.size)
    val top = feats.zip(importances).sortBy(-_._2).take(k)
    import s.implicits._
    IO.writeReportJson(top.toDF("feature", "importance"),
      s"$outPath/importance_rows")
    val back = s.read.schema("feature STRING, importance DOUBLE")
      .json(s"$outPath/importance_rows").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).sortBy(-_._2)
    writePng(barChart(back.map(_._2).toSeq), s"$outPath/feature_importance.png")
  }
}
