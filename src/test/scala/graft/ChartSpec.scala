package graft

import graft.sources.{Chart, Images, StatPanel}

/** S13 PNG-chart parity (VERDICT r11 item 5): the emitted files are REAL
  * PNGs (decoded by the repo's own codec) whose bar-pixel geometry is
  * asserted against the oracle-checked aggregates — the chart is a view
  * over verified numbers, never a second computation. */
class ChartSpec extends SparkSpec {

  private def barPixels(img: Images.Image, x0: Int, barW: Int): Int = {
    var n = 0
    var y = 0
    while (y < img.height) {
      var x = x0
      while (x < x0 + barW) {
        val o = (y * img.width + x) * 3
        if ((img.pixels(o) & 0xff) == Chart.BarColor._1 &&
            (img.pixels(o + 1) & 0xff) == Chart.BarColor._2 &&
            (img.pixels(o + 2) & 0xff) == Chart.BarColor._3) n += 1
        x += 1
      }
      y += 1
    }
    n
  }

  test("bar raster geometry is exact: pixels per bar = width x value-proportional height") {
    val values = Seq(1.0, 2.0, 4.0, 0.0)
    val img = Chart.barChart(values)
    assert(img.width === 800 && img.height === 600 && img.channels === 3)
    val rects = Chart.barRects(values.size)
    values.zip(rects).foreach { case (v, (x0, barW)) =>
      val expected = barW * Chart.barHeightPx(v, 4.0)
      assert(barPixels(img, x0, barW) === expected, s"bar v=$v")
    }
    // encode -> decode round-trip through the real codec preserves pixels
    val back = Images.decode(Images.encodePng(img))
    assert(back.pixels.sameElements(img.pixels))
  }

  test("lab1 hourly chart: decoded bar-pixel sums match the oracle-checked hourly counts") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-chart").toString
    Chart.writeLab1HourlyPng(spark, dir, out)
    val img = Images.decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/hourly.png")))

    // reference numbers from the same engine frame StatPanelSpec pins to
    // the oracle-checked lab1 query
    val hourly = StatPanel.lab1PanelRows(spark, dir)
      .filter("section = 'hourly'").collect()
      .map(r => r.getString(1).toInt -> r.getDouble(2)).sortBy(_._1)
    assert(hourly.length === 24)
    val maxV = hourly.map(_._2).max
    val rects = Chart.barRects(24)
    hourly.zip(rects).foreach { case ((hour, v), (x0, barW)) =>
      val expected = barW * Chart.barHeightPx(v, maxV)
      assert(barPixels(img, x0, barW) === expected, s"hour $hour count $v")
    }
  }

  test("lab2 importance chart: decoded bars match the written report rows, which sum to 1") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-chart-imp").toString
    Chart.writeLab2ImportancePng(spark, dir, out)
    val img = Images.decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/feature_importance.png")))

    val rows = spark.read.schema("feature STRING, importance DOUBLE")
      .json(s"$out/importance_rows").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).sortBy(-_._2)
    assert(rows.length === 4)
    // the same invariant m12's oracle-checked importances_ok flag pins
    assert(math.abs(rows.map(_._2).sum - 1.0) <= 1e-6)
    assert(rows.head._2 > 0.0)
    val maxV = rows.map(_._2).max
    val rects = Chart.barRects(rows.length)
    rows.zip(rects).foreach { case ((f, v), (x0, barW)) =>
      val expected = barW * Chart.barHeightPx(v, maxV)
      assert(barPixels(img, x0, barW) === expected, s"feature $f importance $v")
    }
  }

  test("lab4 KDE contour: every plot pixel reproduces band arithmetic over the m9 frame") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-chart-kde").toString
    Chart.writeLab4KdeContourPng(spark, dir, out)
    val img = Images.decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/kde_contour.png")))

    // reference densities straight from the oracle-checked m9 query body
    val frame = graft.queries.MLQueries.defs("m9_kde_grid").fn(spark, dir).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    assert(frame.size === 80)
    val grid = Array.tabulate(8, 10)((gy, gx) => frame((gx, gy)))
    val flat = grid.flatten
    val (minV, maxV) = (flat.min, flat.max)
    assert(maxV > minV, "sf0.001 KDE grid should not be flat")

    val (left, top, right, bottom) = Chart.KdeMargins
    val (plotW, plotH) = (img.width - left - right, img.height - top - bottom)
    def px(x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * img.width + x) * 3
      ((img.pixels(o) & 0xff), (img.pixels(o + 1) & 0xff), (img.pixels(o + 2) & 0xff))
    }
    // full-field assertion: each plot pixel = band color of the bilinear
    // field, lat increasing upward; count band occupancy along the way
    val bandN = Array.fill(Chart.Blues.length)(0L)
    for (y <- 0 until plotH; x <- 0 until plotW) {
      val fy = (plotH - 1 - y).toDouble / (plotH - 1) * 7
      val fx = x.toDouble / (plotW - 1) * 9
      val band = Chart.kdeBand(Chart.bilinear(grid, fx, fy), minV, maxV)
      assert(px(left + x, top + y) === Chart.kdeBandColor(band), s"pixel ($x,$y)")
      bandN(band) += 1
    }
    // density-mass reading: the full band range is painted (both extremes
    // of the oracle-checked surface reach the raster) and occupancy covers
    // the plot exactly
    assert(bandN.sum === plotW.toLong * plotH, s"band occupancy ${bandN.mkString(",")}")
    assert(bandN(0) > 0, "the min-density region must paint the lightest band")
    assert(bandN.last > 0, "the max-density cell must paint the darkest band")
    // the argmin grid cell's center pixel carries the lightest band
    val (minGy, minGx) = (for (gy <- 0 until 8; gx <- 0 until 10) yield (gy, gx))
      .minBy { case (gy, gx) => grid(gy)(gx) }
    val mx = left + math.round(minGx / 9.0 * (plotW - 1)).toInt
    val my = top + plotH - 1 - math.round(minGy / 7.0 * (plotH - 1)).toInt
    assert(px(mx, my) === Chart.kdeBandColor(0))
    // the argmax grid cell's center pixel carries the darkest band
    val (maxGy, maxGx) = (for (gy <- 0 until 8; gx <- 0 until 10) yield (gy, gx))
      .maxBy { case (gy, gx) => grid(gy)(gx) }
    val cx = left + math.round(maxGx / 9.0 * (plotW - 1)).toInt
    val cy = top + plotH - 1 - math.round(maxGy / 7.0 * (plotH - 1)).toInt
    assert(px(cx, cy) === Chart.kdeBandColor(Chart.Blues.length - 1))
  }

  test("heat ramp arithmetic: stops exact at 0/0.5/1, ink flips at the midpoint") {
    assert(Chart.heatColor(0.0, 0.0, 10.0) === Chart.HeatStops(0))
    assert(Chart.heatColor(5.0, 0.0, 10.0) === Chart.HeatStops(1))
    assert(Chart.heatColor(10.0, 0.0, 10.0) === Chart.HeatStops(2))
    assert(Chart.heatColor(3.0, 3.0, 3.0) === Chart.HeatStops(0)) // degenerate range
    assert(Chart.heatInk(4.9, 0.0, 10.0) === ((0, 0, 0)))
    assert(Chart.heatInk(5.1, 0.0, 10.0) === ((0xff, 0xff, 0xff)))
  }

  test("lab1 heatmap matrix: every cell's fill color and annot pixel count match the a2 frame") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-chart-heat").toString
    Chart.writeLab1HeatmapPng(spark, dir, out)
    val img = Images.decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/heatmap.png")))

    // reference matrix straight from the oracle-checked a2 query body
    val frame = graft.queries.AggQueries.defs("a2_pivot_heatmap").fn(spark, dir).collect()
    val byDow = frame.map(r => r.getLong(0).toInt ->
      (0 to 23).map(h => r.getLong(h + 1))).toMap
    val matrix = (0 until 7).map(d => byDow.getOrElse(d, Seq.fill(24)(0L)))
    val flat = matrix.flatten
    val (minV, maxV) = (flat.min.toDouble, flat.max.toDouble)
    assert(maxV > minV, "sf0.001 events should not be a flat matrix")

    def px(x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * img.width + x) * 3
      ((img.pixels(o) & 0xff), (img.pixels(o + 1) & 0xff), (img.pixels(o + 2) & 0xff))
    }
    for (d <- 0 until 7; h <- 0 until 24) {
      val v = matrix(d)(h)
      val fill = Chart.heatColor(v.toDouble, minV, maxV)
      val ink = Chart.heatInk(v.toDouble, minV, maxV)
      val (x0, y0, w, ch) = Chart.heatCellRect(d, h)
      // top-left interior pixel is fill (annot digits are centered)
      assert(px(x0, y0) === fill, s"cell ($d,$h) v=$v fill")
      // exact annot accounting: ink-colored pixels in the cell = the dot
      // count of the integer's 5x7 glyphs (ink never equals fill: the ramp
      // holds no pure black/white)
      var inkN = 0
      for (y <- y0 until y0 + ch; x <- x0 until x0 + w)
        if (px(x, y) == ink) inkN += 1
      assert(inkN === graft.sources.WordCloud.glyphDots(v.toString),
        s"cell ($d,$h) v=$v annot pixels")
    }
  }
}
