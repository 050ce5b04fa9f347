package graft

import graft.sources.{Images, Reports, StatPanel}

/** S13 end-to-end: one call emits the reference's complete lab-1 artifact
  * set (panel + interactive map + chart PNG) and the downloadable zip, all
  * derived from the single staged oracle-checked labeled frame. */
class ReportBundleSpec extends SparkSpec {

  test("lab1 bundle: panel + map + chart + zip, all present and consistent") {
    val dir = "/root/testdata/sf0.01" // smallest corpus with clusters
    val out = java.nio.file.Files.createTempDirectory("graft-bundle").toString + "/lab1"
    Reports.writeLab1Bundle(spark, dir, out)

    def read(rel: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/$rel"))
    val panel = read("panel/panel.html")
    val map = read("map/map_panel.html")
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/charts/hourly.png"))

    // the three artifacts agree on the same staged labeled frame
    val labeled = StatPanel.lab1Labeled(spark, dir)
    val total = labeled.count()
    val noise = labeled.filter("label = -1").count()
    assert(panel.contains(s"""<div class="v" id="total_points">$total</div>"""))
    assert(map.contains(s""""n":$noise,"pts":"""))
    assert(Images.isPng(png) && Images.decode(png).width === 800)

    // the zip carries every artifact byte-for-byte
    val zf = new java.util.zip.ZipFile(s"$out.zip")
    try {
      def entryBytes(n: String) = zf.getInputStream(zf.getEntry(n)).readAllBytes
      assert(new String(entryBytes("panel/panel.html"), "UTF-8") === panel)
      assert(new String(entryBytes("map/map_panel.html"), "UTF-8") === map)
      assert(entryBytes("charts/hourly.png").toSeq === png.toSeq)
      val names = {
        val e = zf.entries(); val b = scala.collection.mutable.ArrayBuffer[String]()
        while (e.hasMoreElements) b += e.nextElement().getName
        b.toSeq
      }
      // engine-side row reports ride along for every artifact
      assert(names.exists(n => n.startsWith("panel/rows/") && n.endsWith(".json")))
      assert(names.exists(n => n.startsWith("map/rows/") && n.endsWith(".json")))
      assert(names.exists(n => n.startsWith("charts/hourly_rows/") && n.endsWith(".json")))
      assert(names.contains("charts/heatmap.png"))
      assert(names.exists(n => n.startsWith("charts/heatmap_rows/") && n.endsWith(".json")))
    } finally zf.close()
  }

  test("lab3 + lab4 bundles: map/charts/wordcloud + zip, all present") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-bundle34").toString
    Reports.writeLab3Bundle(spark, dir, s"$base/lab3")
    Reports.writeLab4Bundle(spark, dir, s"$base/lab4")

    def names(zip: String): Seq[String] = {
      val zf = new java.util.zip.ZipFile(zip)
      try {
        val e = zf.entries(); val b = scala.collection.mutable.ArrayBuffer[String]()
        while (e.hasMoreElements) b += e.nextElement().getName
        b.toSeq
      } finally zf.close()
    }
    val n3 = names(s"$base/lab3.zip")
    assert(n3.contains("map/map_lab3.html"))
    assert(n3.exists(n => n.startsWith("map/rows/") && n.endsWith(".json")))

    val n4 = names(s"$base/lab4.zip")
    assert(n4.contains("map/map_lab4.html"))
    assert(n4.contains("charts/sentiment_distribution.html"))
    assert(n4.contains("charts/rate_vs_polarity.html"))
    assert(n4.contains("charts/scatter_3d.html"))
    assert(n4.contains("charts/kde_contour.png"))
    assert(n4.exists(n => n.startsWith("charts/kde_rows/") && n.endsWith(".json")))
    assert(n4.contains("wordcloud/wordcloud.png"))
    assert(n4.exists(n => n.startsWith("wordcloud/term_rows/") && n.endsWith(".json")))
    // the zipped wordcloud really is the repo's PNG
    val zf = new java.util.zip.ZipFile(s"$base/lab4.zip")
    try assert(Images.isPng(
      zf.getInputStream(zf.getEntry("wordcloud/wordcloud.png")).readAllBytes))
    finally zf.close()
  }
}
