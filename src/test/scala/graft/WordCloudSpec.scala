package graft

import graft.sources.{Images, WordCloud}

/** S13 word-cloud parity (VERDICT r12 item 5): decode the emitted PNG and
  * assert per-term pixel coverage EXACTLY against the oracle-checked
  * t5_word_freq frame — every term's unique color covers precisely
  * scale² · glyph-dots pixels, which also proves no term overlaps another
  * (an overlap would overwrite the earlier term's pixels and break its
  * count). ChartSpec pattern. */
class WordCloudSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("glyph arithmetic: dots and boxes") {
    // 'I' has 3+1·5+3 = 11 dots; box of a 2-char term at scale 2
    assert(WordCloud.glyphDots("I") === 11)
    assert(WordCloud.termBox("ab", 2) === ((2 * (5 + 5 + 1), 14)))
    // unknown characters render as the 35-dot full block, never vanish
    assert(WordCloud.glyphDots("√") === 35)
  }

  test("emitted PNG covers each t5 term with exactly scale²·dots pixels of its unique color") {
    val out = java.nio.file.Files.createTempDirectory("graft-wc").toString
    WordCloud.writeWordCloudPng(spark, dir, out)
    val img = Images.decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/wordcloud.png")))
    assert(img.width === 800 && img.height === 400)

    // the engine-side artifact: the oracle-checked t5 frame as a report
    val terms = spark.read.schema("tok STRING, n LONG").json(s"$out/term_rows")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(terms.nonEmpty)
    val t5 = SparkEntry.queries("t5_word_freq")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(terms.toSet === t5, "report rows = the t5_word_freq frame")

    // count pixels per color in the decoded raster
    val counts = scala.collection.mutable.Map.empty[(Int, Int, Int), Long]
    var i = 0
    while (i < img.pixels.length) {
      val c = (img.pixels(i) & 0xff, img.pixels(i + 1) & 0xff, img.pixels(i + 2) & 0xff)
      if (c != ((255, 255, 255))) counts(c) = counts.getOrElse(c, 0L) + 1L
      i += 3
    }

    // exact per-term coverage via the same public arithmetic (the fitted
    // maxScale is itself deterministic from the frame)
    val sorted = terms.sortBy { case (t, n) => (-n, t) }
    val maxFreq = sorted.head._2
    val (_, usedScale) = WordCloud.fitLayout(terms, 800, 400, 8, WordCloud.Greens)
    sorted.zipWithIndex.foreach { case ((term, freq), rank) =>
      val scale = WordCloud.termScale(freq, maxFreq, usedScale)
      val color = WordCloud.rankColor(rank, sorted.size, WordCloud.Greens)
      val expect = scale.toLong * scale * WordCloud.glyphDots(term)
      assert(counts.getOrElse(color, 0L) === expect,
        s"term '$term' rank $rank scale $scale color $color")
    }
    // nothing else painted: colored pixels are exactly the terms' dots
    assert(counts.values.sum === sorted.map { case (t, f) =>
      val s = WordCloud.termScale(f, maxFreq, usedScale)
      s.toLong * s * WordCloud.glyphDots(t)
    }.sum)
  }

  test("layout is deterministic and collision-free by construction") {
    val terms = Seq(("alpha", 10L), ("beta", 5L), ("gamma", 5L), ("delta", 1L))
    val a = WordCloud.layout(terms, 400, 200, 6, WordCloud.Reds)
    val b = WordCloud.layout(terms, 400, 200, 6, WordCloud.Reds)
    assert(a === b)
    // biggest term sits first and largest
    assert(a.head.term === "alpha" && a.head.scale === 6)
    // freq ties resolve alphabetically
    assert(a.map(_.term).indexOf("beta") < a.map(_.term).indexOf("gamma"))
  }
}
