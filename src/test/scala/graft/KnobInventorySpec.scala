package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the README's environment-variable table and the `SPARK_GRAFT_*`
  * names the main sources read in lockstep, so a knob can't come back (or
  * go away) unnoticed. */
class KnobInventorySpec extends AnyFunSuite {
  private val Knob = "SPARK_GRAFT_[A-Z0-9_]+".r

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("every SPARK_GRAFT_* variable read under src/main/scala is in the README table, and only those") {
    val sources = scalaFiles(new java.io.File("src/main/scala"))
    assert(sources.nonEmpty, "no sources found under src/main/scala")
    val inSources = sources.flatMap(f => Knob.findAllIn(read(f))).toSet
    val tableRow = """^\|\s*`(SPARK_GRAFT_[A-Z0-9_]+)`\s*\|""".r
    val listed = read(new java.io.File("README.md")).linesIterator
      .flatMap(l => tableRow.findFirstMatchIn(l).map(_.group(1))).toSet
    val unlisted = (inSources -- listed).toSeq.sorted
    val stale = (listed -- inSources).toSeq.sorted
    if (unlisted.nonEmpty) fail(s"read under src/main/scala but not in the README table: ${unlisted.mkString(", ")}")
    if (stale.nonEmpty) fail(s"in the README table but not read under src/main/scala: ${stale.mkString(", ")}")
  }
}
