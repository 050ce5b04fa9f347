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

  test("no SPARK_GRAFT_* lookup under src/main/scala is parsed with a bare .toInt") {
    // A bare .toInt throws an unnamed NumberFormatException on a bad value;
    // GraftSession.intEnv names the variable and the accepted range.
    val bare = """"SPARK_GRAFT_[A-Z0-9_]+"[^\n]*\.toInt\b""".r
    val hits = scalaFiles(new java.io.File("src/main/scala")).flatMap { f =>
      read(f).linesIterator.zipWithIndex.collect {
        case (line, i) if bare.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"parse these with GraftSession.intEnv:\n${hits.mkString("\n")}")
  }

  test("an integer knob takes its default or a valid value, and a bad value fails naming the variable") {
    import graft.core.GraftSession.intEnv
    assert(intEnv("SPARK_GRAFT_CPUS", 4, 1, "core count", Map.empty) == 4)
    assert(intEnv("SPARK_GRAFT_CPUS", 4, 1, "core count", Map("SPARK_GRAFT_CPUS" -> " 8 ")) == 8)
    assert(intEnv("SPARK_GRAFT_OFFHEAP_GB", 16, 0, "GB count", Map("SPARK_GRAFT_OFFHEAP_GB" -> "0")) == 0)
    Seq("0", "-2", "1.5", "eight").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        intEnv("SPARK_GRAFT_CPUS", 4, 1, "core count", Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be an integer >= 1 (core count), got '$bad'")
    }
    val e = intercept[IllegalArgumentException](
      intEnv("SPARK_GRAFT_OFFHEAP_GB", 16, 0, "GB count", Map("SPARK_GRAFT_OFFHEAP_GB" -> "-1")))
    assert(e.getMessage == "SPARK_GRAFT_OFFHEAP_GB must be an integer >= 0 (GB count), got '-1'")
  }
}
