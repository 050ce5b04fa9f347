package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench line is parsed as JSON downstream, so its string fields pass
  * through [[Bench.jsonString]]: ordinary paths are only quoted (the line
  * stays byte-identical for them), and a path with `"` or `\` still
  * yields a literal a JSON parser reads back unchanged. */
class BenchJsonSpec extends AnyFunSuite {
  test("ordinary paths and masters are quoted unchanged") {
    assert(Bench.jsonString("/data/sf0.1") == "\"/data/sf0.1\"")
    assert(Bench.jsonString("local[32]") == "\"local[32]\"")
  }

  test("a path with quotes, backslashes and a newline round-trips through a JSON parser") {
    val path = "C:\\corpora\\\"sf1\"\n"
    val lit = Bench.jsonString(path)
    assert(lit == "\"C:\\\\corpora\\\\\\\"sf1\\\"" + "\\" + "u000a\"")
    assert(new ObjectMapper().readValue(lit, classOf[String]) == path)
  }
}
