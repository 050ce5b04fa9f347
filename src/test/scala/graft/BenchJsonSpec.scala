package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench line is parsed as JSON downstream, so its string fields pass
  * through [[Bench.jsonString]]: ordinary paths are only quoted (the line
  * stays byte-identical for them), and a path with `"` or `\` still
  * yields a literal a JSON parser reads back unchanged. Its keys and their
  * order are a contract with the tools that read it. */
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

  test("the bench line keeps its 23 keys in order, the detail line adds task_metrics, and both parse") {
    val keys = Seq("metric", "value", "unit", "queries", "sf", "reps", "cpus", "master",
      "errors", "floor_regressions", "floor_regressions_cpu_adj", "isolated_recheck",
      "cpu_ref_sec", "cpu_ref_mt_sec", "mem_ref_sec", "mem_ref_mt_sec", "stage_ref_sec",
      "isolated_stage_ref_sec", "isolated_cpu_ref_sec", "cpu_ref_during", "mem_ref_during",
      "isolated_mem_ref_during", "quiet_gate")
    val panel = Bench.Panel(0.5, 0.15, 0.27, 0.35, 0.52, Seq(0.125, 0.13),
      Seq(0.4, 0.38, 0.5), """{"threshold":0.410,"waited_sec":3.0,"start_med":0.390,"quiet_start":true}""")
    val results = Map("a1_group_count" -> 0.25, "a3_group_mean" -> 0.5, "d1_exact_dedup" -> -1.0)
    val iso = Bench.Isolated(Map("a1_group_count" -> 0.2), 0.51, 0.6, Seq(0.4))
    val mapper = new ObjectMapper()
    def fields(line: String) = mapper.readTree(line).fieldNames().asScala.toSeq

    val compact = Bench.benchLine("""{"a1_group_count":0.250}""", "sf0.1", 3, 4,
      "local[4]", results, 2, 1, panel, iso)
    assert(fields(compact) == keys)
    val detail = Bench.benchLine("{}", "sf0.1", 3, 4, "local[4]", results, 2, 1, panel,
      Bench.Isolated.none, "task_metrics" -> "{}")
    assert(fields(detail) == keys :+ "task_metrics")

    val c = mapper.readTree(compact)
    assert(c.get("value").asDouble == 0.75)
    assert(c.get("errors").asInt == 1)
    assert(c.get("cpu_ref_during").get("max").asDouble == 0.52)
    assert(c.get("mem_ref_during").get("med").asDouble == 0.4)
    assert(c.get("isolated_mem_ref_during").get("n").asInt == 1)
    val d = mapper.readTree(detail)
    assert(d.get("isolated_recheck").size == 0)
    assert(d.get("isolated_cpu_ref_sec").asDouble == -1.0)
    assert(d.get("isolated_mem_ref_during").isNull)
  }
}
