package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Bench._
import graft.ops.CpuWitness
import org.scalatest.funsuite.AnyFunSuite

/** The floor judge on hand-built inputs: the raw and adjusted flag rules,
  * the factor rule, the isolated verdicts, the stale-floor note, the
  * repin gate and the floors-file rewrite. No Spark session. */
class FloorJudgeSpec extends AnyFunSuite {
  private val floorsFile =
    """{
      | "sf": "sf0.1",
      | "updated": "2026-08-19",
      | "floors": {
      | "a1_group_count": {"sec": 1.000, "source": "bench", "date": "2026-08-13"},
      | "a3_group_mean": {"sec": 0.300, "source": "bench", "date": "2026-08-19", "w": {"cpu_ref": 0.500, "mem_ref_mt": 0.354, "stage_ref": 0.412, "mem_during_med": 0.400}},
      | "d1_exact_dedup": {"sec": 0.100, "source": "bench", "date": "2026-08-14"},
      | "g2_sssp": {"sec": 1.000, "source": "r7-trade", "date": "2026-08-14", "note": "stale — set in a bursty window"}
      | }
      |}
      |""".stripMargin
  private val floors = parseFloors(floorsFile)
  private val quiet = Panel(0.49, 0.15, 0.27, 0.34, 0.516, Seq(0.13), Seq(0.40), "null")

  test("floors parse to seconds and verbatim row text") {
    assert(floors.sec == Map("a1_group_count" -> 1.0, "a3_group_mean" -> 0.3,
      "d1_exact_dedup" -> 0.1, "g2_sssp" -> 1.0))
    assert(floors.rows("g2_sssp") ==
      """{"sec": 1.000, "source": "r7-trade", "date": "2026-08-14", "note": "stale — set in a bursty window"}""")
    assert(floors.setMemMed("a3_group_mean").contains(0.4))
    assert(floors.setMemMed("a1_group_count").isEmpty)
  }

  test("a raw flag needs both more than 1.5x and more than +0.2 s") {
    val results = Map(
      "a1_group_count" -> 1.6, // 1.6x and +0.6 s
      "a3_group_mean" -> 0.51, // 1.7x and +0.21 s
      "d1_exact_dedup" -> 0.29, // 2.9x but only +0.19 s
      "g2_sssp" -> 1.5, // exactly 1.5x
      "a2_pivot_heatmap" -> 9.0) // no floor
    assert(rawFlags(results, floors) ==
      Seq(Flag("a3_group_mean", 0.51, 0.3), Flag("a1_group_count", 1.6, 1.0)))
    assert(rawFlags(Map("a1_group_count" -> -1.0), floors).isEmpty)
  }

  test("the cpu factor is max(1, cpu_ref / 0.49)") {
    assert(CpuWitness.cpuFactor(0.98) == 2.0)
    assert(CpuWitness.cpuFactor(0.30) == 1.0)
    assert(CpuWitness.factor("a1_group_count", 0.98, 0.516) == 2.0)
    assert(CpuWitness.factor("a1_group_count", 0.30, 0.516) == 1.0)
  }

  test("the stage factor applies only to stage-latency-bound queries and only above 1.5") {
    val slow = CpuWitness.QuietStageRef * 2.0
    val band = CpuWitness.QuietStageRef * 1.4
    assert(CpuWitness.StageLatencyBound.contains("g2_sssp"))
    assert(CpuWitness.factor("g2_sssp", 0.49, slow) == 2.0)
    assert(CpuWitness.factor("g2_sssp", 0.49, band) == 1.0)
    assert(CpuWitness.factor("g2_sssp", 0.98, band) == 2.0)
    assert(CpuWitness.factor("a1_group_count", 0.49, slow) == 1.0)
    val flags = Seq(Flag("g2_sssp", 2.0, 1.0), Flag("a1_group_count", 2.0, 1.0))
    assert(adjustedFlags(flags, 0.49, slow) == Seq(Flag("a1_group_count", 2.0, 1.0)))
    assert(adjustedFlags(flags, 0.49, band) == flags)
    assert(adjustedLine(flags(1), 1.0) ==
      "[bench] FLOOR-REGRESSION-ADJ a1_group_count: 2.000 s vs floor 1.000 s x factor 1.00")
  }

  test("isolated verdicts: suite-position, persists-isolated, probe-failed") {
    assert(verdict(1.6, 1.0, 1.0) == "suite-position")
    assert(verdict(1.8, 1.0, 1.0) == "persists-isolated")
    assert(verdict(1.8, 1.0, 2.0) == "suite-position")
    assert(verdict(-1.0, 1.0, 1.0) == "probe-failed")
    assert(verdict(0.5, Double.NaN, 1.0) == "persists-isolated")
    val reply = Isolated(Map("a1_group_count" -> 1.8, "a3_group_mean" -> 1.2,
      "g2_sssp" -> -1.0), 0.98, -1.0, Seq(0.41, 0.35))
    val parsed = Isolated.parse("[spark] noise\n" + reply.line + "\n").get
    assert(parsed == reply)
    val results = Map("a1_group_count" -> 2.0, "a3_group_mean" -> 0.9, "g2_sssp" -> 3.0)
    assert(recheckLines(parsed, results, floors, 0.49, 0.516) == Seq(
      "[bench] ISOLATED-RECHECK a1_group_count: suite 2.000 s -> isolated 1.800 s vs floor 1.000 s x probe-factor 2.00 [suite-position]",
      "[bench] ISOLATED-RECHECK a3_group_mean: suite 0.900 s -> isolated 1.200 s vs floor 0.300 s x probe-factor 2.00 [persists-isolated]",
      "[bench] ISOLATED-RECHECK g2_sssp: suite 3.000 s -> isolated -1.000 s vs floor 1.000 s x probe-factor 2.00 [probe-failed]"))
    // Without the child's own cpu_ref the verdict reads this run's.
    assert(recheckLines(parsed.copy(cpuRef = -1.0), results, floors, 0.49, 0.516).head
      .endsWith("x probe-factor 1.00 [persists-isolated]"))
    assert(Isolated.parse("no reply\n").isEmpty)
  }

  test("the stale-floor note fires above 1.2x the row's mem_during_med") {
    assert(staleNote("a3_group_mean", floors, 0.49) ==
      " [stale-floor-candidate: floor set at mem_during_med 0.400, this run 0.490]")
    assert(staleNote("a3_group_mean", floors, 0.47) == "")
    assert(staleNote("a3_group_mean", floors, -1.0) == "")
    assert(staleNote("a1_group_count", floors, 0.90) == "")
    assert(flagLine(Flag("a3_group_mean", 0.9, 0.3), floors, 0.49) ==
      "[bench] FLOOR-REGRESSION a3_group_mean: 0.900 s vs floor 0.300 s (3.00x) floor-row=" +
        floors.rows("a3_group_mean") +
        " [stale-floor-candidate: floor set at mem_during_med 0.400, this run 0.490]")
  }

  test("a repin raises floors only when 0 < run mem med <= 0.45, and tags the raises") {
    assert(repinApplies(requested = true, 0.45))
    assert(!repinApplies(requested = true, 0.46))
    assert(!repinApplies(requested = true, -1.0))
    assert(!repinApplies(requested = false, 0.30))
    val results = Map("a1_group_count" -> 1.2, "d1_exact_dedup" -> 0.05, "g2_sssp" -> -1.0)
    assert(newFloors(results, floors, repin = false) == Map("d1_exact_dedup" -> 0.05))
    val raised = newFloors(results, floors, repin = true)
    assert(raised == Map("a1_group_count" -> 1.2, "d1_exact_dedup" -> 0.05))
    val text = floorsText(floors, raised, repin = true, quiet, "sf0.1", "2026-10-01", repinTag)
    val row = parseFloors(text).rows
    assert(repinTag.startsWith("repin-"))
    assert(row("a1_group_count").contains(s""""source": "$repinTag""""))
    assert(row("d1_exact_dedup") ==
      """{"sec": 0.050, "source": "bench", "date": "2026-10-01", "w": {"cpu_ref": 0.490, "mem_ref_mt": 0.340, "stage_ref": 0.516, "mem_during_med": 0.400}}""")
  }

  test("a rewrite reuses untouched rows verbatim, non-ASCII included, and stays JSON") {
    val text = floorsText(floors, Map("d1_exact_dedup" -> 0.05), repin = false, quiet,
      "sf0.1", "2026-10-01", "repin-test")
    val out = parseFloors(text)
    Seq("a1_group_count", "a3_group_mean", "g2_sssp").foreach { q =>
      assert(out.rows(q) == floors.rows(q), q)
    }
    assert(out.sec("d1_exact_dedup") == 0.05)
    val json = new ObjectMapper().readTree(text)
    assert(json.get("updated").asText == "2026-10-01")
    assert(json.get("floors").get("g2_sssp").get("note").asText == "stale — set in a bursty window")
  }
}
