package graft

/** Structural job budget for the SSSP query family at sf0.01: each query is
  * built and collected under its own job group, and the jobs it starts must
  * not exceed the committed count. Job counts are fixed by the plans, so
  * unlike a wall-clock floor this check has no noise; the counts are the
  * ones measured when the fixture-sized SSSP path moved into one task. */
class JobBudgetSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  private val budget = Seq(
    "g2_sssp" -> 4,
    "g3_isochrone" -> 6,
    "g3b_isochrone_hull" -> 6,
    "g7_poi_accessibility" -> 14,
    "lab3_road_network" -> 9)

  budget.foreach { case (query, max) =>
    test(s"$query starts at most $max Spark jobs at sf0.01") {
      val jobs = jobsStartedBy(SparkEntry.queries(query)(spark, dir).collect())
      assert(jobs <= max, s"$query started $jobs jobs; the budget is $max")
    }
  }
}
