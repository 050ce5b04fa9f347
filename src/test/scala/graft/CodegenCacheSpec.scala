package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated classes stay compiled for the session's life: a query re-run
  * after more classes than Spark's default cache holds (100) were compiled
  * in between compiles nothing. */
class CodegenCacheSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"
  private val analytic = Seq("d12_dup_spans", "a1_group_count", "p1_projection",
    "s6_gpkg_scan", "f8_utm_projection")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the shared session runs with the builder's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      core.GraftSession.CodegenCacheEntries.toString)
  }

  test("the analytic queries re-run after 150 other compiled classes compile nothing") {
    def pass() = analytic.foreach { q =>
      SparkEntry.queries(q)(spark, dir).collect()
      core.GraftSession.releaseTransientBlocks(spark)
    }
    pass()
    // Each literal is inlined into the generated code, so each projection
    // compiles a class of its own.
    val before = compiles
    (1 to 150).foreach(i => spark.range(1).selectExpr(s"id * $i + ${i * 7}").collect())
    assert(compiles - before > 100, "the filler projections compiled too few classes")
    val rerun = compiles
    pass()
    assert(compiles - rerun === 0L)
  }
}
