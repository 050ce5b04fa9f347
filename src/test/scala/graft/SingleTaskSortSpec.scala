package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{monotonically_increasing_id, rand}

/** core.SingleTaskSort (installed by core.GraftExtensions): a global sort
  * over a small materialized input finishes in the result stage, without
  * the range exchange's sampling job and map stage, and returns the rows
  * the unrewritten plan returns. */
class SingleTaskSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.01"
  private val sortTails = Seq("a1_group_count", "f8_utm_projection", "s6_gpkg_scan")

  private lazy val schemasInferred: Unit =
    core.Tables.names.foreach(core.Tables.load(spark, dir, _))

  private def query(name: String): DataFrame = {
    schemasInferred
    SparkEntry.queries(name)(spark, dir)
  }

  /** The final AQE plan of a collected frame. */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** True when a global sort in the final plan reads a one-partition
    * coalesce, the shape the rule plans. */
  private def fired(df: DataFrame): Boolean =
    collect(finalPlan(df)) { case s: SortExec if s.global => s.child }.exists {
      case InputAdapter(c: CoalesceExec) => c.numPartitions == 1
      case c: CoalesceExec => c.numPartitions == 1
      case _ => false
    }

  private def rangeExchanges(df: DataFrame): Int =
    collect(finalPlan(df)) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.size

  private def withoutAqe(df: => DataFrame): Seq[Row] =
    withSqlConf("spark.sql.adaptive.enabled", "false")(df.collect().toSeq)

  sortTails.foreach { name =>
    test(s"$name starts 2 Spark jobs at sf0.01: no range-sort sampling job or map stage") {
      query(name).collect() // a source's one-time work is not counted
      val df = query(name)
      val jobs = jobsStartedBy(df.collect())
      assert(fired(df) && rangeExchanges(df) == 0, finalPlan(df))
      assert(jobs == 2, s"$name started $jobs jobs")
    }

    test(s"$name returns the rows, in order, that it returns with AQE off") {
      val df = query(name)
      val rows = df.collect().toSeq
      assert(fired(df), finalPlan(df))
      assert(rows == withoutAqe(query(name)))
    }
  }

  test("a sort that reads a scan keeps its range exchange (p1_projection)") {
    val df = query("p1_projection")
    df.collect()
    assert(!fired(df) && rangeExchanges(df) == 1, finalPlan(df))
  }

  test("a sort under a union keeps its range exchange: only project, filter, limit, coalesce or write ancestors") {
    val df = query("a1_group_count").union(query("a1_group_count"))
    df.collect()
    // The second branch may reuse the first branch's range exchange.
    assert(!fired(df) && rangeExchanges(df) >= 1, finalPlan(df))
  }

  test("the cap is the advisory partition size: one byte below the measured input keeps the range exchange") {
    val measured = query("a1_group_count")
    measured.collect()
    val bytes = collect(finalPlan(measured)) { case s: ShuffleQueryStageExec => s.computeStats().get.sizeInBytes }.sum
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val below = query("a1_group_count")
    withSqlConf(key, (bytes - 1).toString)(below.collect())
    assert(!fired(below) && rangeExchanges(below) == 1, finalPlan(below))
    val at = query("a1_group_count")
    withSqlConf(key, bytes.toString)(at.collect())
    assert(fired(at), finalPlan(at))
  }

  // AQE's own partition coalescing would merge the range exchange's few
  // tiny partitions into one, which hides a single-task sort; with it off,
  // AQE keeps the partitioning the plan has without AQE.
  Seq("rand(7)" -> rand(7), "monotonically_increasing_id()" -> monotonically_increasing_id())
    .foreach { case (label, column) =>
      test(s"$label above the sort keeps the range exchange and the values it has with AQE off") {
        def above = query("a1_group_count").withColumn("v", column)
        withSqlConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
          val df = above
          val rows = df.collect().toSeq
          assert(!fired(df) && rangeExchanges(df) == 1, finalPlan(df))
          assert(rows == withoutAqe(above))
        }
      }
    }

  test("the shared session and its clones resolve every graft SQL function and run this rule, with no register call") {
    Seq(spark, spark.newSession()).foreach { session =>
      core.GraftFunctions.functions.foreach { case (id, _, _) =>
        assert(session.sessionState.functionRegistry.functionExists(id), id)
      }
      val easting = session.sql("SELECT st_project_utm(-75.0, 40.0)[0]").head().getDouble(0)
      assert(math.abs(easting - 500000.0) < 1e-6)
      assert(session.sessionState.adaptiveRulesHolder.runtimeOptimizerRules.contains(core.SingleTaskSort))
    }
  }
}
