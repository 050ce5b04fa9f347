package graft

import graft.core.Materialize
import graft.core.Materialize.Signature
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The round driver every relational GraphOps loop runs through. */
class MaterializeSpec extends SparkSpec {

  private def counting(rounds: Int, signature: Option[Signature]): (Long, Int) = {
    var steps = 0
    // id climbs by one per round until it reaches 3
    val out = Materialize.iterate(spark.range(1).toDF("id"), rounds, signature) { s =>
      steps += 1
      s.select(least(col("id") + 1, lit(3L)).as("id"))
    }
    (out.head().getLong(0), steps)
  }

  test("iterate stops after the first round whose signature repeats, else runs every round") {
    val total = Signature(_.agg(sum("id")).head())
    // values 1, 2, 3, 3: round 4 repeats round 3
    assert(counting(10, Some(total)) === (3L, 4))
    // round 1 is compared with the init state's signature when it is known
    assert(counting(10, Some(total.copy(before = Some(Row(1L))))) === (1L, 1))
    assert(counting(1, Some(total)) === (1L, 1))
    assert(counting(5, None) === (3L, 5))
    assert(counting(0, None) === (0L, 0))
  }

  test("iterate unpersists the caller's cached frames when a round throws") {
    val cached: DataFrame = spark.range(5).toDF("n").persist(StorageLevel.MEMORY_AND_DISK)
    assert(cached.count() === 5L)
    // ANSI overflow inside the round's materialization
    val e = intercept[Exception](
      Materialize.iterate(spark.range(1).toDF("id"), 3, cached = Seq(cached)) {
        _.select((col("id") + lit(Long.MaxValue)).as("id"))
      })
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
    assert(cached.storageLevel === StorageLevel.NONE)
  }
}
