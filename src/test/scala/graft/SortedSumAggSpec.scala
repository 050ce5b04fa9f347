package graft

import org.apache.spark.sql.functions._
import graft.functions.{DoubleBuf, SortedSumD, VectorExpr}

/** Pins the round-15 primitive-buffer sorted-sum aggregate bit-identical to
  * the expression chain it replaced — `vec_seq_sum(sort_array(collect_list))`
  * — which is itself the DuckDB-oracle contract
  * (`list_sum(list_sort(list(x)))`). The risky part of the swap is fold
  * ORDER and edge semantics, so the fixtures force both to matter:
  * magnitude mixes where addition order changes the result, −0.0 vs 0.0
  * (Catalyst and Arrays.sort both order −0.0 < 0.0), nulls (collect_list
  * skips them), and multi-partition input (exercises partial-aggregate
  * serialize/merge across the exchange). */
class SortedSumAggSpec extends SparkSpec {
  import spark.implicits._

  private def oldSsum(c: org.apache.spark.sql.Column) =
    VectorExpr.vecSeqSumD(sort_array(collect_list(c)))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("matches the old chain bit-for-bit on order-sensitive multi-partition data") {
    val r = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      val v: java.lang.Double =
        if (r.nextInt(19) == 0) null
        else if (r.nextInt(3) == 0) 1.0e16 * (r.nextInt(7) - 3)
        else if (r.nextInt(5) == 0) -0.0
        else r.nextDouble() * math.pow(10, r.nextInt(20) - 10)
      (i % 13, v)
    }
    val df = rows.toDF("g", "x").repartition(8)
    val both = df.groupBy("g").agg(
      SortedSumD.sortedSum(col("x")).as("newSum"),
      oldSsum(col("x")).as("oldSum"))
    val collected = both.collect()
    assert(collected.length == 13)
    collected.foreach { row =>
      assert(bits(row.getDouble(1)) == bits(row.getDouble(2)),
        s"group ${row.get(0)}: new ${row.getDouble(1)} != old ${row.getDouble(2)}")
    }
  }

  test("all-null group evaluates to 0.0, exactly like the old chain") {
    val df = Seq((1, null: java.lang.Double), (1, null: java.lang.Double))
      .toDF("g", "x")
    val row = df.groupBy("g").agg(
      SortedSumD.sortedSum(col("x")).as("n"), oldSsum(col("x")).as("o")).head()
    assert(bits(row.getDouble(1)) == 0L && bits(row.getDouble(2)) == 0L)
  }

  test("−0.0 ordering: sorted fold puts −0.0 before +0.0 (both paths agree)") {
    // fold([−0.0, 0.0, 1e16]) in sorted order: (−0.0 + 0.0) = +0.0 … the
    // assertion is the cross-path bit equality, not a particular constant.
    val df = Seq((1, -0.0), (1, 0.0), (1, 1.0e16), (1, 2.0), (1, -2.0))
      .toDF("g", "x").repartition(3)
    val row = df.groupBy("g").agg(
      SortedSumD.sortedSum(col("x")).as("n"), oldSsum(col("x")).as("o")).head()
    assert(bits(row.getDouble(1)) == bits(row.getDouble(2)))
  }

  test("buffer growth + serialize/merge roundtrip survives large groups") {
    // One group far past the initial 16-slot buffer AND past one partition,
    // with order-sensitive values, so partial buffers genuinely merge.
    val r = new scala.util.Random(11)
    val vals = (0 until 20000).map(_ =>
      if (r.nextInt(3) == 0) 1.0e16 else r.nextDouble())
    val df = vals.map(("g", _)).toDF("g", "x").repartition(16)
    val got = df.groupBy("g").agg(SortedSumD.sortedSum(col("x")).as("s"))
      .select("s").as[Double].head()
    val expect = vals.sorted.foldLeft(0.0)(_ + _)
    assert(bits(got) == bits(expect))
  }

  test("a group past the 2 GiB serialized-buffer limit fails by name, not by overflow") {
    assert(DoubleBuf.serializedSize(Int.MaxValue / 8) == Int.MaxValue / 8 * 8)
    val e = intercept[IllegalArgumentException](DoubleBuf.serializedSize(Int.MaxValue / 8 + 1))
    assert(e.getMessage.contains("2 GiB serialized-buffer limit"))
  }
}
