package graft

import graft.core.Tables
import graft.functions.GeoFunctions
import graft.ml.MlPipelines
import org.apache.spark.sql.functions._

/** Calibration probe for the m12/lab2 verdict-row bands (ml.MlBands).
  *
  * The two GBT queries emit oracle-checkable booleans ("metric within
  * band") instead of raw fit metrics; this main prints the RAW relative
  * metrics those booleans threshold, so the bands can be (re)calibrated
  * whenever the fit pipeline, Spark version, or seed changes.
  *
  *   sbt "runMain graft.GbtBandProbe [sfDir]"
  *
  * Output: one JSON line per query with mae/ȳ, rmse/ȳ, r².
  */
object GbtBandProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = graft.core.GraftSession.intEnv("SPARK_GRAFT_CPUS", 8, 1, "core count")
    val spark = graft.core.GraftSession.local(cpus)

    def report(name: String, pred: org.apache.spark.sql.DataFrame): Unit = {
      val m = pred.withColumn("err", col("prediction") - col("y"))
        .agg(count(lit(1)).as("n"),
          avg(abs(col("err"))).as("mae"),
          sqrt(avg(col("err") * col("err"))).as("rmse"),
          (lit(1.0) - sum(col("err") * col("err")) /
            (var_samp(col("y")) * (count(lit(1)) - 1))).as("r2"),
          avg(col("y")).as("ybar"))
        .head()
      println(String.format(java.util.Locale.ROOT,
        """{"query":"%s","n_valid":%d,"mae_rel":%.6f,"rmse_rel":%.6f,"r2":%.6f}""",
        name, Long.box(m.getLong(0)),
        Double.box(m.getDouble(1) / m.getDouble(4)),
        Double.box(m.getDouble(2) / m.getDouble(4)),
        Double.box(m.getDouble(3))))
    }

    // m12 shape (queries/MLModelQueries.scala m12_gbt_metrics)
    val li12 = Tables.lineitem(spark, dir)
      .withColumn("y", col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax")))
      .withColumn("is_train", pmod(col("l_orderkey") * lit(2654435761L), lit(100L)) < 70)
    val feats12 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val (pred12, d12, s12, _, _) = MlPipelines.gbtFitHpo(
      li12.filter(col("is_train")), li12.filter(!col("is_train")), feats12, "y")
    report("m12_gbt_metrics", pred12)
    println(s"""{"query":"m12_gbt_metrics","best_depth":$d12,"best_step":$s12}""")

    // lab2 shape (pipelines/Pipelines.tripDuration)
    val li2 = Tables.withSyntheticPoint(Tables.lineitem(spark, dir), "l_orderkey")
      .withColumn("dow", dayofweek(col("l_shipdate")))
      .withColumn("mo", month(col("l_shipdate")))
      .withColumn("hav_km", GeoFunctions.haversineKm(
        col("lat"), col("lon"), lit(40.758), lit(-73.9857)))
      .withColumn("is_rest",
        to_date(col("l_shipdate")).isin("1995-01-01", "1995-07-04", "1995-12-25")
          .cast("double"))
      .withColumn("y",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
      .withColumn("is_train", pmod(col("l_orderkey") * lit(2654435761L), lit(100L)) < 70)
    val feats2 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "hav_km", "dow", "mo", "is_rest")
    val pred2 = MlPipelines.gbtFit(
      li2.filter(col("is_train")), li2.filter(!col("is_train")), feats2, "y")
    report("lab2_trip_duration", pred2)
    spark.stop()
  }
}
