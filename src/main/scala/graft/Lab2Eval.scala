package graft

import graft.ml.{MlPipelines, TripSynthetic}
import org.apache.spark.sql.functions._

/** Lab-2 capability-target evaluation (SURVEY.md §5, §7.4): run the
  * trip-duration GBT pipeline on the trip-shaped synthetic at the
  * reference's corpus size and report the same metric battery the reference
  * records (MAE / RMSE seconds, log-RMSE, log-scale R² —
  * 实习二/…taxi_travel_time_prediction.ipynb:8152-8158). Results are
  * committed to BASELINE.md.
  *
  *   sbt "runMain graft.Lab2Eval [nRows] [maxIter]"
  */
object Lab2Eval {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1458644L
    val maxIter = if (args.length > 1) args(1).toInt else 30
    val cpus = graft.core.GraftSession.intEnv("SPARK_GRAFT_CPUS", 32, 1, "core count")
    val spark = graft.core.GraftSession.local(cpus)

    val trips = TripSynthetic.trips(spark, n)
      .withColumn("y", log1p(col("duration_s")))
      // 70/30 positional-free hash split (same semantics as the reference's
      // 70/30 split at ipynb:73, but deterministic under any partitioning)
      .withColumn("is_train", pmod(col("id") * lit(2654435761L), lit(100L)) < 70)
      .persist()
    val train = trips.filter(col("is_train"))
    val valid = trips.filter(!col("is_train"))

    val pred = MlPipelines.gbtFit(train, valid, TripSynthetic.features, "y",
      maxIter = maxIter, maxDepth = 6)
    val m = pred
      .withColumn("yhat_s", expm1(col("prediction")))
      .withColumn("err_s", col("yhat_s") - col("duration_s"))
      .withColumn("err_log", col("prediction") - col("y"))
      .agg(count(lit(1)).as("n_valid"),
        avg(abs(col("err_s"))).as("mae_s"),
        sqrt(avg(col("err_s") * col("err_s"))).as("rmse_s"),
        avg(abs(col("err_s")) / col("duration_s")).as("mean_rel_err"),
        sqrt(avg(col("err_log") * col("err_log"))).as("rmse_log"),
        (lit(1.0) - sum(col("err_log") * col("err_log")) /
          (var_samp(col("y")) * (count(lit(1)) - 1))).as("r2_log"))
      .head()
    trips.unpersist()

    // Locale.ROOT formatting: the f-interpolator uses the default locale,
    // which could emit comma decimals and break the JSON line.
    def d(x: Double, dp: Int) =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(x))
    println(s"""{"n": $n, "n_valid": ${m.getLong(0)}, """ +
      s""""mae_s": ${d(m.getDouble(1), 2)}, "rmse_s": ${d(m.getDouble(2), 2)}, """ +
      s""""mean_rel_err": ${d(m.getDouble(3), 4)}, """ +
      s""""rmse_log": ${d(m.getDouble(4), 4)}, "r2_log": ${d(m.getDouble(5), 4)}, """ +
      """"reference": {"mae_s": 216.66, "rmse_s": 377.02, "mean_rel_err": 0.3447, "rmse_log": 0.4025, "r2_log": 0.7301}}""")
    spark.stop()
  }
}
