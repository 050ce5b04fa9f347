package graft.pipelines

import graft.core.Tables
import graft.functions.GeoFunctions
import graft.graph.GraphOps
import graft.ml.{Dbscan, MlBands, MlPipelines}
import graft.ops.Anomaly
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end replicas of the reference's four lab pipelines (SURVEY.md §3),
  * as thin compositions of the operator layers. Each returns a small summary
  * frame — the shape the reference prints/plots at the end of each lab —
  * so a reference user can run the whole lab, not just its pieces.
  */
object Pipelines {

  /** Lab 1 (实习一/实习一代码/test.py:736-756): clean → spatial cluster →
    * temporal profile → high-density periods. Events supply the timestamps;
    * the synthetic geo derivation stands in for complaint coordinates. */
  def noiseHotspots(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "error") // the "complaint type" filter
      .dropDuplicates("event_id")
    val pts = Tables.withSyntheticPoint(ev, "event_id")
      .filter(col("lon").between(-74.3, -73.7) && col("lat").between(40.5, 41.0))
    val clusters = Dbscan.summary(
      Dbscan.run(pts.select(col("event_id").as("id"), col("lon").as("x"), col("lat").as("y")),
        eps = 0.017, minPts = 5))
    val periods = Anomaly.highDensityPeriods(ev, maxGapHours = 1, sigma = 2.0)
      .agg(count(lit(1)).as("n_periods"),
        coalesce(max("max_count"), lit(0L)).as("peak_hourly_count"))
    // max_by on (cnt, hod) — bare max_by(hod, cnt) picks an arbitrary hour
    // on count ties (partition-order dependent); the struct key makes the
    // tie-break deterministic (highest count, then latest hour).
    val hourly = ev.groupBy(expr("(ts_ns div 3600000000000) % 24").as("hod"))
      .agg(count(lit(1)).as("cnt"))
      .agg(max_by(col("hod"), struct(col("cnt"), col("hod"))).as("peak_hour"))
    clusters.crossJoin(periods).crossJoin(hourly)
  }

  /** Lab 2 (实习二/…taxi_travel_time_prediction.ipynb top-to-bottom):
    * feature engineering (time components, calendar bucket, haversine,
    * K-Means zones, holiday flag) → hash split → GBT → metric battery. */
  def tripDuration(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.withSyntheticPoint(Tables.lineitem(spark, dir), "l_orderkey")
    val featured = li
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
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "hav_km", "dow", "mo", "is_rest")
    // nTrain rides out of the fit (already counted for the fit budget) —
    // no second filter+count scan (round-14, guide §1.2).
    val (pred, nTrain) = MlPipelines.gbtFitCounted(
      featured.filter(col("is_train")), featured.filter(!col("is_train")), feats, "y")
    // Oracle-checkable verdict row (round-7 promotion from no_oracle, the
    // m12 pattern): exact split sizes the oracle recomputes from the hash
    // split + in-engine fit-quality booleans against MlBands' relative
    // bands. Raw metric values remain visible via graft.GbtBandProbe.
    pred.withColumn("err", col("prediction") - col("y"))
      .agg(count(lit(1)).as("n_valid"),
        avg(abs(col("err"))).as("mae"),
        sqrt(avg(col("err") * col("err"))).as("rmse"),
        (lit(1.0) - sum(col("err") * col("err")) /
          (var_samp(col("y")) * (count(lit(1)) - 1))).as("r2"),
        avg(col("y")).as("ybar"))
      .select(col("n_valid"), lit(nTrain).as("n_train"),
        (col("mae") <= col("ybar") * MlBands.MaeRelCeil).as("mae_ok"),
        (col("rmse") <= col("ybar") * MlBands.RmseRelCeil).as("rmse_ok"),
        (col("r2") >= lit(MlBands.R2Floor)).as("r2_ok"))
  }

  /** Lab 3 (实习三 notebooks): graph stats → shortest paths → isochrone →
    * density grids, on the deterministic supplier road graph. */
  def roadNetwork(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey").as("k"))
    val n = supp.agg(count(lit(1)).as("n"))
    val base = supp.crossJoin(broadcast(n))
    val edges = Seq(col("k") + 1, col("k") + 7, col("k") * 3 + 1)
      .map(d => base.select(col("k").as("src"), pmod(d, col("n")).as("dst")))
      .reduce(_ unionByName _)
      .withColumn("w", pmod(col("src") * 7 + col("dst") * 13, lit(20L)) + 1)
    val degStats = GraphOps.degrees(edges)
      .agg(count(lit(1)).as("n_nodes"), round(avg("degree"), 4).as("avg_degree"),
        max("degree").as("max_degree"))
    // ONE Bellman-Ford run feeds both the shortest-path stats and the
    // isochrone count (reachable ≡ sssp.filter(dist ≤ cutoff)); the old
    // shape ran the identical 8-round fixpoint twice — half of lab3's wall
    // was a duplicated iterative subtree (guide §1.2: don't compute things
    // twice). One aggregate reads the dist frame, so it is evaluated once
    // whichever path GraphOps.sssp takes.
    val sssp = GraphOps.sssp(edges, 0L, 8)
      .agg(count(lit(1)).as("n_reached"), max("dist").as("max_dist"),
        count_if(col("dist") <= 30L).as("n_isochrone"))
    degStats.crossJoin(sssp)
  }

  /** Lab-4 per-document polarity: mean lexicon score over tokens (null when
    * no token hits the lexicon). Shared by the pipeline summary and the
    * prompt-report sink. */
  def reviewPolarity(spark: SparkSession, dir: String): DataFrame = {
    val lexicon = graft.sources.Lexicon.scoring(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(lexicon), Seq("tok"), "left")
      .groupBy("doc_id", "source")
      .agg(avg("score").as("polarity"))
  }

  /** Lab-4 per-source ranking frame (score = 0.7·polarity + 0.3·positive
    * rate), shared with the prompt-report sink. */
  def reviewSentimentRanked(spark: SparkSession, dir: String): DataFrame = {
    val perSource = reviewPolarity(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("polarity"), 6).as("avg_polarity"),
        round(avg(when(col("polarity") > 0.1, 1.0).otherwise(0.0)), 6).as("positive_rate"))
    perSource.withColumn("score",
      round(col("avg_polarity") * 0.7 + col("positive_rate") * 0.3, 6))
  }

  /** Lab 4 (实习四/…yelp_analysis.ipynb): corpus → sentiment → per-source
    * ranking → coverage/bias signals. Documents stand in for reviews,
    * sources for businesses. */
  def reviewSentiment(spark: SparkSession, dir: String): DataFrame = {
    val ranked = reviewSentimentRanked(spark, dir)
    // min_by on (-score, source) — NOT orderBy+first, which is only
    // coincidentally correct on a single partition; the agg must pick the
    // winner itself so multi-partition execution keeps the tie-break
    // (highest score, then lexicographically-smallest source).
    ranked.agg(count(lit(1)).as("n_sources"),
      expr("min_by(source, struct(-score, source))").as("top_source"),
      round(max("score"), 6).as("top_score"),
      round(avg("avg_polarity"), 6).as("corpus_polarity"))
  }
}
