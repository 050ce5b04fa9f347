package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** spark.ml pipeline wrappers for the reference's model-fitting operators:
  * K-Means zoning (M3, 实习二/…ipynb:533-544), PCA coordinate rotation (M4,
  * :547-555), gradient-boosted regression (M12, :7252-8076 — LightGBM in the
  * reference; GBTRegressor here, capability-level parity per SURVEY §7.4).
  * All seeded — results are deterministic for a fixed input. */
object MlPipelines {

  /** K-Means over (x, y) point columns → input plus `zone` prediction. */
  def kmeansZones(points: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    val feat = points.withColumn("features", array_to_vector(array(col("x"), col("y"))))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("zone").fit(feat)
    model.transform(feat).drop("features")
  }

  /** PCA of an `array<float>` embedding column → pc1/pc2 doubles plus the
    * model's explained-variance vector (broadcast as literals). */
  def pcaProject(embeddings: DataFrame, embedCol: String, k: Int): (DataFrame, Seq[Double]) = {
    val feat = embeddings.withColumn("features", array_to_vector(col(embedCol)))
    val model = new PCA().setK(k).setInputCol("features").setOutputCol("pc").fit(feat)
    val projected = model.transform(feat).withColumn("pc_arr", vector_to_array(col("pc")))
      .withColumn("pc1", col("pc_arr").getItem(0))
      .withColumn("pc2", col("pc_arr").getItem(1))
      .drop("features", "pc", "pc_arr")
    (projected, model.explainedVariance.toArray.toSeq)
  }

  private def vector_to_array(c: org.apache.spark.sql.Column) =
    org.apache.spark.ml.functions.vector_to_array(c)

  /** Seeded GBT regression on a feature column list; returns the validation
    * frame with `prediction`. Train/valid separation is the caller's
    * deterministic hash split (SetQueries U3 semantics). */
  /** Like the original gbtFit but ALSO returns the training-row count the
    * fit already had to compute (round-14: m12/lab2 each re-counted the
    * train split with a second full filter+scan job just to report
    * n_train — the number was already in hand here). */
  def gbtFitCounted(train: DataFrame, valid: DataFrame, features: Seq[String],
      labelCol: String, maxIter: Int = 10, maxDepth: Int = 4, seed: Long = 42L)
      : (DataFrame, Long) = {
    val asm = new VectorAssembler().setInputCols(features.toArray).setOutputCol("features")
    val gbt = new GBTRegressor().setFeaturesCol("features").setLabelCol(labelCol)
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed).setStepSize(0.1)
    // Fixed-row fit budget (see gbtFitHpo): GBT's per-round cached state
    // scales the heap with the training rows while model quality saturates
    // ~10^6 rows; validation below still scores the full valid split.
    // Persisted BEFORE the sizing count — the count is a full pass over the
    // assembled frame, and unpersisted it would be paid twice (once here,
    // once by the fit's first iteration).
    val trainF = asm.transform(train).persist()
    val nTrain = trainF.count()
    val trainFit = capFitRows(trainF, nTrain, seed)
    val model =
      try gbt.fit(trainFit)
      finally { trainF.unpersist(); () }
    (model.transform(asm.transform(valid)).drop("features"), nTrain)
  }

  def gbtFit(train: DataFrame, valid: DataFrame, features: Seq[String], labelCol: String,
      maxIter: Int = 10, maxDepth: Int = 4, seed: Long = 42L): DataFrame =
    gbtFitCounted(train, valid, features, labelCol, maxIter, maxDepth, seed)._1

  /** The fixed 2M-row fit budget, with an audit line whenever it FIRES:
    * above the cap the sampled fit changes predictions/importances relative
    * to the uncapped form, which is safe only because no oracle/hash compare
    * runs above oracle scales (sf0.01/sf0.1, far below the cap) — the log
    * line makes a silent sample at an unexpected scale visible instead of
    * relying on that comment staying true. */
  private val FitCapRows = 2000000L
  private def capFitRows(trainF: DataFrame, nTrain: Long, seed: Long): DataFrame =
    if (nTrain <= FitCapRows) trainF
    else {
      System.err.println(
        s"[mlpipelines] GBT fit-row budget FIRING: sampling $FitCapRows of " +
          s"$nTrain training rows (predictions differ from an uncapped fit; " +
          "oracle-scale corpora never reach this branch)")
      trainF.sample(withReplacement = false, FitCapRows.toDouble / nTrain, seed)
    }

  /** GBT with the hyperparameter search SURVEY §7.3 promised (the
    * reference's Optuna loop, 实习二/…taxi_travel_time_prediction.ipynb:
    * 7252-7283): seeded ParamGridBuilder × TrainValidationSplit over
    * (maxDepth, stepSize), evaluated by RMSE. The grid runs short fits
    * (maxIter=5) on a seeded 20% sample capped at a fixed row budget — HPO
    * explores model SHAPE, which a sample exposes at a fraction of full-fit
    * cost and which saturates in rows — then ONE full-data fit
    * at the winning point. The assembled feature frame is cached across the
    * grid and the final fit (re-assembling per candidate was most of the
    * round-1 bench whale). Returns (valid predictions, bestDepth, bestStep,
    * per-feature importances aligned with `features` — the reference ranks
    * LightGBM importances at …ipynb:8105-8121, training-row count — already
    * computed for the fit budget, returned so callers need no second scan).
    */
  def gbtFitHpo(train: DataFrame, valid: DataFrame, features: Seq[String],
      labelCol: String, maxIter: Int = 10, seed: Long = 42L)
      : (DataFrame, Int, Double, Array[Double], Long) = {
    val (pred, best, importances, nTrain) =
      gbtSearch(train, valid, features, labelCol, maxIter, seed) { gbt =>
        new ParamGridBuilder()
          .addGrid(gbt.maxDepth, Array(3, 4))
          .addGrid(gbt.stepSize, Array(0.1, 0.3))
          .build()
      }
    (pred, best.getMaxDepth, best.getStepSize, importances, nTrain)
  }

  /** The search harness [[gbtFitHpo]] and [[gbtFitRandomSearch]] share:
    * TrainValidationSplit over `candidates(gbt)`, then ONE final fit at the
    * winner's maxDepth, stepSize, subsamplingRate and minInstancesPerNode (a
    * grid that leaves the last two at their defaults fits the same model as
    * setting only the first two). Returns (valid predictions, the winning
    * search model, the final model's per-feature importances, training-row
    * count). */
  private def gbtSearch(train: DataFrame, valid: DataFrame, features: Seq[String],
      labelCol: String, maxIter: Int, seed: Long)(candidates: GBTRegressor => Array[ParamMap])
      : (DataFrame, GBTRegressionModel, Array[Double], Long) = {
    val asm = new VectorAssembler().setInputCols(features.toArray).setOutputCol("features")
    val trainF = asm.transform(train).select(col("features"), col(labelCol)).persist()
    try {
      // Materialize the cache before the search: TrainValidationSplit
      // launches `parallelism` fits concurrently, and racing them into a
      // cold cache makes each compute (and block on) the assembly instead
      // of reading it.
      val nTrain = trainF.count()
      // HPO sample: 20% capped at a FIXED row budget. A bare fraction grows
      // linearly with data — at cluster scale the "cheap" search would
      // scan 20% of the corpus per candidate; model SHAPE saturates far
      // below the cap, so the budget, not the corpus, bounds search cost.
      val hpoCapRows = 200000L
      val hpoFraction = math.min(0.2, hpoCapRows.toDouble / math.max(1L, nTrain))
      val gbt = new GBTRegressor().setFeaturesCol("features").setLabelCol(labelCol)
        .setMaxIter(5).setSeed(seed)
      val tvs = new TrainValidationSplit()
        .setEstimator(gbt)
        .setEvaluator(new RegressionEvaluator().setLabelCol(labelCol).setMetricName("rmse"))
        .setEstimatorParamMaps(candidates(gbt))
        .setTrainRatio(0.75).setSeed(seed).setParallelism(4)
      val best = tvs.fit(trainF.sample(withReplacement = false, hpoFraction, seed))
        .bestModel.asInstanceOf[GBTRegressionModel]
      // The FINAL fit gets the same fixed-row-budget treatment as the
      // search (10x the budget — the winner deserves a deeper look, but
      // not a corpus-proportional one): MLlib's GBT caches its binned
      // training representation plus one persisted prediction/error RDD
      // per boosting round, so fitting the raw corpus scales the heap with
      // the data — the sf10 whale measured m12 at 61 GB live / 23 s GC
      // pauses / 26x per data decade fitting 42M rows whose model quality
      // saturates around 10^6. The validation TRANSFORM below still scores
      // the FULL validation split, so n_valid and the band booleans keep
      // their oracle meaning.
      val model = new GBTRegressor().setFeaturesCol("features").setLabelCol(labelCol)
        .setMaxIter(maxIter).setMaxDepth(best.getMaxDepth)
        .setStepSize(best.getStepSize).setSubsamplingRate(best.getSubsamplingRate)
        .setMinInstancesPerNode(best.getMinInstancesPerNode).setSeed(seed)
        .fit(capFitRows(trainF, nTrain, seed))
      (model.transform(asm.transform(valid)).drop("features"), best,
        model.featureImportances.toArray, nTrain)
    } finally { trainF.unpersist(); () }
  }

  /** Seeded RANDOM-SEARCH HPO — the reference's Optuna search semantics
    * (实习二/…taxi_travel_time_prediction.ipynb:7248:
    * `study.optimize(objective, n_trials=20)` over a mixed log-uniform /
    * categorical / integer space, VERDICT r11 item 8), substituted
    * deterministically: a 64-bit LCG drives every draw, so one seed fully
    * reproduces the search — trial list, winner, final model. The harness
    * is the SAME TrainValidationSplit + sampled-fit-budget machinery as
    * [[gbtFitHpo]]; only the candidate list changes, from a 2×2 grid to
    * `nTrials` random points over the GBT analogue of the reference's
    * space: maxDepth categorical {3,4,5,7} (ref max_depth), stepSize
    * log-uniform [0.01, 0.3] (ref learning_rate), subsamplingRate
    * categorical {0.4..1.0} (ref subsample), minInstancesPerNode integer
    * [1, 16] (ref min_child_samples, range scaled to GBT's shallow trees).
    *
    * Returns (valid predictions, trial params of the winner, per-feature
    * importances). */
  def gbtFitRandomSearch(train: DataFrame, valid: DataFrame, features: Seq[String],
      labelCol: String, nTrials: Int = 8, maxIter: Int = 10, seed: Long = 42L)
      : (DataFrame, Map[String, Double], Array[Double]) = {
    require(nTrials >= 1, s"nTrials must be >= 1, got $nTrials")
    // Knuth MMIX LCG; top 53 bits → uniform double in [0, 1).
    var lcg = seed
    def nextDouble(): Double = {
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      (lcg >>> 11).toDouble / (1L << 53).toDouble
    }
    def logUniform(lo: Double, hi: Double): Double =
      math.exp(math.log(lo) + nextDouble() * (math.log(hi) - math.log(lo)))
    def pick[A](xs: Seq[A]): A = xs((nextDouble() * xs.size).toInt.min(xs.size - 1))

    val (pred, best, importances, _) =
      gbtSearch(train, valid, features, labelCol, maxIter, seed) { gbt =>
        (0 until nTrials).map { _ =>
          // draw order is part of the seeded contract — keep it stable
          val depth = pick(Seq(3, 4, 5, 7))
          val step = logUniform(0.01, 0.3)
          val sub = pick(Seq(0.4, 0.5, 0.6, 0.7, 0.8, 1.0))
          val minInst = 1 + (nextDouble() * 16).toInt.min(15)
          new ParamMap()
            .put(gbt.maxDepth, depth)
            .put(gbt.stepSize, step)
            .put(gbt.subsamplingRate, sub)
            .put(gbt.minInstancesPerNode, minInst)
        }.toArray
      }
    val won = Map(
      "maxDepth" -> best.getMaxDepth.toDouble,
      "stepSize" -> best.getStepSize,
      "subsamplingRate" -> best.getSubsamplingRate,
      "minInstancesPerNode" -> best.getMinInstancesPerNode.toDouble)
    (pred, won, importances)
  }
}
