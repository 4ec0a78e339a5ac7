package graft.ml

import org.apache.spark.ml.classification.{DecisionTreeClassifier,
  FMClassifier, LogisticRegression, LogisticRegressionModel,
  RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator,
  Evaluator, MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.FMRegressor
import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.sql.DataFrame
import graft.ops.RelationalOps.withMaterialized

/** The reference's five model pipelines behind one held-out harness
  * ([[heldOut]]) and one TrainValidationSplit grid ([[tvsGrid]]) (SURVEY.md
  * §2.9 M9–M18, reference `bgrfunctions.py:204-366`). Differences from the
  * reference are deliberate fixes (SURVEY §2.11): splits are seeded,
  * classifier ROC is computed on real raw scores (the reference passed
  * hard 0/1 predictions → degenerate ROC ≈ 0.5), tree `minInfoGain` grids
  * are satisfiable (the reference's ≥20 rejected every split), and the
  * training frame is persisted before multi-pass fits. For
  * number-for-number replication of the reference's published metrics,
  * `strictParity = true` reproduces its quirks verbatim (ROC on hard
  * predictions + the unsatisfiable minInfoGain grid — SURVEY §7.3).
  */
object Classifiers {

  /** Per-model held-out verdict. The metric VALUES are fitted-model
    * outputs (not SQL-expressible — exact-metric coverage lives in the
    * ScalaTest suite); the COUNTS are relational and carry the oracle
    * checks: `nTrain + nTest` must equal the input row count (seeded
    * randomSplit is exhaustive and disjoint) and `nPred` must equal
    * `nTest` (transform is row-preserving). */
  final case class EvalResult(model: String, metric1: String, value1: Double,
                              metric2: String, value2: Double,
                              nTrain: Long, nTest: Long, nPred: Long)

  /** The one held-out harness every model function runs through (the
    * reference pastes split → tune → evaluate into each of its pipelines,
    * SURVEY M14/M19): holds `df` through [[withMaterialized]] (a frame the
    * caller persisted is borrowed), splits it 80/20 with the fixed seed
    * 42, fits on the 80% and hands `score` the model, both splits and the
    * held-out predictions — cached, because each evaluator is its own
    * action and would otherwise re-run the transform lineage. Both caches
    * are released before it returns, also when `fit` or `score` throws. */
  private[ml] def heldOut[M <: Transformer, R](df: DataFrame)(
      fit: DataFrame => M)(
      score: (M, DataFrame, DataFrame, DataFrame) => R): R =
    withMaterialized(df) { persisted =>
      val Array(train, test) =
        persisted.randomSplit(Array(0.8, 0.2), seed = 42L)
      val model = fit(train)
      withMaterialized(model.transform(test))(score(model, train, test, _))
    }

  /** Four candidate fits in flight, for the classifier grids and the ALS
    * grid alike: they are independent jobs over the same cached training
    * split, so concurrent fits back-fill each other's straggler tails, and
    * results cannot depend on it — every fit is seeded and the metric
    * array is indexed by grid position, not completion order. */
  private val TvsParallelism = 4

  /** M14 — TrainValidationSplit over a param grid, the reference's tuning
    * harness everywhere (`bgrfunctions.py:186-193` etc.), trainRatio 0.8. */
  private[ml] def tvsGrid[M <: Model[M]](est: Estimator[M],
                                         grid: Array[ParamMap],
                                         evaluator: Evaluator,
                                         train: DataFrame): M = {
    val tvs = new TrainValidationSplit()
      .setEstimator(est).setEstimatorParamMaps(grid)
      .setEvaluator(evaluator).setTrainRatio(0.8).setSeed(42L)
      .setParallelism(TvsParallelism)
    tvs.fit(train).bestModel.asInstanceOf[M]
  }

  private[ml] def regression(metric: String, labelCol: String)
      : RegressionEvaluator =
    new RegressionEvaluator().setMetricName(metric).setLabelCol(labelCol)
      .setPredictionCol("prediction")

  /** Held-out (RMSE, R²) of a prediction frame, both from one metrics
    * pass (each `evaluate` would run its own). */
  private[ml] def rmseR2(pred: DataFrame, labelCol: String): (Double, Double) = {
    val m = regression("rmse", labelCol).getMetrics(pred)
    (m.rootMeanSquaredError, m.r2)
  }

  private def accuracy(labelCol: String): MulticlassClassificationEvaluator =
    new MulticlassClassificationEvaluator().setMetricName("accuracy")
      .setLabelCol(labelCol).setPredictionCol("prediction")

  /** S5 — model persistence roundtrip (reference saves every best model:
    * `bgrfunctions.py:228,262,298,328,360` `model.save(path)`). Fits a
    * LogisticRegression, persists via `MLWritable`
    * (`write.overwrite().save` — JSON metadata + parquet coefficients),
    * reloads, and returns (fitted, reloaded) for prediction-parity
    * checks. */
  def saveLoadRoundtrip(df: DataFrame, featuresCol: String,
                        labelCol: String, path: String)
      : (LogisticRegressionModel, LogisticRegressionModel) = {
    val lr = new LogisticRegression().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setMaxIter(10).setRegParam(0.01)
    val model = lr.fit(df)
    model.write.overwrite().save(path)
    (model, LogisticRegressionModel.load(path))
  }

  /** M9 — FMRegressor (reference `bgrfunctions.py:204-236`; grid
    * stepSize×factorSize). */
  def fmRegression(df: DataFrame, featuresCol: String, labelCol: String,
                   maxIter: Int = 20): EvalResult = {
    val fm = new FMRegressor().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L).setMaxIter(maxIter)
    val grid = new ParamGridBuilder()
      .addGrid(fm.stepSize, Array(0.1, 0.01))
      .addGrid(fm.factorSize, Array(1, 2)).build()
    heldOut(df)(tvsGrid(fm, grid, regression("rmse", labelCol), _)) {
      (_, train, test, pred) =>
        val (rmse, r2) = rmseR2(pred, labelCol)
        EvalResult("fm_regressor", "rmse", rmse, "r2", r2,
          train.count(), test.count(), pred.count())
    }
  }

  /** A classifier through the harness: tuned and scored by held-out
    * accuracy, plus ROC-AUC. Default: real ROC from rawPrediction.
    * `strictParity` replicates the reference's rawPredictionCol="prediction"
    * quirk verbatim (`bgrfunctions.py:250`: ROC over hard 0/1 labels — a
    * two-point curve, ≈ 0.5 for any constant or near-constant predictor),
    * for number-for-number replication of its published metrics (SURVEY
    * §7.3). */
  private def classifier[M <: Model[M]](df: DataFrame, labelCol: String,
                                        name: String, strictParity: Boolean)(
      est: Estimator[M], grid: Array[ParamMap]): EvalResult =
    heldOut(df)(tvsGrid(est, grid, accuracy(labelCol), _)) {
      (_, train, test, pred) =>
        val roc = new BinaryClassificationEvaluator()
          .setMetricName("areaUnderROC").setLabelCol(labelCol)
          .setRawPredictionCol(
            if (strictParity) "prediction" else "rawPrediction")
        EvalResult(name, "accuracy", accuracy(labelCol).evaluate(pred),
          "roc_auc", roc.evaluate(pred),
          train.count(), test.count(), pred.count())
    }

  /** M10 — FMClassifier (reference `bgrfunctions.py:238-269`, grid over
    * stepSize). The grid is the single point {0.1}: each extra point is
    * another full iterative fit, and the reference's own runs took hours
    * per model. */
  def fmClassification(df: DataFrame, featuresCol: String, labelCol: String,
                       maxIter: Int = 20): EvalResult = {
    val fm = new FMClassifier().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L).setMaxIter(maxIter)
    classifier(df, labelCol, "fm_classifier", strictParity = false)(fm,
      new ParamGridBuilder().addGrid(fm.stepSize, Array(0.1)).build())
  }

  /** M11 — LogisticRegression (reference `bgrfunctions.py:271-303`; grid
    * regParam×maxIter). The default maxIter grid is the single point {50}
    * so the registered bench query stays bounded (2 fits, not 4, and none
    * at 100 iterations); pass `maxIters = Seq(50, 100)` for the
    * reference's full grid. */
  def logistic(df: DataFrame, featuresCol: String, labelCol: String,
               maxIters: Seq[Int] = Seq(50)): EvalResult = {
    val lr = new LogisticRegression().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol)
    classifier(df, labelCol, "logistic_regression", strictParity = false)(lr,
      new ParamGridBuilder()
        .addGrid(lr.regParam, Array(0.1, 0.01))
        .addGrid(lr.maxIter, maxIters.toArray).build())
  }

  /** M12 — DecisionTreeClassifier. The reference's grid
    * (minInfoGain∈{20,30}, `bgrfunctions.py:308-321`) is unsatisfiable —
    * binary-label impurity gain is ≤ 1 — producing depth-0 majority
    * trees (SURVEY §2.9 M12); the engine's default grid is satisfiable.
    * `strictParity = true` replicates the reference verbatim (SURVEY
    * §7.3): the degenerate grid AND its ROC-on-hard-predictions quirk,
    * reproducing its ≈0.5 ROC / majority-class-accuracy numbers. */
  def decisionTree(df: DataFrame, featuresCol: String, labelCol: String,
                   strictParity: Boolean = false): EvalResult = {
    val dt = new DecisionTreeClassifier().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L)
    val grid =
      if (strictParity) new ParamGridBuilder()
        .addGrid(dt.minInfoGain, Array(20.0, 30.0)).build()
      else new ParamGridBuilder()
        .addGrid(dt.maxDepth, Array(5, 10))
        .addGrid(dt.minInfoGain, Array(0.0, 0.01)).build()
    classifier(df, labelCol, "decision_tree", strictParity)(dt, grid)
  }

  /** M13 — RandomForestClassifier (reference `bgrfunctions.py:337-366`,
    * numTrees=30). */
  def randomForest(df: DataFrame, featuresCol: String, labelCol: String,
                   numTrees: Int = 30): EvalResult = {
    val rf = new RandomForestClassifier().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L).setNumTrees(numTrees)
    classifier(df, labelCol, "random_forest", strictParity = false)(rf,
      new ParamGridBuilder().addGrid(rf.maxDepth, Array(5, 10)).build())
  }
}
