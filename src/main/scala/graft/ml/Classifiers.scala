package graft.ml

import org.apache.spark.ml.classification.{DecisionTreeClassifier,
  FMClassifier, LogisticRegression, LogisticRegressionModel,
  RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator,
  MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.FMRegressor
import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.sql.DataFrame
import graft.ops.RelationalOps.withMaterialized

/** The reference's five model pipelines behind one TrainValidationSplit
  * grid harness (SURVEY.md §2.9 M9–M18, reference
  * `bgrfunctions.py:204-366`). Differences from the reference are
  * deliberate fixes (SURVEY §2.11): splits are seeded, classifier ROC is
  * computed on real raw scores (the reference passed hard 0/1 predictions
  * → degenerate ROC ≈ 0.5), tree `minInfoGain` grids are satisfiable (the
  * reference's ≥20 rejected every split), and the training frame is
  * persisted before multi-pass fits. For number-for-number replication of
  * the reference's published metrics, `strictParity = true` reproduces
  * its quirks verbatim (ROC on hard predictions + the unsatisfiable
  * minInfoGain grid — SURVEY §7.3).
  */
object Classifiers {

  /** Per-model harness verdict. The metric VALUES are fitted-model
    * outputs (not SQL-expressible — exact-metric coverage lives in the
    * ScalaTest suite); the COUNTS are relational and carry the oracle
    * checks since r19: `nTrain + nTest` must equal the input row count
    * (seeded randomSplit is exhaustive and disjoint) and `nPred` must
    * equal `nTest` (transform is row-preserving). */
  final case class EvalResult(model: String, metric1: String, value1: Double,
                              metric2: String, value2: Double,
                              nTrain: Long = -1L, nTest: Long = -1L,
                              nPred: Long = -1L)

  /** M14 — TrainValidationSplit over a param grid, the reference's tuning
    * harness everywhere (`bgrfunctions.py:186-193` etc.), trainRatio 0.8.
    *
    * `parallelism = 4`: the grid's candidate fits are independent jobs
    * over the SAME cached training split, and Spark's scheduler runs
    * concurrent jobs fine — serial fits leave the cluster idle through
    * every fit's straggler tail (optimization guide §2.6, "overlap
    * independent jobs"; 2–4 in flight is the documented sweet spot).
    * Results are unchanged by construction: each candidate fit is seeded
    * and independent, the metric array is indexed by grid position, and
    * best-model selection reads that array — completion ORDER never
    * enters the selection. Verified by the unchanged exact-metric pins
    * in MlStreamSpec and the oracle rows.
    *
    * `parallelism` is a caller knob because the right value depends on
    * the estimator's OWN parallelism appetite: the classifier fits are
    * mostly driver-paced iteration over small cached partitions (4
    * concurrent fits measured 18.7s → 7.9s for qml53), while ALS fits
    * are themselves wide shuffle/cache-heavy jobs — 4 concurrent ALS
    * fits CONTEND (measured 10.4s → 18.1s for qml58) instead of
    * back-filling, so the ALS grid stays sequential. */
  def tvsGrid[M <: Model[M]](est: Estimator[M], grid: Array[ParamMap],
                             evaluator: org.apache.spark.ml.evaluation.Evaluator,
                             train: DataFrame,
                             parallelism: Int = 4): M = {
    val tvs = new TrainValidationSplit()
      .setEstimator(est).setEstimatorParamMaps(grid)
      .setEvaluator(evaluator).setTrainRatio(0.8).setSeed(42L)
      .setParallelism(parallelism)
    tvs.fit(train).bestModel.asInstanceOf[M]
  }

  private def split(df: DataFrame): (DataFrame, DataFrame) = {
    val Array(tr, te) = df.randomSplit(Array(0.8, 0.2), seed = 42L)
    (tr, te)
  }

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
    withMaterialized(df) { persisted =>
      val (tr, te) = split(persisted)
      val fm = new FMRegressor().setFeaturesCol(featuresCol)
        .setLabelCol(labelCol).setSeed(1L).setMaxIter(maxIter)
      val grid = new ParamGridBuilder()
        .addGrid(fm.stepSize, Array(0.1, 0.01))
        .addGrid(fm.factorSize, Array(1, 2)).build()
      val ev = new RegressionEvaluator().setMetricName("rmse")
        .setLabelCol(labelCol).setPredictionCol("prediction")
      val best = tvsGrid(fm, grid, ev, tr)
      withMaterialized(best.transform(te)) { pred =>
        val r2 = new RegressionEvaluator().setMetricName("r2")
          .setLabelCol(labelCol).setPredictionCol("prediction").evaluate(pred)
        EvalResult("fm_regressor", "rmse", ev.evaluate(pred), "r2", r2,
          tr.count(), te.count(), pred.count())
      }
    }
  }

  private def classifierMetrics(pred: DataFrame, labelCol: String,
                                name: String, strictParity: Boolean = false,
                                nTrain: Long = -1L, nTest: Long = -1L)
      : EvalResult = {
    // the evaluators each pass over `pred` — persist so the transform
    // (and its upstream split lineage) runs once
    withMaterialized(pred) { p =>
      val nPred = p.count()
      val acc = new MulticlassClassificationEvaluator()
        .setMetricName("accuracy").setLabelCol(labelCol)
        .setPredictionCol("prediction").evaluate(p)
      // Default: real ROC from rawPrediction. strictParity replicates the
      // reference's rawPredictionCol="prediction" quirk verbatim
      // (`bgrfunctions.py:250`: ROC over hard 0/1 labels — a two-point
      // curve, ≈ 0.5 for any constant or near-constant predictor), for
      // number-for-number replication of its published metrics (SURVEY §7.3).
      val roc = new BinaryClassificationEvaluator()
        .setMetricName("areaUnderROC").setLabelCol(labelCol)
        .setRawPredictionCol(if (strictParity) "prediction" else "rawPrediction")
        .evaluate(p)
      EvalResult(name, "accuracy", acc, "roc_auc", roc, nTrain, nTest, nPred)
    }
  }

  /** M10 — FMClassifier (reference `bgrfunctions.py:238-269`, grid over
    * stepSize). The default single-point grid keeps the registered bench
    * query's cost bounded (the TVS harness shape is unchanged — each
    * extra point is another full iterative fit, and the reference's own
    * runs took hours per model); pass `stepSizes = Seq(0.1, 0.01)` for
    * the reference's grid. */
  def fmClassification(df: DataFrame, featuresCol: String, labelCol: String,
                       maxIter: Int = 20,
                       stepSizes: Seq[Double] = Seq(0.1)): EvalResult = {
    val (tr, te) = split(df)
    val fm = new FMClassifier().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L).setMaxIter(maxIter)
    val grid = new ParamGridBuilder()
      .addGrid(fm.stepSize, stepSizes.toArray).build()
    val ev = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").setLabelCol(labelCol)
      .setPredictionCol("prediction")
    classifierMetrics(tvsGrid(fm, grid, ev, tr).transform(te), labelCol,
      "fm_classifier", nTrain = tr.count(), nTest = te.count())
  }

  /** M11 — LogisticRegression (reference `bgrfunctions.py:271-303`; grid
    * regParam×maxIter). The default maxIter grid is the single point {50}
    * so the registered bench query stays bounded (2 fits, not 4, and none
    * at 100 iterations); pass `maxIters = Seq(50, 100)` for the
    * reference's full grid. */
  def logistic(df: DataFrame, featuresCol: String, labelCol: String,
               maxIters: Seq[Int] = Seq(50)): EvalResult = {
    val (tr, te) = split(df)
    val lr = new LogisticRegression().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.1, 0.01))
      .addGrid(lr.maxIter, maxIters.toArray).build()
    val ev = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").setLabelCol(labelCol)
      .setPredictionCol("prediction")
    classifierMetrics(tvsGrid(lr, grid, ev, tr).transform(te), labelCol,
      "logistic_regression", nTrain = tr.count(), nTest = te.count())
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
    val (tr, te) = split(df)
    val dt = new DecisionTreeClassifier().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L)
    val grid =
      if (strictParity) new ParamGridBuilder()
        .addGrid(dt.minInfoGain, Array(20.0, 30.0)).build()
      else new ParamGridBuilder()
        .addGrid(dt.maxDepth, Array(5, 10))
        .addGrid(dt.minInfoGain, Array(0.0, 0.01)).build()
    val ev = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").setLabelCol(labelCol)
      .setPredictionCol("prediction")
    classifierMetrics(tvsGrid(dt, grid, ev, tr).transform(te), labelCol,
      "decision_tree", strictParity, nTrain = tr.count(), nTest = te.count())
  }

  /** M13 — RandomForestClassifier (reference `bgrfunctions.py:337-366`,
    * numTrees=30). */
  def randomForest(df: DataFrame, featuresCol: String, labelCol: String,
                   numTrees: Int = 30): EvalResult = {
    val (tr, te) = split(df)
    val rf = new RandomForestClassifier().setFeaturesCol(featuresCol)
      .setLabelCol(labelCol).setSeed(1L).setNumTrees(numTrees)
    val grid = new ParamGridBuilder()
      .addGrid(rf.maxDepth, Array(5, 10)).build()
    val ev = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").setLabelCol(labelCol)
      .setPredictionCol("prediction")
    classifierMetrics(tvsGrid(rf, grid, ev, tr).transform(te), labelCol,
      "random_forest", nTrain = tr.count(), nTest = te.count())
  }
}
