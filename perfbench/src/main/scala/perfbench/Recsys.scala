package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.ml.{Classifiers, FeaturePipeline, Recsys}
import graft.ops.RelationalOps

/** The paper's own pipeline: ratings → ALS fit + held-out RMSE/R² →
  * top-k with the item-name join → the ALS grid → feature pipeline →
  * four classifiers on a 4-wide pool → FM regression. The bodies of
  * qml50, qml58, qml51, qml53 and qml54, called through the same public
  * functions, with fewer iterations (below) so that a run fits the
  * benchmark's time budget. */
object RecsysWorkload extends Workload {
  val name = "recsys"

  // The queries' values in brackets. Fewer iterations and a smaller
  // sample shorten the pass; its character, many small jobs per fit, stays.
  val AlsIter = 2 // [5]
  val GridRegs = Seq(0.1) // [0.1, 0.01]
  val Sample = 10000 // [50000] labeled rows
  val LogisticIters = Seq(5) // [50]
  val Trees = 2 // [10]
  val FmIter = 2 // [10]

  def pass(p: Pass): Unit = {
    p.op("Tables", "ratings")(
      RelationalOps.materialized(Tables.ratings(p.spark, p.dir)))(identity)
      .foreach { ratings =>
        p.inSeededOrder(
          () => alsTopK(p, ratings),
          () => alsGrid(p, ratings),
          () => customerFeatures(p),
          () => classifiers(p))
        ratings.unpersist()
      }
  }

  private def alsTopK(p: Pass, ratings: DataFrame): Unit = {
    p.op("ml.Recsys", "fitAls")(Recsys.fitAls(ratings, "user_id",
        "item_id", "rating", rank = 8, regParam = 0.1, maxIter = AlsIter))(
        identity)
      .foreach { fit =>
        // the seeded split follows the input's partitioning (session conf,
        // core count), so the metrics are checked against a recomputation
        // on the driver from the same split and for repeating exactly
        val (rmse, r2) = p.untimed(heldOut(ratings, fit.model))
        p.check("ml.Recsys.fitAls", s"rmse ${fit.rmse} r2 ${fit.r2}, " +
            s"recomputed $rmse $r2")(
          Checks.near(fit.rmse, rmse) && Checks.near(fit.r2, r2))
        p.stable("ml.Recsys.fitAls", "als_rmse", fit.rmse)
        p.stable("ml.Recsys.fitAls", "als_r2", fit.r2)
        val names = Tables.part(p.spark, p.dir)
          .select(col("p_partkey").as("item_id"),
            col("p_name").as("item_name"))
        p.op("ml.Recsys", "recommendTopK")(Recsys.recommendTopK(fit.model, 5)
            .join(broadcast(names), Seq("item_id"), "left")
            .select("user_id", "rank", "item_id", "item_name", "score"))(
            _.collect())
          .foreach { rows =>
            val nUsers = p.untimed(
              ratings.select("user_id").distinct().count())
            p.check("ml.Recsys.recommendTopK", "top-k contract")(
              Checks.topKContract(rows.toSeq.map(r => (Checks.long(r, 0),
                Checks.long(r, 1).toInt, Option(r.getString(3)),
                r.getAs[Number](4).doubleValue)), 5) &&
                rows.map(Checks.long(_, 0)).distinct.length * 2 >= nUsers + 1)
          }
      }
  }

  private def alsGrid(p: Pass, ratings: DataFrame): Unit = {
    val ranks = Seq(8, 12)
    p.op("ml.Recsys", "fitAlsGrid") {
      val bounded = ratings.orderBy("user_id", "item_id").limit(100000)
        .persist(StorageLevel.MEMORY_AND_DISK)
      bounded.count()
      try Recsys.fitAlsGrid(bounded, "user_id", "item_id", "rating",
        ranks = ranks, regParams = GridRegs, maxIter = AlsIter)
      finally bounded.unpersist()
    }(identity).foreach { r =>
      p.check("ml.Recsys.fitAlsGrid", s"grid verdict $r")(
        ranks.contains(r.bestRank) && GridRegs.contains(r.bestRegParam) &&
          r.rmse >= 0 && r.r2 <= 1 + 1e-12)
      p.stable("ml.Recsys.fitAlsGrid", "grid", r.toString)
    }
  }

  /** RMSE and R² of `model` on fitAls's held-out split, recomputed on the
    * driver (fitAls borrows the caller's persisted frame, so the seeded
    * split here is the same one). */
  private def heldOut(ratings: DataFrame,
                      model: org.apache.spark.ml.recommendation.ALSModel)
      : (Double, Double) = {
    val Array(_, test) = ratings.randomSplit(Array(0.8, 0.2), seed = 42L)
    val yp = model.setColdStartStrategy("drop").transform(test)
      .select(col("rating").cast("double"), col("prediction").cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = yp.length
    val mean = yp.map(_._1).sum / n
    val ssRes = yp.map { case (y, f) => (y - f) * (y - f) }.sum
    val ssTot = yp.map { case (y, _) => (y - mean) * (y - mean) }.sum
    (math.sqrt(ssRes / n), 1 - ssRes / ssTot)
  }

  /** qml51: index + one-hot + assemble + min-max scale over customer. */
  private def customerFeatures(p: Pass): Unit = {
    import org.apache.spark.ml.functions.vector_to_array
    p.op("ml.FeaturePipeline", "customerFeatures") {
      val c = Tables.customer(p.spark, p.dir)
      val indexed = FeaturePipeline.indexAndOneHot(c, Seq("c_mktsegment"))
      FeaturePipeline.assembleAndScale(indexed, Seq("c_acctbal", "c_nationkey"))
        .select(col("c_custkey"),
          size(vector_to_array(col("c_mktsegment_vec"))).as("vec_size"),
          vector_to_array(col("scaled_features")).as("sf"))
    }(_.collect()).foreach { rows =>
      p.expect("ml.FeaturePipeline.customerFeatures", "customers",
        rows.length)
      p.expect("ml.FeaturePipeline.customerFeatures", "onehot_width",
        rows.map(_.getInt(1)).distinct.mkString(","))
      p.check("ml.FeaturePipeline.customerFeatures", "scaled into [0,1]")(
        rows.forall(_.getSeq[Double](2).forall(v => v >= 0 && v <= 1)))
    }
  }

  /** The labeled sample of qml53/qml54, then the four classifier
    * harnesses concurrently (qml53's pool) and FM regression. */
  private def classifiers(p: Pass): Unit = {
    p.op("ml.FeaturePipeline", "labeledSample")(labeled(p))(
        df => (df, df.count()))
      .foreach { case (df, n) =>
        p.expect("ml.FeaturePipeline.labeledSample", "labeled_rows", n)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        val results = try p.tracer.span("ml.Classifiers") {
          val parent = p.tracer.currentSpan
          val fits: Seq[(String, () => Classifiers.EvalResult)] = Seq(
            "logistic" -> (() =>
              Classifiers.logistic(df, "scaled_features", "buckets",
                maxIters = LogisticIters)),
            "decisionTree" -> (() =>
              Classifiers.decisionTree(df, "scaled_features", "buckets")),
            "randomForest" -> (() => Classifiers.randomForest(df,
              "scaled_features", "buckets", numTrees = Trees)),
            "fmClassification" -> (() => Classifiers.fmClassification(df,
              "scaled_features", "buckets", maxIter = FmIter)))
          fits.map { case (fn, fit) =>
            fn -> pool.submit(() => p.tracer.within(parent) {
              p.op("ml.Classifiers", fn)(fit())(identity)
            })
          }.map { case (fn, f) => fn -> f.get() }
        } finally pool.shutdown()
        results.foreach { case (fn, r) => r.foreach { e =>
          p.check(s"ml.Classifiers.$fn", s"verdict $e")(
            e.nTrain + e.nTest == n && e.nPred == e.nTest &&
              e.value1 >= 0 && e.value1 <= 1 && e.value2 >= 0 && e.value2 <= 1)
        } }
        p.op("ml.Classifiers", "fmRegression")(Classifiers.fmRegression(df,
            "scaled_features", "l_quantity", maxIter = FmIter))(identity)
          .foreach { e =>
            p.check("ml.Classifiers.fmRegression", s"verdict $e")(
              e.nTrain + e.nTest == n && e.nPred == e.nTest &&
                e.value1 >= 0 && e.value2 <= 1 + 1e-12)
          }
        df.unpersist()
      }
  }

  /** qml53's labeled frame: lineitem ⋈ part, quantity bucket as label, a
    * content-hash total order bounding the sample, features scaled. */
  private def labeled(p: Pass): DataFrame = {
    val li = Tables.lineitem(p.spark, p.dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
    val part = Tables.part(p.spark, p.dir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val df = li.join(part, li("l_partkey") === part("p_partkey"))
      .withColumn("buckets", when(col("l_quantity") < 25, 0.0).otherwise(1.0))
    val keyed = df.withColumn("uid",
      xxhash64(df.columns.map(col).toIndexedSeq: _*))
    FeaturePipeline.assembleAndScale(keyed.orderBy("uid").limit(Sample),
      Seq("l_extendedprice", "l_discount", "l_tax", "p_retailprice", "p_size"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }
}
