package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.tuning.ParamGridBuilder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ALS collaborative filtering — the reference's flagship pipeline
  * (SURVEY.md §2.9 M7–M8, reference `PySpark Scripts/als.py` +
  * `bgrfunctions.py:179-201`). Parameters mirror the reference
  * (`coldStartStrategy='drop', maxIter, seed=1`; the partitioning
  * parameter `numBlocks` excepted — see [[als]]); unlike the reference,
  * every random split is seeded (its `randomSplit` was unseeded — SURVEY
  * §2.9 M19) and the training input is persisted before the iterative fit
  * so the lineage is not recomputed per iteration sweep — both through
  * [[Classifiers.heldOut]], the harness every model shares.
  */
object Recsys {

  final case class FitResult(model: ALSModel, rmse: Double, r2: Double)

  /** The one ALS construction site; blocks follow the session's core count
    * (BenchSession's shuffle-partition rule), not the `ml` API's fixed 10. */
  private def als(ratings: DataFrame, userCol: String, itemCol: String,
                  ratingCol: String, maxIter: Int, seed: Long): ALS =
    new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setColdStartStrategy("drop") // unseen users/items must not NaN the metric
      .setNumBlocks(ratings.sparkSession.sparkContext.defaultParallelism)
      .setMaxIter(maxIter).setSeed(seed)

  /** Train ALS with held-out metrics (reference `als_prediction`,
    * `bgrfunctions.py:179-201`, grid collapsed to one point for bench
    * sanity — the grid is [[fitAlsGrid]]). */
  def fitAls(ratings: DataFrame, userCol: String, itemCol: String,
             ratingCol: String, rank: Int = 8, regParam: Double = 0.1,
             maxIter: Int = 5, seed: Long = 1L): FitResult = {
    val est = als(ratings, userCol, itemCol, ratingCol, maxIter, seed)
      .setRank(rank).setRegParam(regParam)
    Classifiers.heldOut(ratings)(est.fit(_)) { (model, _, _, pred) =>
      val (rmse, r2) = Classifiers.rmseR2(pred, ratingCol)
      FitResult(model, rmse, r2)
    }
  }

  final case class GridResult(bestRank: Int, bestRegParam: Double,
                              rmse: Double, r2: Double)

  /** The reference's actual ALS tuning loop (`bgrfunctions.py:179-201`):
    * TrainValidationSplit over rank × regParam with trainRatio 0.8,
    * RMSE-selected, through the same held-out harness as [[fitAls]]. */
  def fitAlsGrid(ratings: DataFrame, userCol: String, itemCol: String,
                 ratingCol: String, ranks: Seq[Int], regParams: Seq[Double],
                 maxIter: Int = 5, seed: Long = 1L): GridResult = {
    val est = als(ratings, userCol, itemCol, ratingCol, maxIter, seed)
    val grid = new ParamGridBuilder()
      .addGrid(est.rank, ranks.toArray)
      .addGrid(est.regParam, regParams.toArray).build()
    // ALS truncates its factor lineage every checkpointInterval (10)
    // iterations only when the context has a checkpoint dir; without one a
    // deep fit at scale overflows the executor stack deserializing its
    // tasks. Anchor a temp dir unless the caller set one, then restore the
    // session-global no-dir state and delete the dir (its factor blocks
    // would otherwise pile up on a cluster's DFS).
    val sc = ratings.sparkSession.sparkContext
    val anchoredCp: Option[java.nio.file.Path] =
      if (sc.getCheckpointDir.isEmpty && maxIter > 10) {
        // pid in the prefix: the leak-check spec scans only THIS JVM's
        // dirs, so another graft process's anchor can't trip it
        val d = java.nio.file.Files.createTempDirectory(
          s"graft_als_cp_${ProcessHandle.current().pid()}_")
        sc.setCheckpointDir(d.toString)
        Some(d)
      } else None
    try Classifiers.heldOut(ratings)(Classifiers.tvsGrid(est, grid,
        Classifiers.regression("rmse", ratingCol), _)) {
      (best, _, _, pred) =>
        val (rmse, r2) = Classifiers.rmseR2(pred, ratingCol)
        GridResult(best.rank, best.parent.asInstanceOf[ALS].getRegParam,
          rmse, r2)
    } finally {
      // the metrics are plain scalars by now, so nothing can re-read the
      // checkpointed factor blocks: the dir is safe to delete
      anchoredCp.foreach { d =>
        sc.setCheckpointDir(null) // restore the no-checkpoint-dir state
        graft.Staging.deleteRecursively(d)
      }
    }
  }

  /** Top-k recommendations per user, exploded and rounded — the
    * reference's presentation shape (`als.py:44-50`: recommendForAllUsers
    * → explode → select rec.* → round). */
  def recommendTopK(model: ALSModel, k: Int): DataFrame =
    model.recommendForAllUsers(k)
      .select(col("user_id"), posexplode(col("recommendations"))
        .as(Seq("rank0", "rec")))
      .select(col("user_id"), (col("rank0") + 1).as("rank"),
        col("rec.item_id").as("item_id"),
        round(col("rec.rating"), 4).as("score"))
}
