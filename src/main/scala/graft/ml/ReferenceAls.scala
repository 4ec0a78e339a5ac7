package graft.ml

import graft.{BenchSession, Json, Tables}
import scala.collection.immutable.ListMap

/** Opt-in main running the reference's ALS tuning loop at its VERBATIM
  * configuration (reference `PySpark Scripts/bgrfunctions.py:182-191`):
  * TrainValidationSplit over rank ∈ {20, 30} × regParam ∈ {0.1, 0.01},
  * maxIter = 20, trainRatio = 0.8, seeded, coldStartStrategy = drop.
  *
  * Deliberately NOT a registered query: the grid fits five ALS models at
  * maxIter 20 over the full ratings table — intrinsic ML cost that would
  * dominate the bench without exercising any new plan shape. The
  * registered qml58 keeps the same TVS harness at bounded parameters for
  * per-round regression signal; this main demonstrates the harness at
  * the reference's exact spec and prints one JSON line with the winning
  * params and held-out RMSE/R² (the sf0.01 result is recorded in
  * BASELINE.md).
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.ml.ReferenceAls"`
  */
object ReferenceAls {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = BenchSession.build(BenchSession.cpus)
    // No checkpoint-dir setup here: `fitAlsGrid` self-anchors a temp
    // checkpoint dir for deep fits (maxIter > 10 — mandatory, or the
    // factor lineage overflows the task-deserialization stack at scale)
    // and deletes it + restores the no-checkpoint-dir state afterwards.
    val r = Recsys.fitAlsGrid(Tables.ratings(spark, sfDir),
      "user_id", "item_id", "rating",
      ranks = Seq(20, 30), regParams = Seq(0.1, 0.01), maxIter = 20)
    println(Json.write(ListMap[String, Any]("best_rank" -> r.bestRank,
      "best_reg_param" -> r.bestRegParam,
      "rmse" -> Json.decimal(r.rmse, 4), "r2" -> Json.decimal(r.r2, 4),
      "grid" -> "rank{20,30} x reg{0.1,0.01}, maxIter=20, trainRatio=0.8",
      "sf" -> sfDir, "cpus" -> BenchSession.cpus.toInt)))
    spark.stop()
  }
}
