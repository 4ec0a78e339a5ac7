package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced pass. Layers carry the repo's
  * module names; every workload reports every metric (0 where it does
  * not reach the layer). */
object Layers {
  val Modules: Seq[String] = Seq("Tables", "ops.RelationalOps",
    "ops.CleaningOps", "sources.Sources", "streaming.StreamingWindows",
    "ext.TextAnalysis", "ext.Dedup", "ext.Similarity", "ml.FeaturePipeline",
    "ml.Recsys", "ml.Classifiers")

  /** Public functions whose self time is reported on its own. */
  val Functions: Seq[String] =
    Seq("ratings", "documents", "embeddings").map("Tables." + _) ++
    Seq("shingles", "minhashBucketsRowLocal", "minhashCandidates",
      "jaccardPairs", "connectedComponents", "incrementalCandidates")
      .map("ext.Dedup." + _) ++
    Seq("fitAls", "recommendTopK", "fitAlsGrid").map("ml.Recsys." + _) ++
    Seq("logistic", "decisionTree", "randomForest", "fmClassification",
      "fmRegression").map("ml.Classifiers." + _)

  private val PerModule = Seq("self_s" -> "s", "tasks" -> "count",
    "exec_cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
    "fetch_wait_s" -> "s", "spill_mb" -> "MB")

  /** (name, unit) of every per-layer metric, in report order. */
  val all: Seq[(String, String)] =
    Modules.flatMap(m => PerModule.map { case (k, u) => s"$m.$k" -> u }) ++
      Functions.map(f => s"$f.self_s" -> "s") ++ Seq(
        "untraced.tasks" -> "count", "untraced.exec_cpu_s" -> "s",
        "driver.plan_s" -> "s", "driver.build_s" -> "s",
        "driver.build_jobs" -> "count", "driver.jobs" -> "count",
        "driver.stages" -> "count", "executor.tasks" -> "count",
        "executor.gc_s" -> "s", "executor.cpu_util" -> "ratio",
        "cache.residue" -> "count", "cache.residue_mb" -> "MB",
        "tracing.overhead_s" -> "s", "ext.Dedup.candidates" -> "count",
        "ext.Dedup.verified_pairs" -> "count",
        "ext.Dedup.candidate_precision" -> "ratio")

  def of(spans: Seq[Span], l: LayerListener, p: Pass, wallS: Double,
         cores: Int): Map[String, Double] = {
    val totals = l.modules.asScala.toMap
    val timed = totals - LayerListener.Check
    val listener = totals.toSeq.flatMap { case (m, t) => Seq(
      s"$m.tasks" -> t.tasks.sum.toDouble,
      s"$m.exec_cpu_s" -> t.cpuNs.sum / 1e9,
      s"$m.gc_s" -> t.gcMs.sum / 1e3,
      s"$m.shuffle_write_mb" -> t.shuffleWriteBytes.sum / 1e6,
      s"$m.fetch_wait_s" -> t.fetchWaitMs.sum / 1e3,
      s"$m.spill_mb" -> t.spillBytes.sum / 1e6) }
    val execCpuS = timed.values.map(_.cpuNs.sum).sum / 1e9
    val counts = p.counts.asScala.toMap
    val cand = counts.getOrElse("ext.Dedup.candidates", 0.0)
    // function spans first: a module-wide span (fn "") shares its name
    // with the module, whose figure must win
    Intervals.selfByName(spans.filter(_.fn.nonEmpty))
      .map { case (n, s) => s"$n.self_s" -> s } ++
      Intervals.selfByModule(spans).map { case (m, s) => s"$m.self_s" -> s } ++
      listener ++ counts ++ Map(
        "driver.plan_s" -> l.planNs.get / 1e9,
        "driver.build_s" -> p.buildS,
        "driver.build_jobs" -> l.buildJobs.get.toDouble,
        "driver.jobs" -> l.jobs.get.toDouble,
        "driver.stages" -> l.stages.get.toDouble,
        "executor.tasks" -> timed.values.map(_.tasks.sum).sum.toDouble,
        "executor.gc_s" -> timed.values.map(_.gcMs.sum).sum / 1e3,
        "executor.cpu_util" -> execCpuS / (wallS * cores),
        "ext.Dedup.candidate_precision" ->
          (if (cand > 0) counts("ext.Dedup.verified_pairs") / cand else 0.0))
  }
}
