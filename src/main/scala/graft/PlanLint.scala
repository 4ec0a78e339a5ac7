package graft

/** Plan-quality detectors that PlanLintSpec enforces over the registry. */
object PlanLint {

  /** Window nodes whose partition spec is EMPTY — the single-task-window
    * scale-killer class: `Window.orderBy(...)` with no `partitionBy`
    * funnels every row of the input through ONE task (Spark even warns
    * "No Partition Defined for Window operation"). At 100 TB that task
    * is the whole job. Descends through AQE wrappers and subquery plans;
    * returns one entry per offending node. zipWithRank exists precisely
    * so no dictionary/rank path ever needs such a window — the registry
    * whitelist is therefore empty by construction. */
  def emptyPartitionWindows(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val here = plan.collect {
      case a: AdaptiveSparkPlanExec => emptyPartitionWindows(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(s"WindowExec[${w.windowExpression.map(_.name).mkString(",")}]")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq("WindowGroupLimitExec")
    }.flatten
    here ++ plan.subqueriesAll.flatMap(emptyPartitionWindows)
  }
}
