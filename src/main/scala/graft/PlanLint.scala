package graft

/** Dev diagnostic: print plan-quality findings for every registered
  * non-ML query at sf0.001 — which plans contain CartesianProduct,
  * BroadcastNestedLoopJoin, or a no-partition window. The enforced form
  * lives in PlanLintSpec. */
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

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = BenchSession.build(BenchSession.cpus)
    QueryRegistry.all.filterNot(_.name.startsWith("qml")).foreach { q =>
      try {
        val exec = q.fn(spark, sf).queryExecution.executedPlan
        val plan = exec.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin")
        val gw = emptyPartitionWindows(exec)
        if (cart || bnlj || gw.nonEmpty)
          println(s"[planlint] ${q.name} cartesian=$cart bnlj=$bnlj " +
            s"globalWindows=${gw.mkString(";")}")
      } catch {
        case e: Throwable =>
          println(s"[planlint] ${q.name} ERROR ${e.getClass.getSimpleName}")
      }
    }
    println("[planlint] done")
  }
}
