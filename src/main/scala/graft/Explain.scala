package graft

/** Dev tool: print the formatted physical plan of a registered query and
  * time its execution (same noop action as Bench). Usage:
  * `runMain graft.Explain <queryName> [sfDir] [--no-run]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    // flags may follow the query name directly (`Explain q01 --twice`)
    val positional = args.drop(1).filterNot(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = BenchSession.build(BenchSession.cpus)
    // AQE wraps the whole plan pre-execution, hiding codegen subtrees
    // from debugCodegen — disable it in --codegen mode only
    if (args.contains("--codegen"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (args.contains("--codegen")) {
      // dump whole-stage-codegen subtrees + generated Java — used to
      // confirm custom expressions stay inside codegen stages
      import org.apache.spark.sql.execution.debug._
      QueryRegistry.queries(name)(spark, sfDir).debugCodegen()
    } else if (args.contains("--twice")) {
      // same-session idempotency probe: build + collect the query twice
      // and compare results (catches temp-table / temp-path collisions)
      val r1 = QueryRegistry.queries(name)(spark, sfDir).collect().toSeq
      val r2 = QueryRegistry.queries(name)(spark, sfDir).collect().toSeq
      println(s"[explain] $name twice: equal=${r1 == r2} rows=${r1.size}")
    } else if (!args.contains("--no-run")) {
      // time the build TOO — ML harness queries evaluate eagerly inside
      // the query function (same span Bench measures)
      val t0 = System.nanoTime()
      val df = QueryRegistry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s on $sfDir")
      df.explain("formatted")
    } else {
      QueryRegistry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
