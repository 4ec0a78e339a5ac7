package perfbench

import scala.jdk.CollectionConverters._
import graft.BenchSession

/** Prints the values a workload's output checks compare, observed in one
  * pass, as the JSON section of an expectations file:
  *
  *   Record --workload recsys --data <sf dir>
  *
  * Run it on a commit whose outputs are certified, never on the commit
  * under test (README.md, "Expectations"). */
object Record {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = Workload.all.find(w => m.get("--workload").contains(w.name))
      .getOrElse(throw new IllegalArgumentException("--workload"))
    val spark = BenchSession.build(
      Runtime.getRuntime.availableProcessors.toString)
    try {
      Main.warmUp(spark, m("--data"))
      val p = new Pass(spark, m("--data"), new Tracer(false),
        new scala.util.Random(0), None)
      workload.pass(p)
      require(p.failed.isEmpty, s"operations failed: ${p.failed}")
      val nested = p.observed.asScala.toSeq
        .map { case (k, v) => k.split("/", 2) match {
          case Array(a, b) => (a, Some(b), v)
          case Array(a) => (a, None, v)
        } }
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (k, vs) =>
          k -> (vs.head._2 match {
            case None => vs.head._3
            case Some(_) => vs.map(x => x._2.get -> x._3).sortBy(_._1)
          })
        }
      println(Json.obj(Seq(workload.name -> nested)))
    } finally spark.stop()
  }
}
