package graft

import graft.streaming.StreamingWindows

/** Dev tool: run one of the streaming wrappers against a static fixture
  * dir and print the sink contents once the stream drains. Usage:
  * `runMain graft.StreamDemo <tumbling|userstats|sessionize|enrich> [sfDir]`. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = BenchSession.build(BenchSession.cpus)
    // nanosAsLong is set by Tables' footer probe iff the fixture needs it
    val q = mode match {
      case "tumbling"   => StreamingWindows.runTumblingStream(spark, sfDir, "demo")
      case "userstats"  => StreamingWindows.userStatsStream(spark, sfDir, "demo")
      case "sessionize" => StreamingWindows.sessionizeStream(spark, sfDir, "demo")
      case "enrich" =>
        import org.apache.spark.sql.functions._
        val dim = Tables.events(spark, sfDir).groupBy("user_id")
          .agg(count(lit(1)).as("hist_n"))
        StreamingWindows.enrichStream(spark, sfDir, dim, "demo")
      case other =>
        sys.error(s"unknown mode '$other' — expected one of: " +
          "tumbling, userstats, sessionize, enrich")
    }
    q.processAllAvailable()
    // let event-time timeouts / watermark-close no-data batches fire
    var prev = -1L
    var n = spark.table("demo").count()
    val deadline = System.currentTimeMillis() + 30000
    while ((n == 0 || n != prev) && System.currentTimeMillis() < deadline) {
      prev = n
      Thread.sleep(1000)
      q.processAllAvailable()
      n = spark.table("demo").count()
    }
    q.stop()
    println(s"[stream-demo] $mode emitted $n rows from $sfDir")
    spark.table("demo").show(10, truncate = false)
    spark.stop()
  }
}
