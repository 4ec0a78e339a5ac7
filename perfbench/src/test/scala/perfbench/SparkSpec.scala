package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.BenchSession

/** The benchmark's own checks against a live local session. Run from the
  * perfbench directory (`sbt test`), which holds the fixture copy. */
class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = BenchSession.build("2")
  private val data = new File("data/sf0.01").getAbsolutePath
  private def expectations = new ObjectMapper()
    .readTree(new File("expected/sf0.01.json"))

  override def afterAll(): Unit = spark.stop()

  private def pass(expected: Option[com.fasterxml.jackson.databind.JsonNode],
                   tracer: Tracer = new Tracer(false)) =
    new Pass(spark, data, tracer, new scala.util.Random(1), expected)

  test("listener totals for a tiny job match its TaskMetrics") {
    val sc = spark.sparkContext
    val raw = ArrayBuffer.empty[(Long, Long, Long, Long)]
    val rawListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = raw.synchronized {
        val m = e.taskMetrics
        raw += ((m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    val l = new LayerListener
    sc.addSparkListener(rawListener)
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    val tracer = new Tracer(true, s =>
      sc.setLocalProperty(LayerListener.ModuleKey, s.map(_.module).orNull))
    try tracer.span("ops.RelationalOps", "tiny") {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .collect()
    } finally {
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(rawListener)
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
    val t = l.modules.get("ops.RelationalOps")
    assert(t != null && raw.nonEmpty)
    assert(t.tasks.sum == raw.size)
    assert(t.cpuNs.sum == raw.map(_._1).sum)
    assert(t.gcMs.sum == raw.map(_._2).sum)
    assert(t.shuffleWriteBytes.sum == raw.map(_._3).sum && t.shuffleWriteBytes.sum > 0)
    assert(t.spillBytes.sum == raw.map(_._4).sum)
    assert(l.jobs.get >= 1 && l.stages.get >= 2 && l.planNs.get > 0)
    assert(l.modules.keySet.size == 1) // nothing leaked to "untraced"
  }

  test("a planted wrong or missing expectation reads red") {
    val e = new ObjectMapper().readTree(
      """{"q": {"rows": 5, "digest": "ab"}, "n": 3}""")
    val p = pass(Some(e))
    p.expect("ok", "q/rows", 5L)
    p.expect("ok", "n", 3)
    assert(p.failed.isEmpty)
    p.expect("digest", "q/digest", "ac")
    p.expect("rows", "q/rows", 6L)
    p.expect("missing", "q/other", 1L)
    assert(p.failed.keySet == Set("digest", "rows", "missing"))
  }

  test("a dataprep pass is green on the stored expectations; a planted " +
      "wrong digest reads red") {
    val good = pass(Some(expectations.path("dataprep")))
    DataprepWorkload.pass(good)
    BenchSession.releaseCaches(spark)
    assert(good.failed.isEmpty, good.failed)

    val planted = expectations.path("dataprep").deepCopy[ObjectNode]()
    planted.path("q21_impute_mean").asInstanceOf[ObjectNode]
      .put("digest", "0")
    val bad = pass(Some(planted))
    DataprepWorkload.Queries.foreach { case (module, q) =>
      Registered.run(bad, module, q)
    }
    BenchSession.releaseCaches(spark)
    assert(bad.attempted == DataprepWorkload.Queries.size)
    assert(bad.failed.keySet == Set("ops.CleaningOps.q21_impute_mean"))
  }
}
