package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** State of one pass of a workload: runs its operations, counts the
  * attempted and failed ones, checks outputs against the stored
  * expectations, and keeps checks out of the timed wall and CPU time.
  *
  * @param expected this workload's section of the expectations file, or
  *                 None to record observations instead of checking them
  */
final class Pass(val spark: SparkSession, val dir: String,
                 val tracer: Tracer, val rng: scala.util.Random,
                 expected: Option[JsonNode]) {
  private val attemptedN = new AtomicInteger
  private val failures = new ConcurrentHashMap[String, String]()
  private val untimedNs, untimedCpuNs, buildNs = new AtomicLong
  private val startNs = System.nanoTime()
  private val startCpuNs = Pass.processCpuNs()
  /** Work counts a workload reports as per-layer metrics. */
  val counts = new ConcurrentHashMap[String, Double]()
  /** Observed values, kept when recording expectations. */
  val observed = new ConcurrentHashMap[String, Any]()

  def attempted: Int = attemptedN.get
  def failed: Map[String, String] = failures.asScala.toMap
  /** Driver time inside the layers' functions before their outputs are
    * forced (lazy plan building plus any eager work they do), summed over
    * concurrent calls. */
  def buildS: Double = buildNs.get / 1e9
  def untimedS: Double = untimedNs.get / 1e9

  private def phase(p: String): Unit =
    spark.sparkContext.setLocalProperty(LayerListener.PhaseKey, p)

  /** One operation: `build` calls the layer, `force` materializes what it
    * returned, both inside the layer's span. A throw fails the operation
    * (keyed `module.fn`) and yields None, so dependants skip. */
  def op[T, R](module: String, fn: String = "")(build: => T)(
      force: T => R): Option[R] = {
    attemptedN.incrementAndGet()
    try Some(tracer.span(module, fn) {
      phase("build")
      val t0 = System.nanoTime()
      val built = build
      buildNs.addAndGet(System.nanoTime() - t0)
      phase("force")
      force(built)
    })
    catch { case NonFatal(e) =>
      fail(Span(0, 0, module, fn, 0L, 0L).name, e.toString)
      None
    } finally phase(null)
  }

  /** A contract check of operation `key` that needs no stored value; a
    * false or throwing check fails that operation. Runs untimed. */
  def check(key: String, what: String)(cond: => Boolean): Unit = untimed {
    val ok = try cond catch { case NonFatal(e) => false }
    if (!ok) fail(key, what)
  }

  /** Operation `key`'s output value `name` (a count or a digest) must
    * equal the stored expectation. A missing expectation is a failure:
    * nothing is blessed by being observed. */
  def expect(key: String, name: String, value: Any): Unit = expected match {
    case None => observed.put(name, value)
    case Some(e) =>
      val want = name.split('/').foldLeft(e)(_.path(_))
      check(key, s"$name = $value, expected $want")(
        !want.isMissingNode && Pass.matches(want, value))
  }

  /** Operation `key`'s seeded output `name` must repeat exactly in every
    * pass of the run. */
  def stable(key: String, name: String, value: Any): Unit = {
    val first = Pass.firstSeen.putIfAbsent(name, value)
    check(key, s"$name = $value, first pass $first")(
      first == null || first == value)
  }

  private def fail(key: String, why: String): Unit = {
    System.err.println(s"[perfbench] FAILED $key: $why")
    failures.putIfAbsent(key, why)
  }

  /** Work excluded from the pass's wall and CPU time (checks, audits);
    * its Spark jobs are attributed to the "check" module. */
  def untimed[T](body: => T): T = {
    val sc = spark.sparkContext
    val module = sc.getLocalProperty(LayerListener.ModuleKey)
    sc.setLocalProperty(LayerListener.ModuleKey, LayerListener.Check)
    val t0 = System.nanoTime()
    val c0 = Pass.processCpuNs()
    try body
    finally {
      untimedNs.addAndGet(System.nanoTime() - t0)
      untimedCpuNs.addAndGet(Pass.processCpuNs() - c0)
      sc.setLocalProperty(LayerListener.ModuleKey, module)
    }
  }

  def wallS: Double =
    (System.nanoTime() - startNs - untimedNs.get) / 1e9
  def cpuS: Double =
    (Pass.processCpuNs() - startCpuNs - untimedCpuNs.get) / 1e9

  /** Independent groups of operations, in this pass's seeded order. */
  def inSeededOrder(groups: (() => Unit)*): Unit =
    rng.shuffle(groups.toVector).foreach(_())
}

object Pass {
  private val firstSeen = new ConcurrentHashMap[String, Any]()

  def matches(want: JsonNode, got: Any): Boolean = got match {
    case n: Int => want.canConvertToLong && want.asLong == n
    case n: Long => want.canConvertToLong && want.asLong == n
    case s: String => want.isTextual && want.asText == s
    case _ => false
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
}
