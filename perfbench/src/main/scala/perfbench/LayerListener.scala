package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals of one module. */
final class ModuleTotals {
  val tasks, cpuNs, gcMs, shuffleWriteBytes, fetchWaitMs, spillBytes =
    new LongAdder
}

/** Aggregates Spark's own accounting per traced module. The tracer puts
  * the open span's module and the call phase (`build` while a function
  * returns, `force` while its output is materialized) into local
  * properties; jobs carry them, so every stage and task is attributed
  * to the module whose call launched it ("untraced" otherwise). */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val stageModule = new ConcurrentHashMap[Int, String]()
  val modules = new ConcurrentHashMap[String, ModuleTotals]()
  val jobs, buildJobs, stages = new AtomicLong
  /** Driver analysis + optimizer + physical planning, over every query
    * execution that finished. */
  val planNs = new AtomicLong

  def module(m: String): ModuleTotals =
    modules.computeIfAbsent(m, _ => new ModuleTotals)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (prop(e.properties, PhaseKey).contains("build"))
      buildJobs.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    stageModule.put(e.stageInfo.stageId,
      prop(e.properties, ModuleKey).getOrElse(Untraced))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val t = module(stageModule.getOrDefault(e.stageId, Untraced))
      t.tasks.increment()
      t.cpuNs.add(m.executorCpuTime)
      t.gcMs.add(m.jvmGCTime)
      t.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      t.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      t.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ms = qe.tracker.phases.collect {
      case (p, s) if PlanPhases(p) => s.durationMs
    }.sum
    planNs.addAndGet(ms * 1000000L)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object LayerListener {
  val ModuleKey = "perfbench.module"
  val PhaseKey = "perfbench.phase"
  val Untraced = "untraced"
  /** Module of the benchmark's own untimed output checks. */
  val Check = "check"
  private val PlanPhases = Set("analysis", "optimization", "planning")
}
