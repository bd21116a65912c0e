package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer counts of one op, keyed by metric name. Filled by the
  * listener thread, read by the client thread after the bus drained. */
final class Counters {
  private val values = mutable.LinkedHashMap[String, Double]()
  /** Task-active intervals, epoch ms. */
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(k: String, x: Double): Unit = synchronized {
    values(k) = values.getOrElse(k, 0.0) + x
  }
  def addInterval(s: Long, e: Long): Unit = synchronized { taskIntervals += ((s, e)) }
  def snapshot: Map[String, Double] = synchronized(values.toMap)
}

/** Spark listener and query-execution listener that attribute scheduler,
  * executor, shuffle, cache, source and planning counts to ops.
  *
  * Jobs, stages and tasks are attributed through the op's job group.
  * Block updates and query-execution events carry no job group; they are
  * attributed to the op running when they are delivered, which is exact
  * because the client is one thread and the bus is drained after each op
  * ([[org.apache.spark.perfbench.ListenerBus]]). */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var current: Counters = null
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageOwner = new ConcurrentHashMap[Int, Counters]()

  def register(group: String, c: Counters): Unit = groups.put(group, c)
  def unregister(group: String): Unit = groups.remove(group)

  private def ofGroup(props: java.util.Properties): Counters =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groups.get(g))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = ofGroup(e.properties)
    if (c != null) {
      c.add("sched.jobs", 1)
      if (Option(e.properties.getProperty(Phase.Key)).contains(Phase.Build))
        c.add("operators.build_jobs", 1)
      e.stageIds.foreach(stageOwner.put(_, c))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = stageOwner.get(e.stageInfo.stageId)
    if (c != null) c.add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageOwner.get(e.stageId)
    if (c == null) return
    c.add("sched.tasks", 1)
    c.addInterval(e.taskInfo.launchTime, e.taskInfo.finishTime)
    val m = e.taskMetrics
    if (m == null) return
    c.add("exec.run_s", m.executorRunTime / 1e3)
    c.add("exec.cpu_s", m.executorCpuTime / 1e9)
    c.add("exec.gc_s", m.jvmGCTime / 1e3)
    c.add("exec.deserialize_s", m.executorDeserializeTime / 1e3)
    c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    c.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    c.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    c.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    c.add("sources.read_bytes", m.inputMetrics.bytesRead.toDouble)
    c.add("sources.read_records", m.inputMetrics.recordsRead.toDouble)
    c.add("sources.write_bytes", m.outputMetrics.bytesWritten.toDouble)
    c.add("sources.write_records", m.outputMetrics.recordsWritten.toDouble)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val c = current
    val info = e.blockUpdatedInfo
    if (c != null && info.blockId.isRDD && info.storageLevel.isValid) {
      c.add("cache.blocks", 1)
      c.add("cache.bytes", (info.memSize + info.diskSize).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onExecution(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onExecution(qe, 0L)

  private def onExecution(qe: QueryExecution, durationNs: Long): Unit = {
    val c = current
    if (c == null) return
    c.add("plans.executions", 1)
    val phases = qe.tracker.phases
    for ((phase, metric) <- LayerListener.PlanPhases)
      c.add(metric, phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
    if (LayerListener.writes(qe.logical)) c.add("sources.write_s", durationNs / 1e9)
  }
}

object LayerListener {
  /** QueryPlanningTracker phase → metric. */
  val PlanPhases: Seq[(String, String)] = Seq(
    "analysis" -> "plans.analysis_s",
    "optimization" -> "plans.optimization_s",
    "planning" -> "plans.planning_s")

  def writes(plan: LogicalPlan): Boolean =
    plan.exists(_.isInstanceOf[DataWritingCommand])
}

object Trace {
  /** Every per-op count, with its unit, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s", "plans.executions" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.nonwork_s" -> "s",
    "exec.busy_s" -> "s", "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.deserialize_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "cache.blocks" -> "count", "cache.bytes" -> "bytes",
    "sources.read_bytes" -> "bytes", "sources.read_records" -> "count",
    "sources.write_bytes" -> "bytes", "sources.write_records" -> "count",
    "sources.write_s" -> "s")
}

/** The local property that tells the listener whether a job was launched
  * by the declaration call or by the action that consumes its output. */
object Phase {
  val Key = "perfbench.phase"
  val Build = "build"
  val Action = "action"
}

/** One traced interval. Times are nanoTime; `counts` holds the per-layer
  * counts measured inside it. */
final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long,
    counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()

  def open(name: String, parent: Option[Span]): Span = {
    val s = Span(spans.size, parent.fold(-1)(_.id), name, System.nanoTime(), -1L)
    spans += s
    s
  }
  def close(s: Span): Span = { s.end = System.nanoTime(); s }

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    Stats.uncovered((s.start, s.end), kids) / 1e9
  }
}
