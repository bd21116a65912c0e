package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.TierPick

/** What one measured body did, layer by layer: its wall seconds, its
  * `counts` under the per-layer metric names of perfbench's trace
  * (`BENCHMARK.json` `per_layer`, same meanings), and the
  * [[graft.operators.TierPick]]s its adaptive operators posted, in
  * posting order. A count the body never touched reads 0. */
final case class LayerRecord(wallSeconds: Double, counts: Map[String, Double],
    picks: Seq[TierPick]) {
  def apply(metric: String): Double = counts.getOrElse(metric, 0.0)

  /** One JSON object: `wall_s`, every metric in [[LayerRecord.Metrics]]
    * order (seconds to the ms, counts and bytes whole), `tier_picks`. */
  def json: String = {
    val metrics = LayerRecord.Metrics.map { case (k, unit) =>
      JsonOut.str(k) + ":" + (if (unit == "s") JsonOut.num(this(k), 3) else this(k).toLong.toString)
    }
    (s""""wall_s":${JsonOut.num(wallSeconds, 3)}""" +: metrics :+
      picks.map(LayerRecord.pickJson).mkString("\"tier_picks\":[", ",", "]"))
      .mkString("{", ",", "}")
  }
}

object LayerRecord {
  /** Every count, with its unit, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s", "plans.executions" -> "count",
    "codegen.compiles" -> "count",
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

  /** One tier pick as a JSON object. */
  def pickJson(p: TierPick): String = {
    def opt(v: Option[Any]): String = v.fold("null")(_.toString)
    s"""{"family": ${JsonOut.str(p.family)}, "tier": ${JsonOut.str(p.tier)}, """ +
      s""""estimate": ${opt(p.estimate)}, "rows": ${opt(p.rows)}, """ +
      s""""limit": ${p.limit}, "unit": ${JsonOut.str(p.unit)}, "pin": ${JsonOut.str(p.pin)}}"""
  }

  /** Total length of the union of [start, end] intervals. */
  private[graft] def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** The one per-query layer collector: a listener on the session's
  * scheduler events and query executions that [[measure]] reads.
  *
  * Jobs, stages and tasks are attributed to a body through the job
  * group `measure` sets. Block updates, query executions and tier
  * picks carry no job group; they are attributed to the body running
  * when they are delivered, which is exact for one client thread
  * because the bus is drained before a body starts and before its
  * record is read. `exec.busy_s` is the union of the body's task
  * intervals and `sched.nonwork_s` the rest of its wall time: driver
  * planning, job submission and stage-launch gaps. `codegen.compiles`
  * is the body's delta of Spark's generated-class compile count, a
  * JVM-wide counter, so it too is exact for one client thread.
  *
  * Installed by the mains that report it (Bench, Verify), never by
  * [[Sessions.build]]. */
final class LayerCollector private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  /** One body's counts, filled on the listener thread. */
  private final class Tally {
    private val counts = mutable.HashMap[String, Double]()
    private val intervals = mutable.ArrayBuffer[(Long, Long)]()
    private val picks = mutable.ArrayBuffer[TierPick]()

    def add(k: String, x: Double): Unit = synchronized { counts(k) = counts.getOrElse(k, 0.0) + x }
    def interval(s: Long, e: Long): Unit = synchronized { intervals += ((s, e)) }
    def pick(p: TierPick): Unit = synchronized { picks += p }

    def record(seconds: Double, wall0: Long, wall1: Long): LayerRecord = synchronized {
      val busyMs = LayerRecord.unionLength(intervals.toSeq.map { case (s, e) =>
        (math.max(s, wall0), math.min(e, wall1)) })
      add("exec.busy_s", busyMs / 1e3)
      add("sched.nonwork_s", (wall1 - wall0 - busyMs) / 1e3)
      LayerRecord(seconds, counts.toMap, picks.toSeq)
    }
  }

  @volatile private var current: Tally = null
  private val groups = new ConcurrentHashMap[String, Tally]()
  private val stageOwner = new ConcurrentHashMap[Int, Tally]()
  private val seq = new AtomicLong

  /** Run `body` and return its result (a failure if it threw) and its
    * record. Not reentrant: one measured body at a time. */
  def measure[T](name: String)(body: => T): (Try[T], LayerRecord) = {
    val sc = spark.sparkContext
    val group = s"graft-layer-${seq.incrementAndGet()}"
    val tally = new Tally
    ListenerBusDrain(sc) // what ran before is not this body's
    groups.put(group, tally)
    current = tally
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val compiles0 = LayerCollector.compiles
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Success(body) catch { case e: Throwable => Failure(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    tally.add("codegen.compiles", (LayerCollector.compiles - compiles0).toDouble)
    sc.clearJobGroup()
    ListenerBusDrain(sc)
    current = null
    groups.remove(group)
    stageOwner.values.removeIf(_ eq tally)
    (out, tally.record(seconds, wall0, wall1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groups.get(g))).orNull
    if (t != null) {
      t.add("sched.jobs", 1)
      e.stageIds.foreach(stageOwner.put(_, t))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = stageOwner.get(e.stageInfo.stageId)
    if (t != null) t.add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stageOwner.get(e.stageId)
    if (t == null) return
    t.add("sched.tasks", 1)
    t.interval(e.taskInfo.launchTime, e.taskInfo.finishTime)
    val m = e.taskMetrics
    if (m == null) return
    t.add("exec.run_s", m.executorRunTime / 1e3)
    t.add("exec.cpu_s", m.executorCpuTime / 1e9)
    t.add("exec.gc_s", m.jvmGCTime / 1e3)
    t.add("exec.deserialize_s", m.executorDeserializeTime / 1e3)
    t.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    t.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    t.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    t.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    t.add("sources.read_bytes", m.inputMetrics.bytesRead.toDouble)
    t.add("sources.read_records", m.inputMetrics.recordsRead.toDouble)
    t.add("sources.write_bytes", m.outputMetrics.bytesWritten.toDouble)
    t.add("sources.write_records", m.outputMetrics.recordsWritten.toDouble)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val t = current
    val info = e.blockUpdatedInfo
    if (t != null && info.blockId.isRDD && info.storageLevel.isValid) {
      t.add("cache.blocks", 1)
      t.add("cache.bytes", (info.memSize + info.diskSize).toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: TierPick => Option(current).foreach(_.pick(p))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onExecution(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onExecution(qe, 0L)

  private def onExecution(qe: QueryExecution, durationNs: Long): Unit = {
    val t = current
    if (t == null) return
    t.add("plans.executions", 1)
    val phases = qe.tracker.phases
    for ((phase, metric) <- LayerCollector.PlanPhases)
      t.add(metric, phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
    if (qe.logical.exists(_.isInstanceOf[DataWritingCommand]))
      t.add("sources.write_s", durationNs / 1e9)
  }
}

object LayerCollector {
  /** QueryPlanningTracker phase → metric. */
  private val PlanPhases: Seq[(String, String)] = Seq(
    "analysis" -> "plans.analysis_s",
    "optimization" -> "plans.optimization_s",
    "planning" -> "plans.planning_s")

  private val installed = mutable.HashMap[SparkSession, LayerCollector]()

  /** Generated classes compiled in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `spark`'s collector, installed on its first use. */
  def apply(spark: SparkSession): LayerCollector = synchronized {
    installed.getOrElseUpdate(spark, {
      val c = new LayerCollector(spark)
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      c
    })
  }
}
