package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Benchmark main. One client thread runs a workload's ops back to back
  * (a closed loop) on `local[cpus]` for a fixed time, checks every op's
  * output against the expected digests, and prints one JSON result as the
  * last line of standard output.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --expected FILE --commit ID [--record FILE]
  *
  * `--data` holds the tables the ops read and `--work` is scratch space
  * for the run. With `--trace 1` the run reports per-layer counts instead
  * of the end-to-end metrics, and writes its spans to `--work`.
  * An op with no line in `--expected` counts as failed. `--record`
  * appends the digests the run observed to a file, in the format
  * `--expected` reads.
  */
object Main {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String,
      expected: String, record: Option[String],
      commit: String, cpus: Int)

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k"); k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val c = Conf(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      data = need("data"), work = need("work"),
      expected = need("expected"), record = m.get("record"),
      commit = need("commit"),
      cpus = Runtime.getRuntime.availableProcessors())
    require(Workloads.names.contains(c.workload), s"unknown workload ${c.workload}")
    require(c.seconds > 0, "--seconds must be positive")
    c
  }

  /** An op as it ran: wall seconds, its output digest (None for the DAG,
    * which is checked after the interval) or the error it threw, and in a
    * traced pass its per-layer counts. */
  final case class OpRun(name: String, seconds: Double,
      digest: Option[Digest.Value], error: Option[String], counts: Map[String, Double])

  final case class PassRun(seconds: Double, traced: Boolean, ops: Seq[OpRun])

  /** Untimed passes in set-up. */
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val loadStart = loadAvg()
    val cpuStart = cpuTimes()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val units = Workloads.units(conf.workload)
    val tracer = new Tracer
    val runSpan = if (conf.trace) Some(tracer.open("run", None)) else None

    // Set-up, from JVM start to the first timed op: the session build and
    // untimed passes, which compile the generated code and warm the JIT.
    // The first pass is several times slower than later ones and the
    // second still 20-40% slower than the last, so both belong to set-up,
    // not to the measurement.
    val setupSpan = runSpan.map(p => tracer.open("setup", Some(p)))
    val sessSpan = setupSpan.map(p => tracer.open("setup.session", Some(p)))
    val s0 = System.currentTimeMillis()
    val spark = Sessions.build(conf.cpus, appName = "perfbench")
    val runner = new Runner(spark, conf, tracer)
    val s1 = System.currentTimeMillis()
    sessSpan.foreach(tracer.close)
    val warmSpan = setupSpan.map(p => tracer.open("setup.warm", Some(p)))
    for (i <- -WarmPasses to -1)
      runner.pass(units, conf.data, i, traced = false, None).ops.flatMap(_.error)
        .foreach(e => System.err.println(s"[perfbench] warm-up op failed: $e"))
    val s2 = System.currentTimeMillis()
    warmSpan.foreach(tracer.close)
    setupSpan.foreach(tracer.close)
    val setup = ((s2 - jvmStartMs) / 1e3, (s1 - s0) / 1e3, (s2 - s1) / 1e3) // total, session, warm

    // The timed interval: whole passes while time remains, and at least
    // three, so that the median pass rejects one disturbed pass. A traced
    // run traces passes in the order untraced, traced, traced, untraced,
    // ... and runs at least four, so the tracing overhead is a same-JVM
    // comparison that the run's warm-up drift does not bias.
    val t0 = System.nanoTime()
    val deadline = t0 + (conf.seconds * 1e9).toLong
    val minPasses = if (conf.trace) 4 else 3
    val passes = mutable.ArrayBuffer[PassRun]()
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val i = passes.size
      passes += runner.pass(units, conf.data, i, traced = conf.trace && (i % 4 == 1 || i % 4 == 2), runSpan)
    }
    val measured = (System.nanoTime() - t0) / 1e9

    // reference_dag's outputs are read back after the interval: the
    // landed tables of all its ops together must digest to n times the
    // expected digest of one op's tables.
    val landed = runner.readBackDag()
    runSpan.foreach(tracer.close)

    val expected = readExpected(conf.expected)
    val allOps = passes.flatMap(_.ops)
    def mismatch(key: String, got: Digest.Value, times: Long = 1): Boolean =
      expected.get(s"${conf.workload} $key") match {
        case Some(e) => e.rows * times != got.rows ||
          e.sum.multiply(java.math.BigDecimal.valueOf(times)).compareTo(got.sum) != 0
        case None => true // an op with no expected digest is unchecked, so it fails
      }
    val badOps = allOps.filter(o => o.error.isDefined || o.digest.exists(d => mismatch(o.name, d)))
    val dagRuns = allOps.count(o => o.name == Dag.name && o.error.isEmpty).toLong
    val landedBad = landed.exists { case (t, d) => mismatch(s"${Dag.name}/$t", d, dagRuns) }
    // a bad read-back fails every DAG op whose output it covered
    val failed = badOps.size + (if (landedBad) dagRuns.toInt else 0)
    badOps.take(5).foreach(o => System.err.println(s"[perfbench] op ${o.name} failed: ${o.error.getOrElse(s"digest ${o.digest.get}")}"))
    if (landedBad) System.err.println(s"[perfbench] reference_dag read-back mismatch: $landed")

    conf.record.foreach { path =>
      val lines = allOps.filter(_.error.isEmpty).flatMap(o => o.digest.map(d => s"${conf.workload} ${o.name} $d")).distinct ++
        landed.map { case (t, d) =>
          s"${conf.workload} ${Dag.name}/$t ${Digest.Value(d.rows / dagRuns, d.sum.divide(java.math.BigDecimal.valueOf(dagRuns)))}" }
      val w = new java.io.PrintWriter(new java.io.FileWriter(path, true))
      try lines.sorted.foreach(w.println) finally w.close()
    }

    val untracedPasses = passes.filterNot(_.traced)
    val opSeconds = untracedPasses.flatMap(_.ops.map(_.seconds)).toSeq
    val context = ListMap(
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "nproc" -> conf.cpus, "master" -> spark.sparkContext.master,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "cpu_steal_share" -> stealShare(cpuStart, cpuTimes()),
      "commit" -> conf.commit, "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "data_dir" -> conf.data,
      "measured_s" -> measured, "passes" -> passes.size,
      "pass_seconds" -> passes.map(_.seconds),
      "op_median_s" -> untracedPasses.flatMap(_.ops).groupBy(_.name).map { case (n, rs) =>
        n -> Stats.median(rs.map(_.seconds).toSeq) },
      "ops_attempted" -> allOps.size, "ops_failed" -> failed,
      "op_fail_ratio" -> failed.toDouble / allOps.size)
    println(json(Map("context" -> context)))

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) {
        // The tail is printed only where the sample supports it; too few
        // ops fit in one run of the heavier workloads for it to be a metric.
        val tail = Stats.tail(opSeconds).map { case (p, v, beyond) =>
          Map("percentile" -> p, "value_s" -> v, "beyond" -> beyond) }
        println(json(Map("op_tail" -> tail, "op_samples" -> opSeconds.size)))
        Seq(
          ("setup_s", setup._1, "s"),
          ("pass_s", Stats.median(untracedPasses.map(_.seconds).toSeq), "s"),
          ("op_p50_s", Stats.median(opSeconds), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else traceMetrics(conf, tracer, passes.toSeq, setup)

    spark.stop()
    println(json(Map(
      "correct" -> (failed == 0 && allOps.nonEmpty),
      "attempted" -> allOps.size,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** Per-layer metrics of a traced run: the median over traced passes of
    * each count summed over the pass, the set-up split, and the tracing
    * overhead. Also prints the per-op medians and span self times, and
    * writes every span to the work directory. */
  private def traceMetrics(conf: Conf, tracer: Tracer, passes: Seq[PassRun],
      setup: (Double, Double, Double)): Seq[(String, Double, String)] = {
    val traced = passes.filter(_.traced)
    val perPass = traced.map { p =>
      Trace.Metrics.map { case (k, _) => k -> p.ops.map(_.counts.getOrElse(k, 0.0)).sum }.toMap
    }
    val perOp = traced.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).map {
      case (name, runs) => name -> (Map("runs" -> runs.size.toDouble, "wall_s" -> Stats.median(runs.map(_.seconds))) ++
        Trace.Metrics.map { case (k, _) => k -> Stats.median(runs.map(_.counts.getOrElse(k, 0.0))) })
    }
    perOp.foreach { case (name, m) =>
      println(json(Map("op" -> name, "per_layer" -> m)))
    }
    val selfByName = tracer.spans.filter(_.end > 0).groupBy(_.name).map { case (n, ss) =>
      n -> Map("spans" -> ss.size, "self_s" -> ss.map(tracer.selfSeconds).sum, "total_s" -> ss.map(_.seconds).sum)
    }
    println(json(Map("span_self_time" -> selfByName)))
    val overhead = Stats.median(traced.map(_.seconds)) /
      Stats.median(passes.filterNot(_.traced).map(_.seconds))
    writeTrace(conf, tracer, perOp)
    Seq(("setup.session_s", setup._2, "s"), ("setup.warm_s", setup._3, "s")) ++
      Trace.Metrics.map { case (k, u) => (k, Stats.median(perPass.map(_(k))), u) } :+
      (("trace.overhead", overhead, "ratio"))
  }

  private def writeTrace(conf: Conf, tracer: Tracer, perOp: Seq[(String, Map[String, Double])]): Unit = {
    val base = tracer.spans.headOption.map(_.start).getOrElse(0L)
    val spans = tracer.spans.filter(_.end > 0).map { s =>
      mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.start - base) / 1e9, "seconds" -> s.seconds,
        "self_s" -> tracer.selfSeconds(s), "counts" -> s.counts)
    }
    val f = new File(conf.work, s"trace-${conf.workload}-${conf.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(json(Map("workload" -> conf.workload, "seed" -> conf.seed,
      "per_op" -> perOp.toMap, "spans" -> spans))) finally w.close()
    println(json(Map("trace_file" -> f.getPath)))
  }

  private def readExpected(path: String): Map[String, Digest.Value] =
    lines(path).iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(w, op, d) = l.split("\\s+"); s"$w $op" -> Digest.parse(d) }.toMap

  private def lines(path: String): Seq[String] =
    java.nio.file.Files.readAllLines(new File(path).toPath).asScala.toSeq

  private def loadAvg(): String =
    try lines("/proc/loadavg").head.trim
    catch { case NonFatal(_) => "unavailable" }

  /** The machine's CPU time counters (the `cpu` line of /proc/stat). */
  private def cpuTimes(): Seq[Long] =
    try lines("/proc/stat").head.split("\\s+").drop(1).map(_.toLong).toSeq
    catch { case NonFatal(_) => Nil }

  /** Share of the machine's CPU time between two readings that the
    * hypervisor gave to other guests (the steal counter, eighth on the
    * line). It does not see every kind of host contention. */
  private def stealShare(a: Seq[Long], b: Seq[Long]): Option[Double] =
    if (a.size < 8 || b.size < 8) None
    else {
      val total = b.zip(a).take(8).map { case (x, y) => x - y }.sum
      if (total <= 0) None else Some((b(7) - a(7)).toDouble / total)
    }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    lines("/proc/self/status")
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** One JSON line; the maps, sequences, options and numbers of the
    * result and trace lines render as json4s renders them. */
  def json(x: AnyRef): String = Serialization.write(x)(DefaultFormats)
}

/** Runs ops and passes on one session. */
final class Runner(spark: SparkSession, conf: Main.Conf, tracer: Tracer) {
  import Main.{OpRun, PassRun}

  private val sc = spark.sparkContext
  private val listener = new LayerListener
  private var installed = false
  private var seq = 0
  private val dagRoot = new File(conf.work, "dag")
  private val dagDirs = mutable.ArrayBuffer[String]()

  private def install(on: Boolean): Unit = if (on != installed) {
    if (on) { sc.addSparkListener(listener); spark.listenerManager.register(listener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(listener) }
    installed = on
  }

  /** One pass over the workload in the seed's order; pass numbers below 0
    * are the untimed set-up passes. */
  def pass(units: Seq[Seq[Op]], dir: String, i: Int, traced: Boolean, parent: Option[Span]): PassRun = {
    install(traced)
    val span = if (traced) Some(tracer.open("pass", parent)) else None
    val t0 = System.nanoTime()
    val ops = Workloads.order(units, conf.seed, i).flatMap { unit =>
      val runs = unit.map(op => runOp(op, dir, span, timed = i >= 0))
      spark.catalog.clearCache()
      runs
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    span.foreach { s =>
      tracer.close(s)
      Trace.Metrics.foreach { case (k, _) => s.counts(k) = ops.map(_.counts.getOrElse(k, 0.0)).sum }
    }
    PassRun(seconds, traced, ops)
  }

  private def runOp(op: Op, dir: String, parent: Option[Span], timed: Boolean): OpRun = {
    seq += 1
    val group = s"perfbench-op-$seq"
    val counters = new Counters
    if (installed) { listener.register(group, counters); listener.current = counters }
    sc.setJobGroup(group, op.name, interruptOnCancel = false)
    val opSpan = parent.map(p => tracer.open(s"op:${op.name}", Some(p)))
    def phase[T](name: String, key: String)(body: => T): T = {
      sc.setLocalProperty(Phase.Key, key)
      val s = opSpan.map(p => tracer.open(name, Some(p)))
      try body finally s.foreach(tracer.close)
    }
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val result: Either[String, Option[Digest.Value]] = try op match {
      case q: Query =>
        val df = phase("operators.build", Phase.Build)(q.build(spark, dir))
        t1 = System.nanoTime()
        Right(Some(phase("action", Phase.Action)(Digest.of(df))))
      case Dag =>
        val out = new File(dagRoot, s"$seq").getPath
        phase("action", Phase.Action)(Dag.run(spark, dir, out))
        if (timed) dagDirs += out
        Right(None)
    } catch { case NonFatal(e) => Left(e.toString) }
    val t2 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    sc.clearJobGroup()
    sc.setLocalProperty(Phase.Key, null)
    if (installed) {
      ListenerBus.drain(sc)
      listener.current = null
      listener.unregister(group)
      counters.add("operators.build_s", (t1 - t0) / 1e9)
      val busyMs = Stats.unionLength(counters.taskIntervals.toSeq.map { case (a, b) =>
        (math.max(a, wall0), math.min(b, wall1)) })
      counters.add("exec.busy_s", busyMs / 1e3)
      counters.add("sched.nonwork_s", ((wall1 - wall0) - busyMs) / 1e3)
    }
    opSpan.foreach { s =>
      tracer.close(s)
      counters.snapshot.foreach { case (k, v) => s.counts(k) = v }
    }
    OpRun(op.name, (t2 - t0) / 1e9, result.toOption.flatten,
      result.left.toOption, if (installed) counters.snapshot else Map.empty)
  }

  /** Digest of each landed reference_dag table over all timed ops. */
  def readBackDag(): Seq[(String, Digest.Value)] = {
    if (dagDirs.isEmpty) return Nil
    val out = Dag.Tables.map { t =>
      t -> Digest.of(dagDirs.map(d => spark.read.parquet(s"$d/$t")).reduce(_ unionByName _))
    }
    dagDirs.clear()
    out
  }
}
