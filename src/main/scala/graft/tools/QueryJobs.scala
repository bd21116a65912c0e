package graft.tools

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Noise-free cost profile of registered queries: driver-scheduled
  * job count, stage count, task count, wall seconds AND the summed
  * executor run/CPU time per query (the SparkListener signal the
  * measurement discipline prefers over raw wall clock on this
  * ambient-noisy VM). executor_run_ms vs wall is the floor evidence:
  * when Σ executor task time is a small fraction of wall × 1 core,
  * the row's cost is per-job scheduling/compile latency, not work.
  *
  * r17 per-stage critical-path attribution: for every stage the
  * listener records [submit, complete] and [first task launch, last
  * task finish]; the rep then reports the UNION of the task-active
  * intervals (busy_union_ms — wall time during which at least one
  * task of this query was running) and the union of the stage
  * intervals (stage_union_ms). (wall − busy_union) / wall is the
  * measured NON-WORK share — driver planning, job submission and
  * stage-launch gaps — per stage and on the clock, not inferred
  * from Σrun vs wall. This is the r16-verdict item-3(a) artifact.
  *
  * Reps are WARMED: each query runs once untimed before rep 1 (set
  * GRAFT_JOBS_WARM=0 to disable), so standing-state memos
  * (dedup_clusters_inc) and codegen compile outside the timed reps
  * instead of contaminating rep 1.
  *
  * Usage: runMain graft.tools.QueryJobs [sfDir] [names-csv] [reps]
  * Env:   GRAFT_JOBS_VERBOSE=1   per-job lines
  *        GRAFT_JOBS_WARM=0      skip the untimed warm-up pass
  *        GRAFT_JOBS_OUT=path    write the machine-readable artifact
  *                               (jobs_rN.json schema: query →
  *                               {reps: [{wall_s, jobs, stages,
  *                               tasks, executor_run_ms,
  *                               executor_cpu_ms, gc_ms,
  *                               fetch_wait_ms, deserialize_ms,
  *                               busy_union_ms, stage_union_ms,
  *                               rows}]})
  */
object QueryJobs {

  /** Total length of the union of [start, end] intervals (ms). */
  private[tools] def unionMs(iv: Seq[(Long, Long)]): Long = {
    val sorted = iv.filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- sorted) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val warm = !sys.env.get("GRAFT_JOBS_WARM").contains("0")
    val spark = graft.Sessions.build(32, appName = "graft-queryjobs")

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val fetchMs = new java.util.concurrent.atomic.AtomicLong
    val deserMs = new java.util.concurrent.atomic.AtomicLong
    val verbose = sys.env.get("GRAFT_JOBS_VERBOSE").contains("1")
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // per-stage task envelope: stageId → (min launch, max finish), ms epoch
    val taskEnv = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    // completed-stage records for the current rep:
    // (submit, complete, firstLaunch, lastFinish)
    val stageRecs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        if (verbose) jobStarts.put(j.jobId,
          (System.nanoTime(), s"tasks=${j.stageInfos.map(_.numTasks).sum} " +
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (verbose) {
        Option(jobStarts.remove(j.jobId)).foreach { case (t0, desc) =>
          println(f"    job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s  $desc")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val ti = t.taskInfo
        if (ti != null) taskEnv.merge(t.stageId, (ti.launchTime, ti.finishTime),
          (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          fetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          deserMs.addAndGet(m.executorDeserializeTime)
        }
        val env = Option(taskEnv.remove(s.stageInfo.stageId))
        for (sub <- s.stageInfo.submissionTime; comp <- s.stageInfo.completionTime) {
          val (fl, lf) = env.getOrElse((sub, sub)) // 0-task stage: empty envelope
          stageRecs.add((sub, comp, fl, lf))
        }
      }
    })

    // listener events are posted asynchronously: drain the bus so the
    // job-end and trailing stage-completed events of the run just
    // timed have reached the listener before its counters are read
    def settle(): Unit = ListenerBusDrain(spark.sparkContext)

    val out = new scala.collection.mutable.LinkedHashMap[
      String, Vector[Map[String, Any]]]()
    for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      if (warm) { // memo/codegen warm-up, untimed and unrecorded
        spark.catalog.clearCache()
        q(spark, dir).count()
        settle()
      }
      for (r <- 1 to reps) {
        spark.catalog.clearCache()
        jobs.set(0); stages.set(0); tasks.set(0); runMs.set(0); cpuNs.set(0)
        gcMs.set(0); fetchMs.set(0); deserMs.set(0)
        stageRecs.clear(); taskEnv.clear()
        val t0 = System.nanoTime()
        val n = q(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        settle()
        val recs = {
          val it = stageRecs.iterator(); val b = Vector.newBuilder[(Long, Long, Long, Long)]
          while (it.hasNext) b += it.next(); b.result()
        }
        val busyUnion = unionMs(recs.map(x => (x._3, x._4)))
        val stageUnion = unionMs(recs.map(x => (x._1, x._2)))
        println(f"[query-jobs] $name rep$r: $dt%6.3f s  jobs=${jobs.get}%3d " +
          f"stages=${stages.get}%3d tasks=${tasks.get}%5d rows=$n " +
          f"run=${runMs.get}%5d ms cpu=${cpuNs.get / 1000000}%5d ms " +
          f"gc=${gcMs.get}%4d ms fetch=${fetchMs.get}%4d ms deser=${deserMs.get}%4d ms " +
          f"busy=$busyUnion%5d ms stagewall=$stageUnion%5d ms " +
          f"nonwork=${100.0 * (1.0 - busyUnion / (dt * 1000.0))}%5.1f%%")
        out.update(name, out.getOrElse(name, Vector.empty) :+ Map(
          "wall_s" -> BigDecimal(dt).setScale(3, BigDecimal.RoundingMode.HALF_UP),
          "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
          "executor_run_ms" -> runMs.get, "executor_cpu_ms" -> cpuNs.get / 1000000,
          "gc_ms" -> gcMs.get, "fetch_wait_ms" -> fetchMs.get,
          "deserialize_ms" -> deserMs.get,
          "busy_union_ms" -> busyUnion, "stage_union_ms" -> stageUnion,
          "rows" -> n))
      }
    }
    sys.env.get("GRAFT_JOBS_OUT").foreach { path =>
      def jv(v: Any): String = v match {
        case s: String => JsonOut.str(s)
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          .map { case (k, x) => JsonOut.str(k) + ":" + jv(x) }.mkString("{", ",", "}")
        case xs: Vector[_] => xs.map(jv).mkString("[", ",", "]")
        case other => other.toString
      }
      val body = out.map { case (k, v) => JsonOut.str(k) + ":" + jv(v) }
        .mkString("{\"sf_dir\":" + JsonOut.str(dir) + ",\"reps\":" + reps +
          ",\"warmed\":" + warm + ",\"queries\":{", ",", "}}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[query-jobs] wrote $path")
    }
    spark.stop()
  }
}
