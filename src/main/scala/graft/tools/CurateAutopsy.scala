package graft.tools

/** Per-stage wall-clock autopsy of the pipeline_curate funnel — the
  * r12 verdict item 5 instrument (pipeline_curate's bench row grew
  * 7.75 → 10.04 → 11.25 s across r10→r12; this names the stage
  * instead of guessing). Materializes each persisted stage boundary
  * in funnel order and times the INCREMENTAL cost: because upstream
  * boundaries are already cached when a stage is timed, each number
  * is that stage's own work, the same accounting a stage-checkpointed
  * 100 TB run would see. Run N passes (arg 2) in a quiet window and
  * read cross-pass minima, the SURVEY §6 convention for this VM.
  *
  * Usage: runMain graft.tools.CurateAutopsy [sfDir] [passes]
  */
object CurateAutopsy {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.build(cpus, appName = "graft-curate-autopsy")

    // codegen/JIT warm pass at the smallest SF (the Bench convention)
    graft.SparkEntry.curatedBuild(spark, "/root/testdata/sf0.001").packed.count()
    spark.catalog.clearCache()

    // CURATE_AUTOPSY_VERBOSE=1: per-job lines (id, wall, tasks, first
    // stage name) — names the jobs inside a slow segment
    if (sys.env.get("CURATE_AUTOPSY_VERBOSE").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (System.nanoTime(),
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(120),
            j.stageInfos.map(_.numTasks).sum))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(starts.remove(j.jobId)).foreach { case (t0, desc, nt) =>
            println(f"    job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s tasks=$nt%4d  $desc")
          }
      })
    }

    def time(label: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[autopsy] $label%-12s $dt%7.3f s  ($n%9d rows)")
      dt
    }

    (1 to passes).foreach { p =>
      println(s"[autopsy] pass $p/$passes")
      // the build runs jobs: the dedup pairs/components and, for
      // each stage boundary, the upstream shuffle stages its leaf's
      // RDD needs (CuratePipeline reads boundaries through leaves) —
      // charge them to their own segment; the rows below then time
      // the cache materialization and the stage's remaining work
      val t0 = System.nanoTime()
      val c = graft.SparkEntry.curatedBuild(spark, sfDir)
      println(f"[autopsy] ${"build"}%-12s ${(System.nanoTime() - t0) / 1e9}%7.3f s  (dedup + boundary materialization)")
      val stages = Seq[(String, () => Long)](
        "dedup" -> (() => c.deduped.count()),
        "quality" -> (() => c.quality.count()),
        "decon" -> (() => c.deconned.count()),
        "mixture" -> (() => c.mixed.count()),
        "epochs" -> (() => c.epochs.count()),
        "pack" -> (() => c.packed.count()),
        "report" -> (() => c.report.count()))
      val total = stages.map { case (l, f) => time(l)(f()) }.sum
      println(f"[autopsy] TOTAL        $total%7.3f s")
      c.release()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
