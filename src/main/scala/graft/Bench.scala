package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology: every query first runs once, untimed, at sf0.001 —
  * that compiles the generated code (Janino cache is keyed by source
  * text, which is identical across scale factors) and JIT-warms the
  * Catalyst/Tungsten paths, so the timed runs measure the engine, not
  * JVM warmup. Each query is then timed twice at the target SF and the
  * faster run is reported (min-of-2 suppresses ambient host-contention
  * spikes; this VM shows 3-4× wall-clock swings on identical code).
  *
  * PAIRED ROWS (r13 verdict item 3): pipeline_report is timed
  * immediately after pipeline_curate WITHOUT the cache clear between
  * them, so the family pays the funnel ONCE per rep and report
  * measures what it costs in real use — the aggregate pass over
  * curate's persisted stage boundaries. Every other query keeps the
  * full per-query isolation (clearCache after each), which outranks
  * flattering any single row; the pair is the one case where the
  * memo IS the operator's contract, so isolating the two rows from
  * each other measured a composition that cannot occur in use. A
  * SPARK_GRAFT_ONLY subset naming report without curate still runs
  * report standalone (full funnel) — the pairing is positional, not
  * a hidden dependency.
  *
  * Every timed run is measured by the session's [[LayerCollector]];
  * the artifact's `layers` object carries, per query, the
  * [[LayerRecord]] of the run whose time it reports.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.build(Sessions.envCpus, appName = "graft-bench")
    val layers = LayerCollector(spark)

    // optional comma-separated subset (iteration aid — targeted
    // quiet-window re-measurement; the driver always runs the full map)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // group the queries into RUN UNITS: singletons, except a paired
    // follower that runs inside its predecessor's unit (cache NOT
    // cleared between the members, cleared after the unit)
    val pairedAfter = Map("pipeline_report" -> "pipeline_curate")
    val units = queries.foldLeft(Vector.empty[Vector[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]]) {
      case (acc, q @ (name, _))
          if acc.nonEmpty && pairedAfter.get(name).contains(acc.last.last._1) =>
        acc.init :+ (acc.last :+ q)
      case (acc, q) => acc :+ Vector(q)
    }

    // untimed warmup at the smallest SF: codegen + JIT, not data —
    // in unit order so the paired memo path is the one compiled
    units.foreach { unit =>
      unit.foreach { case (name, fn) =>
        try fn(spark, warmDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
      }
      spark.catalog.clearCache()
    }

    /** The run's seconds (-1.0 if it failed) and its layer record. */
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        clear: Boolean): (Double, LayerRecord) = {
      val (out, record) = layers.measure(name)(fn(spark, sfDir).count())
      out.failed.foreach(e => System.err.println(s"[bench] $name failed: ${e.getMessage}"))
      // operators may materialize intermediates; drop them so later
      // queries aren't charged their memory — except INSIDE a paired
      // unit, where the follower's contract is exactly that reuse
      if (clear) spark.catalog.clearCache()
      // a failed query must not masquerade as a fast one
      (if (out.isSuccess) record.wallSeconds else -1.0, record)
    }

    def runUnit(unit: Vector[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): Vector[(Double, LayerRecord)] =
      unit.zipWithIndex.map { case ((name, fn), i) =>
        timeOne(name, fn, clear = i == unit.size - 1)
      }

    // host load at the timed phase's ends: a wall number is read
    // with the ambient context it was sampled under, and only the
    // bench process itself can observe it at the right moment
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Exception => -1.0 }
    val loadStart = loadAvg()
    val tEpoch = System.currentTimeMillis() / 1000

    val timed: Seq[(String, (Double, LayerRecord))] = units.flatMap { unit =>
      // min over the successful runs per member; -1.0 only when BOTH
      // runs failed. When any member's two runs disagree >3x, one hit
      // an ambient host-contention spike (this VM shows 10-20x
      // outliers on sub-second queries) — take one tie-breaking third
      // run of the whole unit (members are timed together, so the
      // unit is the re-run granularity).
      val r1 = runUnit(unit)
      val r2 = runUnit(unit)
      val disagree = unit.indices.exists { i =>
        val (a, b) = (r1(i)._1, r2(i)._1)
        a >= 0 && b >= 0 && math.max(a, b) / math.min(a, b) > 3.0
      }
      val r3 = if (disagree) Some(runUnit(unit)) else None
      unit.indices.map { i =>
        val runs = Seq(r1(i), r2(i)) ++ r3.map(_(i))
        val ok = runs.filter(_._1 >= 0)
        unit(i)._1 -> (if (ok.isEmpty) (-1.0, runs.head._2) else ok.minBy(_._1))
      }
    }
    val results: Seq[(String, Double)] = timed.map { case (k, (v, _)) => k -> v }

    def jsonLine(entries: Seq[(String, Double)], extra: String): String = {
      val qs = entries.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // failures are flagged, never summed: a failed query must not
      // make the headline total smaller
      val failed = results.count(_._2 < 0)
      val total = results.map(_._2).filter(_ >= 0).sum
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,""" +
        s""""t_epoch":$tEpoch,"load_avg_start":$loadStart,"load_avg_end":${loadAvg()},""" +
        s"""$extra"queries":$qs,"sf":"$sfDir"}"""
    }
    // The driver tail-captures only the LAST 2000 bytes of stdout; a
    // full 100+-query map is ~3 KB and gets truncated mid-string
    // (BENCH_r05/r06 `parsed: null`). So stdout carries a COMPACT line
    // guaranteed to parse — every failed query, then the slowest
    // queries at ms precision until a ~1500-byte budget is spent —
    // while the complete full-precision map goes to the artifact file
    // (committed, and named in this line's `queries_full`).
    // 3dp-rounded doubles are PRINTED with an explicit bounded format
    // (rint(v*1000)/1000 can render a binary tail like
    // 0.30000000000000004, blowing the per-entry width estimate), and
    // the budget is spent on each entry's ACTUAL serialized length —
    // "key":value plus separator — so the line cannot creep past the
    // target no matter the value mix
    // BigDecimal, not f"%.3f": the f interpolator is default-locale
    // sensitive (a comma decimal separator would crash .toDouble and
    // kill the whole bench before any artifact is written)
    val ms = results.map { case (k, v) =>
      k -> (if (v < 0) v
            else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
              .toDouble) }
    val (fails, oks) = ms.partition(_._2 < 0)
    val compact = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def entryCost(k: String, v: Double) = k.length + v.toString.length + 4
    compact ++= fails
    var budget = 1500 - compact.map { case (k, v) => entryCost(k, v) }.sum
    oks.sortBy(-_._2).foreach { case (k, v) =>
      val cost = entryCost(k, v)
      if (budget >= cost) { compact += (k -> v); budget -= cost }
    }
    // ARTIFACT WRITE-PROTECTION (r13 verdict item 2, twice-hit failure
    // mode): bench_full.json is the committed artifact of record — a
    // run in an arbitrary (possibly contended) window must not clobber
    // it. A SPARK_GRAFT_ONLY subset run goes to bench_subset.json;
    // a full run writes bench_full.json only when the file is absent
    // or SPARK_GRAFT_BENCH_FORCE=1 (the deliberate refresh), and
    // otherwise lands in bench_full.latest.json (gitignored) — so a
    // driver-initiated run always leaves git status clean.
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_subset.json"
      else if (force || !new java.io.File("bench_full.json").exists())
        "bench_full.json"
      else "bench_full.latest.json")
    println(jsonLine(compact.toSeq.sortBy(_._1),
      s""""n_queries":${results.size},"queries_full":"$outPath","queries_shown":${compact.size},"""))
    try {
      val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
      val layersJson = timed.map { case (k, (_, r)) => JsonOut.str(k) + ":" + r.json }
        .mkString("\"layers\":{", ",", "},")
      try w.println(jsonLine(results, layersJson)) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
