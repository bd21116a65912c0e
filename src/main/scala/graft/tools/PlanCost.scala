package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Driver PLANNING-cost audit (r20, guide §7.3): for every registered
  * query, time (a) the declaration build — which includes any eager
  * model/index jobs the trained-model-as-literals convention runs —
  * and (b) forcing `queryExecution.executedPlan` (analysis +
  * optimization + physical planning, no execution), and report the
  * physical-plan string length. It also times (c) the string a SQL
  * execution start puts on its listener event: `explainString` in
  * the session's `spark.sql.ui.explainMode`. Every AQE plan update
  * prints that plan again, and more once cached plans inside it have
  * run (each then prints its final and its initial plan), so (c) is
  * a lower bound per event. The sweep lifts
  * `spark.sql.maxPlanStringLength`, so the reported length is the
  * whole string; the cap only drops text after it is built, so the
  * timing is what an event pays either way. Rows whose explain text
  * passes 64 KB are listed as follow-up candidates.
  * This is the sweep that surfaced the text_script 2^7
  * expression-tree blowup (96% of the row was planning); run it at
  * sf0.001 so eager jobs are cheap — planning cost is structural, not
  * data-sized.
  *
  * Each row also carries the physical plan's red flags —
  * CartesianProduct, non-broadcast NestedLoop, codegen fallbacks —
  * and a marker for a global single-partition Sort/Window; every
  * flagged row is listed. Given a names list, the sweep covers only
  * those queries and prints each one's executed plan: after a query
  * goes green, read its plan and keep reading it.
  *
  * Usage: runMain graft.tools.PlanCost [sfDir] [topN] [names-csv]
  */
object PlanCost {
  private final case class Cost(name: String, buildS: Double,
      planS: Double, planChars: Int, explainS: Double, explainChars: Int,
      flags: Seq[String])

  private val redFlags = Seq(
    "CartesianProduct",
    "BroadcastNestedLoopJoin LeftOuter",
    "BroadcastNestedLoopJoin Inner, BuildLeft", // non-broadcast-side scans
    "codegen is disabled")

  /** The red flags and the global-sort marker a physical plan string shows. */
  private def flagsOf(plan: String): Seq[String] = {
    val globalSort = plan.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains("global=true") &&
        !l.contains("TakeOrdered"))
    redFlags.filter(plan.contains) ++ (if (globalSort) Seq("global sort") else Nil)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val topN = args.lift(1).map(_.toInt).getOrElse(25)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = graft.Sessions.build(graft.Sessions.envCpus, appName = "graft-plancost")
    spark.conf.set("spark.sql.maxPlanStringLength", (1 << 28).toString)
    val modeName = spark.conf.get("spark.sql.ui.explainMode")
    val mode = ExplainMode.fromString(modeName)
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    val rows = for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
                    if only.forall(_.contains(name))) yield {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = q(spark, dir)
      val tBuild = secs(t0)
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      val plan = qe.executedPlan.toString
      val tPlan = secs(t1)
      val t2 = System.nanoTime()
      val explain = qe.explainString(mode)
      val tExplain = secs(t2)
      if (only.isDefined) { println(s"===== $name"); println(plan) }
      Cost(name, tBuild, tPlan, plan.length, tExplain, explain.length, flagsOf(plan))
    }
    def show(c: Cost): Unit = println(f"[plan-cost] ${c.name}%-28s " +
      f"${c.buildS}%8.3f ${c.planS}%8.3f ${c.planChars}%10d " +
      f"${c.explainS}%9.3f ${c.explainChars}%12d" +
      (if (c.flags.nonEmpty) s"  ⚠ ${c.flags.mkString(";")}" else ""))
    println(f"${"query"}%-40s ${"build_s"}%8s ${"plan_s"}%8s " +
      f"${"plan_chars"}%10s ${"explain_s"}%9s ${"explain_chars"}%12s" +
      s"  (explain mode: $modeName)")
    rows.sortBy(-_.planS).take(topN).foreach(show)
    println("[plan-cost] by explain string length:")
    rows.sortBy(-_.explainChars).take(10).foreach(show)
    println("[plan-cost] explain string above 64 KB (follow-up candidates):")
    rows.filter(_.explainChars > 64 * 1024).sortBy(-_.explainChars).foreach(show)
    println("[plan-cost] red flags:")
    rows.filter(_.flags.nonEmpty).foreach(show)
    spark.stop()
  }
}
