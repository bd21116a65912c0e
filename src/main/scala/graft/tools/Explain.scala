package graft.tools


import graft.SparkEntry

/** Plan/timing inspector: runs one named SparkEntry query, prints the
  * formatted physical plan and wall time. Usage:
  *   runMain graft.tools.Explain <queryName> [sfDir] [reps]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Sessions.build(graft.Sessions.envCpus, appName = "graft-explain")
    // the committed plan artifacts must be complete: lift the session
    // default 64 KB stringification cap (Sessions.scala, r20) here
    spark.conf.set("spark.sql.maxPlanStringLength", (1 << 28).toString)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
