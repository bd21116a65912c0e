package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * tier_picks.json: per query, the [[graft.operators.TierPick]]
  * records its adaptive operators posted, in order, read from the
  * query's [[LayerRecord]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (iteration aid;
    // the driver always runs the full map)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.build(Sessions.envCpus, appName = "graft-verify")
    val layers = LayerCollector(spark)
    new java.io.File(outDir).mkdirs()
    val picks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val (out, record) = layers.measure(name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      out.failed.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      // operators may persist intermediates; don't let them accumulate
      spark.catalog.clearCache()
      s"${JsonOut.str(name)}: " + record.picks.map(LayerRecord.pickJson).mkString("[", ", ", "]")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), tools.OracleDump.json(None))
    Files.writeString(Paths.get(s"$outDir/tier_picks.json"),
      picks.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
