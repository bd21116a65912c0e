package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}

import graft.operators.TierPick

/** Writes SparkEntry.oracleSql as oracle_sql.json to args(0) — no
  * Spark session, so oracle-SQL edits can be DuckDB-tested in seconds
  * without re-running the whole Verify dump. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    new java.io.File(args(0)).mkdirs()
    Files.writeString(Paths.get(s"${args(0)}/oracle_sql.json"),
      Verify.oracleJson)
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * tier_picks.json: per query, the [[graft.operators.TierPick]]
  * records its adaptive operators posted, in order. */
object Verify {
  /** A JSON string. The escape covers backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in the oracle SQL would
    * otherwise make a JSON reader reject the whole file. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** SparkEntry.oracleSql as a JSON object. */
  def oracleJson: String =
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** One tier record as a JSON object. */
  private def pickJson(p: TierPick): String = {
    def opt(v: Option[Any]): String = v.fold("null")(_.toString)
    s"""{"family": ${q(p.family)}, "tier": ${q(p.tier)}, """ +
      s""""estimate": ${opt(p.estimate)}, "rows": ${opt(p.rows)}, """ +
      s""""limit": ${p.limit}, "unit": ${q(p.unit)}, "pin": ${q(p.pin)}}"""
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (iteration aid;
    // the driver always runs the full map)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.build(cpus, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val posted = new java.util.concurrent.ConcurrentLinkedQueue[TierPick]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: TierPick => posted.add(p)
        case _ =>
      }
    })
    val picks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators may persist intermediates; don't let them accumulate
      spark.catalog.clearCache()
      ListenerBusDrain(spark.sparkContext)
      val mine = Iterator.continually(posted.poll()).takeWhile(_ != null).toSeq
      s"${q(name)}: " + mine.map(pickJson).mkString("[", ", ", "]")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Files.writeString(Paths.get(s"$outDir/tier_picks.json"),
      picks.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
