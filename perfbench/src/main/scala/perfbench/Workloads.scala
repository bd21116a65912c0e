package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.ReferenceDag

/** One op of a workload: a declaration call into graft, then an action
  * that consumes every output column. */
sealed trait Op { def name: String }

/** A declared query: `SparkEntry.queries(name)` builds the DataFrame (the
  * operators layer, which may itself run eager persist+count jobs) and
  * [[Digest.of]] consumes it. */
final case class Query(name: String) extends Op {
  def build(spark: SparkSession, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)
}

/** The paper's weekly DAG, `ReferenceDag.run`, landing five partitioned
  * parquet tables under a fresh directory. Its writes are its action; its
  * output is read back and digested after the timed interval. */
case object Dag extends Op {
  val name = "reference_dag"
  val AsOfBatch = "2000-01-01"
  val Tables: Seq[String] = Seq("publication_snapshot", "deleted_keys",
    "publication_by_year_and_category", "pair_counts", "volume_update")
  def run(spark: SparkSession, dir: String, outDir: String): Unit =
    ReferenceDag.run(spark, dir, outDir, AsOfBatch)
}

/** The benchmark's workloads. Each is a list of units; the ops of one unit
  * run back to back with no cache clear between them, and the cache is
  * cleared after every unit. The seed permutes the units of every pass,
  * so a unit's ops stay adjacent. README.md gives the reasons for each
  * workload and op. */
object Workloads {

  val names: Seq[String] = Seq("interactive_etl", "curation_heavy")

  def units(workload: String): Seq[Seq[Op]] = workload match {
    // Light ops: the reference's weekly DAG, which lands five parquet
    // tables (the only writes), a JSON build-and-parse round trip
    // (expression work), and the five short reference-derived queries
    // q1-q5, where per-query planning and scheduling, the job floor,
    // dominate. Nothing is cached.
    case "interactive_etl" =>
      Seq(Seq(Dag), Seq(Query("json_roundtrip"))) ++
        Seq("q1_agg", "q2_pair_counts", "q3_upsert_latest", "q4_delete_detect",
          "q5_volume_metrics").map(n => Seq(Query(n)))
    // Heavy ops: the curation pipeline and the n-gram Jaccard dedup join,
    // with many jobs per op, eager persist barriers, cache materialisation
    // and shuffle. `pipeline_report` reads the stage boundaries
    // `pipeline_curate` persisted, so the pair is one unit, as in
    // `graft.Bench`.
    case "curation_heavy" =>
      Seq(Seq(Query("pipeline_curate"), Query("pipeline_report")),
        Seq(Query("dedup_ngram_jaccard")))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The order of pass `pass` under `seed`. */
  def order(units: Seq[Seq[Op]], seed: Long, pass: Int): Seq[Seq[Op]] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(units)
}
