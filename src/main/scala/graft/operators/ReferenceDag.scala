package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's weekly Airflow DAG (/root/reference/main_dag.py:491-523,
  * `extract >> transform >> {load_q1 >> log, q2_count >> load_count}`)
  * as one composed Spark pipeline over the driver testdata's
  * publication-shaped tables (orders = publications, lineitem rows =
  * authorship edges, customers = researchers).
  *
  * Where the reference runs five row-wise pandas/Cassandra tasks with
  * driver loops, this is five declarative plans, each written as an
  * idempotent partitioned parquet sink — restartable and parallel at
  * any scale, no task-to-task CSV handoff. All five scan `orders`
  * (the deleted keys also scan `customer`, the pair counts
  * `lineitem`), and three of them (snapshot, Q1 table, volume row)
  * compute the upsert window. [[run]] lands the five tables two at a
  * time, as Airflow runs the reference's two load branches.
  */
object ReferenceDag {

  case class Outputs(
      snapshot: DataFrame,      // merged unique snapshot  (save_to_csv)
      deleted: DataFrame,       // to-be-deleted keys      (is_seen == False)
      q1Table: DataFrame,       // publication_by_year_and_category
      pairCounts: DataFrame,    // publication_count_unique_author_pair
      volumeMetrics: DataFrame) // volume_update log row

  /** Build every table of the reference pipeline. `asOfBatch` splits
    * history into base snapshot vs "this run's batch" the way the
    * reference splits existing CSV vs newly-fetched XML. */
  def build(spark: SparkSession, dir: String, asOfBatch: String): Outputs = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val cut = to_timestamp(lit(asOfBatch))

    val base = orders.filter(col("o_orderdate") < cut)
    val batch = orders.filter(col("o_orderdate") >= cut)

    // transform + merge (main_dag.py:242-262): keep latest per key
    val snapshot = Pipeline.upsertLatest(base, batch,
      Seq("o_orderkey"), Seq(col("o_orderdate"), col("o_custkey")))

    // delete detection (main_dag.py:251-254): customers unseen in batch
    val deleted = Pipeline.deletedKeys(
      Tables.customer(spark, dir), batch.select("o_custkey"),
      "c_custkey", "o_custkey")

    // Q1 table (main_dag.py:293-301)
    val q1 = Pipeline.countByYearCategory(snapshot, "o_orderdate", "o_orderpriority")

    // Q2 pair counts (main_dag.py:265-290)
    val pairs = Pipeline.pairCounts(lineitem, "l_orderkey", "l_suppkey",
      orders.select(col("o_orderkey"), year(col("o_orderdate")).as("year")),
      "o_orderkey")

    // volume_update (main_dag.py:480-488)
    val volume = Pipeline.volumeMetrics(snapshot,
      col("o_orderdate") >= cut, "o_custkey")

    Outputs(snapshot, deleted, q1, pairs, volume)
  }

  /** Run the DAG and land every output as an idempotent partitioned
    * parquet table (the reference's Cassandra loads, main_dag.py:313-396).
    *
    * The five writes are independent, so they run on [[WriterThreads]]
    * threads, submitted in the order below; every write is waited for,
    * then the first failure in that order is thrown with any later ones
    * added as suppressed. At sf0.01 each write runs a few jobs of about
    * one task, so one write at a time left most of a `local[4]` idle
    * while the driver planned and submitted the next. */
  def run(spark: SparkSession, dir: String, outDir: String, asOfBatch: String): Outputs = {
    val o = build(spark, dir, asOfBatch)
    land(Seq(
      () => Tables.writePartitioned(
        o.snapshot.withColumn("year", year(col("o_orderdate"))),
        s"$outDir/publication_snapshot", Seq("year")),
      () => Tables.writePartitioned(o.deleted, s"$outDir/deleted_keys", Nil),
      () => Tables.writePartitioned(o.q1Table, s"$outDir/publication_by_year_and_category", Seq("year")),
      () => Tables.writePartitioned(o.pairCounts, s"$outDir/pair_counts", Seq("year")),
      () => Tables.writePartitioned(o.volumeMetrics, s"$outDir/volume_update", Nil)))
    o
  }

  /** Writes in flight at once: the reference DAG's branch width.
    *
    * Measured with perfbench `interactive_etl` (`--seconds 15`) on a
    * 4-core host (loadavg 2.3–3.9, steal under 0.6%): five threads cut
    * `pass_s` about as much as two, but raised `peak_rss_mb` in every
    * run, to 1167–1364 MB against 1028–1139 MB one write at a time
    * (+12% to +29%); one GC-logged pair had 32 humongous-allocation
    * pauses against 14. With two threads the median peak rose 3.8%. */
  private val WriterThreads = 2

  /** Name prefix of the writer threads. */
  private[graft] val WriterName = "graft-dag-writer"

  /** Run `writes` on a pool of [[WriterThreads]] made for this call and
    * torn down, its threads joined, before it returns. */
  private def land(writes: Seq[() => Unit]): Unit = {
    // The threads are made here, per call, because they must start from
    // the calling thread: Spark's local properties (the job group) and
    // the active session are inheritable thread-locals, copied when a
    // thread starts, so these writers' jobs carry the caller's job
    // group, which LayerCollector.measure and perfbench's trace
    // attribute jobs by. A pool kept across calls would carry the job
    // group of the call that first started its threads.
    val threads = mutable.ArrayBuffer[Thread]()
    val pool = Executors.newFixedThreadPool(WriterThreads, (r: Runnable) =>
      threads.synchronized {
        val t = new Thread(r, s"$WriterName-${threads.size + 1}")
        t.setDaemon(true)
        threads += t
        t
      })
    try {
      val pending = writes.map(w => pool.submit(new Callable[Unit] { def call(): Unit = w() }))
      val failures = pending.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      threads.synchronized(threads.toList).foreach(_.join())
    }
  }
}
