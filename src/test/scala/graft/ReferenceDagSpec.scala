package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.ReferenceDag
import graft.sources.Tables

class ReferenceDagSpec extends SparkSpec {
  import spark.implicits._

  test("full reference DAG lands all five output tables consistently") {
    val out = Files.createTempDirectory("graft_dag").toFile.getAbsolutePath
    val r = ReferenceDag.run(spark, sfDir, out, asOfBatch = "2000-01-01")

    // snapshot keeps every order exactly once (upsert by primary key)
    val nOrders = Tables.orders(spark, sfDir).count()
    assert(r.snapshot.count() === nOrders)
    assert(spark.read.parquet(s"$out/publication_snapshot").count() === nOrders)

    // q1 counts re-aggregate to the snapshot total
    val q1 = spark.read.parquet(s"$out/publication_by_year_and_category")
    assert(q1.agg(sum("n_pubs")).as[Long].head() === nOrders)

    // deleted = customers with no order in the batch window
    val expectDeleted = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01"))),
        col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(spark.read.parquet(s"$out/deleted_keys").count() === expectDeleted)

    // volume metrics row agrees with the snapshot
    val vol = spark.read.parquet(s"$out/volume_update").collect().head
    assert(vol.getAs[Long]("total_rows") === nOrders)

    // pair counts: symmetric-free and year-partitioned on disk
    assert(spark.read.parquet(s"$out/pair_counts")
      .filter(col("member_a") >= col("member_b")).count() === 0)
    assert(new java.io.File(s"$out/pair_counts").listFiles()
      .exists(_.getName.startsWith("year=")))
  }

  private val Landed = Seq("publication_snapshot", "deleted_keys",
    "publication_by_year_and_category", "pair_counts", "volume_update")

  /** Row count plus the decimal sum of each row's xxhash64 over all
    * its columns: perfbench's order-insensitive digest. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(col("*")).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def writerThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
    .filter(t => t.isAlive && t.getName.startsWith(ReferenceDag.WriterName)).toSet

  test("tables landed two at a time equal a one-at-a-time write of the same outputs") {
    val out = Files.createTempDirectory("graft_dag_par").toFile.getAbsolutePath
    val seq = Files.createTempDirectory("graft_dag_seq").toFile.getAbsolutePath
    ReferenceDag.run(spark, sfDir, out, asOfBatch = "2000-01-01")
    val o = ReferenceDag.build(spark, sfDir, "2000-01-01")
    Tables.writePartitioned(o.snapshot.withColumn("year", year(col("o_orderdate"))),
      s"$seq/publication_snapshot", Seq("year"))
    Tables.writePartitioned(o.deleted, s"$seq/deleted_keys", Nil)
    Tables.writePartitioned(o.q1Table, s"$seq/publication_by_year_and_category", Seq("year"))
    Tables.writePartitioned(o.pairCounts, s"$seq/pair_counts", Seq("year"))
    Tables.writePartitioned(o.volumeMetrics, s"$seq/volume_update", Nil)
    for (t <- Landed) {
      val landed = digest(spark.read.parquet(s"$out/$t"))
      assert(landed._1 > 0, t)
      assert(landed === digest(spark.read.parquet(s"$seq/$t")), t)
    }
  }

  test("every job of a measured run carries the measure's job group") {
    val out = Files.createTempDirectory("graft_dag_grp").toFile.getAbsolutePath
    // (submission time, job group) of every job start
    val starts = mutable.ArrayBuffer[(Long, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.synchronized {
        starts += e.time -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      }
    }
    @volatile var sawWriter = false
    val watcher = new Thread(() =>
      try while (!sawWriter) { sawWriter = writerThreads.nonEmpty; Thread.sleep(2) }
      catch { case _: InterruptedException => () })
    spark.sparkContext.addSparkListener(listener)
    try {
      var t0, t1 = 0L
      val (res, record) = LayerCollector(spark).measure("reference_dag") {
        t0 = System.currentTimeMillis()
        watcher.start()
        try ReferenceDag.run(spark, sfDir, out, asOfBatch = "2000-01-01")
        finally t1 = System.currentTimeMillis()
      }
      watcher.interrupt()
      watcher.join()
      assert(res.isSuccess)
      // measure drains the bus after the body, so every start of the
      // call's jobs has been seen; they are the ones submitted inside it
      val seen = starts.synchronized(starts.toList)
        .collect { case (t, g) if t >= t0 && t <= t1 => g }
      assert(seen.nonEmpty)
      assert(seen.forall(_.isDefined), s"ungrouped jobs: $seen")
      assert(seen.flatten.distinct.size === 1)
      assert(seen.flatten.head.startsWith("graft-layer-"))
      assert(record("sched.jobs") === seen.size.toDouble)
      assert(record("plans.executions") >= Landed.size.toDouble)
      assert(sawWriter, "no writer thread was alive during the run")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a failed run throws and leaves no writer thread alive") {
    val file = Files.createTempFile("graft_dag_file", ".txt").toFile
    val e = intercept[Exception] {
      ReferenceDag.run(spark, sfDir, s"${file.getAbsolutePath}/out", asOfBatch = "2000-01-01")
    }
    // all five writes fail: the first is thrown and the other four ride
    // along as suppressed (next to Spark's own caller-stack marker)
    assert(e.getSuppressed.count(_.getClass == e.getClass) === Landed.size - 1,
      e.getSuppressed.map(_.toString.take(200)).mkString("\n"))
    assert(writerThreads.isEmpty, writerThreads.map(_.getName))
  }
}
