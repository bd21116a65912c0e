package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.sources.Tables

/** `Tables.table` reads each table's schema from its parquet footer
  * on the driver: the same schema Spark's inference gives, without
  * the one-task job that inference schedules. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def inferred(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet").schema

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs submitted while `body` runs, counted by the layer collector. */
  private def jobsDuring(body: => Unit): Int = {
    val (out, record) = LayerCollector(spark).measure("tables-spec")(body)
    out.get
    record("sched.jobs").toInt
  }

  test("footer schema equals Spark's inferred schema for every testdata table") {
    val testdata = new java.io.File(sfDir).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); name <- Tables.names) {
      val dir = s"$testdata/$sf"
      assert(Tables.table(spark, dir, name).schema === inferred(dir, name), s"$sf/$name")
    }
    withConf(nanosKey, "false") {
      assert(Tables.table(spark, sfDir, "events").schema === inferred(sfDir, "events"))
    }
  }

  test("the session's nanosAsLong setting applies to the footer schema") {
    // int64 TIMESTAMP(NANOS): a Long under nanosAsLong, illegal without
    val dir = Files.createTempDirectory("graft_ns").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(conf).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      writer.write(rows.newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    } finally writer.close()

    withConf(nanosKey, "true") {
      val s = Tables.table(spark, dir, "events").schema
      assert(s === inferred(dir, "events"))
      assert(s("ts").dataType === LongType)
    }
    withConf(nanosKey, "false") {
      val viaFooter = intercept[Exception](Tables.table(spark, dir, "events"))
      val viaSpark = intercept[Exception](inferred(dir, "events"))
      Seq(viaFooter, viaSpark).foreach { e =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(_.getMessage.contains("TIMESTAMP(NANOS,true)")), e.toString)
      }
    }
  }

  test("reading a table and taking its schema submits no Spark job") {
    // the counter is live: Spark's own inference schedules a job
    assert(jobsDuring(inferred(sfDir, "orders")) >= 1)
    for (name <- Tables.names)
      assert(jobsDuring(Tables.table(spark, sfDir, name).schema) === 0, name)
    assert(jobsDuring(Tables.events(spark, sfDir).schema) === 0)
  }

  test("a partitioned directory keeps its partition columns") {
    val base = Files.createTempDirectory("graft_tables").toString
    val df = Seq((1L, "a", 2020), (2L, "b", 2020), (3L, "c", 2021)).toDF("id", "v", "year")
    Tables.writePartitioned(df, s"$base/t.parquet", Seq("year"))
    val back = Tables.table(spark, base, "t")
    assert(back.schema === inferred(base, "t"))
    assert(back.columns.toSeq === Seq("id", "v", "year"))
    assert(back.filter($"year" === 2020).count() === 2)
  }

  test("a directory's schema comes from the file Spark's inference picks") {
    // a wide and a narrow part file; the first data file in path
    // order wins, unless a summary file is present
    val base = Files.createTempDirectory("graft_pick").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$base/wide")
    Seq(2L).toDF("id").write.parquet(s"$base/narrow")
    def part(d: String) =
      Files.list(Paths.get(base, d)).filter(_.toString.endsWith(".parquet")).findFirst().get
    def layout(name: String, first: String, second: String): Unit = {
      val t = Files.createDirectories(Paths.get(base, s"$name.parquet"))
      Files.copy(part(first), t.resolve("part-0.parquet"))
      Files.copy(part(second), t.resolve("part-1.parquet"))
    }
    layout("narrow_first", "narrow", "wide")
    layout("wide_first", "wide", "narrow")
    assert(Tables.table(spark, base, "narrow_first").columns.toSeq === Seq("id"))
    assert(Tables.table(spark, base, "wide_first").columns.toSeq === Seq("id", "v"))

    // a _common_metadata summary outranks the first data file
    Seq((1L, "a")).toDF("id", "v").write
      .option("parquet.summary.metadata.level", "COMMON_ONLY")
      .parquet(s"$base/summary.parquet")
    assert(Files.exists(Paths.get(base, "summary.parquet", "_common_metadata")))
    Files.copy(part("narrow"), Paths.get(base, "summary.parquet", "part-0.parquet"))
    for (name <- Seq("narrow_first", "wide_first", "summary"))
      assert(Tables.table(spark, base, name).schema === inferred(base, name), name)
    assert(Tables.table(spark, base, "summary").columns.toSeq === Seq("id", "v"))
  }
}
