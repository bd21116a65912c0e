package graft

import org.apache.spark.sql.functions.{col, sum}

import graft.operators.{Boundary, Tier}

/** The one per-query layer collector: each measured body gets its own
  * jobs, tasks, plans, cache blocks and tier picks, and nothing of a
  * body before or after it. */
class LayerRecordSpec extends SparkSpec {

  private def layers = LayerCollector(spark)

  private def pick(family: String): Boolean =
    Tier.pick(family, Tier.Input, spark.range(3).toDF(), Tier.Rows(10))(true)

  test("two consecutive measured bodies do not leak events into each other") {
    val (n, busy) = layers.measure("busy") {
      pick("busy")
      spark.range(0, 100000, 1, 4).selectExpr("id % 7 as k").groupBy("k").count().collect().length
    }
    val (_, idle) = layers.measure("idle")(())
    assert(n.get === 7)
    assert(busy("sched.jobs") >= 1 && busy("sched.tasks") >= 4)
    assert(busy("plans.executions") >= 1)
    assert(busy("shuffle.write_bytes") > 0)
    assert(busy.picks.map(_.family) === Seq("busy"))
    assert(busy("exec.busy_s") <= busy.wallSeconds + 0.01)
    assert(math.abs(busy("exec.busy_s") + busy("sched.nonwork_s") - busy.wallSeconds) < 0.05)
    for (k <- Seq("sched.jobs", "sched.tasks", "plans.executions", "shuffle.write_bytes"))
      assert(idle(k) === 0.0, k)
    assert(idle.picks.isEmpty)
  }

  test("tier picks are attributed, in posting order, to the body that posted them") {
    val (_, first) = layers.measure("first") { pick("a"); pick("b"); pick("c") }
    val (_, second) = layers.measure("second")(pick("d"))
    assert(first.picks.map(_.family) === Seq("a", "b", "c"))
    assert(second.picks.map(_.family) === Seq("d"))
  }

  test("a body that throws still yields its record") {
    val (out, record) = layers.measure("throws") {
      spark.range(10).count()
      pick("before-throw")
      throw new IllegalStateException("boom")
    }
    assert(out.failed.get.getMessage === "boom")
    assert(record("sched.jobs") >= 1)
    assert(record.picks.map(_.family) === Seq("before-throw"))
    // the collector is usable after a failed body
    val (_, next) = layers.measure("after")(spark.range(10).count())
    assert(next("sched.jobs") >= 1 && next.picks.isEmpty)
  }

  test("a read of a staged boundary leaf counts cache blocks; a plain range count counts none") {
    val (leaf, staged) = layers.measure("staged") {
      val l = Boundary.stage(spark.range(0, 1000, 1, 2).toDF())
      l.count()
      l
    }
    try {
      assert(staged("cache.blocks") > 0 && staged("cache.bytes") > 0)
      val (_, plain) = layers.measure("plain")(spark.range(1000).count())
      assert(plain("cache.blocks") === 0.0)
      assert(plain("sched.jobs") >= 1)
    } finally Boundary.release(leaf.get)
  }

  test("a fresh plan's first run counts its codegen compiles; a repeat counts none") {
    // the literal is inlined into the generated source, so no earlier
    // body in this JVM compiled this plan's classes
    def run(): Long = spark.range(0, 1000, 1, 2).selectExpr("id * 982451653 + 7 as v")
      .groupBy((col("v") % 3).as("m")).agg(sum("v")).collect().length.toLong
    val (first, fresh) = layers.measure("fresh")(run())
    val (again, repeat) = layers.measure("repeat")(run())
    assert(first.get === 3L && again.get === 3L)
    assert(fresh("codegen.compiles") > 0)
    assert(repeat("codegen.compiles") === 0.0)
  }

  test("the record is one JSON object with every metric and the picks") {
    val (_, record) = layers.measure("json")(pick("j"))
    val json = record.json
    for ((k, _) <- LayerRecord.Metrics) assert(json.contains(JsonOut.str(k) + ":"), k)
    assert(json.startsWith("{\"wall_s\":") && json.endsWith("]}"))
    assert(json.contains("\"family\": \"j\""))
  }

  test("the union of task intervals counts overlaps once") {
    assert(LayerRecord.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L), (40L, 40L))) === 25L)
    assert(LayerRecord.unionLength(Nil) === 0L)
  }
}
