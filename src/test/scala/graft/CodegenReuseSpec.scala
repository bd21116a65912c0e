package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, count, sum}

import graft.operators.Boundary

/** Generated classes are compiled once per session, not once per
  * boundary: the same plan staged and read again compiles nothing.
  * Spark's codegen cache is keyed by the source text and the compiling
  * thread's context class loader, and every `Boundary.stage` persists
  * through a cloned session; with artifact isolation on, each clone's
  * tasks ran under a class loader of their own, so every round
  * recompiled the same sources. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("staging and reading the same plan again compiles no generated class") {
    val df = spark.range(0, 5000, 1, 4).withColumn("k", col("id") % 97)
    val perRound = (1 to 3).map { _ =>
      val before = compiles
      val leaf = Boundary.stage(
        df.join(df.groupBy("k").agg(count("*").as("n"), sum("id").as("s")), "k")
          .filter(col("n") > 50))
      try {
        val rows = leaf.groupBy("k").agg(sum("id").as("t")).collect()
        assert(rows.length === 97)
      } finally Boundary.release(leaf)
      compiles - before
    }
    assert(perRound.tail === Seq(0L, 0L), s"compiles per round: ${perRound.mkString(" / ")}")
  }
}
