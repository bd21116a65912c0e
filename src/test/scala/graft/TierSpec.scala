package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.{Boundary, Tier, TierPick}

/** The one tier gate: the session pin, then the site's eligibility,
  * then free plan stats, then a count only when the stats leave a row
  * limit open — and one posted record per decision. */
class TierSpec extends SparkSpec {

  /** `body`'s result, the jobs it ran and the records it posted. */
  private def observed[T](body: => T): (T, Int, Seq[TierPick]) = {
    val (out, record) = LayerCollector(spark).measure("tier-spec")(body)
    (out.get, record("sched.jobs").toInt, record.picks)
  }

  private def pick(input: DataFrame, limit: Tier.Limit, kind: Tier.Kind = Tier.Input)(
      eligible: => Boolean = true): Boolean =
    Tier.pick("spec", kind, input, limit)(eligible)

  test("an unknown pin value is rejected, naming the allowed values") {
    val e = intercept[IllegalArgumentException](Tier.pinned(spark, "local")(()))
    assert(e.getMessage.contains("auto, model, distributed"), e.getMessage)
    // a value set directly on the session is rejected when read
    spark.conf.set(Tier.Key, "local")
    try {
      intercept[IllegalArgumentException](pick(spark.range(3).toDF(), Tier.Rows(10))())
    } finally spark.conf.unset(Tier.Key)
  }

  test("pinned restores the previous value when its block throws") {
    val before = spark.conf.getOption(Tier.Key)
    Tier.pinned(spark, "model") {
      intercept[IllegalStateException] {
        Tier.pinned(spark, "distributed") {
          assert(spark.conf.get(Tier.Key) === "distributed")
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(Tier.Key) === "model")
    }
    assert(spark.conf.getOption(Tier.Key) === before)
  }

  test("a forbidding pin evaluates neither eligibility nor any measurement") {
    var evaluated = 0
    def eligible: Boolean = { evaluated += 1; true }
    // not a leaf, small estimate: an allowed pick must count it
    val input = spark.range(100).filter("id % 2 = 0").toDF()
    val (out, ran, posted) = observed {
      Tier.pinned(spark, "distributed") {
        Seq(pick(input, Tier.Rows(10000))(eligible),
          pick(input, Tier.Rows(10000), Tier.Model)(eligible))
      } ++ Tier.pinned(spark, "model")(Seq(pick(input, Tier.Rows(10000))(eligible)))
    }
    assert(out === Seq(false, false, false))
    assert(evaluated === 0)
    assert(ran === 0)
    assert(posted.map(p => (p.tier, p.estimate, p.rows)) ===
      Seq.fill(3)(("distributed", None, None)))
    // the model pin admits a Model tier, auto admits both, each counted
    val (allowed, counted, _) = observed {
      Tier.pinned(spark, "model")(pick(input, Tier.Rows(10000), Tier.Model)(eligible)) &&
        pick(input, Tier.Rows(10000))(eligible)
    }
    assert(allowed && evaluated === 2 && counted >= 2)
  }

  test("a filled boundary leaf is measured with no job and picks what a count picks") {
    val leaf = Boundary.stage(spark.range(5000).selectExpr("id % 1000 AS k").groupBy("k").count())
    try {
      val n = leaf.count()
      assert(n === 1000)
      val (out, ran, posted) = observed(
        Seq(n - 1, n, n + 1).map(limit => pick(leaf, Tier.Rows(limit))()))
      assert(ran === 0)
      assert(out === Seq(n - 1, n, n + 1).map(n <= _))
      assert(posted.map(_.rows) === Seq.fill(3)(Some(n)))
    } finally Boundary.release(leaf)
  }

  test("an estimate over the row pre-gate picks distributed with no job") {
    // 5 rows, but a filter keeps its child's 8 MB estimate: over 10 × 4 KB
    val input = spark.range(1000000).filter("id < 5").toDF()
    val (out, ran, posted) = observed(pick(input, Tier.Rows(10))())
    assert(!out && ran === 0)
    assert(posted.map(p => (p.tier, p.rows)) === Seq(("distributed", None)))
    assert(posted.head.estimate.exists(_ > BigInt(10) * 4096))
    // a counted limit measures the same frame instead
    val (counted, countRan, _) = observed(pick(input, Tier.CountedRows(10))())
    assert(counted && countRan > 0)
  }

  test("each decision posts exactly one record with its fields") {
    val input = spark.range(100).filter("id % 2 = 0").toDF()
    val size = input.queryExecution.optimizedPlan.stats.sizeInBytes
    val (_, _, posted) = observed {
      Tier.pick("fam_rows", Tier.Input, input, Tier.Rows(64))(true)
      Tier.pick("fam_bytes", Tier.Model, input, Tier.Bytes(size.toLong))(true)
      Tier.pick("fam_ineligible", Tier.Input, input, Tier.Rows(64))(false)
      Tier.pinned(spark, "model")(
        Tier.pick("fam_pinned", Tier.Model, input, Tier.Rows(50))(true))
    }
    assert(posted === Seq(
      TierPick("fam_rows", "input", Some(size), Some(50L), 64L, "rows", "auto"),
      TierPick("fam_bytes", "model", Some(size), None, size.toLong, "bytes", "auto"),
      TierPick("fam_ineligible", "distributed", None, None, 64L, "rows", "auto"),
      TierPick("fam_pinned", "model", Some(size), Some(50L), 50L, "rows", "model")))
  }

  test("no operator reads plan-size stats outside the tier gate") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val files = java.nio.file.Files.list(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.size > 20, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files if f.getFileName.toString != "Tier.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("optimizedPlan.stats.sizeInBytes")
    } yield s"${f.getFileName}:${i + 1}"
    assert(hits.isEmpty, s"size gates outside Tier.pick: ${hits.mkString(", ")}")
  }
}
