package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Similarity, Tier}
import graft.sources.Tables

/** The adaptive-dispatch contract of the embedding-LSH family (the
  * Clusters r14 pattern): the single-task kernel is an EXACT twin of
  * the distributed plan — same seeded hyperplanes, same signature
  * fold, same cosine association, same tie order. Each parity test
  * asserts from the plans that the auto run really took the kernel
  * and the pinned run did not, so it never compares distributed
  * with distributed. */
class LshLocalSpec extends SparkSpec {
  import spark.implicits._

  /** Whether `df`'s plan is the single-task kernel: one Coalesce(1)
    * task and no exchange anywhere. */
  private def isKernel(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("Coalesce 1") && !plan.contains("Exchange")
  }

  /** `build` under the auto tier (asserted to be the kernel) and
    * under the distributed tier (asserted not to be). */
  private def bothTiers(build: => DataFrame): (DataFrame, DataFrame) = {
    val local = Tier.pinned(spark, "auto")(build)
    val dist = Tier.pinned(spark, "distributed")(build)
    assert(isKernel(local), "auto run did not take the single-task kernel")
    assert(!isKernel(dist), "distributed run took the single-task kernel")
    (local, dist)
  }

  test("embeddingPairsLsh: local strategy ≡ distributed (exact probes)") {
    val e = Tables.embeddings(spark, sfDir)
    val (local, dist) = bothTiers(Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
        dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4))
    def rows(df: DataFrame) = df.as[(Long, Long)].collect().toSet
    assert(rows(local).nonEmpty && rows(local) === rows(dist))
  }

  test("embeddingPairsLsh: local strategy ≡ distributed (multi-probe r=1)") {
    val e = Tables.embeddings(spark, sfDir)
    val (local, dist) = bothTiers(Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
        dim = 64, bits = 4, tables = 3, seed = 42L, tau = 0.4, probeRadius = 1))
    def rows(df: DataFrame) = df.as[(Long, Long)].collect().toSet
    assert(rows(local).nonEmpty && rows(local) === rows(dist))
  }

  test("lshTopK: local strategy ≡ distributed (ranks included)") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
    val (local, dist) = bothTiers(Similarity.lshTopK(corpus, queries, "vec_id",
        "embedding", dim = 64, bits = 4, tables = 8, seed = 42L, k = 5))
    def rows(df: DataFrame) = df.as[(Long, Int, Long)].collect().toSet
    assert(rows(local).nonEmpty && rows(local) === rows(dist))
  }

  test("local dispatch plan is single-task (Coalesce(1), no exchange)") {
    val e = Tables.embeddings(spark, sfDir)
    val plan = Dedup.embeddingPairsLsh(e, "vec_id", "embedding",
        dim = 64, bits = 4, tables = 8, seed = 42L, tau = 0.4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce 1"), plan)
    assert(!plan.contains("Exchange"), plan)
  }
}
