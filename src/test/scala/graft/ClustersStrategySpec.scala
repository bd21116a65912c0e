package graft

import graft.operators.{Clusters, Tier}
import org.apache.spark.sql.functions._

/** The adaptive CC strategy contract: below the measured edge
  * threshold a single-task union-find replaces the distributed
  * convergence loop — the two strategies must be INDISTINGUISHABLE
  * in output (same labels, same schema) on every graph shape, so the
  * dispatch can never change an answer, only a cost. */
class ClustersStrategySpec extends SparkSpec {
  import spark.implicits._

  /** The convergence loop's labels: the `distributed` tier pin. */
  private def loopLabels(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Tier.pinned(spark, "distributed") {
      Clusters.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
    }

  private def both(pairs: org.apache.spark.sql.DataFrame): Unit = {
    val local = Clusters.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    val loop = loopLabels(pairs)
    assert(local === loop)
    // the Kiveris large-star/small-star alternative must agree too
    val stars = Clusters.connectedComponentsStars(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(stars === loop, "large-star/small-star diverged from the loop")
  }

  test("local union-find ≡ distributed loop on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(200)
      val m = 1 + rnd.nextInt(3 * n)
      val pairs = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("a", "b")
      both(pairs)
    }
  }

  test("local union-find ≡ distributed loop on adversarial shapes") {
    // deep chain (pointer jumping's worst case), star, two cliques
    // bridged by one edge, duplicates + self-loops + both orientations
    val chain = (1L until 300L).map(i => (i, i + 1))
    val star = (2L to 40L).map(i => (1000L, 1000L + i))
    val cliqueA = for (i <- 1 to 8; j <- i + 1 to 8) yield (2000L + i, 2000L + j)
    val cliqueB = for (i <- 1 to 8; j <- i + 1 to 8) yield (3000L + i, 3000L + j)
    val mess = Seq((2001L, 3001L), (5L, 5L), (2L, 1L), (1L, 2L), (1L, 2L))
    both((chain ++ star ++ cliqueA ++ cliqueB ++ mess).toDF("a", "b"))
  }

  test("a node appearing ONLY in self-loop pairs self-labels on every path") {
    // 9999 has no real edge — all three strategies must still emit it
    val pairs = Seq((1L, 2L), (9999L, 9999L)).toDF("a", "b")
    both(pairs)
    val out = Clusters.connectedComponentsStars(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out.get(9999L) === Some(9999L))
  }

  test("descending-id chain labels to the min (union-by-min depth path)") {
    // ids inserted largest-root-first exercises the attach-under-min
    // invariant where union-by-rank would have attached the other way
    val pairs = (300L to 2L by -1).map(i => (i, i - 1)).toDF("a", "b")
    val out = Clusters.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect()
    assert(out.length === 300)
    assert(out.forall(_._2 == 1L))
  }

  test("integer node ids keep their type through the local path") {
    val pairs = Seq((1, 2), (2, 3), (10, 11)).toDF("a", "b")
    val out = Clusters.connectedComponents(pairs, "a", "b")
    assert(out.schema("node").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(out.schema("cluster_id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val got = out.as[(Int, Int)].collect().toMap
    assert(got === Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10))
  }

  test("tier dispatch: the distributed pin forces the loop") {
    // the loop must produce the labels of a 10-edge chain (this is
    // the distributed path of the SAME call shape the default would
    // send local)
    val pairs = (1L to 10L).map(i => (i, i + 1)).toDF("a", "b")
    assert(loopLabels(pairs) === (1L to 11L).map(_ -> 1L).toMap)
  }

  test("local union-find ≡ distributed loop at 2k nodes / 5k edges") {
    // bigger-graph insurance for the single-task kernel: mixed
    // component shapes (random edges create giant + medium + small
    // components and singleton-free isolates), compared exactly
    val rnd = new scala.util.Random(2024)
    val pairs = Seq.fill(5000)(
      (rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong)).toDF("a", "b")
    val local = Clusters.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    val loop = loopLabels(pairs)
    assert(local === loop)
    assert(local.size > 1500, "graph too sparse to exercise anything")
  }

  test("large-star/small-star: empty set and a deep chain converge correctly") {
    assert(Clusters.connectedComponentsStars(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() === 0L)
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Clusters.connectedComponentsStars(chain, "a", "b", maxIter = 20)
      .as[(Long, Long)].collect()
    assert(out.length === 200 && out.forall(_._2 == 1L))
  }

  test("local path is deterministic across executions") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(500)(
      (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)).toDF("a", "b")
    val df = Clusters.connectedComponents(pairs, "a", "b")
    // the local-path frame is lazy over the checkpointed edges: two
    // actions re-run the union-find — results must match exactly
    val first = df.as[(Long, Long)].collect().toMap
    val second = df.as[(Long, Long)].collect().toMap
    assert(first === second)
  }

  test("the union-find grows past its first table without losing a union") {
    // a singleton, then 50k two-node components: every union inserts
    // two new nodes, and the odd count makes the table double between
    // a union's two lookups
    val uf = new graft.operators.LongUnionFind
    uf.union(-1L, -1L)
    (0L until 50000L).foreach(i => uf.union(2 * i + 1, 2 * i))
    val labels = uf.labels.toMap
    assert(labels.size === 100001)
    assert(labels.forall { case (node, root) =>
      root === (if (node < 0) node else node - node % 2) })
  }
}
