package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every cache in the engine is owned through
  * `graft.operators.Boundary`: a bare `.persist(` or eager
  * `.localCheckpoint(true)` under `src/main/scala/graft` is a cache
  * no caller can release through the frame it holds. */
class CacheBoundaryGuardSpec extends AnyFunSuite {

  private val graphTrunc = "if (reliable) df.checkpoint(true) else df.localCheckpoint(true)"

  /** The only sites allowed outside Boundary.scala, by file and
    * trimmed line (a line may repeat), each with its reason. */
  private val allowed = Seq(
    ("Clusters.scala", "if (doTrunc && reliable) stepOut.persist()",
      "reliable-mode CC round: the count fills the cache the checkpoint write reads back"),
    ("Graph.scala", "if (reliable) next.persist()",
      "reliable-mode PageRank round: the delta job fills the cache the checkpoint write reads back"),
    ("Clusters.scala", "if (!reliable) (df.localCheckpoint(true), Set.empty)",
      "connected-components loop truncation, freed with the loop's lineage"),
    ("Clusters.scala", ".localCheckpoint(true)", "large/small-star edge-set truncation"),
    ("Clusters.scala", ".localCheckpoint(true)", "large/small-star node-set truncation"),
    ("Graph.scala", graphTrunc, "PageRank loop truncation"),
    ("Graph.scala", graphTrunc, "label-propagation loop truncation"),
    ("Similarity.scala", ".localCheckpoint(true)",
      "tombstone rewrite: cuts lineage to the durable table it overwrites"),
    ("DedupQueries.scala", ".localCheckpoint(true)",
      "incStateMemo labels: harness standing state that clearCache must not drop"),
    ("DedupQueries.scala", "val newEdges = allPairs.filter(newA || newB).localCheckpoint(true)",
      "incStateMemo edges: harness standing state that clearCache must not drop"))

  private def key(t: (String, String, Any)) = (t._1, t._2)

  test("no operator persists outside Boundary") {
    val root = new java.io.File("src/main/scala/graft")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "Boundary.scala"), s"no Boundary.scala under $root")
    val found = for {
      f <- files if f.getName != "Boundary.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains(".persist(") || line.contains(".localCheckpoint(true)")
    } yield (f.getName, line.trim, n + 1)
    val keys = allowed.map(key).toSet
    val stray = found.filterNot(f => keys.contains(key(f)))
    assert(stray.isEmpty, "cache outside Boundary: " +
      stray.map { case (f, l, n) => s"$f:$n: $l" }.mkString("; "))
    assert(found.map(key).sorted === allowed.map(key).sorted,
      "an allowed site moved, was added or was removed: update the guard")
  }
}
