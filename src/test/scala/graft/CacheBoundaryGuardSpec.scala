package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every operator hands a frame across a cache through
  * `graft.operators.Boundary`; a bare `.persist(` under
  * `src/main/scala/graft/operators` is a cache no caller can release
  * through the frame it holds. */
class CacheBoundaryGuardSpec extends AnyFunSuite {

  /** The only persists allowed outside Boundary.scala, by file and
    * trimmed line, each with its reason. */
  private val allowed = Map(
    ("Clusters.scala", "if (doTrunc && reliable) stepOut.persist()") ->
      "reliable-mode CC round: the count fills the cache the checkpoint write reads back",
    ("Graph.scala", "if (reliable) next.persist()") ->
      "reliable-mode PageRank round: the delta job fills the cache the checkpoint write reads back")

  test("no operator persists outside Boundary") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "Boundary.scala"), s"no Boundary.scala under $dir")
    val found = for {
      f <- files.toSeq if f.getName != "Boundary.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains(".persist(")
    } yield (f.getName, line.trim, n + 1)
    val stray = found.filterNot { case (f, l, _) => allowed.contains((f, l)) }
    assert(stray.isEmpty, "persist outside Boundary: " +
      stray.map { case (f, l, n) => s"$f:$n: $l" }.mkString("; "))
    assert(found.map(h => (h._1, h._2)).toSet === allowed.keySet,
      "an allowed reliable-mode persist moved or was removed: update the guard")
  }
}
