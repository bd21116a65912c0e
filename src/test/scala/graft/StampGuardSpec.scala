package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every durable-table stamp is written and read through
  * `graft.sources.StampedTables`: a `TBLPROPERTIES` statement
  * anywhere else under `src/main/scala/graft` is a second stamp
  * format with its own load policy. */
class StampGuardSpec extends AnyFunSuite {

  /** Sites allowed outside StampedTables.scala, by file and trimmed
    * line, each with its reason. None today. */
  private val allowed = Seq.empty[(String, String, String)]

  test("no table-property statement outside StampedTables") {
    val root = new java.io.File("src/main/scala/graft")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "StampedTables.scala"), s"no StampedTables.scala under $root")
    val found = for {
      f <- files if f.getName != "StampedTables.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains("TBLPROPERTIES")
    } yield (f.getName, line.trim, n + 1)
    val keys = allowed.map(a => (a._1, a._2)).toSet
    val stray = found.filterNot(f => keys.contains((f._1, f._2)))
    assert(stray.isEmpty, "table properties outside StampedTables: " +
      stray.map { case (f, l, n) => s"$f:$n: $l" }.mkString("; "))
  }
}
