package graft.tools

import graft.JsonOut

/** Iteration aid: dump `SparkEntry.oracleSql` (optionally a subset)
  * as JSON without running any query — the input `tools/
  * oracle_check.py` and ad-hoc DuckDB timing sessions need, at zero
  * Spark cost. Verify writes the full dump next to its results.
  *
  * Usage: runMain graft.tools.OracleDump <outFile> [name1,name2,...]
  */
object OracleDump {
  /** The selected oracles (all by default) as one JSON object, by name. */
  def json(names: Option[Set[String]]): String =
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (k, _) => names.forall(_.contains(k)) }
      .map { case (k, v) => s"${JsonOut.str(k)}: ${JsonOut.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("oracle_sql.json")
    val names: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json(names))
    println(s"[oracle-dump] wrote $out")
  }
}
