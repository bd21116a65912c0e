package graft.tools

/** Iteration aid: dump `SparkEntry.oracleSql` (optionally a subset)
  * as JSON without running any query — the input `tools/
  * oracle_check.py` and ad-hoc DuckDB timing sessions need, at zero
  * Spark cost (Verify runs every query to produce the same file).
  *
  * Usage: runMain graft.tools.OracleDump <outFile> [name1,name2,...]
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("oracle_sql.json")
    val names: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val entries = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (k, _) => names.forall(_.contains(k)) }
    val json = entries.map { case (k, v) => s"${JsonOut.str(k)}: ${JsonOut.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[oracle-dump] wrote ${entries.size} oracle(s) to $out")
  }
}
