package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.queries._
import graft.queries.Query.t

/** Driver contract — see SURVEY.md §2 for the inventory.
  *
  * Every query is declared once, as a [[graft.queries.Query]] record
  * (name, Spark build, DuckDB oracle SQL) in its family's file under
  * `graft/queries/`. `queries` and `oracleSql` are derived from those
  * records, so a query cannot have a build without an oracle or the
  * reverse. Column names/types match pairwise — the oracle check
  * sorts columns by name and hash-compares values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Relational.nationRevenue(
      t(spark, dir, "lineitem"), t(spark, dir, "orders"),
      t(spark, dir, "customer"), t(spark, dir, "supplier"),
      t(spark, dir, "nation"), t(spark, dir, "region"),
      regionName = "ASIA", yr = 1998)
  }

  /** Every declared query, family by family (SURVEY.md §2a–§2d). */
  private[graft] lazy val records: Seq[Query] =
    ReferenceQueries.all ++ RelationalQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ TokenizerQueries.all ++ QualityQueries.all ++
      SamplingQueries.all ++ TextQueries.all ++ GraphQueries.all ++
      MultimodalQueries.all ++ EventQueries.all

  /** The records by name. A name declared twice fails here: a map built
    * from the list would silently keep the last declaration. */
  private[graft] def byName(list: Seq[Query]): Map[String, Query] = {
    val twice = list.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    list.map(q => q.name -> q).toMap
  }

  private lazy val declared = byName(records)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (n, q) => n -> q.build }

  /** DuckDB-runnable oracles, column-name-aligned with `queries`. */
  lazy val oracleSql: Map[String, String] =
    declared.map { case (n, q) => n -> q.oracle }
}
