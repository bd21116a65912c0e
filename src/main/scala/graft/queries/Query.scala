package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** One declared query: its name, its Spark build over an sf directory,
  * and the DuckDB SQL its result is checked against. Column names and
  * types match pairwise: the check sorts columns by name and
  * hash-compares values.
  *
  * Each family object lists its records in a `lazy val all`: the
  * oracle strings read constants the object declares below the list. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracle: String)

object Query {
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)
}
