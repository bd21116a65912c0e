package graft.sources

import org.apache.spark.sql.SparkSession

/** The durable-table stamp: every index and model table a later
  * session reattaches carries its build parameters as
  * `graft.<family>.<key>` table properties, written and validated
  * here and nowhere else.
  *
  * One policy for every family: a loader names the keys it expects
  * (with their values), the keys it reads back (index state resolved
  * at build time) and the keys that may be absent. Anything else
  * under `graft.<family>.` — a stamp from a newer writer, encoding
  * policy this session cannot honor — is refused, as is a missing
  * key, a differing value, or read-back values that disagree across
  * the tables of one index (tables from two different writes).
  */
private[graft] object StampedTables {

  private val KeyChars = "[A-Za-z0-9_.-]+"

  /** Stamp `params` on each table, all keys in ONE statement per
    * table: a crash mid-sequence leaves some table without its
    * stamps, which [[check]] refuses, never a table that carries
    * some keys (a model) but not others (its replay ledger). Values
    * are SQL-escaped, so any string is safe. */
  def stamp(spark: SparkSession, tables: Seq[String], family: String,
      params: Map[String, Any]): Unit = {
    requireKeys(family +: params.keys.toSeq)
    // values are interpolated into SQL string literals — escape the
    // literal metacharacters (quote, backslash)
    def lit(v: Any) = "'" + v.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val kv = params.map { case (k, v) => s"'graft.$family.$k'=${lit(v)}" }.mkString(", ")
    tables.foreach(t => spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ($kv)"))
  }

  /** Keys become table-property names: a writer whose keys are
    * caller-chosen checks them before it lands anything. */
  def requireKeys(keys: Seq[String]): Unit = keys.foreach { k =>
    require(k.matches(KeyChars),
      s"stamp key '$k' must match $KeyChars (it becomes a table-property name)")
  }

  /** Validate each table's `graft.<family>.*` stamps, read once per
    * table: every `expected` key must be stamped with its value,
    * every `readBack` key must be stamped, `optional` keys may be
    * absent, and no other key may be stamped. Read-back and optional
    * values must agree across `tables`. Returns the read-back values
    * and the optional values that are present; throws
    * IllegalArgumentException otherwise. */
  def check(spark: SparkSession, tables: Seq[String], family: String,
      expected: Map[String, Any], readBack: Seq[String] = Nil,
      optional: Seq[String] = Nil): Map[String, String] = {
    val known = expected.keySet ++ readBack ++ optional
    val stamps = tables.map { t =>
      val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1))
        .collect { case (k, v) if k.startsWith(s"graft.$family.") =>
          k.stripPrefix(s"graft.$family.") -> v }.toMap
      val unknown = props.keySet -- known
      require(unknown.isEmpty, s"table $t stamps graft.$family params this " +
        s"session does not understand: ${unknown.toSeq.sorted.mkString(", ")}")
      (expected.keys ++ readBack).foreach { k =>
        require(props.contains(k), s"table $t lacks graft.$family.$k — not a $family table")
      }
      expected.foreach { case (k, v) =>
        require(props(k) == v.toString,
          s"table $t was built with $family.$k=${props(k)}, this session requested $v")
      }
      props
    }
    (readBack ++ optional).flatMap { k =>
      val vs = stamps.map(_.get(k)).distinct
      require(vs.size == 1, s"graft.$family.$k stamps disagree across " +
        s"${tables.mkString(", ")}: ${vs.map(_.getOrElse("(none)")).mkString(", ")}")
      vs.head.map(k -> _)
    }.toMap
  }
}
