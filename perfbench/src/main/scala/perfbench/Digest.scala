package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** The timed action of every query op: a digest that reads every output
  * column of every row, so the plan cannot prune work the way `count()`
  * lets Catalyst do.
  *
  * The digest is order-insensitive: the row count plus the sum of each
  * row's xxhash64 over all its columns. The sum is taken as
  * decimal(38,0) because a `long` sum overflows, and Spark's ANSI mode
  * turns that overflow into an error. */
object Digest {

  final case class Value(rows: Long, sum: java.math.BigDecimal) {
    override def toString: String = s"$rows:$sum"
  }

  def parse(s: String): Value = {
    val Array(rows, sum) = s.split(":", 2)
    Value(rows.toLong, new java.math.BigDecimal(sum))
  }

  def of(df: DataFrame): Value = {
    val rowHash = xxhash64(col("*")).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(rowHash)).head()
    Value(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
