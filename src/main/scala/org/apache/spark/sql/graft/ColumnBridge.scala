package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's private[sql] Column <-> Expression converters —
  * the supported extension-point pattern for libraries that define
  * native Catalyst expressions (Spark 4 removed the public
  * `Column.expr` / `new Column(expr)` surface).
  */
object ColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** If `c` is EXACTLY the shared whitespace-tokenize form
    * `split(trim(x), "\\s+")` (graft.functions.Text.tokens), return
    * x — the LM driver-kernel eligibility probe. Any other token
    * derivation returns None and the caller stays on the
    * distributed path, so a custom tokenizer can never silently
    * diverge from the kernel's byte-level \s scan. Matches the
    * UNRESOLVED ColumnNode tree (Spark 4 Columns carry nodes, not
    * Catalyst expressions, until analysis). */
  def whitespaceSplitSource(c: Column): Option[Column] = {
    import org.apache.spark.sql.internal.{Literal => NodeLit, UnresolvedFunction => NodeFn}
    c.node match {
      case f: NodeFn if f.functionName == "split" && f.arguments.size == 2 =>
        (f.arguments.head, f.arguments(1)) match {
          case (t: NodeFn, l: NodeLit)
              if t.functionName == "trim" && t.arguments.size == 1 &&
                l.value == "\\s+" =>
            Some(Column(t.arguments.head))
          case _ => None
        }
      case _ => None
    }
  }

  /** Register a SQL function on an ALREADY-RUNNING session (the
    * withExtensions path only applies at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Wrap a (resolved) LogicalPlan as a DataFrame — the entry point for
    * custom whole-operator LogicalPlan nodes (Spark 4 keeps
    * Dataset.ofRows private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Read a (persisted) frame through a plan LEAF: the
    * `LogicalRDD` that `Dataset.checkpoint` builds, minus the
    * checkpoint. The leaf's RDD is the frame's own executed plan, so a
    * persisted frame is read through its `InMemoryTableScanExec` and
    * a lost cache block is recomputed from source (lineage intact);
    * stats, partitioning and ordering carry over from `df`, and the
    * leaf prints as one `Scan ExistingRDD` line instead of re-printing
    * `df`'s whole plan. Building the RDD runs `df`'s upstream AQE
    * stages now, not at the first action. */
  def leaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Append a planner strategy to a LIVE session (idempotent). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
