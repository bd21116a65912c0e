package graft.operators

import org.apache.spark.graft.ListenerBusPost
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode

/** One tier decision of an adaptive operator, posted on the listener
  * bus: the operator `family`, the `tier` it picked (`input`, `model`
  * or `distributed`), the plan-stats size `estimate` in bytes and the
  * `rows` measured, when the decision read them, the `limit` it was
  * held to (in `unit`s: `rows` or `bytes`) and the session `pin`. Used
  * only to pick a tier, never as a result value. */
final case class TierPick(family: String, tier: String,
    estimate: Option[BigInt], rows: Option[Long], limit: Long, unit: String,
    pin: String) extends SparkListenerEvent

/** The one gate between an adaptive operator's tiers. Thirteen
  * families — the graph operators (CC, PageRank, LPA, the triangle
  * census), embedding-LSH pairs and top-k, the k-gram shared-count join
  * behind Jaccard and containment dedup, LM/PMI and tokenizer training
  * — run a single-task or driver kernel when their input is small and
  * their distributed plan otherwise. Each site names its family, its kernel's
  * [[Kind]], the frame the kernel would read, a [[Limit]] and its own
  * eligibility check, and [[pick]] decides in this order, stopping at
  * the first step that settles it:
  *
  *   1. the session's `spark.graft.tier` pin (read on every call):
  *      `auto` (default) allows every kernel tier, `model` only
  *      [[Model]] tiers, `distributed` none — the plan that runs at
  *      corpus scale (scale probes, the distributed-tier oracle run);
  *   2. the site's eligibility check (id types, observers, tokenizer
  *      shape);
  *   3. free plan stats: the exact `rowCount` of a leaf plan (a filled
  *      [[Boundary]] leaf, an analyzed table), else the plan's
  *      `sizeInBytes` against the limit — a [[Bytes]] limit is decided
  *      here, a [[Rows]] limit of n is over when the estimate exceeds
  *      n × 4096 B (the estimate only ever over-states: filters keep
  *      their child's size absent CBO stats, so this errs distributed);
  *   4. a `count()` of the frame, only when the stats leave a row limit
  *      open.
  *
  * A forbidding pin or a failed eligibility check runs no measurement,
  * so no gate job. Every decision posts one [[TierPick]]. A cache block
  * recomputed after eviction can only over-count a boundary's
  * `rowCount`, which errs distributed too. The tiers are parity-specced
  * against each other, so the pin changes which plan runs, never the
  * answer. */
object Tier {

  /** The session setting that pins the tier. */
  val Key = "spark.graft.tier"

  sealed trait Kind
  /** Moves the whole input onto one task or the driver. */
  case object Input extends Kind
  /** Collects only a vocab-sized aggregate of the input (the LM
    * broadcast-model fold, the PMI collected fold, BPE/Unigram local
    * training). */
  case object Model extends Kind

  /** What a kernel tier's input is held to. */
  sealed trait Limit { def n: Long }
  /** At most `n` rows (stats, then a count when they leave it open). */
  final case class Rows(n: Long) extends Limit
  /** At most `n` rows, always measured by an exact `rowCount` or a
    * count: for a site whose plan-size estimate can be far above its
    * rows (an upstream join multiplies estimates), so the size
    * pre-gate would move its pick. */
  final case class CountedRows(n: Long) extends Limit
  /** At most `n` bytes of plan-stats estimate; never counted. */
  final case class Bytes(n: Long) extends Limit

  /** Bytes per row a [[Rows]] limit's size pre-gate allows. */
  private val BytesPerRow = 4096L

  private val Values = Seq("auto", "model", "distributed")

  private def checked(value: String): String = {
    require(Values.contains(value),
      s"$Key must be one of ${Values.mkString(", ")}; got '$value'")
    value
  }

  /** The exact row count of `df` when its plan is a leaf whose stats
    * carry one (a filled boundary, an analyzed table): free. */
  private def statsRows(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case leaf: LeafNode => leaf.stats.rowCount.map(_.toLong)
      case _ => None
    }

  /** The row count of `df`: [[statsRows]], else one `count()` job. */
  private[graft] def rows(df: DataFrame): Long =
    statsRows(df).getOrElse(df.count())

  /** Whether `family`'s `kind` kernel tier runs over `input` held to
    * `limit` (see the object doc for the order of the checks). */
  def pick(family: String, kind: Kind, input: DataFrame, limit: Limit)(
      eligible: => Boolean): Boolean = {
    val spark = input.sparkSession
    val pin = checked(spark.conf.get(Key, "auto"))
    val allowed = pin == "auto" || (pin == "model" && kind == Model)
    // (fits, size estimate, measured rows)
    val (fits, estimate, measured) =
      if (!allowed || !eligible) (false, None, None)
      else {
        val size = input.queryExecution.optimizedPlan.stats.sizeInBytes
        limit match {
          case Bytes(n) => (size <= n, Some(size), None)
          case Rows(n) if statsRows(input).isEmpty && size > BigInt(n) * BytesPerRow =>
            (false, Some(size), None)
          case _ =>
            val n = rows(input)
            (n <= limit.n, Some(size), Some(n))
        }
      }
    val tier = if (!fits) "distributed" else if (kind == Model) "model" else "input"
    val unit = if (limit.isInstanceOf[Bytes]) "bytes" else "rows"
    ListenerBusPost(spark.sparkContext,
      TierPick(family, tier, estimate, measured, limit.n, unit, pin))
    fits
  }

  /** Run `body` with the tier pinned to `value`, restoring the
    * previous setting afterwards (also when `body` throws). */
  def pinned[T](spark: SparkSession, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    spark.conf.set(Key, checked(value))
    try body
    finally prev match {
      case Some(p) => spark.conf.set(Key, p)
      case None => spark.conf.unset(Key)
    }
  }
}
