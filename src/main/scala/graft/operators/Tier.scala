package graft.operators

import org.apache.spark.sql.SparkSession

/** The one switch between an adaptive operator's tiers. The graph,
  * embedding-LSH, LM/PMI and tokenizer-training operators run a
  * single-task or driver kernel when the MEASURED input is small and
  * their distributed plan otherwise; each keeps its own eligibility
  * checks and size constants, and asks this object whether the
  * session's `spark.graft.tier` pin (read on every call) lets a tier
  * run at all:
  *
  *   - `auto` (default): every tier whose `fits` check passes;
  *   - `model`: only [[Model]] tiers, never an [[Input]] tier;
  *   - `distributed`: no kernel tier — the plan that runs at corpus
  *     scale (scale probes, the distributed-tier oracle run).
  *
  * The tiers are parity-specced against each other, so the pin
  * changes which plan runs, never the answer. */
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

  private val Values = Seq("auto", "model", "distributed")

  private def checked(value: String): String = {
    require(Values.contains(value),
      s"$Key must be one of ${Values.mkString(", ")}; got '$value'")
    value
  }

  /** Whether a `kind` tier may run in `spark`'s session: the pin must
    * allow it AND `fits` must hold. A forbidding pin never evaluates
    * `fits`, so no gate job (a count, a probe collect) runs. */
  def allows(spark: SparkSession, kind: Kind)(fits: => Boolean): Boolean =
    (checked(spark.conf.get(Key, "auto")) match {
      case "auto" => true
      case "model" => kind == Model
      case _ => false
    }) && fits

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
