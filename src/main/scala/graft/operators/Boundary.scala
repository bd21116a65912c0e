package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** The one cache boundary every operator hands a frame across — the
  * in-session stand-in for the landed table a reference DAG task
  * writes and its successor reads (main_dag.py:242-262).
  *
  * [[stage]] persists a frame MEMORY_AND_DISK, fills the cache in one
  * job and returns a plan LEAF over it
  * ([[org.apache.spark.sql.graft.ColumnBridge.leaf]]): downstream
  * plans print one `Scan ExistingRDD` line instead of the upstream
  * tree, the leaf's stats are the filled cache's, and a lost block
  * recomputes from lineage (persist, not checkpoint).
  *
  * The frame a caller holds owns the caches it reads: [[release]]
  * drops every boundary its plan reads and, through their origins,
  * those they were built from that no other live boundary still reads
  * (directly or through its origins) — one call frees a composed
  * result, while a generation swap's shared base stays. An operator
  * releases its transient boundaries (shingle index, vocab, swapped
  * generation) before it returns; its result is a leaf the caller
  * releases. `unpersist()` on a leaf does nothing. A standing index's
  * frames ([[standing]]) are released only by name (the index's
  * `release()`), never through a probe result's origin. A
  * [[generation]] — the lineage-cut frame a standing index or labeling
  * swaps in — is released the same way. Two boundaries over one plan
  * share its cache. */
object Boundary {

  private sealed trait Slot
  /** A released or cleared boundary: an id, no plan pinned. */
  private case object Released extends Slot
  /** `reads`: the boundaries the origin reads, transitively. */
  private final case class Held(origin: DataFrame, buffers: Int,
      standing: Boolean, reads: Set[Int]) extends Slot

  /** Per context: leaf RDD id → its boundary. */
  private val slots = new ConcurrentHashMap[SparkContext, ConcurrentHashMap[Int, Slot]]()

  private def slotsOf(df: DataFrame): ConcurrentHashMap[Int, Slot] = {
    slots.keySet.removeIf(_.isStopped)
    slots.computeIfAbsent(df.sparkSession.sparkContext,
      _ => new ConcurrentHashMap[Int, Slot]())
  }

  /** The context's persisted RDDs, by id. */
  private def cached(df: DataFrame) =
    df.sparkSession.sparkContext.getPersistentRDDs

  private def leaves(df: DataFrame): Seq[Int] =
    ColumnBridge.leafRddIds(df.queryExecution.analyzed).distinct

  /** Persist `df`, fill its cache, and return a leaf over it. */
  def stage(df: DataFrame): DataFrame = register(df, standing = false)

  /** [[stage]] for a standing index's frames (see the object doc). */
  private[graft] def standing(df: DataFrame): DataFrame =
    register(df, standing = true)

  /** An eager local checkpoint of `df`, registered like [[standing]]:
    * the next generation of a standing index or labeling (old ∪ new −
    * deleted), filled before its predecessor is released. Its lineage
    * is cut, so a generation chain keeps a constant plan and a lost
    * block fails the read instead of recomputing. */
  private[graft] def generation(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    val id = leaves(cp).head
    slotsOf(df).put(id, Held(cp, id, standing = true, reads = Set.empty))
    cp
  }

  private def register(df: DataFrame, standing: Boolean): DataFrame = {
    // a fresh frame over df's plan: df's own QueryExecution may have
    // been planned before the cache existed, and would never read it
    val persisted = ColumnBridge.ofRows(df.sparkSession, df.queryExecution.analyzed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val buffers = ColumnBridge.fillCache(persisted)
    val leaf = ColumnBridge.leaf(persisted)
    val reg = slotsOf(df)
    // a boundary whose cache was cleared behind our back (clearCache)
    // keeps only its tombstone: its origin's plan is not pinned
    val live = cached(df)
    reg.replaceAll((_, s) => s match {
      case h: Held if !live.contains(h.buffers) => Released
      case other => other
    })
    val inputs = leaves(df).toSet
    val reads = inputs ++ inputs.flatMap(id => Option(reg.get(id)).collect {
      case h: Held => h.reads
    }.getOrElse(Set.empty))
    val held = Held(persisted, buffers, standing, reads)
    leaves(leaf).foreach(reg.put(_, held))
    leaf
  }

  /** Unpersist and forget what `df` owns (see the object doc). */
  def release(df: DataFrame): Unit = {
    val reg = slotsOf(df)
    def held(id: Int): Option[Held] =
      Option(reg.get(id)).collect { case h: Held => h }
    var out = leaves(df).filter(held(_).isDefined).toSet
    var grown = true
    while (grown) {
      val others = reg.asScala.collect {
        case (id, h: Held) if !out(id) => h.reads
      }.flatten.toSet
      val more = out.flatMap(id => held(id).get.reads).filter(id =>
        !out(id) && !others(id) && held(id).exists(!_.standing))
      grown = more.nonEmpty
      out ++= more
    }
    out.foreach { id =>
      held(id).foreach { h =>
        h.origin.unpersist(blocking = false)
        // a generation's blocks are its checkpoint RDD's, not a cache
        cached(df).get(h.buffers).foreach(_.unpersist(blocking = false))
      }
      reg.put(id, Released)
    }
  }

  /** True when `df` reads at least one boundary and every boundary it
    * reads is still cached. A harness-side `clearCache()` drops them
    * behind our back; a memoizing caller must then rebuild. */
  def isLive(df: DataFrame): Boolean = {
    val reg = slotsOf(df)
    val slotsRead = leaves(df).flatMap(id => Option(reg.get(id)))
    lazy val live = cached(df)
    slotsRead.nonEmpty && slotsRead.forall {
      case h: Held => live.contains(h.buffers)
      case Released => false
    }
  }

  /** The persisted frame behind a boundary leaf (for specs). */
  private[graft] def origin(leaf: DataFrame): Option[DataFrame] =
    ColumnBridge.leafRddIds(leaf.queryExecution.analyzed).headOption
      .flatMap(id => Option(slotsOf(leaf).get(id)))
      .collect { case h: Held => h.origin }
}
