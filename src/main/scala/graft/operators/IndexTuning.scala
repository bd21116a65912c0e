package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index AUTO-RETUNE (r10 — the r8/r9 wishlist item): the recall
  * monitors (ann_recall / emb_recall / dedup_recall) close the
  * index-quality loop's MEASUREMENT half; this closes the ACTION
  * half. A serving index is built for the corpus it saw at land
  * time; as the corpus grows and drifts (appends land under the
  * FROZEN quantizer — [[Similarity.ivfIndexAppend]] validates that
  * on purpose), a fixed (nlists, nprobe) probes an ever-worse
  * partition of the data and recall sags. The loop here is the one
  * a production deployment schedules: measure recall on an audit
  * slice against exact ground truth; when it sags below target,
  * re-derive the parameters from the corpus's CURRENT size via the
  * documented occupancy rules, retrain the quantizer, and rebuild
  * the index in place.
  *
  * Occupancy rules (the engine-wide conventions, applied by every
  * index family here):
  *   - IVF: nlists = round(√N) — the √N rule ([[Dedup.autoCap]]'s
  *     rationale at the serving layer): per-list occupancy and list
  *     count grow together as √N, so probe cost per query is
  *     O(nprobe·√N) and neither the list scan nor the list ranking
  *     dominates. nprobe = ceil(probeFrac · nlists) — a constant
  *     FRACTION of the lists, so the probed mass tracks the corpus
  *     instead of shrinking relatively as nlists grows.
  *   - LSH: bits = ceil(log₂(N / targetOccupancy)) — 2^bits ∝ N at
  *     constant expected bucket occupancy, keeping every
  *     bucket-join candidate set linear in corpus size.
  *
  * Scale shape: measurement cost = |audit| × corpus (one exact pass
  * over the audit slice — the slice is SMALL and sampled, the
  * corpus never self-joins); retrain = kmeans++ on a bounded
  * deterministic sample + Lloyd refinement; rebuild = the one
  * assignment pass ivfIndexWrite always costs. Nothing here holds
  * driver state beyond the quantizer (nlists·dim doubles).
  */
object IndexTuning {

  final case class IvfParams(nlists: Int, nprobe: Int)

  /** Outcome of one monitor→retune cycle: the measured recall that
    * triggered (or cleared) the retune, and the parameter movement. */
  final case class RetuneReport(n: Long, before: IvfParams,
      recallBefore: Double, retuned: Boolean, after: IvfParams,
      recallAfter: Double, quantizer: Array[Array[Double]])

  /** The √N rule: nlists = round(√N) (clamped to [1, maxNlists]),
    * nprobe = ceil(probeFrac · nlists). */
  def ivfParamsFor(n: Long, probeFrac: Double = 0.125,
      maxNlists: Int = 1 << 16): IvfParams = {
    require(n >= 0 && probeFrac > 0.0 && probeFrac <= 1.0)
    val nlists = math.max(1, math.min(maxNlists.toLong,
      math.round(math.sqrt(n.toDouble)))).toInt
    IvfParams(nlists, math.max(1, math.ceil(probeFrac * nlists).toInt))
  }

  /** The constant-occupancy rule: smallest bits with
    * 2^bits ≥ N / targetOccupancy (clamped to [1, 62]). */
  def lshBitsFor(n: Long, targetOccupancy: Long = 32L): Int = {
    require(n >= 0 && targetOccupancy >= 1)
    val buckets = math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
    math.min(62, math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }

  /** Macro-averaged recall@k of the SERVED index against exact
    * brute-force ground truth over the same corpus — the ann_recall
    * monitor as a reusable reading on any audit slice. */
  def ivfIndexRecall(spark: SparkSession, table: String,
      quantizer: Array[Array[Double]], corpus: DataFrame,
      audit: DataFrame, idCol: String, vecCol: String,
      nprobe: Int, k: Int): Double = {
    val exact = Similarity.bruteForceTopK(corpus, audit, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val served = Similarity.ivfProbeIndex(spark, table, audit,
        idCol, vecCol, quantizer, nprobe, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    val per = exact.join(served, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(
        (sum(coalesce(col("__hit"), lit(0L)))
          / count(lit(1)).cast("double")).as("r"))
      .agg(avg(col("r")).as("recall"))
      .collect()
    if (per.isEmpty || per.head.isNullAt(0)) 1.0 // empty audit: nothing sags
    else per.head.getDouble(0)
  }

  /** One monitor→retune cycle over a LANDED IVF index
    * ([[Similarity.ivfIndexWrite]] / append lifecycle):
    *
    *  1. measure recall@k on the audit slice under the CURRENT
    *     (quantizer, nprobe);
    *  2. at or above `targetRecall` → no-op (the common cadence —
    *     measurement is the only cost);
    *  3. below target → re-derive (nlists, nprobe) from the corpus's
    *     CURRENT size via [[ivfParamsFor]], retrain the quantizer
    *     (seeded k-means++ on a bounded sample + `iters` Lloyd
    *     rounds), REBUILD the index table under the new quantizer,
    *     and re-measure.
    *
    * Deterministic end to end (seeded init, lowest-id tie-breaks),
    * so a re-run of the same cycle lands the same index. Returns the
    * full report; callers alert on `recallAfter` still below target
    * (data that √N lists cannot serve at this probeFrac — raise
    * probeFrac, the one knob the rule intentionally leaves free). */
  def retuneIvf(spark: SparkSession, table: String,
      quantizer: Array[Array[Double]], corpus: DataFrame,
      audit: DataFrame, idCol: String, vecCol: String,
      current: IvfParams, targetRecall: Double, k: Int,
      probeFrac: Double = 0.125, iters: Int = 3,
      sampleSize: Int = 4096, seed: Long = 42L,
      roundTo: Option[Int] = Some(6)): RetuneReport = {
    require(targetRecall > 0.0 && targetRecall <= 1.0)
    val before = ivfIndexRecall(spark, table, quantizer, corpus, audit,
      idCol, vecCol, current.nprobe, k)
    if (before >= targetRecall)
      RetuneReport(-1L, current, before, retuned = false, current,
        before, quantizer)
    else {
      val n = corpus.count()
      val next = ivfParamsFor(n, probeFrac)
      // the init sample must dominate the RE-DERIVED nlists, not the
      // caller's static default: at N ≳ 16.8M, √N exceeds 4096 and a
      // fixed sample would hard-fail kmeansPlusPlusInit's
      // sample ≥ k requirement exactly at the scale the loop targets
      val sampleN = math.max(sampleSize, 4 * next.nlists)
      val q2 = Similarity.kmeansCentroids(corpus, idCol, vecCol,
        next.nlists, iters,
        init = Some(Similarity.kmeansPlusPlusInit(corpus, idCol, vecCol,
          next.nlists, sampleN, seed)),
        roundTo = roundTo)
      // locked rebuild: drops any pending tombstone sibling (a stale
      // tombstone would silently hide rebuilt rows whose ids were once
      // removed) and excludes concurrent takedown/append interleaving
      Similarity.ivfIndexRebuild(spark, table, corpus, idCol, vecCol, q2)
      val after = ivfIndexRecall(spark, table, q2, corpus, audit,
        idCol, vecCol, next.nprobe, k)
      RetuneReport(n, current, before, retuned = true, next, after, q2)
    }
  }

  // ---- the SQ8 scalar-quantized index ----

  /** Outcome of one SQ8 drift monitor→rebuild cycle. */
  final case class Sq8RetuneReport(n: Long, driftBefore: Double,
      retuned: Boolean, mins: Array[Double], spans: Array[Double],
      driftAfter: Double)

  /** SQ8's retune loop — the ACTION half of the range-drift guard
    * [[Similarity.sq8IndexAppend]] enforces at ingest: each admitted
    * batch was individually within `maxDriftFrac`, but tolerated
    * drift ACCUMULATES — a corpus that slid past the frozen
    * quantization ranges serves saturated codes whose distances are
    * silently distorted. The cycle: measure the standing corpus's
    * out-of-range fraction under the CURRENT ranges (the same reading
    * the append guard takes, corpus-wide); at or under the threshold
    * → no-op; above → re-derive ranges from the corpus ([[Similarity.sq8Ranges]]
    * — one aggregate), REBUILD the index under them (locked,
    * tombstones cleared — [[Similarity.sq8IndexRebuild]]), re-measure
    * (0 by construction; reported, not assumed). Deterministic end to
    * end — ranges are exact min/max, no sampling. */
  def retuneSq8(spark: SparkSession, table: String, corpus: DataFrame,
      idCol: String, vecCol: String, mins: Array[Double],
      spans: Array[Double], maxDriftFrac: Double = 0.01): Sq8RetuneReport = {
    require(maxDriftFrac >= 0.0 && maxDriftFrac < 1.0)
    val before = Similarity.sq8RangeDriftFrac(corpus, vecCol, mins, spans)
    if (before <= maxDriftFrac)
      Sq8RetuneReport(-1L, before, retuned = false, mins, spans, before)
    else {
      val n = corpus.count()
      val (m2, s2) = Similarity.sq8Ranges(corpus, idCol, vecCol)
      Similarity.sq8IndexRebuild(spark, table, corpus, idCol, vecCol, m2, s2)
      val after = Similarity.sq8RangeDriftFrac(corpus, vecCol, m2, s2)
      Sq8RetuneReport(n, before, retuned = true, m2, s2, after)
    }
  }

  // ---- the LSH pair family (the embedding-LSH dedup index) ----

  final case class LshParams(bits: Int, tables: Int)

  /** Outcome of one LSH monitor→retune cycle. */
  final case class LshRetuneReport(n: Long, before: LshParams,
      recallBefore: Double, retuned: Boolean, after: LshParams,
      recallAfter: Double)

  /** The collision-bound rule — the LSH twin of [[ivfParamsFor]]:
    * smallest table count T with 1-(1-p)^T ≥ targetRecall, where
    * p = (1 - θ/π)^bits (θ = acos τ) is the single-table
    * sign-random-projection collision probability of a pair sitting
    * AT the accept threshold — the hardest pair the index is
    * contracted to find (Charikar '02; any pair above τ collides
    * strictly more often). bits controls COST (bucket occupancy, via
    * [[lshBitsFor]]); tables buy RECALL back at the chosen bits. */
  def lshTablesFor(bits: Int, tau: Double, targetRecall: Double,
      maxTables: Int = 64): Int = {
    require(tau > -1.0 && tau < 1.0,
      s"tau $tau outside (-1, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall $targetRecall outside (0, 1)")
    val p = math.pow(1.0 - math.acos(tau) / math.Pi, bits)
    if (p <= 0.0) maxTables
    else math.min(maxTables, math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt))
  }

  /** PAIR recall of a standing embedding-LSH index on an audit
    * slice: of the exact cosine-≥τ (corpus, audit) pairs, the
    * fraction the index's banded probe surfaces — the emb_recall
    * monitor as a reusable reading. Audit is SMALL and broadcast;
    * the corpus is scanned once for truth and probed through the
    * stored band table for the candidates — never self-joined. */
  def lshIndexRecall(index: Dedup.EmbeddingLshIndex, audit: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      probeRadius: Int = 0): Double = {
    import graft.functions.Vectors
    val a = audit.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val truth = index.vecs.crossJoin(broadcast(a))
      .filter(col("id") =!= col("qid") &&
        Vectors.cosine(col("v"), col("qv")) >= tau)
      .select(col("id").as("vec_a"), col("qid").as("vec_b"))
    val served = Dedup.embeddingProbe(index, audit, idCol, vecCol, tau,
      probeRadius)
    val hits = served.filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"), lit(1L).as("__hit"))
    val r = truth.join(hits, Seq("vec_a", "vec_b"), "left")
      .agg((sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
        / count(lit(1)).cast("double")).as("r"))
      .collect()
    Boundary.release(served)
    if (r.isEmpty || r.head.isNullAt(0)) 1.0 // no true pairs: nothing sags
    else r.head.getDouble(0)
  }

  /** One monitor→retune cycle over a DURABLE embedding-LSH index
    * ([[Dedup.embeddingIndexWrite]] lifecycle) — [[retuneIvf]] for
    * the pair family:
    *
    *  1. measure pair recall at the serving τ on the audit slice
    *     under the CURRENT (bits, tables);
    *  2. at or above `targetRecall` → no-op;
    *  3. below → re-derive bits from the corpus's CURRENT size via
    *     the occupancy rule ([[lshBitsFor]] — cost control first),
    *     tables from the collision bound at those bits
    *     ([[lshTablesFor]] — recall bought back), rebuild the saved
    *     tables under the new family, and re-measure.
    *
    * Why recall sags at all for LSH (unlike IVF there is no frozen
    * quantizer): appends land under the STAMPED hyperplane family at
    * the bits chosen for land-time N. As N grows the occupancy rule
    * wants more bits, but more bits per table cut the per-table
    * collision probability — an operator who raises bits without
    * re-deriving tables (or who landed tables for an easier τ) serves
    * a sagging index. The loop makes the pair move atomic and
    * rule-derived. Deterministic end to end (seeded hyperplanes). */
  def retuneLsh(spark: SparkSession, vecsTable: String, bandTable: String,
      corpus: DataFrame, audit: DataFrame, idCol: String, vecCol: String,
      dim: Int, seed: Long, current: LshParams, tau: Double,
      targetRecall: Double, targetOccupancy: Long = 32L,
      maxTables: Int = 64, probeRadius: Int = 0,
      buckets: Int = 16): LshRetuneReport = {
    require(targetRecall > 0.0 && targetRecall < 1.0)
    val ix = Dedup.embeddingIndexLoad(spark, vecsTable, bandTable,
      dim, current.bits, current.tables, seed)
    val before = lshIndexRecall(ix, audit, idCol, vecCol, tau, probeRadius)
    if (before >= targetRecall)
      LshRetuneReport(-1L, current, before, retuned = false, current, before)
    else {
      val n = corpus.count()
      val bits2 = lshBitsFor(n, targetOccupancy)
      val next = LshParams(bits2, lshTablesFor(bits2, tau, targetRecall,
        maxTables))
      Dedup.embeddingIndexWrite(corpus, idCol, vecCol, dim,
        next.bits, next.tables, seed, vecsTable, bandTable, buckets)
      val ix2 = Dedup.embeddingIndexLoad(spark, vecsTable, bandTable,
        dim, next.bits, next.tables, seed)
      val after = lshIndexRecall(ix2, audit, idCol, vecCol, tau, probeRadius)
      LshRetuneReport(n, current, before, retuned = true, next, after)
    }
  }
}
