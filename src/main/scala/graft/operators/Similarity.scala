package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.sources.{StampedTables, Tables}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2c).
  *
  * Baseline: brute-force cosine top-k with the query set broadcast —
  * exact, one pass over the corpus, no corpus shuffle. Scale path:
  * LSH-bucketed search — corpus and queries are signed into
  * random-hyperplane buckets; only same-bucket candidates are scored.
  * At 100 TB the bucket join replaces a full corpus scan per query
  * batch with a co-partitioned join on bucket id.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * The query side is broadcast (query batches are small relative to
    * the corpus); the corpus never shuffles. Per-query top-k is a
    * row_number window over (query, cosine desc) with an id tiebreak
    * for total ordering.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn2", Vectors.normSq(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn2", Vectors.normSq(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosineWithNorms(col("qv"), col("cv"),
          col("qn2"), col("cn2")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"), col("neighbor_id"))
  }

  /** Scalar-quantization (SQ8) top-k — the THIRD compression point on
    * the ANN memory/recall frontier (FAISS's IndexScalarQuantizer,
    * between full-precision flat and PQ): every corpus vector stores
    * as one byte per dimension (8× smaller than float64; at D=64 that
    * is 64 bytes vs 512), quantized per-dimension against the
    * corpus's [min, max] range, and queries score against the
    * DEQUANTIZED codes — no codebook training at all, which is what
    * makes SQ8 the default first compression step a serving stack
    * reaches for before committing to PQ.
    *
    * Train = ONE per-dimension min/max aggregate (2·D doubles of
    * driver state — broadcast-as-literal, the IVF-centroid pattern).
    * Encode: code_d = round((x_d − min_d)/span_d · 255), a pure
    * codegen'd projection, no shuffle. Score: dequantize in-row
    * (x̂_d = min_d + code_d/255·span_d) and rank exact cosine against
    * the broadcast queries — candidate generation scans codes only;
    * at 100 TB this is the 8× scan-bytes win, composable under an IVF
    * coarse layer exactly like PQ. A constant-dimension (span 0)
    * stores code 0 and dequantizes to the constant. Determinism: the
    * quantization arithmetic is mirrored term-for-term in the
    * oracle's list_transform, and ranking ties break on neighbor id. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val (mins, spans) = sq8Ranges(corpus, idCol, vecCol)
    sq8Rank(sq8Dequantized(corpus, idCol, vecCol, mins, spans),
      queries, idCol, vecCol, k)
  }

  /** The SQ8 "model": per-dimension [min, span] over the corpus —
    * ONE aggregate, 2·D doubles of driver state. */
  def sq8Ranges(corpus: DataFrame, idCol: String,
      vecCol: String): (Array[Double], Array[Double]) = {
    val mm = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("i").collect()
    (mm.map(_.getDouble(1)), mm.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  /** The ONE definition of SQ8 encode (clamped — an out-of-range
    * value under FROZEN ranges saturates, the FAISS SQ behavior):
    * code_d = clamp(round((x_d − min_d)/span_d · 255), 0, 255),
    * packed to 1 byte/dim by the native Sq8Pack. */
  private def sq8CodeCol(v: Column, mins: Array[Double],
      spans: Array[Double]): Column = {
    val params = array(mins.indices.map(i =>
      struct(lit(mins(i)).as("mn"), lit(spans(i)).as("s"))): _*)
    graft.functions.expr.NativeFunctions.sq8_pack(
      zip_with(v, params, (x, p) =>
        when(p("s") > lit(0.0),
          least(lit(255.0), greatest(lit(0.0),
            round((x - p("mn")) / p("s") * lit(255.0), 0))))
          .otherwise(lit(0.0))))
  }

  private def sq8Rows(src: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], spans: Array[Double]): DataFrame =
    src.select(col(idCol).as("neighbor_id"),
      sq8CodeCol(col(vecCol).cast("array<double>"), mins, spans).as("code"))

  /** Encode → decode through the SAME native pair the serving index
    * uses, so inline top-k and index probe are equal by construction. */
  private def sq8Dequantized(src: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], spans: Array[Double]): DataFrame =
    sq8Rows(src, idCol, vecCol, mins, spans)
      .select(col("neighbor_id"),
        graft.functions.expr.NativeFunctions
          .sq8_dequant(col("code"), mins.toSeq, spans.toSeq).as("dv"))

  private def sq8Rank(deq: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = deq.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qv"), col("dv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"))
  }

  private def sq8Props(mins: Array[Double], spans: Array[Double]): Map[String, String] =
    Map("dim" -> mins.length.toString,
      "rfp" -> modelFingerprint(Seq(mins.length),
        mins.iterator ++ spans.iterator))

  /** Land an SQ8 index: one `code` BINARY column per vector — 1
    * byte/dim, the 8× scan-bytes representation the operator's
    * scaladoc promises — bucketed on id (the remove/append joins read
    * pre-clustered buckets; probes scan codes flat). The quantization
    * ranges travel as a fingerprint stamp (the ivfIndexWrite
    * contract): codes are meaningless under any other ranges. */
  def sq8IndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], spans: Array[Double], table: String,
      buckets: Int = 16): Unit = {
    Tables.writeBucketed(sq8Rows(corpus, idCol, vecCol, mins, spans), table,
      "neighbor_id", buckets)
    StampedTables.stamp(corpus.sparkSession, Seq(table), "sq8",
      sq8Props(mins, spans) + ("buckets" -> buckets.toString))
  }

  /** Fraction of the batch's VALUES falling outside the stamped
    * [min, min+span] ranges — the drift reading that decides whether
    * frozen-range appends are still sound. */
  def sq8RangeDriftFrac(batch: DataFrame, vecCol: String,
      mins: Array[Double], spans: Array[Double]): Double = {
    val params = array(mins.indices.map(i =>
      struct(lit(mins(i)).as("mn"), lit(spans(i)).as("s"))): _*)
    val out = batch.select(
        aggregate(
          zip_with(col(vecCol).cast("array<double>"), params, (x, p) =>
            when(x < p("mn") || x > p("mn") + p("s"), 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("oob"),
        size(col(vecCol)).cast("long").as("n"))
      .agg(sum(col("oob")).as("oob"), sum(col("n")).as("n"))
      .collect().head
    if (out.isNullAt(1) || out.getLong(1) == 0L) 0.0
    else out.getLong(0).toDouble / out.getLong(1)
  }

  /** CONTINUOUS INGESTION for the landed SQ8 index — the
    * ivfIndexAppend contract PLUS a range-drift guard: quantization
    * ranges are frozen at build time, so a batch whose values drift
    * outside them would silently saturate to the range edge and
    * distort every distance it participates in. Appends measure the
    * batch's out-of-range fraction first and REFUSE above
    * `maxDriftFrac` — the refusal message names the fix (re-derive
    * ranges and rebuild: the [[IndexTuning]] retune posture, SQ8
    * edition). Within tolerance, clamp-encode and insert
    * (replay-idempotent; re-appends of removed ids re-admit). */
  def sq8IndexAppend(spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], spans: Array[Double],
      maxDriftFrac: Double = 0.0): Unit = {
    val buckets = annStamps(spark, table, "sq8", sq8Props(mins, spans))("buckets").toInt
    val drift = sq8RangeDriftFrac(batch, vecCol, mins, spans)
    require(drift <= maxDriftFrac,
      f"batch drifts outside the stamped quantization ranges " +
        f"($drift%.4f of values > maxDriftFrac=$maxDriftFrac%.4f): clamped " +
        "codes would silently distort distances — re-derive the ranges " +
        "and rebuild the index (the IndexTuning retune path)")
    appendIndexRows(spark, table, sq8Rows(batch, idCol, vecCol, mins, spans),
      buckets, bucketCol = "neighbor_id")
  }

  /** REBUILD the landed SQ8 index under NEW quantization ranges (the
    * drift-retune path) — the [[ivfIndexRebuild]] contract: locked
    * against concurrent takedown/append, re-bucketed to the stamped
    * physical spec, tombstone sibling dropped AFTER the overwrite
    * (stale tombstones would hide rebuilt rows whose ids were once
    * removed). */
  def sq8IndexRebuild(spark: org.apache.spark.sql.SparkSession, table: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], spans: Array[Double]): Unit =
    indexMutationLock.synchronized {
      sq8IndexWrite(corpus, idCol, vecCol, mins, spans, table,
        rebuildBuckets(spark, table, "sq8"))
      spark.sql(s"DROP TABLE IF EXISTS ${tombTable(table)}")
    }

  /** TAKEDOWN / compaction for the SQ8 index — the shared tombstone
    * machinery (see [[ivfIndexRemove]] / [[ivfIndexCompact]]). */
  def sq8IndexRemove(spark: org.apache.spark.sql.SparkSession, table: String,
      ids: DataFrame, idCol: String): Unit =
    removeIndexIds(spark, table, ids, idCol)

  def sq8IndexCompact(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    compactIndexTable(spark, table, "sq8", bucketCol = "neighbor_id")

  /** Probe a persisted SQ8 index — result-identical to [[sq8TopK]]
    * under the same ranges (the encode→pack→dequant path is literally
    * the same native expressions), minus the encode pass. */
  def sq8ProbeIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], spans: Array[Double], k: Int): DataFrame = {
    annStamps(spark, table, "sq8", sq8Props(mins, spans))
    val deq = storedRows(spark, table).select(col("neighbor_id"),
      graft.functions.expr.NativeFunctions
        .sq8_dequant(col("code"), mins.toSeq, spans.toSeq).as("dv"))
    sq8Rank(deq, queries, idCol, vecCol, k)
  }

  /** IVF-flat approximate top-k: a coarse quantizer (here: a
    * deterministic sample of corpus vectors as centroids — at scale,
    * k-means centroids trained offline) partitions the corpus into
    * inverted lists; each query probes its `nprobe` nearest lists and
    * reranks only those candidates exactly.
    *
    * Centroids are collected once at index-build time (small — this
    * is the same pattern as broadcasting a dimension table) and
    * embedded as literals, so both assignment and probing are pure
    * codegen'd column math over the native DotProduct. The corpus
    * shuffles once on the list id; queries broadcast.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, nprobe: Int, k: Int,
      quantizer: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = coarseCents(corpus, idCol, vecCol, nCentroids, quantizer)

    // norms once per row before the join, not once per candidate pair
    // (same pattern as bruteForceTopK/embeddingPairs)
    val cOut = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn2", Vectors.normSq(col("cv")))
      .withColumn("cid", nearestCid(cents, col("cv")))
    probeLists(cOut, queries, idCol, vecCol, cents, nprobe, k)
  }

  /** Coarse quantizer resolution shared by every IVF-family entry
    * point: a TRAINED centroid set when provided (the real index
    * build: kmeansCentroids with kmeansPlusPlusInit — balanced lists,
    * tighter probes), else the deterministic nCentroids lowest-id
    * vectors (the zero-training fallback). */
  private def coarseCents(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int,
      quantizer: Option[Array[Array[Double]]]): Array[(Int, Array[Double])] =
    quantizer match {
      case Some(q) =>
        require(q.length == nCentroids, s"quantizer has ${q.length}, want $nCentroids")
        q.zipWithIndex.map { case (c, i) => (i, c) }
      case None => corpus
        .select(col(idCol), col(vecCol).cast("array<double>"))
        .orderBy(col(idCol)).limit(nCentroids).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    }

  /** Stable content fingerprint of quantizer/codebook doubles plus
    * their shape ints — stamped into index-table properties at write
    * time and REQUIRED to match at probe time, so probing a persisted
    * index with different model state than it was built with fails
    * loudly instead of silently returning wrong neighbors (stored
    * assignments from one model, query-side ranking from another). */
  private[graft] def modelFingerprint(shape: Seq[Int],
      doubles: Iterator[Double]): String = {
    var h = 1125899906842597L
    shape.foreach(d => h = h * 31 + d)
    doubles.foreach(x =>
      h = h * -7046029254386353131L + java.lang.Double.doubleToLongBits(x))
    java.lang.Long.toHexString(h)
  }

  /** rank lists by L2: |v − c|² = |v|² − 2 v·c + |c|²; |v|² is
    * constant per row, so order by (|c|² − 2 v·c). Used on the QUERY
    * side only (a batch of queries ranks all lists to pick its nprobe
    * targets) — the corpus-sized assignment path goes through
    * [[nearestCid]]'s one-pass native kernel instead. */
  private def listRanks(cents: Array[(Int, Array[Double])], v: Column): Column =
    array(cents.map { case (cid, c) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * Vectors.dot(v,
        array(c.map(lit).toIndexedSeq: _*))).as("d"),
        lit(cid).as("cid"))
    }.toIndexedSeq: _*)

  /** Corpus-side IVF assignment: argmin cid by (|c|² − 2 v·c, cid).
    * One native expression reading the vector once (centroid matrix
    * as a reference object) instead of per-centroid literal arrays
    * re-materialized per row — `array_min(listRanks(…)).getField
    * ("cid")` was ann_ivf's dominant single-task second at sf0.1.
    * Same per-centroid left-fold accumulation and the same c2 sum,
    * so assignments are bit-identical (spec'd against the old form).
    * Every `cents` producer ([[coarseCents]], the quantizer
    * zipWithIndex paths) emits cid == array position; the require
    * pins that invariant rather than silently mis-mapping. */
  private def nearestCid(cents: Array[(Int, Array[Double])], v: Column): Column = {
    require(cents.zipWithIndex.forall { case ((cid, _), i) => cid == i },
      "nearestCid: centroid ids must equal array position")
    val dim = cents.head._2.length
    graft.functions.expr.NativeFunctions.nearest_centroid(v,
      cents.flatMap(_._2).toIndexedSeq,
      cents.map { case (_, c) => c.map(x => x * x).sum }.toIndexedSeq,
      dim, cents.length)
  }

  /** The IVF probe path over an ALREADY-ASSIGNED corpus frame
    * `(neighbor_id, cv, cn2, cid)`: queries rank lists, probe their
    * nprobe nearest, candidates rerank exactly. Shared by [[ivfTopK]]
    * (assignment inline) and [[ivfProbeIndex]] (assignment read from
    * a persisted index table). */
  private def probeLists(cOut: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])], nprobe: Int, k: Int): DataFrame = {
    val qOut = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn2", Vectors.normSq(col("qv")))
      .withColumn("probe",
        explode(slice(array_sort(listRanks(cents, col("qv"))), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("qn2"), col("probe.cid").as("cid"))

    val cand = cOut.join(broadcast(qOut), Seq("cid"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosineWithNorms(col("qv"), col("cv"),
          col("qn2"), col("cn2")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"), col("neighbor_id"))
  }

  /** Land an IVF index as a BUCKETED table clustered on the
    * inverted-list id: the corpus-wide assignment pass runs ONCE at
    * build time (the minhashIndex land-time pattern), and every later
    * query batch probes the stored `(neighbor_id, cv, cn2, cid)` rows
    * — no per-batch assignment recompute, and the cid bucketing means
    * a probe's list join needs no corpus shuffle ever. */
  /** The stored-row projection shared by [[ivfIndexWrite]] and
    * [[ivfIndexAppend]] — ONE definition of the assignment, so an
    * appended row is bit-identical to what a full rebuild would
    * store. */
  private def ivfRows(src: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame =
    src.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn2", Vectors.normSq(col("cv")))
      .withColumn("cid", nearestCid(cents, col("cv")))

  private def ivfProps(quantizer: Array[Array[Double]]): Map[String, String] = Map(
    "nlist" -> quantizer.length.toString,
    "dim" -> quantizer.headOption.map(_.length).getOrElse(0).toString,
    "qfp" -> modelFingerprint(
      Seq(quantizer.length), quantizer.iterator.flatten))

  def ivfIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]], table: String, buckets: Int = 16): Unit = {
    val cents = quantizer.zipWithIndex.map { case (c, i) => (i, c) }
    Tables.writeBucketed(ivfRows(corpus, idCol, vecCol, cents), table, "cid", buckets)
    // the quantizer travels with the table as a fingerprint (the
    // minhashIndexWrite param-stamping contract): stored cids are
    // meaningless under any other centroid set. The physical bucket
    // count is stamped too: appends, compactions and rebuilds read it.
    StampedTables.stamp(corpus.sparkSession, Seq(table), "ivf",
      ivfProps(quantizer) + ("buckets" -> buckets.toString))
  }

  /** CONTINUOUS INGESTION for the landed IVF index — the
    * minhashIndexAppend contract at the serving-index layer: assign
    * only the batch under the SAME stamped quantizer (validated — a
    * batch assigned under different centroids would land in the
    * wrong lists) and insert into the bucketed table.
    * Replay-idempotent: ids already stored are dropped, so a
    * re-delivered micro-batch is a no-op. Appending a previously
    * removed id RE-ADMITS it (its tombstone clears — the
    * minhash/embedding re-append semantics). */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]]): Unit = {
    val buckets = annStamps(spark, table, "ivf", ivfProps(quantizer))("buckets").toInt
    val cents = quantizer.zipWithIndex.map { case (c, i) => (i, c) }
    appendIndexRows(spark, table, ivfRows(batch, idCol, vecCol, cents), buckets)
  }

  /** TAKEDOWN for the landed IVF index: tombstone the ids so probes
    * stop returning them immediately (parquet tables don't delete
    * in place — the probe view anti-joins the takedown-sized
    * tombstone sibling, a broadcast), leaving the physical rewrite
    * to [[ivfIndexCompact]] on its own cadence. Unknown ids and
    * re-removal are no-ops. */
  def ivfIndexRemove(spark: org.apache.spark.sql.SparkSession, table: String,
      ids: DataFrame, idCol: String): Unit =
    removeIndexIds(spark, table, ids, idCol)

  /** Fold accumulated tombstones into the physical table: one
    * anti-join rewrite into a fresh bucketed table (props carried
    * over), then swap-by-rename and clear the tombstones. No-op
    * without tombstones. Probe results are identical before and
    * after — compaction is purely physical. */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    compactIndexTable(spark, table, "ivf")

  /** REBUILD a landed IVF index under a NEW quantizer (the retune
    * path): overwrite the table from `corpus` — the caller's current
    * truth, every row of which must be servable — then drop any
    * pending tombstone sibling, because a stale tombstone would keep
    * hiding rebuilt rows whose ids were once ivfIndexRemove'd (the
    * exact reason [[ivfIndexCompact]] drops the sibling after its
    * fold). Runs under the mutation lock so a concurrent
    * takedown/append cannot interleave with the overwrite; drop-AFTER-
    * overwrite keeps the crash windows safe (a crash between the two
    * leaves takedowns over-applied until the retune re-runs, never
    * removed ids resurrected). Re-buckets to the table's stamped
    * physical spec (the compact convention — a silent re-bucketing
    * would break later appends). */
  def ivfIndexRebuild(spark: org.apache.spark.sql.SparkSession, table: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]]): Unit =
    indexMutationLock.synchronized {
      ivfIndexWrite(corpus, idCol, vecCol, quantizer, table,
        rebuildBuckets(spark, table, "ivf"))
      spark.sql(s"DROP TABLE IF EXISTS ${tombTable(table)}")
    }

  /** Every key an ANN index table of `family` is stamped with. */
  private val annKeys = Map(
    "sq8" -> Seq("dim", "rfp", "buckets"),
    "ivf" -> Seq("nlist", "dim", "qfp", "buckets"),
    "ivfpq" -> Seq("nlist", "dim", "m", "kcent", "qfp", "cbfp", "buckets"))

  /** Validate an ANN index table's stamps against the caller's model
    * (`model`, empty to read every key back) and return the rest —
    * always including the physical bucket count, which appends,
    * compactions and rebuilds re-bucket to: Spark refuses an append
    * whose bucketing differs from the table's, and a silent
    * re-bucketing would break later appends. */
  private def annStamps(spark: org.apache.spark.sql.SparkSession, table: String,
      family: String, model: Map[String, String]): Map[String, String] =
    StampedTables.check(spark, Seq(table), family, model,
      annKeys(family).filterNot(model.contains))

  /** The bucket count a rebuild lands with: the table's stamped
    * count, or the write default for a table that does not exist. */
  private def rebuildBuckets(spark: org.apache.spark.sql.SparkSession,
      table: String, family: String): Int =
    if (spark.catalog.tableExists(table)) annStamps(spark, table, family, Map.empty)("buckets").toInt
    else 16

  /** Probe a persisted IVF index ([[ivfIndexWrite]]) — result-
    * identical to [[ivfTopK]] with the same quantizer (spec-proven),
    * minus the assignment pass. The caller's quantizer is validated
    * against the fingerprint stamped at write time; a mismatch (or a
    * table not written by [[ivfIndexWrite]]) throws. */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]], nprobe: Int, k: Int): DataFrame = {
    annStamps(spark, table, "ivf", ivfProps(quantizer))
    val cents = quantizer.zipWithIndex.map { case (c, i) => (i, c) }
    probeLists(storedRows(spark, table), queries, idCol, vecCol, cents, nprobe, k)
  }

  /** Tombstone sibling of a durable ANN index table: ids taken down
    * since the last compaction. */
  private def tombTable(table: String) = s"${table}__tombstones"

  private def indexTombstones(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[DataFrame] =
    if (spark.catalog.tableExists(tombTable(table)))
      Some(spark.table(tombTable(table)))
    else None

  /** The probe view of a stored index: physical rows minus pending
    * tombstones (takedown-sized — the anti-join broadcasts; zero
    * cost when no takedown has ever run). */
  private def storedRows(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val rows = spark.table(table)
    indexTombstones(spark, table)
      .map(t => rows.join(t, Seq("neighbor_id"), "left_anti"))
      .getOrElse(rows)
  }

  /** In-JVM mutual exclusion for the three table mutators: the docs
    * put remove on an immediate takedown feed and compact on its own
    * cadence — different threads — and an interleaved
    * read-modify-write of the tombstone sibling would silently lose
    * a takedown (the ClusterStream synchronized-mutator contract,
    * at the table layer). Cross-PROCESS writers remain the caller's
    * single-writer contract (the RunManifest stance). */
  private val indexMutationLock = new Object

  /** Idempotent bucketed insert shared by both ANN index families:
    * only ids not already stored land (replay-safe), and any
    * tombstone covering an appended id clears (re-admission). A
    * resurrected id is served from its STORED row — if the incoming
    * row differs (updated vector), the append REFUSES rather than
    * silently serving the stale stored vector: compact first, then
    * append the new row. The conflict check runs BEFORE any write,
    * so a refused append leaves the table and its tombstones
    * untouched — no partial commit to reason about. */
  private def appendIndexRows(spark: org.apache.spark.sql.SparkSession,
      table: String, rows: DataFrame, buckets: Int,
      bucketCol: String = "cid"): Unit =
    indexMutationLock.synchronized {
      val ids = rows.select("neighbor_id").distinct()
      // stale-vector guard first: takedown-sized — compare each
      // resurrected id's incoming row to its stored row (full-row
      // hash); the append below skips already-stored ids, so the
      // stored rows this check reads cannot change under it
      indexTombstones(spark, table).foreach { t =>
        val resurrected = t.join(ids, Seq("neighbor_id"), "left_semi")
        if (!resurrected.isEmpty) {
          val cols = rows.columns.sorted.toIndexedSeq.map(col(_))
          def rowHash(df: DataFrame, name: String) =
            df.join(resurrected, Seq("neighbor_id"), "left_semi")
              .select(col("neighbor_id"), hash(cols: _*).as(name))
          val conflicts = rowHash(rows.dropDuplicates("neighbor_id"), "__hi")
            .join(rowHash(spark.table(table), "__hs"), "neighbor_id")
            .filter(col("__hi") =!= col("__hs"))
          require(conflicts.isEmpty,
            s"re-append of removed id(s) with a row differing from the " +
              s"stored one (stale vector would be served): compact " +
              s"$table first, then append")
        }
      }
      rows.dropDuplicates("neighbor_id")
        .join(spark.table(table).select("neighbor_id"),
          Seq("neighbor_id"), "left_anti")
        .write.format("parquet").mode("append")
        .bucketBy(buckets, bucketCol).sortBy(bucketCol).saveAsTable(table)
      indexTombstones(spark, table).foreach { t =>
        val resurrected = t.join(ids, Seq("neighbor_id"), "left_semi")
        if (!resurrected.isEmpty) {
          // the localCheckpoint breaks lineage to the table being replaced
          val kept = t.join(ids, Seq("neighbor_id"), "left_anti")
            .localCheckpoint(true)
          kept.write.format("parquet").mode("overwrite")
            .saveAsTable(tombTable(table))
        }
      }
    }

  private def removeIndexIds(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame, idCol: String): Unit =
    indexMutationLock.synchronized {
      val idType = spark.table(table).schema("neighbor_id").dataType
      val del = ids.select(col(idCol).cast(idType).as("neighbor_id")).distinct()
      // only ids actually stored (unknown ids no-op), minus ids already
      // tombstoned (re-removal no-op) — the sibling stays duplicate-free
      val present = del.join(spark.table(table), Seq("neighbor_id"), "left_semi")
      indexTombstones(spark, table)
        .map(t => present.join(t, Seq("neighbor_id"), "left_anti"))
        .getOrElse(present)
        .write.format("parquet").mode("append").saveAsTable(tombTable(table))
    }

  private def compactIndexTable(spark: org.apache.spark.sql.SparkSession,
      table: String, family: String,
      bucketCol: String = "cid"): Unit = indexMutationLock.synchronized {
    indexTombstones(spark, table).foreach { tombs =>
      if (tombs.isEmpty) {
        // nothing pending (e.g. every takedown was re-admitted):
        // drop the empty sibling, skip the corpus-sized rewrite
        spark.sql(s"DROP TABLE IF EXISTS ${tombTable(table)}")
      } else {
        // the rewrite carries the stamps over and re-buckets to the
        // ORIGINAL stamped spec
        val stamps = annStamps(spark, table, family, Map.empty)
        // rewrite into a sibling then swap-by-rename: Spark cannot
        // overwrite a table from a plan that reads it, and the rename
        // keeps the swap a metadata operation (one physical pass total)
        val tmp = s"${table}__compacting"
        spark.sql(s"DROP TABLE IF EXISTS $tmp")
        Tables.writeBucketed(spark.table(table).join(tombs, Seq("neighbor_id"), "left_anti"),
          tmp, bucketCol, stamps("buckets").toInt)
        StampedTables.stamp(spark, Seq(tmp), family, stamps)
        // swap order keeps every crash window recoverable: rename the
        // live table ASIDE, rename the rewrite IN, only then drop the
        // old rows and the folded tombstones (dropping tombstones
        // FIRST would lose takedowns on a crash before the swap)
        val old = s"${table}__precompact"
        spark.sql(s"DROP TABLE IF EXISTS $old")
        spark.sql(s"ALTER TABLE $table RENAME TO $old")
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        spark.sql(s"DROP TABLE $old")
        spark.sql(s"DROP TABLE IF EXISTS ${tombTable(table)}")
      }
    }
  }

  /** Distributed Lloyd k-means over the embedding column — the
    * clustering that anchors semantic dedup, diversity sampling, and
    * IVF index training at corpus scale.
    *
    * Deterministic end to end: init = the k lowest-id vectors; ties in
    * assignment break to the lowest centroid id (struct-min over
    * (dist², cid)). Each iteration is (1) assignment — centroids
    * embedded as literals over the native DotProduct, pure codegen'd
    * column math, NO corpus shuffle — and (2) mean recompute — one
    * posexplode + (cluster, dim) aggregate with map-side combine, so
    * the shuffle carries k × dim partial sums per partition, not
    * vectors. Centroids (k × dim doubles) are the only driver-side
    * state — the same "small model state" pattern as broadcasting a
    * dimension table. Empty clusters keep their previous centroid.
    *
    * Returns (vec_id, cluster_id) — ids-only output keeps the result
    * float-order-independent (§5 determinism rule).
    */
  def kmeans(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, init: Option[Array[Array[Double]]] = None,
      roundTo: Option[Int] = None): DataFrame = {
    val vecs = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters, init, roundTo)
    vecs.select(col("vec_id"), assignCol(cents, col("v")).as("cluster_id"))
  }

  /** argmin_c |v − c|² via struct-min over (|c|² − 2 v·c, cid): |v|²
    * is constant per row and drops out of the argmin; ties break to
    * the lowest centroid id. Pure codegen'd column math over literal
    * centroids — NO corpus shuffle. */
  private[graft] def assignCol(cents: Array[Array[Double]], v: Column): Column =
    array_min(array(cents.zipWithIndex.map { case (c, cid) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * Vectors.dot(v,
        array(c.map(lit).toIndexedSeq: _*))).as("d"), lit(cid).as("cid"))
    }.toIndexedSeq: _*)).getField("cid")

  /** The Lloyd loop of [[kmeans]], returning the trained centroids —
    * the piece an IVF index build consumes directly. `init` defaults
    * to the k lowest-id vectors (deterministic, initialization-
    * quality-poor); pass [[kmeansPlusPlusInit]] for the seeded
    * D²-weighted start. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, init: Option[Array[Array[Double]]] = None,
      roundTo: Option[Int] = None): Array[Array[Double]] = {
    val vecs = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    var cents: Array[Array[Double]] = init.getOrElse(
      vecs.orderBy("vec_id").limit(k).collect().map(_.getSeq[Double](1).toArray))
    require(cents.length == k, s"init has ${cents.length} centroids, expected $k")
    // roundTo = Some(d): round each recomputed mean to d decimals —
    // the gate-determinism trade. Distributed double summation is
    // order-dependent at the ulp, so unrounded centroids are engine-
    // specific; rounding at the iteration edge (~1e-d perturbation,
    // far below cluster geometry) makes the whole Lloyd trajectory
    // reproducible in an independent engine for the hash oracle.
    for (_ <- 1 to iters) {
      val meanExpr = roundTo match {
        case Some(d) => round(avg(col("x")), d)
        case None    => avg(col("x"))
      }
      val byDim = vecs.withColumn("cluster_id", assignCol(cents, col("v")))
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos").agg(meanExpr.as("m"))
        .collect()
      val next = cents.map(_.clone())
      byDim.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      cents = next
    }
    cents
  }

  /** POWER-ITERATION top principal component of an embedding corpus —
    * the structure probe of embedding-space curation: a space
    * dominated by one direction (a "rogue dimension" from a
    * miscalibrated encoder, a language/domain axis) distorts every
    * cosine downstream; you monitor the dominant component, project
    * it out, or whiten against it before dedup/ANN.
    *
    * Deterministic and hash-gatable end to end (the emb_kmeans
    * contract): the per-dim mean and every iteration's sum vector
    * round at the iteration edge (distributed double summation is
    * order-dependent at the ulp; a 1e-6 perturbation is far below
    * component geometry), the start vector is the uniform unit
    * literal, and normalization folds the ROUNDED sum vector in
    * array order (list_inner_product parity both engines).
    *
    * Scale shape: per iteration, centering+scoring is one codegen'd
    * projected pass (zip_with minus + native dot against literals),
    * and the d-vector sum is posexplode → groupBy(pos) — (pos,
    * partial) map-combined to d rows, never a corpus shuffle. Driver
    * state is the d-vector per iteration — the kmeansCentroids
    * "small model state" pattern.
    *
    * @return (mean, component, eigenScale): `component` unit-norm at
    * `roundTo` dp; `eigenScale` = ‖Σ xc·(xc·v)‖ of the last
    * iteration — the UNNORMALIZED covariance scale (×N vs the
    * covariance eigenvalue), monotone in it, for monitoring. */
  def pcaTopComponent(corpus: DataFrame, vecCol: String, iters: Int,
      roundTo: Int = 6): (Array[Double], Array[Double], Double) = {
    require(iters >= 1, s"iters $iters must be >= 1")
    def rd(x: Double): Double = // Spark Round semantics for doubles
      java.math.BigDecimal.valueOf(x)
        .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()
    val vecs = Boundary.stage(corpus.select(col(vecCol).cast("array<double>").as("v")))
    val mean = vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(round(avg(col("x")), roundTo).as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val d = mean.length
    require(d > 0, "empty corpus: no dimensions to decompose")
    val muL = array(mean.map(lit).toIndexedSeq: _*)
    var comp = Array.fill(d)(rd(1.0 / math.sqrt(d.toDouble)))
    var eigenScale = 0.0
    for (_ <- 1 to iters) {
      val vl = array(comp.map(lit).toIndexedSeq: _*)
      val scored = vecs
        .select(zip_with(col("v"), muL, (a, b) => a - b).as("xc"))
        .withColumn("s", Vectors.dot(col("xc"), vl))
      val u = scored
        .select(col("s"), posexplode(col("xc")).as(Seq("pos", "x")))
        .groupBy("pos").agg(round(sum(col("x") * col("s")), roundTo).as("u"))
        .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
      // array-order fold — the list_inner_product association
      var n2 = 0.0
      var i = 0
      while (i < d) { n2 += u(i) * u(i); i += 1 }
      val nn = math.sqrt(n2)
      require(nn > 0.0, "degenerate corpus: zero variance along every start direction")
      eigenScale = nn
      comp = u.map(x => rd(x / nn))
    }
    Boundary.release(vecs)
    (mean, comp, eigenScale)
  }

  /** Per-vector projection + RESIDUAL against a trained component
    * ([[pcaTopComponent]]'s monitoring readout): `score` = xc·pc,
    * `residual` = √max(0, |xc|² − score²) — how much of each vector
    * the dominant direction does NOT explain. A low-residual vector
    * lives on the rogue axis (encoder artifact candidates); residual
    * distribution shifts are the drift signal the PCA monitor
    * watches. One codegen'd pass, no shuffle; all folds array-order
    * (oracle parity). */
  def pcaResiduals(corpus: DataFrame, idCol: String, vecCol: String,
      mean: Array[Double], comp: Array[Double]): DataFrame = {
    val muL = array(mean.map(lit).toIndexedSeq: _*)
    val vl = array(comp.map(lit).toIndexedSeq: _*)
    corpus
      .select(col(idCol),
        zip_with(col(vecCol).cast("array<double>"), muL, (a, b) => a - b).as("xc"))
      .select(col(idCol),
        Vectors.dot(col("xc"), vl).as("__s"),
        Vectors.dot(col("xc"), col("xc")).as("__n2"))
      .select(col(idCol),
        round(col("__s"), 4).as("score"),
        round(sqrt(greatest(lit(0.0),
          col("__n2") - col("__s") * col("__s"))), 4).as("residual"))
  }

  /** k-CENTER GREEDY coreset (farthest-point sampling — Gonzalez '85;
    * the diversity-selection backbone of active learning / coreset
    * data selection, Sener & Savarese '18): start from the lowest-id
    * vector, then k−1 times add the vector FARTHEST from the chosen
    * set (exact squared L2, ties to the lowest id). The chosen set is
    * a 2-approximation of the optimal k-center cover — the subset a
    * budgeted labeling/inspection pass should read first.
    *
    * Scale shape: each of the k steps is ONE projected aggregate over
    * the corpus (distances against ≤k literal centers + TakeOrdered
    * 1) — no shuffle, no cross join; driver state is k·dim doubles
    * (the kmeansCentroids pattern). Deterministic end to end: exact
    * double arithmetic in array-order folds, id tie-breaks — the
    * whole trajectory replays in SQL (ann_topk raw-double precedent).
    *
    * @return (chosen (id, vector) in selection order,
    *         assignment frame (vec_id, center_id, d2) — every vector
    *         labeled with its nearest chosen center and the exact
    *         squared distance rounded 6dp at the output edge). */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): (IndexedSeq[(Long, Array[Double])], DataFrame) = {
    require(k >= 1, s"k $k must be >= 1")
    val vecs = Boundary.stage(corpus.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v")))
    def d2To(c: Array[Double]): Column = {
      var cDot = 0.0
      var i = 0
      while (i < c.length) { cDot += c(i) * c(i); i += 1 }
      Vectors.dot(col("v"), col("v")) + lit(cDot) -
        lit(2.0) * Vectors.dot(col("v"), array(c.map(lit).toIndexedSeq: _*))
    }
    val first = vecs.orderBy(col("vec_id")).limit(1).collect().head
    val chosen = scala.collection.mutable.ArrayBuffer(
      (first.getLong(0), first.getSeq[Double](1).toArray))
    while (chosen.length < k) {
      val dmin = chosen.map(c => d2To(c._2)).reduce(least(_, _))
      val next = vecs.select(col("vec_id"), col("v"), dmin.as("__d"))
        .orderBy(col("__d").desc, col("vec_id")).limit(1).collect().head
      chosen += ((next.getLong(0), next.getSeq[Double](1).toArray))
    }
    val assign = vecs.select(col("vec_id"),
        array_min(array(chosen.map { case (cid, c) =>
          struct(d2To(c).as("d"), lit(cid).as("cid"))
        }.toIndexedSeq: _*)).as("__m"))
      .select(col("vec_id"), col("__m.cid").as("center_id"),
        round(col("__m.d"), 6).as("d2"))
    Boundary.release(vecs)
    (chosen.toIndexedSeq, assign)
  }

  /** Seeded k-means++ over a bounded deterministic sample: the
    * standard D²-weighted seeding (Arthur & Vassilvitskii '07) run
    * driver-side on `sampleSize` vectors picked by hash order
    * (xxhash64(id, seed) — content-independent, retry-stable, no
    * rand() in the plan). The sample is the same "small model state"
    * pattern as the IVF/PQ training collects: bounded by sampleSize,
    * never the corpus. Deterministic for a given (seed, corpus). */
  def kmeansPlusPlusInit(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleSize: Int, seed: Long): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("v"),
        xxhash64(col(idCol), lit(seed)).as("__r"), col(idCol))
      .orderBy(col("__r"), col(idCol)).limit(sampleSize)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"sample ${sample.length} smaller than k=$k")
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val cents = scala.collection.mutable.ArrayBuffer(sample(rnd.nextInt(sample.length)))
    val minD2 = sample.map(d2(_, cents.head))
    while (cents.length < k) {
      val total = minD2.sum
      val idx =
        if (total <= 0.0) rnd.nextInt(sample.length) // degenerate: all points coincide
        else {
          val r = rnd.nextDouble() * total
          var acc = 0.0; var i = 0
          while (i < sample.length - 1 && acc + minD2(i) < r) { acc += minD2(i); i += 1 }
          i
        }
      val c = sample(idx)
      cents += c
      var i = 0
      while (i < sample.length) {
        val d = d2(sample(i), c); if (d < minD2(i)) minD2(i) = d; i += 1
      }
    }
    cents.toArray
  }

  /** Within-cluster sum of squares for a given centroid set — the
    * objective Lloyd descends. One codegen'd pass (assignment +
    * distance against literals), one scalar agg; no corpus shuffle.
    */
  def inertia(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): Double = {
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v"))
    val assigned = vecs.withColumn("cid", assignCol(cents, col("v")))
    val centArr = array(cents.map(c =>
      array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    assigned
      .select(Vectors.l2sq(col("v"), element_at(centArr, col("cid") + 1)).as("d2"))
      .agg(sum(col("d2"))).collect()(0).getDouble(0)
  }

  /** LSH-bucketed approximate top-k: score only candidates sharing
    * the query's bucket under at least one of `tables` independent
    * hash tables (multi-probe via independent seeds). Recall is
    * tunable by (bits, tables); verified against bruteForceTopK in
    * the test suite. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, seed: Long, k: Int): DataFrame = {
    // adaptive strategy (the Clusters.connectedComponents pattern):
    // measured-tiny corpus+queries dispatch to one task; the kernel
    // reproduces the distributed output exactly (spec).
    val idType = corpus.schema(idCol).dataType
    val integralId = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val tagged = corpus.select(lit(false).as("q"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .unionAll(queries.select(lit(true).as("q"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")))
    if (Tier.pick("lsh_topk", Tier.Input, tagged, Tier.Rows(Dedup.LocalVecThreshold))(
        integralId)) {
      val spark = corpus.sparkSession
      import spark.implicits._
      return tagged.as[(Boolean, Long, Array[Double])]
        .coalesce(1)
        .mapPartitions(it =>
          LshLocal.topkRows(it, dim, bits, tables, seed, k))
        .toDF("query_id", "rnk", "neighbor_id")
        .select(col("query_id").cast(idType), col("rnk"),
          col("neighbor_id").cast(idType))
    }
    def sigTables(df: DataFrame, side: String): DataFrame =
      df.select(
        col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_v"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            Vectors.hyperplaneSig(col(vecCol), dim, bits, seed + t).as("bucket"))
        }: _*)).as("tb"))
        .select(col(s"${side}_id"), col(s"${side}_v"),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

    val qb = sigTables(queries, "query")
    val cb = sigTables(corpus, "neighbor")
    val cand = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"), col("query_v"), col("neighbor_v"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("query_v"), col("neighbor_v")).as("cos"))
    // (per-pair norms fine here: the bucket join already shrank the
    // candidate set; dedup before scoring keeps it minimal)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"), col("neighbor_id"))
  }

  /** Product-quantization top-k: the memory-bound ANN path. Each
    * corpus vector compresses to ONE packed long of `m` sub-centroid
    * codes plus its exact squared norm — 16 bytes instead of 8·D
    * (32× at D=64): the representation that lets a 100 TB embedding
    * corpus be scanned from a fraction of the storage, which is the
    * actual bottleneck of exhaustive ANN at scale.
    *
    * Train: per-subspace Lloyd on a deterministic lowest-id sample,
    * on the driver — the codebook (m·kCent·subDim doubles) is the
    * same "small model state as literals" pattern as the IVF coarse
    * quantizer. Encode: native [[graft.functions.expr.PqEncode]],
    * one pass, no shuffle. Score: per-QUERY the sub-dot-product
    * table is computed once (O(m·kCent·subDim) on the tiny broadcast
    * side); per CANDIDATE the approximate inner product is `m` array
    * lookups via native [[graft.functions.expr.PqAdc]] — no vector
    * math in the corpus-side hot loop at all. The ADC pass shortlists
    * `rerank` candidates per query; only those are reranked with the
    * exact cosine (the FAISS refine pattern — the full-vector fetch
    * is queries × rerank rows, never the corpus). Deterministic
    * end-to-end (sample, init, ties). Exact for any corpus the
    * codebook reconstructs perfectly (spec-tested); recall vs
    * [[bruteForceTopK]] spec-tested on the real embeddings.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      m: Int, kCent: Int, k: Int,
      trainSample: Int = 512, iters: Int = 8, rerank: Int = 50,
      roundTo: Option[Int] = None): DataFrame = {
    require(rerank >= k, "pqTopK: rerank shortlist must be at least k")
    import graft.functions.expr.NativeFunctions.{pq_adc, pq_encode}
    val (cb, subDim) =
      pqTrain(corpus, idCol, vecCol, m, kCent, trainSample, iters, roundTo)

    val codes = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .select(col("neighbor_id"),
        pq_encode(col("cv"), cb, m, kCent).as("code"),
        Vectors.normSq(col("cv")).as("cn2"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn2", Vectors.normSq(col("qv")))
      .withColumn("tbl", adcTable(cb, m, kCent, subDim, col("qv")))
      .select("query_id", "qn2", "tbl")

    val scored = codes.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        (pq_adc(col("code"), col("tbl"), m, kCent) /
          sqrt(col("qn2") * col("cn2"))).as("cos_approx"))
    // ADC shortlist → exact rerank of only `rerank` candidates per
    // query (the FAISS refine pattern): the full-vector fetch happens
    // for queries × rerank rows, never the corpus — at scale this is
    // the point: the exhaustive pass reads 16-byte codes, the exact
    // pass reads `rerank` full vectors per query
    val fullVecs = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn2", Vectors.normSq(col("cv")))
    exactRerank(adcShortlist(scored, rerank), fullVecs, queries, idCol, vecCol, k)
  }

  /** The driver-side per-subspace Lloyd trainer shared by [[pqTopK]]
    * and the IVF-PQ composite: codebook over the `trainSample`
    * lowest-id vectors (bounded "small model state", the same pattern
    * as the IVF coarse-quantizer collect). roundTo = Some(d) rounds
    * each recomputed sub-centroid mean to d decimals at the iteration
    * edge (HALF_UP — the decimal rule both Spark's round() and
    * DuckDB's round() implement), the kmeansCentroids determinism
    * trade that lets an independent engine re-derive the identical
    * codebook. Returns (flat codebook, subDim). */
  private[graft] def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCent: Int, trainSample: Int, iters: Int,
      roundTo: Option[Int]): (IndexedSeq[Double], Int) = {
    def edge(x: Double): Double = roundTo match {
      case Some(d) => BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
      case None    => x
    }
    val sample: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>"), col(idCol))
      .orderBy(col(idCol)).limit(trainSample).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain: empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val subDim = dim / m

    val codebook = new Array[Double](m * kCent * subDim)
    var mm = 0
    while (mm < m) {
      var cents = Array.tabulate(kCent)(i =>
        sample(i % sample.length).slice(mm * subDim, (mm + 1) * subDim))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kCent)(new Array[Double](subDim))
        val counts = new Array[Int](kCent)
        sample.foreach { s =>
          var best = 0; var bd = Double.MaxValue
          var kk = 0
          while (kk < kCent) {
            var d2 = 0.0; var dd = 0
            while (dd < subDim) {
              val df = s(mm * subDim + dd) - cents(kk)(dd); d2 += df * df; dd += 1
            }
            if (d2 < bd) { bd = d2; best = kk }
            kk += 1
          }
          counts(best) += 1
          var dd = 0
          while (dd < subDim) { sums(best)(dd) += s(mm * subDim + dd); dd += 1 }
        }
        cents = Array.tabulate(kCent)(kk =>
          if (counts(kk) > 0) sums(kk).map(x => edge(x / counts(kk))) else cents(kk))
        it += 1
      }
      var kk = 0
      while (kk < kCent) {
        System.arraycopy(cents(kk), 0, codebook, (mm * kCent + kk) * subDim, subDim)
        kk += 1
      }
      mm += 1
    }
    (codebook.toIndexedSeq, subDim)
  }

  /** Per-query ADC lookup table: sub-dot-products of the query's
    * subvectors against every sub-centroid — O(m·kCent·subDim) on the
    * tiny broadcast side, m array lookups per candidate after. */
  private def adcTable(cb: IndexedSeq[Double], m: Int, kCent: Int, subDim: Int,
      qv: Column): Column =
    array((0 until m).flatMap { mi =>
      (0 until kCent).map { kk =>
        Vectors.dot(
          slice(qv, mi * subDim + 1, subDim),
          array((0 until subDim).map(dd =>
            lit(cb((mi * kCent + kk) * subDim + dd))): _*))
      }
    }: _*)

  /** Top-`rerank` candidates per query by approximate cosine. */
  private def adcShortlist(scored: DataFrame, rerank: Int): DataFrame = {
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_approx").desc, col("neighbor_id"))
    scored.withColumn("arnk", row_number().over(wApprox))
      .filter(col("arnk") <= rerank)
      .select("query_id", "neighbor_id")
  }

  /** Exact-cosine top-k over a (query_id, neighbor_id) shortlist,
    * fetching full vectors only for shortlisted candidates.
    * `fullVecs` must carry (neighbor_id, cv, cn2). */
  private def exactRerank(shortlist: DataFrame, fullVecs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv2"))
      .withColumn("qn22", Vectors.normSq(col("qv2")))
    val exact = shortlist
      .join(fullVecs.select("neighbor_id", "cv", "cn2"), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosineWithNorms(col("qv2"), col("cv"),
          col("qn22"), col("cn2")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"), col("neighbor_id"))
  }

  /** IVF-PQ composite top-k — the FAISS-shape 100 TB ANN index. The
    * coarse quantizer partitions the corpus into inverted lists; each
    * corpus vector is stored as its list id + ONE packed long of PQ
    * codes + its exact norm. A query ranks the (tiny, literal)
    * centroid set, probes its `nprobe` nearest lists, ADC-scores ONLY
    * those lists' codes (m table lookups per candidate — no vector
    * math in the corpus hot loop), shortlists `rerank` candidates,
    * and exact-reranks just those. Relative to [[pqTopK]] the probe
    * skips (nCentroids − nprobe)/nCentroids of the corpus scan;
    * relative to [[ivfTopK]] the probed lists read 16-byte codes
    * instead of full vectors — compounding to the memory/IO shape
    * that makes exhaustive ANN viable at corpus scale.
    *
    * PQ codes encode the RAW vector (FAISS's by_residual=false
    * variant): encode/ADC stay one-codebook affairs, keeping the
    * whole pipeline — coarse assignment, codebook training
    * ([[pqTrain]] with edge-rounding), encode, ADC, rerank —
    * replayable in an independent engine for the hash gate.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, nprobe: Int, m: Int, kCent: Int, k: Int,
      trainSample: Int = 512, iters: Int = 8, rerank: Int = 50,
      quantizer: Option[Array[Array[Double]]] = None,
      roundTo: Option[Int] = None): DataFrame = {
    require(rerank >= k, "ivfPqTopK: rerank shortlist must be at least k")
    import graft.functions.expr.NativeFunctions.pq_encode
    val cents = coarseCents(corpus, idCol, vecCol, nCentroids, quantizer)
    val (cb, subDim) =
      pqTrain(corpus, idCol, vecCol, m, kCent, trainSample, iters, roundTo)
    val codes = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .select(col("neighbor_id"),
        nearestCid(cents, col("cv")).as("cid"),
        pq_encode(col("cv"), cb, m, kCent).as("code"),
        Vectors.normSq(col("cv")).as("cn2"))
    val fullVecs = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn2", Vectors.normSq(col("cv")))
    probePqLists(codes, fullVecs, queries, idCol, vecCol,
      cents, cb, m, kCent, subDim, nprobe, k, rerank)
  }

  /** The IVF-PQ probe path over already-encoded `codes`
    * (neighbor_id, cid, code, cn2): queries rank lists, ADC-score the
    * probed lists' codes, shortlist, exact-rerank from `fullVecs`.
    * Shared by [[ivfPqTopK]] (encode inline) and [[ivfPqProbeIndex]]
    * (encode read from the persisted index). */
  private def probePqLists(codes: DataFrame, fullVecs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])], cb: IndexedSeq[Double],
      m: Int, kCent: Int, subDim: Int, nprobe: Int, k: Int,
      rerank: Int): DataFrame = {
    import graft.functions.expr.NativeFunctions.pq_adc
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn2", Vectors.normSq(col("qv")))
      .withColumn("tbl", adcTable(cb, m, kCent, subDim, col("qv")))
      .withColumn("probe",
        explode(slice(array_sort(listRanks(cents, col("qv"))), 1, nprobe)))
      .select(col("query_id"), col("qn2"), col("tbl"), col("probe.cid").as("cid"))
    val scored = codes.join(broadcast(q), Seq("cid"))
      .select(col("query_id"), col("neighbor_id"),
        (pq_adc(col("code"), col("tbl"), m, kCent) /
          sqrt(col("qn2") * col("cn2"))).as("cos_approx"))
    exactRerank(adcShortlist(scored, rerank), fullVecs, queries, idCol, vecCol, k)
  }

  /** Land an IVF-PQ index as a cid-bucketed table: full vectors (the
    * rerank store), exact norms, coarse list ids, and packed PQ codes
    * — assignment and encode run ONCE at corpus-land time, and the
    * cid bucketing means a probe's list join needs no corpus shuffle.
    * Quantizer AND codebook fingerprints (plus shape params) are
    * stamped as table properties; [[ivfPqProbeIndex]] hard-fails on
    * any mismatch — stored cids/codes are meaningless under other
    * model state. */
  /** The stored-row projection shared by [[ivfPqIndexWrite]] and
    * [[ivfPqIndexAppend]] — one definition of assignment + encode. */
  private def ivfPqRows(src: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])], codebook: IndexedSeq[Double],
      m: Int, kCent: Int): DataFrame = {
    import graft.functions.expr.NativeFunctions.pq_encode
    src.select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .select(col("neighbor_id"), col("cv"),
        Vectors.normSq(col("cv")).as("cn2"),
        nearestCid(cents, col("cv")).as("cid"),
        pq_encode(col("cv"), codebook, m, kCent).as("code"))
  }

  def ivfPqIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]], codebook: IndexedSeq[Double],
      m: Int, kCent: Int, table: String, buckets: Int = 16): Unit = {
    val cents = quantizer.zipWithIndex.map { case (c, i) => (i, c) }
    Tables.writeBucketed(ivfPqRows(corpus, idCol, vecCol, cents, codebook, m, kCent),
      table, "cid", buckets)
    StampedTables.stamp(corpus.sparkSession, Seq(table), "ivfpq",
      ivfPqProps(quantizer, codebook, m, kCent) + ("buckets" -> buckets.toString))
  }

  /** [[ivfIndexAppend]] for the IVF-PQ family: batch-only assignment
    * AND encode under the stamped quantizer + codebook (both
    * fingerprint-validated), idempotent insert, tombstone
    * re-admission. */
  def ivfPqIndexAppend(spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]], codebook: IndexedSeq[Double],
      m: Int, kCent: Int): Unit = {
    val buckets = annStamps(spark, table, "ivfpq",
      ivfPqProps(quantizer, codebook, m, kCent))("buckets").toInt
    val cents = quantizer.zipWithIndex.map { case (c, i) => (i, c) }
    appendIndexRows(spark, table,
      ivfPqRows(batch, idCol, vecCol, cents, codebook, m, kCent), buckets)
  }

  /** [[ivfIndexRemove]] for the IVF-PQ family. */
  def ivfPqIndexRemove(spark: org.apache.spark.sql.SparkSession, table: String,
      ids: DataFrame, idCol: String): Unit =
    removeIndexIds(spark, table, ids, idCol)

  /** [[ivfIndexCompact]] for the IVF-PQ family. */
  def ivfPqIndexCompact(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    compactIndexTable(spark, table, "ivfpq")

  private def ivfPqProps(quantizer: Array[Array[Double]],
      codebook: IndexedSeq[Double], m: Int, kCent: Int): Map[String, String] = Map(
    "nlist" -> quantizer.length.toString,
    "dim" -> quantizer.headOption.map(_.length).getOrElse(0).toString,
    "m" -> m.toString,
    "kcent" -> kCent.toString,
    "qfp" -> modelFingerprint(Seq(quantizer.length), quantizer.iterator.flatten),
    "cbfp" -> modelFingerprint(Seq(m, kCent, codebook.length), codebook.iterator))

  /** Probe a persisted IVF-PQ index ([[ivfPqIndexWrite]]) — result-
    * identical to [[ivfPqTopK]] with the same model state
    * (spec-proven), minus assignment and encode. Caller-supplied
    * quantizer and codebook are validated against the stamped
    * fingerprints. */
  def ivfPqProbeIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, idCol: String, vecCol: String,
      quantizer: Array[Array[Double]], codebook: IndexedSeq[Double],
      m: Int, kCent: Int, nprobe: Int, k: Int, rerank: Int = 50): DataFrame = {
    annStamps(spark, table, "ivfpq", ivfPqProps(quantizer, codebook, m, kCent))
    val cents = quantizer.zipWithIndex.map { case (c, i) => (i, c) }
    val dim = quantizer.headOption.map(_.length).getOrElse(0)
    require(m > 0 && dim % m == 0, s"ivfPqProbeIndex: dim $dim not divisible by m=$m")
    val idx = storedRows(spark, table)
    probePqLists(idx.select("neighbor_id", "cid", "code", "cn2"),
      idx.select("neighbor_id", "cv", "cn2"), queries, idCol, vecCol,
      cents, codebook, m, kCent, dim / m, nprobe, k, rerank)
  }
}
