package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Text, Vectors}

/** Deduplication family for LLM training corpora (SURVEY.md §2c).
  *
  * Scale shape for every near-dup variant: build an inverted index
  * (doc → shingle/band/bucket), self-join on the index key, verify
  * candidates exactly. Never an O(n²) cross-join. Hot index keys are
  * capped (document-frequency cut) so no single bucket goes quadratic
  * — at 100 TB a stopword shingle would otherwise collect millions of
  * docs and the join would never finish.
  */
object Dedup {

  /** Corpus-size bar for [[embeddingPairsLsh]]'s single-task
    * dispatch ([[LshLocal]]) — the vector analogue of
    * [[Clusters.LocalEdgeThreshold]]. 2^12 vectors × 64 dims
    * is ~2 MB of doubles and ≤ ~1M bucket-mate cosine verifies at
    * the default (bits=4, tables=8) — well under one task's scan
    * budget, while sf1's 20k-vector corpus (and anything bigger)
    * already takes the distributed path. */
  private[operators] val LocalVecThreshold: Long = 1L << 12

  /** Stats-derived hot-key cap — the cbo_stats wiring for the dedup
    * family: `max(50, ceil(sqrt(N)))` where N is the corpus row
    * count. Rationale: a bucket (shingle posting list, blocking
    * block) of b members costs b² candidate-pair work, so capping
    * b at √N bounds ANY single bucket's quadratic blowup by one
    * linear corpus pass — the work budget a scan already pays. The
    * floor keeps toy corpora from over-pruning. N comes from catalog
    * stats when available (requires an ANALYZEd table AND CBO
    * enabled — sources.Stats.analyze/enableCbo); otherwise this
    * falls back to ONE count() job over the frame at operator-build
    * time — cheap next to the dedup job itself, but a real extra
    * scan: land + ANALYZE the corpus to make it free. The cap
    * auto-scales with the corpus (spec: grows sf0.01 → sf0.1), and
    * the oracle mirrors the √N rule structurally, so parity holds at
    * any scale. STALENESS CONTRACT for the stats path: catalog stats
    * describe the table as last ANALYZEd — re-landing or appending
    * data without re-running ANALYZE shifts the derived cap away from
    * ceil(sqrt(actual N)) (and away from an exact-count oracle
    * replay); the cbo_stats layer's own rule — ANALYZE after every
    * land — keeps the two identical. The driver's oracle gate reads
    * bare parquet frames, where N is always the exact count. */
  def autoCap(docs: DataFrame): Int = {
    val plan = docs.queryExecution.optimizedPlan
    // trust catalog stats only when the frame IS the analyzed
    // relation: any operator above a leaf makes rowCount a Catalyst
    // ESTIMATE (filter selectivity guesses), which would silently
    // shift the cap away from ceil(sqrt(actual N)) — and away from
    // the oracle's exact-count replay
    val n = plan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode =>
        plan.stats.rowCount.map(_.toLong).getOrElse(docs.count())
      case _ => docs.count()
    }
    math.max(50, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** Hot-bucket cap policy for the pair operators ([[ngramJaccardPairs]]
    * maxDf, [[substringDupSpans]] maxDf, [[editDistancePairs]]
    * maxBlock): [[CapPolicy.Auto]] = the stats-derived [[autoCap]]
    * (costs one count() job at operator-build time when no exact
    * stats exist), [[CapPolicy.Off]] = no pruning AND no stats/count
    * job, [[CapPolicy.Fixed]] = an explicit cap. A dedicated
    * three-state knob rather than Option so "disable pruning" stays
    * expressible without the Some(Int.MaxValue) idiom. */
  sealed trait CapPolicy
  object CapPolicy {
    case object Auto extends CapPolicy
    case object Off extends CapPolicy
    final case class Fixed(n: Int) extends CapPolicy {
      require(n > 0, s"cap must be positive, got $n")
    }
  }

  private def resolveCap(docs: DataFrame, cap: CapPolicy): Int = cap match {
    case CapPolicy.Auto     => autoCap(docs)
    case CapPolicy.Off      => Int.MaxValue
    case CapPolicy.Fixed(n) => n
  }

  /** Exact content dedup: hash → (survivor id, multiplicity).
    * groupBy(md5) has map-side partial aggregation; the only shuffle
    * carries (16-byte hash, id) pairs, not documents. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count("*").as("n_copies"))

  /** Near-dup pairs by exact word-k-gram Jaccard >= tau.
    *
    * Inverted-index join: distinct (doc, shingle) exploded, self-join
    * on shingle (one shuffle, co-partitioned), count shared shingles
    * per pair, then Jaccard from per-doc shingle counts. `maxDf` drops
    * shingles appearing in more documents (they cannot discriminate
    * and they generate the quadratic bucket blowup). Default = the
    * stats-derived [[autoCap]] (√N rule, [[CapPolicy.Auto]]); pass
    * [[CapPolicy.Off]] to disable pruning outright (no count job).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, tau: Double, maxDf: CapPolicy = CapPolicy.Auto): DataFrame = {
    val dfCap = resolveCap(docs, maxDf)
    // carry 8-byte shingle hashes through the join, not strings: the
    // native single-pass ShingleHashes expression replaces an
    // interpreted HOF pipeline (~30× on the shingling stage), the
    // shuffle is 3× smaller, and equality is a long compare (collision
    // odds over a shingle vocabulary are ~|V|²/2^64 — immaterial).
    // The index is a filled boundary: it feeds both self-join sides
    // and both size lookups (Catalyst would otherwise re-scan and
    // re-shingle the corpus four times), and AQE's concurrent
    // exchange jobs (hot-df, both join sides, sizes) then read the
    // cache instead of racing to compute the scan+shingle partition.
    val sh = Boundary.stage(shingleIndexOf(docs, idCol, textCol, k))
    val out = ngramJaccardPairsFromIndex(sh, dfCap, tau)
    Boundary.release(sh)
    out
  }

  /** The (doc_id, s) inverted shingle index both token-space dedup
    * pipelines start from — exact Jaccard AND MinHash read the same
    * exploded hash stream, which is why a caller running both over
    * one corpus (dedup_recall's truth-vs-candidates audit) can build
    * it ONCE, stage it, and feed both ([[ngramJaccardPairsFromIndex]]
    * + [[minhashLshPairsFromShingles]]) instead of paying the
    * scan+shingle pass twice (guide §1.2: same bytes, same
    * expression, one computation). */
  private[graft] def shingleIndexOf(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.expr.NativeFunctions
        .shingle_hashes(col(textCol), k)).as("s"))

  /** [[ngramJaccardPairs]] from a PRE-BUILT (doc_id, s) shingle index
    * the caller staged ([[Boundary]]) and releases; the returned pair
    * frame is filled here, so the index is releasable the moment this
    * returns. */
  private[graft] def ngramJaccardPairsFromIndex(sh: DataFrame, dfCap: Int,
      tau: Double): DataFrame = {
    val shPruned =
      if (dfCap == Int.MaxValue) sh
      else {
        val hot = sh.groupBy("s").agg(count("*").as("df")).filter(col("df") > dfCap).select("s")
        sh.join(broadcast(hot), Seq("s"), "left_anti")
      }
    // sizes from the PRUNED universe: shared counts and set sizes must
    // describe the same shingle space or Jaccard is biased low and
    // true near-dup pairs get silently dropped
    val sizes = shPruned.groupBy("doc_id").agg(count("*").as("n_sh"))
    // shuffled-hash, not sort-merge, for the index self-join (r14
    // same-JVM A/B: 1.8-2.3 s -> 1.1-1.5 s on the full stage): both
    // sides are already hash-partitioned on s, the sorts are pure
    // overhead, and the build side is SAFE by construction - the
    // df-cap bounds per-key fan-out and per-partition build memory is
    // index/shuffle.partitions (the usual sizing knob); AQE's skew
    // split covers shuffled-hash joins too
    val shared = shPruned.as("a")
      .join(shPruned.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count("*").as("shared"))
    val out = shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // the result (tiny next to the corpus) is a [[Boundary]] leaf,
    // filled before the corpus-sized index is released
    Boundary.stage(out)
  }

  /** Directed CONTAINMENT near-dup pairs — the asymmetric cousin of
    * [[ngramJaccardPairs]]: c(inner→outer) = |S_inner ∩ S_outer| /
    * |S_inner|. Jaccard misses NESTED duplication by construction (a
    * short article quoted whole inside a long roundup has tiny
    * |∩|/|∪| but containment ≈ 1 — the case web-corpus dedup actually
    * meets: syndication wrappers, quote-posts, boilerplate-framed
    * reprints). One row per ORDERED (doc_inner, doc_outer) pair with
    * c ≥ `tauC`; doc_inner is the covered side — the candidate to
    * drop or span-strip (compose with [[substringDupSpans]] for the
    * partial-overlap form).
    *
    * Same scale machinery as the Jaccard operator, shared by
    * construction: the pruned 8-byte-hash inverted index, the
    * stats-derived √N hot-shingle cap, sizes from the PRUNED
    * universe, one a<b bucket join — both directions derive from the
    * single shared-count row, so containment costs ZERO extra
    * shuffles over Jaccard. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, tauC: Double, maxDf: CapPolicy = CapPolicy.Auto): DataFrame = {
    val dfCap = resolveCap(docs, maxDf)
    // a filled boundary: see ngramJaccardPairs
    val sh = Boundary.stage(shingleIndexOf(docs, idCol, textCol, k))
    val shPruned =
      if (dfCap == Int.MaxValue) sh
      else {
        val hot = sh.groupBy("s").agg(count("*").as("df"))
          .filter(col("df") > dfCap).select("s")
        sh.join(broadcast(hot), Seq("s"), "left_anti")
      }
    val sizes = shPruned.groupBy("doc_id").agg(count("*").as("n_sh"))
    // shuffled-hash, not sort-merge, for the index self-join (r14
    // same-JVM A/B: 1.8-2.3 s -> 1.1-1.5 s on the full stage): both
    // sides are already hash-partitioned on s, the sorts are pure
    // overhead, and the build side is SAFE by construction - the
    // df-cap bounds per-key fan-out and per-partition build memory is
    // index/shuffle.partitions (the usual sizing knob); AQE's skew
    // split covers shuffled-hash joins too
    val shared = shPruned.as("a")
      .join(shPruned.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count("*").as("shared"))
    val both = shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
    // both directions in ONE pass: a unionByName of two selects over
    // the un-persisted join subtree makes AQE plan and run the whole
    // shared-count pipeline TWICE (measured 54 driver jobs vs the
    // Jaccard operator's 31, ~2× the wall cost); exploding a 2-element
    // array of direction structs reads each joined row once. r17: the
    // τ gate runs BEFORE the explode (c(either direction) ≥ τ iff
    // shared ≥ τ·min(n_a, n_b)), so the candidate-pair-sized frame
    // pays one scalar compare per row — the Jaccard operator's cost —
    // and only the surviving pairs are doubled into direction rows
    // (the per-direction re-check then drops a survivor's failing
    // side; both-pass survivors emit both rows, exactly as before).
    // The gate is slack by half a 4dp ulp PLUS a guard epsilon: the
    // authoritative filter below compares the ROUNDED ratio, and a
    // raw ratio up to 0.00005 under τ still rounds up to it — the
    // gate must keep everything that filter can accept, and at an
    // exact half-boundary the product form (τ−ε)·min and the
    // quotient form shared/min can disagree by an ulp, so the slack
    // is widened to 0.6e-4 (extra survivors only re-face the rounded
    // filter; none can be wrongly dropped).
    val out = both
      .filter(col("shared") >=
        lit(tauC - 0.6e-4) * least(col("n_a"), col("n_b")))
      .select(explode(array(
        struct(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
          round(col("shared") / col("n_a"), 4).as("containment")),
        struct(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
          round(col("shared") / col("n_b"), 4).as("containment")))).as("p"))
      .select(col("p.doc_inner"), col("p.doc_outer"), col("p.containment"))
      .filter(col("containment") >= tauC)
    val result = Boundary.stage(out)
    Boundary.release(sh)
    result
  }

  /** Exploded content-defined chunks of a corpus: one row per chunk,
    * `(doc_id, chunk_hash, chunk_len)` — the
    * [[graft.functions.expr.CdcChunkHashes]] primitive lifted to the
    * relational layer. One corpus scan, explode per CHUNK (≈ D×
    * fewer rows than a per-window explode), nothing shuffled yet —
    * downstream consumers group on the 8-byte chunk hash. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 4, modD: Int = 8): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.expr.NativeFunctions
          .cdc_chunk_hashes(col(textCol), w, modD)).as("c"))
      .select(col("doc_id"), col("c.hash").as("chunk_hash"),
        col("c.len").as("chunk_len"))

  /** Cross-document DUPLICATED chunks under content-defined chunking
    * — the storage-dedup dial applied to corpus curation: a chunk
    * hash shared by ≥2 documents marks a copied passage, and because
    * boundaries are content-derived the detection survives the
    * prefix/infix edits that shift every fixed-stride window.
    * `minLen` suppresses short chunks (a small-vocabulary corpus
    * duplicates 1-2-word chunks by chance; they carry no signal).
    *
    * Scale shape: scan → chunk-explode (≈ tokens/D rows) → one
    * groupBy on the 8-byte hash. No self-join anywhere — the
    * candidate structure IS the group, so cost is linear in corpus
    * size regardless of duplication density (the inverted-index
    * argument, one step cheaper). */
  def cdcDuplicateChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 4, modD: Int = 8, minLen: Int = 4): DataFrame =
    cdcChunks(docs, idCol, textCol, w, modD)
      .filter(col("chunk_len") >= minLen)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** Per-document CDC duplication profile: how much of each document
    * is made of chunks that also appear in OTHER documents —
    * `dup_ratio` is the doc-level gate a curation pass thresholds on
    * (the Lee et al. "fraction duplicated" signal at chunk
    * granularity). `n_chunks` counts ALL chunks (the denominator a
    * ratio needs); `n_dup` counts occurrences of ≥`minLen`-word
    * chunks whose hash is cross-document duplicated. The duplicated-
    * hash set joins back hash-to-hash (co-partitioned with the
    * groupBy that built it), then one aggregation per doc. */
  def cdcDocStats(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 4, modD: Int = 8, minLen: Int = 4): DataFrame = {
    val chunks = Boundary.stage(cdcChunks(docs, idCol, textCol, w, modD))
    val dupSet = chunks
      .filter(col("chunk_len") >= minLen)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("chunk_hash"), lit(1L).as("__dup"))
    val out = chunks
      .join(dupSet, Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup").isNotNull && col("chunk_len") >= minLen, 1L)
          .otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio", round(col("n_dup") / col("n_chunks"), 4))
    val result = Boundary.stage(out)
    Boundary.release(chunks)
    result
  }

  /** MinHash signature over an in-row shingle array — used for
    * small-side/test paths. NOTE: higher-order functions evaluate
    * interpreted (no codegen); the operator path below uses the
    * relational explode+groupBy form instead, which is ~10× faster
    * and shuffles only (hash, id) pairs. */
  def minhashSignature(shingleArr: Column, perms: Int): Column =
    array((0 until perms).map { i =>
      array_min(transform(shingleArr, s => xxhash64(lit(i), s)))
    }: _*)

  /** Relational MinHash signatures: one row per (doc, shingle), one
    * MinHashAgg sketch aggregate per doc — partial aggregation
    * map-side, one shuffle carrying serialized 1 KB sketch buffers.
    * (128 separate min() aggregates instead generate an update method
    * past the JIT's HugeMethodLimit — the stage never compiles and
    * runs ~10× slower.) */
  private def minhashSigsRelational(sh: DataFrame, perms: Int): DataFrame =
    sh.groupBy("doc_id").agg(
      graft.functions.expr.SketchAggregates.minhash_agg(col("s"), perms).as("sig"))

  /** MinHash + banded LSH candidate pairs, verified by signature
    * agreement.
    *
    * signatures → band hashes (explode: one row per band) → self-join
    * on (band, bandHash) — only docs agreeing on a whole band collide
    * — → distinct pairs → verify estimated Jaccard (fraction of equal
    * signature slots) >= tau. Linear in corpus size for fixed
    * collision rates; the band join is the standard sub-quadratic
    * MinHash-LSH from Broder '97 / MMDS ch.3.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, perms: Int, bands: Int, tau: Double): DataFrame =
    minhashLshPairsFromShingles(
      shingleIndexOf(docs, idCol, textCol, k), perms, bands, tau)

  /** [[minhashLshPairs]] from a (doc_id, s) shingle stream — lazy or
    * staged ([[shingleIndexOf]]); the public form passes the
    * lazy stream (the sig aggregation is its ONLY consumer, so
    * caching it would be a pure write cost), while a caller that also
    * runs the exact-Jaccard pipeline over the same corpus passes its
    * staged index and the corpus is scanned+shingled once
    * for both. */
  private[graft] def minhashLshPairsFromShingles(sh: DataFrame,
      perms: Int, bands: Int, tau: Double): DataFrame = {
    require(perms % bands == 0, "bands must divide perms")
    // staged: feeds both band-join sides and the final verify
    val sigs = Boundary.stage(minhashSigsRelational(sh, perms))
    val candIds = selfCandidates(bandedOf(sigs, perms, bands))
    val result = Boundary.stage(verifyPairs(candIds, sigs, sigs, perms, tau))
    Boundary.release(sigs)
    result
  }

  /** MinHash signatures (doc_id, sig) — the persistable dedup INDEX.
    * Shingle hashes come from the native single-pass expression; the
    * perms re-mix the 8-byte hash, so string bytes are touched once.
    */
  def minhashSigsOf(docs: DataFrame, idCol: String, textCol: String,
      k: Int, perms: Int): DataFrame =
    minhashSigsRelational(shingleIndexOf(docs, idCol, textCol, k), perms)

  /** ids-only band table: the 1 KB signature arrays stay out of the
    * exploded band table and its shuffle; they're re-attached only to
    * surviving candidate pairs. Band hash = variadic xxhash64 over
    * the band's raw longs — no slice, no array→string cast (that cast
    * alone cost ~1 s/pass at sf0.1). */
  private[graft] def bandedOf(sigs: DataFrame, perms: Int, bands: Int): DataFrame = {
    val rows = perms / bands
    sigs.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(lit(b) +: (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)): _*).as("bh"))
      }: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
  }

  private[graft] def verifyPairs(candIds: DataFrame, sigsA: DataFrame, sigsB: DataFrame,
      perms: Int, tau: Double): DataFrame =
    candIds
      .join(sigsA.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigsB.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, lit(1)).otherwise(lit(0))), v => v === 1))
          / lit(perms.toDouble), 4))
      .filter(col("est_jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))

  /** Incremental MinHash-LSH: near-dups of an incoming BATCH against
    * an existing CORPUS — the continuous-ingestion dedup shape. The
    * corpus side is the reusable index ([[minhashSigsOf]] persisted at
    * land time in production; recomputed here); the batch bands are
    * BROADCAST into the index join, so the corpus is scanned but
    * never shuffled for a probe, and candidate volume is ∝ batch.
    *
    * @return (doc_a = corpus id, doc_b = batch id, est_jaccard).
    */
  def minhashLshIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      k: Int, perms: Int, bands: Int, tau: Double): DataFrame = {
    require(perms % bands == 0, "bands must divide perms")
    val sigsC = Boundary.stage(minhashSigsOf(corpus, idCol, textCol, k, perms))
    val sigsB = Boundary.stage(minhashSigsOf(batch, idCol, textCol, k, perms))
    val candIds = bandedOf(sigsC, perms, bands).as("a")
      .join(broadcast(bandedOf(sigsB, perms, bands)).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val result = Boundary.stage(verifyPairs(candIds, sigsC, sigsB, perms, tau))
    Boundary.release(sigsC)
    Boundary.release(sigsB)
    result
  }

  /** A STANDING MinHash-LSH index: persisted signatures + band table,
    * built once at corpus-land time and probed by any number of later
    * batches ([[minhashProbe]]) without ever recomputing or shuffling
    * the corpus side — the index [[minhashLshIncremental]] describes,
    * materialized. Callers own the lifecycle: `release()` when done.
    */
  final case class MinhashIndex(sigs: DataFrame, banded: DataFrame,
      k: Int, perms: Int, bands: Int) {
    def release(): Unit = {
      Boundary.release(banded)
      Boundary.release(sigs)
    }
  }

  /** Build (and materialize) the standing index for a corpus. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, perms: Int, bands: Int): MinhashIndex = {
    require(perms % bands == 0, "bands must divide perms")
    val sigs = Boundary.standing(minhashSigsOf(corpus, idCol, textCol, k, perms))
    val banded = Boundary.standing(bandedOf(sigs, perms, bands))
    MinhashIndex(sigs, banded, k, perms, bands)
  }

  /** Land the standing index DURABLY as saved tables — the
    * cross-session form of [[minhashIndex]]: signatures bucketed on
    * doc_id (the verify-join key), the band table bucketed on
    * (band, bh) so any later index-side join on the band key —
    * including the full self-dedup — reads pre-clustered buckets
    * with ZERO Exchange (the sink_partitioned contract applied to a
    * dedup index). Build cost is paid once at corpus-land time; any
    * later session [[minhashIndexLoad]]s and probes. */
  def minhashIndexWrite(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, perms: Int, bands: Int,
      sigsTable: String, bandTable: String, buckets: Int = 16): Unit = {
    require(perms % bands == 0, "bands must divide perms")
    val spark = corpus.sparkSession
    minhashSigsOf(corpus, idCol, textCol, k, perms)
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id").saveAsTable(sigsTable)
    // bands derive from the LANDED sigs (one clean scan, no recompute)
    bandedOf(spark.table(sigsTable), perms, bands)
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "band", "bh").saveAsTable(bandTable)
    // the build parameters travel WITH the tables: a later session
    // loading with different (k, perms, bands) must hard-fail, not
    // silently produce zero candidates / skewed jaccard estimates.
    // hashVersion pins the HASH FAMILY itself: (k, perms, bands) can
    // all match while the underlying shingle/permutation hashes have
    // evolved (v1 byte fold → v2 codepoint fold did exactly that) —
    // without the stamp, a landed index would silently stop matching
    // freshly-signed probes (zero candidates on non-ASCII)
    Seq(sigsTable, bandTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        s"'graft.minhash.k'='$k', 'graft.minhash.perms'='$perms', " +
        s"'graft.minhash.bands'='$bands', " +
        s"'graft.minhash.hashVersion'='$minhashHashVersion')")
    }
  }

  /** Version of the MinHash hash family (shingle fold + permutation
    * mix). Bump whenever RollingHash/ShingleHashes/MinHashAgg change
    * their arithmetic: v2 = Unicode-codepoint fold (r4; v1 was the
    * byte fold). Stamped into durable index tables and validated on
    * load. */
  private[graft] val minhashHashVersion = 2

  /** Land an ALREADY-SIGNED standing index durably — the
    * [[minhashIndexWrite]] tables written from an in-memory
    * [[MinhashIndex]] (the continuous SemDeDup loop holds signatures,
    * not source texts, so re-signing is not an option at checkpoint
    * time). Identical table layout + property stamps;
    * [[minhashIndexLoad]] reattaches. The signatures were produced by
    * THIS session's hash family, so the current
    * [[minhashHashVersion]] stamp is the correct provenance. */
  def minhashIndexWriteSigned(index: MinhashIndex,
      sigsTable: String, bandTable: String, buckets: Int = 16): Unit = {
    val spark = index.sigs.sparkSession
    index.sigs
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id").saveAsTable(sigsTable)
    // bands re-derive from the LANDED sigs (one clean scan) — same
    // recipe as minhashIndexWrite, and cheaper than landing the
    // in-memory band table (banding is pure arithmetic on the sig)
    bandedOf(spark.table(sigsTable), index.perms, index.bands)
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "band", "bh").saveAsTable(bandTable)
    Seq(sigsTable, bandTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        s"'graft.minhash.k'='${index.k}', 'graft.minhash.perms'='${index.perms}', " +
        s"'graft.minhash.bands'='${index.bands}', " +
        s"'graft.minhash.hashVersion'='$minhashHashVersion')")
    }
  }

  /** Reattach a durable index written by [[minhashIndexWrite]].
    * The requested parameters are validated against the properties
    * stamped at write time — a mismatch (or a table not written by
    * minhashIndexWrite) throws instead of silently probing with the
    * wrong hash family. */
  def minhashIndexLoad(spark: org.apache.spark.sql.SparkSession,
      sigsTable: String, bandTable: String,
      k: Int, perms: Int, bands: Int): MinhashIndex = {
    Seq(sigsTable, bandTable).foreach { t =>
      val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      Seq("k" -> k, "perms" -> perms, "bands" -> bands,
          "hashVersion" -> minhashHashVersion).foreach { case (name, v) =>
        props.get(s"graft.minhash.$name") match {
          case Some(s) => require(s == v.toString,
            s"index table $t was built with $name=$s, load requested $v")
          case None => throw new IllegalArgumentException(
            s"table $t lacks graft.minhash.$name — not a minhashIndexWrite table")
        }
      }
    }
    MinhashIndex(spark.table(sigsTable), spark.table(bandTable), k, perms, bands)
  }

  /** GENERATION SWAP for the MinHash index — the
    * [[embeddingIndexAppend]] refresh story applied to the text
    * index: extend a standing [[MinhashIndex]] with a newly arrived
    * batch (a probe-only index never sees post-build arrivals, so
    * batch_i × batch_j near-dups would be silently missed without
    * this). IDEMPOTENT under at-least-once foreachBatch delivery:
    * the batch is deduped on id and anti-joined against the ids
    * already indexed, so a re-delivered micro-batch (or a re-sent
    * id) is a no-op instead of duplicate sig/band rows
    * (first-write-wins). The new generation is materialized
    * lineage-free (`localCheckpoint`) BEFORE the old one is
    * released — mandatory under foreachBatch, where the batch frame
    * is not replayable after the micro-batch ends. The durable twin
    * is [[minhashIndexWrite]] mode-overwrite (rebuild-and-swap,
    * params re-stamped) + [[minhashIndexLoad]]. */
  def minhashIndexAppend(index: MinhashIndex, batch: DataFrame,
      idCol: String, textCol: String): MinhashIndex = {
    val fresh = batch.dropDuplicates(idCol)
      .join(index.sigs.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
    val bSigs = minhashSigsOf(fresh, idCol, textCol, index.k, index.perms)
    val sigs2 = index.sigs.union(bSigs).localCheckpoint(true)
    val banded2 = index.banded
      .union(bandedOf(bSigs, index.perms, index.bands)).localCheckpoint(true)
    index.release()
    MinhashIndex(sigs2, banded2, index.k, index.perms, index.bands)
  }

  /** RETRACTION — the delete path completing the standing-index
    * lifecycle (build → append → REMOVE → probe): drop the given ids
    * from a [[MinhashIndex]] so deleted/redacted corpus docs (a
    * takedown, a quality recall — the q4_delete_detect feed) stop
    * matching probes. Anti-joins on the id against both stored
    * tables; unknown ids are a no-op, and a later
    * [[minhashIndexAppend]] of a removed id RE-ADMITS it (the
    * anti-join there checks current membership only). Same
    * generation-swap materialization contract as append. */
  def minhashIndexRemove(index: MinhashIndex, ids: DataFrame,
      idCol: String): MinhashIndex = {
    val del = ids.select(col(idCol).as("doc_id")).distinct()
    val sigs2 = index.sigs.join(del, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val banded2 = index.banded.join(del, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    index.release()
    MinhashIndex(sigs2, banded2, index.k, index.perms, index.bands)
  }

  /** Full self-dedup FROM a standing index — [[minhashLshPairs]]
    * semantics without re-shingling or re-signing anything: the
    * candidate self-join runs over the stored band table (bucketed on
    * the join key → no Exchange when loaded from
    * [[minhashIndexWrite]] tables), and the verify reads stored
    * signatures. The re-dedup-after-policy-change shape: τ changes,
    * the corpus doesn't, the index is already on disk. */
  def minhashPairsFromIndex(index: MinhashIndex, tau: Double): DataFrame =
    verifyPairs(selfCandidates(index.banded), index.sigs, index.sigs,
      index.perms, tau)

  /** THE band-table self-join candidate block, shared by
    * [[minhashLshPairs]], [[minhashPairsFromIndex]] and the
    * plan-shape spec (one definition: the zero-Exchange assertion on
    * bucketed index tables tests the code the operators actually
    * run). */
  private[graft] def selfCandidates(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** Probe one batch against a standing index: near-dup pairs
    * (doc_a = corpus id, doc_b = batch id, est_jaccard) — identical
    * semantics to [[minhashLshIncremental]] for that batch, but the
    * corpus work is amortized across probes: only the batch is
    * shingled/signed per call, and its bands broadcast into the index
    * join. This is the continuous-ingestion hot path (the streaming
    * twin drives it per micro-batch). */
  def minhashProbe(index: MinhashIndex, batch: DataFrame,
      idCol: String, textCol: String, tau: Double): DataFrame = {
    val sigsB = Boundary.stage(
      minhashSigsOf(batch, idCol, textCol, index.k, index.perms))
    val candIds = index.banded.as("a")
      .join(broadcast(bandedOf(sigsB, index.perms, index.bands)).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val result = Boundary.stage(
      verifyPairs(candIds, index.sigs, sigsB, index.perms, tau))
    Boundary.release(sigsB)
    result
  }

  /** Incremental exact dedup: for each batch doc, the lowest-id
    * corpus doc with identical content (null = genuinely new). The
    * batch hash set is BROADCAST against the corpus scan — the corpus
    * is never shuffled; only matching rows (∝ batch) reach the
    * min-id aggregate. */
  def exactIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    exactIncrementalHashed(
      corpus.select(col(idCol).as("__cid"), md5(col(textCol)).as("__h")),
      batch, idCol, textCol)

  /** [[exactIncremental]] against a PRE-HASHED corpus frame
    * (__cid, __h) — the standing-index form: a long-lived ingest
    * loop computes (and persists) the 16-byte-per-doc hash index
    * once, instead of re-hashing corpus text every micro-batch. */
  def exactIncrementalHashed(corpusHashes: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bh = batch.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__h"))
    val matches = corpusHashes
      .join(broadcast(bh.select("__h").distinct()), "__h")
      .groupBy("__h").agg(min("__cid").as("dup_of"))
    bh.join(broadcast(matches), Seq("__h"), "left")
      .select(col("doc_id"), col("dup_of"))
  }

  /** SimHash-64: per token, xxhash64 gives 64 pseudo-random bits;
    * sum +1/-1 per bit position weighted by token frequency; sign of
    * each position's sum is the signature bit. Charikar '02. */
  def simhash64(tokens: Column): Column = {
    val bitSums = (0 until 64).map { b =>
      aggregate(tokens, lit(0),
        (acc, t) => acc + when(shiftright(xxhash64(t), b).bitwiseAND(lit(1L)) === 1L,
          lit(1)).otherwise(lit(-1)))
    }
    (0 until 64).map { b =>
      when(bitSums(b) >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Relational SimHash-64: explode tokens, one SimHashAgg sketch
    * aggregate per doc (the in-row `simhash64` HOF form evaluates
    * interpreted; 64 separate conditional sums blow the JIT method
    * limit — both wrong for a 100 TB scan). Token bits come from
    * avalanche64(poly-31) rather than xxhash64: same pseudo-random
    * quality, but reproducible in the oracle engine's HUGEINT
    * arithmetic, so the operator is hash-verified end-to-end. */
  private def simhashSigsRelational(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .select(col("doc_id"),
        graft.functions.expr.NativeFunctions.avalanche64(
          graft.functions.expr.NativeFunctions.rolling_hash(col("t"), 17L)).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.expr.SketchAggregates.simhash_agg(col("h")).as("sig"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Candidate generation by the rotate-and-band trick: split the
    * 64-bit sig into (maxHamming+1) blocks; by pigeonhole, any pair
    * within the Hamming radius agrees exactly on at least one block.
    * Join per block (linear), verify with bit_count(xor). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    hammingPairs(simhashSigsRelational(docs, idCol, textCol),
      "doc_id", "sig", maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))

  /** Hamming-near pairs over ANY precomputed 64-bit signature column
    * (simhash text sigs, perceptual image hashes, …) via the
    * pigeonhole block join: two signatures within `maxHamming` must
    * agree exactly on at least one of maxHamming+1 disjoint bit
    * blocks, so candidates meet in a hash equi-join on (block, bits)
    * — linear in corpus + collisions, never all-pairs — and the
    * native HammingDistance verifies exactly.
    *
    * @return (id_a, id_b, hamming), id_a < id_b.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int): DataFrame = {
    // width = 64/blocks: maxHamming 0 means exact-signature join (one
    // 64-bit block — mask must be -1L, not (1<<64)-1 which wraps to 0
    // and would collapse every doc into one O(n²) bucket); past 63
    // the block width would be zero and the pigeonhole guarantee gone
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val blocks = maxHamming + 1
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val s = sigs.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val banded = s.select(col("__id"), col("__sig"),
      explode(array((0 until blocks).map { i =>
        struct(lit(i).as("blk"),
          shiftright(col("__sig"), i * width)
            .bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("b"))
      .select(col("__id"), col("__sig"), col("b.blk").as("blk"), col("b.key").as("key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        graft.functions.expr.NativeFunctions
          .hamming_distance(col("a.__sig"), col("b.__sig")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Substring-level duplicated spans: the passage-granular dedup of
    * Lee et al. '22 ("Deduplicating Training Data Makes Language
    * Models Better") — duplicated k-token PASSAGES across documents,
    * which whole-document near-dup never sees (a unique page quoting a
    * boilerplate license paragraph).
    *
    * Every k-token window is hashed positionally (native
    * ShingleHashesAll → posexplode); window contents occurring in ≥ 2
    * distinct docs are duplicated; runs of consecutive duplicated
    * positions merge into maximal spans via gaps-and-islands
    * (pos − row_number constant within an island).
    *
    * Scale: windows ≈ tokens (linear in corpus bytes); the dup-hash
    * aggregate and the hit join are both keyed on the window hash (one
    * co-partitioned shuffle, map-side combine; 8-byte hashes, never
    * strings); the island merge is one window per doc over hit
    * positions only. `maxDf` caps pathological boilerplate hashes the
    * same way ngramJaccardPairs caps hot shingles — default = the
    * stats-derived [[autoCap]] (√N rule); `Some(Int.MaxValue)`
    * disables.
    */
  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: CapPolicy = CapPolicy.Auto): DataFrame = {
    val dfCap = resolveCap(docs, maxDf)
    val w = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.expr.NativeFunctions
          .shingle_hashes_all(col(textCol), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = w.groupBy("h").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    val pruned =
      if (dfCap == Int.MaxValue) dup else dup.filter(col("n_docs") <= dfCap)
    val hits = w.join(pruned, "h")
    val island = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    hits.withColumn("grp", col("pos") - row_number().over(island))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"),
        count("*").as("n_windows"),
        max(col("n_docs")).as("max_n_docs"))
      .drop("grp")
  }

  /** A STANDING substring index: the window universe of a corpus,
    * built once at land time and probed by later batches
    * ([[substringProbe]]): the [[MinhashIndex]] pattern at PASSAGE
    * granularity, completing the continuous-dedup index family
    * exact → MinHash → embedding → substring. Unlike the pair
    * indexes, n_docs ≥ 2 is NOT required: a batch doc repeating ANY
    * corpus window is passage-duplication against the corpus.
    *
    * Three frames (all keyed on the 8-byte window hash):
    *   - `hashes` — the PROBE VIEW: (h, rep_doc, n_docs) for every
    *     under-cap window; `rep_doc` = min doc containing the window
    *     (first-occurrence-wins), `n_docs` its document frequency;
    *   - `members` — the SOURCE OF TRUTH: distinct (h, doc_id)
    *     pairs for under-cap windows. This is what makes the index
    *     RETRACTABLE: a takedown of a window's rep_doc re-derives
    *     the min from the surviving members ([[substringIndexRemove]])
    *     instead of orphaning the representative;
    *   - `tombs` — boilerplate tombstones: the h of every window
    *     whose df ever exceeded `dfCap` (√N [[autoCap]] policy). The
    *     cap is a STANDING policy, not a build-time filter: appends
    *     re-cap newly frequent windows and tombstoned windows never
    *     re-enter ("an over-cap window is boilerplate, not
    *     duplication"), so the streamed index agrees with a batch
    *     rebuild's policy as it ages. Tombstones are MONOTONE — a
    *     retraction that drops a window's df back under cap does NOT
    *     resurrect it (once boilerplate, always boilerplate, until a
    *     full [[substringIndex]] rebuild re-derives the universe).
    *
    * `dfCap` rides with the index (resolved once at build; appends
    * apply the same stamp). Callers own the lifecycle
    * (`release()`); [[substringIndexWrite]]/[[substringIndexLoad]]
    * are the durable cross-session form. */
  final case class SubstringIndex(hashes: DataFrame, members: DataFrame,
      tombs: DataFrame, k: Int, dfCap: Int) {
    def release(): Unit = Seq(hashes, members, tombs).foreach(Boundary.release)
  }

  private def substringWindows(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.expr.NativeFunctions
          .shingle_hashes_all(col(textCol), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))

  def substringIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: CapPolicy = CapPolicy.Auto): SubstringIndex = {
    val dfCap = resolveCap(corpus, maxDf)
    // one windows scan, cached for the three derivations below
    val allPairs = Boundary.stage(substringWindows(corpus, idCol, textCol, k)
      .select(col("h"), col("doc_id")).dropDuplicates("h", "doc_id"))
    val agg = allPairs.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
    val tombs = (if (dfCap == Int.MaxValue) agg.limit(0)
      else agg.filter(col("n_docs") > dfCap))
      .select(col("h")).localCheckpoint(true)
    val hashes = Boundary.standing(agg.filter(col("n_docs") <= dfCap)
      .select(col("h"), col("rep_doc"), col("n_docs")))
    val members = Boundary.standing(allPairs.join(tombs, Seq("h"), "left_anti"))
    Boundary.release(allPairs)
    SubstringIndex(hashes, members, tombs, k, dfCap)
  }

  /** Extend the standing window universe with a landed batch — the
    * generation-swap refresh ([[minhashIndexAppend]] contract).
    * IDEMPOTENT under at-least-once delivery: batch (h, doc) pairs
    * already in `members` are anti-joined away, so a replayed batch
    * touches nothing. The df cap is a STANDING policy here:
    * tombstoned boilerplate never re-enters (anti-join against
    * `tombs`), and a window whose df crosses `dfCap` through this
    * append is tombstoned now — pruned-then-re-admitted and
    * slowly-accumulating boilerplate both stay capped as the stream
    * ages ([[SubstringIndex]] policy note). Work ∝ the batch's
    * window membership, never the corpus: the re-aggregation of
    * (n_docs, rep) runs only over hashes the batch actually touched. */
  def substringIndexAppend(index: SubstringIndex, batch: DataFrame,
      idCol: String, textCol: String): SubstringIndex = {
    val fresh = substringWindows(batch, idCol, textCol, index.k)
      .select(col("h"), col("doc_id")).dropDuplicates("h", "doc_id")
      .join(index.tombs, Seq("h"), "left_anti")
      .join(index.members, Seq("h", "doc_id"), "left_anti")
    val affected = fresh.select(col("h")).distinct()
    val grown = index.members.unionByName(fresh)
    val updated = grown.join(affected, Seq("h"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
    val newTombs = updated.filter(col("n_docs") > index.dfCap).select(col("h"))
    val tombs2 = index.tombs.unionByName(newTombs).localCheckpoint(true)
    val hashes2 = index.hashes.join(affected, Seq("h"), "left_anti")
      .unionByName(updated.filter(col("n_docs") <= index.dfCap)
        .select(col("h"), col("rep_doc"), col("n_docs")))
      .localCheckpoint(true)
    val members2 = grown.join(newTombs, Seq("h"), "left_anti")
      .localCheckpoint(true)
    index.release()
    SubstringIndex(hashes2, members2, tombs2, index.k, index.dfCap)
  }

  /** RETRACTION — the delete path completing the substring index's
    * lifecycle (build → append → REMOVE → probe), the
    * [[minhashIndexRemove]] contract at passage granularity: drop
    * the given docs so their passages stop representing the corpus.
    * The subtlety the pair indexes don't have: a removed doc may be
    * a window's `rep_doc` (first-occurrence representative). The
    * membership frame makes this sound — every affected window's
    * (n_docs, rep) is RE-DERIVED from the surviving members, so
    * first-occurrence-of-survivors semantics hold after any
    * takedown, and a window whose last member leaves vanishes from
    * the probe view entirely. Work ∝ the removed docs' window
    * membership (the re-aggregation runs only over affected hashes).
    * Unknown ids are a no-op; a later [[substringIndexAppend]] of a
    * removed doc re-admits it. Tombstones are monotone (policy note
    * on [[SubstringIndex]]). */
  def substringIndexRemove(index: SubstringIndex, ids: DataFrame,
      idCol: String): SubstringIndex = {
    val del = ids.select(col(idCol).as("doc_id")).distinct()
    val affected = index.members.join(del, Seq("doc_id")).select(col("h")).distinct()
    val members2 = index.members.join(del, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val updated = members2.join(affected, Seq("h"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
    val hashes2 = index.hashes.join(affected, Seq("h"), "left_anti")
      .unionByName(updated.select(col("h"), col("rep_doc"), col("n_docs")))
      .localCheckpoint(true)
    // tombs carries over UNRELEASED (a localCheckpoint'd frame is
    // unrecomputable once unpersisted) — release the replaced frames only
    Boundary.release(index.hashes)
    Boundary.release(index.members)
    SubstringIndex(hashes2, members2, index.tombs, index.k, index.dfCap)
  }

  /** Land a [[SubstringIndex]] as durable tables — the
    * [[minhashIndexWrite]] contract at passage granularity, so the
    * continuous substring-cleaning loop ([[substringProbe]] /
    * [[substringRemoveProbe]] under foreachBatch) can resume in a
    * LATER SESSION from disk instead of re-windowing the corpus.
    * All three frames land; `hashes` and `members` bucket on the
    * window hash (any later probe-side join on h reads pre-clustered
    * buckets). The build parameters travel WITH the tables — k
    * (window width), dfCap (the standing boilerplate policy), and
    * the shingle-hash family version — and are validated on load in
    * BOTH directions (the [[graft.operators.Clusters.clustersLoad]]
    * contract): a later session probing with a different k or a
    * different hash family must hard-fail, not silently match
    * nothing. */
  def substringIndexWrite(index: SubstringIndex, hashesTable: String,
      membersTable: String, tombsTable: String, buckets: Int = 16): Unit = {
    val spark = index.hashes.sparkSession
    index.hashes.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "h").sortBy("h").saveAsTable(hashesTable)
    index.members.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "h").saveAsTable(membersTable)
    // tombs: few rows (one per boilerplate hash) — plain table
    index.tombs.write.format("parquet").mode("overwrite")
      .saveAsTable(tombsTable)
    Seq(hashesTable, membersTable, tombsTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        s"'graft.substr.k'='${index.k}', " +
        s"'graft.substr.dfCap'='${index.dfCap}', " +
        s"'graft.substr.hashVersion'='$minhashHashVersion')")
    }
  }

  /** Reattach a durable index written by [[substringIndexWrite]].
    * The requested k and the session's hash-family version must
    * match the stamps; `dfCap` is INDEX STATE (resolved at build
    * time), so it is read back from the stamp rather than requested
    * — but it must agree across all three tables, and any
    * `graft.substr.*` property this loader does not understand
    * throws (a table stamped by a newer writer encodes policy this
    * session cannot honor). A table missing the stamps was not
    * written by substringIndexWrite and throws. */
  def substringIndexLoad(spark: org.apache.spark.sql.SparkSession,
      hashesTable: String, membersTable: String, tombsTable: String,
      k: Int): SubstringIndex = {
    val known = Set("k", "dfCap", "hashVersion")
    val caps = Seq(hashesTable, membersTable, tombsTable).map { t =>
      val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
        .collect { case (key, v) if key.startsWith("graft.substr.") =>
          key.stripPrefix("graft.substr.") -> v }
      val unknown = props.keySet -- known
      require(unknown.isEmpty,
        s"index table $t stamps params this loader does not understand: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
      Seq("k" -> k, "hashVersion" -> minhashHashVersion).foreach {
        case (name, v) => props.get(name) match {
          case Some(s) => require(s == v.toString,
            s"index table $t was built with $name=$s, load requested $v")
          case None => throw new IllegalArgumentException(
            s"table $t lacks graft.substr.$name — not a substringIndexWrite table")
        }
      }
      props.getOrElse("dfCap", throw new IllegalArgumentException(
        s"table $t lacks graft.substr.dfCap — not a substringIndexWrite table"))
    }
    require(caps.distinct.size == 1,
      s"dfCap stamps disagree across index tables: $caps")
    SubstringIndex(spark.table(hashesTable), spark.table(membersTable),
      spark.table(tombsTable), k, caps.head.toInt)
  }

  /** Probe a batch against the standing window universe: maximal
    * spans of each batch doc whose every window already exists in the
    * corpus (same island-merge as [[substringDupSpans]]) — the
    * ingest-time passage-dup screen. Only the batch is windowed; its
    * (hash, pos) rows broadcast into the index join, the corpus never
    * rescanned. Self-hits (the batch doc IS the window's corpus
    * representative, after an append) are excluded. */
  def substringProbe(index: SubstringIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val wb = substringWindows(batch, idCol, textCol, index.k)
    val hits = index.hashes.join(broadcast(wb), "h")
      .filter(col("doc_id") =!= col("rep_doc"))
    val island = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val out = hits
      .select(col("doc_id"), col("pos")).dropDuplicates("doc_id", "pos")
      .withColumn("grp", col("pos") - row_number().over(island))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + index.k - 1).as("span_end"),
        count("*").as("n_windows"))
      .drop("grp")
    Boundary.stage(out)
  }

  /** The REMOVAL transform at INGEST TIME — [[substringDupRemove]]'s
    * standing-index form: every batch token covered by a window
    * already in the corpus universe is dropped (the corpus copy is
    * the surviving one; self-representatives excluded, so an
    * appended doc keeps its own first-occurrence passages). Same
    * output contract as the batch transform — every batch doc,
    * whitespace-canonicalized `clean_text`, `n_removed` — and the
    * same scale shape: the probe join broadcasts batch (hash, pos)
    * rows, victim positions fold to one int-set row per affected
    * doc, the rebuild is one in-row positional filter. This is the
    * Lee et al. transform run continuously: clean each arriving
    * batch against everything already landed. */
  def substringRemoveProbe(index: SubstringIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val wb = substringWindows(batch, idCol, textCol, index.k)
    val victims = index.hashes.join(broadcast(wb), "h")
      .filter(col("doc_id") =!= col("rep_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(index.k - 1))).as("tp"))
      .groupBy("doc_id").agg(collect_set(col("tp")).as("removed"))
    val noRemovals = array().cast("array<int>")
    batch.select(col(idCol).as("doc_id"),
        filter(split(trim(col(textCol)), "\\s+"), t => t =!= "").as("__ts"))
      .join(victims, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("__ts"), (t, i) =>
          !array_contains(coalesce(col("removed"), noRemovals), i + 1)), " ")
          .as("clean_text"),
        size(coalesce(col("removed"), noRemovals)).cast("long").as("n_removed"))
  }

  /** Substring-level dedup REMOVAL — the transform
    * [[substringDupSpans]] only detects (Lee et al. '22 apply this to
    * the corpus; the spans are an audit artifact): every token
    * covered by a cross-doc-duplicated k-token window is dropped from
    * the text, EXCEPT in the window's representative document (the
    * min doc_id containing that window — first-occurrence-wins, so
    * exactly one copy of each duplicated passage survives the
    * corpus). Within-representative repeats survive (the policy is
    * cross-doc; [[substringDupSpans]] flags within-doc structure).
    * Output: every document, whitespace-canonicalized
    * (`clean_text` = kept tokens single-space-joined) with
    * `n_removed` dropped-token count — unaffected docs pass through
    * with n_removed = 0.
    *
    * Scale shape: the only shuffles carry (8-byte window hash) and
    * (doc_id, token-position INT) rows — never text. Removal
    * positions fold to one int-set row per AFFECTED doc
    * (`collect_set`, bounded by doc length), join back to the corpus
    * on doc_id, and the rebuild is one in-row positional filter over
    * the token array — the corpus itself is scanned twice (windows,
    * rebuild) and shuffled never. `maxDf` caps pathological
    * boilerplate hashes exactly as [[substringDupSpans]] does
    * (√N [[autoCap]] default) — an over-cap window is boilerplate,
    * not duplication, and is KEPT (same policy as the spans
    * operator). */
  def substringDupRemove(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: CapPolicy = CapPolicy.Auto): DataFrame = {
    val dfCap = resolveCap(docs, maxDf)
    val w = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.expr.NativeFunctions
          .shingle_hashes_all(col(textCol), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = w.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("rep_doc"))
      .filter(col("n_docs") >= 2)
    val pruned =
      if (dfCap == Int.MaxValue) dup else dup.filter(col("n_docs") <= dfCap)
    val victims = w.join(pruned, "h")
      .filter(col("doc_id") =!= col("rep_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("tp"))
      .groupBy("doc_id").agg(collect_set(col("tp")).as("removed"))
    val noRemovals = array().cast("array<int>")
    docs.select(col(idCol).as("doc_id"),
        filter(split(trim(col(textCol)), "\\s+"), t => t =!= "").as("__ts"))
      .join(victims, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(col("__ts"), (t, i) =>
          !array_contains(coalesce(col("removed"), noRemovals), i + 1)), " ")
          .as("clean_text"),
        size(coalesce(col("removed"), noRemovals)).cast("long").as("n_removed"))
  }

  /** Embedding near-dup pairs: cosine >= tau within blocks keyed on
    * an EXISTING column. Only sound at scale when the block column is
    * high-cardinality (a shard key, a pre-computed cluster id): a
    * low-cardinality block (e.g. a class label) makes block size grow
    * linearly with the corpus and the within-block all-pairs join
    * quadratically — use [[embeddingPairsLsh]] as the default. */
  def embeddingPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      blockCol: String, tau: Double): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", Vectors.normSq(col("v"))) // norm once per row, not per pair
    e.as("a").join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .filter(Vectors.cosineWithNorms(col("a.v"), col("b.v"),
        col("a.n2"), col("b.n2")) >= tau)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
  }

  /** Embedding near-dup pairs blocked by random-hyperplane LSH — the
    * scale-default embedding dedup (the SemDeDup candidate step).
    *
    * Each vector lands in one bucket per hash table (seeded ±1
    * hyperplanes, [[graft.functions.Vectors.hyperplaneSig]]);
    * candidates are pairs sharing a (table, bucket) cell, verified by
    * exact cosine ≥ tau. Bucket count is 2^bits × tables and is a
    * TUNABLE of the index, not a property of the data — unlike
    * blocking on a data column (a label: O(10) blocks forever, so
    * block size and the |block|² within-block join grow with the
    * corpus), bits scales with corpus size at constant expected
    * bucket occupancy, keeping the bucket join linear. Recall is
    * 1−(1−p^bits)^tables with p = 1−θ/π — tunable, and measured ≥
    * the label-blocked form's recall on the gate corpus (spec).
    *
    * Shuffle shape: the exploded band table carries (id, tbl, bucket)
    * only — vectors never enter the candidate join; full vectors are
    * re-attached to surviving candidate pairs by two id-keyed joins
    * (the ids-only-band-table pattern of [[minhashLshPairs]]).
    *
    * Deterministic (seeded hyperplanes as literals — retry-safe, and
    * reproducible in an independent engine for the hash oracle).
    *
    * Multi-probe (`probeRadius = 1`): the smaller-id side of each
    * candidate pair ALSO probes every bucket within Hamming distance
    * 1 of its own signature (bits+1 probe keys per table), so pairs
    * whose signatures differ in one bit still meet — per-table
    * collision probability rises from p^bits to p^bits +
    * bits·p^(bits−1)(1−p), buying the recall of ~2-3× more tables
    * for one in-row explode instead of more signature storage (the
    * FALCONN/FAISS multi-probe trade). Each pair still meets at most
    * once per table: exactly one probe key (the d-bit mask of the
    * signature difference) can hit.
    */
  def embeddingPairsLsh(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, seed: Long, tau: Double,
      probeRadius: Int = 0): DataFrame = {
    // adaptive strategy (the Clusters.connectedComponents pattern):
    // a measured-tiny corpus dispatches to one task — the distributed
    // plan's 9 driver jobs are pure orchestration at that size, and
    // the single-task kernel reproduces the output exactly (spec).
    // The `distributed` [[Tier]] pins the distributed path (scale
    // probes do).
    val idType = embeddings.schema(idCol).dataType
    val integralId = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    // sizeInBytes pre-gate: the confirming count() only runs when the
    // plan's own size estimate says "possibly tiny" (generous 4 KB/row
    // bound), so a 100 TB corpus never pays a dispatch scan — the
    // estimate is free and only ever OVER-estimates (filters keep
    // their child's size absent CBO stats), which errs distributed.
    def maybeTiny = embeddings.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(LocalVecThreshold) * 4096
    if (Tier.allows(embeddings.sparkSession, Tier.Input)(
        integralId && maybeTiny && embeddings.count() <= LocalVecThreshold)) {
      val spark = embeddings.sparkSession
      import spark.implicits._
      val out = embeddings
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])]
        .coalesce(1)
        .mapPartitions(it =>
          LshLocal.pairRows(it, dim, bits, tables, seed, tau, probeRadius))
        .toDF("vec_a", "vec_b")
        .select(col("vec_a").cast(idType), col("vec_b").cast(idType))
      return Boundary.stage(out)
    }
    val e = embeddings.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", Vectors.normSq(col("v"))) // norm once per row, not per pair
    selfPairsFromBands(e, vecBands(e, dim, bits, tables, seed),
      bits, tau, probeRadius)
  }

  /** The shared self-dedup tail of [[embeddingPairsLsh]] and
    * [[embeddingPairsFromIndex]]: (optionally Hamming-1-expanded)
    * candidate self-join over a band table, pair dedup, the two
    * vector joins, the cosine verify, and the staged result (the
    * ids-only result is tiny, while the plan signs/scans the corpus
    * into tables×bits buckets and verifies candidates — consumers
    * that branch the result, e.g. connected components unioning both
    * edge directions, must not run that twice). */
  private def selfPairsFromBands(vecs: DataFrame, banded: DataFrame,
      bits: Int, tau: Double, probeRadius: Int): DataFrame = {
    require(probeRadius == 0 || probeRadius == 1,
      s"probeRadius must be 0 or 1, got $probeRadius")
    val probeSide = expandProbes(banded, bits, probeRadius)
    val cand = probeSide.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val out = cand
      .join(vecs.select(col("id").as("vec_a"), col("v").as("va"), col("n2").as("na")), "vec_a")
      .join(vecs.select(col("id").as("vec_b"), col("v").as("vb"), col("n2").as("nb")), "vec_b")
      .filter(Vectors.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")) >= tau)
      .select(col("vec_a"), col("vec_b"))
    Boundary.stage(out)
  }

  /** LSH banding of an (id, v) vector frame: one row per (id, table,
    * bucket) under `tables` independently-seeded hyperplane tables —
    * the signature block shared by [[embeddingPairsLsh]] and the
    * standing embedding index. */
  private def vecBands(e: DataFrame, dim: Int, bits: Int, tables: Int,
      seed: Long): DataFrame =
    e.select(col("id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          Vectors.hyperplaneSig(col("v"), dim, bits, seed + t).as("bucket"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

  /** Hamming-1 multi-probe expansion of a band table (bits+1 probe
    * keys per row) — each pair still meets at most once per table:
    * exactly one probe key (the bit mask of the signature difference)
    * can hit. */
  private def expandProbes(banded: DataFrame, bits: Int,
      probeRadius: Int): DataFrame =
    if (probeRadius == 0) banded
    else banded.select(col("id"), col("tbl"),
      explode(array(col("bucket") +: (0 until bits).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))

  /** A STANDING embedding-LSH index: persisted normalized vectors +
    * banded signature table, built once at corpus-land time and
    * probed by any number of later batches ([[embeddingProbe]]) —
    * the [[MinhashIndex]] twin for the vector space, i.e. the index
    * continuous SemDeDup ingest probes. Callers own the lifecycle:
    * `release()` when done. */
  final case class EmbeddingLshIndex(vecs: DataFrame, banded: DataFrame,
      dim: Int, bits: Int, tables: Int, seed: Long) {
    def release(): Unit = {
      Boundary.release(banded)
      Boundary.release(vecs)
    }
  }

  /** Build (and materialize) the standing embedding index. */
  def embeddingIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, seed: Long): EmbeddingLshIndex = {
    val vecs = Boundary.standing(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", Vectors.normSq(col("v"))))
    val banded = Boundary.standing(vecBands(vecs, dim, bits, tables, seed))
    EmbeddingLshIndex(vecs, banded, dim, bits, tables, seed)
  }

  /** Land the standing embedding index DURABLY as saved tables (the
    * [[minhashIndexWrite]] contract for vectors): vectors bucketed on
    * id (the verify-join key), the band table bucketed on
    * (tbl, bucket) so index-side joins on the probe key read
    * pre-clustered buckets. LSH parameters are stamped as table
    * properties and validated on load — stored buckets are
    * meaningless under any other hyperplane family. */
  def embeddingIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int, tables: Int, seed: Long,
      vecsTable: String, bandTable: String, buckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", Vectors.normSq(col("v")))
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id").saveAsTable(vecsTable)
    // bands derive from the LANDED vectors (one clean scan)
    vecBands(spark.table(vecsTable), dim, bits, tables, seed)
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, "tbl", "bucket").saveAsTable(bandTable)
    Seq(vecsTable, bandTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        s"'graft.emblsh.dim'='$dim', 'graft.emblsh.bits'='$bits', " +
        s"'graft.emblsh.tables'='$tables', 'graft.emblsh.seed'='$seed')")
    }
  }

  /** Reattach a durable embedding index written by
    * [[embeddingIndexWrite]]; mismatched LSH parameters (or a table
    * not written by embeddingIndexWrite) throw. */
  def embeddingIndexLoad(spark: org.apache.spark.sql.SparkSession,
      vecsTable: String, bandTable: String,
      dim: Int, bits: Int, tables: Int, seed: Long): EmbeddingLshIndex = {
    Seq(vecsTable, bandTable).foreach { t =>
      val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      Seq("dim" -> dim.toString, "bits" -> bits.toString,
          "tables" -> tables.toString, "seed" -> seed.toString).foreach {
        case (name, v) =>
          props.get(s"graft.emblsh.$name") match {
            case Some(got) => require(got == v,
              s"index table $t was built with $name=$got, load requested $v")
            case None => throw new IllegalArgumentException(
              s"table $t lacks graft.emblsh.$name — not an embeddingIndexWrite table")
          }
      }
    }
    EmbeddingLshIndex(spark.table(vecsTable), spark.table(bandTable),
      dim, bits, tables, seed)
  }

  /** Full self-dedup FROM a standing embedding index — the
    * [[minhashPairsFromIndex]] twin for the vector space:
    * [[embeddingPairsLsh]] semantics without re-signing anything.
    * The candidate self-join runs over the stored band table and the
    * verify reads stored vectors; with a durable index loaded from
    * [[embeddingIndexLoad]] tables both sides come bucketed on their
    * join keys. */
  def embeddingPairsFromIndex(index: EmbeddingLshIndex, tau: Double,
      probeRadius: Int = 0): DataFrame =
    selfPairsFromBands(index.vecs, index.banded, index.bits, tau, probeRadius)

  /** GENERATION SWAP: extend a standing embedding index with a newly
    * arrived batch — the refresh story for the continuous-ingest
    * probes (index staleness is the unbounded-state analogue of the
    * GroupState TTL: a probe-only index never sees post-build
    * arrivals, so batch_i × batch_j near-dups would be silently
    * missed without this).
    *
    * The new generation (old rows ∪ signed batch rows) is
    * MATERIALIZED LINEAGE-FREE (`localCheckpoint`) BEFORE the old
    * generation is released — mandatory under `foreachBatch`, where
    * the batch frame is not replayable after the micro-batch ends, so
    * a lazy union referencing it would blow up on the next probe.
    * On a real cluster the durable twin is [[embeddingIndexWrite]]
    * mode-overwrite (rebuild-and-swap of the saved tables, params
    * re-stamped) with [[embeddingIndexLoad]] picking up the new
    * generation; localCheckpoint here is the in-session form
    * (executor-loss → job retry, same trade the CC rounds make).
    * Old and new generation briefly coexist (peak memory = old +
    * batch); callers own the returned index's lifecycle.
    *
    * IDEMPOTENT under the at-least-once foreachBatch delivery the
    * probes run under: the batch is deduped on id and anti-joined
    * against the ids already indexed, so a re-delivered micro-batch
    * (or an id re-sent in a later batch) is a no-op instead of a
    * duplicate index row — duplicate rows would make every pair
    * operator over the index emit duplicated pairs and grow index
    * memory per replay. The anti-join is one pass over the (id-only
    * projection of the) standing vec table per append — the same
    * cost class as the union itself. First-write-wins: an id already
    * indexed keeps its original vector. */
  def embeddingIndexAppend(index: EmbeddingLshIndex, batch: DataFrame,
      idCol: String, vecCol: String): EmbeddingLshIndex = {
    val b = batch.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", Vectors.normSq(col("v")))
      .dropDuplicates("id")
      .join(index.vecs.select("id"), Seq("id"), "left_anti")
    val vecs2 = index.vecs.union(b).localCheckpoint(true)
    val banded2 = index.banded
      .union(vecBands(b, index.dim, index.bits, index.tables, index.seed))
      .localCheckpoint(true)
    index.release()
    EmbeddingLshIndex(vecs2, banded2,
      index.dim, index.bits, index.tables, index.seed)
  }

  /** RETRACTION for the embedding index — [[minhashIndexRemove]]'s
    * vector-space twin, same contract (unknown ids no-op, removed ids
    * re-admittable by a later append, generation-swap
    * materialization). */
  def embeddingIndexRemove(index: EmbeddingLshIndex, ids: DataFrame,
      idCol: String): EmbeddingLshIndex = {
    val del = ids.select(col(idCol).as("id")).distinct()
    val vecs2 = index.vecs.join(del, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val banded2 = index.banded.join(del, Seq("id"), "left_anti")
      .localCheckpoint(true)
    index.release()
    EmbeddingLshIndex(vecs2, banded2,
      index.dim, index.bits, index.tables, index.seed)
  }

  /** Probe one batch of vectors against a standing embedding index:
    * near-dup pairs (vec_a = corpus id, vec_b = batch id) with
    * cosine ≥ tau — [[embeddingPairsLsh]] semantics restricted to
    * corpus×batch. Only the batch is signed per call; its (optionally
    * Hamming-1-expanded) probe keys broadcast into the index join, so
    * the corpus is never re-signed or shuffled — the continuous
    * SemDeDup ingest hot path (the streaming twin drives it per
    * micro-batch). */
  def embeddingProbe(index: EmbeddingLshIndex, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      probeRadius: Int = 0): DataFrame = {
    require(probeRadius == 0 || probeRadius == 1,
      s"probeRadius must be 0 or 1, got $probeRadius")
    val b = Boundary.stage(batch.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", Vectors.normSq(col("v"))))
    val bBands = expandProbes(
      vecBands(b, index.dim, index.bits, index.tables, index.seed),
      index.bits, probeRadius)
    val cand = index.banded.as("a").join(broadcast(bBands).as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val out = cand
      .join(index.vecs.select(col("id").as("vec_a"),
        col("v").as("va"), col("n2").as("na")), "vec_a")
      .join(broadcast(b.select(col("id").as("vec_b"),
        col("v").as("vb"), col("n2").as("nb"))), "vec_b")
      .filter(Vectors.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")) >= tau)
      .select(col("vec_a"), col("vec_b"))
    val result = Boundary.stage(out)
    Boundary.release(b)
    result
  }

  /** Exact candidate-pair count of [[editDistancePairs]]'s blocking
    * join, PRE length-diff filter, from the kept-block size table
    * ((__lb, __p, __bs) — one row per block): Σ C(bs, 2) same-bucket
    * + Σ bs_i·bs_j adjacent-bucket. One small job over the block
    * table, never a corpus pass. */
  private[graft] def editCandidateEstimate(kept: DataFrame): Long = {
    val ks = kept.select(col("__lb"), col("__p"), col("__bs"))
    ks.as("x")
      .join(ks.as("y"), col("x.__p") === col("y.__p") &&
        (col("x.__lb") === col("y.__lb") || col("x.__lb") + 1 === col("y.__lb")))
      .agg(sum(when(col("x.__lb") === col("y.__lb"),
          col("x.__bs") * (col("x.__bs") - 1) / 2)
        .otherwise(col("x.__bs") * col("y.__bs"))).cast("long").as("est"))
      .collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
  }

  /** Fuzzy near-dup pairs by EDIT DISTANCE with deterministic
    * prefix+length blocking: candidates must share a text prefix of
    * `prefixLen` chars and a length bucket of `lenBucket`, then the
    * exact `levenshtein` verifies ≤ maxDist. The blocking join is a
    * co-partitioned equi-join on (bucket, prefix) — never an n² cross
    * product — and the O(len²) edit-distance only runs on block-local
    * candidates.
    *
    * Recall contract: any pair within `maxDist` sharing the prefix is
    * found PROVIDED `lenBucket >= maxDist` — edit distance bounds the
    * length difference by maxDist, so the two lengths then land in
    * the same or ADJACENT buckets, and the candidate join probes both
    * (same-bucket equi-join ∪ adjacent-bucket equi-join — each
    * unordered pair meets exactly once, no dedup pass). With
    * `lenBucket < maxDist` a pair can straddle two bucket edges and
    * be missed. Dups with edits in the first `prefixLen` chars land
    * in different blocks; use [[minhashLshPairs]] for
    * position-independent similarity.
    *
    * Hot-block guard: a block's local work is |block|² pairs, so a
    * corpus where thousands of docs share one (prefix, length-bucket)
    * block — boilerplate headers — would go quadratic inside it.
    * `maxBlock` drops such blocks (the df-cap / maxSetSize pattern):
    * a giant block is boilerplate, not near-duplication, and its
    * pairs would dominate the job without meaning anything. Default =
    * the stats-derived [[autoCap]] (√N rule — no block may cost more
    * pair work than a corpus scan, [[CapPolicy.Auto]]); pass
    * [[CapPolicy.Off]] to disable the guard (no count job).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int, lenBucket: Int = 0, prefixLen: Int = 4,
      maxBlock: CapPolicy = CapPolicy.Auto): DataFrame = {
    // lenBucket defaults to maxDist (the tightest bucketing the
    // recall guarantee permits) and is REQUIRED >= maxDist when
    // explicit: edit distance bounds the length gap by maxDist, so
    // only then does every within-threshold pair land in the same or
    // adjacent bucket — a smaller bucket silently reopens the
    // bucket-edge recall hole the adjacent probe closed
    val bucket = if (lenBucket <= 0) math.max(1, maxDist) else lenBucket
    require(bucket >= maxDist,
      s"lenBucket $bucket < maxDist $maxDist breaks the adjacent-bucket recall guarantee")
    val blockCap = resolveCap(docs, maxBlock)
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("__lb", floor(length(col("t")) / bucket))
      .withColumn("__p", substring(col("t"), 1, prefixLen))
    val sizes = raw.groupBy("__lb", "__p").agg(count("*").as("__bs"))
    // the kept-block table is staged: it feeds the block filter
    // join AND the verify-stage sizing estimate below — one row per
    // (bucket, prefix) block, tiny next to the corpus, and without it
    // the corpus scan + block-count agg would run once per consumer
    val kept = Boundary.stage(sizes.filter(col("__bs") <= blockCap))
    // exact candidate-pair count (pre length-diff filter): same-bucket
    // C(bs,2) + adjacent-bucket cross products — one small job over
    // the staged block table, never over the corpus. This sizes
    // the verify stage: AQE coalesces the candidate exchange by
    // SHUFFLE BYTES (compressed text), but the banded-DP verify costs
    // O(len·maxDist) per pair — ~65× more CPU per byte than a scan —
    // so the byte-sized layout ran the whole DP on 2 of 32 cores
    // (r20: verify 1.6 s → 0.35 s once spread; OPTIMIZATION_r20.md
    // §3). Pair count, not bytes, is the right work proxy for a
    // CPU-bound stage.
    val pairEst = editCandidateEstimate(kept)
    val d = Boundary.stage(raw.join(kept, Seq("__lb", "__p")).drop("__bs"))
    val a = d.select(col("id").as("doc_a"), col("t").as("__ta"), col("__lb"), col("__p"))
    val b = d.select(col("id").as("doc_b"), col("t").as("__tb"), col("__lb"), col("__p"))
    // same-bucket candidates (id-ordered: each pair once) ∪
    // adjacent-bucket candidates (a one bucket BELOW b: each
    // straddling pair meets exactly once regardless of id order, so
    // ids are normalized with least/greatest — no dedup shuffle)
    val same = a.join(b, Seq("__lb", "__p"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("__ta"), col("__tb"))
    val adj = a.as("x").join(b.as("y"),
        col("x.__lb") + 1 === col("y.__lb") && col("x.__p") === col("y.__p"))
      .select(
        least(col("x.doc_a"), col("y.doc_b")).as("doc_a"),
        greatest(col("x.doc_a"), col("y.doc_b")).as("doc_b"),
        when(col("x.doc_a") < col("y.doc_b"), col("x.__ta")).otherwise(col("y.__tb")).as("__ta"),
        when(col("x.doc_a") < col("y.doc_b"), col("y.__tb")).otherwise(col("x.__ta")).as("__tb"))
    // the candidate set is MATERIALIZED before the verify: fusing the
    // levenshtein pipeline into the broadcast-join stage measured
    // ~6× slower than running it over the cached candidate relation
    // (one clean codegen'd scan→DP→filter stage), and the cache is
    // bounded by the block-capped candidate volume, released below
    // verify-stage parallelism from the pair estimate: one task per
    // ~64k pairs (~tens of MB of text, a few seconds of DP), floored
    // at the cluster's core count so the CPU-bound verify fills the
    // machine even when the candidate table is byte-small, capped so
    // a pathological estimate cannot explode the task count. The
    // repartition sits BELOW the boundary: the cache pins the
    // verify's parallelism to this layout (a repartition above a
    // persist is undone by Catalyst pushing the DP filter below it —
    // measured no speedup, OPTIMIZATION_r20.md §3).
    val verifyParts = math.max(
      docs.sparkSession.sparkContext.defaultParallelism,
      math.min(1 << 18, ((pairEst >> 16) + 1).toInt))
    val candidates = Boundary.stage(same.union(adj)
      // levenshtein >= |len difference|, so adjacent-bucket pairs with
      // a length gap beyond maxDist (possible up to 2·lenBucket) can
      // never verify — an integer compare prunes them before the
      // O(len·maxDist) DP pays for the proof
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .repartition(verifyParts))
    val out = candidates
      // thresholded levenshtein: banded DP, O(len·maxDist) per pair
      // instead of the full O(len²) matrix; returns -1 above the
      // threshold, exact distance at-or-below — kept rows identical
      // (single conjunct: -1 is the ONLY above-threshold value, and a
      // second `lev <= maxDist` conjunct re-evaluates the DP)
      .withColumn("lev", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("lev") >= 0)
      .select(col("doc_a"), col("doc_b"), col("lev").cast("int").as("lev"))
    // the candidate release also drops d and kept: nothing else
    // reads them
    val result = Boundary.stage(out)
    Boundary.release(candidates)
    result
  }
}
