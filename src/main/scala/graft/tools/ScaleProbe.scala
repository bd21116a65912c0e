package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{JsonOut, SparkEntry}
import graft.functions.Text
import graft.operators.{Boundary, Clusters, Curation, Dedup, Tier}
import graft.sources.Tables
import graft.streaming.{ClusterStream, LmLoop, LmStream, TextClusterStream}

/** Empirical scaling probe: runs declared queries at 1× and N× the sf
  * corpus and reports the wall-time ratio. A linear operator should
  * scale at ≈N× (plus fixed overhead amortization, so typically < N×);
  * a quadratic regression shows up as ≫N×.
  *
  * Both sides are written by [[writeCopies]] (the 1× side as one
  * copy), so they share one file layout. The N× side is N decorrelated
  * copies: keys are offset per copy and text tokens relabeled per
  * copy, so near-dup and join structure inside each copy is preserved,
  * cross-copy similarity is zero, and the TRUE answer scales exactly
  * linearly. (Naive duplication would make every doc an N-way exact
  * dup and the honest answer itself quadratic — useless for measuring
  * operator scaling.)
  *
  * Each [[Declared]] name runs `SparkEntry.queries(name)` with the tier
  * pinned `distributed`: the probe measures the plan that runs at
  * corpus scale, not the single-task kernel a tiny 1× input would
  * dispatch to (trivially linear — it would measure nothing). The
  * [[Explicit]] arms keep standing state across their timers, or grow
  * an index parameter with N, which no declared query expresses.
  *
  * Usage: runMain graft.tools.ScaleProbe [mult] [sfDir] [names-csv]
  * Env:   SCALEPROBE_DIR  where the 1× and N× copies are written
  *        SCALEPROBE_OUT  write the scaleprobe_rN.json artifact
  */
object ScaleProbe {

  /** Per-copy key offset: above every key of the sf tables, so no two
    * copies share a key value. */
  val Stride = 1000000000L

  /** Declared queries timed by default: the linear arms of
    * scaleprobe_r18.json, by declared name. */
  val Declared: Seq[String] = Seq(
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "q2_pair_counts", "text_tfidf", "dedup_clusters", "dedup_substring",
    "dedup_substring_remove", "decon_ngram", "text_repetition", "decon_bloom",
    "dedup_edit", "approx_topk", "mm_manifest", "q39_resample",
    "q44_cohort_retention", "q43_sliding_windows", "q47_mad_outliers",
    "q47a_mad_sketch", "events_pattern", "graph_pagerank", "graph_triangles",
    "graph_lpa", "dedup_cdc", "text_extract_html", "text_extract_links",
    "text_charset", "crawl_robots", "text_script", "crawl_hostgraph",
    "crawl_hostrank", "sample_domain_cap", "sample_shards", "q48_equidepth",
    "q48a_equidepth_sketch", "emb_kmeans", "graph_pagerank_dangling",
    "quality_classifier_train", "text_bigram_lm", "text_interp_lm",
    "sample_dsir", "text_bm25", "sample_epochs", "quality_ensemble",
    "ann_ivfpq", "dedup_containment", "quality_perplexity", "ann_sq8",
    "pipeline_curate")

  /** Arms run explicitly: embedding_lsh and the standing-state arms. */
  val Explicit: Seq[String] = Seq(
    "embedding_lsh", "curate_probe", "minhash_probe", "substring_probe",
    "clusters_inc", "embedding_probe", "cluster_stream", "text_cluster_stream",
    "cluster_retract", "cluster_retract_growth", "text_cluster_retract",
    "lm_refresh")

  /** The names a run covers: every default, or the requested names,
    * each of which must be a declared query or an explicit arm. */
  def selected(only: Option[Seq[String]]): Seq[String] = only match {
    case None => Declared ++ Explicit
    case Some(names) =>
      val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || Explicit.contains(n))
      require(unknown.isEmpty,
        s"unknown scaleprobe name(s): ${unknown.mkString(", ")} — " +
          s"expected a SparkEntry.queries name or one of ${Explicit.mkString(", ")}")
      names.distinct
  }

  /** Write `n` decorrelated copies of every sf table as
    * `dst/<table>.parquet` (nation and region once: they are shared
    * dimensions). Copy 0 is verbatim. Copy k ≥ 1:
    *
    *   - offsets every BIGINT `*key` / `*_id` column by k × [[Stride]],
    *     so joins stay inside a copy;
    *   - prefixes every text token with a fixed-width decimal copy
    *     code — a bijection within the copy (shingle structure kept),
    *     and, as the source corpus's tokens never start with a digit,
    *     no token is shared between copies. The code sits at the START
    *     of each token so editDistancePairs' first-4-char block key
    *     stays copy-local; a block key shared across copies would
    *     merge blocks past the 1000 cap, and the ratio would measure
    *     the cap. Below 10 copies the code is one char, so copies
    *     k ≥ 1 block on their first 3 source chars;
    *   - flips the embedding's sign per (copy, dimension): within a
    *     copy both pair members flip the same dims, so cosine structure
    *     is preserved; across copies the signs decorrelate. */
  def writeCopies(spark: SparkSession, sfDir: String, dst: String, n: Int): Unit =
    Tables.names.foreach { name =>
      val src = if (name == "events") Tables.events(spark, sfDir) else Tables.table(spark, sfDir, name)
      val copies = if (name == "nation" || name == "region") 1 else n
      (0 until copies).map(k => if (k == 0) src else copy(src, k, copies))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }

  private def copy(src: DataFrame, k: Int, n: Int): DataFrame = {
    val code = s"%0${(n - 1).toString.length}d".format(k)
    val text = regexp_replace(col("text"), "(\\S+)", code + "$1")
    src.select(src.schema.fields.toSeq.map { f =>
      val c: Column = f.name match {
        case key if f.dataType == LongType && (key.endsWith("key") || key.endsWith("_id")) =>
          col(key) + lit(k * Stride)
        case "text" => text
        case "n_chars" => length(text).cast(LongType)
        case "embedding" => transform(col("embedding"), (x, i) =>
          x * when(pmod(xxhash64(lit(k), i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
        case other => col(other)
      }
      c.as(f.name)
    }: _*)
  }

  /** Machine-readable records, one per arm, in run order. `baseline`
    * names what the ratio is measured against: "linear=N" for
    * scaled-input arms, "flat=1" for fixed-batch/standing-state arms
    * (where flat cost is the claim under test). */
  final class Results(mult: Int) {
    val entries = new scala.collection.mutable.LinkedHashMap[String, String]()

    def record(name: String, t1: Double, tN: Double, n1: Long, nN: Long,
        baseline: String, warm1: Double = -1.0): Unit = {
      println(f"[scaleprobe] $name%-28s 1x: $t1%6.2f s ($n1%8d rows)  " +
        f"${mult}x: $tN%6.2f s ($nN%8d rows)  ratio: ${tN / t1}%5.1f ($baseline)")
      entries.update(name,
        s"""{"t1_s":${JsonOut.num(t1, 3)},"tN_s":${JsonOut.num(tN, 3)},""" +
          s""""rows1":$n1,"rowsN":$nN,""" +
          s""""ratio":${JsonOut.num(tN / t1, 2)},"warm1_s":${JsonOut.num(warm1, 3)},""" +
          s""""baseline":${JsonOut.str(baseline)}}""")
    }
  }

  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Count a result whose cache the caller owns, then release it. */
  private def countOnce(df: DataFrame): Long =
    try df.count() finally Boundary.release(df)

  /** LSH bits at `scale`× the corpus: 2^bits grows with N (4 → 4 +
    * log2 N), holding expected bucket occupancy constant — the index
    * tunable that keeps the bucket join linear; fixed bits at growing
    * N would grow occupancy ∝ N and candidate pairs ∝ N². */
  private def bitsAt(scale: Int): Int = 4 + (math.log(scale.toDouble) / math.log(2.0)).round.toInt

  /** Write both sides under `tmp` and run every selected arm. Names
    * are checked before anything is written. */
  def run(spark: SparkSession, mult: Int, sfDir: String, tmp: String,
      only: Option[Seq[String]]): Results = {
    val names = selected(only)
    val dir1 = s"$tmp/x1"
    val dirN = s"$tmp/x$mult"
    writeCopies(spark, sfDir, dir1, 1)
    writeCopies(spark, sfDir, dirN, mult)
    val res = new Results(mult)

    // one warm run at 1× (codegen), then the timed 1× and N× runs;
    // build and count sit inside the timer, as in Bench
    def scaled(name: String)(at: (String, Int) => Long): Unit = {
      def once(dir: String, scale: Int) = { spark.catalog.clearCache(); timed(at(dir, scale)) }
      val (w1, _) = once(dir1, 1)
      val (t1, n1) = once(dir1, 1)
      val (tN, nN) = once(dirN, mult)
      spark.catalog.clearCache()
      res.record(name, t1, tN, n1, nN, s"linear=$mult", w1)
    }
    Tier.pinned(spark, "distributed") {
      val declared = SparkEntry.queries
      names.flatMap(n => declared.get(n).map(n -> _)).foreach { case (name, q) =>
        scaled(name)((dir, _) => q(spark, dir).count())
      }
      // LSH-bucketed embedding dedup with the bits rule of [[bitsAt]]
      if (names.contains("embedding_lsh")) scaled("embedding_lsh") { (dir, scale) =>
        Dedup.embeddingPairsLsh(Tables.table(spark, dir, "embeddings"), "vec_id", "embedding",
          64, bitsAt(scale), 8, 42L, 0.4).count()
      }
    }
    standing(spark, names, mult, dir1, dirN, res)
    res
  }

  /** The standing-state arms. Their state (index, labeling, loop)
    * builds OUTSIDE the timer — it is the amortized land-time cost —
    * and no clearCache runs between their timers, which would evict
    * it. Every fixed batch or victim set is taken from copy 0, which
    * is verbatim in both directories, so it finds its real near-dups
    * in the N× state too. */
  private def standing(spark: SparkSession, names: Seq[String], mult: Int,
      dir1: String, dirN: String, res: Results): Unit = {
    val docs1 = Tables.table(spark, dir1, "documents").select("doc_id", "text")
    val docsN = Tables.table(spark, dirN, "documents").select("doc_id", "text")
    val emb1 = Tables.table(spark, dir1, "embeddings").select("vec_id", "embedding")
    val embN = Tables.table(spark, dirN, "embeddings").select("vec_id", "embedding")
    def batchOf(d: DataFrame, id: String) = d.filter(pmod(col(id), lit(10)) === 3)
    def corpusOf(d: DataFrame, id: String) = d.filter(pmod(col(id), lit(10)) =!= 3)

    // curation gauntlet: FIXED batch vs N× standing hash index — a
    // probe's cost must track the batch, so the ratio target is ~flat
    if (names.contains("curate_probe")) {
      // novel text (suffix token): the batch is dup-free against BOTH
      // corpora, so the survivor count reads identically at 1× and N×
      val batch = Boundary.stage(
        docs1.limit(500).withColumn("text", concat(col("text"), lit(" zz"))))
      def index(c: DataFrame): DataFrame =
        Boundary.stage(c.select(col("doc_id").as("__cid"), md5(col("text")).as("__h")))
      val idx1 = index(docs1); val idxN = index(docsN)
      def probe(idx: DataFrame) = timed {
        val dups = Dedup.exactIncrementalHashed(idx, batch, "doc_id", "text")
        val flags = Curation.qualityEnsemble(batch, "doc_id", "text",
          10, 50000, 0, -2.0, 0.6, -6.0, 0.1, -4.0, 0.12, 0.05)
        dups.join(flags, "doc_id").filter(col("dup_of").isNull && col("keep")).count()
      }
      probe(idx1) // warm codegen
      val (t1, n1) = probe(idx1)
      val (tN, nN) = probe(idxN)
      Seq(idx1, idxN, batch).foreach(Boundary.release)
      res.record("curate_probe", t1, tN, n1, nN, "flat=1")
    }

    // standing-index probes, two claims each: (a) a FIXED batch against
    // the N× index stays ~flat (the corpus is never recomputed for a
    // probe), (b) the N× batch against the N× index scales ~linearly
    // in the batch
    def indexProbe[I](name: String, id: String, d1: DataFrame, dN: DataFrame)(
        index: (DataFrame, Int) => I)(probe: (I, DataFrame) => DataFrame)(
        release: I => Unit): Unit = if (names.contains(name)) {
      val idx1 = index(corpusOf(d1, id), 1)
      val idxN = index(corpusOf(dN, id), mult)
      def time(idx: I, b: DataFrame) = timed(countOnce(probe(idx, b)))
      time(idx1, batchOf(d1, id)) // warm codegen
      val (t1, n1) = time(idx1, batchOf(d1, id))
      val (tFix, nFix) = time(idxN, batchOf(d1, id))
      val (tN, nN) = time(idxN, batchOf(dN, id))
      release(idx1); release(idxN)
      res.record(s"${name}_fixed_batch", t1, tFix, n1, nFix, "flat=1")
      res.record(s"${name}_scaled_batch", t1, tN, n1, nN, s"linear=$mult")
    }
    indexProbe("minhash_probe", "doc_id", docs1, docsN)(
      (c, _) => Dedup.minhashIndex(c, "doc_id", "text", 3, 64, 16))(
      Dedup.minhashProbe(_, _, "doc_id", "text", 0.5))(_.release())
    // batch-only windowing, broadcast probe keys
    indexProbe("substring_probe", "doc_id", docs1, docsN)(
      (c, _) => Dedup.substringIndex(c, "doc_id", "text", 20))(
      Dedup.substringProbe(_, _, "doc_id", "text"))(_.release())
    // only the batch is signed; index occupancy follows the bits rule
    indexProbe("embedding_probe", "vec_id", emb1, embN)(
      (c, scale) => Dedup.embeddingIndex(c, "vec_id", "embedding", 64, bitsAt(scale), 8, 42L))(
      Dedup.embeddingProbe(_, _, "vec_id", "embedding", 0.4))(_.release())

    // incremental CC: a FIXED frontier of merge edges folds into a
    // standing labeling. Claims: (a) the fold ≪ the full recompute
    // over (old ∪ new) edges at N× — the quotient-CC rounds run on
    // frontier-sized edges, so the only corpus-sized work is the ONE
    // remap join; (b) fold@N× / fold@1× stays at-or-below linear.
    if (names.contains("clusters_inc")) {
      def chain(d: DataFrame): DataFrame =
        d.select(col("doc_id").as("src"), (col("doc_id") - pmod(col("doc_id"), lit(4))).as("dst"))
          .filter(col("src") =!= col("dst"))
      val edgesN = chain(docsN)
      val lab1 = Boundary.stage(Clusters.connectedComponents(chain(docs1), "src", "dst"))
      val labN = Boundary.stage(Clusters.connectedComponents(edgesN, "src", "dst"))
      // fixed frontier: pair up 2000 real representatives (cluster
      // ids ARE member ids by the CC contract) → 1000 merge edges
      val reps = lab1.select("cluster_id").distinct().orderBy("cluster_id")
        .limit(2000).collect().map(_.getLong(0)) // bounded: 2000 longs
      val frontier = spark.createDataFrame(
        reps.grouped(2).collect { case Array(a, b) => (a, b) }.toSeq).toDF("src", "dst")
      // the distributed tier pins the quotient-CC loop: the probe
      // proves the LOOP's corpus-size independence — the single-task
      // dispatch a frontier-sized quotient graph takes by default
      // would be flat by construction and prove nothing
      def time(f: => Long) = Tier.pinned(spark, "distributed")(timed(f))
      time(Clusters.incrementalComponents(lab1, frontier, "src", "dst").count()) // warm
      val (t1, n1) = time(Clusters.incrementalComponents(lab1, frontier, "src", "dst").count())
      val (tN, nN) = time(Clusters.incrementalComponents(labN, frontier, "src", "dst").count())
      val (tFull, _) = time(Clusters.connectedComponents(edgesN.union(frontier), "src", "dst").count())
      Boundary.release(lab1); Boundary.release(labN)
      res.record("clusters_inc_fold", t1, tN, n1, nN, s"linear=$mult")
      println(f"[scaleprobe] clusters_inc_vs_full inc@${mult}x: $tN%6.2f s  " +
        f"full-recompute@${mult}x: $tFull%6.2f s  inc/full: ${tN / tFull}%5.2f (want ≪ 1)")
      res.entries.update("clusters_inc_vs_full",
        s"""{"inc_s":${JsonOut.num(tN, 3)},"full_s":${JsonOut.num(tFull, 3)},""" +
          s""""inc_over_full":${JsonOut.num(tN / tFull, 2)},"baseline":"want<<1"}""")
    }

    // continuous-dedup loops: one fixed operation (an ingest or a
    // retraction) against a loop built outside the timer at 1× and at
    // N× standing state. A fresh loop per timed run: the operation
    // changes the loop's state.
    def loopArm[L](name: String, baseline: String)(build: Int => L)(
        op: L => DataFrame)(release: L => Unit): Unit = if (names.contains(name)) {
      def time(scale: Int) = {
        val loop = build(scale)
        try timed(countOnce(op(loop))) finally release(loop)
      }
      time(1) // warm codegen
      val (t1, n1) = time(1)
      val (tN, nN) = time(mult)
      res.record(name, t1, tN, n1, nN, baseline)
    }
    def embLoop(corpus: DataFrame, dim: Int, scale: Int): ClusterStream = {
      val idx = Dedup.embeddingIndex(corpus, "vec_id", "embedding", dim, bitsAt(scale), 8, 42L)
      val pairs = Dedup.embeddingPairsFromIndex(idx, 0.4)
      val labels = Clusters.connectedComponents(pairs, "vec_a", "vec_b")
      Boundary.release(pairs)
      ClusterStream(idx, labels, "vec_id", "embedding", 0.4)
    }
    def textLoop(corpus: DataFrame): TextClusterStream = {
      val idx = Dedup.minhashIndex(corpus, "doc_id", "text", 3, 64, 16)
      val pairs = Dedup.minhashPairsFromIndex(idx, 0.5)
      val labels = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
      Boundary.release(pairs)
      TextClusterStream(idx, labels, "doc_id", "text", 0.5)
    }
    def at[T](scale: Int, one: T, many: T): T = if (scale == 1) one else many

    // continuous SemDeDup loop: ingest = idempotent append + probe
    // (batch-signed, keys broadcast) + quotient CC + ONE remap join +
    // the delta join — the corpus-sized work is a handful of
    // label/index scans, so fixed-batch ingest should stay near-flat
    loopArm("cluster_stream", "flat=1")(s =>
      embLoop(at(s, corpusOf(emb1, "vec_id"), corpusOf(embN, "vec_id")), 64, s))(
      _.ingest(batchOf(emb1, "vec_id")))(_.release())
    // the text-granularity loop over a standing MinHash index
    loopArm("text_cluster_stream", "flat=1")(s =>
      textLoop(at(s, corpusOf(docs1, "doc_id"), corpusOf(docsN, "doc_id"))))(
      _.ingest(batchOf(docs1, "doc_id")))(_.release())

    // takedown retraction, FLAT contract: a FIXED victim set whose
    // touched-cluster membership is constant BY CONSTRUCTION at both
    // scales, so the flat=1 claim can actually fail. An injected victim
    // clique — 210 vectors near a common base direction, carrying a tag
    // component of 3×‖w‖ on a 65th dimension the ambient corpus
    // zero-pads — is unioned into both corpora once (not copied): by
    // Cauchy-Schwarz, cos(ambient, clique) ≤ 1/√10 ≈ 0.316 < τ=0.4
    // whatever the corpus scale, so no ambient vector merges into the
    // victims' cluster; within the clique cos ≈ 1, so it stays one
    // cluster at any bits. The residual linear terms are the
    // index-retraction generation swap and the labeling rewrite (both
    // ∝ state).
    if (names.contains("cluster_retract")) {
      val cliqueRows = (0 until 210).map { i =>
        val w = Array.tabulate(64) { j =>
          (math.sin(j * 1.7) * 0.5 + ((i * 64L + j) * 2654435761L % 1000L) / 1000.0 * 0.01).toFloat
        }
        val norm = math.sqrt(w.map(x => x.toDouble * x).sum)
        (900000000L + i, (w :+ (3.0 * norm).toFloat).toSeq)
      }
      val clique = spark.createDataFrame(cliqueRows).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      def pad(d: DataFrame): DataFrame =
        d.select(col("vec_id"), concat(col("embedding"), array(lit(0.0f))).as("embedding"))
          .unionByName(clique)
      // fixed victims: the clique's first half — the second half is
      // the constant-size remaining membership that re-clusters
      val victims = clique.filter(col("vec_id") < 900000105L).select("vec_id")
      loopArm("cluster_retract", "flat=1")(s => embLoop(pad(at(s, emb1, embN)), 65, s))(
        _.retract(victims))(_.release())
    }
    // the ADVERSARIAL-GROWTH twin: statistically-rare cross-copy
    // cosines cross tau at N×, so the fixed victims' touched membership
    // — and the emitted delta — GROWS with scale. Cost ∝ touched
    // membership is the contract here: expect the ratio to track
    // rowsN/rows1, not flat=1.
    loopArm("cluster_retract_growth", "membership∝delta")(s => embLoop(at(s, emb1, embN), 64, s))(
      _.retract(emb1.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id")))(_.release())
    // text-granularity takedown: the sub-index pair re-derivation is
    // semi-joined to the touched clusters' remaining members, so
    // fixed-victim cost should stay near-flat
    loopArm("text_cluster_retract", "flat=1")(s => textLoop(at(s, docs1, docsN)))(
      _.retract(docs1.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id")))(_.release())

    // LM refresh: a FIXED landed batch folded into a standing LmLoop
    // whose frozen model was trained on the 1× vs N× corpus. refresh()
    // = trainLm(landed) + mergeLm (union→group-sum of the standing
    // count tables) — cost ∝ batch + model-table sizes, never ∝ corpus.
    // The relabeled N× corpus grows vocab ~N×, so the merge side is
    // honestly N× bigger; the claim under test is that refresh stays
    // FAR below the full retrain it replaces (also timed at N×).
    if (names.contains("lm_refresh")) {
      val toks = Text.tokens(col("text"))
      val batch = batchOf(docs1, "doc_id")
      def refresh(corpus: DataFrame): Double = {
        val loop = new LmLoop(LmStream.trainLm(corpus, "doc_id", toks), 0.9)
        Boundary.release(loop.ingest(0L, batch))
        val (dt, _) = timed { loop.refresh(); 0L }
        loop.release()
        dt
      }
      refresh(corpusOf(docs1, "doc_id")) // warm
      val t1 = refresh(corpusOf(docs1, "doc_id"))
      val tN = refresh(corpusOf(docsN, "doc_id"))
      val (tRetrain, _) = timed {
        LmStream.trainLm(corpusOf(docsN, "doc_id").unionByName(batch), "doc_id", toks).release(); 0L
      }
      res.record("lm_refresh", t1, tN, -1L, -1L, "flat=1")
      println(f"[scaleprobe] lm_refresh_vs_retrain full ${mult}x retrain: $tRetrain%6.2f s, " +
        f"refresh wins ${tRetrain / tN}%4.1fx")
      res.entries.update("lm_refresh_vs_retrain",
        s"""{"refresh_s":${JsonOut.num(tN, 3)},"retrain_s":${JsonOut.num(tRetrain, 3)},""" +
          s""""refresh_wins":${JsonOut.num(tRetrain / tN, 1)},"baseline":"want>>1"}""")
    }
  }

  /** The 1-minute load average, as Bench samples it. */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").head.toDouble
    catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only = args.lift(2).map(_.split(",").toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // overridable so concurrent probes don't clobber each other's corpora
    val tmp = sys.env.getOrElse("SCALEPROBE_DIR", "/tmp/graft_scaleprobe")
    val spark = graft.Sessions.build(cpus, appName = "graft-scaleprobe")
    val load0 = loadAvg()
    val res = run(spark, mult, sfDir, tmp, only)
    val load1 = loadAvg()
    sys.env.get("SCALEPROBE_OUT").foreach { path =>
      val body = res.entries.map { case (k, v) => JsonOut.str(k) + ":" + v }
        .mkString(
          s"""{"mult":$mult,"sf_dir":${JsonOut.str(sfDir)},""" +
            s""""nproc":${Runtime.getRuntime.availableProcessors},"cpus":$cpus,""" +
            s""""load_avg_start":${JsonOut.num(load0, 2)},"load_avg_end":${JsonOut.num(load1, 2)},""" +
            s""""corpus":"writeCopies: copy 0 verbatim; copies k>=1 offset BIGINT *key/*_id columns by k*$Stride, prefix each text token with a fixed-width copy code, and sign-flip embeddings per copy; nation and region once (cross-copy similarity zero; true answer linear)",""" +
            s""""queries":{""",
          ",", "}}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[scaleprobe] wrote $path")
    }
    spark.stop()
  }
}
