package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Boundary, Dedup, Tier}
import graft.operators.Dedup.CapPolicy

/** The two tiers of the k-gram shared-count join: the single-task
  * [[graft.operators.JaccardLocal]] kernel is an exact twin of the
  * distributed inverted-index join — same rows as multisets, same
  * schema — for `sharedCounts` and for both pair operators built on
  * it, over random corpora with planted near-dups, nested copies, a
  * shingle over the df cap, an empty and a null text, identical texts,
  * a repeated doc_id and a null doc_id. Each comparison asserts from
  * the plans that the auto run took the kernel and the pinned run did
  * not. */
class JaccardLocalSpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  /** `n` texts: random ones, near-dups of earlier ones (one word
    * swapped), nested copies (an earlier text inside a longer one), a
    * stopword phrase in more than 50 docs (over the Auto cap of 50 at
    * this size, and over Fixed(2)), an empty and a null text, and two
    * identical texts. */
  private def texts(seed: Long, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    def phrase(len: Int) = Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" ")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (out.size < n - 4) {
      val t = rnd.nextInt(4) match {
        case 0 if out.nonEmpty =>
          val ws = out(rnd.nextInt(out.size)).split(" ").filter(_.nonEmpty)
          if (ws.isEmpty) phrase(8)
          else { ws(rnd.nextInt(ws.length)) = words(rnd.nextInt(words.size)); ws.mkString(" ") }
        case 1 if out.nonEmpty =>
          phrase(1 + rnd.nextInt(4)) + " " + out(rnd.nextInt(out.size)) + " " +
            phrase(1 + rnd.nextInt(12))
        case _ => phrase(3 + rnd.nextInt(20))
      }
      // the stopword phrase: in most docs, so its shingles are hot
      out += (if (rnd.nextInt(10) < 8) s"$t the stop phrase" else t)
    }
    out ++= Seq("", null, out.head, out.head)
    out.toSeq
  }

  /** Corpus with an Int doc_id (not nullable). */
  private def intCorpus(seed: Long): DataFrame =
    texts(seed, 90).zipWithIndex.map { case (t, i) => (i * 3 + 1, t) }
      .toDF("doc_id", "text")

  /** Corpus with a nullable Long doc_id: a repeated id and a null id. */
  private def longCorpus(seed: Long): DataFrame = {
    val ts = texts(seed, 90)
    val ids = ts.indices.map(i => Option(1000000000000L + 7L * i))
    (ids.updated(5, ids(4)).updated(7, None) zip ts).toDF("doc_id", "text")
  }

  private val caps = Seq(CapPolicy.Auto, CapPolicy.Fixed(2), CapPolicy.Off)

  private def capOf(docs: DataFrame, cap: CapPolicy): Int = cap match {
    case CapPolicy.Auto => Dedup.autoCap(docs)
    case CapPolicy.Off => Int.MaxValue
    case CapPolicy.Fixed(n) => n
  }

  /** Whether `df`'s plan (a boundary leaf's: its origin's) is the
    * single-task kernel: one Coalesce(1) task and no exchange. */
  private def isKernel(df: DataFrame, leaf: Boolean): Boolean = {
    val plan = (if (leaf) Boundary.origin(df).get else df).queryExecution.executedPlan.toString
    plan.contains("Coalesce 1") && !plan.contains("Exchange")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `build` under auto (asserted to be the kernel) and pinned
    * distributed (asserted not to be): equal multisets and schemas.
    * A pair operator's result is a boundary the caller releases; a
    * `sharedCounts` frame is lazy over the caller's index. */
  private def assertTwins(what: String, owned: Boolean = false)(build: => DataFrame): Unit = {
    val local = Tier.pinned(spark, "auto")(build)
    val dist = Tier.pinned(spark, "distributed")(build)
    try {
      assert(isKernel(local, owned), s"$what: auto run did not take the kernel")
      assert(!isKernel(dist, owned), s"$what: distributed run took the kernel")
      assert(local.schema === dist.schema, what)
      val (l, d) = (rows(local), rows(dist))
      assert(d.nonEmpty, s"$what: no rows to compare")
      assert(l === d, what)
    } finally if (owned) { Boundary.release(local); Boundary.release(dist) }
  }

  for ((name, corpus) <- Seq("Int" -> intCorpus _, "Long" -> longCorpus _);
       seed <- Seq(11L, 12L)) {
    test(s"sharedCounts: kernel ≡ distributed ($name doc_id, seed $seed, every cap policy)") {
      val docs = corpus(seed)
      val sh = Boundary.stage(Dedup.shingleIndexOf(docs, "doc_id", "text", k = 3))
      try {
        val hot = sh.groupBy("s").count().filter($"count" > 2).count()
        assert(hot > 0, "the corpus must have shingles over the Fixed(2) cap")
        assert(sh.groupBy("s").count().filter($"count" > Dedup.autoCap(docs)).count() > 0,
          "the corpus must have a shingle over the Auto cap")
        caps.foreach(c => assertTwins(s"sharedCounts $c")(Dedup.sharedCounts(sh, capOf(docs, c))))
      } finally Boundary.release(sh)
    }

    test(s"ngramJaccardPairs and containmentPairs: kernel ≡ distributed ($name doc_id, seed $seed)") {
      val docs = corpus(seed)
      caps.foreach { c =>
        assertTwins(s"ngramJaccardPairs $c", owned = true)(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.5, maxDf = c))
        assertTwins(s"containmentPairs $c", owned = true)(
          Dedup.containmentPairs(docs, "doc_id", "text", k = 3, tauC = 0.8, maxDf = c))
      }
    }
  }

  test("the kernel counts repeated (doc, shingle) rows and skips null ids as the join does") {
    // hand-built index: doc 2 repeats shingle 10, whose df of 4 is over
    // a cap of 3; a null doc holds 10 and 20 (counted in the df, never
    // paired)
    val sh = Boundary.stage(Seq[(Option[Long], Long)](
        (Some(1L), 10L), (Some(2L), 10L), (Some(2L), 10L), (None, 10L),
        (Some(1L), 20L), (Some(3L), 20L), (None, 20L),
        (Some(1L), 30L), (Some(2L), 30L), (Some(3L), 30L))
      .toDF("doc_id", "s"))
    try {
      for (cap <- Seq(3, 4, Int.MaxValue))
        assertTwins(s"cap $cap")(Dedup.sharedCounts(sh, cap))
      val capped = Tier.pinned(spark, "auto")(Dedup.sharedCounts(sh, 3))
      // shingle 10 is dropped; 20 and 30 have df 3
      assert(rows(capped) === Seq(Row(1L, 2L, 1L, 2L, 1L), Row(1L, 3L, 2L, 2L, 2L),
        Row(2L, 3L, 1L, 1L, 2L)).map(_.toString))
    } finally Boundary.release(sh)
  }

  test("an auto run over a filled index posts one jaccard pick with rows and runs no gate job") {
    val docs = intCorpus(11L)
    val sh = Boundary.stage(Dedup.shingleIndexOf(docs, "doc_id", "text", k = 3))
    val n = sh.count()
    try {
      val (shared, record) = LayerCollector(spark).measure("jaccard-spec")(
        Tier.pinned(spark, "auto")(Dedup.sharedCounts(sh, 50)))
      assert(record("sched.jobs").toInt === 0, "the gate ran a job over a filled index")
      assert(record.picks.map(p => (p.family, p.tier, p.rows)) ===
        Seq(("jaccard", "input", Some(n))))
      assert(isKernel(shared.get, leaf = false))
    } finally Boundary.release(sh)
  }
}
