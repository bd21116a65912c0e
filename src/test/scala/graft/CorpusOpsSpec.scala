package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Boundary, Curation, Events, Tier}
import graft.sources.Tables

/** Per-domain cap, mixture resampling, C4 filters (Curation) and the
  * sliding-window / cohort-retention / z-score event operators. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  // ---- stratumCap ----

  test("stratumCap keeps at most k per stratum, deterministically") {
    val docs = Tables.documents(spark, sfDir)
    val capped = Curation.stratumCap(docs, "source", "doc_id", 5)
    val bySource = capped.groupBy("source").count().as[(String, Long)].collect()
    assert(bySource.nonEmpty && bySource.forall(_._2 <= 5))
    // a source with >=5 docs is capped exactly at 5
    val big = docs.groupBy("source").count().filter(col("count") >= 5)
      .select("source").as[String].collect().toSet
    bySource.filter(r => big(r._1)).foreach(r => assert(r._2 === 5L))
    val again = Curation.stratumCap(docs, "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(capped.select("doc_id").as[Long].collect().toSet === again)
  }

  test("stratumCap rank filter is pushed below the shuffle (WindowGroupLimit)") {
    val p = plan(Curation.stratumCap(Tables.documents(spark, sfDir), "source", "doc_id", 5))
    assert(p.contains("WindowGroupLimit"),
      s"hot stratum would funnel all rows to one reducer:\n$p")
  }

  // ---- mixtureSample ----

  test("mixtureSample downsamples toward target shares and never upsamples") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.agg(sum("n_chars")).as[Long].head.toDouble
    val out = Curation.mixtureSample(docs, "lang", col("n_chars"), col("text"),
      Map("en" -> 0.25, "de" -> 0.35), defaultRate = 0.6)
    val keptByLang = out.groupBy("lang").agg(sum("n_chars").as("w"))
      .as[(String, Long)].collect().toMap
    val allByLang = docs.groupBy("lang").agg(sum("n_chars").as("w"))
      .as[(String, Long)].collect().toMap
    // never upsample: kept weight <= original weight per stratum
    keptByLang.foreach { case (l, w) => assert(w <= allByLang(l)) }
    // a stratum above its target share lands near (at most ~2x, hash
    // granularity at this tiny SF) the target weight
    val enShare = allByLang("en") / total
    if (enShare > 0.25) {
      assert(keptByLang("en") <= allByLang("en"))
      assert(keptByLang("en").toDouble / total < 0.25 * 2.0,
        s"en kept ${keptByLang("en")} of $total — far over the 25% target")
    }
    // deterministic
    val again = Curation.mixtureSample(docs, "lang", col("n_chars"), col("text"),
      Map("en" -> 0.25, "de" -> 0.35), defaultRate = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet === again)
  }

  // ---- bigramLogProb ----

  test("bigramLogProb computes proper MLE conditionals (hand check)") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    // prefix 'a' appears 4 times; P(b|a)=3/4, P(c|a)=1/4
    val out = Curation.bigramLogProb(docs, "doc_id", graft.functions.Text.tokens(col("text")))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val r34 = BigDecimal(math.log(3.0 / 4.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r14 = BigDecimal(math.log(1.0 / 4.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === ((1L, r34)) && out(2L) === ((1L, r34)) && out(3L) === ((1L, r34)))
    assert(out(4L) === ((1L, r14)))
  }

  test("bigramLogProb penalizes scrambled word order where the unigram signal cannot") {
    // same multiset of tokens; one doc follows the corpus phrasing,
    // the other scrambles it
    val phrase = "the quick brown fox jumps over the lazy dog"
    val corpus = (1L to 20L).map(i => (i, phrase)) ++
      Seq((100L, phrase), (101L, "dog the brown lazy jumps fox quick over the"))
    val docs = corpus.toDF("doc_id", "text")
    val toks = graft.functions.Text.tokens(col("text"))
    val bi = Curation.bigramLogProb(docs, "doc_id", toks)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val uni = Curation.unigramLogProb(docs, "doc_id", toks)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(bi(100L) > bi(101L), "bigram LM must prefer corpus-typical word order")
    assert(uni(100L) === uni(101L), "unigram signal is order-blind by construction")
  }

  test("interpLogProb at lambda=1 degenerates to bigramLogProb exactly") {
    val docs = Seq((1L, "a b c a b"), (2L, "a c b"), (3L, "b b a c"))
      .toDF("doc_id", "text")
    val toks = graft.functions.Text.tokens(col("text"))
    val bi = Curation.bigramLogProb(docs, "doc_id", toks)
      .as[(Long, Long, Double)].collect().toSet
    val interp = Curation.interpLogProb(docs, "doc_id", toks, lambda = 1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(interp === bi)
  }

  test("LM tiers are exactly equal: driver kernel ≡ broadcast model ≡ distributed (r18)") {
    // tier 1 (LmLocal kernel), tier 2 (driver-folded broadcast
    // model) and tier 3 (partition-window fold) must produce the
    // SAME rounded output — integer model counts everywhere, same
    // per-row arithmetic, same row-order accumulation
    def threeWay(docs: org.apache.spark.sql.DataFrame): Unit = {
      val toks = graft.functions.Text.tokens(col("text"))
      def s(df: org.apache.spark.sql.DataFrame) =
        df.as[(Option[Long], Long, Double)].collect().toSet
      val bigK = s(Curation.bigramLogProb(docs, "doc_id", toks))
      val bigM = s(Tier.pinned(spark, "model")(
        Curation.bigramLogProb(docs, "doc_id", toks)))
      val bigD = s(Tier.pinned(spark, "distributed")(
        Curation.bigramLogProb(docs, "doc_id", toks)))
      assert(bigK === bigD, "kernel vs distributed (bigram)")
      assert(bigM === bigD, "broadcast model vs distributed (bigram)")
      val iK = s(Curation.interpLogProb(docs, "doc_id", toks, 0.9))
      val iM = s(Tier.pinned(spark, "model")(
        Curation.interpLogProb(docs, "doc_id", toks, 0.9)))
      val iD = s(Tier.pinned(spark, "distributed")(
        Curation.interpLogProb(docs, "doc_id", toks, 0.9)))
      assert(iK === iD, "kernel vs distributed (interp)")
      assert(iM === iD, "broadcast model vs distributed (interp)")
    }
    threeWay(Tables.documents(spark, sfDir))
    // perplexity triage: the kernel's exact-percentile cuts + CASE
    // must reproduce the Spark percentile aggregate bit-for-bit
    locally {
      val docs = Tables.documents(spark, sfDir)
      val toks = graft.functions.Text.tokens(col("text"))
      def b(df: org.apache.spark.sql.DataFrame) = {
        val r = df.as[(Option[Long], Long, Double, String)].collect().toSet
        Boundary.release(df)
        r
      }
      val pK = b(Curation.perplexityBuckets(docs, "doc_id", toks, 0.8))
      val pD = b(Tier.pinned(spark, "distributed")(
        Curation.perplexityBuckets(docs, "doc_id", toks, 0.8)))
      assert(pK === pD, "kernel vs distributed (perplexity buckets)")
    }
    // tokenize-convention edge cases: tabs/newlines split, control
    // chars and NBSP are TOKEN bytes (Java \s is ASCII-only),
    // duplicate ids merge in row order, null/empty/1-token docs drop
    threeWay(Seq(
      (1L, "a b\tc\nd e"),
      (1L, "a b"),
      (2L, "  leading  and   trailing   "),
      (3L, "\u0001ctl a\u0001b c a\u0001b c"),
      (4L, "héllo wörld héllo wörld again"),
      (5L, "single"),
      (6L, ""),
      (7L, null.asInstanceOf[String]),
      (8L, "x \u00a0 y z \u00a0w x \u00a0 y")).toDF("doc_id", "text"))
  }

  test("interpLogProb cushions the once-seen-prefix overconfidence") {
    // 'rare' occurs once as a prefix: MLE gives its one continuation
    // P=1 (ln P = 0 — overconfident). The unigram mixture pulls the
    // mixed probability below 1, so the interpolated score is
    // strictly lower for that bigram — while frequent, genuinely
    // predictable bigrams keep scores close to the MLE value.
    val docs = Seq((1L, "rare continuation"), (2L, "a b"), (3L, "a b"), (4L, "a b"))
      .toDF("doc_id", "text")
    val toks = graft.functions.Text.tokens(col("text"))
    val mle = Curation.bigramLogProb(docs, "doc_id", toks)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val mixed = Curation.interpLogProb(docs, "doc_id", toks, lambda = 0.9)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(mle(1L) === 0.0, "MLE scores the once-seen prefix P=1")
    assert(mixed(1L) < 0.0, "interpolation must cushion P=1 overconfidence")
    // the frequent bigram 'a b' (P(b|a)=1 from 3 observations) also
    // mixes down, but stays above the rare doc's score: P(b) > P(continuation)
    assert(mixed(2L) > mixed(1L))
  }

  // ---- kAnonymize ----

  test("kAnonymize suppresses rare quasi-identifier combinations, keeps crowds") {
    val df = (1 to 30).map(i => (i.toLong, "en", "web")) ++
      Seq((100L, "xx", "rare_site")) // a 1-row combination
    val out = Curation.kAnonymize(df.toDF("doc_id", "lang", "source"),
      Seq("lang", "source"), k = 25)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept === (1 to 30).map(_.toLong).toSet)
    assert(!kept.contains(100L), "the re-identifiable singleton must be suppressed")
  }

  test("kAnonymize keeps a NULL quasi-identifier crowd (null-safe join keys)") {
    val rows = (1 to 30).map(i => (i.toLong, null: String, "web")) ++
      Seq((200L, null: String, "lonely_source"))
    val out = Curation.kAnonymize(rows.toDF("doc_id", "lang", "source"),
      Seq("lang", "source"), k = 25)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept === (1 to 30).map(_.toLong).toSet,
      "a NULL combination seen >= k times is an anonymous crowd and must stay")
  }

  // ---- tCloseness ----

  test("tCloseness suppresses a skewed group l-diversity would pass") {
    // corpus: 50/50 en/de overall; group "bal" mirrors it, group
    // "skew" carries BOTH langs (l=2 diverse!) but 90/10 — TV = 0.4
    val rows =
      (1 to 45).map(i => (i.toLong, "bal", "en")) ++
      (46 to 90).map(i => (i.toLong, "bal", "de")) ++
      (91 to 135).map(i => (i.toLong, "skew", if (i <= 131) "en" else "de"))
    val df = rows.toDF("doc_id", "grp", "lang")
    // corpus: en 86/135, de 49/135; skew: en 41/45, de 4/45
    // TV(skew) = ½(|41/45−86/135| + |4/45−49/135|) ≈ 0.274
    val out = Curation.tCloseness(df, Seq("grp"), "lang", tNum = 1, tDen = 4)
    val kept = out.select("grp").as[String].collect().toSet
    assert(kept === Set("bal"),
      s"skewed-but-diverse group must suppress, got $kept")
    // and the balanced group keeps ALL its rows with the group tv
    assert(out.count() === 90L)
    val tvs = out.select("tv").distinct().as[Double].collect()
    assert(tvs.length === 1 && tvs.head <= 0.25)
  }

  test("tCloseness missing-mass term and exact boundary equality") {
    // corpus: en 30/40, de 10/40. "pure" (all-en, de absent) measures
    // its missing de mass: TV = ½(|1−¾| + ¼) = 0.25 exactly; "mix"
    // (50/50) also lands TV = ½(¼ + ¼) = 0.25 exactly
    val rows = (1 to 20).map(i => (i.toLong, "pure", "en")) ++
      (21 to 30).map(i => (i.toLong, "mix", "de")) ++
      (31 to 40).map(i => (i.toLong, "mix", "en"))
    val df = rows.toDF("doc_id", "grp", "lang")
    // at t = 1/4 the rational gate holds with EQUALITY (tDen·num =
    // 2·tNum·g·n = 1600) — boundary groups are kept, bit-stably
    val at = Curation.tCloseness(df, Seq("grp"), "lang", tNum = 1, tDen = 4)
    assert(at.select("grp").as[String].collect().toSet === Set("pure", "mix"))
    assert(at.select("tv").distinct().as[Double].collect().toSeq === Seq(0.25))
    // one notch tighter and both fall — no float fuzz at the edge
    val under = Curation.tCloseness(df, Seq("grp"), "lang", tNum = 24, tDen = 100)
    assert(under.count() === 0L)
  }

  test("temperatureSample drops zero-weight strata deliberately, not via NaN") {
    val rows = (1 to 40).map(i => ("en", s"doc $i words", 100L)) ++
      (1 to 5).map(i => ("zz", s"empty $i", 0L))
    val out = Curation.temperatureSample(rows.toDF("lang", "text", "n_chars"),
      "lang", col("n_chars"), col("text"), alpha = 0.5)
    assert(out.filter(col("lang") === "zz").count() === 0L)
    assert(out.filter(col("lang") === "en").count() === 40L,
      "the sole positive stratum must keep rate 1 (K*q/w = 1), not be NaN-poisoned")
  }

  test("kAnonymize broadcasts the group table and never sorts the corpus") {
    val p = plan(Curation.kAnonymize(Tables.documents(spark, sfDir),
      Seq("lang", "source"), k = 25))
    assert(p.contains("BroadcastHashJoin"), s"qualifying groups must broadcast:\n$p")
    assert(!p.contains("Window"), s"paying a window shuffle+sort for a count:\n$p")
  }

  // ---- temperatureSample ----

  test("temperatureSample lands kept-weight shares on the w^alpha normalization") {
    val docs = Tables.documents(spark, sfDir)
    val alpha = 0.5
    val allByLang = docs.groupBy("lang").agg(sum("n_chars").as("w"))
      .as[(String, Long)].collect().toMap
    val q = {
      val p = allByLang.view.mapValues(w => math.pow(w.toDouble, alpha)).toMap
      val s = p.values.sum
      p.view.mapValues(_ / s).toMap
    }
    val out = Curation.temperatureSample(docs, "lang", col("n_chars"),
      col("text"), alpha)
    val keptByLang = out.groupBy("lang").agg(sum("n_chars").as("w"))
      .as[(String, Long)].collect().toMap
    // never upsample
    keptByLang.foreach { case (l, w) => assert(w <= allByLang(l)) }
    // the binding stratum (max w/q is min rate=1... the stratum with
    // minimal w/q keeps everything); every kept share tracks q within
    // hash-rounding noise at this tiny SF
    val keptTotal = keptByLang.values.sum.toDouble
    q.foreach { case (l, qi) =>
      val share = keptByLang.getOrElse(l, 0L) / keptTotal
      assert(math.abs(share - qi) < 0.1,
        s"lang $l kept share $share far from temperature target $qi")
    }
    // low-resource strata gain share relative to natural proportions
    val total = allByLang.values.sum.toDouble
    val (minLang, _) = allByLang.minBy(_._2)
    assert(keptByLang(minLang) / keptTotal >= allByLang(minLang) / total,
      "temperature sampling must up-weight the smallest stratum's share")
    // deterministic
    val again = Curation.temperatureSample(docs, "lang", col("n_chars"),
      col("text"), alpha).select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet === again)
  }

  test("mixtureSample keeps everything in a stratum already below target") {
    val df = Seq(
      ("small", "doc a", 10L), ("big", "doc b", 1000L), ("big", "doc c", 1000L),
      ("big", "doc d", 990L))
      .toDF("lang", "text", "n_chars")
    // small is 10/3000 ≈ 0.3% of weight; target 50% ⇒ rate 1.0
    val out = Curation.mixtureSample(df, "lang", col("n_chars"), col("text"),
      Map("small" -> 0.5), defaultRate = 1.0)
    assert(out.filter(col("lang") === "small").count() === 1L)
  }

  test("lDiversify suppresses homogeneous groups k-anonymity would keep") {
    // group A: 30 rows, ALL one sensitive value — k-anonymous at k=25
    // yet fully leaking (the homogeneity attack); group B: 30 rows
    // over 4 sensitive values; group C: diversity padded by NULLs,
    // which must NOT count
    val rows =
      (1 to 30).map(i => (i.toLong, "A", "flu")) ++
      (31 to 60).map(i => (i.toLong, "B", Seq("flu", "cold", "ok", "na")((i - 31) % 4))) ++
      (61 to 90).map(i => (i.toLong, "C", if (i <= 88) "flu" else null))
    val df = rows.toDF("id", "grp", "cond")
    val kept = Curation.lDiversify(df, Seq("grp"), "cond", l = 2)
      .select("grp").as[String].collect().toSet
    assert(kept === Set("B"),
      s"only the genuinely diverse group may survive, kept $kept")
    // the same corpus passes kAnonymize at k=25 for A — the guarantee
    // really is orthogonal
    val anon = Curation.kAnonymize(df, Seq("grp"), k = 25)
      .select("grp").as[String].collect().toSet
    assert(anon === Set("A", "B", "C"))
    // l=1 keeps everything with at least one non-null sensitive value
    val loose = Curation.lDiversify(df, Seq("grp"), "cond", l = 1)
      .select("grp").as[String].collect().toSet
    assert(loose === Set("A", "B", "C"))
  }

  test("perplexityBuckets: threshold cuts totally order the buckets by score") {
    // three LIKELIHOOD tiers by prefix branching: singleton-bigram
    // docs score ln(λ·1+…) (the MLE-overconfidence ceiling the
    // interpolation cushions), shared-prefix docs score lower the
    // more ways their prefixes branch
    val docs = (
      (1 to 4).map(i => (i.toLong, // tier 1: every bigram unique
        (0 until 10).map(j => s"u${i}_$j").mkString(" "))) ++
      (5 to 9).map(i => (i.toLong, // tier 2: prefix 'y' branches per doc
        s"y m${i}a y m${i}b y m${i}c")) ++
      (10 to 13).map(i => (i.toLong, // tier 3: prefix 'x' branches corpus-wide
        s"x t${i}a x t${i}b x t${i}c x t${i}d x t${i}e")) ++
      Seq((15L, "too"), (16L, ""))) // <2 tokens: dropped, like interpLogProb
      .toDF("doc_id", "text")
    // caller-owned result caches (r17): collect, then release
    val outDf = Curation.perplexityBuckets(docs, "doc_id",
        graft.functions.Text.tokens(col("text")), lambda = 0.8,
        headQ = 0.3, tailQ = 0.3)
    val out = outDf.select("doc_id", "avg_logprob", "ppl_bucket")
      .as[(Long, Double, String)].collect()
    Boundary.release(outDf)
    assert(out.length === 13, "sub-2-token docs must drop, not bucket")
    val byB = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byB.keySet === Set("head", "middle", "tail"), s"buckets: ${byB.keySet}")
    // the quantile cut is a total order on score: min(head) ≥
    // max(middle) ≥ min(middle) ≥ max(tail)
    assert(byB("head").min >= byB("middle").max)
    assert(byB("middle").min >= byB("tail").max)
    // the singleton-bigram docs are the high-likelihood slice; the
    // corpus-wide-branched docs are the tail
    val bucketOf = out.map(r => r._1 -> r._3).toMap
    assert((1 to 4).forall(i => bucketOf(i.toLong) == "head"),
      s"singleton-bigram docs must head: $bucketOf")
    assert((10 to 13).forall(i => bucketOf(i.toLong) == "tail"),
      s"corpus-branched docs must tail: $bucketOf")
    // deterministic
    val againDf = Curation.perplexityBuckets(docs, "doc_id",
        graft.functions.Text.tokens(col("text")), lambda = 0.8,
        headQ = 0.3, tailQ = 0.3)
    val again = againDf.select("doc_id", "avg_logprob", "ppl_bucket")
      .as[(Long, Double, String)].collect()
    Boundary.release(againDf)
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("perplexityBuckets fractions track the quantile knobs on a spread corpus") {
    val docs = Tables.documents(spark, sfDir)
    val outDf = Curation.perplexityBuckets(docs, "doc_id",
        graft.functions.Text.tokens(col("text")), lambda = 0.8,
        headQ = 0.25, tailQ = 0.25)
    val out = outDf.groupBy("ppl_bucket").count()
      .as[(String, Long)].collect().toMap
    Boundary.release(outDf)
    val n = out.values.sum.toDouble
    // quantile cuts land the advertised mass within tie slack
    assert(out("head") / n >= 0.15 && out("head") / n <= 0.45,
      s"head fraction ${out("head") / n}")
    assert(out("tail") / n >= 0.15 && out("tail") / n <= 0.45,
      s"tail fraction ${out("tail") / n}")
    assert(out.getOrElse("middle", 0L) > 0L)
  }

  test("mixtureSample applies defaultRate to unlisted strata (r9 ADVICE)") {
    // many docs in a stratum with NO target share: defaultRate=0 must
    // drop them ALL (the old coalesce-around-least dead branch kept
    // them at rate 1.0), and a listed stratum is untouched by default
    val df = (1 to 50).map(i => ("zz", s"doc number $i unique $i", 100L))
      .toDF("lang", "text", "n_chars")
      .union(Seq(("en", "kept doc", 100L)).toDF("lang", "text", "n_chars"))
    val out = Curation.mixtureSample(df, "lang", col("n_chars"), col("text"),
      Map("en" -> 1.0), defaultRate = 0.0)
    assert(out.filter(col("lang") === "zz").count() === 0L,
      "unlisted stratum must sample at defaultRate, not 1.0")
    assert(out.filter(col("lang") === "en").count() === 1L)
    // and a mid default really thins (not 0, not all) on a larger pool
    val mid = Curation.mixtureSample(df, "lang", col("n_chars"), col("text"),
      Map("en" -> 1.0), defaultRate = 0.5)
      .filter(col("lang") === "zz").count()
    assert(mid > 0L && mid < 50L, s"defaultRate=0.5 kept $mid of 50")
  }

  test("mixtureSample rejects out-of-range rates") {
    val df = Seq(("en", "x", 1L)).toDF("lang", "text", "n_chars")
    intercept[IllegalArgumentException] {
      Curation.mixtureSample(df, "lang", col("n_chars"), col("text"),
        Map("en" -> 1.5), defaultRate = 0.5)
    }
    intercept[IllegalArgumentException] {
      Curation.mixtureSample(df, "lang", col("n_chars"), col("text"),
        Map("en" -> 0.5), defaultRate = -0.1)
    }
  }

  // ---- c4Filters ----

  test("c4Filters flags each heuristic independently") {
    val docs = Seq(
      (1L, "A good doc. It has sentences! Three of them? plus " +
        "enough words to clear the minimum bar easily here."),
      (2L, "too short. yes."),                       // < 10 words
      (3L, "this one has code { return 1; } inside it. " +
        "and otherwise enough words to pass the bar. really truly."),
      (4L, "Lorem ipsum dolor sit amet filler text goes on. " +
        "and on and on and on it goes here. done."))
      .toDF("doc_id", "text")
    val out = Curation.c4Filters(docs, "doc_id", "text",
        minWords = 10, maxWords = 50000, minSentences = 2)
      .as[(Long, Int, Int, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._6 === true)
    assert(out(2L)._6 === false && out(2L)._2 < 10)
    assert(out(3L)._6 === false && out(3L)._4 === true)   // has_curly
    assert(out(4L)._6 === false && out(4L)._5 === true)   // has_lorem
    assert(out(1L)._3 >= 2)                               // sentence count
  }

  // ---- qualityClassifier ----

  test("classifier gate ranks clean prose above punctuation junk") {
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and runs to the " +
        "river in the morning light with a steady pace and a clear goal"),
      (2L, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~ ||| >>> <<< ???"),
      (3L, "the " * 200))
      .toDF("doc_id", "text")
    val out = Curation.qualityClassifier(docs, "doc_id", "text",
        bias = -2.0, wLogTokens = 0.6, wStopDev = -6.0,
        wTokenLen = 0.1, wPunct = -4.0)
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 > out(2L)._2, s"prose must outscore junk: $out")
    assert(out(1L)._3, "clean prose must pass the gate")
    assert(!out(2L)._3, "pure punctuation must not pass the gate")
    // stopword spam deviates from the typical ratio → scores below prose
    assert(out(1L)._2 > out(3L)._2)
    // scores are probabilities
    out.values.foreach(r => assert(r._2 >= 0.0 && r._2 <= 1.0))
  }

  test("classifier gate is one codegen'd pass — no shuffle, no UDF") {
    val p = plan(Curation.qualityClassifier(Tables.documents(spark, sfDir),
      "doc_id", "text", -2.0, 0.6, -6.0, 0.1, -4.0))
    assert(!p.contains("Exchange"), s"classifier scoring shuffled the corpus:\n$p")
    // '*(n)' marks whole-stage-codegen'd operators in simple explain
    assert(p.linesIterator.next().startsWith("*("),
      s"scoring projection fell out of codegen:\n$p")
  }

  // ---- slidingCounts ----

  test("sliding windows place every event in exactly window/slide windows") {
    val ev = Tables.events(spark, sfDir)
    val n = ev.count()
    val out = Events.slidingCounts(ev, 3600, 900)
    assert(out.agg(sum("n_events")).as[Long].head === 4L * n)
    // window starts are slide-aligned
    assert(out.filter(pmod(col("window_start_s"), lit(900)) =!= 0).count() === 0L)
  }

  test("sliding with window == slide degenerates to tumbling (q15 parity)") {
    val ev = Tables.events(spark, sfDir)
    val slid = Events.slidingCounts(ev, 3600, 3600)
      .select(col("window_start_s"), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    val tumb = Events.hourlyByType(ev)
      .select(col("hour_start").cast("long"), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(slid === tumb)
  }

  // ---- cohortRetention ----

  test("cohort retention: offset-0 count equals cohort size; offsets non-negative") {
    val ev = Tables.events(spark, sfDir)
    val out = Events.cohortRetention(ev, "user_id", "ts")
      .as[(java.sql.Date, Int, Long)].collect()
    assert(out.forall(_._2 >= 0))
    val zero = out.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    val cohorts = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cw"))
      .groupBy("cw").count().as[(java.sql.Date, Long)].collect().toMap
    // every user is active in their own first week by construction
    assert(zero === cohorts)
    // retention never exceeds cohort size
    out.foreach { case (cw, _, n) => assert(n <= cohorts(cw)) }
  }

  // ---- zscoreOutliers ----

  test("zscore flags the planted outlier and nothing in a tight cluster") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "a", 5.0),
      (2L, "2024-01-01 00:01:00", 11L, "a", 5.1),
      (3L, "2024-01-01 00:02:00", 12L, "a", 4.9),
      (4L, "2024-01-01 00:03:00", 13L, "a", 5.05),
      (5L, "2024-01-01 00:04:00", 14L, "a", 500.0), // the outlier
      (6L, "2024-01-01 00:05:00", 15L, "a", 4.95))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = Events.zscoreOutliers(ev, 2.0).select("event_id").as[Long].collect()
    assert(out.toSeq === Seq(5L))
  }

  test("zscore join broadcasts the per-type moments (fact never shuffled)") {
    val p = plan(Events.zscoreOutliers(Tables.events(spark, sfDir), 2.5))
    assert(p.contains("BroadcastHashJoin"), s"moments join shuffled the fact:\n$p")
    assert(!p.contains("SortMergeJoin"), s"moments join shuffled the fact:\n$p")
  }
}
