package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Profile, Tier}

/** Hand-checks for the r11 monitoring/planning trio: PMI
  * collocations, PSI drift, token-budget planner. */
class DriftPmiSpec extends SparkSpec {
  import spark.implicits._

  // ---- pmiCollocations ----

  test("pmiCollocations hand-check: counts, canonical order, min-count filter") {
    val docs = Seq("a b a b", "a b c").toDF("text")
    val out = Curation.pmiCollocations(docs, col("text"), window = 1, minCount = 2L)
      .as[(String, String, Long, Double)].collect()
    // pairs: doc1 (a,b)x3 (one reversed, canonicalized), doc2 (a,b),(b,c)
    // => (a,b) count 4 of P=5; tokens a:3 b:3 c:1 of T=7
    assert(out.length === 1)
    val (w1, w2, n, pmi) = out.head
    assert((w1, w2, n) === (("a", "b", 4L)))
    val expected = math.log((4.0 * 7 * 7) / (5.0 * 3 * 3))
    assert(math.abs(pmi - expected) <= 5e-5, s"pmi $pmi vs raw $expected")
    out
  }

  test("pmiCollocations window=2 reaches over one intervening token") {
    val docs = Seq("x y z").toDF("text")
    val w2 = Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    // distances 1 and 2: (x,y), (y,z), (x,z)
    assert(w2 === Set(("x", "y"), ("y", "z"), ("x", "z")))
    val w1 = Curation.pmiCollocations(docs, col("text"), window = 1, minCount = 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(w1 === Set(("x", "y"), ("y", "z")))
  }

  test("pmiCollocations: rarer pairs that always co-occur score higher PMI") {
    // "p q" always together (2 of each, 2 pairs); "the" everywhere
    val docs = Seq("p q the", "p q the", "the m the n").toDF("text")
    val out = Curation.pmiCollocations(docs, col("text"), window = 1, minCount = 2L)
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._4)).toMap
    assert(out.contains(("p", "q")))
    // (q, the) co-occurs as often but 'the' is 3x more frequent
    assert(out(("p", "q")) > out(("q", "the")))
  }

  test("pmiCollocations tiers are exactly equal: kernel ≡ collected fold ≡ distributed (r18)") {
    // tier 1 (LmLocal text kernel), tier 2 (collected count fold)
    // and tier 3 (distributed aggs) replay the same integer counts
    // through the same arithmetic — the full output must be identical
    val docs = graft.sources.Tables.documents(spark, sfDir)
    def s(df: org.apache.spark.sql.DataFrame) = {
      val r = df.as[(String, String, Long, Double)].collect().toSet
      df.unpersist(blocking = false)
      r
    }
    val kernel = s(Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 5L))
    val folded = s(Tier.pinned(spark, "model")(
      Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 5L)))
    val dist = s(Tier.pinned(spark, "distributed")(
      Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 5L)))
    assert(dist.nonEmpty)
    assert(kernel === dist, "kernel vs distributed")
    assert(folded === dist, "collected fold vs distributed")
  }

  test("pmiCollocations tiers agree on custom-whitespace pathologies (r19)") {
    // r18 verdict item 6: pmi's kernel gate checks plan stats only
    // (it OWNS tokenization from textCol), so the kernel's byte-level
    // \s scan must provably match the distributed Text.tokens split
    // on the cases where they could diverge: NBSP (U+00A0 — a TOKEN
    // byte under Java's ASCII-only \s), control chars (token bytes),
    // tabs/CR/LF/FF/VT (all split), runs of mixed whitespace,
    // multi-byte UTF-8, null/empty docs. The pair multiset, counts
    // and 4dp scores must be identical across all three tiers.
    val docs = Seq(
      "a\u00a0b a\u00a0b c",              // NBSP glues tokens
      "x \u00a0 y x \u00a0 y",            // NBSP as its own "token"
      "\u0001ctl q\u0001r q\u0001r s",    // control chars are bytes
      "t1\tt2\r\nt3\ft4\u000bt5 t1\tt2",  // every ASCII \s splits
      "héllo wörld héllo wörld",          // multi-byte UTF-8
      " padded   runs  padded   runs ",
      "", null.asInstanceOf[String]
    ).toDF("text")
    def s(df: org.apache.spark.sql.DataFrame) = {
      val r = df.as[(String, String, Long, Double)].collect().toSet
      df.unpersist(blocking = false)
      r
    }
    val kernel = s(Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 2L))
    val folded = s(Tier.pinned(spark, "model")(
      Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 2L)))
    val dist = s(Tier.pinned(spark, "distributed")(
      Curation.pmiCollocations(docs, col("text"), window = 2, minCount = 2L)))
    assert(dist.nonEmpty)
    // the NBSP-glued and control-char tokens must actually appear —
    // the pathology is exercised, not vacuously passed
    assert(dist.exists { case (w1, w2, _, _) =>
      (w1 + w2).contains('\u00a0') }, "NBSP token must survive as a token byte")
    assert(dist.exists { case (w1, w2, _, _) =>
      (w1 + w2).contains('\u0001') }, "control char must survive as a token byte")
    assert(kernel === dist, "kernel vs distributed on pathological whitespace")
    assert(folded === dist, "collected fold vs distributed on pathological whitespace")
  }

  // ---- driftPsi ----

  test("driftPsi: identical slices score zero on every bucket, spine complete") {
    val d = (0L until 100L).map(i => (i, i % 7 * 10)).toDF("id", "v")
    val out = Profile.driftPsi(d, d, Seq("v" -> least(floor(col("v") / 10), lit(9))),
        nBuckets = 10)
      .as[(String, Long, Long, Long, Double, Double, Double, Double)].collect()
    assert(out.length === 10)                      // empty buckets surface
    assert(out.map(_._2).sorted === (0L until 10L).toArray)
    out.foreach { r =>
      assert(r._7 === 0.0, s"psi term nonzero: $r")
      assert(r._8 === 0.0)
    }
  }

  test("driftPsi: a shifted distribution scores positive total PSI") {
    val ref = (0L until 200L).map(i => i % 4).toDF("v")        // buckets 0-3
    val cur = (0L until 200L).map(i => 4 + i % 4).toDF("v")    // buckets 4-7
    val out = Profile.driftPsi(ref, cur, Seq("v" -> col("v")), nBuckets = 8)
      .select("psi_total").as[Double].collect()
    assert(out.forall(_ > 1.0), s"disjoint supports must show severe drift: ${out.head}")
    // every individual term is positive: (pc-pr) and ln(pc/pr) share sign
    val terms = Profile.driftPsi(ref, cur, Seq("v" -> col("v")), nBuckets = 8)
      .select("psi").as[Double].collect()
    assert(terms.forall(_ > 0.0))
  }

  test("driftPsi clamps out-of-range buckets and drops NULLs from both sides of the ratio") {
    // r12 verdict item 3: out-of-range buckets used to vanish from
    // the counts while still inflating the totals, deflating every p.
    // v = -5 (below), 0..3 (in range), 99 (above), null
    val dirty = Seq[java.lang.Long](-5L, 0L, 1L, 2L, 3L, 99L, null).toDF("v")
    val out = Profile.driftPsi(dirty, dirty, Seq("v" -> col("v")), nBuckets = 4)
      .as[(String, Long, Long, Long, Double, Double, Double, Double)].collect()
    // identical slices: zero PSI even with dirty bucket values
    out.foreach(r => assert(r._7 === 0.0 && r._8 === 0.0, s"nonzero psi: $r"))
    // clamped mass is visible at the edges; the NULL row is gone
    val nRef = out.map(r => r._2 -> r._3).toMap
    assert(nRef === Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    // and PSI terms equal the hand-clamped reference exactly
    val clean = dirty.filter(col("v").isNotNull)
      .select(greatest(lit(0L), least(col("v"), lit(3L))).as("v"))
    val expect = Profile.driftPsi(clean, clean, Seq("v" -> col("v")), nBuckets = 4)
      .select("bucket", "p_ref", "p_cur", "psi").as[(Long, Double, Double, Double)]
      .collect().sortBy(_._1)
    val got = Profile.driftPsi(dirty, dirty, Seq("v" -> col("v")), nBuckets = 4)
      .select("bucket", "p_ref", "p_cur", "psi").as[(Long, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(got === expect)
  }

  test("driftPsi validates arguments") {
    val d = Seq(1L).toDF("v")
    intercept[IllegalArgumentException] {
      Profile.driftPsi(d, d, Seq.empty, 10)
    }
    intercept[IllegalArgumentException] {
      Profile.driftPsi(d, d, Seq("v" -> col("v")), 1)
    }
  }

  // ---- tokenBudget ----

  test("tokenBudget: epoch cap, exact fill, and unlisted-group zero share") {
    val docs = Seq(
      ("en", "t1 t2 t3"), ("en", "t4 t5"),          // en: 2 docs, 5 tokens
      ("de", Seq.fill(200)("w").mkString(" ")),      // de: 1 doc, 200 tokens
      ("xx", "a b c"))                               // not in shares
      .toDF("lang", "text")
    val out = Curation.tokenBudget(docs, "lang",
        graft.functions.Text.tokens(col("text")),
        shares = Map("en" -> 0.5, "de" -> 0.5), totalBudget = 100L,
        maxEpochs = 4.0)
      .as[(String, Long, Long, Double, Long, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    // en: target 50 over 5 available = need 10 epochs -> capped at 4
    val en = out("en")
    assert((en._2, en._3, en._5) === ((2L, 5L, 50L)))
    assert(en._6 === 4.0)
    assert(en._7 === 20L)                 // 4 epochs x 5 tokens
    assert(en._8 === 0.4)                 // 20/50
    // de: target 50 over 200 available = 0.25 epochs, fully met
    val de = out("de")
    assert((de._5, de._6, de._7, de._8) === ((50L, 0.25, 50L, 1.0)))
    // xx: share 0 -> target 0, vacuously filled
    val xx = out("xx")
    assert((xx._4, xx._5, xx._7, xx._8) === ((0.0, 0L, 0L, 1.0)))
  }
}
