package graft

import org.apache.spark.sql.functions._

import graft.functions.Urls
import graft.operators.{Graph, Tier}

class GraphUrlSpec extends SparkSpec {
  import spark.implicits._

  /** Run `f` on the distributed tier (the kernels' parity reference). */
  private def distributed[T](f: => T): T = Tier.pinned(spark, "distributed")(f)

  // ---- pagerank ----

  test("pagerank on a symmetric triangle is uniform at every iteration") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    for (iters <- Seq(1, 4)) {
      val r = Graph.pagerank(edges, "src", "dst", iters)
        .as[(Long, Double)].collect().toMap
      assert(r.keySet === Set(1L, 2L, 3L))
      r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, s"iters=$iters: $r"))
    }
  }

  test("pagerank ranks a star center above its leaves, mass conserved") {
    // undirected star: center 0 <-> leaves 1..5
    val pairs = (1L to 5L).map(l => (0L, l))
    val edgeList = pairs ++ pairs.map(_.swap)
    val edges = edgeList.toDF("src", "dst")
    val iters = 10
    val r = Graph.pagerank(edges, "src", "dst", iters).as[(Long, Double)].collect().toMap
    assert((1L to 5L).forall(l => r(0L) > r(l)))
    // symmetric graph: no dangling mass, ranks sum to 1
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // exact equivalence with an independent driver-side power iteration
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size).toMap
    var exp = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to iters) {
      val inflow = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => exp(s) / outdeg(s) }.sum).toMap
      exp = nodes.map(v =>
        v -> (0.15 / nodes.size + 0.85 * inflow.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach(v => assert(math.abs(r(v) - exp(v)) < 1e-12, s"node $v: ${r(v)} vs ${exp(v)}"))
  }

  test("pagerank hand-check on an asymmetric directed graph (dangling mass drops)") {
    // 1 -> 2, 1 -> 3, 2 -> 3; 3 is dangling (no out-edges).
    // Both strategies must meet the hand-derived values directly
    // (kernel on the auto tier, the distributed loop when pinned).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    for (tier <- Seq("distributed", "auto")) {
      val r = Tier.pinned(spark, tier) {
        Graph.pagerank(edges, "src", "dst", 1).as[(Long, Double)].collect().toMap
      }
      val t = 0.15 / 3
      assert(math.abs(r(1L) - t) < 1e-12, s"tier=$tier")             // no in-links
      assert(math.abs(r(2L) - (t + 0.85 * (1.0 / 3 / 2))) < 1e-12, s"tier=$tier")
      assert(math.abs(r(3L) - (t + 0.85 * (1.0 / 3 / 2 + 1.0 / 3))) < 1e-12, s"tier=$tier")
    }
  }

  test("dangling redistribution conserves mass where the plain form leaks it") {
    // directed chain with a dangler: 1 -> 2 -> 3 (node 3 emits nothing)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    for (iters <- Seq(1, 3, 7)) {
      val plain = Graph.pagerank(edges, "src", "dst", iters)
        .as[(Long, Double)].collect().map(_._2).sum
      val conserved = Graph.pagerank(edges, "src", "dst", iters,
          danglingRedistribution = true)
        .as[(Long, Double)].collect().map(_._2).sum
      assert(plain < 1.0 - 1e-6, s"iters=$iters: dangler must leak mass, got $plain")
      assert(math.abs(conserved - 1.0) < 1e-9,
        s"iters=$iters: redistribution must conserve mass, got $conserved")
    }
    // redistributed ranks match an independent driver-side power
    // iteration with the D/N correction term — on BOTH strategies
    for (tier <- Seq("distributed", "auto")) {
      val r = Tier.pinned(spark, tier) {
        Graph.pagerank(edges, "src", "dst", 5, danglingRedistribution = true)
          .as[(Long, Double)].collect().toMap
      }
      var exp = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
      for (_ <- 1 to 5) {
        val dm = exp(3L)
        exp = Map(
          1L -> (0.15 / 3 + 0.85 * (dm / 3)),
          2L -> (0.15 / 3 + 0.85 * (exp(1L) + dm / 3)),
          3L -> (0.15 / 3 + 0.85 * (exp(2L) + dm / 3)))
      }
      exp.foreach { case (k, v) =>
        assert(math.abs(r(k) - v) < 1e-12, s"tier=$tier node $k") }
    }
  }

  test("L1-delta tolerance stops the loop early at the fixpoint") {
    val pairs = (1L to 5L).map(l => (0L, l))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // power iteration contracts at ~damping per step, so 1e-3 from an
    // O(0.1) start needs ~40 rounds — well under the 100 cap
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val r = Graph.pagerank(edges, "src", "dst", iterations = 100,
        tolerance = Some(1e-3), onIteration = (i, d) => deltas += ((i, d)))
      .as[(Long, Double)].collect().toMap
    assert(deltas.size < 100, s"should converge well before the cap, ran ${deltas.size}")
    assert(deltas.last._2 < 1e-3)
    // deltas contract geometrically (|| step || <= damping * previous)
    deltas.map(_._2).sliding(2).foreach { w =>
      assert(w(1) <= w(0) * 0.85 + 1e-15,
        s"delta did not contract: ${w(0)} -> ${w(1)}")
    }
    // the early-stopped result sits within delta*d/(1-d) of the
    // (numerically converged) long fixed-iteration run
    val full = Graph.pagerank(edges, "src", "dst", iterations = 100,
      truncateEvery = 10)
      .as[(Long, Double)].collect().toMap
    r.foreach { case (k, v) => assert(math.abs(v - full(k)) < 0.01, s"node $k") }
  }

  test("pagerank validates arguments") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pagerank(edges, "src", "dst", 0))
    intercept[IllegalArgumentException](Graph.pagerank(edges, "src", "dst", 3, damping = 1.0))
  }

  test("pagerank single-task kernel ≡ distributed loop (weighted + dangling, string keys)") {
    // the crawl_hostrank shape: string hosts, link-count weights,
    // genuine danglers, redistribution on — compared at the declared
    // round-6dp surface AND within FP noise on the raw doubles
    val edges = Seq(
      ("a.org", "b.com", 3L), ("a.org", "c.net", 1L), ("b.com", "c.net", 2L),
      ("d.io", "a.org", 5L), ("d.io", "b.com", 1L), ("e.xx", "a.org", 7L)
    ).toDF("src", "dst", "w")
    for (dang <- Seq(false, true); iters <- Seq(1, 3)) {
      val kernel = Graph.pagerank(edges, "src", "dst", iters,
          danglingRedistribution = dang, weightCol = Some("w"))
        .as[(String, Double)].collect().toMap
      val loop = distributed(Graph.pagerank(edges, "src", "dst", iters,
          danglingRedistribution = dang, weightCol = Some("w"))
        .as[(String, Double)].collect().toMap)
      assert(kernel.keySet === loop.keySet, s"dang=$dang iters=$iters")
      kernel.keySet.foreach { k =>
        assert(math.abs(kernel(k) - loop(k)) < 1e-12,
          s"dang=$dang iters=$iters node $k: ${kernel(k)} vs ${loop(k)}")
        assert(math.rint(kernel(k) * 1e6) === math.rint(loop(k) * 1e6),
          s"6dp surface dang=$dang iters=$iters node $k")
      }
    }
  }

  test("pagerank kernel mirrors the loop's null-key join semantics") {
    // a NULL endpoint is a node row (union+distinct keeps it) but
    // equi-joins never match it: its edges carry no inflow either
    // direction, and the dangling anti-join counts it as a dangler
    // even when it has out-edges. 2 has only a null-dst edge beside
    // 2→4, so its outdegree counts BOTH edges.
    val edges = Seq(
      (Option(1L), Option(2L)), (Option(2L), Option.empty[Long]),
      (Option(2L), Option(4L)), (Option.empty[Long], Option(3L))
    ).toDF("src", "dst")
    for (dang <- Seq(false, true)) {
      val kernel = Graph.pagerank(edges, "src", "dst", 2,
          danglingRedistribution = dang)
        .select(col("node"), col("rank")).collect()
        .map(r => (if (r.isNullAt(0)) null else r.getLong(0): Any) -> r.getDouble(1)).toMap
      val loop = distributed(Graph.pagerank(edges, "src", "dst", 2,
          danglingRedistribution = dang)
        .select(col("node"), col("rank")).collect()
        .map(r => (if (r.isNullAt(0)) null else r.getLong(0): Any) -> r.getDouble(1)).toMap)
      assert(kernel.keySet === loop.keySet, s"dang=$dang")
      assert(kernel.keySet.contains(null), "null endpoint must be a node row")
      kernel.keySet.foreach { k =>
        assert(math.abs(kernel(k) - loop(k)) < 1e-12, s"dang=$dang node $k")
      }
    }
  }

  // ---- url canonicalization ----

  private def canon(url: String): String =
    Seq(url).toDF("u").select(Urls.canonicalize(col("u"))).as[String].head()

  test("canonicalize lowercases scheme+host, strips default port / fragment / trailing slash") {
    assert(canon("HTTPS://WWW.Example.COM:443/A/B/#frag") === "https://www.example.com/A/B")
    assert(canon("http://Host.com:80/") === "http://host.com/")
    // non-default port survives; path case survives
    assert(canon("https://host.com:8443/Path") === "https://host.com:8443/Path")
    // :80 is only default for http
    assert(canon("https://host.com:80/x") === "https://host.com:80/x")
  }

  test("canonicalize drops tracking params and sorts the rest") {
    assert(canon("https://h.com/p?utm_source=x&b=2&a=1&fbclid=Z") === "https://h.com/p?a=1&b=2")
    assert(canon("https://h.com/p?utm_campaign=only") === "https://h.com/p")
    assert(canon("https://h.com?z=1") === "https://h.com/?z=1")
  }

  test("case/port/tracking jitter collapses to one canonical form") {
    val variants = Seq(
      "https://www.shop1.com/cat/9?a=3&z=9",
      "HTTPS://WWW.SHOP1.COM:443/cat/9/?z=9&a=3#top",
      "https://www.Shop1.com/cat/9?utm_source=feed&a=3&z=9")
    val c = variants.toDF("u").select(Urls.canonicalize(col("u"))).as[String].collect().toSet
    assert(c === Set("https://www.shop1.com/cat/9?a=3&z=9"))
  }

  test("triangle census hand-check: K4 minus an edge") {
    // edges 12,13,14,23,24 (no 34): triangles {1,2,3} and {1,2,4}
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val out = graft.operators.Graph.triangleCensus(e, "a", "b")
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows(1L) === ((3L, 2L, 0.666667)))
    assert(rows(2L) === ((3L, 2L, 0.666667)))
    assert(rows(3L) === ((2L, 1L, 1.0)))
    assert(rows(4L) === ((2L, 1L, 1.0)))
    out.unpersist()
  }

  test("triangle census canonicalizes: duplicates, reversals, self-loops") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L),
      (2L, 2L)).toDF("a", "b")
    val out = graft.operators.Graph.triangleCensus(messy, "a", "b")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one clean triangle on {1,2,3}, every node degree 2
    assert(rows.toSet === Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
    out.unpersist()
  }

  test("triangle census single-task kernel ≡ distributed wedge joins") {
    // r20 adaptive pick: the kernel (auto tier) and the distributed
    // plan (distributed tier) must agree row-for-row AND on schema,
    // on a messy graph exercising dups, reversals, self-loops,
    // degree ties and triangle-free tails
    val rnd = new scala.util.Random(7)
    val messy = (Seq((1L, 2L), (2L, 1L), (2L, 2L)) ++
      (1 to 400).map(_ => ((rnd.nextInt(40) + 1).toLong,
        (rnd.nextInt(40) + 1).toLong))).toDF("a", "b")
    val kernel = graft.operators.Graph.triangleCensus(messy, "a", "b")
    val loop = distributed(graft.operators.Graph.triangleCensus(messy, "a", "b"))
    assert(kernel.schema === loop.schema)
    val k = kernel.orderBy("node").collect().toSeq
    val l = loop.orderBy("node").collect().toSeq
    assert(k === l)
    kernel.unpersist(); loop.unpersist()
  }

  test("a star has no triangles and zero clustering at the hub") {
    val star = (2L to 20L).map(i => (1L, i)).toDF("a", "b")
    val out = graft.operators.Graph.triangleCensus(star, "a", "b")
    assert(out.agg(sum("tri_count")).collect()(0).getLong(0) === 0L)
    assert(out.filter(col("node") === 1L).select("clustering")
      .collect()(0).getDouble(0) === 0.0)
    // leaves have degree 1: clustering is defined as 0, not NaN/null
    assert(out.filter(col("degree") === 1 && col("clustering") =!= 0.0).count() === 0L)
    out.unpersist()
  }

  // ---- label propagation ----

  /** Independent driver-side synchronous LPA with the same
    * deterministic rules: start = own id, relabel everyone each round
    * to the most frequent neighbor label, ties to the smallest. */
  private def lpaReference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      labels = adj.map { case (v, nbrs) =>
        val counts = nbrs.groupBy(labels).view.mapValues(_.size)
        val best = counts.maxBy { case (l, c) => (c.toLong, -l) }
        v -> best._1
      }
    }
    labels
  }

  private def lpaRun(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    graft.operators.Graph.labelPropagation(
        edges.toDF("a", "b"), "a", "b", iters)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: two cliques with a bridge settle into two communities") {
    val cliqueA = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val cliqueB = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val edges = cliqueA ++ cliqueB ++ Seq((3L, 10L))
    for (iters <- Seq(1, 2, 4)) {
      assert(lpaRun(edges, iters) === lpaReference(edges, iters), s"iters=$iters")
    }
    // after enough rounds each triangle agrees on one label and the
    // two sides disagree with each other
    val fin = lpaRun(edges, 4)
    assert(Set(fin(1L), fin(2L)).size === 1)
    assert(Set(fin(10L), fin(11L)).size === 1)
    assert(fin(1L) !== fin(11L))
  }

  test("labelPropagation matches the reference on a pseudo-random graph") {
    // deterministic LCG edge sample over 30 nodes
    var s = 12345L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 33) % 30 }
    val edges = (1 to 120).map(_ => (next(), next())).filter(e => e._1 != e._2)
    for (iters <- Seq(1, 3)) {
      assert(lpaRun(edges, iters) === lpaReference(edges, iters), s"iters=$iters")
    }
  }

  test("labelPropagation stops at the fixpoint: a long cap costs no extra rounds") {
    val cliqueA = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val cliqueB = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val edges = cliqueA ++ cliqueB ++ Seq((3L, 10L))
    var rounds = 0
    val out = graft.operators.Graph.labelPropagation(
        edges.toDF("a", "b"), "a", "b", iterations = 50,
        onRound = (_, _) => rounds += 1)
      .as[(Long, Long)].collect().toMap
    // early stop changed cost, not output: still the exact 50-round unroll
    assert(out === lpaReference(edges, 50))
    assert(rounds < 10, s"fixpoint stop never fired: ran $rounds/50 rounds")
  }

  test("labelPropagation caps the bipartite period-2 oscillation, parity-exact") {
    // K_{2,2}: synchronous LPA provably never converges here — the
    // two sides swap labels every round from round 1 on. The
    // oscillation stop must (a) terminate early and (b) return
    // EXACTLY what the fixed-iteration unroll would have.
    val k22 = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    for (iters <- 3 to 8) {
      assert(lpaRun(k22, iters) === lpaReference(k22, iters), s"iters=$iters")
    }
    var rounds = 0
    graft.operators.Graph.labelPropagation(
        k22.toDF("a", "b"), "a", "b", iterations = 50,
        onRound = (_, _) => rounds += 1)
      .count()
    assert(rounds <= 4, s"oscillation stop never fired: ran $rounds/50 rounds")
    // sanity: the oscillation is real — successive rounds disagree
    assert(lpaReference(k22, 3) !== lpaReference(k22, 4))
    assert(lpaReference(k22, 3) === lpaReference(k22, 5))
  }

  test("weighted pagerank: rank follows edge weight; unweighted ≡ weight-1; mass conserves") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    // a links to b 3× as strongly as to c: b must outrank c, and
    // with dangling redistribution total mass stays exactly 1
    val weighted = Seq(("a", "b", 3.0), ("a", "c", 1.0))
      .toDF("src", "dst", "w")
    val r = graft.operators.Graph.pagerank(weighted, "src", "dst",
        iterations = 3, danglingRedistribution = true,
        weightCol = Some("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("b") > r("c"), s"weight ignored: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass not conserved: $r")
    // weight-1 column ≡ the unweighted default, value for value
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val unw = graft.operators.Graph.pagerank(edges, "src", "dst", iterations = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val w1 = graft.operators.Graph.pagerank(
        edges.withColumn("w", org.apache.spark.sql.functions.lit(1.0)),
        "src", "dst", iterations = 3, weightCol = Some("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(unw === w1)
    // non-positive weights are dropped: a zero-weight-only src is a
    // dangler, not a divide-by-zero
    val zeros = Seq(("a", "b", 1.0), ("b", "c", 0.0)).toDF("src", "dst", "w")
    val rz = graft.operators.Graph.pagerank(zeros, "src", "dst",
        iterations = 2, danglingRedistribution = true, weightCol = Some("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(rz.keySet === Set("a", "b"), s"zero-weight edge leaked nodes: $rz")
    assert(rz.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("labelPropagation: local strategy ≡ distributed loop across odd/even caps") {
    // the r14 adaptive dispatch must be output-invisible on every
    // stop shape: the K_{2,2} period-2 oscillator (cycle detection ×
    // cap parity, caps 5-9 — r13 verdict item 8), the bridged-clique
    // fixpoint, and a pseudo-random graph still mid-flight at the cap
    val k22 = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    val cliques = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    var s = 999L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 33) % 25 }
    val rand = (1 to 90).map(_ => (next(), next())).filter(e => e._1 != e._2)
    for (edges <- Seq(k22, cliques, rand); iters <- 5 to 9) {
      val local = graft.operators.Graph.labelPropagation(
          edges.toDF("a", "b"), "a", "b", iters)
        .as[(Long, Long)].collect().toMap
      val loop = distributed(graft.operators.Graph.labelPropagation(
          edges.toDF("a", "b"), "a", "b", iters)
        .as[(Long, Long)].collect().toMap)
      assert(local === loop, s"strategies diverged at cap $iters")
      assert(local === lpaReference(edges, iters), s"cap $iters vs unroll")
    }
  }

  test("labelPropagation on an empty/self-loop-only graph returns an empty frame") {
    // the stop-probe sums over an empty frame (NULL) — must read as a
    // zero-node fixpoint, not an NPE (r13 review catch)
    assert(lpaRun(Seq.empty[(Long, Long)], 3) === Map.empty)
    assert(lpaRun(Seq((5L, 5L), (7L, 7L)), 3) === Map.empty)
  }

  test("labelPropagation canonicalizes dups/reversals/self-loops and breaks ties to the min label") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 1L), (2L, 3L))
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    assert(lpaRun(messy, 2) === lpaRun(clean, 2))
    // triangle round 1: every node sees its two neighbors' ids once
    // each — tie, so everyone takes the SMALLER neighbor id
    assert(lpaRun(clean, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }
}
