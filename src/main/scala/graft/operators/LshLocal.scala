package graft.operators

import scala.collection.mutable.ArrayBuffer

import graft.functions.Vectors

/** Open-addressing count map of positive longs (0 = empty slot), the
  * pair table of the single-task kernels (the LSH candidate dedup, the
  * k-gram shared counts): the LSH dedup runs ~10^6-10^7 inserts per
  * task, where a boxed java.util.HashSet[Long] measured 5-10× slower
  * (allocation + rehash churn dominated the whole kernel). Keys pack
  * two non-negative array indices i < j as (i<<32 | j), so 0 never
  * occurs as a key. */
private[operators] final class LongPairCounts(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2)
  private var keys = new Array[Long](cap)
  private var counts = new Array[Int](cap)
  private var n = 0

  /** Add one to `key`'s count and return the new count. */
  def increment(key: Long): Int = {
    if (n * 2 >= cap) grow()
    var idx = slot(key)
    while (keys(idx) != 0L && keys(idx) != key) idx = (idx + 1) & (cap - 1)
    if (keys(idx) == 0L) { keys(idx) = key; n += 1 }
    counts(idx) += 1
    counts(idx)
  }

  def foreach(f: (Long, Int) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (keys(i) != 0L) f(keys(i), counts(i)); i += 1 }
  }

  private def slot(k: Long): Int = {
    var x = k * -7046029254386353131L
    x ^= x >>> 32
    x.toInt & (cap - 1)
  }

  private def grow(): Unit = {
    val (oldKeys, oldCounts) = (keys, counts)
    cap <<= 1
    keys = new Array[Long](cap)
    counts = new Array[Int](cap)
    var i = 0
    while (i < oldKeys.length) {
      val k = oldKeys(i)
      if (k != 0L) {
        var idx = slot(k)
        while (keys(idx) != 0L) idx = (idx + 1) & (cap - 1)
        keys(idx) = k
        counts(idx) = oldCounts(i)
      }
      i += 1
    }
  }
}

/** Single-task kernels for the embedding-LSH family, dispatched by
  * [[Dedup.embeddingPairsLsh]] / [[Similarity.lshTopK]] when the
  * measured corpus is tiny (≤ 2^12 vectors) and the [[Tier]] pin
  * allows it — the r14 connected-components adaptive-strategy pattern
  * (Clusters.scala): at that size the distributed plan's 6-9 driver
  * jobs of pure orchestration (measured ~0.15 s each on local mode)
  * dwarf the sub-100 ms of actual math, while an in-process columnar
  * engine runs the identical bucket join in one thread. The
  * distributed path is unchanged above the threshold and pinnable
  * below it (the `distributed` [[Tier]]), which is how the scale
  * probes keep probing it.
  *
  * Every kernel reproduces the distributed output EXACTLY (property
  * specs assert set equality): same seeded hyperplane weights, the
  * same ascending-index accumulation order as
  * [[graft.functions.expr.HyperplaneSig]] (bit-identical signatures),
  * the same dot/sqrt(na*nb) cosine association, the same a<b pair
  * orientation, the same (cos desc, id asc) top-k tie order with
  * Spark's NaN-largest double ordering (Double.compare).
  */
object LshLocal {

  /** Signature of one vector under one table's [bit][dim] weights —
    * the interpreted twin of [[graft.functions.expr.HyperplaneSig]]
    * (identical fold order and sign rule). */
  def sigOf(v: Array[Double], w: Array[Array[Double]], dim: Int, bits: Int): Long = {
    val n = math.min(v.length, dim)
    val acc = new Array[Double](bits)
    var i = 0
    while (i < n) {
      val x = v(i)
      var b = 0
      while (b < bits) { acc(b) += x * w(b)(i); b += 1 }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      val p = acc(b)
      if (p >= 0.0 || java.lang.Double.isNaN(p)) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Left-fold dot product — the interpreted twin of
    * [[graft.functions.expr.DotProduct]]. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** All self-pairs within hamming-`probeRadius` LSH buckets with
    * cosine ≥ tau — the [[Dedup.embeddingPairsLsh]] contract
    * (candidates meet once across tables; verify once per pair). */
  def pairRows(rows: Iterator[(Long, Array[Double])], dim: Int, bits: Int,
      tables: Int, seed: Long, tau: Double,
      probeRadius: Int): Iterator[(Long, Long)] = {
    val arr = rows.toArray.sortBy(_._1)
    val n = arr.length
    val ids = new Array[Long](n)
    val vs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) { ids(i) = arr(i)._1; vs(i) = arr(i)._2; i += 1 }
    val norms = vs.map(v => dot(v, v))

    // pair keys pack (i, j) array indices; ids are sorted so idx
    // order ≡ id order and i < j ⟺ id_i < id_j (the a<b orientation)
    val seen = new LongPairCounts(1 << 16)
    val out = new ArrayBuffer[(Long, Long)]()

    def tryPair(x: Int, y: Int): Unit = {
      val (i0, j0) = if (x < y) (x, y) else (y, x)
      if (i0 != j0 && seen.increment((i0.toLong << 32) | j0.toLong) == 1) {
        val cos = dot(vs(i0), vs(j0)) / math.sqrt(norms(i0) * norms(j0))
        if (cos >= tau) out += ((ids(i0), ids(j0)))
      }
    }

    var t = 0
    while (t < tables) {
      val w = Vectors.hyperplaneWeights(dim, bits, seed + t)
      val buckets = new java.util.HashMap[java.lang.Long, ArrayBuffer[Int]]()
      var r = 0
      while (r < n) {
        val s: java.lang.Long = sigOf(vs(r), w, dim, bits)
        var lst = buckets.get(s)
        if (lst == null) { lst = new ArrayBuffer[Int](); buckets.put(s, lst) }
        lst += r
        r += 1
      }
      buckets.forEach { (sig, lst) =>
        // within-bucket (hamming 0)
        var a = 0
        while (a < lst.length) {
          var b = a + 1
          while (b < lst.length) { tryPair(lst(a), lst(b)); b += 1 }
          a += 1
        }
        // hamming-1 neighbors; each unordered bucket pair visited once
        if (probeRadius >= 1) {
          var bit = 0
          while (bit < bits) {
            val s2: java.lang.Long = sig ^ (1L << bit)
            if (s2 > sig) {
              val other = buckets.get(s2)
              if (other != null) {
                var a2 = 0
                while (a2 < lst.length) {
                  var b2 = 0
                  while (b2 < other.length) { tryPair(lst(a2), other(b2)); b2 += 1 }
                  a2 += 1
                }
              }
            }
            bit += 1
          }
        }
      }
      t += 1
    }
    out.iterator
  }

  /** Exact-probe LSH top-k — the [[Similarity.lshTopK]] contract:
    * rank bucket-mates by (cos desc, neighbor_id asc) with Spark's
    * NaN-largest double order, emit ranks 1..k. Input rows are
    * (isQuery, id, vector). */
  def topkRows(rows: Iterator[(Boolean, Long, Array[Double])], dim: Int,
      bits: Int, tables: Int, seed: Long, k: Int): Iterator[(Long, Int, Long)] = {
    val all = rows.toArray
    val corpus = all.filter(!_._1)
    val queries = all.filter(_._1)
    val nc = corpus.length
    val cids = corpus.map(_._2)
    val cvs = corpus.map(_._3)
    val cnorms = cvs.map(v => dot(v, v))

    // per-query candidate sets: corpus rows sharing a bucket in >=1 table
    val cand = Array.fill(queries.length)(new java.util.HashSet[Integer]())
    var t = 0
    while (t < tables) {
      val w = Vectors.hyperplaneWeights(dim, bits, seed + t)
      val buckets = new java.util.HashMap[java.lang.Long, ArrayBuffer[Int]]()
      var r = 0
      while (r < nc) {
        val s: java.lang.Long = sigOf(cvs(r), w, dim, bits)
        var lst = buckets.get(s)
        if (lst == null) { lst = new ArrayBuffer[Int](); buckets.put(s, lst) }
        lst += r
        r += 1
      }
      var q = 0
      while (q < queries.length) {
        val lst = buckets.get(sigOf(queries(q)._3, w, dim, bits): java.lang.Long)
        if (lst != null) lst.foreach(cand(q).add(_))
        q += 1
      }
      t += 1
    }

    val out = new ArrayBuffer[(Long, Int, Long)]()
    var q = 0
    while (q < queries.length) {
      val (_, qid, qv) = queries(q)
      val qn = dot(qv, qv)
      val scored = new ArrayBuffer[(Double, Long)](cand(q).size)
      cand(q).forEach { ci =>
        val c = ci.intValue()
        scored += ((dot(qv, cvs(c)) / math.sqrt(qn * cnorms(c)), cids(c)))
      }
      val ranked = scored.sortWith { case ((ca, ia), (cb, ib)) =>
        val d = java.lang.Double.compare(cb, ca) // desc, NaN largest
        if (d != 0) d < 0 else ia < ib
      }
      var rnk = 1
      while (rnk <= k && rnk <= ranked.length) {
        out += ((qid, rnk, ranked(rnk - 1)._2))
        rnk += 1
      }
      q += 1
    }
    out.iterator
  }
}
