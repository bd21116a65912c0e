package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.Row

/** Single-task kernel of the k-gram shared-count join behind
  * [[Dedup.ngramJaccardPairs]] and [[Dedup.containmentPairs]],
  * dispatched by [[Dedup.sharedCounts]] when the (doc_id, s) shingle
  * index is small (≤ 2^17 rows) and the [[Tier]] pin allows it — the
  * [[LshLocal]] pattern. At that size the distributed plan's hot-key
  * anti-join, size aggregate, self-join and two size joins are a dozen
  * jobs of 1–2-task stages, while one task counts the same pairs in a
  * few milliseconds.
  *
  * It reproduces the distributed rows exactly (parity spec): the same
  * document frequency (every index row of a shingle counts, a null
  * doc_id too), the same hot-shingle cut (a posting list longer than
  * the cap is dropped), set sizes from the pruned universe, and the
  * same strict doc_a < doc_b orientation with multiset counting of
  * repeated (doc, shingle) rows.
  */
object JaccardLocal {

  /** `xs` sorted ascending without repeats. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** The [[Dedup.sharedCounts]] rows of an index whose rows are
    * (doc_id: Int or Long, s: Long): one (doc_a, doc_b, shared, n_a,
    * n_b) row per doc pair a < b sharing a shingle whose posting list
    * is at most `dfCap` long. Ids come out as Int when `intIds`. */
  def sharedRows(rows: Iterator[Row], dfCap: Int, intIds: Boolean): Iterator[Row] = {
    val (idB, sB, nullSB) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong,
      new ArrayBuilder.ofLong)
    rows.foreach { r =>
      if (r.isNullAt(0)) nullSB += r.getLong(1)
      else { idB += r.get(0).asInstanceOf[Number].longValue; sB += r.getLong(1) }
    }
    val (rowIds, rowS, nullS) = (idB.result(), sB.result(), nullSB.result())
    // dense doc indices in ascending id order: i < j ⟺ id_i < id_j (the
    // a<b orientation); a null doc gets index ids.length, which sorts
    // last in its posting list and counts toward the df only
    val ids = sortedDistinct(rowIds)
    val nullDoc = ids.length
    val shingles = sortedDistinct(rowS ++ nullS)
    def shingleOf(s: Long): Long = java.util.Arrays.binarySearch(shingles, s).toLong << 32
    // one (shingle index << 32 | doc index) key per row: sorted, each
    // posting list is one run, its docs ascending
    val keys = new Array[Long](rowS.length + nullS.length)
    var r = 0
    while (r < rowS.length) {
      keys(r) = shingleOf(rowS(r)) | java.util.Arrays.binarySearch(ids, rowIds(r))
      r += 1
    }
    while (r < keys.length) { keys(r) = shingleOf(nullS(r - rowS.length)) | nullDoc; r += 1 }
    java.util.Arrays.sort(keys)
    def docOf(k: Long): Int = (k & 0xffffffffL).toInt

    val nSh = new Array[Long](ids.length)
    val shared = new LongPairCounts(1 << 16)
    var lo = 0
    while (lo < keys.length) {
      var hi = lo + 1
      while (hi < keys.length && (keys(hi) >>> 32) == (keys(lo) >>> 32)) hi += 1
      if (hi - lo <= dfCap) { // a longer posting list is a hot shingle: dropped
        var end = hi
        while (end > lo && docOf(keys(end - 1)) == nullDoc) end -= 1
        var x = lo
        while (x < end) {
          val i = docOf(keys(x))
          nSh(i) += 1
          var y = x + 1
          while (y < end) {
            val j = docOf(keys(y))
            if (i < j) shared.increment((i.toLong << 32) | j)
            y += 1
          }
          x += 1
        }
      }
      lo = hi
    }

    def id(i: Int): Any = if (intIds) ids(i).toInt else ids(i)
    val out = Array.newBuilder[Row]
    shared.foreach { (key, count) =>
      val (i, j) = ((key >>> 32).toInt, docOf(key))
      out += Row(id(i), id(j), count.toLong, nSh(i), nSh(j))
    }
    out.result().iterator
  }
}
