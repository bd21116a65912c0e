package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Stage decomposition of the minhash fixed-batch probe (r16 verdict
  * item 5: the flat=1 scaleprobe arm read 2.11 at 10× standing
  * state — find WHERE the linear term lives before touching the
  * plan). Reads ScaleProbe's minhash_probe corpora (the N× side
  * written by [[ScaleProbe.writeCopies]]) and times cumulative
  * prefixes of [[Dedup.minhashProbe]]'s pipeline:
  *
  *   sig    — batch shingling/signing only (must be flat: fixed batch)
  *   cand   — + band-table join (scans the standing band table:
  *            3-long rows, the LIGHT linear term)
  *   full   — + signature verify (scans the standing sig table:
  *            64-long arrays per row, the HEAVY linear term if the
  *            candidate join doesn't prune the stream side)
  *
  * Usage: runMain graft.tools.ProbeAutopsy [mult] [sfDir] [reps]
  */
object ProbeAutopsy {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.build(32, appName = "graft-probeautopsy")
    val tmp = sys.env.getOrElse("SCALEPROBE_DIR", "/tmp/graft_scaleprobe")

    val docs1 = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    ScaleProbe.writeCopies(spark, sfDir, s"$tmp/x$mult", mult)
    val docsN = Tables.table(spark, s"$tmp/x$mult", "documents")
      .select("doc_id", "text")

    val corpus1 = docs1.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val batch1 = docs1.filter(pmod(col("doc_id"), lit(10)) === 3)
    val corpusN = docsN.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val idx1 = Dedup.minhashIndex(corpus1, "doc_id", "text", 3, 64, 16)
    val idxN = Dedup.minhashIndex(corpusN, "doc_id", "text", 3, 64, 16)

    def stages(idx: Dedup.MinhashIndex, b: DataFrame,
        label: String): Unit = {
      def t(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      for (r <- 1 to reps) {
        // sig: fixed-batch work only
        val (tSig, nSig) = t {
          val s = Dedup.minhashSigsOf(b, "doc_id", "text", idx.k, idx.perms)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = s.count(); s.unpersist(blocking = false); n
        }
        // cand: sig + band-table join (cumulative)
        val (tCand, nCand) = t {
          val s = Dedup.minhashSigsOf(b, "doc_id", "text", idx.k, idx.perms)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val cand = idx.banded.as("a")
            .join(broadcast(Dedup.bandedOf(s, idx.perms, idx.bands)).as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
            .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
            .dropDuplicates("doc_a", "doc_b")
          val n = cand.count(); s.unpersist(blocking = false); n
        }
        // full: the production probe
        val (tFull, nFull) = t {
          val r = Dedup.minhashProbe(idx, b, "doc_id", "text", 0.5)
          val n = r.count(); r.unpersist(blocking = false); n
        }
        println(f"[probe-autopsy] $label rep$r: sig $tSig%6.3f s ($nSig rows)  " +
          f"cand $tCand%6.3f s ($nCand cands)  full $tFull%6.3f s ($nFull pairs)  " +
          f"join+dd ${tCand - tSig}%6.3f s  verify ${tFull - tCand}%6.3f s")
      }
    }
    stages(idx1, batch1, "1x  ") // first pass doubles as codegen warm
    stages(idx1, batch1, "1x  ")
    stages(idxN, batch1, s"${mult}x ") // copy 0 is verbatim: the fixed batch
    idx1.release(); idxN.release()
    spark.stop()
  }
}
