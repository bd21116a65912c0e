package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll

import graft.operators.Tier
import graft.sources.Tables
import graft.tools.ScaleProbe

/** ScaleProbe's N× copier and timed loop: copies replicate every
  * fact table with disjoint keys and tokens, the declared queries'
  * answers grow exactly with the copy count, and a run records what
  * it measured under the names it was given. */
class ScaleCopySpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val base = Files.createTempDirectory("graft_scalecopy").toFile.getAbsolutePath

  override def afterAll(): Unit = FileUtils.deleteDirectory(new java.io.File(base))

  private lazy val (one, two) = {
    ScaleProbe.writeCopies(spark, sfDir, s"$base/one", 1)
    ScaleProbe.writeCopies(spark, sfDir, s"$base/two", 2)
    (s"$base/one", s"$base/two")
  }

  private def read(dir: String, name: String) =
    if (name == "events") Tables.events(spark, dir) else Tables.table(spark, dir, name)

  test("every fact table is copied twice; nation and region once") {
    Tables.names.foreach { name =>
      val n1 = read(one, name).count()
      val want = if (name == "nation" || name == "region") n1 else 2 * n1
      assert(read(two, name).count() === want, name)
      assert(n1 === read(sfDir, name).count(), name)
    }
  }

  test("no key value, text token or edit block key of one copy appears in another") {
    // copy 0 is verbatim and copy 1 a bijective image of it, so the
    // two are disjoint exactly when the distinct count doubles
    def distinct(dir: String, name: String, c: org.apache.spark.sql.Column) =
      read(dir, name).select(c).distinct().count()
    val keys = Tables.names.filterNot(Set("nation", "region")).flatMap { name =>
      read(one, name).schema.fields.collect {
        case f if f.dataType == LongType && (f.name.endsWith("key") || f.name.endsWith("_id")) =>
          (name, f.name)
      }
    }
    assert(keys.map(_._2).toSet === Set("o_orderkey", "o_custkey", "l_orderkey", "l_partkey",
      "l_suppkey", "c_custkey", "p_partkey", "s_suppkey", "doc_id", "vec_id", "event_id", "user_id"))
    keys.foreach { case (name, key) =>
      assert(distinct(two, name, col(key)) === 2 * distinct(one, name, col(key)), s"$name.$key")
    }
    val token = explode(split(col("text"), "\\s+"))
    assert(distinct(two, "documents", token) === 2 * distinct(one, "documents", token))
    // editDistancePairs blocks on the first 4 chars: no block key
    // may span two copies
    val docs = read(two, "documents")
    val block = substring(col("text"), 1, 4)
    assert(docs.filter(col("doc_id") < ScaleProbe.Stride).select(block)
      .intersect(docs.filter(col("doc_id") >= ScaleProbe.Stride).select(block)).isEmpty)
  }

  test("declared dedup, pair and graph answers grow exactly with the copy count") {
    Tier.pinned(spark, "distributed") {
      Seq("dedup_exact", "dedup_ngram_jaccard", "dedup_clusters", "q2_pair_counts",
          "graph_triangles").foreach { name =>
        val q = SparkEntry.queries(name)
        val n1 = q(spark, one).count()
        assert(n1 > 0, name)
        assert(q(spark, two).count() === 2 * n1, name)
        spark.catalog.clearCache()
      }
    }
  }

  test("a one-name run records all seven fields under the declared name") {
    val res = ScaleProbe.run(spark, 2, sfDir, s"$base/run", Some(Seq("dedup_exact")))
    assert(res.entries.keySet === Set("dedup_exact"))
    val rec = parse(res.entries("dedup_exact")).asInstanceOf[JObject].obj.toMap
    assert(rec.keySet === Set("t1_s", "tN_s", "rows1", "rowsN", "ratio", "warm1_s", "baseline"))
    assert(rec("baseline") === JString("linear=2"))
    val JInt(rows1) = rec("rows1"): @unchecked
    assert(rows1 > 0 && rec("rowsN") === JInt(2 * rows1))
    Seq("t1_s", "tN_s", "ratio", "warm1_s").foreach(f => assert(rec(f).isInstanceOf[JDecimal] ||
      rec(f).isInstanceOf[JDouble], f))
  }

  test("an unknown name is rejected, by name, before anything is written") {
    val dir = s"$base/typo"
    val e = intercept[IllegalArgumentException](
      ScaleProbe.run(spark, 2, sfDir, dir, Some(Seq("dedup_exact", "dedup_exactt", "clusters_inc"))))
    assert(e.getMessage.startsWith("requirement failed: unknown scaleprobe name(s): dedup_exactt "),
      e.getMessage)
    assert(!new java.io.File(dir).exists())
  }
}
