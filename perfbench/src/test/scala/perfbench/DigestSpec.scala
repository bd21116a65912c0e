package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, rand}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Sessions.build(2, appName = "perfbench-digest-spec")
  private val nproc = Runtime.getRuntime.availableProcessors()

  override def afterAll(): Unit = spark.stop()

  private def rows = spark.range(0, 5000).selectExpr(
    "id", "cast(id % 7 as string) as k", "id * 0.5 as x",
    "if(id % 11 = 0, null, concat('v', id)) as s")

  test("digest does not depend on row order or partitioning") {
    val base = Digest.of(rows)
    assert(base.rows == 5000L)
    assert(Digest.of(rows.orderBy(col("id").desc)) == base)
    assert(Digest.of(rows.repartition(7).orderBy(rand(3))) == base)
    assert(Digest.of(rows.coalesce(1)) == base)
  }

  test("digest sees every column and every row") {
    val base = Digest.of(rows)
    assert(Digest.of(rows.withColumn("x", col("x") + 1e-9)) != base)
    assert(Digest.of(rows.withColumn("s", col("k"))) != base)
    assert(Digest.of(rows.filter(col("id") =!= 17)) != base)
    assert(Digest.of(rows.union(rows.filter(col("id") === 17))) != base)
  }

  test("digest sums hashes without long overflow") {
    // xxhash64 values are spread over the whole long range, so a long sum
    // of this many rows would overflow; the decimal sum must not
    val d = Digest.of(spark.range(0, 200000).toDF("id"))
    assert(d.rows == 200000L)
    assert(Digest.parse(d.toString) == d)
  }

  test(s"op digests agree at shuffle.partitions 2 and $nproc") {
    val data = Seq("data/sf0.01", "perfbench/data/sf0.01").map(new File(_)).find(_.isDirectory)
      .getOrElse(fail("benchmark data directory not found")).getPath
    val ops = Seq("q2_pair_counts", "q10_nation_revenue", "dedup_ngram_jaccard")
    def digests(partitions: Int) = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      ops.map(n => n -> Digest.of(Query(n).build(spark, data)))
    }
    val two = digests(2)
    val many = digests(nproc)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    assert(two == many)
    assert(two.forall(_._2.rows > 0))
  }
}
