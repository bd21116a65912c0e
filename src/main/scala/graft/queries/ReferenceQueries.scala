package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Pipeline
import graft.functions.Text
import Query.t

/** SURVEY §2a: the reference-derived pipeline operators (batch
  * aggregation, pair counts, upsert, delete detection, rosters). */
object ReferenceQueries {

  lazy val all: Seq[Query] = Seq(
    Query("q1_agg", (s, dir) =>
      Pipeline.countByYearCategory(t(s, dir, "orders"), "o_orderdate", "o_orderpriority"),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         o_orderpriority AS category, count(*) AS n_pubs
         FROM orders GROUP BY 1, 2"""),

    Query("q2_pair_counts", (s, dir) =>
      Pipeline.pairCounts(
          t(s, dir, "lineitem"), "l_orderkey", "l_suppkey",
          t(s, dir, "orders").select(col("o_orderkey"), year(col("o_orderdate")).as("year")),
          "o_orderkey")
        .select(col("year"), col("member_a").as("supp_a"),
          col("member_b").as("supp_b"), col("n_co").as("n_copubs")),
      """WITH lo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
                a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, count(*) AS n_copubs
         FROM lo a
         JOIN lo b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
         JOIN orders ON a.l_orderkey = o_orderkey
         GROUP BY 1, 2, 3"""),

    Query("q3_upsert_latest", (s, dir) => {
      val o = t(s, dir, "orders")
      Pipeline.upsertLatest(
          o.filter(col("o_orderstatus") === "F"),
          o.filter(col("o_orderstatus") =!= "F"),
          Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("latest_date"),
          col("o_totalprice").as("totalprice"))
    },
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date,
                o_totalprice AS totalprice
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn = 1"""),

    // "seen" = keys appearing in the most recent batch window — stale
    // customers are the reference's is_seen=False delete set
    Query("q4_delete_detect", (s, dir) =>
      Pipeline.deletedKeys(t(s, dir, "customer"),
          t(s, dir, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
            .select("o_custkey"),
          "c_custkey", "o_custkey")
        .select("c_custkey", "c_name"),
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')"""),

    Query("q5_volume_metrics", (s, dir) =>
      Pipeline.volumeMetrics(t(s, dir, "orders"),
        col("o_orderstatus") === "O", "o_custkey"),
      """SELECT count(*) AS total_rows,
                count(*) FILTER (WHERE o_orderstatus = 'O') AS total_new,
                count(DISTINCT o_custkey) AS unique_keys
         FROM orders"""),

    Query("q6_explode_count", (s, dir) =>
      Pipeline.explodeCount(t(s, dir, "documents"), Text.tokens(col("text")), 100),
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
               FROM documents)
         WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token LIMIT 100"""),

    Query("q7_member_roster", (s, dir) =>
      Pipeline.memberRoster(t(s, dir, "lineitem"), "l_orderkey", "l_suppkey"),
      """WITH d AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT l_orderkey,
                string_agg(CAST(l_suppkey AS VARCHAR), ',' ORDER BY l_suppkey) AS members,
                count(*) AS n_members
         FROM d GROUP BY 1"""),

    // the reference's core transform, oracle-gated end-to-end:
    // synthesize a DBLP-shaped XML element per order row, parse it
    // with the pure-Column XmlPublication parser, and emit flat
    // fields — the oracle derives every expected value DIRECTLY from
    // the base columns, so any parser defect (including author
    // ordinal misalignment when pid/orcid is absent) hash-mismatches
    Query("xml_roundtrip", (s, dir) => {
      import graft.functions.XmlPublication
      val k = col("o_orderkey").cast("string")
      val xml = concat(
        lit("<article key=\"conf/spark/o"), k,
        lit("\" mdate=\""), date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("\">"),
        lit("<author pid=\"p/P"), col("o_custkey").cast("string"),
        lit("\">Alice "), col("o_custkey").cast("string"), lit("</author>"),
        // second author has orcid but NO pid: its pid ordinal must be
        // an explicit null at position 2, never a shift
        lit("<author orcid=\"0000-"), (col("o_orderkey") % 1000).cast("string"),
        lit("\">Bob "), (col("o_orderkey") % 97).cast("string"), lit("</author>"),
        lit("<title>Order "), k, lit("</title>"),
        lit("<year>"), year(col("o_orderdate")).cast("string"), lit("</year>"),
        lit("<journal>J "), col("o_orderpriority"), lit("</journal>"),
        lit("<pages>1-"), ((col("o_orderkey") % 50) + 1).cast("string"), lit("</pages>"),
        lit("<ee>http://x/"), k, lit("</ee><ee>http://y/"), k, lit("</ee>"),
        lit("</article>"))
      t(s, dir, "orders").select(XmlPublication.parse(xml).as("p"))
        .select(
          col("p.paper_key").as("paper_key"),
          col("p.title").as("title"),
          col("p.year").as("year"),
          col("p.publication_type").as("publication_type"),
          col("p.category").as("category"),
          col("p.publisher").as("publisher"),
          col("p.authors_pids")(1).as("pid_1"),
          col("p.authors_pids")(2).as("pid_2"),
          col("p.authors_orcids")(1).as("orcid_1"),
          col("p.authors_orcids")(2).as("orcid_2"),
          col("p.authors_names")(1).as("name_1"),
          col("p.authors_names")(2).as("name_2"),
          col("p.position.pages").as("pages"),
          size(col("p.ee")).as("n_ee"),
          col("p.ee")(0).as("ee_1"),
          col("p.mdate").as("mdate"))
    },
      // expected values derived straight from the base columns — the
      // parser must reconstruct exactly these from the synthesized XML
      """SELECT 'conf/spark/o' || CAST(o_orderkey AS VARCHAR) AS paper_key,
                'Order ' || CAST(o_orderkey AS VARCHAR) AS title,
                CAST(year(o_orderdate) AS INTEGER) AS year,
                'article' AS publication_type,
                'con' AS category,
                'J ' || o_orderpriority AS publisher,
                'p/P' || CAST(o_custkey AS VARCHAR) AS pid_1,
                CAST(NULL AS VARCHAR) AS pid_2,
                CAST(NULL AS VARCHAR) AS orcid_1,
                '0000-' || CAST(o_orderkey % 1000 AS VARCHAR) AS orcid_2,
                'Alice ' || CAST(o_custkey AS VARCHAR) AS name_1,
                'Bob ' || CAST(o_orderkey % 97 AS VARCHAR) AS name_2,
                '1-' || CAST(o_orderkey % 50 + 1 AS VARCHAR) AS pages,
                CAST(2 AS INTEGER) AS n_ee,
                'http://x/' || CAST(o_orderkey AS VARCHAR) AS ee_1,
                CAST(o_orderdate AS DATE) AS mdate
         FROM orders"""),

    // CDC apply (MERGE INTO): delta ops I/U/D against a base snapshot
    // — one anti join + union, base scanned once
    Query("q41_merge_apply", (s, dir) => {
      val o = t(s, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      val base = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(cols.map(col): _*)
      val delta = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(cols.map(col) :+
          when(col("o_orderpriority").startsWith("1"), "D")
            .otherwise("U").as("op"): _*)
      Pipeline.mergeApply(base, delta, "o_orderkey", "op")
    },
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0),
         delta AS (
           SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
                  CASE WHEN o_orderpriority LIKE '1%' THEN 'D' ELSE 'U' END AS op
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT b.o_orderkey, b.o_custkey, b.o_orderpriority, b.o_totalprice
         FROM base b
         WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = b.o_orderkey)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
         FROM delta WHERE op <> 'D'"""),

    // SCD2 history: every order is a version of its customer's state;
    // validity intervals from one window pass (lead + row_number over
    // the same sort)
    Query("q37_scd2", (s, dir) =>
      Pipeline.scd2Intervals(t(s, dir, "orders"),
          Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          col("valid_from").cast("date").as("valid_from"),
          // open intervals close at the SCD2 sentinel high-date (also
          // sidesteps None-vs-NaT null-date compare ambiguity)
          coalesce(col("valid_to").cast("date"), to_date(lit("9999-12-31")))
            .as("valid_to"),
          col("version_n"), col("is_current")),
      """SELECT o_custkey, o_orderkey,
                CAST(o_orderdate AS DATE) AS valid_from,
                coalesce(CAST(lead(o_orderdate) OVER w AS DATE),
                         DATE '9999-12-31') AS valid_to,
                CAST(row_number() OVER w AS INTEGER) AS version_n,
                (lead(o_orderdate) OVER w IS NULL) AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),

    // CDC triad completed: added / removed / changed / unchanged
    // between the latest pre-1998 and latest post-1998 order state per
    // customer; payloads diff via md5 fingerprint so the full-outer
    // shuffle carries (key, hash) only
    Query("q38_snapshot_diff", (s, dir) => {
      val o = t(s, dir, "orders")
      val fp = (df: DataFrame) =>
        md5(concat_ws("|", df("o_orderpriority"), df("o_orderstatus")))
      val ver = Seq(col("o_orderdate"), col("o_orderkey"))
      Pipeline.snapshotDiff(
        Pipeline.latestPerKey(
          o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
          Seq("o_custkey"), ver),
        Pipeline.latestPerKey(
          o.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
          Seq("o_custkey"), ver),
        "o_custkey", fp)
    },
      """WITH pre AS (
           SELECT o_custkey, f FROM (
             SELECT o_custkey,
                    md5(concat_ws('|', o_orderpriority, o_orderstatus)) AS f,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01')
           WHERE rn = 1),
         post AS (
           SELECT o_custkey, f FROM (
             SELECT o_custkey,
                    md5(concat_ws('|', o_orderpriority, o_orderstatus)) AS f,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
           WHERE rn = 1)
         SELECT coalesce(pre.o_custkey, post.o_custkey) AS o_custkey,
                CASE WHEN pre.o_custkey IS NULL THEN 'added'
                     WHEN post.o_custkey IS NULL THEN 'removed'
                     WHEN pre.f <> post.f THEN 'changed'
                     ELSE 'unchanged' END AS change_type
         FROM pre FULL OUTER JOIN post ON pre.o_custkey = post.o_custkey""")
  )
}
