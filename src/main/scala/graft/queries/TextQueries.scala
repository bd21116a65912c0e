package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.functions.Text
import Query.t

/** SURVEY §2c, text and crawl: retrieval (tf-idf, BM25, phrase
  * search), language id, fingerprints, HTML/link/charset
  * extraction, robots and script detection. */
object TextQueries {

  lazy val all: Seq[Query] = Seq(
    // top-3 characteristic terms per document by smoothed TF-IDF
    Query("text_tfidf", (s, dir) => {
      val d = t(s, dir, "documents")
      Curation.tfidfTopTerms(d, "doc_id", Text.tokens(col("text")), k = 3)
    },
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf
                FROM toks WHERE token <> '' GROUP BY 1, 2),
         dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, token, CAST(rnk AS INTEGER) AS rnk, round(tfidf, 4) AS tfidf
         FROM (SELECT tf.doc_id, tf.token,
                      tf.tf * (ln((n_docs + 1.0) / (dfx.df + 1.0)) + 1.0) AS tfidf,
                      row_number() OVER (
                        PARTITION BY tf.doc_id
                        ORDER BY tf.tf * (ln((n_docs + 1.0) / (dfx.df + 1.0)) + 1.0) DESC,
                                 tf.token) AS rnk
               FROM tf JOIN dfx ON tf.token = dfx.token CROSS JOIN n)
         WHERE rnk <= 3"""),

    // BM25 (Lucene idf form) top-20 docs for a literal query bag —
    // the retrieval scorer of CCNet-style domain mining / RAG corpus
    // building; corpus stats (df, N, avgdl) are one broadcast 1-row
    // agg, scoring is an in-row pass, selection a TakeOrdered
    Query("text_bm25", (s, dir) =>
      Curation.bm25TopK(t(s, dir, "documents"), "doc_id", col("text"),
        terms = bm25Terms, k = 20),
      bm25OracleSql),

    // exact positional PHRASE search (r11): the retrieval primitive
    // bag-of-words BM25 cannot express — per-term postings filtered
    // BEFORE the (doc, pos+offset) chain joins
    Query("text_phrase_search", (s, dir) =>
      Curation.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("row", "column", "sort")),
      // positional retrieval: 1-based positions over the filtered token
      // list (identical to the plan's posexplode+1 over \s+ tokens)
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t <> '') AS ts
           FROM documents),
         pos AS (SELECT doc_id, i AS p, ts[i] AS w
                 FROM toks, unnest(generate_series(1, len(ts))) AS u(i)),
         st AS (SELECT a.doc_id, a.p
                FROM pos a
                JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
                JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
                WHERE a.w = 'row' AND b.w = 'column' AND c.w = 'sort')
         SELECT doc_id, count(*) AS n_matches, min(p) AS first_pos
         FROM st GROUP BY 1"""),

    // proximity variant: all terms within an 8-token window, any
    // order — minimum span reported
    Query("text_phrase_prox", (s, dir) =>
      Curation.proximitySearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("row", "column", "sort"), maxSpan = 8),
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t <> '') AS ts
           FROM documents),
         pos AS (SELECT doc_id, i AS p, ts[i] AS w
                 FROM toks, unnest(generate_series(1, len(ts))) AS u(i)),
         combos AS (SELECT a.doc_id,
                           greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p) AS sp
                    FROM pos a
                    JOIN pos b ON b.doc_id = a.doc_id
                    JOIN pos c ON c.doc_id = a.doc_id
                    WHERE a.w = 'row' AND b.w = 'column' AND c.w = 'sort')
         SELECT doc_id, min(sp) AS min_span
         FROM combos GROUP BY 1 HAVING min(sp) <= 8"""),

    // PII-style scrub: emails then number runs → typed placeholders;
    // output is counts + a fingerprint of the redacted text
    Query("text_redact", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(Text.emailPattern), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Text.numberPattern), lit(0))).as("n_nums"),
        md5(Text.redact(col("text")).cast("binary")).as("redacted_fp")),
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
                  AS n_emails,
                CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_nums,
                md5(regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]+', '<NUM>', 'g')) AS redacted_fp
         FROM documents"""),

    Query("text_langid", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.langId(col("text")).as("predicted_lang")),
      // argmax of per-language stopword hits; ties resolve to the
      // lexicographically greatest language in BOTH engines (struct max
      // compares hits, then lang)
      langidOracleSql),

    // langid accuracy audit vs the generator's lang column: integer
    // confusion counts per (true, predicted) pair — one
    // map-side-combining agg over the in-row heuristic
    Query("text_langid_eval", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("predicted_lang"))
        .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n")),
      // the langid heuristic audited against the generator's lang
      // column: integer confusion counts (the text-side ann_recall —
      // at scale you monitor this on labeled slices and retune the
      // stopword tables when accuracy sags)
      s"""WITH pred AS ($langidOracleSql)
         SELECT d.lang, pred.predicted_lang, count(*) AS n
         FROM documents d JOIN pred ON d.doc_id = pred.doc_id
         GROUP BY 1, 2"""),

    // TRAINED langid (r9): multinomial NB over hashed char-3-gram
    // buckets, fitted on the md5-bucket<80 split of the generator's
    // labels — closed-form training (one exact-count aggregate), so
    // the oracle replays it without GD unrolling. NOTE the honest
    // readout: this corpus's lang column is INDEPENDENT of its text
    // (all langs share one vocabulary), so the model's holdout
    // confusion is near-chance HERE — the gate proves the arithmetic,
    // and LangidSpec proves learning capacity on a planted
    // multilingual corpus where language actually exists in the text
    Query("text_langid_train", (s, dir) => {
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      graft.operators.Langid.nbTrain(
        t(s, dir, "documents").filter(bucket < 80),
        "lang", "text", langidLangs, langidNbBuckets)
    },
      langidTrainOracleSql),

    // the trained model's holdout confusion matrix — directly
    // comparable to text_langid_eval's heuristic matrix (same labels)
    Query("text_langid_model_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = graft.operators.Curation.hashBucket(col("text"), 100)
      graft.operators.Langid.nbConfusion(
        docs.filter(bucket < 80), docs.filter(bucket >= 80),
        "lang", "text", langidLangs, langidNbBuckets)
    },
      langidModelEvalOracleSql),

    Query("text_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text")).as("fp")),
      """SELECT doc_id,
                md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents"""),

    // 64-bit rolling-hash fingerprint via the native RollingHash
    // expression — cheaper than md5 for shard-local pre-screens;
    // rows-gated (the hash isn't expressible in the oracle engine)
    Query("text_rolling_fp", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.expr.NativeFunctions
          .rolling_hash(Text.canonicalize(col("text"))).as("fp64")),
      // 64-bit poly hash (h = h*31 + byte, seeded) over the canonical
      // form, reproduced byte-for-byte in HUGEINT arithmetic mod 2^64
      // (documents are ASCII, so ord(char) == utf8 byte)
      """SELECT doc_id,
                CAST(CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
                          THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
                          ELSE fp_u END AS BIGINT) AS fp64
         FROM (
           SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(1125899906842597 AS HUGEINT),
                      list_transform(
                        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ''),
                        c -> CAST(ord(c) AS HUGEINT))),
                    (a, b) -> (a * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS fp_u
           FROM documents)"""),

    // HTML text extraction (r13): the raw-crawl→text step that runs
    // BEFORE every quality gate. Gated the dedup_url way: per doc a
    // full page is SYNTHESIZED (head with title/style/script, nav
    // boilerplate carrying the source, h1, the text split into <p>
    // paragraphs at " spark " boundaries), the native HtmlText scan
    // extracts, and the oracle derives the expected title and body
    // DIRECTLY from the base columns — any extraction defect (kept
    // script payload, leaked nav, broken whitespace collapse)
    // hash-mismatches. Stateless map, no shuffle beyond the scan.
    Query("text_extract_html", (s, dir) => {
      import graft.functions.Html
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>doc "), id,
        lit("</title><style>p{margin:0}</style><script>track("), id,
        lit(");</script></head><body><nav>Home | "), col("source"),
        lit("</nav><h1>"), col("lang"), lit(" doc</h1><p>"),
        regexp_replace(col("text"), " spark ", "</p>\n<p>"),
        lit("</p>\n</body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
        Html.titleFromHtml(html).as("title"),
        Html.textFromHtml(html).as("body"))
    },
      // html extraction, gated by independent derivation (the dedup_url
      // pattern): expected title/body come from the BASE columns, never
      // from replaying the extractor — the synthesize→extract round
      // trip must invert exactly. " spark " → paragraph-break
      // substitution on the Spark side comes back as a single space
      // (tag → space, collapse), so the oracle's direct form is a plain
      // non-overlapping global replace; both engines' regex engines
      // continue after each match, so overlap semantics agree
      """SELECT doc_id,
                'doc ' || CAST(doc_id AS VARCHAR) AS title,
                trim(regexp_replace(
                  'doc ' || CAST(doc_id AS VARCHAR) || ' ' || lang ||
                    ' doc ' || regexp_replace(text, ' spark ', ' ', 'g'),
                  '[ \t\n\x0B\f\r]+', ' ', 'g')) AS body
         FROM documents"""),

    // link extraction + canonicalization (r13): the crawl-frontier
    // step — hrefs scanned out of raw markup, each canonicalized by
    // the native UrlCanonicalize path. Same gate shape: two messy
    // anchors are synthesized per page (case/default-port/tracking/
    // trailing-slash/fragment jitter) and the oracle derives each
    // expected canonical DIRECTLY from the base columns — a defect in
    // either the href scan or the canonicalizer hash-mismatches.
    // Stateless map + in-row explode (2 rows/doc), no shuffle.
    Query("text_extract_links", (s, dir) => {
      import graft.functions.Urls
      val id = col("doc_id")
      val html = concat(
        lit("<html><body><p>see <a href=\"HTTPS://WWW.Shop"),
        (id % 7).cast("string"),
        lit(".COM:443/item/"), (id % 50).cast("string"),
        lit("/?utm_campaign=x&q="), col("lang"),
        lit("#frag\">here</a> and <a href=\"http://cdn.site"),
        (id % 3).cast("string"),
        lit(".net:80/a//\">img</a></p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("link_pos"),
          Urls.canonicalize(col("col")).as("canonical_url"))
    },
      // link extraction, gated by independent derivation: each anchor's
      // canonical form is rebuilt from base columns (jitter removed by
      // construction), never by replaying the extractor/canonicalizer
      """SELECT doc_id, CAST(1 AS INTEGER) AS link_pos,
                'https://www.shop' || CAST(doc_id % 7 AS VARCHAR) ||
                '.com/item/' || CAST(doc_id % 50 AS VARCHAR) ||
                '?q=' || lang AS canonical_url
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(2 AS INTEGER),
                'http://cdn.site' || CAST(doc_id % 3 AS VARCHAR) || '.net/a'
         FROM documents"""),

    // charset sniff + decode repair (r14): real crawls are not clean
    // UTF-8 — this is the byte→text step BEFORE extraction. Gate
    // trick: five byte-mangling regimes are synthesized per order
    // (UTF-8+BOM / plain UTF-8 / latin-1 / UTF-16(BE BOM) / ASCII
    // with a meta charset declaration) and the oracle derives BOTH
    // the expected charset name and the decoded text DIRECTLY from
    // the base columns (the round trip must invert exactly) — a BOM
    // left unstripped, a missed meta, or a wrong fallback
    // hash-mismatches. Stateless single-pass scan, stays in codegen.
    Query("text_charset", (s, dir) => {
      import graft.functions.expr.NativeFunctions.{charset_decode, charset_sniff}
      val m = col("o_orderkey") % 5
      val accented = concat(lit("Café à "), lower(col("o_orderpriority")),
        lit(" ü"), (col("o_orderkey") % 100).cast("string"))
      val metaHtml = concat(
        lit("<html><head><meta charset=\"windows-1252\"></head><body>meta page "),
        (col("o_orderkey") % 100).cast("string"), lit("</body></html>"))
      val raw = when(m === 0, concat(unhex(lit("EFBBBF")), encode(accented, "UTF-8")))
        .when(m === 1, encode(accented, "UTF-8"))
        .when(m === 2, encode(accented, "ISO-8859-1"))
        .when(m === 3, encode(accented, "UTF-16"))
        .otherwise(encode(metaHtml, "UTF-8"))
      t(s, dir, "orders").select(col("o_orderkey"),
        charset_sniff(raw).as("charset"),
        charset_decode(raw).as("text"))
    },
      // charset sniff/decode, gated by independent derivation: the
      // expected charset name AND decoded text are CASE expressions
      // over base columns — the oracle never touches a byte, so the
      // synthesize→sniff→decode round trip must invert exactly
      """SELECT o_orderkey,
                CASE o_orderkey % 5
                  WHEN 0 THEN 'utf-8-bom'
                  WHEN 1 THEN 'utf-8'
                  WHEN 2 THEN 'windows-1252'
                  WHEN 3 THEN 'utf-16be-bom'
                  ELSE 'windows-1252' END AS charset,
                CASE WHEN o_orderkey % 5 = 4
                  THEN '<html><head><meta charset="windows-1252"></head><body>meta page '
                       || CAST(o_orderkey % 100 AS VARCHAR) || '</body></html>'
                  ELSE 'Café à ' || lower(o_orderpriority) || ' ü'
                       || CAST(o_orderkey % 100 AS VARCHAR)
                END AS text
         FROM orders"""),

    // robots.txt evaluation (r14, RFC 9309): the crawl-politeness
    // gate beside URL canonicalization. Six regimes per order
    // exercise group selection (specific agent group present or only
    // *, case-insensitive token match), wildcard + $-anchored rules,
    // longest-match precedence with allow-on-tie, and the no-match
    // default — the oracle derives path AND verdict directly from
    // the construction (m ∉ {1,4} ⇔ allowed)
    Query("crawl_robots", (s, dir) => {
      import graft.functions.expr.NativeFunctions.robots_allowed
      val m = col("o_orderkey") % 6
      val base = lit("User-agent: *\nDisallow: /private/*\n" +
        "Allow: /private/pub$\nDisallow: /tmp\n")
      val spec = lit("User-agent: graftbot\nAllow: /private/\n" +
        "Disallow: /secret/\n\n")
      val robots = when(m >= 3, concat(spec, base)).otherwise(base)
      val k = (col("o_orderkey") % 10).cast("string")
      val path = when(m === 0, concat(lit("/public/page"), k))
        .when(m === 1, concat(lit("/private/x"), k))
        .when(m === 2, lit("/private/pub"))
        .when(m === 3, concat(lit("/private/x"), k))
        .when(m === 4, concat(lit("/secret/x"), k))
        .otherwise(concat(lit("/tmp"), k))
      t(s, dir, "orders").select(col("o_orderkey"), path.as("path"),
        robots_allowed(robots, path, "GraftBot").as("allowed"))
    },
      // robots evaluation, gated by independent derivation: the regime
      // index alone decides the verdict (m ∉ {1,4} ⇔ allowed), so any
      // defect in group selection, glob matching, $-anchoring or
      // longest-match precedence flips a row and hash-mismatches
      """SELECT o_orderkey,
                CASE o_orderkey % 6
                  WHEN 0 THEN '/public/page' || CAST(o_orderkey % 10 AS VARCHAR)
                  WHEN 1 THEN '/private/x' || CAST(o_orderkey % 10 AS VARCHAR)
                  WHEN 2 THEN '/private/pub'
                  WHEN 3 THEN '/private/x' || CAST(o_orderkey % 10 AS VARCHAR)
                  WHEN 4 THEN '/secret/x' || CAST(o_orderkey % 10 AS VARCHAR)
                  ELSE '/tmp' || CAST(o_orderkey % 10 AS VARCHAR)
                END AS path,
                o_orderkey % 6 NOT IN (1, 4) AS allowed
         FROM orders"""),

    // Unicode-script profile (r14): the langid complement — which
    // WRITING SYSTEM is a doc in (routes tokenizer + langid model
    // family before any model runs). Explicit BMP codepoint ranges,
    // spelled identically in both engines, so the counts are a real
    // independent recount, not a construction replay; per-doc
    // non-latin suffixes make every script class non-trivial
    Query("text_script", (s, dir) => {
      val suffix = when(col("doc_id") % 5 === 1, lit(" Привет мир"))
        .when(col("doc_id") % 5 === 2, lit(" 你好世界"))
        .when(col("doc_id") % 5 === 3, lit(" مرحبا بالعالم"))
        .when(col("doc_id") % 5 === 4, lit(" こんにちは"))
        .otherwise(lit(""))
      val txt = concat(col("text"), suffix)
      // TWO projections, not one (r20, guide §7.3 "avoid generating
      // gigantic expression trees in loops"): the strict-> fold
      // doubles its tree per script (bc appears twice per step), so
      // folding the COUNT EXPRESSIONS directly nested 2^7 copies of
      // the 7 regexp_replace chains into one Project — ~0.9 s of
      // driver analysis/optimization per run for 14 ms of task work
      // (96% of wall was `sched.nonwork_s`). Compute each count ONCE in a first
      // projection; the fold then references attributes, which
      // CollapseProject keeps separate (non-cheap expressions are
      // never re-inlined into multi-reference consumers). Same fold,
      // same semantics, same output.
      val names = Text.scriptRanges.map(_._1)
      val stage1 = t(s, dir, "documents").select(
        col("doc_id") +: Text.scriptCounts(txt)
          .map { case (n, c) => c.cast("long").as(s"n_$n") }: _*)
      val counts = names.map(n => n -> col(s"n_$n"))
      // first-listed max wins ties (strict-> fold; 'none' when empty)
      val (domName, domCnt) = counts.foldLeft((lit("none"), lit(0L))) {
        case ((bn, bc), (n, c)) =>
          (when(c > bc, lit(n)).otherwise(bn), when(c > bc, c).otherwise(bc))
      }
      val total = counts.map(_._2).reduce(_ + _)
      stage1.select(
        col("doc_id") +:
        counts.map { case (n, c) => c.as(s"n_$n") } :+
        domName.as("dominant_script") :+
        when(total > 0, round(domCnt.cast("double") / total, 6))
          .otherwise(lit(0.0)).as("script_frac"): _*)
    },
      // script profile: a REAL independent recount — both engines count
      // characters in the same explicit BMP ranges over the same
      // synthesized text (first-listed max wins dominant ties)
      """WITH t AS (
           SELECT doc_id, text || CASE doc_id % 5
                    WHEN 1 THEN ' Привет мир'
                    WHEN 2 THEN ' 你好世界'
                    WHEN 3 THEN ' مرحبا بالعالم'
                    WHEN 4 THEN ' こんにちは'
                    ELSE '' END AS txt
           FROM documents),
         c AS (
           SELECT doc_id,
                  length(regexp_replace(txt, '[^A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{00FF}]', '', 'g')) AS n_latin,
                  length(regexp_replace(txt, '[^\x{0400}-\x{04FF}]', '', 'g')) AS n_cyrillic,
                  length(regexp_replace(txt, '[^\x{0370}-\x{03FF}]', '', 'g')) AS n_greek,
                  length(regexp_replace(txt, '[^\x{0600}-\x{06FF}]', '', 'g')) AS n_arabic,
                  length(regexp_replace(txt, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_cjk,
                  length(regexp_replace(txt, '[^\x{3040}-\x{30FF}]', '', 'g')) AS n_kana,
                  length(regexp_replace(txt, '[^\x{AC00}-\x{D7AF}]', '', 'g')) AS n_hangul
           FROM t),
         g AS (SELECT *,
                      greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                               n_cjk, n_kana, n_hangul) AS mx,
                      n_latin + n_cyrillic + n_greek + n_arabic
                        + n_cjk + n_kana + n_hangul AS tot
               FROM c)
         SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic,
                n_cjk, n_kana, n_hangul,
                CASE WHEN tot = 0 THEN 'none'
                     WHEN n_latin >= mx THEN 'latin'
                     WHEN n_cyrillic >= mx THEN 'cyrillic'
                     WHEN n_greek >= mx THEN 'greek'
                     WHEN n_arabic >= mx THEN 'arabic'
                     WHEN n_cjk >= mx THEN 'cjk'
                     WHEN n_kana >= mx THEN 'kana'
                     ELSE 'hangul' END AS dominant_script,
                CASE WHEN tot = 0 THEN 0.0
                     ELSE round(CAST(mx AS DOUBLE) / tot, 6) END AS script_frac
         FROM g""")
  )

  /** The text_bm25 literal query bag (df ≈ 0.77 · N on the gate
    * corpus — idf ≈ 0.27, so ranking exercises tf and length
    * normalization, not just term presence). */
  private val bm25Terms = Seq("vector", "customer", "spark")

  /** text_bm25 oracle: df/N/avgdl from one aggregate (all integral
    * sums — order-independent), then the per-term scoring chain with
    * the Scala-computed double literals (k1+1 etc.) interpolated via
    * Double.toString so both engines parse the identical bits. */
  private def bm25OracleSql: String = {
    val (k1, b, k) = (1.2, 0.75, 20)
    val dfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(ts, '$t') THEN 1.0 ELSE 0.0 END) AS df$i"
    }.mkString(", ")
    val chain = bm25Terms.zipWithIndex.map { case (t, i) =>
      val tf = s"len(list_filter(ts, x -> x = '$t'))"
      s"ln(1.0 + (st.n - st.df$i + 0.5) / (st.df$i + 0.5)) * ($tf * ${k1 + 1.0}) / " +
        s"($tf + $k1 * (${1.0 - b} + $b * dl / st.avgdl))"
    }.mkString(" + ")
    s"""WITH t0 AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |d AS (SELECT doc_id, ts, CAST(len(ts) AS DOUBLE) AS dl
       |      FROM t0 WHERE len(ts) >= 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfCols FROM d),
       |s AS (SELECT doc_id, round($chain, 4) AS bm25 FROM d CROSS JOIN st),
       |r AS (SELECT doc_id,
       |             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rnk,
       |             bm25
       |      FROM s)
       |SELECT doc_id, rnk, bm25 FROM r WHERE rnk <= $k""".stripMargin
  }

  /** text_langid oracle (also a CTE of the eval gate). */
  private def langidOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                  FROM documents)
       SELECT doc_id,
              CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS predicted_lang
       FROM (SELECT doc_id, list_aggregate([
               {'hits': len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it'))), 'lang': 'en'},
               {'hits': len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))), 'lang': 'de'},
               {'hits': len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','es'))), 'lang': 'es'},
               {'hits': len(list_filter(toks, t -> t IN ('le','la','et','les','des','est','un','dans'))), 'lang': 'fr'},
               {'hits': len(list_filter(toks, t -> t IN ('的','是','了','在','和','有','我','不'))), 'lang': 'zh'}
             ], 'max') AS best FROM t)"""

  /** Trained-langid gate constants: the corpus lang label set and
    * the NB feature width (power of two, though the char-3-gram poly
    * hash never exceeds 2^31 so plain % matches in both engines). */
  private val langidLangs = Seq("de", "en", "es", "fr", "zh")

  private val langidNbBuckets = 16

  /** Shared CTE chain of the trained-langid oracles: codepoint list →
    * char-3-gram poly-31 buckets (exact — the gram value is < 2^31,
    * no mod-2^64 machinery) → exact integer bucket counts → the
    * 1-row training aggregate over the md5-bucket<80 split. */
  private def langidNbCtes: String = {
    val B = langidNbBuckets
    val xcols = (0 until B)
      .map(b => s"len(list_filter(gb, h -> h = $b)) AS x$b")
      .mkString(",\n       |         ")
    val perLang = langidLangs.sorted.flatMap { l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l" +:
        (0 until B).map(b =>
          s"CAST(sum(CASE WHEN lang = '$l' THEN x$b ELSE 0 END) AS BIGINT) " +
            s"AS c_${l}_$b")
    }.mkString(",\n       |         ")
    s"""WITH nb0 AS (
       |  SELECT lang,
       |         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket,
       |         list_transform(list_filter(string_split(lower(text), ''),
       |                                    c -> c <> ''),
       |                        c -> ord(c)::BIGINT) AS codes
       |  FROM documents),
       |nb1 AS (
       |  SELECT lang, bucket,
       |         CASE WHEN len(codes) >= 3
       |              THEN list_transform(generate_series(1, len(codes) - 2),
       |                   i -> ((codes[i] * 31 + codes[i+1]) * 31 + codes[i+2]) % $B)
       |              ELSE [] END AS gb
       |  FROM nb0),
       |nbx AS (
       |  SELECT lang, bucket,
       |         $xcols
       |  FROM nb1),
       |nbtr AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         $perLang
       |  FROM nbx WHERE bucket < 80)""".stripMargin
  }

  private def langidTotChain(l: String): String =
    (0 until langidNbBuckets).map(b => s"c_${l}_$b").mkString("(", " + ", ")")

  private def langidPriorSql(l: String): String =
    s"round(ln(CAST(n_$l + 1 AS DOUBLE) / (n + ${langidLangs.size})), 6)"

  private def langidLikSql(l: String, b: Int): String =
    s"round(ln(CAST(c_${l}_$b + 1 AS DOUBLE) / " +
      s"(${langidTotChain(l)} + $langidNbBuckets)), 6)"

  /** text_langid_train oracle: the closed-form NB fit replayed —
    * exact count rows plus 6dp-rounded log prior/likelihoods. */
  private def langidTrainOracleSql: String = {
    val selects = langidLangs.sorted.flatMap { l =>
      (s"SELECT '$l' AS lang, 'prior' AS feature, n_$l AS cnt, " +
        s"${langidPriorSql(l)} AS logp FROM nbtr") +:
        (0 until langidNbBuckets).map(b =>
          f"SELECT '$l', 'b$b%02d', c_${l}_$b, ${langidLikSql(l, b)} FROM nbtr")
    }
    s"""$langidNbCtes
       |${selects.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** text_langid_model_eval oracle: per-holdout-doc z chains (prior +
    * Σ x_b·lik, left-assoc, term-for-term with the plan), CASE-chain
    * argmax in sorted-lang order, integer confusion counts. */
  private def langidModelEvalOracleSql: String = {
    val B = langidNbBuckets
    val sorted = langidLangs.sorted
    val zCols = sorted.map { l =>
      val chain = (langidPriorSql(l) +:
        (0 until B).map(b => s"CAST(x$b AS DOUBLE) * ${langidLikSql(l, b)}"))
        .mkString(" + ")
      s"$chain AS z_$l"
    }.mkString(",\n       |         ")
    val cases = sorted.dropRight(1).map { l =>
      val cond = sorted.filter(_ != l).map(o => s"z_$l >= z_$o")
        .mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n       |           ")
    s"""$langidNbCtes,
       |nbev AS (SELECT lang, ${(0 until B).map(b => s"x$b").mkString(", ")}
       |         FROM nbx WHERE bucket >= 80),
       |nbz AS (
       |  SELECT lang,
       |         $zCols
       |  FROM nbev CROSS JOIN nbtr)
       |SELECT lang,
       |       CASE $cases
       |           ELSE '${sorted.last}' END AS predicted_lang,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM nbz GROUP BY 1, 2""".stripMargin
  }
}
