package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-pipeline semantics re-expressed as declarative Spark
  * operators (see SURVEY.md §2a).
  *
  * The reference (/root/reference/main_dag.py) maintains a publication
  * snapshot with pandas loops: upsert new rows by key, detect deleted
  * rows via an `is_seen` flag, count co-author pairs with an O(pairs ×
  * corpus) Python loop, and emit per-run volume metrics. Each becomes
  * a single declarative plan here: one shuffle per logical
  * repartitioning, no driver-side iteration, all joins key-local.
  */
object Pipeline {

  /** Group-count by (year, category) — the reference's Q1 table
    * `publication_by_year_and_category` (main_dag.py:293-301).
    * Partial aggregation happens map-side; the scan reads 2 columns.
    */
  def countByYearCategory(df: DataFrame, dateCol: String, categoryCol: String): DataFrame =
    df.groupBy(year(col(dateCol)).as("year"), col(categoryCol).as("category"))
      .agg(count("*").as("n_pubs"))

  /** Co-occurrence pair counting — the reference's
    * `q2_count_thing` (main_dag.py:265-290) counts, per year, the
    * publications each unordered researcher pair co-authored. The
    * reference loops over all pairs × the whole corpus; here each
    * set's distinct members are gathered once (`collect_set`, partial
    * aggregation map-side) and the `a < b` pairs are generated in-row
    * from the sorted member array — no self-join, so the set key is
    * shuffled once instead of three times (distinct + both join
    * sides). The year lookup joins on the set key BEFORE pair
    * explosion (pairs ∝ |set|² rows never enter a join), and the pair
    * aggregation is the only other shuffle. Linear in Σ|set|², never
    * |corpus|². Member sets (co-author lists) are naturally small; a
    * pathological hot set would surface in the collect_set row, not
    * as a skewed join partition — `maxSetSize` drops sets above the
    * cap (a 10⁵-member set means corrupt data or a key that cannot
    * mean co-occurrence; its |set|² pairs would dominate the job).
    */
  def pairCounts(df: DataFrame, setKey: String, memberKey: String,
      yearOf: DataFrame, yearKey: String,
      maxSetSize: Option[Int] = None): DataFrame = {
    // explicit repartition on the set key so the exchange carries RAW
    // (key, member) rows and both collect_set phases land in one
    // stage: partial aggregation buys nothing here (set keys repeat
    // only ~|set| times, and the partial sets serialize as array
    // buffers — heavier rows than the raw pairs they replace) while
    // its second object-hash-map build cost is real (same-JVM A/B:
    // 1.14 s → 0.93 s at sf0.1; OPTIMIZATION_r20.md §6). Shuffle
    // volume and skew behavior are unchanged at any scale: the same
    // member occurrences travel, keyed the same way.
    val grouped = df.repartition(col(setKey))
      .groupBy(col(setKey).as("__set"))
      .agg(sort_array(collect_set(col(memberKey))).as("__ms"))
    val sets = maxSetSize match {
      case Some(cap) => grouped.filter(size(col("__ms")) <= cap)
      case None => grouped
    }
    // all i < j pairs of the sorted array — sorted order makes
    // member_a < member_b by construction. Native single-pass
    // expression: the HOF form (flatten∘transform∘slice) evaluates
    // interpreted and copies a sub-array per element
    val pairs = graft.functions.expr.NativeFunctions.sorted_pairs(col("__ms"))
    sets
      .join(yearOf.select(col(yearKey).as("__yk"), col("year")), col("__set") === col("__yk"))
      .select(col("year"), explode(pairs).as("__p"))
      .groupBy(col("year"), col("__p.a").as("member_a"), col("__p.b").as("member_b"))
      .agg(count("*").as("n_co"))
  }

  /** Upsert / keep-latest-version-per-key merge — the reference's
    * `save_to_csv` snapshot merge (main_dag.py:242-262). Union the
    * base snapshot with the delta batch, keep the row with the
    * greatest version per key. One shuffle (on the key); the window
    * uses `row_number`, which Spark plans with partial top-1
    * (WindowGroupLimit) so no full per-key sort materializes.
    * `version` columns must make the ordering total (pass a tiebreak).
    */
  def upsertLatest(base: DataFrame, delta: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame =
    latestPerKey(base.unionByName(delta), keys, version)

  /** Delete detection — keys present in the snapshot but absent from
    * the latest batch (the reference's `is_seen == False` scan,
    * main_dag.py:251-254). A `left_anti` join: broadcast when the
    * seen-side is small, shuffle-hash otherwise (Catalyst + AQE
    * decide from stats).
    */
  def deletedKeys(snapshot: DataFrame, seen: DataFrame, snapshotKey: String, seenKey: String): DataFrame =
    snapshot.join(seen, snapshot(snapshotKey) === seen(seenKey), "left_anti")

  /** Per-run volume metrics — the reference's `volume_update` write
    * (main_dag.py:480-488): total rows, rows matching the "new"
    * predicate, distinct keys. One wide aggregate, single reduce.
    */
  def volumeMetrics(df: DataFrame, isNew: Column, keyCol: String): DataFrame =
    df.agg(
      count("*").as("total_rows"),
      count(when(isNew, true)).as("total_new"),
      countDistinct(col(keyCol)).as("unique_keys"))

  /** Element frequency from a collection column — the reference
    * explodes author ordinal-maps into rows (main_dag.py:455-478).
    * Explode + count with deterministic top-N (count desc, element
    * asc). TakeOrderedAndProject handles the top-N without a global
    * sort.
    */
  def explodeCount(df: DataFrame, elements: Column, topN: Int): DataFrame =
    df.select(explode(elements).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count("*").as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topN)

  /** Latest version per key (snapshot compaction) — the single
    * keep-latest window both [[upsertLatest]] and the snapshot-diff
    * call sites share (one definition, so the ordering/tiebreak
    * contract cannot silently diverge between paths). */
  def latestPerKey(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(version.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** SCD2 history build — the natural extension of the reference's
    * keep-latest merge (main_dag.py:242-262): instead of discarding
    * superseded versions, every version row gets a validity interval.
    * `valid_from` = the version's own ordering value, `valid_to` = the
    * next version's (null while current), plus `version_n` and
    * `is_current`. One shuffle (on the key) feeds both window
    * functions — `lead` and `row_number` share the same
    * partition+ordering so Catalyst plans a single Window node over a
    * single sort. At 100 TB the history table is append-heavy but the
    * rebuild is still a single co-partitioned pass; keys are
    * independent so AQE skew-split applies cleanly.
    *
    * `version` must be a total order within a key (pass a tiebreak
    * column, same contract as [[upsertLatest]]).
    */
  def scd2Intervals(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(version.map(_.asc): _*)
    df.withColumn("valid_from", version.head)
      .withColumn("valid_to", lead(version.head, 1).over(w))
      .withColumn("version_n", row_number().over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Full snapshot diff — the reference's merge classifies rows as
    * new / deleted (main_dag.py:242-262); this completes the CDC
    * triad with `changed` vs `unchanged` detection. Full-outer join
    * on the key; each side carries only (key, fingerprint) into the
    * shuffle — at 100 TB the diff moves two key+hash columns, never
    * the payload. Callers compare payloads via the `fingerprint`
    * expression (e.g. `md5(concat_ws(...))`) so arbitrarily wide rows
    * diff at fixed shuffle width.
    */
  def snapshotDiff(base: DataFrame, delta: DataFrame, key: String,
      fingerprint: DataFrame => Column): DataFrame = {
    val b = base.select(col(key).as("__bk"), fingerprint(base).as("__bf"))
    val d = delta.select(col(key).as("__dk"), fingerprint(delta).as("__df"))
    b.join(d, col("__bk") === col("__dk"), "full_outer")
      .select(
        coalesce(col("__bk"), col("__dk")).as(key),
        when(col("__bk").isNull, "added")
          .when(col("__dk").isNull, "removed")
          .when(col("__bf") =!= col("__df"), "changed")
          .otherwise("unchanged").as("change_type"))
  }

  /** CDC apply / MERGE INTO semantics in one declarative plan: the
    * delta carries an op column (`I`/`U`/`D` — insert, upsert,
    * delete); the result is the base with delta keys removed (covers
    * matched-update and matched-delete) unioned with the delta's
    * surviving rows (covers insert and the update's new image).
    * Completes the reference's merge trio (upsertLatest /
    * deletedKeys / snapshotDiff) as a single apply step.
    *
    * Shape: ONE left_anti join on the key — broadcast when the delta
    * batch is small (the overwhelmingly common CDC case: a batch vs
    * a 100 TB base), shuffle-hash with AQE otherwise — plus a
    * shuffle-free union. The base is scanned once, never aggregated
    * or windowed. Delta must be pre-deduplicated per key (one op per
    * key, the contract every CDC apply shares); feed a raw multi-op
    * batch through [[upsertLatest]] first.
    */
  def mergeApply(base: DataFrame, delta: DataFrame, key: String,
      opCol: String): DataFrame = {
    val cols = base.columns.toSeq
    // fail loudly on a malformed op (null or unknown): without this, a
    // null op would anti-join the base row away AND fail the =!= "D"
    // filter (null), silently deleting data on a corrupt feed
    val op = when(col(opCol).isin("I", "U", "D"), col(opCol))
      .otherwise(raise_error(concat(
        lit(s"mergeApply: $opCol must be I/U/D, got "),
        coalesce(col(opCol), lit("NULL")))))
    val deltaKeys = delta.select(col(key).as("__mk"))
    base.join(deltaKeys, col(key) === col("__mk"), "left_anti")
      .unionByName(
        delta.filter(op =!= "D").select(cols.map(col): _*))
  }

  /** Per-group sorted member roster — the reference's update-log
    * projection builds per-publication author structs
    * (main_dag.py:433-478). Aggregates each group's distinct members
    * into a deterministic (sorted) comma-joined string + count.
    */
  def memberRoster(df: DataFrame, groupKey: String, memberKey: String): DataFrame =
    df.select(col(groupKey), col(memberKey)).distinct()
      .groupBy(col(groupKey))
      .agg(
        concat_ws(",", transform(sort_array(collect_list(col(memberKey))),
          m => m.cast("string"))).as("members"),
        count("*").as("n_members"))
}
