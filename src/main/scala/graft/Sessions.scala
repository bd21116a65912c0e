package graft

import org.apache.spark.sql.SparkSession

/** The library's session builder — one place owns the configuration
  * every graft entry point needs (SURVEY.md §4):
  *
  *   - AQE on (skew-join splitting, dynamic partition coalescing);
  *   - `shuffle.partitions` sized to the local parallelism (Spark's
  *     default 200 just fragments a local[N] run — on a real cluster
  *     callers pass the cluster-appropriate value or let AQE coalesce);
  *   - UTC session timezone (oracle-comparable timestamps);
  *   - ns-timestamp parquet compat (the driver's events.parquet
  *     carries int64 nanoseconds; see [[graft.sources.Tables.events]]);
  *   - graft's native SQL functions + the AsOfJoin planner strategy
  *     registered via [[graft.plans.GraftExtensions]];
  *   - artifact isolation off (`spark.sql.artifact.isolation.enabled`).
  *     Spark's generated-class cache is keyed by the source text AND
  *     the compiling thread's context class loader. Every
  *     `Boundary.stage` persists through `CacheManager`, which clones
  *     the session (autoBucketedScan is on by default), and with
  *     isolation on each clone runs its tasks under an executor class
  *     loader of its own, so the stages reading every new boundary
  *     recompiled the same sources. graft adds no jars, files or
  *     artifacts, so one loader serves every task;
  *   - a codegen cache of 1000 classes
  *     (`spark.sql.codegen.cache.maxEntries`, default 100). A session's
  *     working set is 117–155 classes (the first perfbench pass of
  *     each workload), so the default cache evicts and recompiles part
  *     of it on every pass. Neither setting alone is enough: a timed
  *     perfbench curation_heavy pass compiled 170 classes with
  *     neither, 151 with isolation off only, 54 with the bigger cache
  *     only and 0 with both; its median pass fell from 5.5 s to 3.3 s
  *     (4-core host, 10 alternating pairs).
  *
  * `build` constructs a local session (tests/CLI mains); `install`
  * retrofits an EXISTING session (e.g. a cluster session created by
  * spark-submit) with the graft extensions, which is all a cluster
  * deployment needs — every other setting above is a default, not a
  * requirement.
  */
object Sessions {

  /** Local session with `cpus` cores and graft extensions installed. */
  def build(cpus: Int, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce INSIDE cached plans too (default false keeps
      // a cached frame's output partitioning stable for downstream
      // co-partitioning reuse — but graft's eager-persist results are
      // read by scans/aggregates, not partitioning-sensitive joins,
      // and the stable-partitioning default pins every cache at raw
      // shuffle.partitions: r17 jobs-profiling showed each cache
      // materialization + every cache read paying 32 near-empty
      // tasks' launch/deserialize overhead per job)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Bound the STORED plan string (r20). Every SQL execution start
      // and every AQE stage materialization posts a listener event
      // carrying qe.explainString; 64 KB keeps those payloads humanly
      // readable (r20: report count 1.9-2.3 s → 1.3 s with the cap,
      // OPTIMIZATION_r20.md §5). The cap does NOT bound the
      // traversal: StringConcat still stringifies every node and only
      // drops the text past the limit, so a plan that nests cached
      // plans (InMemoryRelation prints its whole cached child at
      // every occurrence) still costs its full, possibly exponential,
      // size per event. The fix for that is a small tree: the curate
      // funnel reads its cached stage boundaries through plan leaves
      // (CuratePipeline, ColumnBridge.leaf), which took
      // pipeline_report's formatted plan from 6.3 MB to 9 KB. Tools
      // that need the full text (graft.tools.Explain plan capture,
      // PlanCost) raise the limit per session at runtime.
      .config("spark.sql.maxPlanStringLength", (64 * 1024).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the codegen cache holds a pass (see the class doc)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // bucketed tables (Tables.writeBucketed) need a catalog home;
      // keep it out of the source tree
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Register graft's SQL functions and planner strategy on a live
    * session (idempotent; the withExtensions construction path is
    * `spark.sql.extensions=graft.plans.GraftExtensions`).
    *
    * It cannot carry the two codegen-cache settings of [[build]]: both
    * take effect only when the context and session are created. A
    * cluster session passes them at submit:
    * `--conf spark.sql.artifact.isolation.enabled=false
    * --conf spark.sql.codegen.cache.maxEntries=1000`. */
  def install(spark: SparkSession): Unit = {
    graft.plans.GraftExtensions.registerAll(spark)
    org.apache.spark.sql.graft.ColumnBridge.addStrategy(
      spark, graft.plans.AsOfJoinStrategy)
  }
}
