package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Schema'd readers for the engine's table surface.
  *
  * Mirrors the reference's file-based extract stage
  * (/root/reference/main_dag.py:16-47 reads per-researcher files;
  * researchers_xml_download_script.py reads cs_researchers.csv) as
  * proper columnar sources: parquet for facts, schema'd CSV/JSON for
  * small control tables. At scale, parquet scans benefit from column
  * pruning + predicate pushdown; CSV/JSON are for small dims only.
  */
object Tables {

  /** All tables the driver's testdata provides, by name. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one parquet table from a scale-factor directory.
    *
    * The schema is read from the table's parquet footer here, on the
    * driver, and handed to the reader. A bare `spark.read.parquet`
    * infers it through `SchemaMergeUtils.mergeSchemasInParallel`,
    * which schedules a one-task Spark job to read that same footer —
    * even for a single file with `mergeSchema` off — so every table
    * read would pay one job before its query starts. The conversion
    * is the per-file code that job runs
    * (`ParquetFileFormat.readSchemaFromFooter` with a converter built
    * from the session conf), so `nanosAsLong`, INT96, binary-as-string
    * and NTZ inference apply exactly as before. Nothing is kept
    * between calls: each read reads its footer again, so a replaced
    * file is seen by the next read. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The Spark schema stored in the footer of the file Spark's own
    * inference would pick for `path`. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = schemaFile(p.getFileSystem(conf), p)
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Spark's pick (`ParquetUtils.inferSchema` without mergeSchema): a
    * file path is its own pick; under a directory, the leaves in path
    * order — skipping the names Spark's file listing skips — offer
    * `_common_metadata`, then `_metadata`, then the first data file. */
  private def schemaFile(fs: FileSystem, path: Path): FileStatus = {
    def listed(name: String): Boolean =
      name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(s => listed(s.getPath.getName)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(path)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file under $path to read a schema from"))
  }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** The events table's `ts` column has shipped in three physical
    * forms across driver testdata generations; normalize all of them
    * to microsecond TimestampType (an instant) so every downstream
    * operator sees ONE type:
    *
    *   - int64 nanoseconds (Spark 4 rejects ns timestamps; with
    *     spark.sql.legacy.parquet.nanosAsLong=true they read as Long
    *     nanos) → truncate to µs, tag as instant;
    *   - timestamp[us] WITHOUT timezone (pandas-written parquet reads
    *     as TIMESTAMP_NTZ, which Spark refuses to cast to numeric and
    *     unix_micros rejects) → re-tag as an instant. The graft
    *     session timezone is UTC ([[graft.Sessions]]), so the
    *     NTZ→TIMESTAMP cast is value-preserving: the same wall-clock
    *     reading, now meaning that instant in UTC — exactly how the
    *     DuckDB oracle's epoch_us(naive ts) interprets it;
    *   - TimestampType already → untouched. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(table(spark, dir, "events"))

  /** The per-generation `ts` normalization alone, schema-dispatched —
    * works on batch AND streaming frames (a `readStream` over an
    * events drop-directory needs the identical rewrite; the dispatch
    * reads only the schema, never the data). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Schema'd CSV reader (no inference job — at 100 TB an inference
    * pass is a full extra scan). Header expected, like
    * cs_researchers.csv in the reference. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Schema'd JSON-lines reader. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC reader — ORC is self-describing like parquet; the explicit
    * schema still prunes columns at scan and catches drift early. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Idempotent partitioned parquet sink — replaces the reference's
    * row-wise Cassandra loop (main_dag.py:313-396). `overwrite` +
    * partitionBy gives restartable, parallel loads; with
    * partitionOverwriteMode=dynamic only touched partitions rewrite. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Bucketed sink: pre-shuffles the table into `buckets` bucket files
    * per key (sorted within each bucket) so every FUTURE join or
    * aggregate on that key reads co-located, pre-sorted data and skips
    * the shuffle entirely — at 100 TB, paying the shuffle once at
    * write time instead of on every query is the difference between
    * an interactive join and a cluster-wide exchange. Bucketing
    * metadata lives in the catalog, hence saveAsTable. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
}
