package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY §2.1 S1/S2, §2.2 K1).
  *
  * The reference reads whole JSON array files (`json.load`,
  * `src/data_processor.py:44-48`) locally or via a curl-from-S3 hack
  * (`:56-88`); both collapse to `spark.read.json` — the S3A filesystem
  * replaces the curl path entirely, so `local_file` and `s3` inputs differ
  * only in the URI scheme.
  */
object Io {

  /** `{hour}` path templating (reference `src/data_processor.py:37,46,51`) —
    * plan-time string interpolation, and the reference's only (manual) form
    * of partition pruning.
    */
  def templated(path: String, hour: String): String = path.replace("{hour}", hour)

  /** Multi-line JSON array scan with an explicit schema (S1). An explicit
    * schema avoids the extra inference pass and keeps missing optional
    * fields as typed nulls.
    */
  def readJsonArray(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", value = true).json(path)

  /** JSON sink (K1). `json.dump` of one array per hour becomes a JSON-lines
    * directory; `coalesce(1)` only for small per-hour outputs where a single
    * file mirrors the reference layout — never for large data.
    */
  def writeJson(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }

  /** Lenient JSON-lines scan for large-scale ingestion: malformed rows
    * survive as a populated `_corrupt_record` column (PERMISSIVE mode)
    * instead of failing the job — at 100 TB a handful of truncated or
    * mangled lines is a certainty, not an error. Split the result with
    * [[goodRecords]] / [[corruptRecords]] and alert on the corrupt count.
    */
  def readJsonLenient(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Well-formed rows of a [[readJsonLenient]] frame, corrupt column dropped. */
  def goodRecords(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.where(col("_corrupt_record").isNull).drop("_corrupt_record")
  }

  /** Quarantine view: the raw text of every malformed row (for a dead-
    * letter sink / data-quality metrics). Spark disallows filtering a raw
    * JSON scan on the internal corrupt column alone
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    * documented workaround is to cache the parsed frame first — which the
    * good/quarantine split wants anyway (one parse, two consumers).
    *
    * OWNERSHIP: persists `df` if the caller has not already; the CALLER
    * owns `df.unpersist()` once both views are materialized — a per-batch
    * ingestion loop that never unpersists accumulates one pinned parse
    * per batch.
    */
  def corruptRecords(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.where(col("_corrupt_record").isNotNull)
  }

  /** Lenient CSV scan — the delimited-text twin of [[readJsonLenient]]:
    * malformed lines land in `_corrupt_record` (PERMISSIVE) instead of
    * failing the scan; split with the same [[goodRecords]] /
    * [[corruptRecords]] pair. An explicit schema is required — at
    * ingestion scale an inference pass is a full extra read of the
    * corpus, and inferred types drift run-to-run with the data.
    */
  def readCsvLenient(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(path)

  /** Small-file compaction: rewrite a parquet dataset into files of
    * roughly `targetBytes` each. Long-running hourly pipelines accrete
    * thousands of small files (one per trigger per partition), and scan
    * throughput dies on per-file open overhead; periodic compaction is
    * standard operational hygiene. The output file count derives from the
    * dataset's actual on-disk size via the Hadoop FS — no row counting,
    * no collect. Writes to a separate directory: atomic swap semantics
    * belong to the table format / orchestrator, not this library.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String, targetBytes: Long = 128L << 20): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(nFiles).write.mode("overwrite").parquet(outDir)
  }

  /** Hour-partitioned parquet layout — the at-scale replacement for the
    * reference's `{hour}`-in-filename convention: `hour` becomes a
    * directory partition column, so an hour-filtered read is pruned at
    * plan time to one directory (`PartitionFilters` in the scan) instead
    * of listing/reading the whole corpus.
    */
  def writeHourPartitioned(df: DataFrame, path: String, hourCol: String = "hour"): Unit =
    df.write.mode("overwrite").partitionBy(hourCol).parquet(path)

  /** Read one hour from an hour-partitioned layout (partition-pruned). */
  def readHour(spark: SparkSession, path: String, hour: String, hourCol: String = "hour"): DataFrame =
    spark.read.parquet(path).where(org.apache.spark.sql.functions.col(hourCol) === hour)
}
