package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{CrawlCatalog, GraphCatalog, MediaCatalog, QueryCase, TabularCatalog, TextCatalog, VectorCatalog}
import graft.ops.Sessionize

/** Driver contract: the flagship [[entry]] query and the catalogue of
  * operator queries, each with the DuckDB oracle that checks it. The
  * queries live as [[graft.catalog.QueryCase]] records in one catalog
  * file per domain (`src/main/scala/graft/catalog/`); [[queries]] and
  * [[oracleSql]] are derived from that one list.
  */
object SparkEntry {

  /** The `local[cpus]` session of the command-line mains (Bench, Verify,
    * PlanDump, ScaleSmoke): `cpus` task threads and shuffle partitions,
    * read from `SPARK_GRAFT_CPUS` (else `defaultCpus`), AQE on, UTC, no
    * UI, WARN logging, and `extra` confs on top.
    */
  private[graft] def localSession(defaultCpus: String, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** q213's synthetic point cloud — hash-scattered coordinates from the
    * customer key. ONE definition shared by the oracled query
    * (`bandOffset = 0`) and `ScaleSmoke`'s replica-banded sf1 variant
    * (offset = replica band × a disjoint stride), so the smoke provably
    * times the same projection the driver verifies; a constant change
    * here changes both in lockstep.
    */
  private[graft] def gridRadiusPoints(customer: DataFrame, bandOffset: Column): DataFrame = {
    val k = col("c_custkey").cast("long")
    customer.select(
      k.as("id"),
      (((k * k * 7919L + k * 104729L) % 100003L) + bandOffset).as("x"),
      ((k * k * 6983L + k * 92821L) % 99991L).as("y"))
  }

  /** Read a testdata table. `events.ts` has shipped as TIMESTAMP(NANOS)
    * parquet in some generations (which Spark rejects by default — read
    * nanos as long, floor to µs) and as timestamp[us] in others (loads as
    * TIMESTAMP_NTZ — cast to session-TZ TimestampType; the session runs
    * UTC, so the cast is an identity on the stored micros). Dispatching on
    * the loaded type makes both generations land on the same µs-precision
    * TimestampType that DuckDB (µs-native) sees, so ordering and epoch-ms
    * math agree across engines either way.
    */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampType}
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case _ => df.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else df
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's TLB metrics shape (SURVEY §3 EP3) transposed onto the
    * synthetic event stream: per-user session time (view→purchase pairing,
    * reference A2 semantics) + conditional error counts + zero-fill.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val events = t(spark, dir, "events")
    val sessions = Sessionize.pairedDurations(
      events, "user_id", unix_millis(col("ts")),
      Seq(col("ts"), col("event_id")), "event_type", "view", "purchase")
      .groupBy("user_id").agg(sum("duration").as("session_ms"))
    val counts = events.groupBy("user_id").agg(
      count_if(col("event_type") === "error").as("error_count"),
      count_if(col("event_type") === "click").as("click_count"))
    events.select("user_id").distinct()
      .join(sessions, Seq("user_id"), "left")
      .join(counts, Seq("user_id"), "left")
      .na.fill(0L)
  }

  /** Every catalogue query with its oracle, one record each. */
  private[graft] lazy val catalog: Seq[QueryCase] =
    TabularCatalog.cases ++ TextCatalog.cases ++ VectorCatalog.cases ++
      GraphCatalog.cases ++ CrawlCatalog.cases ++ MediaCatalog.cases

  /** One per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCase.byName(catalog)(_.build)

  /** For each key in [[queries]], equivalent SQL runnable by DuckDB on the
    * same parquet tables.
    */
  def oracleSql: Map[String, String] = QueryCase.byName(catalog)(_.oracleSql)
}
