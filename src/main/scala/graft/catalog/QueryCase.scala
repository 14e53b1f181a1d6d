package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-catalogue query: its `qN_label` `name`, the `build` that
  * returns its frame for a testdata directory, and the DuckDB
  * `oracleSql` that checks the frame on the same parquet tables.
  *
  * The SQL is built only when asked for. Some oracle strings do work
  * when built (the PSL snapshot read, the pinned BPE merge fold), and
  * building [[graft.SparkEntry.queries]] must not pay for them.
  *
  * Oracle-parity rules used throughout:
  *  - aggregate money/ratios in exact integer units (cents,
  *    milliseconds): cross-engine float summation order can differ,
  *    integer sums cannot;
  *  - alias every computed column identically in Spark and SQL;
  *  - only use primitives with identical semantics in both engines
  *    (length/replace/md5/regexp/row_number/epoch-ms);
  *  - wrap every integer sum in `CAST(sum(..) AS BIGINT)`: DuckDB's
  *    `sum(BIGINT)` is a HUGEINT, which pandas renders as float64, and
  *    the driver's dtype-sensitive hash then differs from Spark's int64
  *    even when every value is equal.
  */
final class QueryCase(
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    sql: => String) {
  def oracleSql: String = sql
}

object QueryCase {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracleSql: => String): QueryCase = new QueryCase(name, build, oracleSql)

  /** `f` of every case keyed by name. A name declared twice throws: a
    * `Map` would silently keep one of the two cases.
    */
  def byName[T](cases: Seq[QueryCase])(f: QueryCase => T): Map[String, T] = {
    val twice = cases.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(twice.isEmpty, s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    cases.map(c => c.name -> f(c)).toMap
  }
}
