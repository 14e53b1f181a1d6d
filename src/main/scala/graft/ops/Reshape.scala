package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Wide↔long reshaping. The wide→long direction ("melt") is the inverse
  * of the catalogue's pivot query (q38 in
  * [[graft.catalog.TabularCatalog]]): k measure columns become k rows of
  * (variable, value) — the shape chart/ML-feature pipelines
  * want, and the first step of any "audit every metric column the same
  * way" job (e.g. feeding [[Audit.constraints]]-style checks
  * generically).
  *
  * Implementation is Spark's native `unpivot` (the `Expand` operator):
  * map-only, zero shuffle, k output rows per input row generated inside
  * codegen — NOT a union of k scans, which would read the source k
  * times.
  */
object Reshape {

  /** Melt `valueCols` (must share one common type) into
    * (`varName`, `valName`) long form, carrying `idCols` through.
    */
  def melt(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      varName: String = "variable",
      valName: String = "value"): DataFrame = {
    require(idCols.nonEmpty, "idCols must be non-empty")
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, varName, valName)
  }
}
