package graft

/** Generator for `docs/ops.md` — the navigable index of every driver-query
  * operator (dev tooling, not part of the library surface). The README's
  * operator table stopped scaling past 300 rows; this index is DERIVED
  * from [[SparkEntry.oracleSql]], whose keys are the catalogue's query
  * names, so it can never drift from the real surface: `DocsDriftSpec`
  * regenerates it and fails when the committed file differs.
  *
  * Usage: `sbt 'runMain graft.DocsGen'` rewrites docs/ops.md in place.
  */
object DocsGen {

  private val KnownTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables a query's oracle reads — a word-boundary scan of the oracle
    * SQL against the fixed testdata catalog. Heuristic by design (it is
    * navigation metadata, not a contract), but word-boundaries keep
    * `part` from matching `l_partkey`.
    */
  private def tablesOf(sql: String): Seq[String] = {
    val lower = sql.toLowerCase
    KnownTables.filter(t => s"(?<![a-z0-9_])${t}(?![a-z0-9_])".r.findFirstIn(lower).isDefined)
  }

  /** Human label from the query key: `q130_prefix_jaccard` → `prefix
    * jaccard`, ordered by query number.
    */
  private def split(name: String): (Int, String) = {
    val m = "^q(\\d+)_(.*)$".r.findFirstMatchIn(name)
      .getOrElse(sys.error(s"query key not in qN_label form: $name"))
    (m.group(1).toInt, m.group(2).replace('_', ' '))
  }

  def render(): String = {
    val oracles = SparkEntry.oracleSql
    val names = oracles.keys.toSeq.sortBy(n => split(n)._1)
    val rows = names.map { n =>
      s"| `$n` | ${split(n)._2} | ${tablesOf(oracles(n)).mkString(", ")} |"
    }
    // rows are appended AFTER stripMargin — their leading table pipes
    // would otherwise be eaten as margin characters
    s"""# Operator query index
       |
       |GENERATED by `sbt 'runMain graft.DocsGen'` from `SparkEntry.queries`
       |and `SparkEntry.oracleSql` — do not edit by hand (`DocsDriftSpec`
       |regenerates and diffs this file). Each row is one driver-verified
       |query, whose rows, schema and value hash the DuckDB oracle checks;
       |*tables* lists the testdata tables the oracle reads (navigation
       |metadata derived from the SQL). Implementations
       |live in `src/main/scala/graft/ops/` — grep the query key in
       |`src/main/scala/graft/catalog/` for the exact operator call, its
       |scaladoc and its oracle.
       |
       |${names.size} queries, ${names.size} hash-oracled.
       |
       |""".stripMargin +
      "| query | operator | tables |\n|---|---|---|\n" +
      rows.mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val path = java.nio.file.Paths.get(sys.props("user.dir"), "docs", "ops.md")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, render())
    println(s"wrote $path")
  }
}
