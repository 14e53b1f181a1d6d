package graft

/** Fail fast on documentation drift against the driver contract — the
  * README query count and coverage-table tail went stale for two rounds
  * before anything noticed. These invariants are cheap and structural:
  * they don't require every query id to be spelled out in prose, just
  * that the declared totals and the newest entry track `SparkEntry`.
  */
class DocsDriftSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private val ids: Set[Int] =
    SparkEntry.queries.keySet.map(k => k.drop(1).takeWhile(_.isDigit).toInt)

  test("catalog declares each query name once") {
    // queries and oracleSql are both derived from the one catalog list;
    // a name in two catalog files would make `toMap` keep just one case
    val names = SparkEntry.catalog.map(_.name)
    val twice = names.diff(names.distinct).distinct.sorted
    assert(twice.isEmpty, s"query names declared twice: $twice")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    val dup = SparkEntry.catalog :+ SparkEntry.catalog.head
    val e = intercept[IllegalArgumentException](graft.catalog.QueryCase.byName(dup)(_.name))
    assert(e.getMessage.contains(dup.head.name))
  }

  test("query ids are unique and contiguous from 1") {
    assert(ids.size == SparkEntry.queries.size, "duplicate numeric query ids")
    assert(ids == (1 to ids.size).toSet,
      s"ids not contiguous 1..${ids.size}: missing ${((1 to ids.max).toSet -- ids).toSeq.sorted}")
  }

  test("README declares the actual query count and its table reaches the newest query") {
    val readme = read("README.md")
    val n = SparkEntry.queries.size
    assert(readme.contains(s"$n queries"),
      s"README should state '$n queries' (driver contract size)")
    assert(readme.contains(s"q${ids.max}"),
      s"README coverage table should mention the newest query q${ids.max}")
  }

  test("SURVEY §2.9 table reaches the newest query") {
    val survey = read("SURVEY.md")
    assert(survey.contains(s"q${ids.max}"),
      s"SURVEY should mention the newest query q${ids.max}")
  }

  test("docs/ops.md is exactly what DocsGen generates from the query maps") {
    // The index is generated, never hand-edited: regenerate and diff.
    // After adding/renaming a query, run `sbt 'runMain graft.DocsGen'`.
    assert(read("docs/ops.md") == DocsGen.render(),
      "docs/ops.md is stale — regenerate with: sbt 'runMain graft.DocsGen'")
  }

  test("bench adjudications name real queries and stay in sync with the bench artifact") {
    // Stale adjudications rot loudly: every query id cited in README's
    // "Bench reading notes" must be a live query with an entry in
    // docs/bench-notes.md — the one place per-query timing caveats are
    // versioned with the code — and every entry must name a live query.
    val readme = read("README.md")
    val section = readme.split("## Bench reading notes")(1).split("\n## ")(0)
    val cited = "q\\d+_\\w+".r.findAllIn(section).toSet
    assert(cited.nonEmpty, "Bench reading notes cite no queries — section moved?")
    val live = SparkEntry.queries.keySet
    assert(cited.subsetOf(live),
      s"README bench notes cite dead queries: ${(cited -- live).toSeq.sorted}")
    val noted = "(?m)^## (q\\d+_\\w+)$".r
      .findAllMatchIn(read("docs/bench-notes.md")).map(_.group(1)).toSet
    assert(noted.subsetOf(live),
      s"docs/bench-notes.md has entries for dead queries: ${(noted -- live).toSeq.sorted}")
    assert(cited.subsetOf(noted),
      s"README adjudicates queries docs/bench-notes.md does not: ${(cited -- noted).toSeq.sorted}")
  }
}
