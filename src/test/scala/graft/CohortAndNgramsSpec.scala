package graft

import org.apache.spark.sql.functions._
import graft.ops.{Cohort, FuzzyJoin, GraphMetrics, Metrics, Ngrams, Outliers, Transitions}

/** Cohort retention, n-gram statistics, Markov transitions, fuzzy
  * blocking, rolling z-score, 2-hop neighborhoods, concentration
  * profiles, lenient CSV (round 3).
  */
class CohortAndNgramsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- cohort

  test("Cohort.retention: first-period cohorts and ages are exact") {
    // key 1 first seen in period 10, active 10/11/13; key 2 only 11; key 3 joins 11, returns 12.
    val df = Seq(
      (1L, 10L), (1L, 11L), (1L, 13L), (1L, 10L), // duplicate activity in one period counts once
      (2L, 11L),
      (3L, 11L), (3L, 12L)
    ).toDF("k", "m")
    val got = Cohort.retention(df, "k", col("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (10L, 0L, 1L), (10L, 1L, 1L), (10L, 3L, 1L),
      (11L, 0L, 2L), (11L, 1L, 1L)))
  }

  // ------------------------------------------------------------- ngrams

  test("Ngrams.bigrams: adjacent pairs; short arrays yield empty") {
    val got = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("x")),
      (3L, Seq.empty[String])
    ).toDF("id", "w").select(col("id"), Ngrams.bigrams(col("w")).as("bg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b", "b c"))
    assert(got(2L).isEmpty && got(3L).isEmpty)
  }

  test("Ngrams.collocations: counts and Dice ppm are exact") {
    // "new york" appears 3x; "new" 4x, "york" 3x → dice = 2e6*3/7 = 857142.
    val docs = Seq(
      "new york is big",
      "i love new york",
      "new york new jersey"
    ).toDF("text")
    val got = Ngrams.collocations(docs, "text", minCount = 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("new york", 3L, 4L, 3L, 2000000L * 3 / 7)))
  }

  test("Ngrams.familiarity: known-bigram ppm against a reference slice") {
    val docs = Seq(
      (1L, "a b c", "en"),     // reference member: all own bigrams known
      (2L, "a b x y", "de"),   // "a b" known; "b x", "x y" not → 1/3
      (3L, "z", "de")          // no bigram → absent from output
    ).toDF("doc_id", "text", "lang")
    val got = Ngrams.familiarity(docs, docs.where(col("lang") === "en"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 2)
    assert(got(1L) == (2L, 2L, 1000000L))
    assert(got(2L) == (3L, 1L, 333333L))
  }

  // -------------------------------------------------------- transitions

  test("Transitions.matrix: per-pair counts and row-normalized ppm") {
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"), // a→b, b→a, a→b
      (2L, 1L, "a"), (2L, 2L, "c")                                // a→c
    ).toDF("k", "seq", "s")
    val got = Transitions.matrix(df, "k", "s", Seq(col("seq")))
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got(("a", "b")) == (2L, 666666L)) // 2 of 3 a-departures
    assert(got(("a", "c")) == (1L, 333333L))
    assert(got(("b", "a")) == (1L, 1000000L))
    assert(got.size == 3)
  }

  // -------------------------------------------------------- fuzzy join

  test("FuzzyJoin.selfPairs: matches within block only, bounded distance") {
    val df = Seq(
      (1L, "small ring"), (2L, "smell ring"),  // same block (ring|s), dist 1
      (3L, "small king"),                      // block king|s — never compared to 1/2
      (4L, "red ring")                         // block ring|r — never compared to 1/2
    ).toDF("id", "name")
    val block = concat_ws("|", split(col("name"), " ")(1), substring(split(col("name"), " ")(0), 1, 1))
    val got = FuzzyJoin.selfPairs(df, "id", "name", block, maxDist = 3)
      .select("a_id", "b_id", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L)))
  }

  test("FuzzyJoin.selfPairs: grid salting returns identical pairs for any bucket count") {
    val rnd = new scala.util.Random(17)
    val words = Seq("ring", "king", "wing", "sing")
    val df = (1L to 120L).map { i =>
      (i, s"${words(rnd.nextInt(4))} ${words(rnd.nextInt(4))}")
    }.toDF("id", "name")
    val block = split(col("name"), " ")(0)
    def run(g: Int) = FuzzyJoin.selfPairs(df, "id", "name", block, maxDist = 2, saltBuckets = g)
      .select("a_id", "b_id", "dist").as[(Long, Long, Long)].collect().toSet
    val base = run(1)
    assert(base.nonEmpty)
    assert(run(3) == base)
    assert(run(8) == base)
  }

  // ----------------------------------------------------- rolling z-score

  test("Outliers.rollingZ: flags a spike against its trailing window, full windows only") {
    // Stable series then one spike. n=4: first 4 rows lack a full window.
    val vals = Seq(10L, 12L, 11L, 10L, 11L, 100L, 11L)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }.toDF("k", "seq", "v")
    val got = Outliers.rollingZ(df, Seq("k"), Seq(col("seq")), "v", n = 4, z = 3)
      .select("seq", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(got.keySet == Set(4L, 5L, 6L)) // rows 0–3 have no full trailing window
    assert(!got(4L))
    assert(got(5L)) // the spike
    // Row 6's window [11,10,11,100] has huge variance → 11 is not anomalous.
    assert(!got(6L))
    // Cross-check row 5 against the closed form: s=sum(12,11,10,11)=44, q=486.
    val x = 100L; val s = 44L; val q = 486L; val n = 4L
    assert((n * x - s) * (n * x - s) > 9 * (n * q - s * s))
  }

  // ------------------------------------------------------- 2-hop reach

  test("GraphMetrics.neighborhoodSize: exact 1- and 2-hop counts on a path and a star") {
    // Path 1-2-3-4 plus star center 10 with leaves 11,12,13.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (10L, 13L))
      .toDF("a_id", "b_id")
    val got = GraphMetrics.neighborhoodSize(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (1L, 2L)) // sees 2; 2-hop adds 3
    assert(got(2L) == (2L, 3L)) // sees 1,3; adds 4
    assert(got(10L) == (3L, 3L))
    assert(got(11L) == (1L, 3L)) // center + the other two leaves
  }

  test("GraphMetrics.neighborhoodSize: maxDegree caps hub fan-out deterministically") {
    // Star center 10 with leaves 11..15; node 1 attached to leaf 11.
    val edges = Seq((10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L), (10L, 15L), (1L, 11L))
      .toDF("a_id", "b_id")
    val exact = GraphMetrics.neighborhoodSize(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Uncapped: leaf 12 reaches center + other 4 leaves = 5 (node 1 is 3 hops away).
    assert(exact(12L) == (1L, 5L))
    // Cap the center's expansion to its 2 smallest neighbors (11, 12):
    // paths THROUGH node 10 now only reach 11 and 12.
    val capped = GraphMetrics.neighborhoodSize(edges, maxDegree = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(capped(12L) == (1L, 2L))  // center + leaf 11 only
    assert(capped(15L) == (1L, 3L))  // center + 11, 12 via the capped hub
    // n_1hop is always exact, even for the hub itself.
    assert(capped(10L)._1 == 5L)
    // Non-hub nodes (degree <= cap) keep exact 2-hop counts through
    // non-hub middles: node 1 -> 11 -> {1's excluded self, 10} = {11, 10}.
    assert(capped(1L) == (1L, 2L))
  }

  test("GraphMetrics.neighborhoodSize: reliable=true matches the localCheckpoint path") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (10L, 13L))
      .toDF("a_id", "b_id")
    val (local, reliable) = bothPostures(GraphMetrics.neighborhoodSize(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap)
    assert(reliable == local)
  }

  test("GraphMetrics.neighborhoodSize: cap never overcounts, and is exact when no degree exceeds it") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a_id", "b_id")
    val exact = GraphMetrics.neighborhoodSize(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val capped = GraphMetrics.neighborhoodSize(edges, maxDegree = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(capped.keySet == exact.keySet)
    capped.foreach { case (id, (n1, n2)) =>
      assert(n1 == exact(id)._1)      // 1-hop always exact
      assert(n2 <= exact(id)._2)      // truncation only ever undercounts
      assert(n2 >= n1)                // 2-hop includes the 1-hop set
    }
    // A cap at least the max degree changes nothing.
    val maxDeg = exact.values.map(_._1).max.toInt
    val wide = GraphMetrics.neighborhoodSize(edges, maxDegree = maxDeg)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wide == exact)
  }

  // ----------------------------------------------------- concentration

  test("Metrics.concentration: uniform vs monoculture HHI") {
    val df = Seq(
      ("en", "s1"), ("en", "s2"), ("en", "s3"), ("en", "s4"), // uniform over 4 → 250000
      ("de", "s1"), ("de", "s1"), ("de", "s1")                // monoculture → 1000000
    ).toDF("lang", "source")
    val got = Metrics.concentration(df, Seq("lang"), "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("en") == (4L, 4L, 250000L))
    assert(got("de") == (1L, 3L, 1000000L))
  }

  // ------------------------------------------------------- lenient CSV

  test("Io.readCsvLenient: malformed rows are quarantined, good rows parse") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toFile
    val f = new java.io.File(dir, "part.csv")
    java.nio.file.Files.writeString(f.toPath,
      "id,n\n1,10\n2,notanumber\n3,30\n")
    val schema = StructType(Seq(StructField("id", LongType), StructField("n", LongType)))
    val df = graft.io.Io.readCsvLenient(spark, f.getPath, schema).cache()
    try {
      val good = graft.io.Io.goodRecords(df).as[(Long, Long)].collect().toSet
      val bad = graft.io.Io.corruptRecords(df).select("_corrupt_record").as[String].collect()
      assert(good == Set((1L, 10L), (3L, 30L)))
      assert(bad.toSeq == Seq("2,notanumber"))
    } finally { df.unpersist(); f.delete(); dir.delete() }
  }
  test("lmFluencyPpm: identical docs score identically; fluent beats unseen-heavy; empties are 0") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // "a b" repeats corpus-wide (survives minCount), the rare pair never does
    val docs = Seq(
      (0L, "a b a b a b"), (1L, "a b a b a b"),
      (2L, "zz qq"), // only unseen-after-prune bigrams
      (3L, "a b zz qq"), // mixed
      (4L, ""), (5L, "solo")
    ).toDF("doc_id", "text")
    val got = graft.ops.Ngrams.lmFluencyPpm(docs, minCount = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(0L) == byId(1L).copy(_1 = 0L), "identical docs must score identically")
    assert(byId(0L)._2 == 5 && byId(0L)._3 > 0)
    assert(byId(2L)._3 == 0, "all-unseen docs score zero")
    assert(byId(3L)._3 > 0 && byId(3L)._3 < byId(0L)._3,
      "mixed doc scores strictly between all-unseen and fluent")
    assert(byId(4L) == ((4L, 0L, 0L)) && byId(5L) == ((5L, 0L, 0L)),
      "zero/one-word docs have no bigrams and score 0")
  }

  test("lmFluencyPpmBy: each group scores exactly as its own standalone corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two 'languages' sharing surface bigrams — the grouped tables must
    // NOT mix: "a b" is common in en, rare in xx
    val docs = Seq(
      (0L, "a b a b a b c", "en"), (1L, "a b a b d", "en"), (2L, "c d c d", "en"),
      (3L, "a b zz", "xx"), (4L, "zz qq zz qq zz qq", "xx"), (5L, "", "xx")
    ).toDF("doc_id", "text", "lang")
    val grouped = graft.ops.Ngrams.lmFluencyPpmBy(docs, "lang", minCount = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(grouped.length == 6)
    for (lang <- Seq("en", "xx")) {
      val standalone = graft.ops.Ngrams.lmFluencyPpm(
        docs.where(col("lang") === lang).select(col("doc_id"), col("text")),
        minCount = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val fromGrouped = grouped.filter(_._2 == lang).map(t => (t._1, t._3, t._4))
      assert(standalone.toSeq == fromGrouped.toSeq,
        s"group $lang must equal its standalone corpus run")
    }
  }

}
