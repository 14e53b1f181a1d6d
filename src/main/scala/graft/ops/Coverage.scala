package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy MAX-COVERAGE subset selection — the diverse-subset curation
  * primitive: pick k documents that together cover as much of the
  * vocabulary (or any exploded feature set) as possible. The greedy
  * rule (always take the document adding the most uncovered features,
  * ties to the smallest id) carries Nemhauser–Wolsey–Fisher's (1−1/e)
  * optimality guarantee for submodular coverage — the principled core
  * of "pick a small, maximally-informative eval/annotation set".
  */
object Coverage {

  /** k greedy picks over an (id, feature) pair table — vocabulary
    * words, bigrams, shingle hashes, covered entities: whatever the
    * caller explodes. Returns one row per pick:
    * `(pick, doc_id, gain, covered_total)` — the round, the chosen doc,
    * how many NEW features it contributed, and the running covered-set
    * size. Stops early (fewer rows) once everything coverable is
    * covered. Deterministic: gain desc, id asc.
    *
    * Scale shape per round: the pair table itself is SHRUNK after every
    * pick (winner's tokens anti-joined out — a one-doc feature set, so
    * the anti-join broadcasts), which removes covered tokens AND any
    * doc that became fully covered; the argmax is then a plain
    * map-side-combined count + distributed top-1
    * (`TakeOrderedAndProject`) over a monotonically-decreasing frame —
    * no growing covered set is ever rescanned (the [[Matching]]
    * semi-join-shrink discipline). The ONLY driver fetch is the single
    * winning row per round (k rows total — the sequential dependence is
    * inherent to greedy submodular selection; k is a curation budget,
    * never data-sized).
    */
  def greedyMaxCoverage(
      pairs: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      featureCol: String = "token",
      reliable: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000]: $k")
    val fx = new Fixpoint("greedyMaxCoverage", reliable)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    fx.loop(fx.stage(pairs
      .select(col(idCol).cast("long").as("id"),
        col(featureCol).cast("string").as("token"))
      .distinct()), k, Fixpoint.Truncate) { (toks, round) =>
      // toks holds only UNCOVERED (id, token) pairs, so each doc's
      // remaining gain is a plain count. ONE row to the driver: the
      // argmax doc of this round.
      val win = toks
        .groupBy(col("id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id").asc)
        .limit(1).collect()
      if (win.isEmpty) (toks, false)
      else {
        val id = win(0).getLong(0)
        val gain = win(0).getLong(1)
        picks += ((round.toLong, id, gain, picks.lastOption.fold(0L)(_._4) + gain))
        // shrink instead of accumulate: anti-join the winner's token set
        // (one doc's features — broadcast side) out of the pair table.
        // Covered tokens leave every doc's rows at once, fully-covered
        // docs vanish with them, and round cost decreases monotonically.
        // Skipped after the final pick — nothing reads the result.
        if (round == k) (toks, true)
        else {
          val won = toks.where(col("id") === id).select(col("token"))
          (fx.stage(toks.join(broadcast(won), Seq("token"), "left_anti")), true)
        }
      }
    }
    fx.finish(pairs.sparkSession.createDataFrame(picks.toSeq)
      .toDF("pick", "doc_id", "gain", "covered_total"), eager = true)
  }
}
