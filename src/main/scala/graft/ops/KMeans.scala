package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Lloyd k-means over embedding columns, run on the integer lattice: the
  * embedding-space clustering primitive behind corpus diversification
  * (cluster-balanced sampling), IVF codebook training
  * ([[Similarity.ivfTopK]] consumes exactly this output shape), and
  * duplicate-family discovery.
  *
  * Why integer: vectors are first int8-quantized ([[VectorFunctions
  * .quantizeInt8]] — the q52 at-rest representation) and shifted to
  * [0, 254], so every distance, comparison and centroid mean is EXACT
  * integer arithmetic — no float summation order anywhere, which makes
  * the whole multi-round fixpoint portable across engines and
  * partitionings (same trick as the fixed-point [[PageRank]]). The float
  * path for final re-ranking stays in [[Similarity]].
  *
  * Scale shape per round:
  *  - assignment is MAP-ONLY: the k×dim codebook is collected (bounded:
  *    k·dim longs, the same documented trade as the IVF codebook) and
  *    broadcast; each point scans it in one codegen'd integer loop
  *    ([[graft.functions.expressions.NearestLatticeCentroid]]) — no
  *    shuffle, nothing point-sized ever moves;
  *  - the centroid update shuffles (cid, dim, partial sum) — map-side
  *    partial aggregation bounds it at partitions × k × dim rows,
  *    independent of point count;
  *  - empty clusters keep their previous centroid (coalesce via left
  *    join), so k is stable across rounds.
  * This is the same per-round cost model as MLlib's KMeans, expressed as
  * pure DataFrame lineage.
  */
object KMeans {

  /** (centroids, assignments) after `iterations` Lloyd rounds.
    *
    * Centroids: `(cid, cvec)` with `cid` ∈ [0, k). Assignments:
    * `(id, cid, dist)` — nearest final centroid and its squared integer
    * distance. Init is deterministic: the k lowest-id points seed
    * centroids 0..k−1 in id order; ties in assignment break to the
    * smallest cid. Every output is therefore a pure function of the
    * input — no RNG, no partitioning sensitivity.
    */
  def fit(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iterations >= 0, "k and iterations must be positive")
    val fx = new Fixpoint("KMeans")
    // Quantize to the non-negative lattice [0, 254] (shift keeps integer
    // division = floor division in every engine). Staged ([[Staging
    // .stage]]): q feeds every round — unstaged, the source would rescan
    // iterations+1 times.
    val q = fx.stage(points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
      .withColumn("__m", VectorFunctions.maxAbs(col("__v")))
      .select(col("id"),
        transform(VectorFunctions.quantizeInt8(col("__v"), col("__m")), x => x + 127L).as("qv")))

    // Deterministic seed: k lowest ids, cid assigned in id order. The
    // window runs over k rows (post-limit), not the input.
    val seed = q.orderBy(col("id")).limit(k)
    val centroids0 = fx.stage(seed
      .withColumn("cid",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("id")))
          .cast("long") - 1L)
      .select(col("cid"), col("qv").as("cvec")))

    // Map-only nearest-centroid scan against a broadcast codebook via a
    // codegen'd integer loop ([[graft.functions.expressions
    // .NearestLatticeCentroid]]); ties break to the smallest cid because
    // the codebook is cid-sorted and the comparison is strict. The
    // per-round centroid collect is k×dim longs — the same documented
    // bounded-broadcast trade as the IVF codebook ([[Similarity.ivfTopK]]);
    // the POINTS never leave the executors.
    def codebook(c: DataFrame): Array[Row] = c.orderBy("cid").collect()
    def assign(rows: Array[Row]): DataFrame = {
      val cb = graft.functions.expressions.LatticeCodebook(
        rows.map(_.getLong(0)),
        rows.map(_.getSeq[Long](1).toArray))
      val bcast = q.sparkSession.sparkContext.broadcast(cb)
      q.withColumn("best", VectorFunctions.nearestLatticeCentroid(col("qv"), bcast))
        .select(col("id"), col("qv"), col("best")(0).as("cid"), col("best")(1).as("dist"))
    }

    val (centroids, _) = fx.loop(centroids0, iterations, Fixpoint.Truncate) { (centroids, _) =>
      // Long-form integer mean per (cid, dim): the shuffle after partial
      // aggregation is k × dim rows per map partition. Non-negative
      // lattice ⇒ `div` truncation ≡ floor division.
      val means = assign(codebook(centroids))
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy(col("cid"), col("dim"))
        .agg(expr("sum(v) div count(1)").as("v"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("v")))),
          s => s.getField("v")).as("cvec_new"))
      (fx.stage(centroids
        .join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cvec_new"), col("cvec")).as("cvec"))), true)
    }
    // the final codebook is on the driver already: the centroids are
    // returned from it
    val last = codebook(centroids)
    (q.sparkSession.createDataFrame(java.util.Arrays.asList(last: _*), centroids.schema),
      assign(last).drop("qv"))
  }

  /** Per-cluster summary after `iterations` rounds: size, total squared
    * distance (inertia) and centroid coordinate sum — k rows of exact
    * integers, the cross-engine-checkable fingerprint of the whole
    * clustering.
    */
  def clusterStats(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): DataFrame = {
    val (centroids, assigned) = fit(points, idCol, vecCol, k, iterations)
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"))
      .join(centroids.select(col("cid"),
        aggregate(col("cvec"), lit(0L), _ + _).as("c_sum")), Seq("cid"))
  }
}
