package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.functions.expressions.CentroidCodebook

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json north star: similarity search).
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
  *    one codegen'd cosine per (row, query), per-query top-k via window.
  *    Linear in corpus size, no corpus shuffle: the 100 TB-scan shape.
  *  - [[lshTopK]]: scale path — corpus pre-bucketed by random-hyperplane
  *    LSH; queries probe only their own bucket, turning the scan into a
  *    bucket-equi-join. Recall < 1, cost ~ corpus/2^bits per query.
  *  - [[ivfTopK]]: IVF variant — corpus assigned to the nearest of k
  *    centroid rows (a broadcast list), queries probe `nProbe` nearest
  *    centroids' partitions.
  */
object Similarity {

  /** Project to (renamed id, unit-normalized vector). The norm is staged in
    * its own projection so it computes once per row; the follow-up select
    * is not collapsed into it because the (expensive) norm attribute is
    * referenced more than once.
    */
  private[ops] def unitized(df: DataFrame, idCol: String, outId: String, vecCol: String, outVec: String): DataFrame =
    df.select(col(idCol).as(outId), col(vecCol).as("__v"), VectorFunctions.norm(col(vecCol)).as("__n"))
      .select(col(outId), VectorFunctions.unitizeWith(col("__v"), col("__n")).as(outVec))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (id, vec) rows — arbitrarily large
    * @param queries (query_id, vec) rows — small enough to broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    // No Spread here (r18, reverting an r17 addition the driver measured at
    // 0.58x): the per-row work is #queries codegen'd dot products — light
    // enough that the round-robin exchange (plus the .rdd partition probe)
    // costs more than the unlocked parallelism recovers on single-split
    // local inputs, and on real multi-split inputs the Spread is a no-op by
    // design, so it can never pay for itself on this path.
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .crossJoin(broadcast(queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("q_vec"))))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("c_vec"), col("q_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive/embedding training: per query,
    * the `k` most cosine-similar corpus vectors with a DIFFERENT label —
    * the near-misses that carry the gradient signal (random negatives are
    * trivially separable; in-label neighbors are positives, not
    * negatives). Exact top-k over the label-filtered corpus.
    *
    * Scale shape: queries (with their labels) broadcast against one
    * linear corpus scan — the label filter runs BEFORE any scoring, so
    * same-label rows cost one comparison, not a dot product. Same cost
    * model as [[bruteForceTopK]]; for billion-row corpora substitute the
    * LSH/IVF candidate stage and apply the same label filter to its
    * candidates.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      queryIdCol: String = "query_id"): DataFrame = {
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("n_label"))
      .crossJoin(broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(vecCol).as("q_vec"), col(labelCol).as("q_label"))))
      .where(!(col("n_label") <=> col("q_label")))
      .select(col("query_id"), col("neighbor_id"), col("n_label"),
        VectorFunctions.cosine(col("c_vec"), col("q_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("n_label"), col("rank"))
  }

  /** LSH-bucketed ANN with banded OR-amplification: each vector lands in
    * one bucket per band; queries probe the union of their band-buckets.
    * More bands → higher recall, more candidates scored.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nBits: Int = 8,
      bands: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      probeHamming: Int = 0): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1, s"probeHamming must be 0 or 1: $probeHamming")
    // Unit-normalize before bucketing (signs of hyperplane projections are
    // scale-invariant, so buckets are unchanged) → pair scoring is one dot.
    def bucketize(df: DataFrame, id: String, outId: String, vec: String, outVec: String): DataFrame =
      unitized(df, id, outId, vec, outVec).select(
        col(outId), col(outVec),
        posexplode(array((0 until bands).map(bd =>
          VectorFunctions.simhashBucket(col(outVec), nBits, seed = bd)): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    val bucketedCorpus = bucketize(corpus, idCol, "neighbor_id", vecCol, "c_vec")
    val probed = bucketize(queries, queryIdCol, "query_id", vecCol, "q_vec")
    // Multi-probe (the standard recall lever that does NOT grow the
    // corpus-side index): each query ALSO probes the nBits buckets one
    // bit-flip away in every band — a vector that lands just across one
    // hyperplane is found without adding bands or re-bucketing the
    // corpus. Query-side fan-out only: queries are broadcast-sized, so
    // (1 + nBits)× more probe rows is noise next to the corpus scan.
    val bucketedQueries =
      if (probeHamming == 0) probed
      else probed.select(col("query_id"), col("q_vec"), col("band"),
        explode(array(col("bucket") +:
          (0 until nBits).map(b => col("bucket").bitwiseXOR(lit(1 << b))): _*)).as("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    bucketedCorpus.join(broadcast(bucketedQueries), Seq("band", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.dot(col("c_vec"), col("q_vec")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Recall@k of an ANN result against an exact baseline: per query,
    * `n_hits` = |ANN top-k ∩ exact top-k| and `recall_ppm` — the eval
    * harness every approximate index ships with. Queries the ANN result
    * missed entirely report 0, not absence.
    *
    * Scale shape: both inputs are (query × k)-sized — a broadcast-scale
    * inner join on (query_id, neighbor_id) plus one count aggregation;
    * nothing here touches the corpus.
    */
  def recallAt(
      ann: DataFrame,
      exact: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      neighborIdCol: String = "neighbor_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val a = ann.select(col(queryIdCol).as("query_id"), col(neighborIdCol).as("n_id"))
    val e = exact.select(col(queryIdCol).as("query_id"), col(neighborIdCol).as("n_id"))
    val hits = a.join(e, Seq("query_id", "n_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    e.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        floor(lit(1000000L) * coalesce(col("n_hits"), lit(0L)) / k).as("recall_ppm"))
  }

  /** IVF ANN: assign corpus rows to their nearest centroid, probe the
    * `nProbe` nearest centroids per query. Centroids are any representative
    * sample (e.g. `corpus.limit(nCentroids)` or k-means out of band);
    * correctness degrades gracefully with centroid quality.
    *
    * The centroid table is small by construction (that is the point of
    * IVF): it is collected, unit-normalized, and shipped as a **broadcast
    * codebook** referenced from native expressions — centroid assignment
    * is a map-only codegen'd projection over the corpus (no crossJoin, no
    * per-row window, no corpus shuffle), and the PLAN stays a few bytes
    * however many centroids there are (a `typedLit` codebook would inline
    * every vector into the plan and the codegen constant pool). At 100 TB
    * the corpus is touched exactly once before the (broadcast) probe join;
    * the only shuffle is the final per-query top-k over candidates.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      k: Int = 10,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    // Collect + unit-normalize centroids driver-side, sorted by id so
    // argmax ties resolve to the smallest centroid id, then broadcast once.
    val centRows = centroids.select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(centRows.nonEmpty, "ivfTopK needs at least one centroid")
    val codebook = corpus.sparkSession.sparkContext.broadcast(CentroidCodebook(
      centRows.map(_._1),
      centRows.map { case (_, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        (if (n > 0) v.map(_ / n) else v.map(_ => 0.0)).toArray
      }))

    // Corpus: nearest centroid id, one codegen'd loop per row.
    val assignedCorpus = unitized(corpus, idCol, "neighbor_id", vecCol, "c_vec")
      .withColumn("c_id", VectorFunctions.nearestCentroidId(col("c_vec"), codebook))
    // Queries: top-nProbe centroid ids (dot desc, id asc), then fan out.
    val assignedQueries = unitized(queries, queryIdCol, "query_id", vecCol, "q_vec")
      .withColumn("c_id", explode(VectorFunctions.topCentroidIds(col("q_vec"), codebook, nProbe)))
    // Each corpus row has exactly one centroid and each query probes
    // distinct centroids, so (query_id, neighbor_id) pairs are unique — no
    // dedup needed before ranking.
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    assignedCorpus.join(broadcast(assignedQueries), Seq("c_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.dot(col("c_vec"), col("q_vec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** SemDeDup-style blocked semantic dedup: within each block, a vector is
    * DROPPED when some smaller-id vector in the same block has cosine
    * similarity ≥ tauNum/tauDen with it (greedy min-id representative —
    * deterministic, no iteration). Blocks bound the pair space: use a
    * cluster assignment ([[ivfTopK]]'s codebook, [[graft.ops.KMeans]]) or
    * any partition key as `blockCol`; pairs never form across blocks.
    *
    * Exactness across engines: embeddings are quantized to integers
    * (round(x·scale)) and the threshold test runs in ALL-INTEGER
    * arithmetic — cos(a,b) ≥ τ ⟺ dot > 0 ∧ dot²·tauDen² ≥ tauNum²·‖a‖²·‖b‖²
    * — so there is no float boundary to disagree on. Overflow headroom
    * (unit vectors, scale 1024, dim ≤ 512, tauDen ≤ 10): dot² ≤ 2⁵⁵/dim
    * · tauDen² stays under 2⁶³.
    *
    * Scale shape: quantization and norms are map-side; the only shuffle
    * is the block self-join (bounded groups) plus the narrow dropped-id
    * distinct; the pairwise kernel is the codegen'd integer dot.
    */
  /** Per-block integer centroid of quantized embeddings, one row per
    * (block, dim): member count, exact coordinate sum, floor-mean — the
    * cluster-QA / codebook-refresh primitive (feed blocks from a cluster
    * assignment or any partition key).
    *
    * Scale shape: posexplode fans each vector into `dim` integer rows,
    * but the hash aggregation is PARTIAL — every task combines down to
    * ≤ blocks·dim rows before the exchange, so the shuffle is bounded by
    * partitions·blocks·dim regardless of corpus size (the same cost
    * model as [[graft.ops.KMeans]]'s update step).
    */
  def blockCentroids(
      emb: DataFrame,
      blockCol: String = "label",
      scale: Int = 1024,
      vecCol: String = "embedding"): DataFrame = {
    val q = transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
    emb.select(col(blockCol), posexplode(q))
      .select(col(blockCol), (col("pos") + 1).as("dim"), col("col").as("__v"))
      .groupBy(col(blockCol), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__v")).as("sum_q"),
        floor(sum(col("__v")) / count(lit(1))).as("centroid"))
  }

  def semanticDedup(
      emb: DataFrame,
      blockCol: String = "label",
      tauNum: Int = 9,
      tauDen: Int = 10,
      scale: Int = 1024,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(tauDen > 0 && tauNum >= 0 && tauNum <= tauDen, "need 0 <= tauNum/tauDen <= 1")
    val q = transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
    val base = emb
      .select(col(idCol), col(blockCol), q.as("__q"))
      .withColumn("__n2", VectorFunctions.intDot(col("__q"), col("__q")))
    // Identical child plans on both sides (rename via alias AFTER the
    // join) so ReuseExchange computes the quantize+norm stage once — the
    // minhashLsh self-join lesson.
    val pairs = base.alias("a").hint("shuffle_hash")
      .join(base.alias("b").hint("shuffle_hash"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("__dot", VectorFunctions.intDot(col("a.__q"), col("b.__q")))
      .where(col("__dot") > 0 &&
        col("__dot") * col("__dot") * lit(tauDen.toLong * tauDen) >=
          lit(tauNum.toLong * tauNum) * col("a.__n2") * col("b.__n2"))
    val dropped = pairs.select(col(s"b.$idCol").as(idCol)).distinct()
    emb.select(col(idCol), col(blockCol))
      .join(dropped.withColumn("__d", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col(blockCol),
        coalesce(col("__d"), lit(false)).as("dropped"))
  }

  /** Geometric medoid per block: the member vector closest to its
    * block's mean, chosen with ALL arithmetic in integers — the
    * representative-selection step after clustering (ship one vector per
    * cluster, not the float centroid, so the representative is a real
    * corpus member). Distance to the mean is compared via the
    * denominator-cleared form `n²·(x·x) − 2n·(x·S) + S·S` (S = Σ members,
    * over `scale`-quantized ints), which orders identically to
    * |x − S/n|² without ever dividing — exact, tie-broken by id.
    * Output per block: (block, medoid_id, n, dist_num — the cleared
    * distance numerator of the winner).
    *
    * Scale shape: S comes from one posexplode hash-agg (shuffle bounded
    * at blocks×dim, [[blockCentroids]]' cost model); S re-assembles to a
    * blocks-sized array table that BROADCASTS onto a single linear
    * member scan (codegen'd int dot); the argmin is a min-of-struct
    * aggregation — no pairwise anything.
    */
  def medoids(
      emb: DataFrame,
      blockCol: String = "label",
      scale: Int = 1024,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(scale >= 1, s"scale must be >= 1: $scale")
    val q = transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
    val base = emb.select(col(idCol).cast("long").as("__id"), col(blockCol), q.as("__q"))
    val sums = base
      .select(col(blockCol), posexplode(col("__q")))
      .groupBy(col(blockCol), col("pos"))
      .agg(sum(col("col")).as("__s"), count(lit(1)).as("__n"))
      .groupBy(col(blockCol))
      .agg(max(col("__n")).as("__n"),
        // dim-ordered re-assembly of S; min(struct) sorts by pos
        transform(array_sort(collect_list(struct(col("pos"), col("__s")))),
          s => s.getField("__s")).as("__S"))
    base.join(broadcast(sums), Seq(blockCol))
      .withColumn("__d",
        col("__n") * col("__n") * VectorFunctions.intDot(col("__q"), col("__q"))
          - lit(2L) * col("__n") * VectorFunctions.intDot(col("__q"), col("__S"))
          + VectorFunctions.intDot(col("__S"), col("__S")))
      .groupBy(col(blockCol))
      .agg(max(col("__n")).as("n"),
        min(struct(col("__d"), col("__id"))).as("__m"))
      .select(col(blockCol), col("__m.__id").as("medoid_id"), col("n"),
        col("__m.__d").as("dist_num"))
  }

  /** k-NN label-disagreement score — the confident-learning-style label
    * noise detector: for each query vector, how many of its `k` nearest
    * corpus neighbors (exact cosine top-k) carry a DIFFERENT label. A
    * vector whose neighborhood overwhelmingly disagrees is either
    * mislabeled or sits on a class boundary; both are what a training-set
    * audit wants surfaced. Output per query: (query_id, query_label,
    * n_neighbors, n_disagree, disagree_ppm).
    *
    * Scale shape: [[bruteForceTopK]]'s broadcast-queries × linear-scan
    * contract (queries are the audited sample, corpus is the big side),
    * then one label join ON THE TOP-K ROWS ONLY (query-count × k rows)
    * and a query-sized aggregation. Swap in [[lshTopK]]/[[ivfTopK]]
    * upstream for the approximate variant at larger query counts.
    */
  def labelDisagreement(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val topk = bruteForceTopK(corpus, queries.select(col(idCol).as("query_id"), col(vecCol)),
      k, idCol, vecCol)
    val nLabels = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl"))
    val qLabels = queries.select(col(idCol).as("query_id"), col(labelCol).as("query_label"))
    topk
      .join(nLabels, Seq("neighbor_id"))
      .join(broadcast(qLabels), Seq("query_id"))
      .groupBy(col("query_id"), col("query_label"))
      .agg(count(lit(1)).as("n_neighbors"),
        count_if(col("__nl") =!= col("query_label")).as("n_disagree"))
      .withColumn("disagree_ppm", expr("(1000000L * n_disagree) div n_neighbors"))
  }

  /** Per-group embedding dispersion WITHOUT pairwise distances: over
    * `scale`-quantized integer vectors, the exact sum of squared
    * pairwise L2 distances per group via the centroid identity
    * `Σᵢⱼ‖xᵢ−xⱼ‖² = 2·(n·Σ‖x‖² − ‖Σx‖²)` — all-pairs information from
    * one linear pass. Output per group: n, `sum_sq_norm` (Σ‖x‖²),
    * `norm_sq_sum` (‖Σx‖²), `pair_dist_sum` (the identity above) and
    * `mean_pair_dist` = pair_dist_sum div n² — the mode-collapse /
    * diversity gauge for curated embedding sets (a source whose
    * dispersion craters is emitting near-identical vectors). Integer
    * quantization makes every engine agree exactly; n·Σ‖x‖² at int
    * scale 2¹⁰, dim 32 stays far under Long range for billions of rows
    * per group.
    *
    * Scale shape: posexplode → hash agg on (group, dim) — map-side
    * combined, shuffle bounded at groups×dim — then a groups-sized agg.
    * NO pairwise join anywhere: the identity replaces the O(n²) pair
    * enumeration, which is the only reason this metric survives 100 TB.
    */
  def dispersion(
      emb: DataFrame,
      blockCol: String = "label",
      scale: Int = 1024,
      vecCol: String = "embedding"): DataFrame = {
    require(scale >= 1, s"scale must be >= 1: $scale")
    val q = transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
    emb.select(col(blockCol), posexplode(q))
      .groupBy(col(blockCol), col("pos"))
      // per-dim partials: row count (constant across dims), Σv and Σv²
      .agg(count(lit(1)).as("__n"), sum(col("col")).as("__s"),
        sum(col("col") * col("col")).as("__ss"))
      .groupBy(col(blockCol))
      .agg(max(col("__n")).as("n"), sum(col("__ss")).as("sum_sq_norm"),
        sum(col("__s") * col("__s")).as("norm_sq_sum"))
      .withColumn("pair_dist_sum",
        lit(2L) * (col("n") * col("sum_sq_norm") - col("norm_sq_sum")))
      .withColumn("mean_pair_dist", expr("pair_dist_sum div (n * n)"))
  }

  /** Inter-label centroid separation matrix: quantized per-dimension
    * centroid means per label (truncating `(scale·Σv) div n` — the spec
    * that keeps every engine identical), then the exact squared L2
    * distance between every label pair — the cluster-quality companion
    * to [[dispersion]] (tight blocks far apart = good labels; centroids
    * closer than their blocks' spread = labels the model can't mean).
    *
    * Scale shape: one posexplode → (label, dim) agg (shuffle bounded at
    * labels×dim), centroid table is labels×dim rows; the pair matrix is
    * a dim-keyed self-join over that bounded table.
    */
  def centroidSeparation(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding",
      scale: Int = 1000): DataFrame = {
    require(scale >= 1, s"scale must be >= 1: $scale")
    val q = transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
    val cent = emb.select(col(labelCol).cast("long").as("__l"), posexplode(q))
      .groupBy(col("__l"), col("pos"))
      .agg(expr("(sum(col)) div count(1)").as("__c"))
    cent.alias("a")
      .join(cent.alias("b"),
        col("a.pos") === col("b.pos") && col("a.__l") < col("b.__l"))
      .groupBy(col("a.__l").as("label_a"), col("b.__l").as("label_b"))
      .agg(count(lit(1)).as("dim"),
        sum((col("a.__c") - col("b.__c")) * (col("a.__c") - col("b.__c")))
          .as("dist_sq_q"))
  }

  /** Embedding hygiene audit per group — the pre-flight every ANN/dedup
    * stage above this one assumes has already passed: dimension
    * consistency (one distinct dim or your dot products are garbage),
    * zero vectors (cosine is undefined; they silently sink to the
    * bottom of every ranking), non-finite elements (one NaN poisons a
    * whole reduction), and the quantized-norm² spread (collapsed-norm
    * embeddings are a model-regression tell). Norms quantize at `scale`
    * ([[dispersion]]'s convention) so min/max/truncated-mean are exact
    * integers cross-engine.
    *
    * Scale shape: one pass of per-row array folds (map-side, codegen)
    * into a group-cardinality hash agg. No explode — dim stats come
    * from `size()`, norms from a single `aggregate` fold per row.
    */
  def embeddingAudit(
      emb: DataFrame,
      groupCol: String = "label",
      vecCol: String = "embedding",
      scale: Int = 1000): DataFrame = {
    require(scale >= 1, s"scale must be >= 1: $scale")
    val e = col(vecCol)
    def nonfinite(x: Column) =
      isnan(x) || x === lit(Float.PositiveInfinity) || x === lit(Float.NegativeInfinity)
    // Non-finite elements quantize to 0 — casting NaN to long THROWS
    // under ANSI, and a poisoned norm is exactly what this audit exists
    // to prevent: the vector is FLAGGED in n_nonfinite, its norm is the
    // norm of its finite part (mirrored in the oracle).
    val q = transform(e, x =>
      when(nonfinite(x), 0L).otherwise(round(x.cast("double") * scale).cast("long")))
    val norm2q = aggregate(q, lit(0L), (acc, v) => acc + v * v)
    val hasNonfinite = exists(e, x => nonfinite(x))
    emb
      .select(col(groupCol), size(e).as("__dim"), norm2q.as("__n2"),
        hasNonfinite.as("__bad"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("__dim")).as("n_dims_distinct"),
        min(col("__dim")).cast("long").as("dim_min"),
        max(col("__dim")).cast("long").as("dim_max"),
        count_if(col("__n2") === 0L).as("n_zero"),
        count_if(col("__bad")).as("n_nonfinite"),
        min(col("__n2")).as("norm2q_min"),
        max(col("__n2")).as("norm2q_max"),
        expr("sum(__n2) div count(1)").as("norm2q_mean"))
  }

  /** Shared PQ front end: int8-quantized subvectors of a vector table
    * plus the sampled per-subspace codebook. Quantization is the
    * [[VectorFunctions.quantizeInt8]] lattice (per-vector L∞
    * normalization — the same contract as [[graft.ops.KMeans]]), so all
    * downstream distances are EXACT Long arithmetic: order-independent,
    * replayable in any SQL engine. The codebook is the k lowest-id
    * vectors' subvectors, centroid j = rank-j id per subspace — the
    * "sampled codebook" PQ variant (no training pass; callers wanting
    * Lloyd-refined codebooks run [[graft.ops.KMeans]] per subspace and
    * assign with the same subvector split). Returns the dim so callers
    * share the single bounded head() fetch.
    */
  private def pqParts(
      df: DataFrame,
      m: Int,
      k: Int,
      idCol: String,
      vecCol: String,
      outId: String): (DataFrame, DataFrame) = {
    require(m >= 1, s"m must be >= 1: $m")
    require(k >= 1, s"k must be >= 1: $k")
    // bounded driver fetch (1 row): the subspace split needs dim % m = 0.
    // An empty input fails here with a clear message instead of a bare
    // NoSuchElementException.
    val dimRows = df.select(size(col(vecCol)).as("d")).head(1)
    require(dimRows.nonEmpty,
      s"pqParts: input is empty — cannot infer $vecCol dimensionality")
    val dim = dimRows(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // ragged-table guard as a per-row codegen'd check rather than an
    // agg(min(size),max(size)) probe: the probe would cost a second full
    // scan of the embedding column at corpus scale, while this comparison
    // rides the scan that quantization already pays — mixed dims fail
    // loudly at execution instead of flowing through as null subvectors
    val checkedVec = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"pqParts: ragged $vecCol — expected dim $dim, found dim "),
        size(col(vecCol)).cast("string"))))
    val q = df.select(col(idCol).cast("long").as(outId),
      VectorFunctions.quantizeInt8MaxAbs(checkedVec).as("__qv"))
    def split(t: DataFrame): DataFrame = t.select(col(outId),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("__qv"), s * lit(sub) + lit(1), lit(sub)))))
      .select(col(outId), col("pos").cast("long").as("s"), col("col").as("v"))
    // Codebook: limit BEFORE quantize (r17 optimization). The previous
    // `q.orderBy.limit(k)` quantized the WHOLE corpus (the 3-transform
    // int8 lattice projection) just to keep its first k rows by id — and
    // the codebook subtree is built once per broadcast consumer, so the
    // full-corpus pass ran twice in the ADC/IVF-PQ plans. TakeOrdered over
    // the raw (id, vec) rows first, then quantize exactly k vectors —
    // identical rows (quantization is per-row and deterministic).
    val firstK = df.select(col(idCol).cast("long").as(outId), col(vecCol))
      .orderBy(col(outId)).limit(k)
    val cb = split(
      firstK.select(col(outId),
          VectorFunctions.quantizeInt8MaxAbs(checkedVec).as("__qv"))
        .withColumn("__j",
          row_number().over(Window.orderBy(col(outId))).cast("long") - 1L)
        .select(col("__j").as(outId), col("__qv")))
      .select(col("s"), col(outId).as("j"), col("v").as("cvec"))
    (split(q), cb)
  }

  private def latticeD2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, e) => acc + e)

  /** PRODUCT QUANTIZATION codes (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): split each vector into
    * `m` subspaces and store, per subspace, the id of the nearest of
    * `k` codebook centroids — m·log₂k bits per vector instead of
    * dim·32, THE memory layout that lets a 100 TB embedding corpus fit
    * an ANN index in RAM. Output `(vec_id, s, code, d2)` with `d2` the
    * exact squared lattice distance to the chosen centroid (the
    * per-vector quantization error, summable into a corpus distortion
    * audit). Ties break to the smallest code.
    *
    * Scale shape: quantization and the subspace split are map-only; the
    * assignment joins the n·m subvector stream against a BROADCAST
    * k·m codebook (the min-agg combines map-side, keyed on the row —
    * never a shuffle of the corpus against itself).
    */
  def pqCodes(
      df: DataFrame,
      m: Int = 4,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // corpus side spread before the quantize + m-way subspace explode
    // (r17: single-split test scans ran the lattice math single-threaded)
    val (sub, cb) = pqParts(graft.io.Spread.toDefaultParallelism(df),
      m, k, idCol, vecCol, "vec_id")
    assignCodes(sub, cb)
  }

  private def assignCodes(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("s"))
      .select(col("vec_id"), col("s"),
        struct(latticeD2(col("v"), col("cvec")).as("d2"), col("j").as("code")).as("p"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("p")).as("m"))
      .select(col("vec_id"), col("s"), col("m.code").as("code"), col("m.d2").as("d2"))

  /** PQ ASYMMETRIC-DISTANCE top-k (ADC): approximate nearest neighbors
    * where each corpus vector costs only its `m` codes — the query
    * computes one lookup table of (subspace, centroid) → squared
    * distance against the codebook, and a neighbor's approximate
    * distance is the sum of m table entries. All arithmetic is exact
    * Long on the shared quantization lattice, so the sum is
    * order-independent and the ranking (adc_d2 asc, neighbor_id asc)
    * reproduces bit-for-bit in the oracle engine. Recall is graded, not
    * exact, by construction — [[recallAt]] and `PqSpec` carry that
    * contract against [[bruteForceTopK]].
    *
    * Scale shape: the LUT is queries·m·k rows (broadcast); the corpus
    * side is the codes table (n·m skinny integer rows) joined on
    * (subspace, code) — a broadcast hash join with fan-out = #queries —
    * then ONE map-side-combinable sum per (query, neighbor). Nothing
    * quadratic in the corpus materializes anywhere.
    */
  def pqAdcTopK(
      df: DataFrame,
      queries: DataFrame,
      m: Int = 4,
      k: Int = 16,
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    // corpus side spread (r17): same single-split rationale as [[pqCodes]]
    val (sub, cb) = pqParts(graft.io.Spread.toDefaultParallelism(df),
      m, k, idCol, vecCol, "vec_id")
    val codes = assignCodes(sub, cb)
    val querySub = pqParts(queries, m, k, queryIdCol, vecCol, "query_id")._1
    val lut = querySub.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("j").as("code"),
        latticeD2(col("v"), col("cvec")).as("qd2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("s", "code"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qd2"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd2")).as("adc_d2"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
  }

  /** Per-rank cumulative weights for [[rankAgreement]]: the truncated
    * rank-biased-overlap weighting (Webber–Moffat–Zobel, TOIS 2010)
    * with persistence p, in a pure-integer chain — W₁ = 1e6 − p_e6,
    * W_d = W_{d−1}·p_e6 div 1e6, and C(r) = Σ_{d=r..depth} (W_d·1000)
    * div d. A matched pair visible from depth max(ra, rb) onward
    * contributes C(max(ra, rb)) — the whole truncated-RBO sum becomes
    * ONE lookup per shared item. Both engines read the same literal
    * table, so agreement scores replay bit-for-bit.
    */
  private[graft] def rboCumWeights(depth: Int, pE6: Long): IndexedSeq[Long] = {
    val w = Iterator.iterate(1000000L - pE6)(x => x * pE6 / 1000000L)
      .take(depth).toIndexedSeq
    (1 to depth).map(r => (r to depth).map(d => w(d - 1) * 1000L / d).sum)
  }

  /** Truncated-RBO RANKING AGREEMENT between two top-`depth` rankings
    * per query — the ANN-quality / ranker-drift metric: 1e9-scaled
    * score per query (perfect agreement = Σ_r C(r), emitted as
    * `max_score_e9` for normalization downstream), plus the shared-item
    * count. Top-weighted: agreeing on rank 1 is worth far more than
    * agreeing on rank 10, which is what separates RBO from plain
    * set-overlap@k. All arithmetic is the integer contract.
    *
    * Scale shape: one equi-join of two k-sized-per-query rankings on
    * (query, item) + a map-side-combined sum; the weight table is a
    * literal CASE, never data.
    */
  def rankAgreement(
      a: DataFrame,
      b: DataFrame,
      depth: Int = 10,
      pE6: Long = 900000L,
      queryIdCol: String = "query_id",
      itemCol: String = "neighbor_id",
      rankCol: String = "rank"): DataFrame = {
    require(depth >= 1 && depth <= 100, s"depth must be in [1,100]: $depth")
    require(pE6 >= 1 && pE6 < 1000000L, s"pE6 must be in [1, 1e6): $pE6")
    val cum = rboCumWeights(depth, pE6)
    def side(df: DataFrame, out: String): DataFrame =
      df.select(col(queryIdCol).cast("long").as("query_id"),
        col(itemCol).cast("long").as("neighbor_id"),
        col(rankCol).cast("long").as(out))
        .where(col(out) <= depth)
    val contrib = cum.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, i)) =>
      when(greatest(col("__ra"), col("__rb")) === (i + 1).toLong, lit(c)).otherwise(acc)
    }
    side(a, "__ra").join(side(b, "__rb"), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_shared"), sum(contrib).as("score_e9"))
      .withColumn("max_score_e9", lit(cum.sum))
  }

  /** IVF-PQ — the production billion-vector ANN layout (FAISS's
    * IndexIVFPQ): a COARSE quantizer routes every vector to an inverted
    * list ([[ivfTopK]]'s broadcast-codebook assignment), queries probe
    * only their `nProbe` nearest lists, and within the probed lists
    * distance is the PQ ASYMMETRIC sum over codes ([[pqAdcTopK]]'s
    * exact-Long lattice) instead of a full float scan. Memory per
    * vector = m codes; scan cost per query = the probed lists only.
    * Both approximation layers are deterministic here (cosine routing
    * ties to the smallest centroid id; ADC is integer), so the result
    * replays bit-for-bit in the oracle — recall is graded by the spec
    * against [[bruteForceTopK]], as with every ANN variant in this
    * module.
    *
    * Scale shape: routing is map-only against a broadcast codebook
    * (corpus never shuffles for it); the candidate set is
    * queries × probed-list sizes, built by an equi-join on the list id
    * with the (tiny) query-probe side broadcast; ADC joins candidates
    * to the skinny codes table on the vector id and to the broadcast
    * LUT on (query, subspace, code). Nothing corpus-quadratic, nothing
    * collected beyond the two codebooks.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      m: Int = 4,
      k: Int = 16,
      topK: Int = 10,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    // coarse codebook: identical collect/normalize/broadcast contract as
    // [[ivfTopK]] (bounded: #centroids × dim doubles, justified there)
    val centRows = centroids
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(centRows.nonEmpty, "ivfPqTopK needs at least one centroid")
    val codebook = corpus.sparkSession.sparkContext.broadcast(CentroidCodebook(
      centRows.map(_._1),
      centRows.map { case (_, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        (if (n > 0) v.map(_ / n) else v.map(_ => 0.0)).toArray
      }))
    // r17's corpus-side Spread REMOVED here (r18 audit, interleaved A/B:
    // q360 1.16x / q336 1.12x faster without it, consistent across reps):
    // the routing + lattice work per row no longer pays for the
    // round-robin exchange + .rdd partition probe on single-split local
    // scans, and on multi-split (at-scale) inputs the Spread is a no-op
    // by design — the bruteForceTopK lesson (VERDICT r17 item 2).
    val corpusSpread = corpus
    val assigned = unitized(corpusSpread, idCol, "vec_id", vecCol, "c_vec")
      .withColumn("c_id", VectorFunctions.nearestCentroidId(col("c_vec"), codebook))
      .select(col("vec_id"), col("c_id"))
    val probes = unitized(queries, queryIdCol, "query_id", vecCol, "q_vec")
      .withColumn("c_id", explode(VectorFunctions.topCentroidIds(col("q_vec"), codebook, nProbe)))
      .select(col("query_id"), col("c_id"))
    val (sub, cb) = pqParts(corpusSpread, m, k, idCol, vecCol, "vec_id")
    val codes = assignCodes(sub, cb).select(col("vec_id"), col("s"), col("code"))
    val querySub = pqParts(queries, m, k, queryIdCol, vecCol, "query_id")._1
    val lut = querySub.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("j").as("code"),
        latticeD2(col("v"), col("cvec")).as("qd2"))
    val cand = broadcast(probes).join(assigned, Seq("c_id"))
      .select(col("query_id"), col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qd2"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd2")).as("adc_d2"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
  }

  /** Exact integer GRAM MATRIX of the int8-quantized embedding corpus:
    * `G(i,j) = Σ_vectors q_i·q_j` on the per-vector max-abs int8 lattice
    * ([[VectorFunctions.quantizeInt8]] — the same quantization contract
    * as PQ and [[graft.ops.KMeans]]), upper triangle only (i ≤ j; the
    * matrix is symmetric). This is the covariance/whitening scaffold —
    * PCA, ZCA, embedding-drift detection — as a MERGEABLE integer
    * aggregate: cells ADD across shards/days/streams (the 100 TB
    * property), and |q| ≤ 127 keeps a cell exact in a Long up to
    * ~5.7×10¹⁴ vectors. `n_vectors` rides along so the caller picks its
    * own normalization.
    *
    * Scale shape: map-only — quantize, explode to the dim·(dim+1)/2
    * upper-triangle products per vector (the second explode slices from
    * i, halving the fan-out), then ONE map-side-combined sum agg; the
    * shuffle carries at most dim² rows per task, never the corpus.
    */
  def quantizedGram(
      df: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    // bounded driver fetch (1 row) to probe the corpus dimensionality,
    // then the pqParts ragged guard: mixed-dim input would silently emit
    // cells with differing n_vectors that mix subspaces — fail loudly at
    // execution instead, riding the scan quantization already pays.
    val dimRows = df.select(size(col(vecCol)).as("d")).head(1)
    require(dimRows.nonEmpty,
      s"quantizedGram: input is empty — cannot infer $vecCol dimensionality")
    val dim = dimRows(0).getInt(0)
    val checkedVec = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"quantizedGram: ragged $vecCol — expected dim $dim, found dim "),
        size(col(vecCol)).cast("string"))))
    // r17's corpus Spread REMOVED (r18 audit, interleaved A/B: 1.61x
    // faster without it, every rep): after the r17 quantize_int8_maxabs
    // codegen fusion the per-row quantize is O(dim), too light to pay
    // for the exchange locally — and a no-op at scale by design.
    val q = df.select(
      VectorFunctions.quantizeInt8MaxAbs(checkedVec).as("q"))
    q.select(col("q"), posexplode(col("q")))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "qi")
      .select(col("i"), col("qi"),
        posexplode(expr("slice(q, i + 1, size(q) - i)")))
      .select(col("i").cast("long").as("i"),
        (col("i") + col("pos")).cast("long").as("j"),
        (col("qi") * col("col")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("g"), count(lit(1)).as("n_vectors"))
  }

  /** Projection of every vector onto the corpus's TOP PRINCIPAL
    * DIRECTION — the consumer [[quantizedGram]]'s scaffold was built
    * for: `iterations` steps of exact-integer power iteration
    * (von Mises & Pollaczek-Geiringer 1929) on the Gram matrix, then a
    * map-side int dot of each quantized vector against the resulting
    * direction. Appends nothing float: the direction rescales each step
    * to `±2^scaleBits` by sign-split nonnegative division (BigInt on
    * the driver — no overflow at any corpus size), so every engine
    * replaying the same arithmetic lands on the same bits. Output: one
    * row per input (`idCol`, `score`) plus the constant
    * `eigenvalue_est` — the Rayleigh quotient ⌊vᵀGv / vᵀv⌋, i.e. the
    * dominant second-moment mass along the direction.
    *
    * Scale shape: the Gram build is [[quantizedGram]]'s map-only fold;
    * its dim·(dim+1)/2 cells (dim ≤ 128 enforced → ≤ 8256 rows) are the
    * ONLY driver fetch — matrix-sized, never corpus-sized (the codebook
    * precedent). The projection is one map-side codegen'd int dot
    * against the direction folded into the plan as a literal; nothing
    * shuffles.
    */
  def principalProjection(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      iterations: Int = 4,
      scaleBits: Int = 20): DataFrame = {
    require(iterations >= 1 && iterations <= 16, s"iterations must be in [1,16]: $iterations")
    require(scaleBits >= 4 && scaleBits <= 30, s"scaleBits must be in [4,30]: $scaleBits")
    val cells = quantizedGram(df, vecCol).collect()
    val dim = cells.iterator.map(_.getLong(1)).max.toInt + 1
    require(dim <= 128, s"principalProjection: dim $dim > 128 — the Gram driver fetch is bounded by design")
    val g = Array.ofDim[BigInt](dim, dim)
    for (r <- cells) {
      val (i, j, v) = (r.getLong(0).toInt, r.getLong(1).toInt, BigInt(r.getLong(2)))
      g(i)(j) = v
      g(j)(i) = v
    }
    var v = Array.fill(dim)(BigInt(1))
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(dim)(i => (0 until dim).iterator.map(j => g(i)(j) * v(j)).sum)
      val m = w.iterator.map(_.abs).max
      // sign-split so both division operands stay nonnegative — BigInt /
      // and any engine's integer // agree there, unlike on negatives
      v = if (m == 0) w
      else w.map(x => if (x < 0) -((-x << scaleBits) / m) else (x << scaleBits) / m)
    }
    val vGv = (0 until dim).iterator
      .map(i => v(i) * (0 until dim).iterator.map(j => g(i)(j) * v(j)).sum).sum
    val vv = v.iterator.map(x => x * x).sum
    val eig = if (vv == 0) BigInt(0) else vGv / vv
    require(eig.isValidLong, s"eigenvalue estimate overflows long: $eig")
    val qv = VectorFunctions.quantizeInt8MaxAbs(col(vecCol))
    // r17's projection-scan Spread REMOVED (r18 audit, interleaved A/B:
    // 1.49x faster without it, every rep): the fused O(dim) quantize +
    // int dot is too light to pay for the exchange locally — and a
    // no-op at scale by design (the bruteForceTopK class).
    df.select(col(idCol),
      VectorFunctions.intDot(qv, typedLit(v.map(_.toLong).toSeq)).as("score"),
      lit(eig.toLong).as("eigenvalue_est"))
  }
}
