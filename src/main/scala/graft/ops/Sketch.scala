package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-replayable cardinality sketching.
  * Spark's own `approx_count_distinct` is a HyperLogLog++ whose hash and
  * bias tables are engine-internal — fine for ad-hoc use, impossible to
  * oracle. This HLL fixes every ingredient (md5 hash, top-b bucket
  * split, CASE-chain rank, integer estimator) so the sketch is a pure
  * function of the value set: any SQL engine reproduces registers AND
  * estimate bit-for-bit, and two sketches merge by per-register max —
  * the property that makes it a 100 TB primitive (per-partition
  * registers combine map-side; the shuffle carries m rows per task).
  */
object Sketch {

  /** Registers of a Flajolet–Martin/HLL sketch over `valueCol`:
    * bucket = top `b` bits of the 32-bit md5 uniform, register = max
    * over the bucket of (leading zeros of the remaining 32−b bits) + 1
    * (an empty bucket registers 0). One row per bucket, zero-filled to
    * all 2^b rows. Duplicates are free by construction (max ignores
    * them) — no distinct pass anywhere.
    */
  def hllRegisters(df: DataFrame, valueCol: String, b: Int = 6): DataFrame = {
    require(b >= 2 && b <= 12, s"b must be in [2,12]: $b")
    val m = 1 << b
    val wBits = 32 - b
    val u = graft.functions.TextFunctions.md5Prefix(col(valueCol).cast("string"), 8)
    val maxRank = wBits + 1
    val w = col("__u") % (1L << wBits)
    // exact integer rank via a comparison chain (a float log2 would
    // misround at exact powers of two); the fold runs r = wBits..1 so
    // the LARGEST threshold (rank 1) ends up outermost
    val rank = (wBits to 1 by -1).foldLeft(lit(maxRank.toLong)) { case (acc, r) =>
      when(w >= (1L << (wBits - r)), lit(r.toLong)).otherwise(acc)
    }
    val regs = df.select(u.as("__u"))
      .select((col("__u") / (1L << wBits)).cast("long").as("bucket"), rank.as("__r"))
      .groupBy("bucket").agg(max(col("__r")).as("register"))
    df.sparkSession.range(m).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("register"), lit(0L)).as("register"))
  }

  /** One-row HLL cardinality profile: the raw HLL estimate in exact
    * fixed point next to the true distinct count (the accuracy audit a
    * pipeline actually wants).
    *
    * Estimator, all-integer: with `S = Σ_j 2^(−M_j)` the raw HLL
    * estimate is `α_m · m² / S`. Here
    * `s_num = Σ_j 2^(maxRank − M_j)` (so `S = s_num / 2^maxRank`) and
    * `est_e6 = ⌊α_e6 · m² · 2^maxRank / s_num⌋` = 1e6 × the raw
    * estimate — integer division both engines compute identically.
    * α_e6 is the standard `0.7213/(1 + 1.079/m)` constant in
    * parts-per-million, a fixed member of the contract per `b`. The
    * raw estimator is reported WITHOUT the small/large-range
    * corrections; `n_zero_registers` is emitted so callers can apply
    * linear counting when they want it (that correction needs a log —
    * float — which is exactly what this surface keeps out).
    *
    * Scale shape: the register build is one map-side-combined max-agg
    * (m rows per task crosses the wire); the exact distinct count — the
    * audit column — is the only corpus-sized shuffle, and callers who
    * only want the sketch use [[hllRegisters]].
    */
  def hllProfile(df: DataFrame, valueCol: String, b: Int = 6): DataFrame = {
    val sketch = hllEstimate(hllRegisters(df, valueCol, b), b)
    val exact = df.agg(countDistinct(col(valueCol)).as("n_exact"))
    sketch.crossJoin(broadcast(exact))
  }

  /** Merge two [[hllRegisters]] frames built with the SAME `b`:
    * per-register max — the mergeability that makes HLL the 100 TB
    * cardinality primitive (registers build per partition / day /
    * shard, each a 2^b-row frame, and fold pairwise without ever
    * touching raw data again). The join is register-table-sized (2^b
    * rows per side); merging k shards is a k-way fold of these.
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    // FULL OUTER, not inner: [[hllRegisters]] frames are dense (2^b rows,
    // zero registers included), so a bucket present on only one side means
    // the two frames were built with different b (or one is not a register
    // frame at all). An inner join would silently truncate to the bucket
    // intersection and hand [[hllEstimate]] a wrong-sized frame; instead
    // the mismatch fails loudly as a per-row codegen'd check that rides
    // the join (no extra count probe — the upstream frames may be the tail
    // of a corpus-sized register build, and counting them would run it
    // twice).
    a.select(col("bucket"), col("register").as("__ra"))
      .join(b.select(col("bucket"), col("register").as("__rb")), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        when(col("__ra").isNull || col("__rb").isNull,
          raise_error(concat(lit("hllMerge: bucket sets differ at bucket "),
            col("bucket").cast("string"),
            lit(" — frames built with different b, or not register frames"))))
          .otherwise(greatest(col("__ra"), col("__rb"))).as("register"))

  /** The [[hllProfile]] estimator over an EXISTING `(bucket, register)`
    * frame — the sketch-only tail for callers that built registers per
    * shard and merged them with [[hllMerge]]: one row
    * `(m, n_zero_registers, s_num, est_e6)`, no corpus-sized pass
    * anywhere (the input is 2^b rows). See [[hllProfile]] for the
    * integer estimator contract.
    */
  def hllEstimate(registers: DataFrame, b: Int): DataFrame = {
    require(b >= 2 && b <= 12, s"b must be in [2,12]: $b")
    val m = (1 << b).toLong
    val maxRank = (32 - b) + 1
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    registers
      .agg(
        count(lit(1)).as("m"),
        count_if(col("register") === 0L).as("n_zero_registers"),
        sum(expr(s"cast(shiftleft(1L, cast($maxRank - register as int)) as bigint)"))
          .as("s_num"))
      .select(col("m"), col("n_zero_registers"), col("s_num"),
        // numerator in decimal(38,0): α_e6·m²·2^maxRank tops 1.2e19 at
        // b = 11 and would wrap a bigint silently in non-ANSI mode
        expr(s"cast((cast(${alphaE6} as decimal(38,0)) * ${m * m} * cast(shiftleft(1L, $maxRank) as bigint)) div s_num as bigint)")
          .as("est_e6"))
  }

  /** KMV (k minimum values / bottom-k) distinct-count profile — the
    * OTHER classic cardinality sketch, with different merge algebra
    * than [[hllProfile]]: two KMV sketches merge by unioning hash sets
    * and re-taking the k smallest, which also supports set
    * INTERSECTION estimates (Jaccard via shared minima) that HLL
    * cannot. Estimator: with u₍k₎ the k-th smallest distinct 32-bit
    * md5 value, `est = (k−1)·2³² div u₍k₎` — exact integer division on
    * the md5 contract, bit-identical in any engine. Fewer than k
    * distinct values → the sketch IS the value set and the count is
    * exact (`est = n_exact`, `kth_min = 0` as the degenerate marker).
    *
    * Scale shape: one distinct on the 32-bit hash (the shuffle carries
    * hashes, not values) followed by a distributed top-k heap
    * (`TakeOrderedAndProject`) — k is sketch-sized (hundreds), never
    * data-sized. The exact distinct count rides the same distinct pass.
    */
  def kmvProfile(df: DataFrame, valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val hashes = Staging.stage(
      df.select(graft.functions.TextFunctions.md5Prefix(col(valueCol).cast("string"), 8).as("u"))
        .distinct())
    val bottom = hashes.orderBy(col("u").asc).limit(k)
    val agg = bottom.agg(count(lit(1)).as("n_in_sketch"), max(col("u")).as("kth"))
      .crossJoin(broadcast(hashes.agg(count(lit(1)).as("n_exact"))))
    agg.select(
      lit(k.toLong).as("k"),
      when(col("n_in_sketch") < k, lit(0L)).otherwise(col("kth")).as("kth_min"),
      when(col("n_in_sketch") < k, col("n_exact"))
        .otherwise(expr(s"(${k - 1}L * 4294967296L) div kth")).as("est"),
      col("n_exact"))
  }

  /** Per-GROUP HLL cardinality profile — the actual 100 TB usage
    * pattern (distinct users per event type, distinct tokens per
    * source): [[hllProfile]]'s md5-fixed registers and all-integer
    * estimator, keyed by a group column. Empty registers are handled
    * arithmetically instead of by zero-fill join: a register at 0
    * contributes 2^maxRank to `s_num`, so
    * `s_num = (m − present)·2^maxRank + Σ_present 2^(maxRank − M_j)`.
    *
    * Scale shape: ONE map-side-combined max-agg keyed (group, bucket)
    * — at most m rows per group cross the wire — then an m-row-per-
    * group reduction; the exact per-group distinct (the audit column)
    * is the only full-cardinality shuffle.
    */
  def hllByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      b: Int = 6): DataFrame = {
    require(b >= 2 && b <= 12, s"b must be in [2,12]: $b")
    val m = (1 << b).toLong
    val wBits = 32 - b
    val maxRank = wBits + 1
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val u = graft.functions.TextFunctions.md5Prefix(col(valueCol).cast("string"), 8)
    val w = col("__u") % (1L << wBits)
    val rank = (wBits to 1 by -1).foldLeft(lit(maxRank.toLong)) { case (acc, r) =>
      when(w >= (1L << (wBits - r)), lit(r.toLong)).otherwise(acc)
    }
    val regs = df.select(col(groupCol).as("group"), u.as("__u"))
      .select(col("group"), (col("__u") / (1L << wBits)).cast("long").as("__bucket"),
        rank.as("__r"))
      .groupBy(col("group"), col("__bucket")).agg(max(col("__r")).as("__reg"))
    val sketch = regs.groupBy(col("group"))
      .agg(count(lit(1)).as("__present"),
        sum(expr(s"cast(shiftleft(1L, cast($maxRank - __reg as int)) as bigint)")).as("__sp"))
      .select(col("group"),
        (lit(m) - col("__present")).as("n_zero_registers"),
        (expr(s"(${m}L - __present) * cast(shiftleft(1L, $maxRank) as bigint)")
          + col("__sp")).as("s_num"))
      .select(col("group"), col("n_zero_registers"), col("s_num"),
        // decimal(38,0) numerator for the same b = 11/12 overflow reason
        // as [[hllProfile]]
        expr(s"cast((cast(${alphaE6} as decimal(38,0)) * ${m * m} * cast(shiftleft(1L, $maxRank) as bigint)) div s_num as bigint)")
          .as("est_e6"))
    val exact = df.groupBy(col(groupCol).as("group"))
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    sketch.join(exact, Seq("group"))
  }

  /** KMV/theta-sketch SET RESEMBLANCE between two value sets — the
    * scalable Jaccard: take the bottom-k of the UNION's distinct md5
    * values; the fraction of that sketch present in both sides is an
    * unbiased Jaccard estimate (Broder's minwise resemblance /
    * theta-sketch intersection). Reported in exact ppm next to the
    * exact Jaccard (computed on the same 32-bit hash universe, so both
    * engines agree bit-for-bit even in the astronomically-unlikely
    * collision). Below k union distincts the sketch IS the union and
    * the estimate is exact by construction.
    *
    * Scale shape: two hash-distinct passes (hashes cross the wire, not
    * values), one distributed bottom-k heap, two sketch-sized
    * semi-joins. The exact intersection/union counts (the audit) are
    * the only full-cardinality aggregations.
    */
  def kmvJaccard(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    def hashes(df: DataFrame): DataFrame = Staging.stage(
      df.select(graft.functions.TextFunctions.md5Prefix(col(valueCol).cast("string"), 8).as("u"))
        .distinct())
    val ua = hashes(a)
    val ub = hashes(b)
    val union = Staging.stage(ua.union(ub).distinct())
    val bottom = Staging.stage(union.orderBy(col("u").asc).limit(k))
    val shared = bottom
      .join(ua, Seq("u"), "left_semi")
      .join(ub, Seq("u"), "left_semi")
      .agg(count(lit(1)).as("n_shared"))
    val sizes = bottom.agg(count(lit(1)).as("n_sketch"))
      .crossJoin(broadcast(union.agg(count(lit(1)).as("n_union_exact"))))
      .crossJoin(broadcast(ua.join(ub, Seq("u"), "left_semi")
        .agg(count(lit(1)).as("n_inter_exact"))))
    broadcast(shared).crossJoin(sizes)
      .select(
        lit(k.toLong).as("k"),
        col("n_sketch"), col("n_shared"),
        expr("(1000000L * n_shared) div n_sketch").as("jaccard_est_ppm"),
        col("n_inter_exact"), col("n_union_exact"),
        expr("(1000000L * n_inter_exact) div n_union_exact").as("jaccard_exact_ppm"))
  }

  /** COUNT-MIN point-frequency estimates (Cormode–Muthukrishnan 2005)
    * for the `topK` most frequent values, next to their exact counts:
    * the sketch is `rows × width` counters (counter(r, b) = number of
    * occurrences hashing to bucket b under salt r), the estimate is
    * `min_r counter(r, bucket(v, r))` — an UPPER bound on the true
    * count, always (`cm_est ≥ n_exact` is a structural invariant the
    * spec pins). Every hash is the md5 contract salted by the row
    * index, so sketch AND estimates replay exactly.
    *
    * Scale shape: the sketch build is a ×rows map fan-out into a
    * map-side-combined count keyed by (row, bucket) — the shuffle is
    * bounded by rows·width per task regardless of corpus size, and two
    * sketches merge by cell-wise addition (the streaming/mergeable
    * property that makes CM the 100 TB frequency primitive). The exact
    * top-k (the audit) is the only value-keyed shuffle.
    */
  def countMinTopK(
      df: DataFrame,
      valueCol: String,
      rows: Int = 4,
      width: Int = 512,
      topK: Int = 20): DataFrame = {
    require(rows >= 1 && width >= 2 && topK >= 1, s"bad cm params: $rows/$width/$topK")
    val v = col(valueCol).cast("string")
    def bucket(value: Column, r: Column): Column =
      graft.functions.TextFunctions.md5Prefix(
        concat_ws(":", value, r.cast("string")), 8) % width
    val fan = df.select(v.as("__v"))
      .select(col("__v"), explode(sequence(lit(0L), lit(rows.toLong - 1L))).as("__r"))
    val cells = Staging.stage(
      fan.groupBy(col("__r"), bucket(col("__v"), col("__r")).as("__b"))
        .agg(count(lit(1)).as("__c")))
    val top = Staging.stage(
      df.select(v.as("value")).groupBy("value").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("value").asc).limit(topK)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n_exact").desc, col("value").asc)).cast("long")))
    top.select(col("value"), col("n_exact"), col("rank"),
        explode(sequence(lit(0L), lit(rows.toLong - 1L))).as("__qr"))
      .join(cells,
        col("__qr") === col("__r") && bucket(col("value"), col("__qr")) === col("__b"))
      .groupBy(col("value"), col("n_exact"), col("rank"))
      .agg(min(col("__c")).as("cm_est"))
      .select(col("value"), col("n_exact"), col("cm_est"), col("rank"))
  }

  /** Deterministic BLOOM-FILTER membership audit: build a `bits`-wide,
    * `hashes`-hash Bloom set over `members`, probe every distinct value
    * of `df`, and report the confusion counts plus the observed
    * false-positive rate in ppm — the planning number a runtime-filter
    * or decontamination pass needs before trusting a Bloom at 100 TB.
    * Spark's own Bloom (`bloom_filter_agg`/`might_contain`) hashes with
    * engine-internal xxhash — this one is the md5 contract, so the bit
    * set and every probe verdict replay bit-for-bit in the oracle.
    *
    * Scale shape: the bit set is a distinct on (bit) — at most
    * `bits` rows survive; probes fan ×hashes and semi-join the bit set
    * on the bit key; a probe is positive iff all `hashes` bits hit
    * (count match). Nothing collects; the output is one row.
    */
  def bloomAudit(
      df: DataFrame,
      valueCol: String,
      members: DataFrame,
      memberCol: String,
      bits: Int = 16384,
      hashes: Int = 4): DataFrame = {
    require(bits >= 2 && hashes >= 1, s"bad bloom params: $bits/$hashes")
    def bit(value: Column, h: Column): Column =
      graft.functions.TextFunctions.md5Prefix(
        concat_ws("#", value, h.cast("string")), 8) % bits
    val salts = explode(sequence(lit(0L), lit(hashes.toLong - 1L)))
    val bitSet = Staging.stage(
      members.select(col(memberCol).cast("string").as("__m"))
        .distinct()
        .select(col("__m"), salts.as("__h"))
        .select(bit(col("__m"), col("__h")).as("__bit"))
        .distinct())
    val memberKeys = members.select(col(memberCol).cast("string").as("__v")).distinct()
    val probes = Staging.stage(
      df.select(col(valueCol).cast("string").as("__v")).distinct()
        .join(memberKeys.select(col("__v"), lit(1L).as("__is_member")), Seq("__v"), "left"))
    val verdicts = probes
      .select(col("__v"), col("__is_member"), salts.as("__h"))
      .join(bitSet, bit(col("__v"), col("__h")) === col("__bit"), "left_semi")
      .groupBy(col("__v"), col("__is_member"))
      .agg(count(lit(1)).as("__hits"))
      .where(col("__hits") === hashes.toLong)
    verdicts
      .agg(count(lit(1)).as("n_positive"),
        count_if(col("__is_member").isNotNull).as("n_true_member"))
      .crossJoin(broadcast(probes.agg(
        count(lit(1)).as("n_probed"),
        count_if(col("__is_member").isNotNull).as("n_member_probed"))))
      .select(col("n_probed"), col("n_member_probed"), col("n_positive"),
        (col("n_positive") - col("n_true_member")).as("n_false_positive"),
        expr("(1000000L * (n_positive - n_true_member)) div greatest(n_probed - n_member_probed, 1L)")
          .as("fp_ppm"))
  }

  /** Bottom-k ROW sample keyed by a unique row identifier — the
    * QUANTILE member of the sketch family (Cohen & Kaplan 2007,
    * bottom-k sketches): the k rows whose 32-bit md5 of `keyCol` is
    * smallest are a uniform corpus sample, so the sample's empirical
    * quantiles estimate the corpus's. The frame is `(u, v)` — hash and
    * integer value — and two frames over DISJOINT row sets merge by
    * union + re-bottom-k ([[quantileMerge]]): bottom-k of a union IS
    * the bottom-k of the parts' bottom-ks, so the merged estimate is
    * bit-identical to the direct one (the mergeable property HLL/CM
    * have for counts, here for distributions).
    *
    * Contract: `keyCol` unique per row — the uniqueness is the CALLER's
    * obligation, not enforced here: rows sharing a key hash to the same
    * `u` and contribute multiple CORRELATED sample points (they enter or
    * leave the bottom-k together, biasing the estimate toward duplicated
    * keys' values) — dedup upstream if keys can repeat. `valueCol`
    * integral (the family's exact-units rule). Ordering is by `(u, v)`
    * throughout, so a hash collision at the k boundary still resolves
    * identically in any engine.
    *
    * Scale shape: map-side hash + a distributed top-k heap
    * (`TakeOrderedAndProject`) — k is sketch-sized, never data-sized;
    * nothing corpus-wide shuffles.
    */
  def quantileSketch(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    df.select(
      graft.functions.TextFunctions.md5Prefix(col(keyCol).cast("string"), 8).as("u"),
      col(valueCol).cast("long").as("v"))
      .orderBy(col("u").asc, col("v").asc)
      .limit(k)
  }

  /** Merge two [[quantileSketch]] frames built with the same k over
    * disjoint row sets: union, re-take the k smallest. Sketch-sized
    * input (≤ 2k rows), sketch-sized output.
    */
  def quantileMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    a.unionByName(b).orderBy(col("u").asc, col("v").asc).limit(k)
  }

  /** Per-GROUP [[quantileSketch]] — the actual 100 TB usage pattern
    * (doc-length quantiles per source, latency quantiles per endpoint):
    * the k rows with the smallest key hash WITHIN each group, the same
    * frame and merge algebra per group. Output: (`group`, `u`, `v`).
    *
    * Scale shape: ONE group-keyed exchange; the `row_number ≤ k` filter
    * lets Catalyst insert a PARTIAL WindowGroupLimit below the shuffle
    * (the politeness-window pin in PlanShapeSpec covers the same
    * contract), so a mega-group contributes at most k rows per upstream
    * task — group skew is bounded map-side.
    */
  def quantileSketchByGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      valueCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(
      Window.partitionBy(col("group")).orderBy(col("u").asc, col("v").asc))
    df.select(col(groupCol).as("group"),
      graft.functions.TextFunctions.md5Prefix(col(keyCol).cast("string"), 8).as("u"),
      col(valueCol).cast("long").as("v"))
      .withColumn("__rn", rn).where(col("__rn") <= k).drop("__rn")
  }

  /** Per-group quantile estimates from a [[quantileSketchByGroup]]
    * frame: [[quantileEstimate]]'s lower-empirical-quantile rule, keyed.
    * Output: one row per (group, requested ppm). The rank window rides
    * the sketch's group partitioning — sketch-sized frames, k rows per
    * group at most.
    */
  def quantileEstimateByGroup(sketch: DataFrame, quantilesPpm: Seq[Long]): DataFrame = {
    require(quantilesPpm.nonEmpty && quantilesPpm.forall(q => q >= 0 && q <= 1000000),
      s"quantiles must be ppm fractions in [0, 1000000]: $quantilesPpm")
    import org.apache.spark.sql.expressions.Window
    val g = Window.partitionBy(col("group"))
    val ranked = sketch
      .withColumn("__rn", row_number().over(g.orderBy(col("v").asc, col("u").asc)))
      .withColumn("n_sample", count(lit(1)).over(g))
    val qs = sketch.sparkSession.range(1)
      .select(explode(typedLit(quantilesPpm)).as("q_ppm"))
    ranked.join(broadcast(qs),
      col("__rn") === greatest(lit(1L), expr("(q_ppm * n_sample + 999999L) div 1000000L")))
      .select(col("group"), col("q_ppm"), col("v").as("est"), col("n_sample"))
  }

  /** Quantile estimates from a [[quantileSketch]] frame: for each
    * requested ppm fraction q, the value at rank
    * `max(1, ceil(q·n_sample / 10⁶))` of the sample sorted by
    * `(v, u)` — the lower empirical quantile, all-integer arithmetic.
    * Output: one row per requested quantile (`q_ppm`, `est`,
    * `n_sample`).
    *
    * The global row_number window runs on ONE partition by design —
    * the input is a k-row sketch, never the corpus. The sample count
    * rides the same single-partition window pass (a separate `.agg`
    * would re-evaluate the sketch subplan — a second corpus-wide top-k
    * for a [[quantileSketch]] input).
    */
  def quantileEstimate(sketch: DataFrame, quantilesPpm: Seq[Long]): DataFrame = {
    require(quantilesPpm.nonEmpty && quantilesPpm.forall(q => q >= 0 && q <= 1000000),
      s"quantiles must be ppm fractions in [0, 1000000]: $quantilesPpm")
    import org.apache.spark.sql.expressions.Window
    val ranked = sketch
      .withColumn("__rn", row_number().over(Window.orderBy(col("v").asc, col("u").asc)))
      .withColumn("n_sample", count(lit(1)).over(Window.partitionBy()))
    val qs = sketch.sparkSession.range(1)
      .select(explode(typedLit(quantilesPpm)).as("q_ppm"))
    broadcast(qs).join(ranked,
      col("__rn") === greatest(lit(1L), expr("(q_ppm * n_sample + 999999L) div 1000000L")))
      .select(col("q_ppm"), col("v").as("est"), col("n_sample"))
  }
}
