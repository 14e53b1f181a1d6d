package graft.ops

import org.apache.spark.sql.{DataFrame, GraftStagedLeaf}
import org.apache.spark.storage.StorageLevel

/** Caller-selectable materialization for iterative/self-joining
  * operators that must not re-run their upstream plan per branch or per
  * round.
  *
  * Three postures, one switch plus one conf:
  *
  * Every posture returns a CAPPED-STATS LEAF ([[GraftStagedLeaf]]): the
  * checkpoint APIs preserve the origin plan's estimated statistics, and
  * inside a loop whose rounds join k staged frames those estimates
  * multiply per round and are carried into the next round's leaves —
  * sizeInBytes bit-length grows ~k× per round, and by a handful of
  * rounds the driver spends seconds per planning pass doing BigInteger
  * division in `canBroadcastBySize` (measured: a 45-million-bit size
  * estimate over 136 actual rows in Borůvka round 3). The leaf keeps
  * the origin estimate but CAPS it at 2^50, so small staged frames stay
  * statically broadcastable while the per-leaf bit length is a constant
  * and growth resets at every staging boundary.
  *
  *  - `reliable = false` (default): `localCheckpoint()` — EAGER (runs a
  *    job now), truncates lineage to an RDD leaf, stores blocks
  *    non-fault-tolerantly. Fastest, and the right call on local mode /
  *    dedicated clusters: an executor loss kills the query instead of
  *    recomputing.
  *  - `reliable = true`: `persist(DISK_ONLY)` over a FRESH LEAF plan
  *    wrapping the staged plan's executed RDD — lineage KEPT at the RDD
  *    level, so a lost block is recomputed from source instead of
  *    failing the job. The posture for preemptible/spot clusters; costs
  *    plan re-execution (not just block reload) only on actual executor
  *    loss. Only valid when the staged plan is DETERMINISTIC (recompute
  *    must reproduce the lost partition bit-identically) — every call
  *    site stages a pure function of its input. The leaf wrap is what
  *    keeps iterative SELF-JOINING loops analyzable: a bare
  *    `df.persist` keeps the full LOGICAL tree, and any loop that
  *    references its round state twice (pointer-jumping contraction,
  *    star-contraction's symmetrize-union, triangle enumeration's
  *    three-way self-join) then doubles-or-worse the analyzed plan per
  *    round — 2^rounds tree growth that hangs Catalyst analysis long
  *    before execution is the bottleneck (observed: Borůvka's jump loop
  *    at 5 jumps × 6 rounds). With the leaf, the logical plan is O(1)
  *    per staged frame on every posture while the wrapped RDD's DAG —
  *    an immutable, executor-side structure the driver never re-walks —
  *    still recomputes lost partitions from source. Trades kept: the
  *    leaf PRESERVES output partitioning/ordering and the origin's
  *    (capped) statistics — see [[org.apache.spark.sql.GraftStagedLeaf]]
  *    for why both matter — and building the RDD executes upstream
  *    shuffle stages eagerly under AQE.
  *  - `reliable = true` AND `spark.graft.reliablePin=true` (with
  *    `SparkContext.setCheckpointDir` pointing at cluster-visible
  *    storage): a REAL eager `checkpoint()` — fault-tolerant AND
  *    lineage-truncating, the best posture for very long iterative runs
  *    (multi-hundred-round BPE, 50-iteration PageRank) when the cluster
  *    has a checkpoint dir to offer. Recovery re-READS the checkpoint
  *    files rather than recomputing. Storage honesty: Spark does NOT
  *    delete reliable checkpoints by default, so a long run writes one
  *    state snapshot per staged round and keeps them all — set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
  *    ContextCleaner removes each round's files once its RDD is
  *    unreferenced, and plan checkpoint-dir capacity for at least a few
  *    concurrent snapshots either way.
  *
  * Callers that need eager + fault-tolerant for NON-deterministic
  * stages (sampled range boundaries that must be fixed once,
  * [[Normalize.denseIds]]) use [[pin]]: `reliable`'s recompute
  * semantics cannot apply there (recompute would resample the
  * boundaries and desynchronize offsets), so only the checkpoint path
  * provides fault tolerance — same conf, same checkpoint dir.
  */
private[graft] object Staging {

  /** Monotone count of [[stage]] calls — each is one eager
    * materialization job, i.e. one scheduling round of an iterative op.
    * Read by specs that pin an operator's per-fixpoint round budget
    * (job-level counts are not usable for that: AQE materializes every
    * exchange as its own job, and non-AQE limit probes run scale-up
    * waves — both measure Spark internals, not the op's loop shape).
    */
  private[graft] val stageCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  private def reliablePin(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.reliablePin", "false").toBoolean

  private def requireCheckpointDir(df: DataFrame): Unit =
    require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "spark.graft.reliablePin=true requires SparkContext.setCheckpointDir " +
        "(cluster-visible storage, e.g. an HDFS/S3 path)")

  /** Opt-in plan evidence (r18, measurement tooling): when
    * `spark.graft.stageExplainDir` is set, every staged frame's FORMATTED
    * plan is written there (numbered by [[stageCalls]]) before
    * materialization. Staged leaves hide their upstream plan from a final
    * `explain` — this records the true executed shape of every staging
    * job (the optimization rounds' `plans/rNN` dumps). Off by default;
    * zero overhead when unset.
    */
  private def maybeExplain(df: DataFrame, n: Long, tag: String): Unit =
    df.sparkSession.conf.getOption("spark.graft.stageExplainDir").foreach { dir =>
      try {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, f"$tag%s_$n%04d.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      } catch { case _: Throwable => () }
    }

  def stage(df: DataFrame, reliable: Boolean): DataFrame = {
    maybeExplain(df, stageCalls.get() + 1, "stage")
    stageCalls.incrementAndGet()
    if (reliable && reliablePin(df)) {
      requireCheckpointDir(df)
      GraftStagedLeaf.cappedCheckpoint(df.checkpoint(), df)
    } else if (reliable) {
      // Leaf-wrapped persist (see scaladoc): the RDD carries the
      // fault-tolerance lineage; the DataFrame plan over it is a leaf,
      // so loop plans stay flat. Persisting the WRAPPER (not the input)
      // keeps the CacheManager handle on the frame we return — the
      // materialize-then-release choreography of [[Fixpoint.finish]]
      // (`count()` then `unpersist()`) works on it, and uncaching matches
      // because the returned object IS the persisted one (uncache is
      // sameResult-based; a projection would silently no-op).
      GraftStagedLeaf(df).persist(StorageLevel.DISK_ONLY)
    } else GraftStagedLeaf.cappedCheckpoint(df.localCheckpoint(), df)
  }

  /** [[stage]] that both RE-SHAPES and DECLARES a hash layout (r18): the
    * staged frame is repartitioned `hash(keys, defaultParallelism)` (an
    * explicit-count exchange — AQE-coalescing-exempt, and above any join
    * AQE might rewrite underneath) and the returned leaf CARRIES that
    * partitioning, so iterative consumers that join/aggregate on `keys`
    * skip their per-round exchange.
    *
    * Why this exists: under AQE every checkpoint/cache boundary loses its
    * output partitioning (`LogicalRDD.fromDataset` sees an
    * `AdaptiveSparkPlanExec` and reports Unknown), so a loop that staged
    * its loop-invariant frames re-shuffled them EVERY round — measured on
    * q69_pagerank: the cached edge list re-exchanged once per iteration,
    * the node list four times per run, despite both having been
    * explicitly repartitioned before materialization. The declaration is
    * physically true by construction — checkpointed partition i holds
    * exactly the repartition exchange's bucket i (see
    * [[org.apache.spark.sql.GraftStagedLeaf.cappedCheckpointHash]] for
    * the full contract).
    */
  def stageHash(df: DataFrame, keys: Seq[String], reliable: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val p = df.sparkSession.sparkContext.defaultParallelism
    val shaped = df.repartition(p, keys.map(col): _*)
    maybeExplain(shaped, stageCalls.get() + 1, "stage")
    stageCalls.incrementAndGet()
    if (reliable && reliablePin(df)) {
      requireCheckpointDir(df)
      GraftStagedLeaf.cappedCheckpointHash(shaped.checkpoint(), shaped, keys, p)
    } else if (reliable) {
      GraftStagedLeaf.applyHash(shaped, keys, p).persist(StorageLevel.DISK_ONLY)
    } else GraftStagedLeaf.cappedCheckpointHash(shaped.localCheckpoint(), shaped, keys, p)
  }

  /** Eager materialization whose RESULT must be pinned exactly once —
    * used where the staged plan is execution-nondeterministic (sampled
    * range boundaries) and therefore must never be recomputed, not even
    * on failure recovery.
    *
    *  - default: `localCheckpoint()` — eager, non-fault-tolerant; an
    *    executor loss fails the query (and the retry re-pins fresh
    *    boundaries, still correct end-to-end).
    *  - `spark.graft.reliablePin=true`: eager reliable `checkpoint()`
    *    into the caller-provided `SparkContext.setCheckpointDir`
    *    (HDFS/S3 on a real cluster) — a lost executor re-READS the
    *    pinned blocks instead of failing. Requires the checkpoint dir;
    *    fails fast with instructions when unset.
    */
  def pin(df: DataFrame): DataFrame = {
    maybeExplain(df, stageCalls.get(), "pin")
    if (reliablePin(df)) {
      requireCheckpointDir(df)
      GraftStagedLeaf.cappedCheckpoint(df.checkpoint(), df)
    } else GraftStagedLeaf.cappedCheckpoint(df.localCheckpoint(), df)
  }
}
