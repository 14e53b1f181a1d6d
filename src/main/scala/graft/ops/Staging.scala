package graft.ops

import org.apache.spark.sql.{DataFrame, GraftStagedLeaf}

/** Eager materialization for iterative/self-joining operators that must
  * not re-run their upstream plan per branch or per round.
  *
  * Every staged frame is a CAPPED-STATS LEAF ([[GraftStagedLeaf]]): the
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
  * Two postures, and the SparkContext's checkpoint dir chooses (the
  * rule Spark's own iterative MLlib estimators follow):
  *
  *  - no checkpoint dir (the default): `localCheckpoint()` — eager,
  *    truncates lineage to an RDD leaf, stores blocks
  *    non-fault-tolerantly. Fastest, and the right call on local mode /
  *    dedicated clusters: an executor loss kills the query instead of
  *    recomputing.
  *  - a checkpoint dir (`SparkContext.setCheckpointDir` or
  *    `spark.checkpoint.dir`, on cluster-visible storage): an eager
  *    reliable `checkpoint()` — fault-tolerant AND lineage-truncating,
  *    the posture for preemptible clusters and very long iterative runs
  *    (multi-hundred-round BPE, 50-iteration PageRank). Recovery
  *    re-READS the checkpoint files rather than recomputing. Spark does
  *    NOT delete reliable checkpoints by default, so a long run writes
  *    one state snapshot per staged round and keeps them all — set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
  *    ContextCleaner removes each round's files once its RDD is
  *    unreferenced, and plan checkpoint-dir capacity for at least a few
  *    concurrent snapshots either way.
  *
  * Both postures are eager, so a `Dataset.observe` metric on the staged
  * frame is delivered by its staging job ([[Fixpoint]] reads loop
  * convergence that way), and neither holds a CacheManager entry to
  * release.
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

  def stage(df: DataFrame): DataFrame = {
    maybeExplain(df, stageCalls.get() + 1, "stage")
    stageCalls.incrementAndGet()
    materialize(df, None)
  }

  /** The one posture choice behind [[stage]], [[stageHash]] and [[pin]];
    * `layout` is the hash partitioning the returned leaf declares.
    */
  private def materialize(df: DataFrame, layout: Option[(Seq[String], Int)]): DataFrame = {
    val ckpt =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    GraftStagedLeaf.cappedCheckpoint(ckpt, df, layout)
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
    * [[org.apache.spark.sql.GraftStagedLeaf.cappedCheckpoint]] for
    * the full contract).
    */
  def stageHash(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val p = df.sparkSession.sparkContext.defaultParallelism
    val shaped = df.repartition(p, keys.map(col): _*)
    maybeExplain(shaped, stageCalls.get() + 1, "stage")
    stageCalls.incrementAndGet()
    materialize(shaped, Some((keys, p)))
  }

  /** Eager materialization whose RESULT must be pinned exactly once —
    * used where the staged plan is execution-nondeterministic (sampled
    * range boundaries, [[Normalize.denseIds]]) and therefore must never
    * be recomputed. Staged like [[stage]] but counted as no round: without
    * a checkpoint dir an executor loss fails the query (and the retry
    * re-pins fresh boundaries, still correct end-to-end); with one, a
    * lost executor re-READS the pinned blocks instead.
    */
  def pin(df: DataFrame): DataFrame = {
    maybeExplain(df, stageCalls.get(), "pin")
    materialize(df, None)
  }
}
