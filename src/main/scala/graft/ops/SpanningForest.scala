package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Borůvka minimum spanning forest over a weighted pair list — the
  * cheapest-connection skeleton of a similarity/affinity graph: the MSF
  * of a near-duplicate candidate graph (weight = distance) is its
  * single-linkage dendrogram backbone, and cutting it at a threshold IS
  * single-linkage clustering at that threshold ([[singleLinkage]]).
  *
  * Algorithm (classic distributed Borůvka): every component elects its
  * minimum outgoing edge (total order `(w, u, v)` — deterministic under
  * ties), elected edges join the forest, touched components contract,
  * repeat. Components at least halve per round, so O(log n) rounds
  * regardless of topology — the property that makes Borůvka (and not
  * Prim/Kruskal, both inherently sequential) THE distributed MSF
  * algorithm.
  *
  * The loop CONTRACTS THE EDGE TABLE, not a node-label table: state is
  * the component-level multigraph compressed to its minimum
  * representative per component pair `(w, u, v, cu, cv)` — original
  * endpoints kept so elected representatives feed the forest verbatim.
  * Each round relabels that table through the contraction map and
  * re-compresses (`groupBy(cu, cv).min(struct(w, u, v))` — min of mins
  * preserves every future election exactly, ties included). So the
  * frame the round-dominant joins run over SHRINKS GEOMETRICALLY —
  * bounded by both the input edge count and the square of the
  * (halving) component count — where a node-relabeling formulation
  * re-joins the FULL input edge list against a node-sized label table
  * every round.
  *
  * Contraction is hash-min POINTER JUMPING over the elected edges, not
  * a nested [[Components.connectedComponents]] call: under a strict
  * total edge order, the "component → other endpoint of its elected
  * edge" map is a functional graph whose every cycle has length exactly
  * 2 (if c's minimum outgoing edge e leads to d and d's leads back to
  * c via f ≠ e, then f — also outgoing from c — would beat e for c;
  * contradiction, so mutual picks are the SAME edge). Breaking each
  * 2-cycle toward its smaller endpoint leaves rooted trees, and
  * pointer doubling (`p ← p(p)`) collapses them in COMPONENT-sized
  * self-joins. The doubling is batched: the 2-cycle break and two
  * squarings build lazily over the staged frames (the leafed staging
  * keeps the self-referencing plan a handful of leaves, not 2^jumps),
  * so each staged jump raises the pointer map to its FOURTH power —
  * depth quarters per materialized job, and shallow rounds (hash-min
  * elections mostly produce stars) settle on the first jump.
  *
  * Determinism: the elected edge per component is the minimum of a
  * total order, so the returned forest is a pure function of the input;
  * with distinct weights it is THE unique MSF. With tied weights the
  * edge CHOICE may differ from other correct algorithms, but every MSF
  * of a graph has the same multiset of weights — per-component edge
  * count and total weight are invariants any reference implementation
  * must agree on (what q305's oracle checks).
  *
  * Scale shape per round: one per-component min aggregation (map-side
  * combined: one candidate row per component per partition), O(log
  * depth / 2) component-sized pointer-jump rounds, and one
  * relabel-and-compress (two joins + one agg) over the SHRINKING edge
  * table; per-round state (edge table, elected edges, pointer maps) is
  * staged ([[Fixpoint]], caller-selectable fault tolerance via
  * `reliable`). Nothing ever collects. Resource lifecycle on the
  * reliable posture: the final forest is pinned and every per-round
  * staged frame — including each round's elected-edge frame the forest
  * union lazily referenced — is then released, so a reliable MSF run
  * holds O(1), not O(log n), persisted frames after it returns (the
  * house rule: CacheManager keeps strong references, so un-released
  * loop frames outlive the query).
  */
object SpanningForest {

  /** Forest edges `(a_id, b_id, weight)` (canonical a < b). Multi-edges
    * collapse to their minimum weight first; self-loops drop. Fails
    * loudly if `maxRounds` is hit — O(log n) suffices, so that is a bug,
    * not a big graph.
    */
  def boruvka(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      wCol: String = "weight",
      maxRounds: Int = 50,
      reliable: Boolean = false): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val fx = new Fixpoint("boruvka", reliable)
    // Loop state: the component-level multigraph compressed to its
    // minimum representative per pair — (w, u, v) is the ORIGINAL edge
    // (canonical u < v, the row the forest will emit), (cu, cv) the
    // current components of its endpoints. Initially components are the
    // nodes themselves.
    val (ec0, n0) = fx.stage(pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"),
        col(wCol).cast("long").as("w"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"), col("w"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))
      .select(col("w"), col("u"), col("v"), col("u").as("cu"), col("v").as("cv")),
      count(lit(1)))
    val spark = ec0.sparkSession
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("a_id BIGINT, b_id BIGINT, weight BIGINT"))
    // a round is charged while edges between components remain
    val forest = if (n0 == 0L) none else fx.loop((ec0, none), maxRounds, Fixpoint.Fail(
        s"maxRounds=$maxRounds", "the contraction did not converge — components at least " +
          "halve per round, so this is a bug, not a big graph")) { case ((ec, forest), _) =>
      // Per-component minimum outgoing edge, total order (w, u, v) —
      // keyed by the ELECTING component (both roles matter: distinct
      // (u, v, w) picks feed the forest; the comp → other-endpoint map
      // is the contraction's parent pointer). Compression keeps the min
      // (w, u, v) per pair, so this min-of-mins elects exactly the edge
      // the uncompressed multigraph would.
      val elected = fx.stage(ec
        // explode, not union-of-selects: one scan of the staged edge
        // leaf per election instead of two (r18) — identical row multiset
        .select(explode(array(col("cu"), col("cv"))).as("comp"),
          struct(col("w"), col("u"), col("v"), col("cu"), col("cv")).as("pick"))
        .groupBy("comp").agg(min(col("pick")).as("m")))
      // Contraction. Parent pointer: each electing component points at
      // the other endpoint of its elected edge. Every parent is itself
      // an electing component (the shared edge is outgoing for it too),
      // so the self-joins below are total (inner joins lose nothing).
      val par0 = elected.select(col("comp"),
        when(col("m.cu") === col("comp"), col("m.cv")).otherwise(col("m.cu")).as("p"))
      // Break the 2-cycles (the functional graph's only cycles — see
      // the scaladoc argument): the smaller endpoint becomes its own
      // root. What remains is a forest of rooted trees. Built lazily
      // over the staged `elected` — it fuses into the first jump's job.
      val broken = par0.alias("a")
        .join(par0.alias("b"), col("a.p") === col("b.comp"))
        .select(col("a.comp").as("comp"),
          when(col("b.p") === col("a.comp") && col("a.comp") < col("a.p"), col("a.comp"))
            .otherwise(col("a.p")).as("p"))
      // Batched pointer doubling to the roots: each staged round squares
      // the map twice (break + two squarings fuse into one job on the
      // first round), so depth QUARTERS per materialized job; p^k equal
      // to p^2k pointwise forces p^k(x) to be a fixpoint, i.e. a root
      // (the break left self-loops as the only cycles), so no changed
      // pointer certifies full convergence. Depth < 2^63 needs 16
      // rounds; 32 is a bug backstop (a surviving cycle), not a
      // big-graph limit.
      val (par, _) = fx.loop(broken, 32, Fixpoint.Fail("32 pointer-jump rounds",
          "tree depth quarters per round, so this is a bug (a surviving cycle in the " +
            "elected-edge graph), not a big graph")) { case (par, _) =>
        val mid = par.alias("a")
          .join(par.alias("b"), col("a.p") === col("b.comp"))
          .select(col("a.comp").as("comp"), col("b.p").as("p"))
        val (nxt, moved) = fx.stage(mid.alias("a")
          .join(mid.alias("b"), col("a.p") === col("b.comp"))
          .select(col("a.comp").as("comp"), col("b.p").as("p"),
            (col("a.p") =!= col("b.p")).as("ch")),
          count(when(col("ch"), true)))
        (nxt.select(col("comp"), col("p")), moved > 0L)
      }
      // Relabel the edge table through the root map and re-compress.
      // Inner joins: every cu/cv in `ec` has an outgoing edge, hence
      // elected, hence has a root. Edges inside a merged component drop;
      // parallel edges between merged components collapse to their min
      // representative — the table shrinks geometrically.
      val (next, n) = fx.stage(ec
        .join(par.select(col("comp").as("cu"), col("p").as("pu")), Seq("cu"))
        .join(par.select(col("comp").as("cv"), col("p").as("pv")), Seq("cv"))
        .where(col("pu") =!= col("pv"))
        .select(col("w"), col("u"), col("v"),
          least(col("pu"), col("pv")).as("ncu"), greatest(col("pu"), col("pv")).as("ncv"))
        .groupBy(col("ncu").as("cu"), col("ncv").as("cv"))
        .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
        .select(col("m.w").as("w"), col("m.u").as("u"), col("m.v").as("v"),
          col("cu"), col("cv")),
        count(lit(1)))
      ((next, forest.unionByName(
        elected.select(col("m.u").as("a_id"), col("m.v").as("b_id"), col("m.w").as("weight"))
          .distinct())), n > 0L)
    }._1._2
    fx.finish(forest, eager = true)
  }

  /** Single-linkage clustering at `threshold`: `(id, cluster)` for every
    * node of the input graph, where two nodes share a cluster iff they
    * are connected by a path whose every edge has weight ≤ `threshold` —
    * by the standard MSF property, exactly the connected components of
    * the forest's ≤-threshold edges (a path of light edges exists in the
    * graph iff one exists in the MSF). Cluster labels are the component
    * minimum id ([[Components.connectedComponents]]' contract);
    * above-threshold-only nodes are singletons (cluster = own id).
    *
    * This is the stated point of the MSF in the near-dup pipeline: build
    * the affinity forest ONCE, then read any clustering granularity off
    * it by thresholding — no re-clustering per cut. Scale shape: one
    * [[boruvka]] (the forest is node-sized, n−c edges) + one
    * node-sized contraction + one label join.
    */
  def singleLinkage(
      pairs: DataFrame,
      threshold: Long,
      aCol: String = "a_id",
      bCol: String = "b_id",
      wCol: String = "weight",
      reliable: Boolean = false): DataFrame = {
    val nodes = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(explode(array(col("x"), col("y"))).as("id"))
      .distinct()
    val kept = boruvka(pairs, aCol, bCol, wCol, reliable = reliable)
      .where(col("weight") <= threshold)
    val comps = Components.connectedComponents(kept, reliable = reliable)
    nodes.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
  }
}
