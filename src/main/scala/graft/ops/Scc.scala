package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the missing
  * sibling of [[Components.connectedComponents]] (which treats edges as
  * undirected). SCCs are the cycle structure of a link/citation/
  * redirect graph: inside an SCC every page reaches every other, and
  * the condensation (SCCs contracted to single nodes) is the DAG a
  * crawl-frontier or dedup-canonicalization pass actually wants to
  * topologically order. Reference behavior modeled: the reference
  * pipeline has no graph engine at all — this is part of the §2.9
  * extension surface (trace/span correlation graphs, doc-link graphs).
  *
  * Algorithm: iterative TRIM + forward MIN-COLORING + backward reach —
  * the coloring member of the FW-BW/coloring family used by every
  * distributed SCC system (Orzan's coloring; Slota-Rajamanickam-
  * Madduri's trim+FW-BW), chosen over Tarjan (inherently sequential,
  * driver-sided) because every phase here is an equi-join + agg the
  * optimizer can shuffle on the node key:
  *
  *  1. TRIM: a node with no incoming or no outgoing active edge cannot
  *     sit on a cycle — it is its own SCC. Peel repeatedly (each peel
  *     exposes new degree-0 nodes); this dissolves the DAG fringe for
  *     the cost of a semi-join per round, so the expensive coloring
  *     only ever runs on the cyclic core.
  *  2. COLOR: propagate `color(v) = min(v, min color over in-neighbors)`
  *     to fixpoint — color(v) = the smallest node that reaches v.
  *  3. ROOTS: nodes with color(r) = r. The globally smallest remaining
  *     node is always a root, so every outer round peels ≥ 1 SCC —
  *     termination is structural, not probabilistic.
  *  4. BACKWARD: from each root r, grow membership backward along
  *     edges restricted to color-r nodes. A node u so reached has
  *     color(u) = r (so r →* u) and u →* r through the reach chain —
  *     mutual reachability, hence SCC(r) exactly. And r = min(SCC(r)):
  *     every member v has r as an ancestor (color v = r) and v as an
  *     ancestor of r, so r ≤ v — the emitted label is the canonical
  *     min-id label with no relabel pass.
  *  5. Remove the peeled SCCs and their edges; repeat.
  *
  * Outer rounds = the number of "peel layers" of the condensation —
  * small on real link graphs (a giant SCC plus fringe); adversarial
  * chains of SCCs degrade to O(chain) rounds, which is the documented
  * behavior of the whole algorithm family. `maxIter` bounds every loop
  * (outer, trim, color, reach share the budget) and the operator THROWS
  * on exhaustion rather than returning a wrong labeling — the
  * [[GraphMetrics.kTruss]] contract. Trim, color and backward-reach
  * rounds each run TWO propagation steps per budgeted round, so a
  * budget of k covers up to 2k peels/steps/hops of those phases.
  *
  * Scale shape per round: node-keyed equi-joins and map-side-combined
  * min-aggs only — no cross join, no collect. Every round is staged
  * ([[Fixpoint]]) so self-joining lineage stays flat, and on the
  * `reliable` posture the final labels are pinned eagerly and every
  * intermediate frame released.
  *
  * Returns `(id, component)` with `component` = min node id of the SCC;
  * isolated nodes of `edges`' endpoint universe label themselves.
  */
object Scc {

  def stronglyConnected(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 60,
      reliable: Boolean = false): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val spark = edges.sparkSession
    val fx = new Fixpoint("stronglyConnected", reliable)
    // self-loops are cycle-irrelevant (a node is always mutually
    // reachable with itself); duplicates only inflate the joins. The
    // node UNIVERSE keeps self-loop-only nodes — they are singleton SCCs.
    // A null endpoint is not a node; the other endpoint of its row is.
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val e0 = fx.stage(raw.where(col("src") =!= col("dst")).distinct())
    val (nodes0, n0) = fx.stage(
      // union-of-selects kept deliberately (r18): an explode variant (one
      // scan instead of two) measured 0.89x on q324 in an interleaved 2x2
      // A/B — the narrow projection is 1-2 map tasks at bench scale, so
      // halving the scans halves the map parallelism of the node build.
      raw.select(col("src").as("id")).union(raw.select(col("dst").as("id"))).distinct()
        .where(col("id").isNotNull),
      count(lit(1)))
    val labels0 = fx.stage(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, component BIGINT")))
    // The phases share maxIter: each phase's cap is what is left of it.
    // A phase charges only the rounds that changed its state (+ 1 to the
    // cap for the confirming round); coloring also charges its outer
    // round. Pure projections of staged leaves (label accumulation) stay
    // LAZY — narrow maps over leaves add no lineage depth. The trim and
    // color fixpoints run TWO propagation steps per staged round (these
    // loops are scheduling-latency-bound): the steps are written
    // SINGLE-REFERENCE (one explode over the input instead of a
    // self-union), so nesting two of them costs exactly two steps' data
    // work, and the one subplan that does appear twice (the double-peel's
    // inner keep) is deduplicated by Spark's ReuseExchange.
    var left = maxIter.toLong
    def phase[S](name: String, init: S, charge: Int = 0)(round: S => (S, Boolean)): S = {
      val (s, changed) = fx.loop(init, left + 1 - charge, Fixpoint.Fail(s"maxIter=$maxIter",
        s"its $name phase did not converge — raise maxIter (the graph's condensation " +
          "is deeper than the budget)")) { case (s, _) => round(s) }
      left -= changed + charge
      s
    }
    // KEEP set of one trim peel (nodes with BOTH an in and an out edge),
    // from one pass over the edge frame: each edge emits a has-out vote
    // for src and a has-in vote for dst; max-agg folds the votes
    // map-side. Referencing `ed` once is what lets two peels nest.
    def keepOf(ed: DataFrame): DataFrame =
      ed.select(explode(array(
          struct(col("src").as("id"), lit(1).as("o"), lit(0).as("i")),
          struct(col("dst").as("id"), lit(0).as("o"), lit(1).as("i")))).as("p"))
        .select(col("p.id").as("id"), col("p.o").as("o"), col("p.i").as("i"))
        .groupBy(col("id")).agg(max(col("o")).as("o"), max(col("i")).as("i"))
        .where(col("o") === 1 && col("i") === 1)
        .select(col("id"))
    def restrict(ed: DataFrame, keep: DataFrame): DataFrame =
      ed.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
    // active graph: nodes, their count, edges among them, labels so far
    type G = (DataFrame, Long, DataFrame, DataFrame)
    // ---- 1. trim the acyclic fringe (two peels per staged round) ------
    // keep ⊆ nodes, so a round peeled nodes iff it kept fewer
    def trim(g: G): G = if (g._2 == 0L) g else phase("trim", g) {
      case (nodes, n, e, labels) =>
        val (keep, k) = fx.stage(keepOf(restrict(e, keepOf(e))), count(lit(1)))
        if (k == n) ((nodes, n, e, labels), false)
        else ((keep, k, fx.stage(restrict(e, keep)), labels.unionByName(
          nodes.join(keep, Seq("id"), "left_anti").select(col("id"), col("id").as("component")))),
          true)
    }
    @annotation.tailrec
    def peel(g: G): DataFrame = {
      val (nodes, n, e, labels) = g
      if (n == 0L) labels
      else {
        // ---- 2. forward min-coloring to fixpoint (two steps/round) ----
        // one step: each (id, color) row left-joined to its out-edges
        // emits (id, color) — self-retention — and (dst, color) —
        // propagation; the min-agg folds both map-side. Single input
        // reference, so colorStep(colorStep(_)) is two steps, one job.
        def colorStep(c: DataFrame): DataFrame =
          c.join(e, col("id") === col("src"), "left")
            .select(explode(array(
              struct(col("id"), col("color")),
              struct(coalesce(col("dst"), col("id")).as("id"), col("color")))).as("p"))
            .select(col("p.id").as("id"), col("p.color").as("color"))
            .groupBy(col("id")).agg(min(col("color")).as("color"))
        val color = phase("color", nodes.select(col("id"), col("id").as("color")), charge = 1) {
          color =>
            val (merged, lowered) = fx.stage(color.join(
              colorStep(colorStep(color)).select(col("id"), col("color").as("nc")), Seq("id"))
              .select(col("id"), col("color"), col("nc")),
              count(when(col("nc") < col("color"), true)))
            (merged.select(col("id"), col("nc").as("color")), lowered > 0L)
        }
        val colorLeaf = fx.stage(color)
        // ---- 3+4. roots, then backward reach inside each color class -
        // reach accumulates as a lazy union of staged per-round leaves:
        // O(rounds) plan width, O(1) depth — no per-union staging job.
        // Two hops per staged round, like trim/color: the first hop's
        // lazy subplan appears more than once inside the second's (the
        // accumulate-then-anti shape is inherently multi-reference) and
        // is deduplicated by ReuseExchange; the hop frames are
        // frontier-sized either way.
        def reachStep(r: DataFrame): DataFrame = r
          .join(e, col("id") === col("dst"))
          .select(col("component"), col("src").as("pid"))
          .join(colorLeaf.select(col("id").as("pid"), col("color")), Seq("pid"))
          .where(col("color") === col("component"))
          .select(col("component"), col("pid").as("id"))
          .distinct()
          .join(r, Seq("component", "id"), "left_anti")
        val reach = phase("reach", fx.stage(colorLeaf.where(col("color") === col("id"))
          .select(col("color").as("component"), col("id")))) { reach =>
          val hop1 = reachStep(reach)
          // hop2 is anti-joined against reach ∪ hop1, so the two hop
          // sets are disjoint by construction — plain union, no distinct
          val (preds, grown) = fx.stage(
            hop1.unionByName(reachStep(reach.unionByName(hop1))), count(lit(1)))
          if (grown == 0L) (reach, false) else (reach.unionByName(preds), true)
        }
        // ---- 5. commit the peeled SCCs, shrink the active graph ------
        val (rest, m) = fx.stage(nodes.join(reach.select(col("id")), Seq("id"), "left_anti"),
          count(lit(1)))
        peel(trim((rest, m, fx.stage(e
          .join(rest.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(rest.select(col("id").as("dst")), Seq("dst"), "left_semi")),
          labels.unionByName(reach.select(col("id"), col("component"))))))
      }
    }
    fx.finish(peel(trim((nodes0, n0, e0, labels0))), eager = true)
  }

  /** Longest-path LAYERING of a DAG: `layer(v)` = the length of the
    * longest directed path ending at v (sources sit at layer 0) — the
    * critical-path level a topological scheduler, lineage-depth audit,
    * or condensation-DAG planner assigns. The op REQUIRES acyclicity
    * and proves it operationally: on a cyclic input the max-propagation
    * never fixes and the `maxIter` budget throws (plus an upfront
    * self-loop check that names the cheapest cycle immediately), so a
    * wrong layering is never returned — the [[stronglyConnected]] /
    * kTruss contract. Feed arbitrary directed graphs through
    * [[condensationEdges]] first.
    *
    * Scale shape per round: ONE node-keyed equi-join + a
    * map-side-combined max-agg per step, TWO steps per staged round
    * (the step is single-reference, so nesting costs exactly two
    * steps' data work); rounds = ⌈DAG depth / 2⌉. `maxIter` budgets
    * the doubled rounds that raise a layer, so k covers a DAG up to ~2k
    * deep.
    */
  def dagLayers(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 60,
      reliable: Boolean = false): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val fx = new Fixpoint("dagLayers", reliable)
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val (e, loops) = fx.stage(raw.distinct(), count(when(col("src") === col("dst"), true)))
    // a self-loop is the cheapest cycle witness — name it now instead of
    // burning maxIter rounds (the culprit is fetched only when one exists)
    require(loops == 0L, "dagLayers: self-loop at node " +
      s"${e.where(col("src") === col("dst")).limit(1).collect().head.get(0)} — input is not a DAG")
    val (nodes, n) = fx.stage(
      // union-of-selects kept deliberately — explode measured 0.79x on
      // q328 (same class as the [[stronglyConnected]] node build above)
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct(),
      count(lit(1)))
    // one longest-path step, single-reference (the colorStep idiom of
    // [[stronglyConnected]]): each (id, layer) row left-joined to its
    // out-edges emits (id, layer) — self-retention — and
    // (dst, layer + 1) — propagation; max-agg folds both map-side
    def layerStep(l: DataFrame): DataFrame =
      l.join(e, col("id") === col("src"), "left")
        .select(explode(array(
          struct(col("id"), col("layer")),
          struct(coalesce(col("dst"), col("id")).as("id"),
            (col("layer") + when(col("dst").isNull, 0L).otherwise(1L)).as("layer")))).as("p"))
        .select(col("p.id").as("id"), col("p.layer").as("layer"))
        .groupBy(col("id")).agg(max(col("layer")).as("layer"))
    val seed = nodes.select(col("id"), lit(0L).as("layer"))
    // maxIter counts the rounds that raised a layer, not the confirming one
    val layers = if (n == 0L) seed else fx.loop(seed, maxIter + 1L, Fixpoint.Fail(
        s"maxIter=$maxIter", "the input has a cycle, or its depth exceeds the budget " +
          "of 2 steps per round (raise maxIter)")) { case (lvl, _) =>
      val (merged, raised) = fx.stage(lvl.join(
        layerStep(layerStep(lvl)).select(col("id"), col("layer").as("nl")), Seq("id"))
        .select(col("id"), col("layer"), col("nl")),
        count(when(col("nl") > col("layer"), true)))
      (merged.select(col("id"), col("nl").as("layer")), raised > 0L)
    }._1
    fx.finish(layers, eager = true)
  }

  /** Edges of the CONDENSATION — the DAG obtained by contracting every
    * SCC to its canonical (min-id) node: one row per ordered SCC pair
    * with the number of original edges crossing it. This is what a
    * topological schedule, cycle-safe dedup canonicalization, or a
    * crawl-frontier planner consumes. Shape: two node-keyed equi-joins
    * against the label table + one map-side-combined count.
    */
  def condensationEdges(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 60,
      reliable: Boolean = false): DataFrame = {
    val labels = stronglyConnected(edges, srcCol, dstCol, maxIter, reliable)
    edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .join(labels.select(col("id").as("src"), col("component").as("src_scc")), Seq("src"))
      .join(labels.select(col("id").as("dst"), col("component").as("dst_scc")), Seq("dst"))
      .where(col("src_scc") =!= col("dst_scc"))
      .groupBy(col("src_scc"), col("dst_scc"))
      .agg(count(lit(1)).as("n_edges"))
  }
}
