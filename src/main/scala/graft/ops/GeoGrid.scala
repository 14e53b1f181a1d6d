package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Planar radius self-join via fixed-grid blocking — the spatial
  * near-neighbor primitive (store↔store cannibalization, cell-tower
  * coverage overlap, co-located sensor pairing) without the all-pairs
  * cross join. Coordinates are INTEGERS in caller-chosen micro-units
  * (micro-degrees, millimeters — whatever makes the radius integral):
  * every distance comparison is exact 64-bit arithmetic, so results are
  * bit-identical across engines and partitionings.
  */
object GeoGrid {

  /** All unordered point pairs within `radius` (Euclidean, inclusive):
    * `(a_id, b_id, dist2)` with `a_id < b_id` and
    * `dist2 = (Δx)² + (Δy)² ≤ radius²`.
    *
    * Grid blocking: the plane is tiled into radius-sized square cells
    * (`⌊x/r⌋, ⌊y/r⌋`); any pair within `r` lies in the same or an
    * adjacent cell, so replicating each point into its 3×3 cell
    * neighborhood and equi-joining replicas against home cells finds
    * every qualifying pair — and finds it EXACTLY ONCE: the pair (a, b)
    * with `a_id < b_id` surfaces only where a's replica lands on b's
    * home cell (the mirrored match fails the id order).
    *
    * Scale shape: a 9× replication of narrow (id, x, y, cell) rows on
    * the LEFT side only, one equi-join on the cell key — shuffle cost
    * 10·n narrow rows, never n². Per-cell work is |cell|·|neighborhood|;
    * dense cells (urban cores) are the skew axis and land on distinct
    * reducer keys per cell, with AQE skew-split finishing the job. Cell
    * size IS the radius — the standard fixed-grid trade; much larger
    * radii with clustered data warrant a coarser quad-tree, finer radii
    * just shrink the cells.
    *
    * Overflow: |Δ| ≤ 2r pre-filter, so dist2 ≤ 8r² — exact for
    * r < 10⁹ micro-units.
    */
  def radiusPairs(
      points: DataFrame,
      idCol: String,
      xCol: Column,
      yCol: Column,
      radius: Long): DataFrame = {
    require(radius >= 1, s"radius must be >= 1: $radius")
    val pts = points.select(
      col(idCol).cast("long").as("id"),
      xCol.cast("long").as("x"),
      yCol.cast("long").as("y"))
    // floor-div keeps negative coordinates on the correct cell (Spark's
    // long `div` truncates toward zero — wrong side of the origin).
    val home = pts
      .withColumn("__cx", floor(col("x").cast("double") / radius).cast("long"))
      .withColumn("__cy", floor(col("y").cast("double") / radius).cast("long"))
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
    val repl = home
      .withColumn("__o", explode(offsets))
      .select(col("id"), col("x"), col("y"),
        (col("__cx") + col("__o.dx")).as("__cx"),
        (col("__cy") + col("__o.dy")).as("__cy"))
    val dx = col("a.x") - col("b.x")
    val dy = col("a.y") - col("b.y")
    repl.alias("a")
      .join(home.alias("b"),
        col("a.__cx") === col("b.__cx") && col("a.__cy") === col("b.__cy") &&
          col("a.id") < col("b.id") &&
          dx * dx + dy * dy <= lit(radius * radius))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        (dx * dx + dy * dy).as("dist2"))
  }

  /** DBSCAN (Ester et al., KDD 1996) on the integer plane — density
    * clustering for spatial curation (dedup of co-located records, POI
    * cluster extraction, sensor blob detection): a point is CORE when
    * its ε-neighborhood (inclusive of itself) holds ≥ `minPts` points;
    * clusters are the connected components of the core-core ε-graph;
    * non-core points adjacent to a core are BORDER; the rest is NOISE
    * (`cluster = -1`).
    *
    * Determinism: classic DBSCAN leaves border-point membership
    * scan-order-dependent (a border adjacent to two clusters joins
    * whichever was expanded first); here a border joins the cluster
    * with the SMALLEST label — a pure function of the input, which is
    * what the exactness contract (and the oracle) requires. Cluster
    * labels are min core id per cluster ([[graft.ops.Components]]
    * semantics; isolated cores self-label).
    *
    * Scale shape: the ε-graph comes from [[radiusPairs]] (grid-blocked,
    * never all-pairs); degree counts and border election are
    * map-side-combined aggs; the only iteration is
    * `connectedComponents` over the CORE subgraph (large-star/
    * small-star O(log n) rounds). Output `(id, cluster, kind)` for
    * every input point.
    */
  def dbscan(
      points: DataFrame,
      idCol: String,
      xCol: Column,
      yCol: Column,
      eps: Long,
      minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val fx = new Fixpoint("dbscan")
    val pts = fx.stage(points.select(col(idCol).cast("long").as("id")))
    val pairs = fx.stage(
      radiusPairs(points, idCol, xCol, yCol, eps).select(col("a_id"), col("b_id")))
    // union-of-selects kept deliberately (r18): an explode variant (one
    // leaf scan instead of two) measured 0.85x on q330 in an interleaved
    // 2x2 A/B — the staged pair leaf is 1-2 partitions at bench scale, so
    // halving the scans halves the map parallelism while saving only a
    // cheap leaf read.
    val deg = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__nnb"))
    val core = fx.stage(pts.join(deg, Seq("id"), "left")
      .where(coalesce(col("__nnb"), lit(0L)) + 1L >= minPts.toLong)
      .select(col("id")))
    val coreEdges = pairs
      .join(core.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(core.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
    val comp = Components.connectedComponents(coreEdges, aCol = "a_id", bCol = "b_id")
    val coreLabels = fx.stage(core.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster")))
    // union-of-swap kept deliberately — same A/B evidence as `deg` above
    val adj = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
    val border = pts.join(coreLabels.select(col("id")), Seq("id"), "left_anti")
      .join(adj, Seq("id"))
      .join(coreLabels.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      .select(col("id"), col("cluster"), lit("border").as("kind"))
    val assigned = fx.stage(
      coreLabels.select(col("id"), col("cluster"), lit("core").as("kind"))
        .unionByName(border))
    val noise = pts.join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(-1L).as("cluster"), lit("noise").as("kind"))
    fx.stage(assigned.unionByName(noise))
  }
}
