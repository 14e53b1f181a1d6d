package graft

import graft.ops.GeoGrid
import org.apache.spark.sql.functions.col

/** DBSCAN on the integer plane: hand geometries plus exact agreement
  * with an in-memory reference implementing the same deterministic
  * contract (min-label border election, min-core-id cluster labels).
  */
class DbscanSpec extends SparkSpec {
  import spark.implicits._

  private def reference(
      pts: Seq[(Long, Long, Long)], eps: Long, minPts: Int): Map[Long, (Long, String)] = {
    def d2(a: (Long, Long, Long), b: (Long, Long, Long)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
    val nbrs = pts.map(p =>
      p._1 -> pts.filter(q => q._1 != p._1 && d2(p, q) <= eps * eps).map(_._1).toSet).toMap
    val core = pts.map(_._1).filter(id => nbrs(id).size + 1 >= minPts).toSet
    // components of the core-core graph, label = min member
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (seed <- core.toSeq.sorted if !label.contains(seed)) {
      var frontier = Set(seed)
      val members = scala.collection.mutable.Set(seed)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(nbrs).filter(core).diff(members.toSet)
        members ++= frontier
      }
      val m = members.min
      members.foreach(label(_) = m)
    }
    pts.map(_._1).map { id =>
      if (core(id)) id -> (label(id), "core")
      else {
        val adjCore = nbrs(id).filter(core)
        if (adjCore.nonEmpty) id -> (adjCore.map(label).min, "border")
        else id -> (-1L, "noise")
      }
    }.toMap
  }

  private def run(pts: Seq[(Long, Long, Long)], eps: Long, minPts: Int): Map[Long, (Long, String)] =
    GeoGrid.dbscan(pts.toDF("id", "x", "y"), "id", col("x"), col("y"), eps, minPts)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap

  test("two blobs, a border point, and an outlier") {
    // blob A around (0,0), blob B around (100,100), border hangs off A's
    // core 2 only (1 nbr + self < minPts), noise far away; eps=5, minPts=3
    val pts = Seq(
      (1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L), // blob A cores (2 nbrs + self)
      (4L, 1L, -5L), // dist 5 to core 2, > 5 to everything else
      (10L, 100L, 100L), (11L, 101L, 100L), (12L, 100L, 101L), // blob B
      (99L, 500L, 500L)) // noise
    val got = run(pts, eps = 5, minPts = 3)
    assert(got(1L) == ((1L, "core")) && got(2L) == ((1L, "core")) && got(3L) == ((1L, "core")))
    assert(got(4L) == ((1L, "border")))
    assert(got(10L) == ((10L, "core")) && got(11L) == ((10L, "core")) && got(12L) == ((10L, "core")))
    assert(got(99L) == ((-1L, "noise")))
    assert(got == reference(pts, 5, 3))
  }

  test("a border between two clusters joins the smaller label deterministically") {
    // two 5-point blobs; point 50 at (8,0) touches cores of BOTH (dist 5
    // to A's (3,0), 4 to B's (12,0), 5 to B's (12,3)) but has only
    // 3 nbrs + self < minPts=5, so it is a border, not a bridge core
    val pts = Seq(
      (1L, 0L, 0L), (2L, 3L, 0L), (3L, 0L, 3L), (4L, 3L, 3L), (5L, 1L, 1L),
      (11L, 12L, 0L), (12L, 15L, 0L), (13L, 12L, 3L), (14L, 15L, 3L), (15L, 13L, 1L),
      (50L, 8L, 0L))
    val got = run(pts, eps = 5, minPts = 5)
    assert(got(50L)._2 == "border")
    assert(got(1L)._2 == "core" && got(11L)._2 == "core")
    assert(got(1L)._1 != got(11L)._1, "two separate clusters expected")
    assert(got(50L)._1 == got(1L)._1, "border must take the SMALLEST adjacent cluster label")
    assert(got == reference(pts, 5, 5))
  }

  test("agrees exactly with the in-memory reference on random point sets") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val pts = (1L to 60L).map(i =>
        (i, rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      for ((eps, minPts) <- Seq((5L, 3), (8L, 4))) {
        assert(run(pts, eps, minPts) == reference(pts, eps, minPts),
          s"trial $trial eps=$eps minPts=$minPts")
      }
    }
  }

  test("reliable posture matches the default labeling") {
    val rnd = new scala.util.Random(41)
    val pts = (1L to 40L).map(i => (i, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val (base, rel) = bothPostures(run(pts, eps = 6, minPts = 3))
    assert(base == rel)
  }

  test("minPts=1 makes every point a core (no noise possible)") {
    val pts = Seq((1L, 0L, 0L), (2L, 1000L, 1000L))
    val got = run(pts, eps = 5, minPts = 1)
    assert(got == Map(1L -> ((1L, "core")), 2L -> ((2L, "core"))))
  }
}
