package graft

import org.apache.spark.sql.functions._
import graft.ops.KMeans

/** Integer-lattice Lloyd k-means (round 3). */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  /** Three well-separated blobs on distinct axes; ids interleaved so the
    * lowest-k seed draws one point from each blob.
    */
  private def blobs(perBlob: Int) = {
    val rnd = new scala.util.Random(3)
    (0 until perBlob).flatMap { i =>
      Seq(
        (i * 3L, Array.fill(8)(0f).updated(0, 100f + rnd.nextInt(5)), 0),
        (i * 3L + 1, Array.fill(8)(0f).updated(3, 100f + rnd.nextInt(5)), 1),
        (i * 3L + 2, Array.fill(8)(0f).updated(6, 100f + rnd.nextInt(5)), 2))
    }.toDF("vec_id", "embedding", "blob")
  }

  test("recovers well-separated blobs exactly (every cluster is one blob)") {
    val df = blobs(20)
    val (_, assigned) = KMeans.fit(df, "vec_id", "embedding", k = 3, iterations = 2)
    val joined = assigned.join(df.select(col("vec_id").as("id"), col("blob")), "id")
      .select("cid", "blob").distinct().collect()
    // each cid maps to exactly one blob and vice versa
    assert(joined.length == 3)
    assert(joined.map(_.getLong(0)).distinct.length == 3)
    assert(joined.map(_.getInt(1)).distinct.length == 3)
  }

  test("deterministic: identical stats across repeated runs and repartitionings") {
    val df = blobs(15)
    def run(d: org.apache.spark.sql.DataFrame) =
      KMeans.clusterStats(d, "vec_id", "embedding", k = 3, iterations = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(run(df) == run(df.repartition(7)))
  }

  test("iterations reduce (never increase) inertia on separated data") {
    val df = blobs(20)
    def inertia(iters: Int) =
      KMeans.clusterStats(df, "vec_id", "embedding", k = 3, iterations = iters)
        .agg(sum("inertia")).head().getLong(0)
    assert(inertia(2) <= inertia(0))
  }

  test("empty clusters keep their previous centroid (k stable)") {
    // 4 centroids over 3 blobs: at least one centroid loses all points
    // after round 1, but the output still has 4 centroid rows and every
    // point remains assigned.
    val df = blobs(10)
    val (centroids, assigned) = KMeans.fit(df, "vec_id", "embedding", k = 4, iterations = 2)
    assert(centroids.count() == 4)
    assert(assigned.count() == df.count())
  }

  test("reliable=true (persist DISK_ONLY) reproduces the localCheckpoint path bit-identically") {
    // The staging posture must be invisible to results: a run inside a
    // checkpoint dir (reliable checkpoints) and one outside it (local
    // checkpoints) land on identical centroids and assignments, in the
    // same staged rounds.
    val df = blobs(15)
    def run() = {
      val (c, a) = KMeans.fit(df, "vec_id", "embedding", k = 3, iterations = 2)
      (c.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq,
        a.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cid"), r.getAs[Long]("dist")))
          .sortBy(_._1).toSeq)
    }
    val (local, reliable) = bothPostures(run())
    assert(reliable == local)
  }

  test("zero vectors quantize to the lattice midpoint and cluster together") {
    val df = ((0 until 10).map(i => (i.toLong, Array.fill(4)(0f))) ++
      (10 until 20).map(i => (i.toLong, Array.fill(4)(50f)))).toDF("vec_id", "embedding")
    val (_, assigned) = KMeans.fit(df, "vec_id", "embedding", k = 2, iterations = 2)
    val byCid = assigned.collect().map(r => (r.getAs[Long]("cid"), r.getAs[Long]("id")))
      .groupBy(_._1).values.map(_.map(_._2).sorted.toSeq).toSet
    assert(byCid == Set((0L until 10L), (10L until 20L)).map(_.toSeq))
  }
}
