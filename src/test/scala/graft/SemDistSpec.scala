package graft

import org.scalatest.funsuite.AnyFunSuite

/** semClusters' DISTRIBUTED Lloyd route (centroids as a DataFrame,
  * driver holds only the ⌈√K⌉ supers per round) vs the default
  * broadcast route (K centroids collected per round): same init, same
  * integer update, same two-level tie law — assignments must be
  * bit-identical, which is what lets the size switch change ROUTE
  * without touching the q_dedup_semantic oracle. Mirrors
  * TrainedDistSpec's switch test for the trained codebook.
  */
class SemDistSpec extends AnyFunSuite {
  import SparkTestSession._

  test("dist Lloyd route assigns identically and holds only sqrt(K) centroids") {
    import graft.functions.BookRoute
    val one = ops.ClusteringQueries.semClusters(spark, sf)
    val base = one.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val BookRoute(baseRoute, kDriver) = BookRoute.of(one)
    assert(baseRoute === "broadcast")
    assert(base.nonEmpty)
    ScratchCache.release()
    try {
      val distDf = ops.ClusteringQueries.semClusters(spark, sf, budget = 1)
      val dist = distDf.collect()
      val BookRoute(route, distCentroids) = BookRoute.of(distDf)
      assert(route === "dist",
        "budget=1 must take the DataFrame-centroid route")
      assert(distCentroids < math.max(kDriver, 2),
        s"dist route held $distCentroids centroid " +
          s"rows on the driver vs broadcast's $kDriver")
      assert(dist.length === base.size)
      dist.foreach { r =>
        assert(r.getInt(1) === base(r.getLong(0)),
          s"vec_id ${r.getLong(0)} clusters differently through the switch")
      }
    } finally ScratchCache.release()
  }
}
