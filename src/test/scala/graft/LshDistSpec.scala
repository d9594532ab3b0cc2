package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The DISTRIBUTED density-adaptive LSH build (lshRefinedDistFrom,
  * taken by lshRefined past its driver-seed budget) vs the
  * broadcast-kernel build: same bucketing, same rank-stride seed
  * selection, same per-bucket ⌈√k⌉ super rule, same tie law — the
  * (bucket, cell) frames must be bit-identical row for row. What
  * differs is state placement: the broadcast route collects EVERY
  * child seed of every hot bucket (driver rows ∝ hot-mass/cap — the
  * last declared-query build with a growing-with-corpus collect, the
  * r10 review's weak finding #2), the dist route only the per-bucket
  * supers (Σ_b ⌈√k_b⌉), with the child seeds met as DataFrame blocks
  * in a SHUFFLE_HASH join. AnnClusteredStress forces the switch at
  * every stress scale under a route + zero-diff gate; this spec gates
  * the equality claim, the switch, the driver-state claim, and the
  * join shape at the fixture.
  */
class LshDistSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._
  import ops.SimilarityQueries._
  import graft.functions.BookRoute

  private def cellsOf(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long)] =
    df.selectExpr("vec_id", "bucket", "cell").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("past the driver budget lshRefined takes the dist route, bit-identical") {
    val one = lshRefined(spark, sf)
    val base = cellsOf(one)
    val BookRoute(baseRoute, broadcastSeeds) = BookRoute.of(one)
    assert(baseRoute === "lsh-broadcast")
    assert(broadcastSeeds > 0, "fixture produced no hot buckets — the " +
      "spec would compare two all-cold frames and prove nothing")
    // non-degenerate: the split path must engage (refined cells >= 0)
    assert(base.values.exists(_._2 >= 0), "no refined cells at the fixture")
    assert(base.values.exists(_._2 == -1L), "no cold buckets at the fixture")
    ScratchCache.release()
    try {
      val distDf = lshRefined(spark, sf, budget = 1)
      val dist = cellsOf(distDf)
      val BookRoute(route, distSeeds) = BookRoute.of(distDf)
      assert(route === "lsh-dist",
        "budget=1 must delegate to the distributed build")
      assert(distSeeds < broadcastSeeds,
        s"dist route held $distSeeds driver rows, " +
          s"broadcast held $broadcastSeeds")
      assert(dist.size === base.size, "dist route lost or duplicated rows")
      base.foreach { case (id, bc) =>
        assert(dist(id) === bc,
          s"vec_id $id differs through the switch: broadcast $bc, " +
            s"dist ${dist(id)}")
      }
    } finally ScratchCache.release()
  }

  test("driver rows on the dist route are the per-bucket supers (≈ Σ√k)") {
    try {
      val dist = lshRefined(spark, sf, budget = 1)
      dist.count()
      val distSeeds = BookRoute.of(dist).driverSeeds
      ScratchCache.release()
      val one = lshRefined(spark, sf)
      one.count()
      val childSeeds = BookRoute.of(one).driverSeeds
      // Σ_b ⌈√k_b⌉ ≤ Σ_b ⌈(k_b + sb − 1)/sb⌉ bound: with the fixture's
      // tiny cap every hot bucket has k ≥ 1, so supers per bucket are
      // ≤ ⌈√k⌉ ≤ k with equality only at k ≤ 3 — the aggregate must
      // shrink unless every hot bucket is degenerate-small
      assert(distSeeds <= childSeeds,
        s"dist $distSeeds > broadcast $childSeeds")
      assert(distSeeds > 0, "dist route collected nothing")
    } finally ScratchCache.release()
  }

  test("child blocks meet rows through a shuffle join, not a broadcast") {
    try {
      val dist = lshRefined(spark, sf, budget = 1)
      dist.collect()
      val outer = dist.queryExecution.executedPlan
      val cached = collect(outer) {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s.relation.cachedPlan
      }
      val nodes = (outer +: cached).flatMap(p => collect(p) {
        case n => n.nodeName
      })
      assert(nodes.exists(_.contains("ShuffledHashJoin")),
        s"expected ShuffledHashJoin in ${nodes.distinct.sorted}")
      assert(!nodes.exists(_.contains("BroadcastHashJoin")),
        s"codebook must not broadcast: ${nodes.distinct.sorted}")
    } finally ScratchCache.release()
  }
}
