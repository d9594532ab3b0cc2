package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The DISTRIBUTED adaptive multi-probe build
  * (trainedAdaptiveCells at `budget = 0`) vs the broadcast-kernel build
  * (trainedAdaptiveCells): same seeds, same margin law, same probe
  * order — the probe ARRAYS must be bit-identical element for
  * element, in both probe orders (interleaved and distance-global).
  * What differs is state placement: the broadcast route holds all c
  * child seeds on the driver (TwoLevelProbesBroadcast needs the
  * top-nSupers child blocks in one place), the dist route only the
  * ⌈√c⌉ supers, with the law replayed RELATIONALLY over per-block
  * top-K candidates — the window chain the oracle CTEs already use.
  * This was the one stated remaining driver-growth ceiling in the
  * trained family (SURVEY round-10 state, item 3's state-bound note);
  * the size switch in trainedAdaptiveCells now closes it like
  * trainedCells' r10 switch, and this spec gates the equality CLAIM
  * plus the switch itself.
  */
class AdaptiveDistSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._
  import ops.SimilarityQueries._

  private def probesOf(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Seq[Long]] =
    df.selectExpr("vec_id", "probes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  private def compare(interleave: Boolean): Unit = {
    val one = probesOf(trainedAdaptiveCells(spark, sf, AdaptNSupers,
      AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen, interleave))
    ScratchCache.release()
    val dist = probesOf(trainedAdaptiveCells(spark, sf, AdaptNSupers,
      AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen, interleave, budget = 0))
    ScratchCache.release()
    assert(one.nonEmpty)
    assert(dist.size === one.size, "dist route lost or duplicated rows")
    one.foreach { case (id, p) =>
      assert(dist(id) === p, s"vec_id $id probes differ (interleave=" +
        s"$interleave): broadcast $p, dist ${dist(id)}")
    }
    // non-degenerate: some rows must carry real extra probes, or the
    // equality would pass on all-home arrays
    assert(one.values.exists(_.length > 1), "no multi-probe rows")
  }

  test("interleaved probe arrays are bit-identical between routes") {
    compare(interleave = true)
  }

  test("the no-margin epsNum sentinel survives the dist route") {
    // ProbeTune's margin-off point passes epsNum = 10^6; h2 * 10^6
    // overflows Long on real quantized distances (~10^13), which the
    // broadcast kernel guards by saturating the bound — the dist
    // route's relational margin filter must apply the SAME guard or
    // ANSI mode throws ArithmeticException (and non-ANSI silently
    // strips every probe)
    val m = 1000000L
    val one = probesOf(trainedAdaptiveCells(spark, sf, 2, 3, m, 1L, true))
    ScratchCache.release()
    val dist = probesOf(trainedAdaptiveCells(spark, sf, 2, 3, m, 1L,
      interleave = true, budget = 0))
    ScratchCache.release()
    assert(dist.size === one.size)
    one.foreach { case (id, p) =>
      assert(dist(id) === p, s"vec_id $id differs under the sentinel")
    }
    assert(one.values.exists(_.length > 1), "sentinel produced no probes")
  }

  test("distance-ordered probe arrays are bit-identical between routes") {
    compare(interleave = false)
  }

  test("past the driver budget trainedAdaptiveCells takes the dist route") {
    import graft.functions.BookRoute
    val one = trainedAdaptiveCells(spark, sf, AdaptNSupers,
      AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen, interleave = true)
    val base = probesOf(one)
    val BookRoute(baseRoute, broadcastSeeds) = BookRoute.of(one)
    assert(baseRoute === "broadcast")
    ScratchCache.release()
    try {
      val dist = trainedAdaptiveCells(spark, sf, AdaptNSupers,
        AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen, interleave = true,
        budget = 1)
      val switched = probesOf(dist)
      val BookRoute(route, distSeeds) = BookRoute.of(dist)
      assert(route === "dist",
        "budget=1 must delegate to the distributed build")
      assert(distSeeds < broadcastSeeds,
        s"dist route held $distSeeds seeds, broadcast held $broadcastSeeds")
      assert(switched.size === base.size)
      base.foreach { case (id, p) =>
        assert(switched(id) === p, s"vec_id $id differs through the switch")
      }
    } finally ScratchCache.release()
  }

  test("child blocks meet rows through a shuffle join, not a broadcast") {
    val dist = trainedAdaptiveCells(spark, sf, AdaptNSupers,
      AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen, interleave = true,
      budget = 0)
    try {
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
