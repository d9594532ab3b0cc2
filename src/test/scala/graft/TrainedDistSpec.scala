package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The DISTRIBUTED trained-codebook build (trainedCells at
  * `budget = 0`) vs the one-broadcast build (trainedCells): same
  * seeds, same two-level integer argmin, same tie law — so the
  * ASSIGNMENTS must be bit-identical row for row. What differs is
  * state placement, and that is what the last test pins: the
  * distributed build's child blocks must meet the corpus through a
  * SHUFFLE join (each task hashes only its partition's blocks), never
  * a broadcast of the full codebook — the shape that holds when
  * c = N/125 outgrows one JVM (the r08 codebook-growth ceiling). The
  * shared DuckDB oracle gates values; this spec gates the equality
  * CLAIM and the plan shape.
  */
class TrainedDistSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  test("distributed build assigns the identical cell to every row") {
    val one = ops.SimilarityQueries.trainedCells(spark, sf)
      .selectExpr("vec_id", "cell AS cell_one")
    val dist = ops.SimilarityQueries.trainedCells(spark, sf, budget = 0)
      .selectExpr("vec_id", "cell AS cell_dist")
    val joined = one.join(dist, "vec_id").cache()
    try {
      val nOne = one.count()
      val nDist = dist.count()
      val n = joined.count()
      // count equality FIRST: the dist build's inner join on rsuper
      // could silently DROP rows routed to a childless super if the
      // supers-subset-of-children invariant ever broke — an equality
      // check over the inner join alone would still read 0 diffs
      assert(nOne > 0)
      assert(nDist === nOne, s"dist build lost rows: $nDist vs $nOne")
      assert(n === nOne, s"join lost rows: $n vs $nOne")
      val diff = joined.filter("cell_one <> cell_dist").count()
      assert(diff === 0L, s"$diff of $n rows disagree between builds")
    } finally {
      joined.unpersist()
      ScratchCache.release()
    }
  }

  test("probe2/probe3 columns are bit-identical between builds") {
    val one = ops.SimilarityQueries
      .trainedCells(spark, sf, probe2 = true, probe3 = true)
      .selectExpr("vec_id", "cell AS c1", "cell2 AS c21", "cell3 AS c31")
    val dist = ops.SimilarityQueries
      .trainedCells(spark, sf, probe2 = true, probe3 = true, budget = 0)
      .selectExpr("vec_id", "cell AS c2", "cell2 AS c22", "cell3 AS c32")
    val joined = one.join(dist, "vec_id").cache()
    try {
      val nOne = one.count()
      assert(nOne > 0)
      assert(dist.count() === nOne)
      assert(joined.count() === nOne)
      val diff = joined
        .filter("c1 <> c2 OR c21 <> c22 OR c31 <> c32").count()
      assert(diff === 0L, s"$diff rows disagree on a probe column")
      // the fixture's codebook is non-degenerate: some rows must carry
      // REAL second probes, or this test would pass on all-fallbacks
      assert(joined.filter("c21 <> c1").count() > 0, "no real cell2 probes")
      assert(joined.filter("c31 <> c1").count() > 0, "no real cell3 probes")
    } finally {
      joined.unpersist()
      ScratchCache.release()
    }
  }

  test("filtered training (seedWhere) is bit-identical between builds") {
    val w = "vec_id % 10 <> 0"
    val one = ops.SimilarityQueries
      .trainedCells(spark, sf, seedWhere = w)
      .selectExpr("vec_id", "cell AS cell_one")
    val dist = ops.SimilarityQueries
      .trainedCells(spark, sf, seedWhere = w, budget = 0)
      .selectExpr("vec_id", "cell AS cell_dist")
    val joined = one.join(dist, "vec_id").cache()
    try {
      val nOne = one.count()
      assert(nOne > 0)
      assert(dist.count() === nOne)
      assert(joined.count() === nOne)
      assert(joined.filter("cell_one <> cell_dist").count() === 0L)
    } finally {
      joined.unpersist()
      ScratchCache.release()
    }
  }

  test("size switch: past the driver-seed budget trainedCells takes the dist route") {
    import graft.functions.BookRoute
    // baseline: default budget, fixture c is tiny -> broadcast route
    val one = ops.SimilarityQueries
      .trainedCells(spark, sf, probe2 = true, probe3 = true)
    val base = one
      .selectExpr("vec_id", "cell AS c1", "cell2 AS c21", "cell3 AS c31")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val BookRoute(baseRoute, broadcastSeeds) = BookRoute.of(one)
    assert(baseRoute === "broadcast")
    ScratchCache.release()
    try {
      val dist = ops.SimilarityQueries
        .trainedCells(spark, sf, probe2 = true, probe3 = true, budget = 1)
      val switched =
        dist.selectExpr("vec_id", "cell", "cell2", "cell3").collect()
      val BookRoute(route, distSeeds) = BookRoute.of(dist)
      assert(route === "dist",
        "budget=1 must delegate to the distributed build")
      // driver state drops from c child seeds to ~sqrt(c) supers
      assert(distSeeds < broadcastSeeds,
        s"dist route held $distSeeds seeds, broadcast held $broadcastSeeds")
      assert(switched.length === base.size)
      switched.foreach { r =>
        val exp = base(r.getLong(0))
        assert((r.getLong(1), r.getLong(2), r.getLong(3)) === exp,
          s"vec_id ${r.getLong(0)} differs through the switch")
      }
    } finally ScratchCache.release()
  }

  test("the default budget is reachable: adaptiveCells outgrows it") {
    import ops.SimilarityQueries._
    // r10 review finding: the old 65536 cell cap sat silently BELOW
    // the 2^18 default budget, so the size switch could never fire
    // outside conf-forced tests. The law must outgrow the budget at
    // real corpus sizes and stay fixture-identical at small N.
    assert(adaptiveCells(10000000000L) > MaxDriverSeeds,
      "the dist route is unreachable under the default budget")
    assert(adaptiveCells(2000) === 16)
    assert(adaptiveCells(200000) === 1600)
    assert(superSplit(1 << 24) === ((4096, 4096)))
  }

  test("child blocks meet the corpus through a shuffle join, not a broadcast") {
    val dist = ops.SimilarityQueries.trainedCells(spark, sf, budget = 0)
    try {
      dist.collect()
      // the frame is scratch-cached: the join lives in the cached
      // relation's plan, behind the InMemoryTableScan
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
