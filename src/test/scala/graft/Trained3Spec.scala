package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The THREE-level trained quantizer (trainedCellsL3) — the routing
  * law past the two-level family's 2^24-cell cap. Three claims:
  *
  *  1. assignment equals an INDEPENDENT in-memory mirror of the
  *     hierarchical argmin law (grand → super → cell, exact integer
  *     squared-L2, ties to the smaller id) — the same
  *     naive-reference device as ArgminKernelProps, so an engine/
  *     oracle agreement can never be two copies of one bug;
  *  2. driver state is the ≈ c^(1/3) GRAND seeds only — the point of
  *     the third level (two-level dist holds ⌈√c⌉, which outgrows
  *     both the 4096-super split and the per-row routing budget past
  *     2.1×10⁹ rows);
  *  3. rows meet super and child blocks through SHUFFLE joins — the
  *     codebook never broadcasts, the shape that survives c ∝ N.
  *
  * The DuckDB oracle (q_ann_ivf_trained_l3) gates values tri-SF; this
  * spec gates the law, the state placement, and the plan shape.
  */
class Trained3Spec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  private def quant(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong).toArray

  private def d2(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
    acc
  }

  private def argmin(x: Array[Long],
      seeds: Seq[(Long, Array[Long])]): Long =
    seeds.minBy { case (id, v) => (d2(x, v), id) }._1

  test("assignment matches an independent 2x2-beam three-level mirror") {
    val eng = ops.SimilarityQueries.trainedCellsL3(spark, sf,
        probe2 = true, adaptive = true)
      .selectExpr("vec_id", "cell", "cell2", "probes").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toMap
    try {
      val rows = Tables.embeddings(spark, sf)
        .selectExpr("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> quant(r.getSeq[Float](1)))
        .sortBy(_._1)
      assert(eng.size === rows.length, "engine lost or duplicated rows")
      val n = rows.length.toLong
      val (sc, ss, gs) = ops.SimilarityQueries.trainedStridesL3(n)
      val grands = rows.filter(_._1 % gs == 0).toSeq
      val supers = rows.filter(_._1 % ss == 0).toSeq
      val childs = rows.filter(_._1 % sc == 0).toSeq
      // three GENUINE levels at the fixture, or the test proves nothing
      assert(grands.size >= 2, s"degenerate grand level: ${grands.size}")
      assert(supers.size > grands.size, "super level collapsed to grands")
      assert(childs.size > supers.size, "child level collapsed to supers")
      val superGrand = supers.map { case (sid, sv) =>
        sid -> argmin(sv, grands) }.toMap
      val childSuper = childs.map { case (cid, cv) =>
        val g = argmin(cv, grands)
        cid -> argmin(cv, supers.filter(s => superGrand(s._1) == g))
      }.toMap
      val childVec = childs.toMap
      // beamed descent: 2 nearest grands, L3SuperBeam nearest supers
      // within each, closest of the leaf children (ties to the smaller
      // cid) — the engine's and oracle's law
      def topN(cands: Seq[(Long, Array[Long])], x: Array[Long],
          n: Int): Seq[Long] =
        cands.map { case (id, v) => (d2(x, v), id) }.sorted
          .take(n).map(_._2)
      val beamK = ops.SimilarityQueries.L3SuperBeam
      rows.foreach { case (id, x) =>
        val beams = (for {
          g <- topN(grands, x, 2)
          s <- topN(supers.filter(p => superGrand(p._1) == g), x, beamK)
        } yield {
          val c = argmin(x, childs.filter(p => childSuper(p._1) == s))
          (d2(x, childVec(c)), c)
        }).sorted
        val c = beams.head._2
        // the probe2 column is the beam's first leaf in a DIFFERENT
        // cell (home fallback when the beam found only one)
        val c2 = beams.find(_._2 != c).map(_._2).getOrElse(c)
        // the ADAPTIVE probe array (r12): home, then non-home beam
        // leaves within the integer margin d2·den ≤ hd2·num of the
        // nearest alternative, (d2, cid)-ordered, capped — the same
        // law the engine's filter/slice over cands encodes
        val nonHome = beams.filter(_._2 != c)
        val probes = Seq(c) ++ nonHome.headOption.toSeq.flatMap { h =>
          nonHome.filter(p =>
              p._1 * ops.SimilarityQueries.AdaptEpsDen <=
                h._1 * ops.SimilarityQueries.AdaptEpsNum)
            .take(ops.SimilarityQueries.AdaptMaxProbes - 1).map(_._2)
        }
        assert(eng(id) === ((c, c2, probes)),
          s"vec_id $id: engine ${eng(id)}, mirror ($c, $c2, $probes)")
      }
    } finally ScratchCache.release()
  }

  test("driver holds only the grand seeds (~c^(1/3))") {
    import graft.functions.BookRoute
    val e = ops.SimilarityQueries.trainedCellsL3(spark, sf)
    try {
      val n = e.count()
      assert(n > 0)
      val BookRoute(route, driverSeeds) = BookRoute.of(e)
      assert(route === "dist")
      val (sc, ss, gs) = ops.SimilarityQueries.trainedStridesL3(n)
      val expGrands = (0L until n).count(_ % gs == 0)
      val expSupers = (0L until n).count(_ % ss == 0)
      assert(driverSeeds === expGrands,
        s"driver held $driverSeeds, law says $expGrands")
      assert(driverSeeds < expSupers,
        "grand level must be strictly narrower than the super level")
      // sanity on sc: children ≈ c cells exist as distinct assignments
      val cells = e.selectExpr("cell").distinct().count()
      assert(cells > expSupers,
        s"only $cells distinct cells — child level collapsed")
    } finally ScratchCache.release()
  }

  test("the split law covers the full range arithmetically") {
    import ops.SimilarityQueries._
    assert(triSplit(16L) === 3)
    assert(triSplit(27L) === 3)
    assert(triSplit(28L) === 4)
    assert(triSplit(1L << 24) === 256)
    assert(triSplit(1L << 36) === 4096)
    // the L3 cell law EXTENDS past the two-level cap (its whole point)
    // and matches it at every fixture SF (one oracle pins both)
    assert(adaptiveCellsL3(2000) === 16L)
    assert(adaptiveCellsL3(4L * 1000 * 1000 * 1000) > CellCap.toLong,
      "L3 cells must outgrow the two-level cap past 2.1e9 rows")
    assert(adaptiveCellsL3(Long.MaxValue / 2) === CellCapL3)
    // strides nest: gs multiple of ss multiple of sc (the recursive
    // subset invariant every routed level's non-empty home block
    // rests on)
    for (n <- Seq(500L, 2000L, 1000000L, 3000000000L)) {
      val (sc, ss, gs) = trainedStridesL3(n)
      assert(ss % sc === 0L, s"n=$n: ss=$ss not a multiple of sc=$sc")
      assert(gs % ss === 0L, s"n=$n: gs=$gs not a multiple of ss=$ss")
    }
  }

  test("blocks meet rows through shuffle joins, never a broadcast") {
    val e = ops.SimilarityQueries.trainedCellsL3(spark, sf)
    try {
      e.collect()
      val outer = e.queryExecution.executedPlan
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

  test("top-K kernels degrade gracefully at k <= 0 (route parity with the broadcast prober)") {
    // TwoLevelProbesBroadcast returns [home] at maxProbes <= 0; the
    // block kernels must not crash on the same degenerate width —
    // both routes of any switched builder have to agree at every
    // config point, including the nonsensical ones
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val qv = new GenericArrayData(Array(1L, 2L))
    val bcast = spark.sparkContext.broadcast(
      (Array(10L, 20L), Array(Array(0L, 0L), Array(5L, 5L))))
    val lit = org.apache.spark.sql.catalyst.expressions.Literal
      .create(null, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    for (k <- Seq(-1, 0)) {
      assert(functions.SuperTopKBroadcast(k, bcast, lit)
        .topk(qv).numElements() === 0, s"topk k=$k")
      val block = new GenericArrayData(Array[Any](
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](10L, new GenericArrayData(Array(0L, 0L))))))
      assert(functions.ChildBlockTopKD(k, lit, lit)
        .topkd(qv, block).numElements() === 0, s"topkd k=$k")
    }
    // and a positive k on the same inputs still returns candidates
    assert(functions.SuperTopKBroadcast(1, bcast, lit)
      .topk(qv).numElements() === 1)
  }
}
