package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ANN facade (annIndex): one entry, book picked by the cell-law
  * arithmetic, probe columns normalized. Three claims:
  *
  *  1. the route LAW is exactly "uncapped cell demand ⌈N/125⌉ exceeds
  *     the two-level cap" — pure arithmetic, checked across the
  *     boundary without a 2.1×10⁹-row corpus (the TrainedDistSpec
  *     budget-reachability pattern: the law must be REACHABLE, i.e.
  *     flip at a finite N below the L3 family's own cap);
  *  2. the default arm IS the two-level book (frame-identical to
  *     trainedCells at the fixture) and the forced arm IS the
  *     three-level book (frame-identical to trainedCellsL3), with the
  *     same normalized columns either way;
  *  3. the returned frame shows which book routed (routedBook reads
  *     its plan), so the stress's forced-switch gate has something to
  *     assert.
  */
class AnnFacadeSpec extends AnyFunSuite {
  import SparkTestSession._
  import ops.SimilarityQueries._

  test("route law: flips exactly where uncapped cell demand passes the cap") {
    val cap = CellCap.toLong
    // boundary: N = 125 · cap is the LAST two-level corpus
    assert(annBook(125L * cap, cap) === "two-level")
    assert(annBook(125L * cap + 1, cap) === "l3")
    // monotone on both sides
    assert(annBook(1L, cap) === "two-level")
    assert(annBook(60000L, cap) === "two-level")
    assert(annBook(Long.MaxValue / 256, cap) === "l3")
    // reachability: the flip point sits strictly below the L3 family's
    // own ceiling (125 · 2^36 rows), so the facade always has a valid
    // book to route to at the crossover
    assert(125L * cap + 1 < 125L * CellCapL3,
      "the L3 arm must cover the first post-two-level corpus")
    // and the NCells floor never routes a tiny corpus to L3
    assert(annBook(0L, cap) === "two-level")
  }

  test("default arm is the two-level book, frame-identical") {
    val autoDf = annIndex(spark, sf, probe2 = true)
    val auto = autoDf.selectExpr("vec_id", "cell", "cell2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(routedBook(autoDf) === "two-level")
    ScratchCache.release()
    val book = trainedCells(spark, sf, probe2 = true)
      .selectExpr("vec_id", "cell", "cell2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    ScratchCache.release()
    assert(auto === book)
    assert(auto.nonEmpty)
  }

  test("forced cap routes the L3 book, frame-identical, same columns") {
    // the cap rides the CALL, not session conf (ADVICE r11): a
    // concurrent facade caller must not inherit this test's override
    try {
      val auto = annIndex(spark, sf, probe2 = true, cap = 1L)
      assert(routedBook(auto) === "l3")
      assert(auto.columns.toSeq ===
        Seq("vec_id", "embedding", "n2", "cell", "cell2"),
        "the facade surface must not depend on the routed book")
      val got = auto.selectExpr("vec_id", "cell", "cell2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      ScratchCache.release()
      val l3 = trainedCellsL3(spark, sf, probe2 = true)
        .selectExpr("vec_id", "cell", "cell2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === l3)
      assert(got.nonEmpty)
    } finally {
      ScratchCache.release()
    }
  }

  test("facade serving: ingest routes by the law and reuses the per-book body") {
    // default arm ≡ the two-level incremental body; forced arm ≡ the
    // L3 one — row-identical, because annIngest shares
    // servedIngestProbe and the per-book inc builds rather than
    // re-deriving them
    val autoDf = annIngest(spark, sf)
    val auto = autoDf.select("arrival_id", "neighbor_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(routedBook(autoDf) === "two-level")
    ScratchCache.release()
    val manual = servedIngestProbe(
      trainedCells(spark, sf, seedWhere = "vec_id % 10 <> 0"))
      .select("arrival_id", "neighbor_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    ScratchCache.release()
    assert(auto === manual)
    assert(auto.nonEmpty)
    val autoL3Df = annIngest(spark, sf, cap = 1L)
    val autoL3 = autoL3Df.select("arrival_id", "neighbor_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(routedBook(autoL3Df) === "l3")
    ScratchCache.release()
    val manualL3 = servedIngestProbe(
      trainedCellsL3Inc(spark, sf, "vec_id % 10 <> 0"))
      .select("arrival_id", "neighbor_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    ScratchCache.release()
    assert(autoL3 === manualL3)
    assert(autoL3.nonEmpty)
  }
}
