package graft

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import graft.Harness.fixed

/** The harness core's pure pieces (graft.Harness) and the artifact
  * functions the stress mains build on them: the 2× gate rule, the
  * BASELINE parser, the JSON writer/reader, the ScaleStress subset merge
  * and the AnnClusteredStress gates and arithmetic. In-test data only, no
  * session. */
class HarnessSpec extends AnyFunSuite {

  private def tempFile(suffix: String): java.io.File = {
    val f = java.io.File.createTempFile("harness", suffix)
    f.deleteOnExit()
    f
  }

  private def roundTrip(v: Any): Any = {
    val f = tempFile(".json")
    Harness.writeJson(f, v)
    Harness.readJson(f).get
  }

  test("the 2x gate substitutes only a sub-2.5x breach that clears 2x isolated") {
    val base = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0, "q_d" -> 1.0,
      "q_e" -> 1.0)
    val suite = Seq("q_d" -> 2.4, "q_a" -> 2.4, "q_b" -> 2.6, "q_c" -> 2.4,
      "q_e" -> 0.5, "q_new" -> 9.0)
    val isolated = Map("q_a" -> 1.9, "q_b" -> 1.9, "q_c" -> 2.1, "q_d" -> -1.0)
    val asked = scala.collection.mutable.ListBuffer.empty[String]
    val g = Harness.gate(suite, base) { q => asked += q; isolated(q) }
    // breaches only, name order; a query with no baseline row is never
    // re-measured
    assert(asked.toSeq == Seq("q_a", "q_b", "q_c", "q_d"))
    assert(g.remeasured == Seq(("q_a", 2.4, 1.9), ("q_b", 2.6, 1.9),
      ("q_c", 2.4, 2.1), ("q_d", 2.4, -1.0)))
    assert(g.reported == Seq("q_d" -> 2.4, // isolated −1: kept
      "q_a" -> 1.9, // suite 2.4b, isolated 1.9b: substituted
      "q_b" -> 2.6, // suite 2.6b: kept
      "q_c" -> 2.4, // isolated 2.1b: kept
      "q_e" -> 0.5, "q_new" -> 9.0))
    assert(Harness.breaches(base, "q_b", 2.6))
    assert(!Harness.breaches(base, "q_new", 9.0))
    assert(!Harness.breaches(base, "q_a", -1.0))
  }

  test("Bench10x gates only a run on the anchors' base corpus") {
    assert(Bench10x.anchored("/data/sf0.1"))
    assert(Bench10x.anchored("/data/sf0.1/"))
    assert(Bench10x.anchored("sf0.1"))
    assert(Bench10x.anchored("/data/x/../sf0.1"))
    assert(!Bench10x.anchored("/data/sf0.01"))
    assert(!Bench10x.anchored("/data/sf0.10"))
    assert(!Bench10x.anchored("/data/sf0.1/embeddings.parquet"))
    assert(!Bench10x.anchored("/"))
  }

  test("the BASELINE parser reads q_ rows and skips headers and bad rows") {
    val f = tempFile(".md")
    java.nio.file.Files.writeString(f.toPath,
      """# BASELINE — first-recorded seconds
        |
        || query | first_s |
        ||---|---|
        || q_a | 1.25 |
        || q_b | x |
        || q_c | 0.5 | a note |
        |q_d | 3 |
        |""".stripMargin)
    assert(Harness.baselines(f) == Map("q_a" -> 1.25, "q_c" -> 0.5))
    assert(Harness.baselines(new java.io.File(f.getPath + ".absent")).isEmpty)
  }

  test("JSON round trip keeps nesting, key order, kinds and escapes") {
    val text = "quote \" backslash \\ newline \n tab \t ctl \u0001 end"
    val v = ListMap[String, Any]("z" -> text,
      "a" -> ListMap[String, Any]("y" -> Seq(1L, 2L), "b" -> true,
        "x" -> ListMap("deep" -> fixed(0.5, 3)), "n" -> None,
        "m" -> Seq(ListMap("q" -> "r"))),
      "k" -> fixed(12345.0, 0), "nan" -> fixed(Double.NaN, 3),
      "neg" -> -1.0, "empty" -> Seq.empty[String])
    val json = Harness.json(v)
    assert(json.startsWith(
      "{\"z\":\"quote \\\" backslash \\\\ newline \\n tab \\t ctl \\u0001 end\""),
      json)
    assert(json.contains("\"deep\":0.500") && json.contains("\"k\":12345") &&
      json.contains("\"nan\":NaN") && json.contains("\"n\":null"), json)
    val back = roundTrip(v)
    def keys(x: Any): Seq[Any] = x match {
      case m: ListMap[String, Any] @unchecked =>
        m.toSeq.flatMap { case (k, w) => k +: keys(w) }
      case s: Seq[Any] => s.flatMap(keys)
      case _ => Nil
    }
    assert(keys(back) == keys(v))
    assert(Harness.field(back, "z").contains(text))
    assert(Harness.field(back, "a", "y").contains(Vector(1L, 2L)))
    assert(Harness.field(back, "a", "b").contains(true))
    assert(Harness.field(back, "a", "x", "deep").contains(fixed(0.5, 3)))
    assert(Harness.field(back, "a", "n").isEmpty)
    assert(Harness.num(back, "k").contains(12345.0))
    assert(Harness.num(back, "nan").exists(_.isNaN))
    assert(Harness.num(back, "neg").contains(-1.0))
    assert(Harness.field(back, "empty").contains(Vector()))
    assert(Harness.json(back) == json)
  }

  test("fixed rounds half-up at the printed precision") {
    assert(fixed(0.1235, 3).toString == f"${0.1235}%.3f")
    assert(fixed(2.675, 2).toString == f"${2.675}%.2f")
    assert(fixed(1.0e10, 0).toString == "10000000000")
    assert(fixed(Double.PositiveInfinity, 1) == Double.PositiveInfinity)
  }

  private def scaleRow(ratio: Double, planEqual: Boolean,
      skew: Option[Double]): ListMap[String, Any] = ListMap(
    "t1_s" -> fixed(1.0, 3), "t2_s" -> fixed(ratio, 3),
    "ratio" -> fixed(ratio, 2), "plan_equal" -> planEqual,
    "plan_1x" -> ListMap("shuffles" -> 1, "joins" -> Seq("SortMergeJoin")),
    "skew_2x" -> skew.map(fixed(_, 1)))

  test("ScaleStress merges a subset run into a matching prior artifact") {
    val full = ScaleStress.artifact("/sf", 2, "default",
      Seq("q_a" -> scaleRow(3.5, true, None),
        "q_b" -> scaleRow(1.0, false, Some(25.0))),
      Seq("q_c" -> "boom \"quoted\"", "q_d" -> "old failure"),
      Set("q_a", "q_b", "q_c", "q_d", "x_cdc_delta"),
      Some(ListMap("delta_rows" -> 500)), None)
    assert(Harness.field(full, "summary", "ratio_gt_2x1.5").contains(Seq("q_a")))
    assert(Harness.field(full, "summary", "plan_shape_changed").contains(Seq("q_b")))
    assert(Harness.field(full, "summary", "skew_gt_20").contains(Seq("q_b")))
    assert(Harness.num(full, "summary", "max_skew").contains(25.0))
    assert(Harness.field(full, "merged_subset").isEmpty)
    val prior = roundTrip(full)

    val sub = ScaleStress.artifact("/sf", 2, "default",
      Seq("q_b" -> scaleRow(1.0, true, None), "q_c" -> scaleRow(1.1, true, None)),
      Nil, Set("q_b", "q_c"), None, Some(prior))
    val queries = Harness.field(sub, "queries").get
      .asInstanceOf[ListMap[String, Any]]
    assert(queries.keys.toSeq == Seq("q_a", "q_b", "q_c"))
    // the kept row survives as it was written
    assert(Harness.num(queries, "q_a", "ratio").contains(3.5))
    // the summary is recomputed from the merged rows
    assert(Harness.num(sub, "summary", "queries_run").contains(3.0))
    assert(Harness.field(sub, "summary", "ratio_gt_2x1.5").contains(Seq("q_a")))
    assert(Harness.field(sub, "summary", "plan_shape_changed").contains(Nil))
    assert(Harness.field(sub, "summary", "skew_gt_20").contains(Nil))
    assert(Harness.field(sub, "summary", "max_skew").isEmpty)
    // q_c was attempted again: its old error goes; q_d's stays
    assert(Harness.json(Harness.field(sub, "summary", "errors").get) ==
      """[{"query":"q_d","error":"old failure"}]""")
    assert(Harness.field(sub, "cdc_delta").contains(ListMap("delta_rows" -> 500L)))
    assert(Harness.field(sub, "merged_subset").contains(Seq("q_b", "q_c")))
    // the quote in a fresh error message is kept, escaped by the writer
    assert(Harness.json(full).contains("\"error\":\"boom \\\"quoted\\\"\""))

    for ((base, factor, mode) <- Seq(("/other", 2, "default"),
        ("/sf", 3, "default"), ("/sf", 2, "vocabrich"))) {
      val other = ScaleStress.artifact(base, factor, mode,
        Seq("q_b" -> scaleRow(1.0, true, None)), Nil, Set("q_b"), None,
        Some(prior))
      assert(Harness.field(other, "queries").map(
        _.asInstanceOf[ListMap[String, Any]].keys.toSeq).contains(Seq("q_b")))
      assert(Harness.field(other, "summary", "errors").contains(Nil))
      assert(Harness.field(other, "cdc_delta").isEmpty)
      assert(Harness.field(other, "merged_subset").isEmpty)
    }
  }

  private val cleanAnnRow = ListMap[String, Any](
    "cell_pair_mass" -> fixed(100.0, 0), "trained_pair_mass" -> fixed(120.0, 0),
    "adaptive_lsh_pair_mass" -> fixed(100.0, 0), "sem_pair_mass" -> fixed(100.0, 0),
    "multi_probe3_pair_mass" -> fixed(100.0, 0),
    "neardup_retention_multi_probe3" -> fixed(0.5, 3),
    "neardup_retention_adaptive_probe" -> fixed(0.5, 3),
    "removal_recall_adaptive" -> fixed(1.0, 3),
    "pq_adc_relerr_fixed" -> fixed(0.2, 4), "pq_adc_relerr_adaptive" -> fixed(0.1, 4),
    "pq256_adc_relerr_raw" -> fixed(0.2, 4), "pq256_adc_relerr_res" -> fixed(0.21, 4),
    "pq256_top5_recall_adc" -> fixed(0.5, 3),
    "pq256_top5_recall_rerank" -> fixed(0.6, 3),
    "sq8_top5_recall_est" -> fixed(0.5, 3), "sq8_top5_recall_rerank" -> fixed(0.5, 3),
    "trained_dist_cell_diff" -> 0L, "l3_rows_lost" -> 0L, "l3_inc_rows_lost" -> 0L,
    "trained_recall3_probe1" -> fixed(0.5, 3), "l3_recall3_probe1" -> fixed(0.5, 3),
    "l3_recall3_probe2" -> fixed(0.5, 3),
    "trained_recall3_adaptive" -> fixed(0.6, 3),
    "l3_recall3_adaptive" -> fixed(0.5, 3),
    "l3_inc_recall3_probe1" -> fixed(0.4, 3),
    "l3_incsel_recall3_probe1" -> fixed(0.5, 3),
    "switch_probe_diff" -> 0L, "sem_switch_diff" -> 0L,
    "adp_switch_probe_diff" -> 0L, "lsh_switch_cell_diff" -> 0L,
    "ann_auto_cell_diff" -> 0L, "ann_auto_ingest_diff" -> 0L,
    "switch_route" -> "dist", "sem_switch_route" -> "dist",
    "adp_switch_route" -> "dist", "lsh_switch_route" -> "lsh-broadcast",
    "lsh_switch_driver_seeds" -> 0L, "ann_auto_book" -> "l3",
    "ann_auto_ingest_book" -> "l3")

  test("AnnClusteredStress occupancy: block count, max, sorted middle, pair mass") {
    // unsorted input; the median is element size/2 of the sorted list
    assert(AnnClusteredStress.occupancyOf(Seq(5L, 1L, 3L)) == (3, 5L, 3L, 35.0))
    assert(AnnClusteredStress.occupancyOf(Seq(4L, 1L, 2L, 8L)) ==
      (4, 8L, 4L, 85.0))
    assert(AnnClusteredStress.occupancyOf(Seq(7L)) == (1, 7L, 7L, 49.0))
    // Σc² in doubles: exact past the Int range
    assert(AnnClusteredStress.occupancyOf(Seq(3000000000L))._4 == 9.0e18)
  }

  test("AnnClusteredStress recall, retention and removal-recall arithmetic") {
    import AnnClusteredStress.{removalRecall, share}
    val truth = Set((1L, 2L), (1L, 3L), (4L, 2L), (5L, 3L))
    // found pairs outside the truth set never count
    assert(share(truth, Set((1L, 2L), (4L, 2L), (7L, 8L))) == 0.5)
    assert(share(truth, truth) == 1.0)
    assert(share(truth, Set.empty[(Long, Long)]) == 0.0)
    // nothing to find reads 1.0, whatever was found
    assert(share(Set.empty[(Long, Long)], Set((1L, 2L))) == 1.0)
    // removal: query rows with a lower-id true partner are 4 and 5; any
    // one found lower-id partner removes the row, higher-id ones do not
    assert(removalRecall(truth, Set((4L, 2L))) == 0.5)
    assert(removalRecall(truth, Set((4L, 2L), (5L, 1L))) == 1.0)
    assert(removalRecall(truth, Set((1L, 2L), (1L, 3L))) == 0.0)
    // a truth set without lower-id partners removes nothing: 1.0
    assert(removalRecall(Set((1L, 2L)), Set.empty) == 1.0)
  }

  private def gateLists(v: ListMap[String, Any]): Map[String, Seq[Any]] =
    v.collect { case (k, s: Seq[Any]) => k -> s }

  test("AnnClusteredStress gates read the per-scale row maps") {
    val clean = AnnClusteredStress.verdicts(
      Seq("1x" -> cleanAnnRow, "2x" -> cleanAnnRow), 2)
    val lists = gateLists(clean)
    assert(lists.size == 12)
    assert(lists.values.forall(_.isEmpty), lists)
    assert(Harness.num(clean, "cell_pair_mass_ratio").contains(1.0))
    assert(Harness.num(clean, "linear_bound").contains(3.0))

    val breached = AnnClusteredStress.verdicts(Seq(
      "1x" -> cleanAnnRow.updated("switch_route", "broadcast"),
      "2x" -> cleanAnnRow.updated("neardup_retention_multi_probe3",
        fixed(0.01, 3))), 2)
    val broken = gateLists(breached).filter(_._2.nonEmpty)
    assert(broken == Map("switch_gate_breach" -> Seq("1x"),
      "retention_below_floor" -> Seq("2x")))
    // a nonzero seed count under the lsh-broadcast route breaches too
    val seeded = AnnClusteredStress.verdicts(Seq("1x" -> cleanAnnRow,
      "2x" -> cleanAnnRow.updated("lsh_switch_driver_seeds", 3L)), 2)
    assert(Harness.field(seeded, "switch_gate_breach").contains(Seq("2x")))
  }
}
