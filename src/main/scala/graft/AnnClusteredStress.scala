package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import graft.Harness.{field, fixed, num}
import graft.functions.{BookRoute, cosine, dist2}
import graft.ops.ClusteringQueries
import graft.ops.SimilarityQueries._

/** ANN stress on a DENSITY-SKEWED corpus — closes the r07 honesty gap:
  * every IVF/LSH scale number so far rode the fixture's near-uniform
  * synthetic embeddings, the best case for a coarse quantizer. Real
  * 100 TB corpora are clustered, and constant-occupancy cell sizing +
  * midpoint-seeded children can concentrate mass in hot cells — where
  * the within-cell candidate join quietly turns quadratic.
  *
  * Method: synthesize the ScaleStress corpus with `mode=clustered`
  * (16 planted hash-anchor clusters, linear-ramp density — the densest
  * ~31× the sparsest; ScaleStress.mutate) at 1× and factor×, then
  * measure what the declared queries' plan shape cannot show:
  *
  *  - OCCUPANCY of IVF cells and LSH buckets at both scales: max,
  *    median, and the candidate-pair mass Σ count² (the exact row count
  *    the within-cell/bucket self-join produces). A quantizer that
  *    absorbs density keeps Σc² growing ~linearly with N; a collapsed
  *    one shows max/median exploding and Σc² going quadratic.
  *  - RECALL@3 (probe1/probe2) against brute-force ground truth on a
  *    ~100-query sample at both scales: hot cells are not a failure if
  *    recall holds and candidate mass stays bounded — and high
  *    occupancy WITH recall collapse means the cells stopped being
  *    neighborhoods.
  *
  * Every book comes from the builder its declared query uses and every
  * quantity from the tail that query ships, so the rows measure the
  * served operators. Where a tail's law differs from the measurement's,
  * the measurement keeps its own: near-dup retention counts ORDERED
  * (query, neighbor) pairs of the sample, where `nearDupPairs`
  * canonicalizes them.
  *
  * Artifact: one JSON with per-scale rows, at `outJson` (default
  * SCALE_clustered_ann.json) resolved against the working directory. Run:
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.AnnClusteredStress
  *  [baseSfDir] [factor] [outJson]"` (keep the host quiet).
  */
object AnnClusteredStress {

  /** Minimum acceptable multi-probe near-dup retention at ANY measured
    * scale. RE-PINNED r12 on the DECORRELATED corpus (prime replica
    * offsets + per-row geometric scramble + hash-drawn probe sample —
    * the r11 finding's fix): the old 0.10 floor was calibrated on the
    * symmetric corpus, whose truth set carried cross-replica twins
    * that any geometry-faithful blocker catches for free (probe3
    * measured 0.151@100× there vs 0.032 on the decorrelated corpus at
    * IDENTICAL occupancy and pair mass). Pair-level retention of any
    * bounded blocker falls as truth mass grows quadratically in
    * cluster mass — the scale-stable decision gate is REMOVAL recall
    * below (measured 1.000 at every point, floor 0.95); this floor is
    * the collapse alarm under the decorrelated measured points
    * 0.913/0.342/0.032 at 1×/10×/100×. */
  private val RetentionFloor = 0.02

  /** Floor for the r10 ADAPTIVE knob row — re-pinned r12 with the
    * same re-base (decorrelated measured points 0.968/0.471/0.091 at
    * 1×/10×/100× vs 0.209@100× on the symmetric corpus). REMOVAL
    * recall — the dedup decision metric (any one found partner
    * removes the row) — measured 1.000 at every grid point on BOTH
    * corpora, so its floor stays a tight 0.95: a breach means the
    * blocker stopped finding even ONE partner for rows that have
    * hundreds, i.e. the key collapsed. */
  private val AdaptiveRetentionFloor = 0.06
  private val RemovalRecallFloor = 0.95

  /** The three-level route (with its nprobe=2 knob — the beam's
    * runner-up cell, probe-side only) must hold at least this share of
    * the TWO-level probe1 recall on the same corpus — the measured
    * cost of the coarser grand→super→cell routing (the cap escape
    * valve must not pay for state in recall). On the DECORRELATED
    * corpus (r12) the L3 book matches or beats the two-level book at
    * every measured factor (probe1 1×/10×/100×: 0.559/0.229/0.061 vs
    * 0.513/0.216/0.067; the gate arm l3_probe2 0.699/0.363/0.093),
    * so the 0.80 share is comfortably clear — kept as the alarm that
    * the beamed descent has stopped compensating the coarser
    * assignment. */
  private val L3RecallShare = 0.80
  /** Exclusion-cost share for the served L3 book vs its selection-law
    * control (r11 re-base; r12 decorrelated measured shares
    * 0.89/1.01/1.26 at 1×/10×/100× — training on 90% of rows costs
    * nothing once the corpus symmetry is gone). */
  private val L3IncShare = 0.70

  /** The scale verdicts over the per-scale rows (pure; `rows` holds the
    * 1× and factor× rows by tag): candidate mass must grow ~linearly
    * (ratio ≲ factor × 1.5, same slack as ScaleStress), recall must not
    * collapse. Each GATE lists the scale tags that breach it — empty in
    * a committed artifact; a breach shows without reading per-scale
    * rows. */
  private[graft] def verdicts(rows: Seq[(String, ListMap[String, Any])],
      factor: Int): ListMap[String, Any] = {
    def d(r: Any, key: String): Double = num(r, key).getOrElse(Double.NaN)
    def s(r: Any, key: String): Any = field(r, key).getOrElse("")
    def tags(suffix: String = "")(bad: Any => Boolean): Seq[String] =
      rows.collect { case (tag, r) if bad(r) => tag + suffix }.sorted
    def nonzero(keys: String*): Seq[String] =
      keys.flatMap(k => tags()(d(_, k) != 0.0))
    def ratio(key: String): Number = {
      val m = rows.toMap
      fixed(d(m(s"${factor}x"), key) / d(m("1x"), key), 2)
    }
    // the RECOMMENDED near-dup blocker (multi-probe trained cells) must
    // retain at least RetentionFloor of the true cosine≥0.4 pairs at
    // EVERY measured scale (r09: retention and dist-equality used to be
    // informational)
    val retBreach =
      tags()(d(_, "neardup_retention_multi_probe3") < RetentionFloor)
    val adpRetBreach = tags()(r =>
      d(r, "neardup_retention_adaptive_probe") < AdaptiveRetentionFloor)
    val remBreach =
      tags()(d(_, "removal_recall_adaptive") < RemovalRecallFloor)
    // adaptive PQ must not quantize WORSE than the fixed 16-code book
    val pqBreach = tags()(r =>
      d(r, "pq_adc_relerr_adaptive") > d(r, "pq_adc_relerr_fixed"))
    // residual-256 vs raw-256 — the HONEST r11 measurement: on this
    // corpus residual encoding does NOT cut ADC error (raw 0.189 vs
    // res 0.210 at 1×, stable across scales and centroid choices —
    // mean-centroid beat seed-centroid but not raw). The physics:
    // occupancy-125 trained cells already extract the cluster
    // structure, so the residual blob is near-isotropic — 256 codes
    // cover the low-entropy clustered raw sub-vectors better than a
    // high-entropy isotropic residual (FAISS's residual win assumes
    // COARSE cells that leave structure in the residual). The gate is
    // therefore a 1.25× regression bound — catching a broken residual
    // path (the seed-centroid variance mistake class) without
    // pretending the fixture shows the production win.
    val pqRes256Breach = tags()(r =>
      d(r, "pq256_adc_relerr_res") > 1.25 * d(r, "pq256_adc_relerr_raw"))
    // exact re-rank (r12, q_ann_ivfpq_rerank): the re-ranked top-5
    // may never recall LESS than the raw ADC top-5 against the exact
    // same-cell truth — both ratios share the identical deterministic
    // truth set, so exact ≥ holds; the epsilon covers float printing
    val pqRerankBreach = (tags()(r => d(r, "pq256_top5_recall_rerank") <
        d(r, "pq256_top5_recall_adc") - 0.0005) ++
      tags("(sq8)")(r => d(r, "sq8_top5_recall_rerank") <
        d(r, "sq8_top5_recall_est") - 0.0005)).sorted
    // the distributed codebook build must assign identically at every
    // scale
    val distBreach = nonzero("trained_dist_cell_diff")
    // the L3 gates: the three-level build must keep every row (an
    // inner-join drop = broken subset invariant), and its coarser
    // routing must hold at least L3RecallShare of the two-level
    // probe1 recall on the same corpus at every scale
    val l3Lost = (nonzero("l3_rows_lost") ++
      tags("(inc)")(d(_, "l3_inc_rows_lost") != 0.0)).sorted
    val l3RecallBreach = tags()(r => d(r, "l3_recall3_probe2") <
      L3RecallShare * d(r, "trained_recall3_probe1"))
    // the served L3 book gate (re-based r11, see the control's comment
    // above): the EXCLUSION COST — inc (trained on 9/10 of rows) vs
    // the selection-law-matched control (same scheme, all rows) — must
    // stay ≥ L3IncShare (worst measured point 0.74 at 100×, floored
    // with slack at 0.70). The scheme-vs-full gap rides the artifact
    // as a RECORD (l3_inc vs l3 rows) with the corpus-symmetry
    // analysis, not a gate.
    val l3IncBreach = tags()(r => d(r, "l3_inc_recall3_probe1") <
      L3IncShare * d(r, "l3_incsel_recall3_probe1"))
    // the adaptive SEARCH gate (r12): the margin-law probe set always
    // contains the home cell, so its top-3 recall can never measure
    // below probe1's on the same truth — a breach is a broken probe
    // array or join, not a quality judgement (small epsilon: both
    // recalls are ratios of the same ≤ ~300-pair truth set, so exact
    // ≥ holds; the slack covers only float printing)
    val adpSearchBreach = (tags()(r => d(r, "trained_recall3_adaptive") <
        d(r, "trained_recall3_probe1") - 0.0005) ++
      tags("(l3)")(r => d(r, "l3_recall3_adaptive") <
        d(r, "l3_recall3_probe1") - 0.0005)).sorted
    // the r10 switch gate: at every scale the forced-budget build must
    // have actually taken the dist route AND agreed on every probe col
    val switchBreach = (nonzero("switch_probe_diff", "sem_switch_diff",
      "adp_switch_probe_diff", "lsh_switch_cell_diff", "ann_auto_cell_diff",
      "ann_auto_ingest_diff") ++ tags() { r =>
        s(r, "switch_route") != "dist" ||
          s(r, "sem_switch_route") != "dist" ||
          s(r, "adp_switch_route") != "dist" ||
          // VACUOUS PASS (r12): on a corpus with NO hot buckets
          // (seedCount = 0 — the decorrelated 1× geometry spreads the
          // planted clusters below the refinement cap) the dist route
          // is unreachable by the engine's own law (seedCount > budget
          // is false for every budget) AND meaningless — both routes
          // are the identity assignment, and the diff row already
          // gates their equality. The switch gate therefore accepts
          // lsh-broadcast ONLY in the zero-seed case.
          !(s(r, "lsh_switch_route") == "lsh-dist" ||
            (s(r, "lsh_switch_route") == "lsh-broadcast" &&
              d(r, "lsh_switch_driver_seeds") == 0.0)) ||
          s(r, "ann_auto_book") != "l3" ||
          s(r, "ann_auto_ingest_book") != "l3"
      }).distinct.sorted
    ListMap(
      "cell_pair_mass_ratio" -> ratio("cell_pair_mass"),
      "trained_pair_mass_ratio" -> ratio("trained_pair_mass"),
      "adaptive_lsh_pair_mass_ratio" -> ratio("adaptive_lsh_pair_mass"),
      "sem_pair_mass_ratio" -> ratio("sem_pair_mass"),
      "multi_probe3_pair_mass_ratio" -> ratio("multi_probe3_pair_mass"),
      "adaptive_lsh_note" -> ("read mass_per_row, not the ratio: the " +
        "cap engages only on buckets past it, so the 1x denominator " +
        "is largely unsplit mass; per-row candidates are bounded by " +
        "the cap at any corpus size"),
      "l3_width_note" -> ("at measurable c the beamed L3 is WIDER " +
        "than two-level (the 2*beam leaf scans dominate small " +
        "blocks); the widths cross arithmetically near c~2^18 " +
        "(2*sqrt(c) vs t+2t+2*beam*t, t=c^(1/3)) and at the 2^24 " +
        "two-level cap the L3 routes at ~2816 evals/row vs 8192 — " +
        "the L3 exists for the post-cap regime, not to win the " +
        "fixture"),
      "multi_probe_retention_floor" -> fixed(RetentionFloor, 2),
      "adaptive_retention_floor" -> fixed(AdaptiveRetentionFloor, 2),
      "removal_recall_floor" -> fixed(RemovalRecallFloor, 2),
      "adaptive_retention_below_floor" -> adpRetBreach,
      "removal_recall_below_floor" -> remBreach,
      "pq_adaptive_worse" -> pqBreach,
      "pq_res256_worse" -> pqRes256Breach,
      "pq_rerank_below_adc" -> pqRerankBreach,
      "pq_res256_note" -> ("measured negative: with occupancy-125 " +
        "trained cells the residual blob is near-isotropic and " +
        "raw-256 quantizes BETTER (0.189 vs 0.210 at 1x); the gate " +
        "is a 1.25x regression bound, not a residual-wins claim — " +
        "residual pays off on COARSE cells (the FAISS regime), " +
        "which constant-occupancy cell laws deliberately avoid"),
      "retention_below_floor" -> retBreach,
      "dist_build_diff_nonzero" -> distBreach,
      "l3_recall_share_floor" -> fixed(L3RecallShare, 2),
      "l3_rows_lost_nonzero" -> l3Lost,
      "l3_recall_below_share" -> l3RecallBreach,
      "l3_inc_recall_below_share" -> l3IncBreach,
      "adaptive_search_below_probe1" -> adpSearchBreach,
      "switch_gate_breach" -> switchBreach,
      "linear_bound" -> fixed(factor * 1.5, 1))
  }

  /** (used, max, median, Σc²) of a book's block sizes: the block count,
    * the largest block, the middle of the sorted sizes (index size/2)
    * and the candidate-pair mass Σ count² — the exact row count the
    * within-block self-join produces. */
  private[graft] def occupancyOf(counts: Seq[Long]): (Int, Long, Long, Double) = {
    val c = counts.sorted
    (c.length, c.last, c(c.length / 2), c.map(x => x.toDouble * x).sum)
  }

  /** The share of `truth` that `got` finds — recall@3, top-5 recall and
    * near-dup retention alike; 1.0 when there is nothing to find. */
  private[graft] def share[A](truth: Set[A], got: Set[A]): Double =
    if (truth.isEmpty) 1.0 else (truth & got).size.toDouble / truth.size

  /** REMOVAL recall — the decision metric of a dedup pass: a query row
    * with ANY true lower-id duplicate is removed as long as the blocker
    * finds ANY ONE lower-id duplicate for it (every found pair is a
    * true pair; which one is immaterial to removal). */
  private[graft] def removalRecall(truth: Set[(Long, Long)],
      got: Set[(Long, Long)]): Double = {
    def removed(pairs: Set[(Long, Long)]) =
      pairs.collect { case (q, nb) if nb < q => q }
    share(removed(truth), removed(got))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = Harness.file(
      args.lift(2).getOrElse("SCALE_clustered_ann.json"))
    // optional 4th arg: generator mode — "clustered" (default) or
    // "clustered_vocabrich" (r12: the combined arm, vocab-rich
    // documents beside the clustered embeddings, so the retention
    // table can be recomputed on the corpus whose TEXT side carries no
    // 31-word-vocabulary entropy bound)
    val mode = args.lift(3).getOrElse("clustered")
    val spark = Harness.stressSession()

    val root = s"${ProcScratch.base}/clustered_ann"
    val dir1 = s"$root/sf1x"
    val dirN = s"$root/sf${factor}x"
    println(s"[ann-clustered] generating mode=$mode 1x at $dir1 and " +
      s"${factor}x at $dirN from $baseDir")
    ScaleStress.generate(spark, baseDir, dir1, 1, mode = mode)
    ScaleStress.generate(spark, baseDir, dirN, factor, mode = mode)

    val rows = Seq(("1x", dir1), (s"${factor}x", dirN)).map { case (tag, dir) =>
      val row = try measure(spark, dir) finally ScratchCache.release()
      println(s"[ann-clustered] $tag " + Seq("n", "cells_used",
        "cell_occ_max", "recall3_probe1", "trained_recall3_probe1",
        "trained_recall3_probe3", "l3_recall3_probe1",
        "neardup_retention_multi_probe3", "removal_recall_adaptive",
        "trained_dist_cell_diff", "sem_build_s")
        .map(k => s"$k=${row(k)}").mkString(" "))
      tag -> row
    }
    val out = ListMap[String, Any]("base_sf" -> baseDir, "factor" -> factor,
      "mode" -> mode) ++ rows ++ verdicts(rows, factor)
    Harness.writeJson(outJson, out)
    println(s"[ann-clustered] wrote $outJson (pair-mass ratio hash=" +
      s"${out("cell_pair_mass_ratio")} " +
      s"trained=${out("trained_pair_mass_ratio")} " +
      s"adaptiveLsh=${out("adaptive_lsh_pair_mass_ratio")} vs linear bound " +
      s"${out("linear_bound")})")
    spark.stop()
  }

  /** One scale's row, over the corpus at `dir`. */
  private def measure(spark: SparkSession, dir: String): ListMap[String, Any] = {
    // the HASH-seeded two-level book (q_ann_ivf / q_ann_ivf_probe2) and
    // the plain LSH buckets (q_ann_lsh)
    val hashed = hashCells(spark, dir, probe2 = true)
    val n = hashed.count()
    val cells = adaptiveCells(n)
    val planes = adaptivePlanes(n)
    val lsh = ScratchCache.scratch(lshBucketed(spark, dir, planes))

    // the ~100-query sample every recall and retention row draws from:
    // hash-drawn, so it is the same id set in every book
    val qstep = math.max(1L, n / 100)
    def sample(book: DataFrame): DataFrame =
      book.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
    def occupancy(book: DataFrame, keys: String*) =
      occupancyOf(book.groupBy(keys.map(col): _*).count()
        .select("count").collect().map(_.getLong(0)).toSeq)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // rows of `b` whose `cols` differ from `a`'s on the same vec_id, plus
    // any row-count delta: an inner join alone would miss a dropped row
    def routeDiff(a: DataFrame, b: DataFrame, cols: String*): Long = {
      def side(df: DataFrame, p: String) =
        df.select(col("vec_id") +: cols.map(c => col(c).as(p + c)): _*)
      side(a, "a_").join(side(b, "b_"), "vec_id")
        .filter(cols.map(c => col("a_" + c) =!= col("b_" + c)).reduce(_ || _))
        .count() + math.abs(b.count() - n)
    }
    // vec_ids on a seed stride: the seeds a raw-modulus book selects
    def strided(k: Long): Long =
      hashed.filter(pmod(col("vec_id"), lit(k)) === 0).count()

    // RECALL@3 against brute-force ground truth: the declared top-3
    // tail (cosineTopKRows, its (cosine desc, neighbor_id) tie law) over
    // a probe frame (query_id, qe, qn2, keys…). Probe rows are distinct
    // per (query, key) — a corpus row lives in one block, so a
    // (query, neighbor) pair is met at most once.
    def top3(probes: DataFrame, corpus: DataFrame, on: Seq[String]) =
      pairs(cosineTopKRows(probes.dropDuplicates("query_id" +: on), corpus,
        "query_id", on, Nil))
    val truth = top3(asProbes(sample(hashed), "query_id"), asCorpus(hashed),
      Nil)
    def recall3(book: DataFrame, probes: DataFrame, on: String*): Double =
      share(truth, top3(probes, asCorpus(book, on: _*), on))
    // the three probe laws: the home cell, the seam fan-out
    // (probeUnion: + cell2, and cell3 with `useCell3`), the margin law
    def home(book: DataFrame) = asProbes(sample(book), "query_id", "cell")
    def seams(useCell3: Boolean)(e: DataFrame, id: String, emb: String,
        n2: String) = probeUnion(e, id, emb, n2, useCell3)
    def margin(e: DataFrame, id: String, emb: String, n2: String) =
      e.selectExpr(s"vec_id AS $id", s"embedding AS $emb", s"n2 AS $n2",
        "explode(probes) AS cell")
    def probed(book: DataFrame,
        fan: (DataFrame, String, String, String) => DataFrame) =
      fan(sample(book), "query_id", "qe", "qn2")

    // NEAR-DUP RETENTION — the blocking-key metric for the
    // q_dedup_embedding family: a pair survives iff the blocker makes it
    // meet. On this fixture cosine ≥ 0.4 (the declared threshold) is ≈
    // same-cluster membership, so the TRUTH SET ITSELF grows
    // quadratically with cluster mass — read the rows as retention
    // against candidate mass across the blockers. The pairs are the
    // sample's ORDERED (query, neighbor) pairs (truth: |sample|·N).
    def nearDups(joined: DataFrame): Set[(Long, Long)] = pairs(joined
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine("qe", "ce", "qn2", "cn2"))
      .filter(col("cosine") >= NearDupThreshold))
    def blocked(book: DataFrame, keys: String*) = nearDups(
      asProbes(sample(book), "query_id", keys: _*)
        .join(asCorpus(book, keys: _*), keys))
    // multi-probe blocking: a pair survives when EITHER endpoint's probe
    // set holds the other's HOME cell
    def eitherEndpoint(book: DataFrame,
        fan: (DataFrame, String, String, String) => DataFrame) = nearDups(
      probed(book, fan).join(asCorpus(book, "cell"), "cell")
        .unionByName(home(book)
          .join(fan(book, "neighbor_id", "ce", "cn2"), "cell")))
    val ndTruth = blocked(hashed)

    val (cellsUsed, cellMax, cellMed, cellSq) = occupancy(hashed, "cell")
    val (bUsed, bMax, bMed, bSq) = occupancy(lsh, "bucket")
    val r1 = recall3(hashed, home(hashed), "cell")
    val r2 = recall3(hashed, probed(hashed, seams(false)), "cell")

    // the TRAINED (data-seeded) quantizer (q_ann_ivf_trained): occupancy
    // must track density; recall must order probe3 ≥ probe2 ≥ probe1
    val bal = trainedCells(spark, dir, probe2 = true, probe3 = true)
    val (balUsed, balMax, balMed, balSq) = occupancy(bal, "cell")
    val balR1 = recall3(bal, home(bal), "cell")
    val balR2 = recall3(bal, probed(bal, seams(false)), "cell")
    val balR3 = recall3(bal, probed(bal, seams(true)), "cell")

    // the DENSITY-ADAPTIVE LSH (q_ann_lsh_adaptive), measured at the
    // PRODUCTION-shaped cap (125 — the IVF occupancy target; the
    // declared query's fixture-tiny default 8 exists to put the split
    // path under the DuckDB oracle, not to be a sensible recall point)
    val refCap = 125
    val ref = lshRefined(spark, dir, refCap)
    val (refUsed, refMax, refMed, refSq) = occupancy(ref, "bucket", "cell")
    val refR1 = recall3(ref, asProbes(sample(ref), "query_id", "bucket",
      "cell"), "bucket", "cell")

    // candidate mass of a probe fan-out: Σ over its (row, cell) rows of
    // the trained cell's size — the declared multi-probe join's size
    val cnt = bal.groupBy("cell").agg(count(lit(1)).as("bn"))
    def mass(fan: DataFrame): Double = fan.select("cell")
      .join(broadcast(cnt), "cell").agg(coalesce(sum("bn"), lit(0L)))
      .head.getLong(0).toDouble
    def fanOut(fan: (DataFrame, String, String, String) => DataFrame) =
      fan(bal, "query_id", "qe", "qn2")
    val ndLsh = blocked(lsh, "bucket")
    val ndRef = blocked(ref, "bucket", "cell")
    val ndBal = blocked(bal, "cell")
    // MULTI-PROBE near-dup blocking (q_dedup_embedding_probe2/_probe3):
    // cell2 is the cross-super seam, cell3 the intra-super one
    val ndBalMp = eitherEndpoint(bal, seams(false))
    val mpMass = mass(fanOut(seams(false)))
    val ndBalMp3 = eitherEndpoint(bal, seams(true))
    val mp3Mass = mass(fanOut(seams(true)))

    // ADAPTIVE multi-probe (q_dedup_embedding_adaptive /
    // q_ann_ivf_trained_adaptive) at the shipped knob defaults: the
    // margin-law probe set on the same truths beside the fixed probes
    def adaptiveBook(budget: Long) = trainedAdaptiveCells(spark, dir,
      AdaptNSupers, AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen,
      interleave = true, budget = budget)
    val adp = adaptiveBook(MaxDriverSeeds)
    val adpMass = mass(adp.selectExpr("explode(probes) AS cell"))
    val ndAdp = eitherEndpoint(adp, margin)
    // contains the home cell, so ≥ trained_recall3_probe1 by construction
    val adpRecall = recall3(adp, probed(adp, margin), "cell")

    // the SIZE SWITCHES: a budget below this corpus's book size makes
    // each builder take its DIST route, which must be bit-identical
    // while the driver holds only the supers
    val adpSwitched = adaptiveBook(1)
    val BookRoute(adpSwitchRoute, adpSwitchSeeds) = BookRoute.of(adpSwitched)
    val adpSwitchDiff = routeDiff(adp, adpSwitched, "probes")
    val lshSwitched = lshRefined(spark, dir, refCap, budget = 1)
    val BookRoute(lshSwitchRoute, lshSwitchSeeds) = BookRoute.of(lshSwitched)
    val lshSwitchDiff = routeDiff(ref, lshSwitched, "bucket", "cell")
    val remAdp = removalRecall(ndTruth, ndAdp)
    val remMp3 = removalRecall(ndTruth, ndBalMp3)

    // PQ / SQ8 over the trained book's quantized vectors, on the
    // PqQueries sampled queries: ADC relative error against the exact
    // d2 of the same-cell pairs, and top-5 recall of the estimator
    // order and of the exact re-rank (q_ann_ivfpq_rerank's tail)
    val kPq = adaptivePqCodes(n)
    val vq = quantized(bal)
    val pqQ = vq.filter(col("vec_id") < PqQueries)
      .selectExpr("vec_id AS query_id", "cell AS qcell", "v AS qv")
    def exactD2(sameCell: Boolean) = vq.selectExpr("vec_id", "v AS cv", "cell")
      .join(broadcast(pqQ), col("query_id") =!= col("vec_id") &&
        (if (sameCell) col("cell") === col("qcell") else lit(true)))
      .select(col("query_id"), col("vec_id"), dist2(col("qv"), col("cv")).as("d2"))
    val pqTrue = ScratchCache.scratch(exactD2(sameCell = true))
    def relErr(est: DataFrame): Double =
      est.join(pqTrue, Seq("query_id", "vec_id"))
        .selectExpr("avg(abs(est_d2 - d2) / greatest(d2, 1)) AS e")
        .head.getDouble(0)
    // corpus-adaptive code count (q_ann_ivfpq_trained): the book learns
    // on the full corpus, ENCODING covers only the query cells (the
    // only rows the estimate reads)
    val near = vq.filter(col("cell").isin(
      pqQ.select("qcell").distinct().collect().map(_.getLong(0)): _*))
    def adcRelErr(k: Int): Double = {
      val book = pqLearnBook(vq, k)
      relErr(adcEst(pqCodes(near, book), pqQdist(spark, vq, book),
        Some(homeCells(vq))))
    }
    val pqErrFixed = adcRelErr(16)
    val pqErrAdaptive = if (kPq == 16) pqErrFixed else adcRelErr(kPq)
    def top5(d2: DataFrame, by: String) =
      pairs(estTopK(d2.withColumnRenamed(by, "est_d2")))
    val truth5 = top5(pqTrue, "d2")
    // the estimator order vs the re-ranked shortlist: re-ranking a
    // superset of the order's top-5 can never recall less (gated)
    def shortlist(est: DataFrame): (Double, Double) =
      (share(truth5, top5(est, "est_d2")),
        share(truth5, pairs(pqRerankTopK(vq, est))))
    val est256Raw = ScratchCache.scratch(pq256Est(spark, vq))
    val err256Raw = relErr(est256Raw)
    val (pqRecallAdc, pqRecallRerank) = shortlist(est256Raw)
    // FULL-corpus recall of the composed serving queries
    // (q_ann_ivfpq_rerank / q_ann_ivfpq_adaptive): truth is the exact
    // top-5 over ALL candidates, where cell exclusion costs recall
    val truthFull = top5(exactD2(sameCell = false), "d2")
    val pqRerankFull = share(truthFull, pairs(pqRerankTopK(vq, est256Raw)))
    val pqProbes = adp.filter(col("vec_id") < PqQueries)
      .selectExpr("vec_id AS query_id", "explode(probes) AS qcell")
    val pqAdaptiveFull = share(truthFull,
      pairs(pqRerankTopK(vq, pq256Est(spark, vq, Some(pqProbes)))))
    // SCALAR QUANTIZATION (q_ann_ivf_sq8(_rerank)) on the same pairs
    val sq8E = ScratchCache.scratch(sq8EstFrom(spark, vq))
    val sq8RelErr = relErr(sq8E)
    val (sq8RecallEst, sq8RecallRerank) = shortlist(sq8E)
    // RESIDUAL PQ wrt the cell MEAN (q_ann_ivfpq_res256): within a cell
    // r_q − r_x = q − x, so it estimates the SAME true distances
    val err256Res = relErr(pq256Est(spark, cellResiduals(vq)))

    // the DISTRIBUTED codebook build (q_ann_ivf_trained_dist): same
    // cells by construction, while the driver collects only the ⌈√c⌉
    // super seeds instead of all ≈c child seeds
    val distDiff = routeDiff(bal, trainedCells(spark, dir, budget = 0), "cell")
    val (scStride, ssStride) = trainedStrides(n)
    val (oneBroadcastSeeds, distDriverSeeds) =
      (strided(scStride), strided(ssStride))
    val switched = trainedCells(spark, dir, probe2 = true, probe3 = true,
      budget = 1)
    val BookRoute(switchRoute, switchSeeds) = BookRoute.of(switched)
    val switchDiff = routeDiff(bal, switched, "cell", "cell2", "cell3")

    // the THREE-LEVEL quantizer (q_ann_ivf_trained_l3*): the routing law
    // past the two-level 2^24-cell cap; rows lost must be ZERO (the
    // inner joins drop rows only if the recursive subset invariant
    // breaks), recall is gated as a share of the two-level probe1
    val l3 = trainedCellsL3(spark, dir, probe2 = true, adaptive = true)
    val l3DriverSeeds = BookRoute.of(l3).driverSeeds
    val l3RowsLost = math.abs(l3.count() - n)
    val (l3Used, l3Max, l3Med, l3Sq) = occupancy(l3, "cell")
    val l3R1 = recall3(l3, home(l3), "cell")
    val l3R2 = recall3(l3, probed(l3, seams(false)), "cell")
    val l3AdpRecall = recall3(l3, probed(l3, margin), "cell")
    val (l3sc, l3ss, _) = trainedStridesL3(n)
    val (l3Supers, l3Children) = (strided(l3ss), strided(l3sc))
    // MEASURED routing width (distance evaluations per row): two-level
    // scans all supers + the home child block; the beamed L3 scans all
    // grands + 2 super blocks + 2·beam leaf blocks
    val twoLevelWidth =
      distDriverSeeds + oneBroadcastSeeds.toDouble / distDriverSeeds
    val l3Width = l3DriverSeeds + 2.0 * l3Supers / l3DriverSeeds +
      2.0 * L3SuperBeam * l3Children / l3Supers

    // the served L3 book (q_ann_incremental_l3) trains on the existing
    // 9/10 of rows; its gate control is the same scheme over ALL rows
    // (the selection-law control), so the gate measures the exclusion
    // cost alone
    val l3i = trainedCellsL3Inc(spark, dir, "vec_id % 10 <> 0")
    val l3iRowsLost = math.abs(l3i.count() - n)
    val l3iR1 = recall3(l3i, home(l3i), "cell")
    val l3iT = trainedCellsL3Inc(spark, dir, "TRUE")
    val l3iTR1 = recall3(l3iT, home(l3iT), "cell")

    // the ANN FACADE (q_ann_index_auto / q_ann_ingest_auto_l3) with the
    // cell cap forced: it must deliver exactly the L3 book, and its
    // ingest probe exactly the per-book serving body over l3i
    val annAuto = annIndex(spark, dir, probe2 = true, cap = 1L)
    val annAutoDiff = routeDiff(l3, annAuto, "cell", "cell2")
    val annIng = annIngest(spark, dir, cap = 1L)
    val ingCols = Seq("arrival_id", "neighbor_id", "rn").map(col)
    val (ing, ingRef) = (annIng.select(ingCols: _*),
      servedIngestProbe(l3i).select(ingCols: _*))
    val annIngDiff = ing.exceptAll(ingRef).count() + ingRef.exceptAll(ing).count()

    // the SemDeDup blocker (q_dedup_semantic's k-means at adaptiveSemK,
    // TWO-LEVEL routed): build time and routing width at every scale,
    // next to the flat width the old kernel paid
    val semK = ClusteringQueries.adaptiveSemK(n)
    val semSb = graft.functions.Codebook.superStride(semK)
    val semT0 = System.nanoTime()
    val sem = ClusteringQueries.semClusters(spark, dir)
    val semAll = ScratchCache.scratch(hashed.join(sem, "vec_id"))
    val (semUsed, semMax, semMed, semSq) = occupancy(semAll, "cluster")
    val semBuildS = (System.nanoTime() - semT0) / 1e9
    val ndSem = blocked(semAll, "cluster")
    val semSwitched = ClusteringQueries.semClusters(spark, dir, budget = 1)
    val BookRoute(semSwitchRoute, semSwitchDriver) = BookRoute.of(semSwitched)
    val semSwitchDiff = routeDiff(sem, semSwitched, "cluster")

    def ret(got: Set[(Long, Long)]): Number = fixed(share(ndTruth, got), 3)
    ListMap[String, Any](
      "n" -> n, "cells" -> cells, "cells_used" -> cellsUsed,
      "cell_occ_max" -> cellMax, "cell_occ_med" -> cellMed,
      "cell_pair_mass" -> fixed(cellSq, 0), "planes" -> planes,
      "buckets_used" -> bUsed, "bucket_occ_max" -> bMax,
      "bucket_occ_med" -> bMed, "bucket_pair_mass" -> fixed(bSq, 0),
      "recall3_probe1" -> fixed(r1, 3), "recall3_probe2" -> fixed(r2, 3),
      "trained_cells_used" -> balUsed, "trained_occ_max" -> balMax,
      "trained_occ_med" -> balMed, "trained_pair_mass" -> fixed(balSq, 0),
      "trained_recall3_probe1" -> fixed(balR1, 3),
      "trained_recall3_probe2" -> fixed(balR2, 3),
      "trained_recall3_probe3" -> fixed(balR3, 3),
      "cell_mass_per_row" -> fixed(cellSq / n, 1),
      "bucket_mass_per_row" -> fixed(bSq / n, 1),
      "trained_mass_per_row" -> fixed(balSq / n, 1),
      "adaptive_lsh_mass_per_row" -> fixed(refSq / n, 1),
      "adaptive_lsh_cap" -> refCap, "adaptive_lsh_cells_used" -> refUsed,
      "adaptive_lsh_occ_max" -> refMax, "adaptive_lsh_occ_med" -> refMed,
      "adaptive_lsh_pair_mass" -> fixed(refSq, 0),
      "adaptive_lsh_recall3_probe1" -> fixed(refR1, 3),
      "sem_clusters_used" -> semUsed, "sem_occ_max" -> semMax,
      "sem_occ_med" -> semMed, "sem_pair_mass" -> fixed(semSq, 0),
      "sem_mass_per_row" -> fixed(semSq / n, 1), "sem_k" -> semK,
      "sem_route_width" -> (semSb + (semK + semSb - 1) / semSb),
      "sem_flat_width" -> semK, "sem_build_s" -> fixed(semBuildS, 2),
      "sem_build_us_per_row" -> fixed(semBuildS * 1e6 / n, 1),
      "multi_probe_pair_mass" -> fixed(mpMass, 0),
      "multi_probe_mass_per_row" -> fixed(mpMass / n, 1),
      "multi_probe_mass_vs_single" -> fixed(mpMass / balSq, 2),
      "multi_probe3_pair_mass" -> fixed(mp3Mass, 0),
      "multi_probe3_mass_per_row" -> fixed(mp3Mass / n, 1),
      "multi_probe3_mass_vs_single" -> fixed(mp3Mass / balSq, 2),
      "trained_dist_cell_diff" -> distDiff,
      "trained_codebook_seeds" -> oneBroadcastSeeds,
      "trained_dist_driver_seeds" -> distDriverSeeds,
      "switch_route" -> switchRoute, "switch_driver_seeds" -> switchSeeds,
      "switch_probe_diff" -> switchDiff, "l3_cells_used" -> l3Used,
      "l3_occ_max" -> l3Max, "l3_occ_med" -> l3Med,
      "l3_pair_mass" -> fixed(l3Sq, 0),
      "l3_mass_per_row" -> fixed(l3Sq / n, 1),
      "l3_recall3_probe1" -> fixed(l3R1, 3),
      "l3_recall3_probe2" -> fixed(l3R2, 3),
      "l3_recall3_adaptive" -> fixed(l3AdpRecall, 3),
      "l3_driver_seeds" -> l3DriverSeeds, "l3_supers" -> l3Supers,
      "l3_children" -> l3Children, "l3_rows_lost" -> l3RowsLost,
      "l3_route_width" -> fixed(l3Width, 1),
      "trained_route_width" -> fixed(twoLevelWidth, 1),
      "sem_switch_route" -> semSwitchRoute,
      "sem_switch_driver_centroids" -> semSwitchDriver,
      "sem_switch_diff" -> semSwitchDiff,
      "adp_switch_route" -> adpSwitchRoute,
      "adp_switch_driver_seeds" -> adpSwitchSeeds,
      "adp_switch_probe_diff" -> adpSwitchDiff,
      "lsh_switch_route" -> lshSwitchRoute,
      "lsh_switch_driver_seeds" -> lshSwitchSeeds,
      "lsh_switch_cell_diff" -> lshSwitchDiff,
      "ann_auto_book" -> routedBook(annAuto),
      "ann_auto_cell_diff" -> annAutoDiff,
      "ann_auto_ingest_book" -> routedBook(annIng),
      "ann_auto_ingest_diff" -> annIngDiff,
      "l3_inc_recall3_probe1" -> fixed(l3iR1, 3),
      "l3_incsel_recall3_probe1" -> fixed(l3iTR1, 3),
      "l3_inc_rows_lost" -> l3iRowsLost,
      "neardup_truth_pairs" -> ndTruth.size,
      "neardup_retention_lsh" -> ret(ndLsh),
      "neardup_retention_adaptive" -> ret(ndRef),
      "neardup_retention_trained" -> ret(ndBal),
      "neardup_retention_sem" -> ret(ndSem),
      "neardup_retention_multi_probe" -> ret(ndBalMp),
      "neardup_retention_multi_probe3" -> ret(ndBalMp3),
      "adaptive_probe_pair_mass" -> fixed(adpMass, 0),
      "adaptive_probe_mass_vs_single" -> fixed(adpMass / balSq, 2),
      "trained_recall3_adaptive" -> fixed(adpRecall, 3),
      "neardup_retention_adaptive_probe" -> ret(ndAdp),
      "removal_recall_adaptive" -> fixed(remAdp, 3),
      "removal_recall_probe3" -> fixed(remMp3, 3),
      "pq_codes_adaptive" -> kPq,
      "pq_adc_relerr_fixed" -> fixed(pqErrFixed, 4),
      "pq_adc_relerr_adaptive" -> fixed(pqErrAdaptive, 4),
      "pq256_adc_relerr_raw" -> fixed(err256Raw, 4),
      "pq256_adc_relerr_res" -> fixed(err256Res, 4),
      "pq256_top5_recall_adc" -> fixed(pqRecallAdc, 3),
      "pq256_top5_recall_rerank" -> fixed(pqRecallRerank, 3),
      "ivfpq_rerank_recall5_full" -> fixed(pqRerankFull, 3),
      "ivfpq_adaptive_recall5_full" -> fixed(pqAdaptiveFull, 3),
      "sq8_adc_relerr" -> fixed(sq8RelErr, 4),
      "sq8_top5_recall_est" -> fixed(sq8RecallEst, 3),
      "sq8_top5_recall_rerank" -> fixed(sq8RecallRerank, 3))
  }
}
