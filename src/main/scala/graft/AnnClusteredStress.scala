package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import graft.Harness.{field, fixed, num}
import graft.functions.{BookRoute, cosine, ivfCellH, ivfCellH2, norm2}

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
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = e.count()
      val cells = ops.SimilarityQueries.adaptiveCells(n)
      val (sc, mc) = ops.SimilarityQueries.superSplit(cells)
      val planes = ops.SimilarityQueries.adaptivePlanes(n)
      val assigned = e.select(col("vec_id"), col("embedding"), norm2("embedding"),
        ivfCellH(col("embedding"), sc, mc).cast("int").as("cell"),
        graft.functions.lshBucket(col("embedding"), planes).as("bucket"))
        .persist()

      def occ(c: String): (Int, Long, Long, Double) = {
        val counts = assigned.groupBy(c).count()
          .select("count").collect().map(_.getLong(0)).sorted
        val sumSq = counts.map(x => x.toDouble * x).sum
        (counts.length, counts.last, counts(counts.length / 2), sumSq)
      }
      val (cellsUsed, cellMax, cellMed, cellSq) = occ("cell")
      val (bUsed, bMax, bMed, bSq) = occ("bucket")

      // recall@3 on a ~100-query sample vs brute-force ground truth
      val qstep = math.max(1L, n / 100)
      val q = assigned
        .filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("n2").as("qn2"), col("cell"),
          ivfCellH2(col("embedding"), sc, mc).cast("int").as("cell2"))
        .persist()
      val cand = assigned.selectExpr("vec_id AS neighbor_id",
        "embedding AS ce", "n2 AS cn2", "cell AS ccell")
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))
      def top3(joined: DataFrame): Set[(Long, Long)] = joined
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine("qe", "ce", "qn2", "cn2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = top3(q.crossJoin(cand))
      val probe1 = q.select(col("query_id"), col("qe"), col("qn2"),
        col("cell").as("probe"))
      val probe2 = probe1.unionByName(q.select(col("query_id"), col("qe"),
        col("qn2"), col("cell2").as("probe")))
      def recallOf(qs: DataFrame): Double = {
        val got = top3(qs.join(cand, col("probe") === col("ccell"))
          .dropDuplicates("query_id", "neighbor_id"))
        (truth & got).size.toDouble / truth.size
      }
      val r1 = recallOf(probe1)
      val r2 = recallOf(probe2)

      // the TRAINED (data-seeded) quantizer (q_ann_ivf_trained) on the
      // same corpus: occupancy must track density; recall must hold
      val bal = ops.SimilarityQueries.trainedCells(spark, dir,
        probe2 = true, probe3 = true)
      val bCounts = bal.groupBy("cell").count()
        .select("count").collect().map(_.getLong(0)).sorted
      val (balUsed, balMax, balMed) =
        (bCounts.length, bCounts.last, bCounts(bCounts.length / 2))
      val balSq = bCounts.map(x => x.toDouble * x).sum
      val balQ = bal.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "cell AS probe").persist()
      val balQ2 = balQ.unionByName(
        bal.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
          .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
            "cell2 AS probe"))
      val balCand = bal.selectExpr("vec_id AS neighbor_id",
        "embedding AS ce", "n2 AS cn2", "cell AS ccell")
      val balGot = top3(balQ.join(balCand, col("probe") === col("ccell")))
      val balR1 = (truth & balGot).size.toDouble / truth.size
      val balGot2 = top3(balQ2.join(balCand, col("probe") === col("ccell"))
        .dropDuplicates("query_id", "neighbor_id"))
      val balR2 = (truth & balGot2).size.toDouble / truth.size
      // nprobe=3 (q_ann_ivf_trained_probe3): + the home super's
      // second-best child — recall must order probe3 ≥ probe2 ≥ probe1
      val balQ3 = balQ2.unionByName(
        bal.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
          .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
            "cell3 AS probe"))
      val balGot3 = top3(balQ3.join(balCand, col("probe") === col("ccell"))
        .dropDuplicates("query_id", "neighbor_id"))
      val balR3 = (truth & balGot3).size.toDouble / truth.size
      balQ.unpersist()

      // the DENSITY-ADAPTIVE LSH (q_ann_lsh_adaptive) on the same
      // corpus: hot buckets refined by member-seeded sub-cells, so the
      // (bucket, cell) occupancy must stay ≈ the cap and pair mass
      // ≈ linear where the plain buckets above go quadratic. Measured
      // at the PRODUCTION-shaped cap (125 — the IVF occupancy target;
      // the declared query's fixture-tiny default 8 exists to put the
      // split path under the DuckDB oracle at every SF, not to be a
      // sensible recall point).
      val refCap = 125
      val ref = ops.SimilarityQueries.lshRefined(spark, dir, refCap)
      val rCounts = ref.groupBy("bucket", "cell").count()
        .select("count").collect().map(_.getLong(0)).sorted
      val (refUsed, refMax, refMed) =
        (rCounts.length, rCounts.last, rCounts(rCounts.length / 2))
      val refSq = rCounts.map(x => x.toDouble * x).sum
      val refQ = ref.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "bucket AS pbucket", "cell AS pcell")
      val refCand = ref.selectExpr("vec_id AS neighbor_id",
        "embedding AS ce", "n2 AS cn2", "bucket AS cbucket", "cell AS ccell")
      val refGot = top3(refQ.join(refCand,
        col("pbucket") === col("cbucket") && col("pcell") === col("ccell")))
      val refR1 = (truth & refGot).size.toDouble / truth.size

      // NEAR-DUP RETENTION — the blocking-key metric for the
      // q_dedup_embedding_lsh family: a pair survives iff it shares the
      // key. On this fixture cosine ≥ 0.4 (the declared threshold) is
      // ≈ same-cluster membership, so the TRUTH SET ITSELF grows
      // quadratically with cluster mass — no linear-candidate method
      // can hold retention constant, and the honest reading of these
      // rows is the RATIO of retention to candidate mass across the
      // three blockers at both scales (the trained quantizer wins it,
      // consistent with the recall rows — a third independent
      // measurement of the same conclusion).
      // Truth from the sampled queries only (bounded: |sample|·N pairs).
      // The near-dup law over a joined frame (query_id, neighbor_id, qe,
      // ce, qn2, cn2): distinct ordered pairs whose exact cosine clears
      // the declared threshold of the SimilarityQueries near-dup family.
      def ndPairs(joined: DataFrame): Set[(Long, Long)] = joined
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine("qe", "ce", "qn2", "cn2"))
        .filter(col("cosine") >= ops.SimilarityQueries.NearDupThreshold)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val qnd = assigned.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "bucket AS pbucket")
      val candB = assigned.selectExpr("vec_id AS neighbor_id",
        "embedding AS ce", "n2 AS cn2", "bucket AS cbucket")
      val ndTruth = ndPairs(
        qnd.drop("pbucket").crossJoin(candB.drop("cbucket")))
      val ndLsh = ndPairs(qnd.join(candB, col("pbucket") === col("cbucket")))
      val refQnd = ref.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "bucket AS pbucket", "cell AS pcell")
      val ndRef = ndPairs(refQnd.join(refCand,
        col("pbucket") === col("cbucket") && col("pcell") === col("ccell")))
      val balQnd = bal.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "cell AS probe")
      val ndBal = ndPairs(balQnd.join(balCand, col("probe") === col("ccell")))

      // MULTI-PROBE near-dup blocking (q_dedup_embedding_probe2): a pair
      // survives when EITHER endpoint's probe set {cell, cell2} contains
      // the other's HOME cell — the r08 finding was that every bounded
      // single-probe blocker retains ≤5.7% of true pairs at 100×
      // clustered, and the cross-super boundary (exactly where cell2
      // points) is where those pairs were lost. Candidate mass is the
      // declared query's real join size: Σ occ(cell) + Σ_{cell2≠cell}
      // occ(cell2) — bounded by 2× the single-probe mass.
      val balQnd2 = balQnd.unionByName(
        bal.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
          .filter(col("cell2") =!= col("cell"))
          .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
            "cell2 AS probe"))
      val candAlt = bal.filter(col("cell2") =!= col("cell"))
        .selectExpr("vec_id AS neighbor_id", "embedding AS ce", "n2 AS cn2",
          "cell2 AS ccell")
      val mpCols = Seq("query_id", "neighbor_id", "qe", "qn2", "ce", "cn2")
      val ndBalMp = ndPairs(
        balQnd2.join(balCand, col("probe") === col("ccell"))
          .select(mpCols.map(col): _*)
          .unionByName(balQnd.join(candAlt, col("probe") === col("ccell"))
            .select(mpCols.map(col): _*)))
      val cnt = bal.groupBy("cell").agg(count(lit(1)).as("bn"))
      def probeMass(c: String): Long = bal.filter(col(c) =!= col("cell"))
        .selectExpr(s"$c AS cell")
        .join(broadcast(cnt), "cell")
        .agg(coalesce(sum("bn"), lit(0L))).head.getLong(0)
      val mpMass = balSq + probeMass("cell2")

      // THREE-probe (q_dedup_embedding_probe3): + the home super's
      // second-best child (cell3) — the INTRA-super seam
      val balQnd3 = balQnd2.unionByName(
        bal.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
          .filter(col("cell3") =!= col("cell"))
          .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
            "cell3 AS probe"))
      val candAlt3 = candAlt.unionByName(
        bal.filter(col("cell3") =!= col("cell"))
          .selectExpr("vec_id AS neighbor_id", "embedding AS ce",
            "n2 AS cn2", "cell3 AS ccell"))
      val ndBalMp3 = ndPairs(
        balQnd3.join(balCand, col("probe") === col("ccell"))
          .select(mpCols.map(col): _*)
          .unionByName(balQnd.join(candAlt3, col("probe") === col("ccell"))
            .select(mpCols.map(col): _*)))
      val mp3Mass = mpMass + probeMass("cell3")

      // ADAPTIVE multi-probe knob (r10, q_dedup_embedding_adaptive):
      // the shipped (nSupers, maxProbes, eps, interleave) defaults,
      // measured on the SAME truth beside the fixed-probe rows — plus
      // REMOVAL RECALL, the decision metric of a dedup pass (a row
      // with any true lower-id duplicate is removed iff the blocker
      // finds ANY ONE lower-id duplicate for it)
      val adp = ops.SimilarityQueries.trainedAdaptiveCells(spark, dir,
        ops.SimilarityQueries.AdaptNSupers,
        ops.SimilarityQueries.AdaptMaxProbes,
        ops.SimilarityQueries.AdaptEpsNum,
        ops.SimilarityQueries.AdaptEpsDen, interleave = true).persist()
      val adpMass = adp.selectExpr("explode(probes) AS cell")
        .join(broadcast(cnt), "cell")
        .agg(coalesce(sum("bn"), lit(0L))).head.getLong(0).toDouble
      val adpQ = adp.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
      val adpGot1 = adpQ.selectExpr("vec_id AS query_id", "embedding AS qe",
          "n2 AS qn2", "explode(probes) AS probe")
        .join(adp.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
          "n2 AS cn2", "cell AS ccell"), col("probe") === col("ccell"))
      val adpGot2 = adpQ.selectExpr("vec_id AS query_id", "embedding AS qe",
          "n2 AS qn2", "cell AS probe")
        .join(adp.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
          "n2 AS cn2", "explode(probes) AS ccell"),
          col("probe") === col("ccell"))
      val ndAdp = ndPairs(
        adpGot1.select(mpCols.map(col): _*)
          .unionByName(adpGot2.select(mpCols.map(col): _*)))
      // adaptive-nprobe SEARCH recall (r12, q_ann_ivf_trained_adaptive):
      // the same margin-law probe set on the top-3 search, measured on
      // the same truth BESIDE the fixed probe1/2/3 chain — what the
      // knob buys the search surface at its stated candidate-mass
      // point (the adaptive set contains the home cell, so this is
      // ≥ trained_recall3_probe1 by construction; the interesting gap
      // is vs probe3 at the high factors where boundary queries spend
      // the cap)
      val adpRecall = {
        val got = top3(adpGot1.dropDuplicates("query_id", "neighbor_id"))
        (truth & got).size.toDouble / truth.size
      }

      // adaptive SIZE SWITCH: pass a budget below this
      // corpus's c so trainedAdaptiveCells delegates to its DIST
      // route (the relational replay of the probe law over per-block
      // top-K candidates) — the probe ARRAYS must be bit-identical
      // while the driver held only the ~sqrt(c) supers; this was the
      // one remaining driver-growth ceiling in the trained family
      val adpSwitched = ops.SimilarityQueries.trainedAdaptiveCells(spark,
        dir, ops.SimilarityQueries.AdaptNSupers,
        ops.SimilarityQueries.AdaptMaxProbes,
        ops.SimilarityQueries.AdaptEpsNum,
        ops.SimilarityQueries.AdaptEpsDen, interleave = true, budget = 1)
      val BookRoute(adpSwitchRoute, adpSwitchSeeds) = BookRoute.of(adpSwitched)
      val adpSwitchDiff = adp.selectExpr("vec_id", "probes AS p1")
        .join(adpSwitched.selectExpr("vec_id", "probes AS p2"), "vec_id")
        .filter("p1 <> p2").count() +
        math.abs(adpSwitched.count() - n)
      // the 20 PQ queries' margin-law probe rows, kept past adp's
      // lifetime for the full-composition recall rows below
      val pqProbes = adp.filter(col("vec_id") < 20)
        .selectExpr("vec_id AS query_id", "explode(probes) AS qcell")
        .persist()
      pqProbes.count()
      adp.unpersist()

      // LSH SIZE SWITCH (r11): pass a budget below this
      // corpus's hot-seed count so lshRefined delegates to its DIST
      // route (per-bucket supers broadcast, child seeds met as
      // SHUFFLE_HASH blocks) — the (bucket, cell) frames must be
      // bit-identical while the driver held only Σ_b ⌈√k_b⌉ rows;
      // this was the last declared-query build with a
      // growing-with-corpus driver collect (r10 weak finding #2)
      val lshSwitched = ops.SimilarityQueries.lshRefined(spark, dir, refCap,
        budget = 1)
      val BookRoute(lshSwitchRoute, lshSwitchSeeds) = BookRoute.of(lshSwitched)
      val lshSwitchDiff = ref
        .selectExpr("vec_id", "bucket AS lb1", "cell AS lc1")
        .join(lshSwitched.selectExpr(
          "vec_id", "bucket AS lb2", "cell AS lc2"), "vec_id")
        .filter("lb1 <> lb2 OR lc1 <> lc2").count() +
        math.abs(lshSwitched.count() - n)
      // REMOVAL recall — the decision metric of a dedup pass: a row with
      // ANY true lower-id duplicate is removed as long as the blocker
      // finds ANY ONE lower-id duplicate for it (every found pair is a
      // true pair; which one is immaterial to removal)
      def removalRecall(got: Set[(Long, Long)]): Double = {
        val remTruth = ndTruth.collect { case (q, nb) if nb < q => q }
        val remGot = got.collect { case (q, nb) if nb < q => q }
        if (remTruth.isEmpty) 1.0
        else (remTruth & remGot).size.toDouble / remTruth.size
      }
      val remAdp = removalRecall(ndAdp)
      val remMp3 = removalRecall(ndBalMp3)

      // corpus-adaptive PQ codes (r10, q_ann_ivfpq_trained): the code
      // count must TRACK the corpus (⌈n/125⌉ clamped to [16,256]) and
      // must BUY accuracy — ADC relative error vs the exact quantized
      // d2 on the sampled same-cell pairs, fixed-16 book vs adaptive
      // book (gated: adaptive may not be worse)
      val kPq = ops.SimilarityQueries.adaptivePqCodes(n)
      val vq = ScratchCache.scratch(bal.selectExpr("vec_id",
        s"${graft.oracle.SparkSql.quantVec("embedding", 1000000L)} AS v",
        "cell"))
      val pqQcell = vq.filter(col("vec_id") < 20)
        .selectExpr("vec_id AS query_id", "cell AS qcell", "v AS qv")
        .persist()
      val pqTrue = vq.selectExpr("vec_id", "v AS cv", "cell")
        .join(broadcast(pqQcell), col("cell") === col("qcell") &&
          col("query_id") =!= col("vec_id"))
        .selectExpr("query_id", "vec_id",
          s"${graft.oracle.SparkSql.dist2Big("qv", "cv")} AS d2")
        .persist()
      // book learning reads the full corpus (matching the declared
      // query) but ENCODING is restricted to the query cells: only
      // rows sharing a cell with the 20 sampled queries ever reach the
      // est join, and encoding all n rows against a 256-entry literal
      // book was the stress's dominant PQ cost (~100x wasted at 100x)
      val pqCellIds = pqQcell.select("qcell").distinct()
        .collect().map(_.getLong(0))
      val vqNear = vq.filter(col("cell").isin(pqCellIds: _*))
      def adcRelErr(k: Int): Double = {
        val book = ops.SimilarityQueries.pqLearnBook(vq, k)
        val codes = ops.SimilarityQueries.pqCodes(vqNear, book)
        val qd = ops.SimilarityQueries.pqQdist(spark, vq, book)
        val est = codes.join(broadcast(qd),
            codes("ss") === qd("ss") && codes("code") === qd("cid"))
          .join(broadcast(pqQcell.select("query_id", "qcell")
            .withColumnRenamed("query_id", "qid")),
            codes("cell") === col("qcell") && col("qid") =!= codes("vec_id"))
          .filter(col("qid") === col("query_id"))
          .groupBy("query_id", "vec_id")
          .agg(sum("qd2").as("est_d2"))
        est.join(pqTrue, Seq("query_id", "vec_id"))
          .selectExpr("avg(abs(est_d2 - d2) / greatest(d2, 1)) AS e")
          .head.getDouble(0)
      }
      val pqErrFixed = adcRelErr(16)
      val pqErrAdaptive = if (kPq == 16) pqErrFixed else adcRelErr(kPq)
      // RESIDUAL PQ on the trained-256 book (r11, q_ann_ivfpq_res256
      // vs q_ann_ivfpq_trained256): within a cell r_q − r_x = q − x,
      // so both paths estimate the SAME true distance — ADC rel-err
      // measured on the identical sampled pairs; residuals concentrate
      // around the cell centroid, so the same 256 codes should explain
      // MORE of what the coarse quantizer did not (gated not-worse)
      def relErr256Of(est: DataFrame): Double =
        est.join(pqTrue, Seq("query_id", "vec_id"))
          .selectExpr("avg(abs(est_d2 - d2) / greatest(d2, 1)) AS e")
          .head().getDouble(0)
      def relErr256(frame: DataFrame): Double =
        relErr256Of(ops.SimilarityQueries.pq256Est(spark, frame))
      val est256Raw = ops.SimilarityQueries.pq256Est(spark, vq).persist()
      val err256Raw = relErr256Of(est256Raw)
      // the EXACT RE-RANK stage (r12, q_ann_ivfpq_rerank): ADC orders
      // the cell's candidates, the top-RerankR shortlist is re-scored
      // with the exact integer d2, final top-5 by the exact distance.
      // Measured as top-5 recall against the exact same-cell truth
      // (pqTrue, the frame the rel-err rows already share): the
      // re-ranked top-5 may never recall less than the raw ADC top-5
      // at the same candidate mass (gate pq_rerank_below_adc) — ADC
      // error moves from the returned ORDERING to shortlist
      // membership only
      def top5Pairs(ranked: DataFrame, byCol: String): Set[(Long, Long)] = {
        val w = Window.partitionBy("query_id")
          .orderBy(col(byCol).asc, col("vec_id").asc)
        ranked.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).select("query_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val pqTruth5 = top5Pairs(pqTrue, "d2")
      val pqAdc5 = top5Pairs(est256Raw, "est_d2")
      val pqRerank5 = {
        val ws = Window.partitionBy("query_id")
          .orderBy(col("est_d2").asc, col("vec_id").asc)
        val short = est256Raw.withColumn("sr", row_number().over(ws))
          .filter(col("sr") <= ops.SimilarityQueries.RerankR)
          .select("query_id", "vec_id")
        top5Pairs(short.join(pqTrue, Seq("query_id", "vec_id")), "d2")
      }
      val pqRecallAdc = (pqAdc5 & pqTruth5).size.toDouble / pqTruth5.size
      val pqRecallRerank =
        (pqRerank5 & pqTruth5).size.toDouble / pqTruth5.size
      // FULL-corpus recall of the composed serving queries (r12,
      // q_ann_ivfpq_rerank / q_ann_ivfpq_adaptive): the truth here is
      // the exact top-5 over ALL candidates — the user-facing number,
      // where cell exclusion costs recall — measured for the same-cell
      // composition and for the margin-law adaptive probe set on the
      // identical truth. No gate: adaptive-vs-home is a measurement
      // (probes widen the candidate pool; nothing forbids ADC noise
      // from reordering a bigger pool), the invariant gate lives on
      // pq_rerank_below_adc above.
      val pqFullTrue = vq.selectExpr("vec_id", "v AS cv")
        .join(broadcast(pqQcell.select("query_id", "qv")),
          col("query_id") =!= col("vec_id"))
        .selectExpr("query_id", "vec_id",
          s"${graft.oracle.SparkSql.dist2Big("qv", "cv")} AS d2")
      val pqTruthFull = top5Pairs(pqFullTrue, "d2")
      def compRecall5(df: DataFrame): Double = {
        val got = df.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (got & pqTruthFull).size.toDouble / pqTruthFull.size
      }
      val pqRerankFull =
        compRecall5(ops.SimilarityQueries.pqRerankTopK(vq, est256Raw))
      val pqAdaptiveFull = compRecall5(ops.SimilarityQueries.pqRerankTopK(
        vq, ops.SimilarityQueries.pq256Est(spark, vq, Some(pqProbes))))
      pqProbes.unpersist()
      est256Raw.unpersist()
      // SCALAR QUANTIZATION (r12, q_ann_ivf_sq8(_rerank)): the third
      // quantizer family, measured on the identical sampled pairs and
      // truth — per-dim min/max codec, 64 B/vector, decode-and-score.
      // Same invariant gate class as PQ: re-ranking the SQ shortlist
      // may never recall less than the SQ est ordering.
      val sq8E = ops.SimilarityQueries.sq8EstFrom(spark, vq).persist()
      val sq8RelErr = relErr256Of(sq8E)
      val sq8Est5 = top5Pairs(sq8E, "est_d2")
      val sq8Rerank5 = {
        val ws = Window.partitionBy("query_id")
          .orderBy(col("est_d2").asc, col("vec_id").asc)
        val short = sq8E.withColumn("sr", row_number().over(ws))
          .filter(col("sr") <= ops.SimilarityQueries.RerankR)
          .select("query_id", "vec_id")
        top5Pairs(short.join(pqTrue, Seq("query_id", "vec_id")), "d2")
      }
      val sq8RecallEst = (sq8Est5 & pqTruth5).size.toDouble / pqTruth5.size
      val sq8RecallRerank =
        (sq8Rerank5 & pqTruth5).size.toDouble / pqTruth5.size
      sq8E.unpersist()
      // residual wrt the cell MEAN (the declared query's law): a seed
      // vector is itself a noisy member — seed-residuals measured
      // WORSE than raw here (0.212 vs 0.189 at 1×, the r11 finding
      // that set the centroid contract)
      val cents256 = vq.selectExpr("cell", "posexplode(v) AS (dim, x)")
        .groupBy("cell", "dim")
        .agg(sum("x").as("sx"), count(lit(1)).as("cn"))
        .selectExpr("cell", "dim", "sx div cn AS c")
        .groupBy("cell")
        .agg(expr("transform(sort_array(collect_list(struct(dim, c))), " +
          "p -> p.c)").as("cv"))
      val vr256 = vq.join(cents256.hint("SHUFFLE_HASH"), Seq("cell"))
        .selectExpr("vec_id", "zip_with(v, cv, (a, b) -> a - b) AS v",
          "cell")
      val err256Res = relErr256(vr256)
      pqQcell.unpersist(); pqTrue.unpersist()

      // the DISTRIBUTED codebook build (q_ann_ivf_trained_dist): same
      // cells by construction — diff must be ZERO at every scale (this
      // is the "recall within a stated delta" point: delta = 0) while
      // the driver only ever collects the ⌈√c⌉ super seeds instead of
      // all ≈c child seeds
      val dist = ops.SimilarityQueries.trainedCells(spark, dir, budget = 0)
      // mismatches + any row-count delta: the dist build's inner join
      // could silently DROP rows if the supers-subset-of-children
      // invariant broke, and an inner-join equality alone would miss it
      val distDiff = bal.selectExpr("vec_id", "cell AS cell_one")
        .join(dist.selectExpr("vec_id", "cell AS cell_dist"), "vec_id")
        .filter(col("cell_one") =!= col("cell_dist")).count() +
        math.abs(dist.count() - n)
      val (scStride, ssStride) = ops.SimilarityQueries.trainedStrides(n)
      val oneBroadcastSeeds =
        assigned.filter(pmod(col("vec_id"), lit(scStride)) === 0).count()
      val distDriverSeeds =
        assigned.filter(pmod(col("vec_id"), lit(ssStride)) === 0).count()

      // the SIZE SWITCH itself (r10): pass a driver-seed budget
      // below this corpus's c so trainedCells DELEGATES to the dist
      // build, and assert the switched build is bit-identical on ALL
      // probe columns while the driver held only the ~sqrt(c) supers —
      // the "switch fires and is safe" proof on a corpus big enough to
      // trip it (the fixture suite can only prove it at c=16)
      val switched = ops.SimilarityQueries.trainedCells(spark, dir,
        probe2 = true, probe3 = true, budget = 1)
      val BookRoute(switchRoute, switchSeeds) = BookRoute.of(switched)
      val switchDiff = bal
        .selectExpr("vec_id", "cell AS c1", "cell2 AS c21", "cell3 AS c31")
        .join(switched.selectExpr(
          "vec_id", "cell AS c2", "cell2 AS c22", "cell3 AS c32"), "vec_id")
        .filter("c1 <> c2 OR c21 <> c22 OR c31 <> c32").count() +
        math.abs(switched.count() - n)

      // the THREE-LEVEL quantizer (q_ann_ivf_trained_l3): the routing
      // law past the two-level 2^24-cell cap (constant occupancy dies
      // at 2.1e9 rows there). Coarser routing can cost recall vs the
      // two-level book on the SAME corpus — measured here at every
      // scale — while driver state drops from ~sqrt(c) supers to the
      // ~c^(1/3) grands and per-row routing width from 2*sqrt(c) to
      // 3*c^(1/3). Rows lost must be ZERO (the inner joins drop rows
      // only if the recursive subset invariant breaks — gated).
      val l3 = ops.SimilarityQueries.trainedCellsL3(spark, dir,
        probe2 = true, adaptive = true)
      val l3DriverSeeds = BookRoute.of(l3).driverSeeds
      val l3RowsLost = math.abs(l3.count() - n)
      val l3Counts = l3.groupBy("cell").count()
        .select("count").collect().map(_.getLong(0)).sorted
      val (l3Used, l3Max, l3Med) =
        (l3Counts.length, l3Counts.last, l3Counts(l3Counts.length / 2))
      val l3Sq = l3Counts.map(x => x.toDouble * x).sum
      val l3Q = l3.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "cell AS probe")
      val l3Cand = l3.selectExpr("vec_id AS neighbor_id",
        "embedding AS ce", "n2 AS cn2", "cell AS ccell")
      val l3Got = top3(l3Q.join(l3Cand, col("probe") === col("ccell")))
      val l3R1 = (truth & l3Got).size.toDouble / truth.size
      // the nprobe=2 knob (q_ann_ivf_trained_l3_probe2): the beam's
      // runner-up cell, probe-side only — the recall compensation the
      // share gate rides on
      val l3Q2 = l3Q.unionByName(
        l3.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
          .selectExpr("vec_id AS query_id", "embedding AS qe",
            "n2 AS qn2", "cell2 AS probe"))
      val l3Got2 = top3(l3Q2.join(l3Cand, col("probe") === col("ccell"))
        .dropDuplicates("query_id", "neighbor_id"))
      val l3R2 = (truth & l3Got2).size.toDouble / truth.size
      // the ADAPTIVE-nprobe knob on the L3 book (r12,
      // q_ann_ivf_trained_l3_adaptive): the margin law over the beam's
      // already-scanned leaves — measured beside the fixed probe1/2
      // rows on the same truth, gated ≥ probe1 (home-cell superset)
      val l3AdpRecall = {
        val q = l3.filter(pmod(hash(col("vec_id"), lit(77)),
            lit(qstep)) === 0)
          .selectExpr("vec_id AS query_id", "embedding AS qe",
            "n2 AS qn2", "explode(probes) AS probe")
        val got = top3(q.join(l3Cand, col("probe") === col("ccell"))
          .dropDuplicates("query_id", "neighbor_id"))
        (truth & got).size.toDouble / truth.size
      }
      val (l3sc, l3ss, l3gs) = ops.SimilarityQueries.trainedStridesL3(n)
      val l3Supers =
        assigned.filter(pmod(col("vec_id"), lit(l3ss)) === 0).count()
      val l3Children =
        assigned.filter(pmod(col("vec_id"), lit(l3sc)) === 0).count()
      // MEASURED routing width — distance evaluations per row, the
      // O(2·√c) vs O(c^(1/3)·const) claim quantified: two-level scans
      // all supers + the home child block; the beamed L3 scans all
      // grands + 2 super blocks + 2·beam leaf blocks (average block
      // sizes from the corpus itself, not the law's ideal)
      val l3Beam = ops.SimilarityQueries.L3SuperBeam
      val twoLevelWidth =
        distDriverSeeds + oneBroadcastSeeds.toDouble / distDriverSeeds
      val l3Width = l3DriverSeeds +
        2.0 * l3Supers / l3DriverSeeds +
        2.0 * l3Beam * l3Children / l3Supers

      // L3 SERVED-INDEX parity (r11, q_ann_incremental_l3 /
      // q_stream_ann_ingest_l3): the incremental-training book (LCG
      // children + rank-strided supers/grands over the existing 90% of
      // rows, arrivals frozen out) must keep every row through its
      // inner joins and hold recall near the full L3 book — training
      // on 9/10 of the corpus should cost little
      def l3Recall(book: DataFrame): Double = {
        val bq = book.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
          .selectExpr("vec_id AS query_id", "embedding AS qe",
            "n2 AS qn2", "cell AS probe")
        val bc = book.selectExpr("vec_id AS neighbor_id",
          "embedding AS ce", "n2 AS cn2", "cell AS ccell")
        val got = top3(bq.join(bc, col("probe") === col("ccell")))
        (truth & got).size.toDouble / truth.size
      }
      val l3i = ops.SimilarityQueries.trainedCellsL3Inc(spark, dir,
        "vec_id % 10 <> 0")
      val l3iRowsLost = math.abs(l3i.count() - n)
      val l3iR1 = l3Recall(l3i)
      // the SELECTION-LAW CONTROL: the inc scheme (LCG children +
      // rank-strided supers/grands) with NO row exclusion — the gate
      // measures the serving feature itself (the exclusion cost), not
      // scheme-vs-scheme differences. History: on the pre-r12
      // SYMMETRIC corpus the raw-modulus full book scored 0.780@100×
      // vs 0.117 for this control at identical occupancy, because the
      // composite k·10^7 replica offsets AND the stride-drawn probe
      // sample resonated with the seed strides (at factor 100 every
      // probe query WAS a child seed). r12 decorrelated all three
      // (prime offsets, per-row geometric scramble, hash-drawn
      // probes); the books now agree at every factor and decline
      // monotonically (r12 measurement, 10×: 0.229/0.229/0.232; 100×:
      // 0.061/0.074/0.093 for full/control/inc).
      val l3iT = ops.SimilarityQueries.trainedCellsL3Inc(spark, dir, "TRUE")
      val l3iTR1 = l3Recall(l3iT)

      // the ANN FACADE (r11, q_ann_index_auto): force the cell cap so
      // the route law picks the L3 arm on THIS corpus and assert the
      // facade delivered exactly the L3 book's frame — the crossover a
      // 3×10⁹-row user previously had to know to take by hand
      val annAuto = ops.SimilarityQueries.annIndex(spark, dir,
        probe2 = true, cap = 1L)
      val annAutoBook = ops.SimilarityQueries.routedBook(annAuto)
      val annAutoDiff = l3
        .selectExpr("vec_id", "cell AS f1", "cell2 AS f21")
        .join(annAuto.selectExpr(
          "vec_id", "cell AS f2", "cell2 AS f22"), "vec_id")
        .filter("f1 <> f2 OR f21 <> f22").count() +
        math.abs(annAuto.count() - n)

      // the facade SERVING arm (r12, q_ann_ingest_auto_l3): adding a
      // batch routes by the same law — force the cap and assert the
      // facade's ingest probe is row-identical to the per-book body
      // over the SAME inc build (l3i above). A nonzero diff means the
      // facade's route or its frozen-book contract drifted from the
      // declared per-book serving query.
      val annIng = ops.SimilarityQueries.annIngest(spark, dir, cap = 1L)
      val annIngBook = ops.SimilarityQueries.routedBook(annIng)
      val annIngRef = ops.SimilarityQueries.servedIngestProbe(l3i)
      val cmpCols = Seq("arrival_id", "neighbor_id", "rn")
      val annIngDiff =
        annIng.select(cmpCols.head, cmpCols.tail: _*)
          .exceptAll(annIngRef.select(cmpCols.head, cmpCols.tail: _*))
          .count() +
        annIngRef.select(cmpCols.head, cmpCols.tail: _*)
          .exceptAll(annIng.select(cmpCols.head, cmpCols.tail: _*))
          .count()

      // the SemDeDup blocker (q_dedup_semantic's k-means at adaptiveSemK,
      // first-K data seeds + Lloyd rounds): the r07 verdict's #1 item,
      // now measured under the SAME density skew as the quantizers —
      // does K ∝ N with data-seeded Lloyd hold per-cluster occupancy,
      // and what fraction of true near-dup pairs stays inside a block?
      // r09: the assignment is TWO-LEVEL routed (O(√K·d)/row through
      // TwoLevelArgminBroadcast — K ∝ N made the old flat argmin's
      // total assignment O(N²·d), the r08 verdict's superlinear
      // finding), so the build time and the per-row routing width are
      // measured HERE, at every scale, next to the flat width the old
      // kernel would have paid
      val semK = ops.ClusteringQueries.adaptiveSemK(n)
      val semSb = graft.functions.Codebook.superStride(semK)
      val semT0 = System.nanoTime()
      val sem = ops.ClusteringQueries.semClusters(spark, dir)
      val semAll = assigned.join(sem, "vec_id").persist()
      val semCounts = semAll.groupBy("cluster").count()
        .select("count").collect().map(_.getLong(0)).sorted
      val semBuildS = (System.nanoTime() - semT0) / 1e9
      val (semUsed, semMax, semMed) =
        (semCounts.length, semCounts.last, semCounts(semCounts.length / 2))
      val semSq = semCounts.map(x => x.toDouble * x).sum
      val semQnd = semAll.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "cluster AS pcl")
      val semCand = semAll.selectExpr("vec_id AS neighbor_id",
        "embedding AS ce", "n2 AS cn2", "cluster AS ccl")
      val ndSem = ndPairs(semQnd.join(semCand, col("pcl") === col("ccl")))
      semAll.unpersist()

      // sem SIZE SWITCH (r10): pass a budget below this corpus's K so
      // the Lloyd rounds take the DataFrame-centroid route, and assert
      // the assignment is bit-identical while the driver held only
      // ~sqrt(K) centroid rows per round
      val semSwitched = ops.ClusteringQueries.semClusters(spark, dir,
        budget = 1)
      val BookRoute(semSwitchRoute, semSwitchDriver) = BookRoute.of(semSwitched)
      val semSwitchDiff = sem.selectExpr("vec_id", "cluster AS k1")
        .join(semSwitched.selectExpr("vec_id", "cluster AS k2"), "vec_id")
        .filter("k1 <> k2").count() + math.abs(semSwitched.count() - n)

      def ret(s: Set[(Long, Long)]): Double =
        if (ndTruth.isEmpty) 1.0 else (ndTruth & s).size.toDouble / ndTruth.size
      val (retLsh, retRef, retBal, retSem) =
        (ret(ndLsh), ret(ndRef), ret(ndBal), ret(ndSem))
      val retMp = ret(ndBalMp)
      val retMp3 = ret(ndBalMp3)
      val retAdp = ret(ndAdp)
      ScratchCache.release()

      q.unpersist(); assigned.unpersist()
      println(f"[ann-clustered] $tag%-4s n=$n cells=$cells used=$cellsUsed " +
        f"occ max/med=$cellMax/$cellMed sumsq=${cellSq}%.3g | " +
        f"lsh buckets used=$bUsed max/med=$bMax/$bMed sumsq=${bSq}%.3g | " +
        f"recall@3 p1=$r1%.3f p2=$r2%.3f | trained used=$balUsed " +
        f"max/med=$balMax/$balMed sumsq=${balSq}%.3g recall " +
        f"p1=$balR1%.3f p2=$balR2%.3f p3=$balR3%.3f | adaLSH(cap=$refCap) used=$refUsed " +
        f"max/med=$refMax/$refMed sumsq=${refSq}%.3g recall p1=$refR1%.3f | " +
        f"sem k=$semUsed max/med=$semMax/$semMed sumsq=${semSq}%.3g " +
        f"build=${semBuildS}%.1fs | " +
        f"nd(n=${ndTruth.size}) lsh=$retLsh%.3f ada=$retRef%.3f " +
        f"trained=$retBal%.3f sem=$retSem%.3f MULTI2=$retMp%.3f " +
        f"(${mpMass / balSq}%.2fx) MULTI3=$retMp3%.3f " +
        f"(${mp3Mass / balSq}%.2fx) ADAPT=$retAdp%.3f " +
        f"(${adpMass / balSq}%.2fx, removal=$remAdp%.3f) | distDiff=$distDiff " +
        f"seeds one=$oneBroadcastSeeds dist=$distDriverSeeds")
      tag -> ListMap[String, Any](
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
        "multi_probe_mass_per_row" -> fixed(mpMass.toDouble / n, 1),
        "multi_probe_mass_vs_single" -> fixed(mpMass / balSq, 2),
        "multi_probe3_pair_mass" -> fixed(mp3Mass, 0),
        "multi_probe3_mass_per_row" -> fixed(mp3Mass.toDouble / n, 1),
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
        "ann_auto_book" -> annAutoBook, "ann_auto_cell_diff" -> annAutoDiff,
        "ann_auto_ingest_book" -> annIngBook,
        "ann_auto_ingest_diff" -> annIngDiff,
        "l3_inc_recall3_probe1" -> fixed(l3iR1, 3),
        "l3_incsel_recall3_probe1" -> fixed(l3iTR1, 3),
        "l3_inc_rows_lost" -> l3iRowsLost,
        "neardup_truth_pairs" -> ndTruth.size,
        "neardup_retention_lsh" -> fixed(retLsh, 3),
        "neardup_retention_adaptive" -> fixed(retRef, 3),
        "neardup_retention_trained" -> fixed(retBal, 3),
        "neardup_retention_sem" -> fixed(retSem, 3),
        "neardup_retention_multi_probe" -> fixed(retMp, 3),
        "neardup_retention_multi_probe3" -> fixed(retMp3, 3),
        "adaptive_probe_pair_mass" -> fixed(adpMass, 0),
        "adaptive_probe_mass_vs_single" -> fixed(adpMass / balSq, 2),
        "trained_recall3_adaptive" -> fixed(adpRecall, 3),
        "neardup_retention_adaptive_probe" -> fixed(retAdp, 3),
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
}
