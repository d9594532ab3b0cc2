package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import Harness.{field, fixed, num}

/** Empirical scale-stress harness: converts the "this plan survives
  * 100×" arguments (SURVEY §2 scale notes, PLANS.md shapes) into a
  * measurement. The reference makes the same claim structurally — its
  * scheduling scales by splitting the same DAG wider
  * (tez-dag/src/main/java/org/apache/tez/dag/app/dag/impl/VertexImpl.java,
  * split grouping in TezSplitGrouper.java:72) — and its evidence is
  * cluster history; ours is this harness.
  *
  * Method: synthesize a FACTOR× corpus from the sf0.1 fixture by
  * replicating the four big tables with key-remapped ids and
  * decorrelated payloads, then run the scale-critical operator set at
  * 1× and FACTOR× through the SAME writer/layout (both scales are
  * re-written with identical file counts, so the only variable is
  * data volume) and compare:
  *   (a) physical plan signature — shuffle/broadcast/sort/aggregate
  *       counts and join strategies must not change shape (a
  *       broadcast→shuffle join flip past the 10 MB threshold is
  *       legitimate ADAPTIVE behavior and is reported as such);
  *   (b) runtime ratio — a linear operator may pay at most
  *       ~factor × time (plus fixed overheads, which only help);
  *   (c) skew — max/median task-time flags from StageAnalyzer at
  *       FACTOR× must stay far under the 20× alarm line.
  *
  * Payload decorrelation is what makes replication honest for the
  * similarity family: a verbatim 10× copy would put 10 exact
  * duplicates in every LSH bucket and grow candidate PAIRS
  * quadratically — not a scaling test but a different corpus. Instead:
  *   - documents.text is alphabet-rotated per replica (letter k-shift;
  *     length, whitespace, casing, within-replica near-dup structure
  *     all preserved; cross-replica shingle overlap destroyed), so
  *     near-dup pairs scale ×factor exactly;
  *   - embeddings.embedding is cyclically shifted per replica (norms
  *     and within-replica cosine structure preserved; cross-replica
  *     vectors decorrelated);
  *   - keys (doc_id, vec_id, event/user ids, lineitem keys) move to
  *     disjoint per-replica ranges, so the graph family sees factor
  *     disjoint copies of the same topology and per-user streaming
  *     state sees factor× distinct keys.
  *
  * Run: `sbt "runMain graft.ScaleStress [baseSfDir] [factor] [out]"`
  * Writes the per-query rows to `out` (default SCALE_r06.json), resolved
  * against the working directory.
  */
object ScaleStress extends AdaptiveSparkPlanHelper {

  /** The scale-critical operator set: every family whose 100 TB
    * viability the VERDICT graded from plan shape alone. */
  val StressQueries: Seq[String] = Seq(
    // dedup family (documents)
    "q_dedup_exact", "q_dedup_keep_best", "q_dedup_ngram",
    "q_dedup_minhash", "q_dedup_minhash_weighted", "q_dedup_prefix",
    "q_dedup_simhash", "q_dedup_substring", "q_dedup_cluster",
    "q_dedup_semantic",
    // similarity / ANN family (embeddings)
    "q_dedup_embedding_lsh", "q_dedup_embedding_probe2",
    "q_dedup_embedding_probe3", "q_dedup_embedding_adaptive",
    "q_dedup_semantic_adaptive",
    "q_ann_lsh", "q_ann_lsh_adaptive",
    "q_ann_ivf", "q_ann_ivf_probe2",
    "q_ann_ivf_trained", "q_ann_ivf_trained_probe2",
    "q_ann_ivf_trained_probe3", "q_ann_ivf_trained_dist",
    "q_ann_ivf_trained_probe3_dist",
    "q_ann_ivf_trained_l3", "q_ann_ivf_trained_l3_probe2",
    "q_dedup_semantic_mp",
    "q_ann_incremental", "q_ann_incremental_trained",
    "q_stream_ann_ingest", "q_ann_delete",
    // r11: the L3 serving surface, the facade, and the residual-256
    // path scale-gated beside the books they ride
    "q_ann_incremental_l3", "q_stream_ann_ingest_l3", "q_ann_delete_l3",
    "q_ann_index_auto", "q_ann_index_auto_l3",
    // r12: the facade SERVING arms (ingest/delete route by the law)
    "q_ann_ingest_auto_l3", "q_ann_delete_auto_l3",
    "q_ann_ivfpq", "q_ann_ivfpq_trained", "q_ann_ivfpq_trained256",
    "q_ann_ivfpq_res256",
    "q_kmeans",
    // r11/r12: the real-codec multimodal paths (decode cost ∝ rows)
    "q_multimodal_decode", "q_multimodal_ingest_png", "q_multimodal_audio",
    // training-data prep, curation + text (documents)
    "q_seq_pack", "q_inverted_index", "q_tfidf", "q_bm25",
    "q_heavy_hitters", "q_contamination",
    // iterative graph family (lineitem)
    "q_cc_largestar", "q_pagerank", "q_kcore", "q_shortest_path",
    // temporal + streaming (events)
    "q_event_funnel", "q_window_session",
    "q_stream_join", "q_stream_session", "q_stream_tumbling")

  /** Per-replica big-table transforms. Key offsets are far above any
    * fixture id range; payload mutations are deterministic functions
    * of the replica index only (no RNG — resumable, reproducible).
    *
    * Replica offsets are PRIME (r12 — the r11 honest finding's root
    * fix): the old k·10^7 offset made every modulus m dividing 10^7
    * (the trained child stride 125, the ~100-query probe stride, the
    * vec_id%10 arrival split …) select the SAME base rows in every
    * replica — at factor 100 all 100 recall-probe queries were
    * replicas of base row 0 and every one of them was itself a child
    * seed of the raw-modulus L3 book, which is why modulus-seeded
    * recall ROSE with scale (measured in r11: 0.78 vs 0.117 for the
    * identical selection law without the resonance). A prime offset P
    * is coprime to every stride m < P, so b ≡ −kP (mod m) walks a
    * DIFFERENT base residue per replica: modulus-selected samples
    * (seeds, probes, arrival splits) become ordinary samples of the
    * corpus. The per-row geometric scramble below removes the
    * complementary payload symmetry.
    *
    * `mode = "vocabrich"` additionally RENAMES each document's words by
    * a per-doc bucket (word → word + hash(word, bucket) digits, bucket
    * = hash(doc_id) mod 16): within a bucket the renaming is a pure
    * relabeling (near-dup distances, token counts, doc lengths all
    * preserved), across buckets token sets disjoin — so global
    * vocabulary grows ~16× and the 31-word fixture's simhash
    * SIGNATURE-ENTROPY COLLAPSE (identical token multisets → identical
    * 48-bit signatures → superlinear bucket joins, the r06 caveat on
    * q_dedup_simhash) disappears without touching the banding under
    * test. Applied at EVERY replica including the 1× baseline, so the
    * ratio compares the same rich corpus at two volumes.
    *
    * Modes COMPOSE by substring (r12): `clustered_vocabrich` applies
    * the clustered embedding geometry AND the vocab-rich document
    * renaming — the combined arm the r11 verdict's item 6 asks the
    * clustered ANN stress to measure. */
  private def mutate(name: String, df: DataFrame, k: Int,
      mode: String = "default"): DataFrame =
    name match {
      case "documents" =>
        val lower = "abcdefghijklmnopqrstuvwxyz"
        val upper = lower.toUpperCase
        // distinct letter permutation per replica: rotation by k mod 26,
        // composed with a reversal and/or an adjacent-pair swap chosen
        // by k/26 — 104 distinct substitution alphabets, so no two
        // replicas under factor ≤ 104 share shingles (a wrapped plain
        // rotation would make replica 26 an EXACT copy of replica 0 and
        // quadratically inflate cross-replica pairs; note a half-swap
        // would NOT do as the third variant — swapping halves of a
        // rotation is just a rotation by 13 more)
        def rot(s: String) = {
          var r = s.drop(k % 26) + s.take(k % 26)
          if (((k / 26) & 1) == 1) r = r.reverse
          if (((k / 26) & 2) == 2)
            r = r.grouped(2).map(p => p.reverse).mkString
          r
        }
        val base = df.withColumn("doc_id", col("doc_id") + lit(k * 10000019L))
          .withColumn("text",
            translate(col("text"), lower + upper, rot(lower) + rot(upper)))
        if (!mode.contains("vocabrich")) base
        else base.withColumn("text", expr(
          "array_join(transform(split(text, ' '), w -> concat(w, " +
            "CAST(pmod(hash(w, CAST(pmod(hash(doc_id), 16) AS INT)), 997)" +
            " AS STRING))), ' ')"))
      case "embeddings" =>
        val dim = df.head().getAs[scala.collection.Seq[Float]]("embedding").size
        val s = k % dim
        // replica index factors as (shift = k mod dim, pattern = k div
        // dim): the shift is cyclic, and for k ≥ dim an 8-coordinate
        // periodic SIGN-FLIP pattern composes on top — an orthogonal
        // transform, so norms and within-replica cosine structure are
        // still exactly preserved, while replicas k and k+dim (bit-equal
        // under shift alone — the r06 factor>dim honesty gap) stay
        // decorrelated. Distinct through factor ≤ dim × 256.
        val p = k / dim
        val shifted =
          if (s == 0) "embedding"
          else s"concat(slice(embedding, ${s + 1}, ${dim - s}), " +
            s"slice(embedding, 1, $s))"
        val mutated =
          if (p == 0) shifted
          else s"transform($shifted, (x, j) -> CASE WHEN " +
            s"(($p >> (j % 8)) & 1) = 1 THEN -x ELSE x END)"
        val base = df.withColumn("vec_id", col("vec_id") + lit(k * 10000019L))
          .withColumn("embedding",
            if (s == 0 && p == 0) col("embedding") else expr(mutated))
        // `mode = "clustered"`: plant DENSITY-SKEWED clusters — the r07
        // judge's honesty gap: every ANN scale number so far rode
        // near-uniform synthetic embeddings, the BEST case for a coarse
        // quantizer's occupancy. Each vector joins one of 16 anchors
        // with a linear-ramp mass profile (cluster c gets (2c+1)/256 of
        // rows — the densest ~31× the sparsest); the anchor is a
        // hash-derived pseudo-random direction (anchors mutually
        // ~orthogonal), ADDED at comparable magnitude to the unit
        // vector, so within-cluster cosine lands ~0.4 (clustered, not
        // degenerate) and the spread component supplies the scatter.
        // Deterministic in (vec_id, j) only; applied at every replica
        // including the 1× baseline, so ratios compare the same
        // clustered corpus at two volumes.
        //
        // r12 DECORRELATION (the r11 honest finding): the spread used
        // to be the per-REPLICA orthogonal transform of the base row,
        // so a factor-N corpus was N geometric copies of the same
        // 2000-row base — vec_id-modulus seeds (and the query sample,
        // whose stride divides the 10^7 replica offset) landed on the
        // SAME base origs in every replica, and every modulus-seeded
        // recall number rode that symmetry (full L3 book 0.78 vs 0.117
        // for the identical selection law without the resonance, at
        // identical cells/occupancy, measured in r11). The replica
        // id now enters the payload GEOMETRY: each row's spread is
        // scrambled by a PER-ROW orthogonal map (cyclic shift by
        // hash(vec_id) mod dim composed with per-(vec_id, j) sign
        // flips — norm-preserving, so cluster magnitudes are
        // untouched), making two replicas of the same base row
        // geometrically unrelated points of their clusters. Modulus
        // seed sets are now ordinary samples of the cluster mass, and
        // the truth set stops carrying cross-replica twins.
        if (!mode.contains("clustered")) base
        else base
          .withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> CAST(" +
              s"element_at(embedding, CAST(1 + pmod(j + pmod(hash(vec_id)," +
              s" $dim), $dim) AS INT)) * " +
              "CASE WHEN pmod(hash(vec_id, j, 9), 2) = 1" +
              " THEN -1.0 ELSE 1.0 END AS FLOAT))"))
          .withColumn("embedding", expr(
            "transform(embedding, (x, j) -> CAST(x + " +
              "(CAST(pmod(hash(CAST(floor(sqrt(CAST(pmod(hash(vec_id), 256)" +
              " AS DOUBLE))) AS INT), j, 42), 1000) AS DOUBLE) / 1000.0" +
              " - 0.5) * 0.35 AS FLOAT))"))
      case "events" =>
        df.withColumn("event_id", col("event_id") + lit(k * 1000000007L))
          .withColumn("user_id", col("user_id") + lit(k * 1000003L))
      case "lineitem" =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000007L))
          .withColumn("l_partkey", col("l_partkey") + lit(k * 10000019L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * 1000003L))
      case _ => df
    }

  /** Materialize a factor× corpus at outDir. Both scales go through
    * this (factor=1 included) so layout — file count, encoding,
    * row-group packing — is identical and volume is the only delta. */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, files: Int = 32, mode: String = "default"): Unit = {
    val big = Seq("documents", "embeddings", "events", "lineitem")
    big.foreach { t =>
      val base =
        if (t == "events") Tables.events(spark, baseDir)
        else spark.read.parquet(s"$baseDir/$t.parquet")
      val scaled = (0 until factor).map(k => mutate(t, base, k, mode))
        .reduce(_ unionByName _)
      scaled.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    // dims ride along unscaled (realistic: dimensions grow far slower
    // than facts) so any query's side tables resolve
    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        spark.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
  }

  /** Structural plan signature: the shape that must survive scale-up. */
  final case class PlanSig(shuffles: Int, broadcasts: Int, sorts: Int,
      aggs: Int, joins: Seq[String]) {
    def fields: ListMap[String, Any] = ListMap("shuffles" -> shuffles,
      "broadcasts" -> broadcasts, "sorts" -> sorts, "aggs" -> aggs,
      "joins" -> joins)
  }

  def signature(df: DataFrame): PlanSig = {
    val nodes = collect(df.queryExecution.executedPlan) { case p => p.nodeName }
    PlanSig(
      shuffles = nodes.count(_ == "Exchange"),
      broadcasts = nodes.count(_.startsWith("BroadcastExchange")),
      sorts = nodes.count(_.contains("Sort")),
      aggs = nodes.count(_.contains("Aggregate")),
      joins = nodes.filter(_.contains("Join")).distinct.sorted)
  }

  /** One timed execution: collect() so the frame's OWN QueryExecution
    * finalizes (count() would plan a different one and hide the
    * adaptive plan — the r05 inspection gotcha). Returns (sec, sig). */
  private def timeOne(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, dir: String,
      analyzer: metrics.StageAnalyzer, label: String): (Double, PlanSig) = {
    analyzer.setLabel(label)
    val (sec, df) = Harness.timed { val d = fn(spark, dir); d.collect(); d }
    (sec, signature(df))
  }

  /** FIXED-SIZE-DELTA merge experiment, two delta SHAPES, each at 1×
    * (32 files) and factor× (32·factor files — constant file SIZE, the
    * production layout discipline):
    *
    *  - NARROW: the same 500 contiguous keys at both scales → fanout is
    *    1 file at either scale. O(delta · fanout) predicts ratio ≈ 1
    *    (the r06 full-rewrite CDC would have paid ≈ factor).
    *  - WIDE: 500 keys striped evenly across the FIRST 10% OF FILES of
    *    each table → fanout is ~3 files at 1× and ~3·factor at factor×.
    *    O(delta · fanout) predicts time ∝ files touched — the ratio
    *    tracks the FANOUT ratio (≈ factor), NOT the table-size ratio,
    *    and per-rewritten-file cost stays ~constant across scales. This
    *    is the slope the single-file narrow point cannot show.
    *
    * Reported beside the query rows as `cdc_delta`. */
  private def cdcDeltaExperiment(spark: SparkSession, dir1: String,
      dirN: String, factor: Int): ListMap[String, Any] = {
    def upsert(cur: DataFrame, ch: DataFrame): DataFrame = {
      val upd = ch.selectExpr("event_id", "cents AS new_cents")
      cur.join(upd, Seq("event_id"), "left")
        .selectExpr("event_id", "user_id",
          "coalesce(new_cents, cents) AS cents")
    }
    def setup(dir: String, nFiles: Int, tag: String): String = {
      val root = s"${ProcScratch.base}/scale_cdc/$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ev = Tables.events(spark, dir).selectExpr("event_id", "user_id",
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents")
      sources.KeyedTable.write(spark, root, "t", ev, "event_id", nFiles)
      root
    }
    def mergeBest(root: String, keys: Seq[Long])
        : (Double, sources.KeyedTable.MergeStats) = {
      import spark.implicits._
      val delta = keys.toDF("event_id")
        .selectExpr("event_id", "CAST(0 AS BIGINT) AS user_id",
          "CAST(1 AS BIGINT) AS cents")
      def once() = Harness.timed(sources.KeyedTable.mergeDelta(
        spark, root, "t", delta, "event_id")(upsert))
      val a = once(); val b = once() // best-of-2, min: noise only inflates
      if (a._1 <= b._1) a else b
    }
    // narrow: replica-0 event ids are identical at both scales → the
    // SAME contiguous 500-key batch
    def narrowKeys(root: String): Seq[Long] = {
      val lo = sources.KeyedTable.manifest(spark, root, "t").head.minKey
      (lo until lo + 500)
    }
    // wide: stripe the 500 keys evenly across the first 10% of files
    // (re-read the manifest so earlier merges' replacements are seen)
    def wideKeys(root: String): Seq[Long] = {
      val m = sources.KeyedTable.manifest(spark, root, "t")
      val span = math.max(1, (m.size + 9) / 10)
      val perFile = math.max(1, 500 / span)
      m.take(span).flatMap { e =>
        val step = math.max(1L, (e.maxKey - e.minKey) / perFile)
        (0 until perFile).map(j => math.min(e.maxKey, e.minKey + j * step))
      }.distinct // a dup key would fan out the upsert's left join
    }
    val root1 = setup(dir1, 32, "1x")
    val rootN = setup(dirN, 32 * factor, s"${factor}x")
    val (t1, s1) = mergeBest(root1, narrowKeys(root1))
    val (tN, sN) = mergeBest(rootN, narrowKeys(rootN))
    val (w1, ws1) = mergeBest(root1, wideKeys(root1))
    val (wN, wsN) = mergeBest(rootN, wideKeys(rootN))
    val perFile1 = w1 / math.max(1, ws1.filesRewritten)
    val perFileN = wN / math.max(1, wsN.filesRewritten)
    println(f"[scale] cdc_delta narrow t1=$t1%6.2fs t$factor=$tN%6.2fs " +
      f"ratio=${tN / t1}%5.2f rw=${s1.filesRewritten}/${s1.filesTotal} vs " +
      f"${sN.filesRewritten}/${sN.filesTotal}")
    println(f"[scale] cdc_delta wide   t1=$w1%6.2fs t$factor=$wN%6.2fs " +
      f"ratio=${wN / w1}%5.2f rw=${ws1.filesRewritten}/${ws1.filesTotal} vs " +
      f"${wsN.filesRewritten}/${wsN.filesTotal} " +
      f"perFile=${perFile1}%.3f vs ${perFileN}%.3f")
    ListMap("delta_rows" -> 500, "t1_s" -> fixed(t1, 3),
      s"t${factor}_s" -> fixed(tN, 3), "ratio" -> fixed(tN / t1, 2),
      "files_total_1x" -> s1.filesTotal,
      "files_rewritten_1x" -> s1.filesRewritten,
      s"files_total_${factor}x" -> sN.filesTotal,
      s"files_rewritten_${factor}x" -> sN.filesRewritten,
      "wide" -> ListMap("t1_s" -> fixed(w1, 3),
        s"t${factor}_s" -> fixed(wN, 3), "ratio" -> fixed(wN / w1, 2),
        "files_rewritten_1x" -> ws1.filesRewritten,
        s"files_rewritten_${factor}x" -> wsN.filesRewritten,
        "per_file_s_1x" -> fixed(perFile1, 3),
        s"per_file_s_${factor}x" -> fixed(perFileN, 3)))
  }

  /** The SCALE artifact of one run (pure). Subset re-runs MERGE into the
    * prior artifact when it has the same base_sf, factor and mutation
    * mode (`prior` is None on full runs): re-measuring one repaired
    * family must not discard the other queries' committed evidence.
    * Fresh rows replace the prior rows of their queries, and a prior
    * error stays on record unless this run attempted that query again.
    * The SUMMARY is recomputed from the MERGED rows, so a kept row's
    * breach or skew flag survives a subset re-run (the r06 artifact bug:
    * the summary reflected only the fresh subset). */
  private[graft] def artifact(baseDir: String, factor: Int, mode: String,
      fresh: Seq[(String, ListMap[String, Any])],
      errors: Seq[(String, String)], attempted: Set[String],
      cdc: Option[Any], prior: Option[Any]): ListMap[String, Any] = {
    val same = prior.filter(p => field(p, "base_sf").contains(baseDir) &&
      field(p, "factor").contains(factor.toLong) &&
      field(p, "mode").getOrElse("default") == mode)
    val freshNames = fresh.map(_._1).toSet
    val kept: Seq[(String, Any)] =
      same.flatMap(field(_, "queries")).toSeq.flatMap {
        case m: scala.collection.Map[String, Any] @unchecked =>
          m.toSeq.filterNot { case (q, _) => freshNames(q) }
        case _ => Nil
      }
    val keptErrors: Seq[(String, String)] =
      same.flatMap(field(_, "summary", "errors")).toSeq.flatMap {
        case items: Seq[Any] => items.flatMap { e =>
          field(e, "query").collect {
            case q: String if q.nonEmpty && !attempted(q) =>
              q -> field(e, "error").fold("")(_.toString)
          }
        }
        case _ => Nil
      }
    val rows = (kept ++ fresh).sortBy(_._1)
    def flagged(p: Any => Boolean): Seq[String] =
      rows.collect { case (q, r) if p(r) => q }
    val skews = rows.flatMap { case (_, r) => num(r, s"skew_${factor}x") }
    // the 20x task-skew alarm line is a GATE, not a narrative
    // convention: r08's 38.2x flag on a probe2 row rode in silently
    // because only ratio breaches populated a breach list
    val summary = ListMap("queries_run" -> rows.size,
      "errors" -> (keptErrors ++ errors).map { case (q, m) =>
        ListMap("query" -> q, "error" -> m) },
      s"ratio_gt_${factor}x1.5" ->
        flagged(r => num(r, "ratio").exists(_ > factor * 1.5)),
      "plan_shape_changed" ->
        flagged(r => !field(r, "plan_equal").contains(true)),
      "skew_gt_20" -> flagged(r => num(r, s"skew_${factor}x").exists(_ > 20.0)),
      "max_skew" -> skews.maxOption.map(fixed(_, 1)))
    ListMap[String, Any]("base_sf" -> baseDir, "factor" -> factor,
      "files_per_table" -> 32, "mode" -> mode,
      "queries" -> ListMap.from(rows)) ++
      cdc.orElse(same.flatMap(field(_, "cdc_delta"))).map("cdc_delta" -> _) ++
      Seq("summary" -> summary) ++
      (if (kept.nonEmpty) Seq("merged_subset" -> fresh.map(_._1)) else Nil)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = Harness.file(args.lift(2).getOrElse("SCALE_r06.json"))
    val only = args.lift(3).map(_.split(',').toSet)
    val mode = args.lift(4).getOrElse("default")
    val spark = Harness.stressSession()
    val root = s"${ProcScratch.base}/scale"
    val dir1 = s"$root/sf1x"
    val dirN = s"$root/sf${factor}x"
    println(s"[scale] generating 1x at $dir1 and ${factor}x at $dirN " +
      s"from $baseDir (mode=$mode)")
    generate(spark, baseDir, dir1, 1, mode = mode)
    generate(spark, baseDir, dirN, factor, mode = mode)

    val analyzer = new metrics.StageAnalyzer
    spark.sparkContext.addSparkListener(analyzer)
    val queries = StressQueries.filter(q => only.forall(_.contains(q)))
    // warmup both corpora's footers + codegen
    Seq(dir1, dirN).foreach { d =>
      Seq("documents", "embeddings", "events", "lineitem")
        .foreach(t => spark.read.parquet(s"$d/$t.parquet").count())
    }
    // record and continue — one broken query must not cost the whole
    // run's artifact
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def fail(q: String, label: String, e: Throwable): None.type = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        .takeWhile(_ != '\n').take(200)
      println(s"[scale] $label FAILED: $msg")
      failed += ((q, msg))
      None
    }
    val measured = queries.flatMap { q =>
      SparkEntry.queries.get(q).flatMap { fn => try {
        // small scale first (also the codegen warm-up for the query),
        // best-of-2 per scale: the MIN is the right statistic for a
        // ratio — noise only ever inflates
        def best(dir: String, label: String): (Double, PlanSig) = {
          val a = timeOne(spark, fn, dir, analyzer, label)
          spark.catalog.clearCache()
          val b = timeOne(spark, fn, dir, analyzer, label)
          spark.catalog.clearCache()
          if (a._1 <= b._1) a else b
        }
        val (t1, sig1) = best(dir1, s"${q}@1x")
        analyzer.reset() // keep skew attribution = the FACTOR× runs only
        val (tN, sigN) = best(dirN, s"${q}@${factor}x")
        println(f"[scale] $q%-24s t1=$t1%6.2fs t$factor=$tN%7.2fs " +
          f"ratio=${tN / t1}%5.2f planEqual=${sig1 == sigN}")
        Some((q, t1, tN, sig1, sigN))
      } catch { case e: Throwable => fail(q, q, e) } }
    }
    // fixed-size-delta CDC experiment (skipped only when an explicit
    // subset excludes it)
    val cdcOn = only.forall(_.contains("x_cdc_delta"))
    val cdc =
      if (!cdcOn) None
      else try Some(cdcDeltaExperiment(spark, dir1, dirN, factor))
      catch { case e: Throwable => fail("x_cdc_delta", "cdc_delta", e) }

    Thread.sleep(1500) // drain listener bus before reading skew
    val skew = analyzer.skewFlags()
    val fresh: Seq[(String, ListMap[String, Any])] =
      measured.map { case (q, t1, tN, sig1, sigN) =>
        val sk = skew.collectFirst { case (k, v) if k.startsWith(q + "@") => v }
        q -> ListMap("t1_s" -> fixed(t1, 3), s"t${factor}_s" -> fixed(tN, 3),
          "ratio" -> fixed(tN / t1, 2), "plan_equal" -> (sig1 == sigN),
          "plan_1x" -> sig1.fields, s"plan_${factor}x" -> sigN.fields,
          s"skew_${factor}x" -> sk.map(fixed(_, 1)))
      }
    val attempted = queries.toSet ++ (if (cdcOn) Set("x_cdc_delta") else Nil)
    Harness.writeJson(outJson, artifact(baseDir, factor, mode, fresh,
      failed.toSeq, attempted, cdc,
      if (only.isEmpty) None else Harness.readJson(outJson)))
    println(s"[scale] wrote $outJson")
    spark.stop()
  }
}
