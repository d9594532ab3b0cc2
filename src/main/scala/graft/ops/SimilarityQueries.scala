package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{BookRoute, Codebook, SeedBook, TwoLevelBook,
  blockArgmin, blockArgmin2, blockTopKD, cosine, ivfCell2, ivfCellH,
  ivfCellH2, joinKey, lshCell, lshSuper, norm2, superArgmin, superArgmin2,
  superTopK, trainedCell, trainedCell2, trainedCellH2, trainedProbes}
import graft.oracle.{Dialect, DuckSql, SparkSql}
import graft.{QueryDef, ScratchCache, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Three tiers:
  *  - q_dedup_embedding: cosine near-duplicate pairs, brute-force within
  *    the full (small) table — correctness baseline.
  *  - q_ann_cosine: exact brute-force top-k neighbors for a query subset;
  *    the query side is broadcast, the corpus never shuffles, and the
  *    per-query top-k runs through a rank window (at 100 TB: per-partition
  *    top-k then k·P merge).
  *  - q_ann_lsh: random-hyperplane LSH bucketing (6 planes → 64 buckets),
  *    neighbors searched only within a bucket: the linear-scale path.
  *    Hyperplane coefficients come from a deterministic LCG evaluated
  *    identically in both engines.
  *
  * Performance: dot products run through the custom codegen'd
  * `graft_vec_dot` expression (graft.functions.VecDot) and each vector's
  * squared norm is computed ONCE per row, not per pair — cosine =
  * dot / sqrt(n2_a * n2_b). Summation order matches the DuckDB oracle's
  * list_reduce exactly, so values stay bit-identical.
  *
  * Shape: every cell-blocked query is a BOOK plus a TAIL. The book
  * builder (trainedCells, trainedCellsL3, lshRefined, pqQuantized, …)
  * decides which rows meet; the tail decides what is computed over
  * them, and there are three, each written once per engine:
  *  - (a) cosine top-3 over a key join — [[cosineTopK]] /
  *    [[duckCosineTopK]];
  *  - (b) canonical near-dup pairs — [[nearDupPairs]] /
  *    [[duckNearDupPairs]], with the removal rollup [[removals]] /
  *    [[duckRemovals]];
  *  - (c) the ADC estimate and its est-top-K — [[adcEst]] /
  *    [[duckAdcEst]] and [[estTopK]] / [[duckEstTopK]].
  * The DuckDB twins are independent SQL, never derived from the Spark
  * side, so the oracle stays an independent check.
  */
object SimilarityQueries {

  private[graft] val NearDupThreshold = 0.4
  private val TopK = 5

  /** ADC-shortlist size of the exact re-rank stage
    * (q_ann_ivfpq_rerank): the FAISS k_factor convention — re-score
    * k_factor·K candidates exactly, return K. 3 is the conservative
    * end of the usual 2-10 band; the stress measures what it buys
    * (`pq256_top5_recall_rerank` vs `_adc`). */
  private[graft] val RerankR = 3 * TopK

  /** Loud scale guard for the two DECLARED brute-force recall oracles
    * (`q_dedup_embedding`, `q_ann_cosine`). Their all-pairs /
    * corpus-scan plans are deliberate — they are the exactness oracle
    * the LSH/IVF/PQ scale paths beside them are measured against
    * (AnnRecallSpec) — but as declared queries a user could point one
    * at a 100 TB corpus and get a quadratic plan. So the corpus side
    * refuses, loudly and before any pair is materialized, past a bound
    * where brute force stops being the right tool. The count is one
    * column-pruned metadata-cheap scan — O(n) spent to avoid O(n²). */
  private val BruteForceBound = 100000L
  private def guardBrute(corpus: DataFrame, query: String): DataFrame = {
    val n = corpus.count()
    require(n <= BruteForceBound,
      s"$query is a brute-force recall oracle: refusing a corpus of " +
        s"$n rows (bound $BruteForceBound). Use the LSH/IVF scale " +
        "path declared beside it (q_dedup_embedding_lsh / q_ann_ivf).")
    corpus
  }
  private val NPlanes = 6
  // Salted variant: split any LSH bucket larger than this many rows into
  // ceil(n/cap) salt shards. The cap is deliberately tiny so the fixture
  // actually exercises multi-shard buckets; a production corpus sets it to
  // whatever pair count one reducer can chew (e.g. 10k rows → 1e8 pairs).
  private val SaltBucketRows = 8

  /** Deterministic pseudo-random hyperplane coefficient r_{p,d} in
    * [-0.5, 0.5): LCG over the flattened (plane, dim) index. Exact
    * integer arithmetic + one exact division in both engines. */
  private def planeCoef(d: Dialect, p: String, dim: String): String = {
    val idx = s"(($p) * 64 + ($dim))"
    s"(CAST(((CAST(1103515245 AS BIGINT) * $idx + 12345) % 2147483648) AS DOUBLE) / 2147483648.0 - 0.5)"
  }

  /** LSH bucket id of an embedding column: bit p set iff the projection
    * onto hyperplane p is positive. `nPlanes` is the scale knob — buckets
    * = 2^nPlanes, chosen so per-bucket pair counts stay tractable as the
    * corpus grows (more planes → smaller buckets → fewer pairs/bucket). */
  private def lshBucket(d: Dialect, emb: String,
      nPlanesExpr: String = NPlanes.toString): String = {
    val proj = d.foldDbl(
      d.transform(d.seqIncl("1", "64"), "dd",
        s"${planeCoef(d, "p", "dd - 1")} * ${d.elemAtDbl(emb, "dd")}"),
      "acc", "v", "acc + v")
    d.foldBig(
      d.transform(d.seqIncl("0", s"(($nPlanesExpr) - 1)"), "p",
        s"CASE WHEN $proj > 0 THEN ${d.shiftL("CAST(1 AS BIGINT)", "p")} ELSE 0 END"),
      "a", "x", "a + x")
  }

  // ---- CORPUS-ADAPTIVE INDEX KNOBS (r06) -------------------------------
  // The LSH/IVF queries are corpus-wide kNN joins: every vector probes
  // its bucket/cell, so total work is Σ|bucket|². With a FIXED plane or
  // cell count that is quadratic in the corpus (the 30× scale-stress
  // measured q_ann_ivf at 154× the runtime for 30× the data — the same
  // fixed-cardinality-key defect class as q_dedup_ngram's old blocking).
  // The knobs the Scaladoc always called "the scale knob" are therefore
  // DERIVED FROM CORPUS SIZE, holding per-bucket/per-cell occupancy at
  // the sf0.1 fixture's density (≈31 rows/bucket, ≈125 rows/cell), so
  // per-probe candidate count is bounded and total work is linear. Both
  // formulas are integer-exact and evaluate to the legacy constants
  // (6 planes / 16 cells) at every fixture SF, so the DuckDB oracles —
  // which compute the SAME formulas inline from count(*) — keep every
  // fixture row bit-identical. The corpus count is one driver-side
  // parquet count-star per query invocation (the bounded-scalar
  // pattern); recall-vs-cost still moves with occupancy exactly as in a
  // real IVF/LSH deployment (FAISS sizes nlist from N the same way).
  private def corpusN(s: SparkSession, d: String): Long =
    Tables.embeddings(s, d).count()

  /** Smallest p ≥ NPlanes with 2^p · 125 ≥ 4N (occupancy ≤ 31.25). */
  private[graft] def adaptivePlanes(n: Long): Int =
    (NPlanes to 40).find(p => (1L << p) * 125 >= 4 * n).getOrElse(40)

  /** Smallest c ≥ NCells with 125·c ≥ N — CONSTANT cell occupancy at
    * the sf0.1 fixture's density (125 rows/cell; exactly 16 cells at
    * the fixture), the same rule the LSH knob applies to buckets.
    *
    * History of this knob (the flat-IVF floor, r06→r07): a FLAT coarse
    * quantizer pays assignment O(N·c·d) plus corpus-wide probing
    * O(N·(N/c)·d), so constant occupancy (c ∝ N) made ASSIGNMENT
    * quadratic (measured), and r06 settled on FAISS's √N-nlist balance
    * — which keeps both terms at O(N^1.5·d), measured 60.7× at 100×.
    * r07 replaces the flat quantizer with the TWO-LEVEL routing of
    * [[graft.functions.TextHashKernels.ivfCellH]] (argmin over
    * s = ⌈√c⌉ supers, then over that super's m = ⌈c/s⌉ midpoint-seeded
    * children): assignment drops to O(N·√c·d), which is cheap enough
    * to return to constant occupancy — probing is linear again and
    * assignment's √c·d per row stays below the 125·d probe cost until
    * ~1000× the fixture (past that, add a third level: c^(1/3)).
    *
    * Cap history (r10): the law is smallest c ≥ 16 with 125·c ≥ N —
    * i.e. max(16, ⌈N/125⌉), written arithmetically in BOTH engines —
    * capped at 2^24. The cap was 65536 through r09, which silently
    * made the r10 driver-seed size switch unreachable (65536 < the
    * 2^18 budget — caught by the r10 review): constant occupancy died
    * at 8.2M rows and the broadcast codebook never outgrew 34 MB. The
    * DISTRIBUTED codebook build is exactly what makes a bigger cap
    * affordable (driver holds ⌈√c⌉ ≤ 4096 supers ≈ 2 MB at the cap);
    * 2^24 cells keep constant occupancy to 2.1×10⁹ rows, past which
    * the THIRD routing level — landed as [[trainedCellsL3]] /
    * [[adaptiveCellsL3]] (cap 2^36, q_ann_ivf_trained_l3*) — is the
    * documented crossover route. */
  private[graft] val CellCap = 1 << 24
  private[graft] def adaptiveCells(n: Long): Int =
    math.min(CellCap.toLong, math.max(NCells.toLong, (n + 124) / 125)).toInt

  /** The THREE-level family's cell law: same 125-rows/cell arithmetic,
    * capped at 2^36 — the t ≤ 4096 three-level split's ceiling
    * ([[triSplit]]), i.e. constant occupancy to 8.6×10¹² rows where
    * the two-level law saturates at 2^24 (2.1×10⁹). The two caps are
    * the DOCUMENTED crossover between the families, not an automatic
    * switch: the books differ (beamed grand→super→cell vs flat
    * super→child) and so do their probe columns' semantics (beam
    * runner-up vs seam probes), so a size-triggered flip would
    * silently change what a downstream dedup query means — the caller
    * picks the L3 family (q_ann_ivf_trained_l3*) past [[CellCap]],
    * and AnnClusteredStress gates that route's recall share at every
    * measured scale. Identical at every fixture SF (c = 16), so the
    * oracles pin both laws. */
  private[graft] val CellCapL3 = 1L << 36
  private[graft] def adaptiveCellsL3(n: Long): Long =
    math.min(CellCapL3, math.max(NCells.toLong, (n + 124) / 125))

  /** Two-level split of a cell count: s = smallest with s² ≥ c, then
    * m children per super (s·m ≥ c cells exist; ids run 1..s·m).
    * s ≤ 4096 covers the whole [[CellCap]] range (4096² = 2^24). */
  private[graft] def superSplit(c: Int): (Int, Int) = {
    val s = (1 to 4096).find(s => s * s >= c).getOrElse(4096)
    (s, (c + s - 1) / s)
  }

  /** The HASH-seeded two-level book (q_ann_ivf, q_ann_incremental,
    * q_ann_ivf_probe2): (vec_id, embedding, n2, cell[, cell2]),
    * scratch-cached — [[trainedCells]]' column convention. `cell` is
    * the native two-level argmin over the [[adaptiveCells]] split;
    * with `probe2`, `cell2` is the best child of the second-nearest
    * super (always in another super's id block than `cell`). */
  private[graft] def hashCells(s: SparkSession, d: String,
      probe2: Boolean = false): DataFrame = {
    val (sc, mc) = superSplit(adaptiveCells(corpusN(s, d)))
    val e = col("embedding")
    val cols = Seq(col("vec_id"), e, norm2("embedding"),
      ivfCellH(e, sc, mc).cast("int").as("cell")) ++
      (if (probe2) Seq(ivfCellH2(e, sc, mc).cast("int").as("cell2")) else Nil)
    ScratchCache.scratch(Tables.embeddingsParallel(s, d).select(cols: _*))
  }

  /** Seed strides for the TRAINED (data-seeded) quantizer: child seeds
    * are every `sc`-th vec_id (≈ c of them), super seeds every `ss`-th
    * (≈ ⌈√c⌉ of them, a SUBSET of the child seeds — ss is a multiple of
    * sc, so every super seed is its own nearest child and no probed
    * super is childless). At the fixtures: sc = 125 (16 child seeds),
    * ss = 500 (4 supers). */
  private[graft] def trainedStrides(n: Long): (Long, Long) = {
    val c = adaptiveCells(n)
    val (s, _) = superSplit(c)
    val sc = math.max(1L, n / c)
    val ss = sc * math.max(1L, c.toLong / s)
    (sc, ss)
  }

  /** Driver-seed budget of the size-switched book builders. The
    * broadcast route holds all c = ⌈N/125⌉ child seeds on the driver
    * (and one copy per executor) at ~520 B per quantized seed (64
    * longs + id); 2^18 seeds ≈ 134 MB caps that state at a sane
    * broadcast size (N ≈ 33M rows) — past it [[trainedCells]]
    * delegates to the distributed build, whose driver state is the
    * ⌈√c⌉ supers only. Every switched builder ([[trainedCells]],
    * [[trainedAdaptiveCells]], [[lshRefined]],
    * [[ClusteringQueries.semClusters]]) takes it as its `budget`
    * argument and passes it down to [[rankStride]]; `budget = 0`
    * forces the dist route. [[graft.functions.BookRoute]] reads the
    * route a frame took back from its plan. */
  private[graft] val MaxDriverSeeds = 262144L

  /** Shared prelude of both trained-codebook builders: the corpus
    * projection (id, embedding, |v|², 1e-6-quantized vector),
    * scratch-cached ONCE so the size switch's delegation does not
    * double-cache it. */
  private def trainedVecs(s: SparkSession, d: String): DataFrame = {
    // embeddingsParallel, not embeddings: the fixture is one parquet
    // file → one scan partition, and this frame fronts the family's
    // heavy per-row kernels (dot, quantize) AND is scratch-cached, so a
    // single-partition cache would serialize every downstream stage too
    // (r12 optimization, guide §2.5 input skew).
    graft.ScratchCache.scratch(Tables.embeddingsParallel(s, d)
      .select(col("vec_id"), col("embedding"), norm2("embedding"),
        expr(s"${SparkSql.quantVec("embedding", 1000000L)} AS qv")))
  }

  /** Child-seed predicate of the trained books: every sc-th vec_id
    * (`lcg` off — unfiltered training), or the LCG-MIXED stride over
    * the same constants as the hyperplane LCG (`lcg` on — training
    * under a filter; see [[trainedCells]]' seed-selection rule). */
  private def childStride(sc: Long, lcg: Boolean): String =
    if (!lcg) s"vec_id % $sc = 0"
    else s"(((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648) % $sc = 0"

  /** `seeds(id, vec)` collected to the driver in id order. */
  private[ops] def seedBook(seeds: DataFrame): SeedBook = {
    val rows = seeds.orderBy(seeds.columns.head).collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Long](1).toArray))
  }

  /** Seed blocks: the (`id`, `vec`) seeds of `keyed` grouped by its
    * parent `keys` into one `block` per parent, ascending by id — the
    * `array<struct<id, vec>>` every block kernel scans in place, built
    * once per distributed route (children per super, supers per grand,
    * per (bucket, super), centroids per super). */
  private[ops] def seedBlocks(keyed: DataFrame, keys: Seq[String],
      id: String, vec: String, block: String): DataFrame =
    keyed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(id), col(vec)))).as(block))

  /** Driver-side book of the BROADCAST trained-codebook route — one
    * place for the seed-selection rule (see [[trainedCells]]' Scaladoc
    * for the per-mode rationale): strided children ([[childStride]]),
    * supers by modulus (unfiltered) or the rank book over the collected
    * children (filtered, [[Codebook.rankBook]]). */
  private def collectBook(seedSrc: DataFrame, n: Long, sc: Long, ss: Long,
      seedWhere: String): TwoLevelBook = {
    val defaultMode = seedWhere == "TRUE"
    val children = seedBook(seedSrc.filter(expr(childStride(sc, !defaultMode)))
      .selectExpr("vec_id", "qv"))
    // fail fast, not deep in an executor kernel over empty arrays: an
    // LCG stride CAN select zero rows from a tiny filtered sub-corpus
    // (n < sc), and the silent alternative — an empty broadcast
    // codebook — would crash probe routing with an opaque AIOOBE while
    // the DuckDB twin silently returned an empty frame
    require(children._1.nonEmpty,
      s"trainedCells: seed selection produced no child seeds " +
        s"(n=$n, sc=$sc, seedWhere=$seedWhere) — the training " +
        s"sub-corpus is too small for the stride; widen seedWhere")
    if (!defaultMode) Codebook.rankBook(children)
    else {
      val (ids, vecs) = children
      val at = ids.indices.filter(j => ids(j) % ss == 0).toArray
      Codebook.group(children, (at.map(j => ids(j)), at.map(j => vecs(j))))
    }
  }

  /** Embeddings with their trained home cell AND the ADAPTIVE probe
    * set — the target-retention knob of the near-dup family
    * ([[graft.functions.TwoLevelProbesBroadcast]]): each row probes
    * the child cells of its `nSupers` nearest supers whose seed lies
    * within the integer margin d2·epsDen ≤ d2home·epsNum, capped at
    * `maxProbes`. Interior rows spend ONE probe, boundary rows — where
    * near-dup pairs are actually lost — spend up to the cap, so the
    * knob trades a STATED candidate-mass budget (≤ maxProbes× the
    * single-probe join, measured lower) for retention instead of a
    * fixed probe count (AnnClusteredStress measures the frontier on
    * the clustered corpus at every scale beside the fixed-probe rows).
    * Returns (vec_id, embedding, n2, cell, probes) with cell =
    * probes[0]; ONE kernel evaluation per row.
    *
    * State bound: like [[trainedCells]], the broadcast route holds
    * all c child seeds on the driver, so past the SAME driver
    * `budget` ([[MaxDriverSeeds]]) this builder delegates to
    * [[trainedAdaptiveCellsDistFrom]] — identical probe arrays
    * (AdaptiveDistSpec pins bit-equality; AnnClusteredStress forces
    * the switch at scale), child seeds kept as DataFrame blocks met in
    * a SHUFFLE_HASH join. */
  private[graft] def trainedAdaptiveCells(s: SparkSession, d: String,
      nSupers: Int, maxProbes: Int, epsNum: Long, epsDen: Long,
      interleave: Boolean = false, budget: Long = MaxDriverSeeds): DataFrame = {
    val v = trainedVecs(s, d)
    val n = v.count()
    val (sc, ss) = trainedStrides(n)
    if (adaptiveCells(n) > budget)
      return trainedAdaptiveCellsDistFrom(s, v, n, nSupers, maxProbes,
        epsNum, epsDen, interleave)
    val bc = s.sparkContext.broadcast(collectBook(v, n, sc, ss, "TRUE"))
    graft.ScratchCache.scratch(
      v.select(col("vec_id"), col("embedding"), col("n2"),
          trainedProbes(bc, nSupers, maxProbes, epsNum, epsDen, col("qv"),
            interleave).as("probes"))
        .selectExpr("vec_id", "embedding", "n2",
          "element_at(probes, 1) AS cell", "probes")
        .repartition(col("cell")))
  }

  /** DISTRIBUTED route of [[trainedAdaptiveCells]] — identical probe
    * arrays (same seeds, same margin law, same interleave order, so
    * the DuckDB twin is REUSED verbatim), with the codebook kept out
    * of the driver exactly like [[trainedCellsDistFrom]]: only the
    * ⌈√c⌉ super seeds broadcast ([[graft.functions.SuperTopKBroadcast]]
    * routes each row to its nSupers nearest supers map-side), child
    * blocks meet the exploded rows in ONE SHUFFLE_HASH join, and the
    * probe LAW runs RELATIONALLY over per-block top-K candidates (one
    * [[graft.functions.ChildBlockTopKD]] scan per joined block).
    *
    * Top-maxProbes per block provably suffices to replay the law:
    * home is block 1's (d2, cid) top-1; the margin base hd2 — the
    * nearest NON-home candidate — is within its own block's top-2
    * (only home can precede it); the margin filter keeps a PREFIX of
    * each block's (d2, cid) order, so within-block ranks survive the
    * truncation; and an interleave rank js has at least js−1
    * same-block predecessors in the final (js, srk) order, so only
    * js ≤ maxProbes−1 is ever taken. The windows below are the same
    * rank chain as the oracle's CTEs ([[duckAdaptiveProbesCte]]:
    * pooled → thd2 → margin → js → rnp), so the law lives
    * relationally in BOTH engines; AdaptiveDistSpec pins probe-array
    * bit-equality against the broadcast kernel at the fixture, and
    * AnnClusteredStress gates it at every stress scale. `n` is the
    * row count the switch already took. */
  private def trainedAdaptiveCellsDistFrom(s: SparkSession, v: DataFrame,
      n: Long, nSupers: Int, maxProbes: Int, epsNum: Long, epsDen: Long,
      interleave: Boolean): DataFrame = {
    val (sc, ss) = trainedStrides(n)
    val superSeeds = seedBook(v.filter(expr(s"vec_id % $ss = 0"))
      .selectExpr("vec_id", "qv"))
    require(superSeeds._1.nonEmpty,
      s"trainedAdaptiveCells: no super seeds (n=$n, ss=$ss)")
    val bcS = s.sparkContext.broadcast(superSeeds)
    val blocks = graft.ScratchCache.scratch(seedBlocks(
      v.filter(expr(childStride(sc, lcg = false)))
        .selectExpr("vec_id AS cid", "qv AS cv")
        .select(col("cid"), col("cv"),
          joinKey(superArgmin(bcS, col("cv"))).as("csuper")),
      Seq("csuper"), "cid", "cv", "block"))
    val cands = v.selectExpr("vec_id", "qv")
      .select(col("vec_id"), col("qv"),
        posexplode(superTopK(nSupers, bcS, col("qv"))).as(Seq("srk0", "rs")))
      .join(blocks.hint("SHUFFLE_HASH"), col("rs") === col("csuper"))
      .select(col("vec_id"), expr("srk0 + 1 AS srk"),
        explode(blockTopKD(maxProbes, col("qv"), col("block"))).as("cd"))
      .selectExpr("vec_id", "srk", "cd.d AS d", "cd.c AS c")
    // home = block 1's best child: the FIRST row of the (srk, d, c)
    // order (srk 1 always has a candidate — the home block is
    // non-empty by the supers-subset-of-children invariant)
    val wFirst = Window.partitionBy("vec_id")
      .orderBy(col("srk"), col("d"), col("c"))
    val wAll = Window.partitionBy("vec_id")
    val flagged = cands
      .withColumn("home", first(col("c")).over(wFirst))
      .withColumn("h2",
        min(when(col("c") =!= col("home"), col("d"))).over(wAll))
    val wJs = Window.partitionBy("vec_id", "srk")
      .orderBy(col("d"), col("c"))
    val wRnp = Window.partitionBy("vec_id").orderBy(
      (if (interleave) Seq(col("js"), col("srk"))
      else Seq(col("d"), col("c"))): _*)
    // margin bound with the broadcast kernel's overflow guard: a huge
    // epsNum sentinel (the r10 tuning grid's no-margin M = 10^6) means "no
    // margin", and h2 * epsNum would overflow Long — a hard
    // ArithmeticException under Spark's default ANSI mode, and route
    // divergence without it. maxH2 is precomputed driver-side; the
    // CASE short-circuits so the multiply never runs past it.
    val maxH2 = if (epsNum != 0) Long.MaxValue / epsNum else Long.MaxValue
    val boundExpr = expr(s"CASE WHEN h2 > ${maxH2}L " +
      s"THEN ${Long.MaxValue}L ELSE h2 * ${epsNum}L DIV ${epsDen}L END")
    val extras = flagged
      .filter(col("c") =!= col("home") && col("h2").isNotNull &&
        col("d") <= boundExpr)
      .withColumn("js", row_number().over(wJs))
      .withColumn("rnp", row_number().over(wRnp))
      .filter(col("rnp") <= maxProbes - 1)
      .selectExpr("vec_id", "rnp AS ord", "c")
    // exactly ONE home row exists per vec_id: home is block 1's top-1
    // (never truncated) and a child id lives in exactly one block —
    // no dedup pass needed before the union
    val probesDf = flagged.filter(col("c") === col("home"))
      .selectExpr("vec_id", "0 AS ord", "c")
      .unionByName(extras)
      .groupBy("vec_id")
      .agg(expr("transform(sort_array(collect_list(struct(ord, c))), " +
        "s -> s.c)").as("probes"))
    graft.ScratchCache.scratch(
      v.selectExpr("vec_id", "embedding", "n2")
        .join(probesDf.hint("SHUFFLE_HASH"), "vec_id")
        .selectExpr("vec_id", "embedding", "n2",
          "element_at(probes, 1) AS cell", "probes")
        .repartition(col("cell")))
  }

  /** Embeddings with their TRAINED two-level IVF cell — the
    * density-adaptive coarse quantizer. Motivation is measured
    * (SCALE_r08_clustered_ann.json): on a 16-cluster density-skewed
    * corpus the hash-seeded quantizer's hottest cell ran 15× its median
    * with recall halved at 10×, and a mass-balanced grid along fixed
    * projections fixed occupancy but destroyed recall (thin slabs are
    * not neighborhoods). The classical fix is FAISS's: train the
    * quantizer ON THE DATA. Seeds are strided corpus vectors — a dense
    * region holds proportionally many vec_ids, hence proportionally
    * many seeds, hence proportionally many (smaller) Voronoi cells — so
    * occupancy tracks 1/density exactly where the hash seeds piled up.
    * Routing stays two-level (argmin over ≈√c super seeds, then over
    * that super's child seeds, O(√c·d)/row amortized) and all distances
    * are exact integer squared-L2 on 1e-6-quantized vectors with
    * ties-to-smaller-id — bit-identical in the DuckDB twin
    * ([[graft.functions.TwoLevelArgminBroadcast]] is the codegen'd
    * kernel; the codebook rides one broadcast).
    *
    * Returns (vec_id, embedding, n2, cell) scratch-cached; cell ids are
    * child-seed vec_ids. With `probe2` a second column `cell2` carries
    * the best child of the SECOND-nearest super — the trained-codebook
    * nprobe knob (kernel [[graft.functions.TwoLevelArgmin2Broadcast]]);
    * with `probe3` a `cell3` column carries the home super's
    * SECOND-best child ([[graft.functions.TwoLevelArgminH2Broadcast]])
    * — the intra-super boundary, the other seam single-probe blocking
    * loses near-dup pairs across.
    * `seedWhere` restricts TRAINING (knob sizing + seed selection) to a
    * sub-corpus while every row still routes through the codebook — the
    * incremental-ingest shape: arrivals must not shift a served
    * codebook (q_ann_incremental_trained trains on the existing corpus
    * only).
    *
    * Seed-selection rule, per mode: the DEFAULT (unfiltered) path
    * strides raw vec_ids (`% sc`, supers `% ss`). Under a FILTER that
    * rule is unsound — a predicate correlated with id arithmetic can
    * empty a modulus stride (measured: the ScaleStress corpus's
    * key-offset ids make every multiple of ss = 1500 divisible by 10,
    * so the `% 10 <> 0` arrival filter excluded ALL super candidates
    * and the build crashed). Filtered training therefore selects
    * children by an LCG-MIXED stride (`lcg(vec_id) % sc` — the same
    * 1103515245/12345 constants as the hyperplane LCG, id-structure
    * independent, overflow-safe, integer-exact in both engines) and
    * supers by driver-side RANK over the collected children (`j % sb`,
    * sb = ⌈√k⌉ — lshRefined's rule; j = 0 is always selected, so a
    * non-empty child set guarantees a non-empty super set). */
  private[graft] def trainedCells(s: SparkSession, d: String,
      probe2: Boolean = false, seedWhere: String = "TRUE",
      probe3: Boolean = false, budget: Long = MaxDriverSeeds): DataFrame = {
    val v = trainedVecs(s, d)
    val defaultMode = seedWhere == "TRUE"
    val seedSrc = if (defaultMode) v else v.filter(expr(seedWhere))
    val n = seedSrc.count()
    val (sc, ss) = trainedStrides(n)
    // SIZE SWITCH (r10, the r09 verdict's top item): the broadcast
    // route below collects c = ⌈N/125⌉ child seeds to the driver —
    // ~520 B each quantized (64 longs + id), a ~40 GB object at 10¹⁰
    // rows. Past `budget` the build delegates to the DISTRIBUTED route
    // (driver holds only the ⌈√c⌉ supers; blocks meet rows in a
    // SHUFFLE_HASH join) — assignment is bit-identical
    // (TrainedDistSpec / AnnClusteredStress's dist_build_diff gate),
    // so every oracle is unaffected by which route ran. `budget = 0`
    // takes the dist route at any size (q_ann_ivf_trained_dist, the
    // route-equality specs and the stress).
    if (adaptiveCells(n) > budget)
      return trainedCellsDistFrom(s, v, n, probe2, seedWhere, probe3, budget)
    val bc = s.sparkContext.broadcast(collectBook(seedSrc, n, sc, ss, seedWhere))
    val qv = col("qv")
    val cols = Seq(col("vec_id"), col("embedding"), col("n2"),
      trainedCell(bc, qv).as("cell")) ++
      (if (probe2) Seq(trainedCell2(bc, qv).as("cell2")) else Nil) ++
      (if (probe3) Seq(trainedCellH2(bc, qv).as("cell3")) else Nil)
    graft.ScratchCache.scratch(v.select(cols: _*).repartition(col("cell")))
  }

  /** DuckDB twin of [[trainedCells]] — ends in
    * `eb(vec_id, embedding, n2, cell)`. `w` is the seedWhere twin: it
    * gates the knob-sizing count and the seed CTEs, never the routed
    * rows, and switches the seed-selection rule exactly as the builder
    * does (raw-modulus strides unfiltered; LCG-strided children +
    * rank-strided supers under a filter — see [[trainedCells]]). */
  private def duckTrainedEbCte: String = duckTrainedEbCteW("TRUE")
  private def duckTrainedEbCteW(w: String): String = {
    val d = DuckSql
    val q = d.quantVec("embedding", 1000000L)
    // the arithmetic form of adaptiveCells — max(16, ⌈n/125⌉) capped
    // at CellCap — written identically in both engines (r10: the old
    // range-scan form was capped at 65536, which silently disabled
    // the driver-seed size switch)
    val cellsW =
      s"GREATEST(16, LEAST($CellCap, " +
        s"((SELECT count(*) FROM embeddings WHERE $w) + 124) // 125))"
    val seedCtes = if (w == "TRUE")
      s"""tcs AS (SELECT vec_id AS cid, qv AS cv FROM tv, tk
         |  WHERE vec_id % sc = 0),
         |tss AS (SELECT vec_id AS sid, qv AS sv FROM tv, tk
         |  WHERE vec_id % ss = 0),""".stripMargin
    else
      s"""tcs0 AS (SELECT vec_id AS cid, qv AS cv,
         |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
         |  FROM tv, tk
         |  WHERE (((vec_id % 2147483648) * 1103515245 + 12345)
         |      % 2147483648) % sc = 0 AND ($w)),
         |tcs AS (SELECT cid, cv FROM tcs0),
         |tsb AS (SELECT COALESCE((SELECT min(z) FROM
         |    (SELECT unnest(range(1, 257)) AS z) tz
         |    WHERE z * z >= (SELECT count(*) FROM tcs0)), 256) AS sb),
         |tss AS (SELECT cid AS sid, cv AS sv FROM tcs0, tsb
         |  WHERE j % sb = 0),""".stripMargin
    s"""tn AS (SELECT count(*) AS n FROM embeddings WHERE $w),
       |tk AS (
       |  SELECT GREATEST(1, n // c) AS sc,
       |    GREATEST(1, n // c) * GREATEST(1, c // s) AS ss
       |  FROM (SELECT ($cellsW) AS c, n,
       |      (SELECT min(z) FROM (SELECT unnest(range(1, 4097)) AS z) tz
       |        WHERE z * z >= ($cellsW)) AS s
       |    FROM tn) tkk),
       |tv AS (SELECT vec_id, embedding,
       |    ${d.dotDbl("embedding", "embedding")} AS n2, $q AS qv
       |  FROM embeddings),
       |$seedCtes
       |tca AS (SELECT cid, cv, sid AS csuper FROM (
       |    SELECT c.cid, c.cv, s.sid, ROW_NUMBER() OVER (PARTITION BY c.cid
       |      ORDER BY ${d.dist2Big("c.cv", "s.sv")}, s.sid) AS rn
       |    FROM tcs c CROSS JOIN tss s) WHERE rn = 1),
       |tras AS (SELECT t.vec_id, t.embedding, t.n2, t.qv, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${d.dist2Big("t.qv", "s.sv")}, s.sid) AS rn
       |    FROM tv t CROSS JOIN tss s),
       |tra AS (SELECT vec_id, embedding, n2, qv, sid AS rsuper
       |  FROM tras WHERE rn = 1),
       |eb AS (SELECT vec_id, embedding, n2, cid AS cell FROM (
       |    SELECT r.vec_id, r.embedding, r.n2, a.cid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${d.dist2Big("r.qv", "a.cv")}, a.cid) AS rn
       |    FROM tra r JOIN tca a ON a.csuper = r.rsuper) WHERE rn = 1)""".stripMargin
  }

  /** [[duckTrainedEbCte]] extended with the nprobe=2 routing — ends in
    * `eb2(vec_id, embedding, n2, cell, cell2)`; `cell2` is the best
    * child of the second-nearest super (falls back to the home cell on
    * a degenerate single-super codebook, like the kernel). */
  private def duckTrainedEb2Cte: String = {
    val d = DuckSql
    s"""$duckTrainedEbCte,
       |tra2 AS (SELECT vec_id, qv, sid AS rsuper2 FROM tras WHERE rn = 2),
       |ebx AS (SELECT vec_id, cid AS cell2 FROM (
       |    SELECT r.vec_id, a.cid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${d.dist2Big("r.qv", "a.cv")}, a.cid) AS rn
       |    FROM tra2 r JOIN tca a ON a.csuper = r.rsuper2) WHERE rn = 1),
       |eb2 AS (SELECT eb.vec_id, eb.embedding, eb.n2, eb.cell,
       |    COALESCE(ebx.cell2, eb.cell) AS cell2
       |  FROM eb LEFT JOIN ebx USING (vec_id))""".stripMargin
  }

  /** [[duckTrainedEb2Cte]] extended with the home super's SECOND-best
    * child — ends in `eb3(vec_id, embedding, n2, cell, cell2, cell3)`;
    * `cell3` is `rn = 2` of the home-children ranking (the same
    * windowed join `eb` takes `rn = 1` from), COALESCEd to the home
    * cell when the home super has a single child, like the kernel. */
  private def duckTrainedEb3Cte: String = {
    val d = DuckSql
    s"""$duckTrainedEb2Cte,
       |eh2 AS (SELECT vec_id, cid AS cell3 FROM (
       |    SELECT r.vec_id, a.cid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${d.dist2Big("r.qv", "a.cv")}, a.cid) AS rn
       |    FROM tra r JOIN tca a ON a.csuper = r.rsuper) WHERE rn = 2),
       |eb3 AS (SELECT eb2.vec_id, eb2.embedding, eb2.n2, eb2.cell,
       |    eb2.cell2, COALESCE(eh2.cell3, eb2.cell) AS cell3
       |  FROM eb2 LEFT JOIN eh2 USING (vec_id))""".stripMargin
  }

  /** DISTRIBUTED-codebook variant of [[trainedCells]] — identical cell
    * assignment (same seeds, same two-level argmin, same tie law; the
    * DuckDB twin is REUSED verbatim), different state placement, built
    * for the codebook-growth ceiling [[trainedCells]] documents: child
    * seeds number ≈ c = N/125, so collecting-and-broadcasting them is
    * a ~40 GB driver object at 10¹⁰ rows. Here the driver only ever
    * holds the ⌈√c⌉ SUPER seeds (the [[graft.functions.SuperArgminBroadcast]]
    * broadcast — O(√c·d) state); the c child seeds stay a DataFrame:
    *
    *  1. children select their super MAP-SIDE through the super kernel
    *     (one scan, no shuffle of the corpus);
    *  2. one shuffle groups children into per-super BLOCKS
    *     (`sort_array(collect_list(struct(cid, cv)))` — ascending cid,
    *     the kernel tie order), ≈√c rows of ≈√c seeds each;
    *  3. every corpus row routes to its super map-side, then a
    *     SHUFFLE_HASH join on the super id meets rows with their one
    *     block — each task hashes only its partition's blocks, so no
    *     single JVM ever materializes the codebook — and
    *     [[graft.functions.ChildBlockArgmin]] scans the joined block
    *     in place for the home cell.
    *
    * Cost: 2 shuffles (block build ~c seed rows, row routing ~N rows)
    * + one √c-sized broadcast, vs [[trainedCells]]' 1 shuffle + one
    * c-sized driver collect/broadcast — the documented trade, taken
    * only when c no longer fits the driver (the declared query exists
    * to keep the scale path under the fixture oracle; the stress
    * harness proves assignment equality on the clustered corpus).
    *
    * The body runs over [[trainedCells]]' already-built vector frame
    * and the row count `n` its switch took, so the delegation neither
    * re-scratch-caches the corpus projection nor counts it again.
    * Full option parity with the broadcast builder (r10 — this is what
    * lets the switch route EVERY trained-family query):
    *  - `seedWhere` — children by the same LCG-mixed stride over the
    *    filtered sub-corpus; supers are the rank-strided children
    *    (`j % sb = 0`, sb = ⌈√k⌉) ranked by [[rankStride]] under the
    *    same `budget` (past it — where this route runs behind the
    *    switch — a sorted frame + zipWithIndex, no single-task window)
    *    and only the ≈√c selected supers are collected;
    *  - `probe2` — rows also route to their SECOND-nearest super
    *    ([[graft.functions.SuperArgmin2Broadcast]], home super when the
    *    codebook has one super) and a second SHUFFLE_HASH join (LEFT —
    *    a childless duplicate-vector super has no blocks row) meets
    *    that super's block; `coalesce(argmin, cell)` reproduces both of
    *    the broadcast kernel's degenerate home fallbacks;
    *  - `probe3` — [[graft.functions.ChildBlockArgmin2]] scans the
    *    already-joined HOME block for its second-best child (best
    *    child when the block is single-child), no extra join.
    * Assignment (and every probe column) is bit-identical to
    * [[trainedCells]]' broadcast route — same seeds, same tie law —
    * so the DuckDB twins are REUSED verbatim (TrainedDistSpec pins
    * fixture equality; AnnClusteredStress pins it at 10×–100×). */
  private def trainedCellsDistFrom(s: SparkSession, v: DataFrame, n: Long,
      probe2: Boolean, seedWhere: String, probe3: Boolean,
      budget: Long): DataFrame = {
    val defaultMode = seedWhere == "TRUE"
    val seedSrc = if (defaultMode) v else v.filter(expr(seedWhere))
    val (sc, ss) = trainedStrides(n)
    val childSeeds = seedSrc.filter(expr(childStride(sc, !defaultMode)))
      .selectExpr("vec_id", "qv")
    val superSeeds =
      if (defaultMode)
        seedBook(seedSrc.filter(expr(s"vec_id % $ss = 0"))
          .selectExpr("vec_id", "qv"))
      else {
        val k = childSeeds.count()
        require(k > 0,
          s"trainedCells: seed selection produced no child seeds " +
            s"(n=$n, sc=$sc, seedWhere=$seedWhere) — the training " +
            s"sub-corpus is too small for the stride; widen seedWhere")
        seedBook(rankStride(s, childSeeds, Codebook.superStride(k), k, budget)
          .selectExpr("vec_id", "qv"))
      }
    require(superSeeds._1.nonEmpty,
      s"trainedCells: no super seeds (n=$n, ss=$ss)")
    val bcS = s.sparkContext.broadcast(superSeeds)
    val blocks = graft.ScratchCache.scratch(seedBlocks(
      childSeeds.selectExpr("vec_id AS cid", "qv AS cv")
        .select(col("cid"), col("cv"),
          joinKey(superArgmin(bcS, col("cv"))).as("csuper")),
      Seq("csuper"), "cid", "cv", "block"))
    val qv = col("qv")
    val routedCols = Seq(col("vec_id"), col("embedding"), col("n2"), qv,
      joinKey(superArgmin(bcS, qv)).as("rsuper")) ++
      (if (probe2) Seq(joinKey(superArgmin2(bcS, qv)).as("rsuper2")) else Nil)
    val routed = v.select(routedCols: _*)
    val homeCols = Seq(col("vec_id"), col("embedding"), col("n2"),
      blockArgmin(qv, col("block")).as("cell")) ++
      (if (probe3) Seq(blockArgmin2(qv, col("block")).as("cell3")) else Nil) ++
      (if (probe2) Seq(qv, col("rsuper2")) else Nil)
    val home = routed.join(blocks.hint("SHUFFLE_HASH"),
        col("rsuper") === col("csuper"))
      .select(homeCols: _*)
    val assigned =
      if (!probe2) home
      else {
        val b2 = blocks.selectExpr("csuper AS csuper2", "block AS block2")
        home.join(b2.hint("SHUFFLE_HASH"),
            col("rsuper2") === col("csuper2"), "left")
          .select(Seq(col("vec_id"), col("embedding"), col("n2"), col("cell"),
            coalesce(blockArgmin(qv, col("block2")), col("cell")).as("cell2")) ++
            (if (probe3) Seq(col("cell3")) else Nil): _*)
      }
    graft.ScratchCache.scratch(assigned.repartition(col("cell")))
  }

  /** THREE-LEVEL split: t = smallest z with z³ ≥ c (z ≤ 4096 covers
    * c up to 2^36 cells). Level widths become ≈ t grands,
    * ≈ min(c, t²) supers, c children, so per-row routing cost is
    * O((t + t + t)·d) = O(3·c^(1/3)·d) — the stated successor of the
    * two-level O(2·√c·d) route once assignment's √c·d per row
    * outgrows the 125·d probe cost (~2.1×10⁹ rows at [[CellCap]];
    * see [[adaptiveCells]]' cap history). */
  private[graft] def triSplit(c: Long): Int =
    (1 to 4096).find(z => z.toLong * z * z >= c).getOrElse(4096)

  /** Seed strides of the THREE-level trained quantizer (default mode):
    * children every sc-th vec_id (≈ c of them), supers every ss-th
    * (≈ min(c, t²), ss a multiple of sc), grands every gs-th
    * (≈ supers/t, gs a multiple of ss) — grands ⊂ supers ⊂ children.
    * At the fixtures (n = 500 / 2000, c = 16, t = 3): 3 grands,
    * 8–9 supers, 16–17 children — all three levels genuinely routed
    * under the DuckDB oracle.
    *
    * Grand-count note (measured, 100× clustered): DOUBLING grands
    * (gsm = t/2) was measured WORSE (0.613 vs 0.637 probe1 recall) —
    * more grands shrink each grand's super block, so the descent
    * examines FEWER supers; the binding width is the SUPER beam
    * ([[L3SuperBeam]]), not top-level resolution. */
  private[graft] def trainedStridesL3(n: Long): (Long, Long, Long) = {
    val c = adaptiveCellsL3(n)
    val t = triSplit(c).toLong
    val sc = math.max(1L, n / c)
    val ss = sc * math.max(1L, (c + t * t - 1) / (t * t))
    (sc, ss, ss * t)
  }

  /** Embeddings with their THREE-level trained IVF cell — the routing
    * law past [[CellCap]] (2^24 cells ≈ 2.1×10⁹ rows at 125/cell),
    * where even the two-level DIST build stops holding constant
    * occupancy: its ⌈√c⌉ supers outgrow both the 4096-super split and
    * the per-row O(√c·d) routing budget. Here the tree gets one more
    * level and EVERY piece of state is placement-bounded:
    *
    *  1. the driver collects/broadcasts only the ≈ c^(1/3) GRAND seeds
    *     (≤ 4096 rows ≈ 2 MB at c = 2^36 — constant for any corpus
    *     this side of 8.6×10¹² rows);
    *  2. supers route to their grand map-side through the broadcast
    *     kernel and group into per-grand SUPER blocks (≈ t rows each);
    *  3. children descend the same tree — grand map-side, then
    *     [[graft.functions.ChildBlockArgmin]] over the grand's joined
    *     super block — and group into per-super CHILD blocks;
    *  4. corpus rows descend grand → super → cell through SHUFFLE_HASH
    *     joins, each meeting a ≈ t-row block — BEAMED: both nearest
    *     grands, each contributing its [[L3SuperBeam]] nearest supers
    *     in one [[graft.functions.ChildBlockTopKD]] scan, closest leaf
    *     child kept (ties to the smaller cid). A single descent
    *     measurably narrows (100× clustered: 0.49× of the two-level
    *     recall; see the beam comment in the body for the measured
    *     ladder), and the recall-per-work winner is the SUPER beam;
    *     the shipped point is gated by `l3_recall_below_share` in
    *     SCALE_r10_clustered_ann_100x.json.
    *
    * The grouping and the probe descend the SAME tree (a child's super
    * is found through the child's grand, never via a flat argmin over
    * all supers), so assignment is exactly the beamed hierarchical
    * argmin the DuckDB twin ([[duckTrainedL3Cte]]) computes. Home blocks are
    * never empty at any level by the recursive subset invariant:
    * grands ⊂ supers ⊂ children and each seed routes to itself (d = 0,
    * ties to smallest id — a duplicate-vector seed with a smaller id
    * wins BOTH the seed's own routing and every row that would have
    * chosen it, so a childless node is also unreachable). Same exact
    * integer squared-L2 + ties-to-smaller-id law as the two-level
    * family ([[graft.functions.Codebook]]); kernels are REUSED
    * ([[graft.functions.SuperArgminBroadcast]] routes any level that
    * rides a broadcast, [[graft.functions.ChildBlockArgmin]] scans any
    * joined block).
    *
    * Cost: 3 shuffles (super blocks ~t², child blocks ~c seed rows,
    * row routing ~N) + one t-sized broadcast, vs the two-level dist
    * build's 2 shuffles + √c broadcast — the documented trade taken
    * when √c itself stops fitting. Reference analog: the same
    * shuffle-vs-state trade as ShuffleVertexManager's wave scaling
    * (`tez-dag/src/main/java/org/apache/tez/dag/app/dag/impl/ShuffleVertexManager.java`),
    * applied to quantizer state instead of task count. */
  /** Super-stage beam width of the three-level descent — the binding
    * recall knob (see [[trainedStridesL3]]'s grand-count note): each
    * of the two beamed grands contributes its L3SuperBeam nearest
    * supers, so ≤ 2·beam leaf blocks are scanned per row. Interpolated
    * into BOTH engines (the oracle's srn ≤ beam window). */
  private[graft] val L3SuperBeam = 4

  private[graft] def trainedCellsL3(s: SparkSession, d: String,
      probe2: Boolean = false, adaptive: Boolean = false): DataFrame =
    trainedCellsL3From(s, trainedVecs(s, d), probe2, adaptive)

  private def trainedCellsL3From(s: SparkSession, v: DataFrame,
      probe2: Boolean = false, adaptive: Boolean = false): DataFrame = {
    val n = v.count()
    val (sc, ss, gs) = trainedStridesL3(n)
    trainedCellsL3Build(s, v,
      v.filter(expr(s"vec_id % $gs = 0")).selectExpr("vec_id", "qv"),
      v.filter(expr(s"vec_id % $ss = 0")).selectExpr("vec_id", "qv"),
      v.filter(expr(s"vec_id % $sc = 0")).selectExpr("vec_id", "qv"),
      probe2, adaptive)
  }

  /** INCREMENTAL-training L3 build — the served-index variant: the
    * codebook trains on the sub-corpus `seedWhere` selects (the
    * existing rows; arrivals must not shift a served book — the
    * q_ann_incremental_trained contract, applied to the three-level
    * family) while EVERY row still routes through it. Seed selection
    * under a filter follows [[trainedCells]]' filtered-mode rule one
    * level deeper: children by an LCG-MIXED stride (raw moduli are
    * unsound under a correlated filter — measured on the two-level
    * family), then RANK-strided supers and grands (every tb-th child,
    * every tb-th super, tb = [[triSplit]](k)) — rank 0 is always
    * selected, so non-empty children guarantee non-empty supers AND
    * grands, where an LCG modulus at the grand stride would select
    * ~n/gs ≈ 2 rows and can go empty at fixture scale. The rank
    * windows run over the ~k = ⌈n/125⌉ SEED rows only (never the
    * corpus), the same O(c) the oracle's ROW_NUMBER chain sorts; the
    * driver still holds only the ≈ k^(1/3) grands. */
  private[graft] def trainedCellsL3Inc(s: SparkSession, d: String,
      seedWhere: String, probe2: Boolean = false): DataFrame = {
    val v = trainedVecs(s, d)
    val sub = v.filter(expr(seedWhere))
    val n = sub.count()
    val c = adaptiveCellsL3(n)
    val scInc = math.max(1L, n / c)
    val childSrc = ScratchCache.scratch(
      sub.filter(expr(childStride(scInc, lcg = true))).selectExpr("vec_id", "qv"))
    val k = childSrc.count()
    require(k > 0,
      s"trainedCellsL3Inc: no child seeds (n=$n, sc=$scInc, " +
        s"seedWhere=$seedWhere) — widen seedWhere")
    val tb = triSplit(k)
    val superSrc = ScratchCache.scratch(
      rankStride(s, childSrc, tb, k, MaxDriverSeeds).selectExpr("vec_id", "qv"))
    val grandSrc =
      rankStride(s, superSrc, tb, k, MaxDriverSeeds).selectExpr("vec_id", "qv")
    trainedCellsL3Build(s, v, grandSrc, superSrc, childSrc, probe2)
  }

  /** Every tb-th row of `seeds(vec_id, qv)` by vec_id-rank. The rank
    * law is byte-identical to the oracle's ROW_NUMBER () OVER (ORDER
    * BY vec_id) − 1 (vec_ids are distinct → the sort is total), and
    * rank 0 is always kept, so the recursive non-emptiness invariant
    * holds on both routes.
    *
    * SIZE SWITCH (r13, the trainedCells pattern): when the caller's
    * seed count fits its driver-seed `budget`, a no-partition window is
    * the cheaper plan — it is LAZY (no extra Spark actions) and its
    * single-task sort ranks only the ≤ budget seed rows. Past the
    * budget, rank derivation goes DISTRIBUTIVE: range-sort +
    * zipWithIndex (per-partition counts and offsets) — two extra jobs,
    * but no single task ever holds the k = ⌈n/125⌉ seed mass that the
    * 10⁹+-row regime implies (the growing-with-corpus single-point
    * class the r10/r11 driver-collect work removed, ADVICE r11).
    * `nHint` is the caller's already-computed seed count (an upper
    * bound is fine — it only picks the route, never the rows). */
  private[ops] def rankStride(s: SparkSession, seeds: DataFrame,
      tb: Int, nHint: Long, budget: Long): DataFrame = {
    if (nHint <= budget) {
      val w = Window.orderBy("vec_id")
      return seeds
        .withColumn("j", row_number().over(w).cast("long") - 1)
        .filter(col("j") % tb === 0)
    }
    val sorted = seeds.orderBy("vec_id")
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "j", org.apache.spark.sql.types.LongType, nullable = false))
    // zipWithIndex = one count job over partition sizes + a
    // per-partition offset map; the global order is the range sort's
    val indexed = sorted.rdd.zipWithIndex().map { case (r, j) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ j) }
    s.createDataFrame(indexed, schema).filter(col("j") % tb === 0)
  }

  private def trainedCellsL3Build(s: SparkSession, v: DataFrame,
      grandSrc: DataFrame, superSrc: DataFrame, childSrc: DataFrame,
      probe2: Boolean, adaptive: Boolean = false): DataFrame = {
    val grandSeeds = seedBook(grandSrc)
    require(grandSeeds._1.nonEmpty, "trainedCellsL3: no grand seeds")
    val bcG = s.sparkContext.broadcast(grandSeeds)
    val sblocks = graft.ScratchCache.scratch(seedBlocks(
      superSrc
        .selectExpr("vec_id AS sid", "qv AS sv")
        .select(col("sid"), col("sv"),
          joinKey(superArgmin(bcG, col("sv"))).as("sgrand")),
      Seq("sgrand"), "sid", "sv", "sblock"))
    val cblocks = graft.ScratchCache.scratch(seedBlocks(
      childSrc
        .selectExpr("vec_id AS cid", "qv AS cv")
        .select(col("cid"), col("cv"),
          joinKey(superArgmin(bcG, col("cv"))).as("cgrand"))
        .join(sblocks.hint("SHUFFLE_HASH"), col("cgrand") === col("sgrand"))
        .select(col("cid"), col("cv"),
          joinKey(blockArgmin(col("cv"), col("sblock"))).as("csuper")),
      Seq("csuper"), "cid", "cv", "cblock"))
    // BEAMED descent: each row descends its TWO nearest grands, and
    // within each grand's super block its L3SuperBeam nearest supers
    // (ONE ChildBlockTopKD scan per grand, exploded), then keeps the
    // closest of the ≤ 2·beam leaf children (sort_array over
    // struct(d2, cid) — exactly the (d2, id) tie order). A single
    // descent measurably narrows: on the 100× clustered corpus 12
    // grands routing 16 planted clusters held 0.49× of the two-level
    // recall; widening the GRAND side (beam 2: 0.55×; doubling grand
    // count: WORSE, 0.61 vs 0.64 — more grands shrink each super
    // block, so fewer supers get examined) pays less than widening
    // the SUPER beam, where the loss actually compounds (FAISS IMI's
    // coarse multi-probe, applied one level down). Cost stays
    // O(c^(1/3)·d)/row at a small beam constant; the skinny
    // (vec_id, qv) spine rides the exploded joins and the full row
    // joins back once by id. Joins stay INNER: a grand always wins
    // its own super seed and a super its own child seed (the
    // recursive subset invariant); on a degenerate single-grand
    // codebook SuperTopKBroadcast(2) returns a one-element distinct
    // grand array, so the explode yields one descent — matching the
    // oracle's rn ≤ 2 window producing a single beam.
    // one grand-array scan per row (SuperTopKBroadcast(2) yields both
    // beams at once; a single-grand codebook yields one), one super
    // top-K scan per beamed block, and ONE leaf scan per beamed super
    // (ChildBlockTopKD(1) returns the best (d, c) pair together) — the
    // shipped plan now evaluates exactly the distances the measured
    // l3_route_width formula counts
    val qv = col("qv")
    val picks = v.select(col("vec_id"), qv,
        explode(superTopK(2, bcG, qv)).as("rg"))
      .join(sblocks.hint("SHUFFLE_HASH"), col("rg") === col("sgrand"))
      .select(col("vec_id"), qv,
        explode(blockTopKD(L3SuperBeam, qv, col("sblock"))).as("sp"))
      .selectExpr("vec_id", "qv", "sp.c AS rs")
      .join(cblocks.hint("SHUFFLE_HASH"), col("rs") === col("csuper"))
      .select(col("vec_id"),
        element_at(blockTopKD(1, qv, col("cblock")), 1).as("cand"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(col("cand"))).as("cands"))
      .selectExpr(Seq("vec_id", "element_at(cands, 1).c AS cell") ++
        // the nprobe=2 knob: the beam's runner-up cell — candidates
        // are distinct by construction (supers partition children), so
        // the second array entry IS the second-distinct cell; home
        // cell when the beam found only one (degenerate codebooks),
        // the probeUnion fallback shape
        (if (probe2) Seq("coalesce(try_element_at(cands, 2).c, " +
          "element_at(cands, 1).c) AS cell2")
        else Nil) ++
        // the ADAPTIVE-nprobe knob on the L3 book (r12): the margin
        // law over the ≤ 2·beam leaves the descent ALREADY scanned —
        // home first, then non-home candidates within the integer
        // margin d·den ≤ hd2·num of the nearest alternative (cands is
        // (d, cid)-sorted, so cands[2].d IS hd2), capped at the same
        // AdaptMaxProbes budget as the two-level law. Zero extra
        // routing work: unlike the two-level kernel (which pools ALL
        // children of the nearest supers) the candidate pool here is
        // the beam's leaf set — the L3 structure's honest analog.
        (if (adaptive) Seq(
          "concat(array(element_at(cands, 1).c), " +
            "transform(slice(filter(slice(cands, 2, size(cands) - 1), " +
            s"x -> x.d * $AdaptEpsDen <= " +
            s"try_element_at(cands, 2).d * $AdaptEpsNum), " +
            s"1, ${AdaptMaxProbes - 1}), x -> x.c)) AS probes")
        else Nil): _*)
    // join-back pinned SHUFFLE_HASH: picks is one row per corpus row —
    // broadcastable at the fixture only, so letting AQE pick a BHJ here
    // would be testing a plan that cannot exist at scale
    val assigned = v.selectExpr("vec_id", "embedding", "n2")
      .join(picks.hint("SHUFFLE_HASH"), "vec_id")
    graft.ScratchCache.scratch(assigned.repartition(col("cell")))
  }

  /** DuckDB twin of [[trainedCellsL3]] — the hierarchical argmin
    * written relationally, ending in `ebl3(vec_id, embedding, n2,
    * cell)`. Strides derive from the same arithmetic law (c, then t =
    * min z with z³ ≥ c); every level is a windowed
    * `ROW_NUMBER() OVER (ORDER BY dist2, id)` and the child/row
    * descents JOIN on the parent assignment — never a flat argmin —
    * exactly the tree the engine's blocks encode. */
  private def duckTrainedL3Cte: String = duckTrainedL3CteW("TRUE")

  /** [[duckTrainedL3Cte]] with the seed CTEs parameterized on a
    * training filter `w` — the oracle twin of [[trainedCellsL3Inc]]'s
    * filtered mode: knobs sized on the sub-corpus, children by the
    * LCG-mixed stride, supers/grands by the tb-rank stride
    * (tb = min z: z³ ≥ k). The descent chain below the seeds is
    * byte-identical in both modes. */
  private def duckTrainedL3CteW(w: String): String = {
    val d = DuckSql
    val q = d.quantVec("embedding", 1000000L)
    val cellsW = s"GREATEST(16, LEAST($CellCapL3, " +
      s"((SELECT count(*) FROM embeddings WHERE $w) + 124) // 125))"
    val seedCtes = if (w == "TRUE")
      s"""l3k AS (
         |  SELECT sc, sc * ssm AS ss, sc * ssm * t AS gs FROM (
         |    SELECT GREATEST(1, n // c) AS sc,
         |      GREATEST(1, (c + t * t - 1) // (t * t)) AS ssm, t
         |    FROM (SELECT ($cellsW) AS c,
         |        (SELECT count(*) FROM embeddings) AS n,
         |        (SELECT min(z) FROM (SELECT unnest(range(1, 4097)) AS z) tz
         |          WHERE z * z * z >= ($cellsW)) AS t) l3k0) l3k1),
         |l3v AS (SELECT vec_id, embedding,
         |    ${d.dotDbl("embedding", "embedding")} AS n2, $q AS qv
         |  FROM embeddings),
         |l3g AS (SELECT vec_id AS gid, qv AS gv FROM l3v, l3k
         |  WHERE vec_id % gs = 0),
         |l3s AS (SELECT vec_id AS sid, qv AS sv FROM l3v, l3k
         |  WHERE vec_id % ss = 0),
         |l3c AS (SELECT vec_id AS cid, qv AS cv FROM l3v, l3k
         |  WHERE vec_id % sc = 0),""".stripMargin
    else
      s"""l3k AS (SELECT GREATEST(1, n // c) AS sc FROM (
         |    SELECT ($cellsW) AS c,
         |      (SELECT count(*) FROM embeddings WHERE $w) AS n) l3k0),
         |l3v AS (SELECT vec_id, embedding,
         |    ${d.dotDbl("embedding", "embedding")} AS n2, $q AS qv
         |  FROM embeddings),
         |l3c0 AS (SELECT vec_id AS cid, qv AS cv,
         |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
         |  FROM l3v, l3k
         |  WHERE (((vec_id % 2147483648) * 1103515245 + 12345)
         |      % 2147483648) % sc = 0 AND ($w)),
         |l3c AS (SELECT cid, cv FROM l3c0),
         |l3tb AS (SELECT COALESCE((SELECT min(z) FROM
         |    (SELECT unnest(range(1, 4097)) AS z) tz
         |    WHERE z * z * z >= (SELECT count(*) FROM l3c0)), 4096) AS tb),
         |l3s0 AS (SELECT cid AS sid, cv AS sv,
         |    ROW_NUMBER() OVER (ORDER BY cid) - 1 AS j2
         |  FROM l3c0, l3tb WHERE j % tb = 0),
         |l3s AS (SELECT sid, sv FROM l3s0),
         |l3g AS (SELECT sid AS gid, sv AS gv FROM l3s0, l3tb
         |  WHERE j2 % tb = 0),""".stripMargin
    s"""$seedCtes
       |l3sg AS (SELECT sid, sv, gid AS sgrand FROM (
       |    SELECT s.sid, s.sv, g.gid, ROW_NUMBER() OVER (PARTITION BY s.sid
       |      ORDER BY ${d.dist2Big("s.sv", "g.gv")}, g.gid) AS rn
       |    FROM l3s s CROSS JOIN l3g g) WHERE rn = 1),
       |l3cg AS (SELECT cid, cv, gid AS cgrand FROM (
       |    SELECT c.cid, c.cv, g.gid, ROW_NUMBER() OVER (PARTITION BY c.cid
       |      ORDER BY ${d.dist2Big("c.cv", "g.gv")}, g.gid) AS rn
       |    FROM l3c c CROSS JOIN l3g g) WHERE rn = 1),
       |l3cs AS (SELECT cid, cv, sid AS csuper FROM (
       |    SELECT c.cid, c.cv, s.sid, ROW_NUMBER() OVER (PARTITION BY c.cid
       |      ORDER BY ${d.dist2Big("c.cv", "s.sv")}, s.sid) AS rn
       |    FROM l3cg c JOIN l3sg s ON s.sgrand = c.cgrand) WHERE rn = 1),
       |l3rg AS (SELECT vec_id, embedding, n2, qv, gid, rn AS beam FROM (
       |    SELECT t.vec_id, t.embedding, t.n2, t.qv, g.gid,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${d.dist2Big("t.qv", "g.gv")}, g.gid) AS rn
       |    FROM l3v t CROSS JOIN l3g g) WHERE rn <= 2),
       |l3rs AS (SELECT vec_id, embedding, n2, qv, beam, srn,
       |    sid AS rsuper FROM (
       |    SELECT r.vec_id, r.embedding, r.n2, r.qv, r.beam, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.beam
       |        ORDER BY ${d.dist2Big("r.qv", "s.sv")}, s.sid) AS srn
       |    FROM l3rg r JOIN l3sg s ON s.sgrand = r.gid)
       |  WHERE srn <= $L3SuperBeam),
       |l3rc AS (SELECT vec_id, embedding, n2, cid,
       |    ${d.dist2Big("qv", "cv")} AS cd2 FROM (
       |    SELECT r.vec_id, r.embedding, r.n2, r.qv, a.cid, a.cv,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.beam, r.srn
       |        ORDER BY ${d.dist2Big("r.qv", "a.cv")}, a.cid) AS crn
       |    FROM l3rs r JOIN l3cs a ON a.csuper = r.rsuper) WHERE crn = 1),
       |ebl3 AS (SELECT vec_id, embedding, n2, cid AS cell FROM (
       |    SELECT vec_id, embedding, n2, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY cd2, cid) AS rn
       |    FROM l3rc) WHERE rn = 1)""".stripMargin
  }

  /** [[duckTrainedL3Cte]] extended with the beam runner-up cell — ends
    * in `ebl3p(vec_id, embedding, n2, cell, cell2)`: cell2 is the
    * second-DISTINCT cell of the ≤4 beam candidates ranked by
    * (min d2, cid), COALESCEd to the home cell when every descent
    * landed in one cell — the engine's filter-then-min over the beam
    * array, relationally. */
  private def duckTrainedL3P2Cte: String =
    s"""$duckTrainedL3Cte,
       |l3rcd AS (SELECT vec_id, cid, min(cd2) AS cd2 FROM l3rc
       |  GROUP BY vec_id, cid),
       |l3rk AS (SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd2, cid) AS rn
       |  FROM l3rcd),
       |ebl3p AS (SELECT e.vec_id, e.embedding, e.n2, e.cell,
       |    COALESCE(x.cid, e.cell) AS cell2
       |  FROM ebl3 e LEFT JOIN (SELECT vec_id, cid FROM l3rk WHERE rn = 2) x
       |  USING (vec_id))""".stripMargin

  /** [[duckTrainedL3Cte]] extended with the ADAPTIVE margin-law probe
    * set over the beam's leaf candidates — ends in `l3aprobes(vec_id,
    * embedding, n2, cell)`, one row per probe, the exploded shape the
    * search join consumes: home always, then non-home beam leaves
    * within the integer margin cd2·den ≤ h2·num (h2 = nearest
    * non-home leaf distance) ordered by (cd2, cid) and capped at
    * AdaptMaxProbes − 1 — byte-identical to the engine's filter/slice
    * over the (d, cid)-sorted cands array. */
  private def duckTrainedL3AdpCte: String =
    s"""$duckTrainedL3Cte,
       |l3ad AS (SELECT vec_id, cid, min(cd2) AS cd2 FROM l3rc
       |  GROUP BY vec_id, cid),
       |l3ahd AS (SELECT r.vec_id, min(r.cd2) AS h2
       |  FROM l3ad r JOIN ebl3 e ON e.vec_id = r.vec_id
       |  WHERE r.cid <> e.cell GROUP BY r.vec_id),
       |l3aq AS (SELECT vec_id, cid FROM (
       |    SELECT r.vec_id, r.cid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY r.cd2, r.cid) AS rnp
       |    FROM l3ad r JOIN ebl3 e ON e.vec_id = r.vec_id
       |    JOIN l3ahd t ON t.vec_id = r.vec_id
       |    WHERE r.cid <> e.cell
       |      AND r.cd2 * $AdaptEpsDen <= t.h2 * $AdaptEpsNum) tq
       |  WHERE rnp <= ${AdaptMaxProbes - 1}),
       |l3aprobes AS (
       |  SELECT vec_id, embedding, n2, cell FROM ebl3
       |  UNION ALL
       |  SELECT e.vec_id, e.embedding, e.n2, q.cid AS cell
       |  FROM l3aq q JOIN ebl3 e ON e.vec_id = q.vec_id)""".stripMargin

  /** Knob defaults of the ADAPTIVE multi-probe blocker — chosen from
    * the retention-vs-mass frontier measured on the 100× clustered
    * corpus in r10 (SURVEY.md records the tuning grid): nSupers=3 /
    * maxProbes=5 / eps=4 / interleave retains 0.210 of true cosine≥0.4
    * pairs at 4.04× the single-probe candidate mass, vs the fixed probe3
    * set's 0.151 at 2.64× — the best measured ≤4.1×-mass point.
    * maxProbes IS the stated mass budget (probe side only fans out;
    * measured mass runs ~20% under the cap). That frontier is also the
    * honest record that its slope is ~0.05 retention per 1×
    * mass on this corpus — truth grows quadratically in cluster mass,
    * so a pair-retention target like 0.30 needs ~6× mass, while the
    * REMOVAL decision (any one found partner suffices) measures 1.000
    * recall at every grid point. */
  private[graft] val AdaptNSupers = 3
  private[graft] val AdaptMaxProbes = 5
  private[graft] val AdaptEpsNum = 4L
  private[graft] val AdaptEpsDen = 1L

  /** DuckDB twin of [[trainedAdaptiveCells]]' probe law over
    * [[duckTrainedEbCte]]'s chain — ends in `aprobes(vec_id,
    * embedding, n2, cell)`, one row per probe (home + qualifying),
    * the exploded shape the pair join consumes. The interleave order
    * is the (rank-within-super, super-rank) ROW_NUMBER; the margin is
    * the integer predicate pd2·den ≤ hd2·num with hd2 = nearest
    * NON-home pooled child (see the kernel's Scaladoc for why hd2). */
  private def duckAdaptiveProbesCte: String = {
    val d = DuckSql
    s"""$duckTrainedEbCte,
       |tsel AS (SELECT vec_id, qv, sid, rn AS srn FROM tras
       |  WHERE rn <= $AdaptNSupers),
       |pooled AS MATERIALIZED (SELECT t.vec_id, a.cid, t.srn,
       |    ${d.dist2Big("t.qv", "a.cv")} AS pd2
       |  FROM tsel t JOIN tca a ON a.csuper = t.sid
       |  JOIN eb h ON h.vec_id = t.vec_id AND a.cid <> h.cell),
       |thd2 AS (SELECT vec_id, min(pd2) AS h2 FROM pooled GROUP BY vec_id),
       |tqual AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY js, srn) AS rnp
       |    FROM (
       |      SELECT p.vec_id, p.cid, p.srn, p.pd2,
       |        ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.srn
       |          ORDER BY p.pd2, p.cid) AS js
       |      FROM pooled p JOIN thd2 t2 ON t2.vec_id = p.vec_id
       |      WHERE p.pd2 * $AdaptEpsDen <= t2.h2 * $AdaptEpsNum) tj) tr
       |  WHERE rnp <= ${AdaptMaxProbes - 1}),
       |aprobes AS (
       |  SELECT vec_id, embedding, n2, cell FROM eb
       |  UNION ALL
       |  SELECT e.vec_id, e.embedding, e.n2, q.cid AS cell
       |  FROM tqual q JOIN eb e ON e.vec_id = q.vec_id)""".stripMargin
  }

  /** Probe-side fan-out of the multi-probe family — ONE place for the
    * probe law (it appears in five declared queries): home cell always;
    * cell2 (second-nearest super's best child) and, when `useCell3`,
    * cell3 (home super's second-best child) with their degenerate
    * fallback rows (cellX = cell) FILTERED so the fan-out stays
    * pair-disjoint. Column aliases are caller-chosen (the dedup family
    * speaks vec_id_a/ea/na2, the ANN family query_id/qe/qn2). */
  private[graft] def probeUnion(e: DataFrame, idAs: String, embAs: String,
      n2As: String, useCell3: Boolean): DataFrame = {
    def sel(cellExpr: String) = Seq(s"vec_id AS $idAs",
      s"embedding AS $embAs", s"n2 AS $n2As", s"$cellExpr AS cell")
    val u = e.selectExpr(sel("cell"): _*)
      .unionAll(e.filter(col("cell2") =!= col("cell"))
        .selectExpr(sel("cell2"): _*))
    if (!useCell3) u
    else u.unionAll(e.filter(col("cell3") =!= col("cell"))
      .selectExpr(sel("cell3"): _*))
  }

  /** DuckDB twin of [[probeUnion]] over a `src(vec_id, embedding, n2,
    * cell, cell2[, cell3])` CTE — the body of the dprobes/tprobes CTEs. */
  private def duckProbes(src: String, useCell3: Boolean): String = {
    val base =
      s"""SELECT vec_id, embedding, n2, cell FROM $src
         |  UNION ALL
         |  SELECT vec_id, embedding, n2, cell2 AS cell FROM $src
         |  WHERE cell2 <> cell""".stripMargin
    if (!useCell3) base
    else base + "\n" +
      s"""  UNION ALL
         |  SELECT vec_id, embedding, n2, cell3 AS cell FROM $src
         |  WHERE cell3 <> cell""".stripMargin
  }

  // ---- SHARED TAILS ------------------------------------------------------
  // The three tails of the "book + tail" shape (object Scaladoc).

  /** Search side of an embedding frame: (id, qe, qn2, keys…). */
  private[graft] def asProbes(e: DataFrame, id: String,
      keys: String*): DataFrame =
    e.selectExpr(Seq(s"vec_id AS $id", "embedding AS qe", "n2 AS qn2") ++
      keys: _*)

  /** Corpus side of an embedding frame: (neighbor_id, ce, cn2, keys…). */
  private[graft] def asCorpus(e: DataFrame, keys: String*): DataFrame =
    e.selectExpr(Seq("vec_id AS neighbor_id", "embedding AS ce",
      "n2 AS cn2") ++ keys: _*)

  /** Tail (a), the cosine top-3 over a key join: `probes` (id, qe, qn2,
    * on…) ⋈ `corpus` (neighbor_id, ce, cn2, on…) on the `on` keys →
    * cosine → per-`id` rank by (cosine desc, neighbor_id) → rn ≤ 3,
    * projected to (id, neighbor_id, keep…, cosine, rn) in no particular
    * order (a foreachBatch body appends it as is). A `query_id` search
    * probes the corpus it is drawn from, so its self-pairs drop;
    * `arrival_id` probes are disjoint from their corpus by construction
    * and skip the filter. `keep` is `on` except where a key only shards
    * the join (q_ann_lsh_salted's salt). */
  private[graft] def cosineTopKRows(probes: DataFrame, corpus: DataFrame,
      id: String, on: Seq[String], keep: Seq[String]): DataFrame = {
    val w = Window.partitionBy(id)
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val joined = probes.join(corpus, on)
    val pairs =
      if (id == "query_id") joined.filter(col(id) =!= col("neighbor_id"))
      else joined
    pairs.select(Seq(col(id), col("neighbor_id")) ++ keep.map(col) :+
        cosine("qe", "ce", "qn2", "cn2"): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  /** [[cosineTopKRows]] in (id, rn) order — the declared queries' shape. */
  private[graft] def cosineTopK(probes: DataFrame, corpus: DataFrame,
      id: String, on: Seq[String], keep: Seq[String]): DataFrame =
    cosineTopKRows(probes, corpus, id, on, keep).orderBy(id, "rn")

  /** [[cosineTopK]] of `probes` (query_id, qe, qn2, cell) against the
    * home cells of `e` — the search every IVF book ends in. */
  private def cellSearch(probes: DataFrame, e: DataFrame): DataFrame =
    cosineTopK(probes, asCorpus(e, "cell"), "query_id", Seq("cell"),
      Seq("cell"))

  /** DuckDB twin of [[cosineTopK]] after the CTE list `ctes`: per-`id`
    * top-3 of `probes` q ⋈ `corpus` c on `keys`, over the pairs that
    * satisfy `where` (self-exclusion and any serving predicate). */
  private def duckCosineTopK(ctes: String, probes: String, corpus: String,
      id: String, keys: Seq[String], where: String): String = {
    val on = keys.map(k => s"q.$k = c.$k").mkString(" AND ")
    s"""WITH $ctes
       |SELECT $id, neighbor_id, ${keys.mkString(", ")}, cosine, rn FROM (
       |  SELECT q.vec_id AS $id, c.vec_id AS neighbor_id,
       |    ${keys.map("q." + _).mkString(", ")}, ${duckCos("q", "c")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${duckCos("q", "c")} DESC, c.vec_id) AS rn
       |  FROM $probes q JOIN $corpus c ON $on
       |  WHERE $where
       |) WHERE rn <= 3 ORDER BY $id, rn""".stripMargin
  }

  /** [[duckCosineTopK]]'s `where` for a search of its own corpus. */
  private val DuckNotSelf = "q.vec_id <> c.vec_id"

  /** ... and for the served-index ingest: arrivals (vec_id % 10 = 0)
    * probe existing rows only. */
  private val DuckArrivals = "q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0"

  /** Tail (b), canonical near-dup pairs: `probes` (vec_id_a, ea, na2,
    * cell) ⋈ the home cells of `e` → (least, greatest, cosine) with
    * cosine ≥ [[NearDupThreshold]]. A pair survives when EITHER endpoint
    * probes the other's home cell, so it can arrive twice; callers
    * dedup it (`distinct`, or [[removals]]). Symmetric bit-exact: dot's
    * fold order is the dimension order and float multiply commutes, so
    * either endpoint ordering yields the identical double. */
  private def nearDupPairs(probes: DataFrame, e: DataFrame): DataFrame = {
    val corpus = e.selectExpr("vec_id AS vec_id_b", "embedding AS eb",
      "n2 AS nb2", "cell")
    probes.join(corpus, Seq("cell"))
      .filter(col("vec_id_a") =!= col("vec_id_b"))
      .select(
        expr("least(vec_id_a, vec_id_b) AS vec_id_a"),
        expr("greatest(vec_id_a, vec_id_b) AS vec_id_b"),
        cosine("ea", "eb", "na2", "nb2"))
      .filter(col("cosine") >= NearDupThreshold)
  }

  /** The SemDeDup removal decision over [[nearDupPairs]]: each removed
    * vec_id with its kept lowest-id duplicate and its duplicate count. */
  private def removals(pairs: DataFrame): DataFrame =
    pairs.select("vec_id_a", "vec_id_b").distinct()
      .groupBy("vec_id_b")
      .agg(min("vec_id_a").as("kept_id"), count(lit(1)).as("n_dups"))
      .selectExpr("vec_id_b AS vec_id", "kept_id", "n_dups")
      .orderBy("vec_id")

  /** DuckDB twin of [[nearDupPairs]] + its dedup: the DISTINCT canonical
    * pairs of `probes` a ⋈ `corpus` b on cell. */
  private def duckNearDupPairs(probes: String, corpus: String): String =
    s"""SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_id_a,
       |  greatest(a.vec_id, b.vec_id) AS vec_id_b,
       |  ${duckCos("a", "b")} AS cosine
       |FROM $probes a JOIN $corpus b ON a.cell = b.cell
       |  AND a.vec_id <> b.vec_id
       |WHERE ${duckCos("a", "b")} >= $NearDupThreshold""".stripMargin

  /** DuckDB twin of [[removals]] after the CTE list `ctes` (cosine is a
    * function of the pair, so DISTINCT over it keeps one row per pair). */
  private def duckRemovals(ctes: String, probes: String,
      corpus: String): String =
    s"""WITH $ctes,
       |dpairs AS (
       |${duckNearDupPairs(probes, corpus)})
       |SELECT vec_id_b AS vec_id, min(vec_id_a) AS kept_id,
       |  count(*) AS n_dups
       |FROM dpairs GROUP BY vec_id_b ORDER BY vec_id""".stripMargin

  /** The facade's route LAW — pure arithmetic, spec-testable without a
    * 2.1×10⁹-row corpus: the two-level book holds constant occupancy
    * while the UNCAPPED cell demand ⌈N/125⌉ fits its cap; past it the
    * three-level book is the only one whose occupancy stays 125. */
  private[graft] def annBook(n: Long, cap: Long): String =
    if (math.max(NCells.toLong, (n + 124) / 125) > cap) "l3" else "two-level"

  /** Which book built a facade frame, read from the frame itself
    * ([[graft.functions.BookRoute]]): the L3 book is always a dist
    * route, the two-level book under its default budget a broadcast
    * one. */
  private[graft] def routedBook(df: DataFrame): String =
    if (BookRoute.of(df).route == "dist") "l3" else "two-level"

  /** ONE ANN index entry — the r10 verdict's missing crossover: a user
    * at 3×10⁹ rows had to KNOW to call the L3 family past the
    * two-level book's 2^24-cell cap. This facade applies the cell-law
    * arithmetic ([[annBook]]) and normalizes the probe surface so
    * callers never care which book routed:
    *
    *   (vec_id, embedding, n2, cell[, cell2])
    *
    * `cell` is always the home cell; `cell2` (with probe2) is always
    * "the book's strongest second probe" — the second-nearest-super
    * child on the two-level book, the beam runner-up cell on the L3
    * book. Both satisfy the same caller contract (a different cell
    * adjacent to the home boundary, equal to `cell`'s semantics under
    * a join), which is what makes the switch safe where a raw column
    * pass-through would not be: the two-level `cell3` (the home
    * super's second child) has no L3 twin and is deliberately NOT in
    * the facade surface — callers needing it have chosen a book.
    * Downstream of the build, both books' frames join/serve
    * identically (homeCellSearch, the KeyedTable ingest/delete
    * surface). Driver state and join shape follow the routed book's
    * documented bounds.
    *
    * `cap` is the two-level cell cap the law routes on, [[CellCap]]
    * unless the caller forces the L3 arm (`cap = 1`: the _l3 queries,
    * the specs and the stress). It rides the call, never session conf,
    * so concurrent facade callers cannot inherit each other's route
    * (ADVICE r11). Which book routed shows in the frame
    * ([[routedBook]]). */
  private[graft] def annIndex(s: SparkSession, d: String,
      probe2: Boolean = false, cap: Long = CellCap): DataFrame = {
    val base =
      if (annBook(corpusN(s, d), cap) == "l3") trainedCellsL3(s, d, probe2)
      else trainedCells(s, d, probe2)
    val cols = if (probe2) Seq("vec_id", "embedding", "n2", "cell", "cell2")
      else Seq("vec_id", "embedding", "n2", "cell")
    base.select(cols.map(col): _*)
  }

  /** [[annIndex]] with FILTERED TRAINING — the served-index build
    * through the facade (r12): the codebook trains only on the rows
    * `seedWhere` selects (arrivals must never shift a served book)
    * while every row still routes through it. Same route law, same
    * normalized surface; the per-book incremental bodies
    * ([[trainedCells]]' seedWhere mode / [[trainedCellsL3Inc]]) are
    * REUSED, not re-derived, so the facade can never drift from the
    * declared per-book queries. */
  private[graft] def annIndexInc(s: SparkSession, d: String,
      seedWhere: String, cap: Long = CellCap): DataFrame = {
    val base =
      if (annBook(corpusN(s, d), cap) == "l3")
        trainedCellsL3Inc(s, d, seedWhere)
      else trainedCells(s, d, seedWhere = seedWhere)
    base.select("vec_id", "embedding", "n2", "cell")
  }

  /** The served-index INGEST probe shared by every incremental
    * declared query — two-level, L3, and the facade arms: arrivals
    * (vec_id % 10 = 0) probe ONLY existing rows through the frozen
    * book's home cells, per-arrival top-3. One body so the per-book
    * routes and the facade can never drift apart. */
  private[graft] def servedIngestProbe(e: DataFrame): DataFrame =
    cosineTopK(asProbes(e.filter(col("vec_id") % 10 === 0), "arrival_id",
        "cell"),
      asCorpus(e.filter(col("vec_id") % 10 =!= 0), "cell"),
      "arrival_id", Seq("cell"), Seq("cell"))

  /** The STREAMING served-index ingest body shared by
    * q_stream_ann_ingest (two-level book) and q_stream_ann_ingest_l3
    * (three-level book): the existing rows of the book's cell frame
    * `e` (vec_id % 10 <> 0) are written PARTITIONED BY cell under
    * `<scratch>/<name>/<corpus tag>`, the arrivals (vec_id % 10 = 0)
    * land as an unbounded file stream in 3 key-disjoint chunks
    * (maxFilesPerTrigger=1 → 3 real triggers), and each micro-batch
    * probes ONLY its arrivals' home cells — a partition-pruned read of
    * the served table, per-batch cost ∝ batch size — appending its
    * top-3 rows. Arrival batches are key-disjoint, so the appended
    * union equals [[servedIngestProbe]]'s one-shot batch query. */
  private def servedStreamProbe(s: SparkSession, d: String, name: String,
      e: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tag = new java.io.File(d).getName
    val root = s"${graft.ProcScratch.base}/$name/$tag"
    val watch = s"$root/_arrivals"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // the SERVED table: existing rows, one directory per cell
    e.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding", "n2", "cell")
      .write.partitionBy("cell").parquet(s"$root/corpus")
    // the arrival feed: 3 key-disjoint chunks (vec_id/10 mod 3),
    // staged by ONE partitioned write (r13: was 3 coalesce(1) jobs
    // over a persisted frame; the chunk column is write-layout
    // only — partitionBy drops it from the file bytes, and chunk
    // content is the identical key predicate)
    graft.sources.Sources.stageChunks(
      e.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding", "n2", "cell"),
      expr("(vec_id div 10) % 3"), 3, s"$root/_arr_stage", watch, "arr")
    val arrSchema = s.read.parquet(watch).schema
    // hoisted OUT of the trigger body (r13): the served table is
    // immutable across triggers, so its directory listing + schema
    // inference need to run once, not once per micro-batch; the
    // per-batch cell filter below still partition-prunes this frame
    val corpusBase = s.read.parquet(s"$root/corpus")
      .withColumn("cell", col("cell").cast("long"))
    val q = s.readStream.schema(arrSchema)
      .option("maxFilesPerTrigger", "1").parquet(watch)
      .writeStream
      .option("checkpointLocation", s"$root/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // bounded collect: the batch's distinct home cells — the
        // partition-pruning predicate for the served-table scan
        val cells = batch.select("cell").distinct()
          .collect().map(_.getLong(0))
        val corpus = asCorpus(
          corpusBase.filter(col("cell").isin(cells: _*)), "cell")
        cosineTopKRows(asProbes(batch, "arrival_id", "cell"), corpus,
            "arrival_id", Seq("cell"), Seq("cell"))
          .write.mode("append").parquet(s"$root/out")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$root/out").orderBy("arrival_id", "rn")
  }

  /** The served-index DELETE body shared by q_ann_delete,
    * q_ann_delete_l3 and the facade arms: the index lives as a
    * versioned KeyedTable, a delete batch (vec_id % 7 = 0) lands via
    * anti-join mergeDelta (O(delta·fanout) file rewrites), compact
    * coalesces survivors, and the post-delete probe (vec_id % 10 = 0
    * queries, top-3 over survivors) must equal the probe of a corpus
    * the deleted rows were never inserted into — the FAISS remove_ids
    * contract; the book stays frozen (deletion drops rows, it does
    * not retrain). */
  private def servedDeleteProbe(s: SparkSession, root: String,
      e: DataFrame): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    graft.sources.KeyedTable.write(s, root, "annidx",
      e.select("vec_id", "embedding", "n2", "cell"), "vec_id", 8)
    val deletes = e.filter(col("vec_id") % 7 === 0).select("vec_id")
    graft.sources.KeyedTable.mergeDelta(s, root, "annidx",
      deletes, "vec_id") { (cur, ch) =>
      cur.join(ch.select("vec_id"), Seq("vec_id"), "left_anti")
    }
    graft.sources.KeyedTable.compact(s, root, "annidx", "vec_id", 100000L)
    val idx = graft.sources.KeyedTable.read(s, root, "annidx")
    cellSearch(asProbes(idx.filter(col("vec_id") % 10 === 0), "query_id",
      "cell"), idx)
  }

  /** FACADE-LEVEL INGEST (r12, the r11 verdict's item 4): the serving
    * surface follows [[annBook]]'s law exactly like the build does —
    * a user never chooses a book to add a batch. Arrivals
    * (vec_id % 10 = 0) are excluded from training and probe the
    * existing rows through the routed frozen book. */
  private[graft] def annIngest(s: SparkSession, d: String,
      cap: Long = CellCap): DataFrame =
    servedIngestProbe(annIndexInc(s, d, "vec_id % 10 <> 0", cap))

  /** FACADE-LEVEL DELETE: [[annIndex]]'s routed book served from a
    * KeyedTable with the shared delete/probe body. `root` is the
    * caller's scratch/table location (each declared query uses its
    * own so runs never clobber each other). */
  private[graft] def annDelete(s: SparkSession, d: String, root: String,
      cap: Long = CellCap): DataFrame =
    servedDeleteProbe(s, root, annIndex(s, d, cap = cap))

  /** Every row of `e` searches its own home cell (nprobe = 1). */
  private def homeCellSearch(e: DataFrame): DataFrame =
    cellSearch(asProbes(e, "query_id", "cell"), e)

  /** Oracle of [[homeCellSearch]] over [[duckTrainedEbCte]] — shared
    * by q_ann_ivf_trained and q_ann_ivf_trained_dist (the two builds
    * assign IDENTICAL cells, so one SQL gates both). */
  private def duckTrainedAnnSql: String =
    duckCosineTopK(duckTrainedEbCte, "eb", "eb", "query_id", Seq("cell"),
      DuckNotSelf)

  /** The nprobe=3 top-3 search shared by the BROADCAST and DIST builds
    * (q_ann_ivf_trained_probe3 / q_ann_ivf_trained_probe3_dist) — one
    * body + one oracle so the two declared routes can never drift
    * apart (their bit-equality is the dist query's whole point). */
  private def trainedProbe3Search(e: DataFrame): DataFrame =
    cellSearch(probeUnion(e, "query_id", "qe", "qn2", useCell3 = true), e)

  private lazy val duckTrainedProbe3Sql: String =
    duckProbeSearch(duckTrainedEb3Cte, "eb3", useCell3 = true)

  /** Oracle of the fixed multi-probe searches: `ctes` ends in `src(vec_id,
    * embedding, n2, cell, cell2[, cell3])`, whose [[duckProbes]] fan-out
    * searches the home cells of `src`. */
  private def duckProbeSearch(ctes: String, src: String,
      useCell3: Boolean): String =
    duckCosineTopK(
      s"""$ctes,
         |tprobes AS (
         |  ${duckProbes(src, useCell3)})""".stripMargin,
      "tprobes", src, "query_id", Seq("cell"), DuckNotSelf)

  /** Oracle shared by q_ann_incremental_trained and q_stream_ann_ingest
    * — the streaming ingest's appended union must EQUAL the one-shot
    * batch probe (micro-batch composition is the claim under test). */
  /** Oracle of the L3 incremental/serving family — frozen
    * filtered-training book ([[duckTrainedL3CteW]]), arrivals probe
    * existing rows only. Shared by q_ann_incremental_l3 and
    * q_stream_ann_ingest_l3 (key-disjoint batches make the streamed
    * union equal the one-shot query). */
  private def duckIncrementalL3Sql: String =
    duckCosineTopK(duckTrainedL3CteW("vec_id % 10 <> 0"), "ebl3", "ebl3",
      "arrival_id", Seq("cell"), DuckArrivals)

  private def duckIncrementalTrainedSql: String =
    duckCosineTopK(duckTrainedEbCteW("vec_id % 10 <> 0"), "eb", "eb",
      "arrival_id", Seq("cell"), DuckArrivals)

  /** Oracles of the served-index DELETE family — full-corpus book
    * (deletion never retrains), search restricted to the vec_id % 7
    * survivors. Shared by the per-book declared queries and the
    * facade arms (q_ann_delete/_auto on the two-level book;
    * q_ann_delete_l3/_auto_l3 on the three-level one). */
  private def duckDeleteTrainedSql: String =
    duckCosineTopK(duckTrainedEbCte, "eb", "eb", "query_id", Seq("cell"),
      DuckSurvivors)

  private def duckDeleteL3Sql: String =
    duckCosineTopK(duckTrainedL3Cte, "ebl3", "ebl3", "query_id",
      Seq("cell"), DuckSurvivors)

  /** The delete family's search: vec_id % 10 queries over the
    * vec_id % 7 survivors. */
  private val DuckSurvivors = s"$DuckNotSelf AND q.vec_id % 10 = 0 " +
    "AND q.vec_id % 7 <> 0 AND c.vec_id % 7 <> 0"

  /** Oracle of the three-level search — q_ann_ivf_trained_l3 and the
    * facade's forced-L3 arm q_ann_index_auto_l3. */
  private def duckTrainedL3AnnSql: String =
    duckCosineTopK(duckTrainedL3Cte, "ebl3", "ebl3", "query_id",
      Seq("cell"), DuckNotSelf)

  /** The same knobs as inline DuckDB SQL over the embeddings view —
    * pure integer arithmetic, so both engines agree at every N. */
  private def duckPlanesExpr: String =
    "GREATEST(6, COALESCE((SELECT min(p) FROM " +
      "(SELECT unnest(range(6, 41)) AS p) " +
      "tpl WHERE (CAST(1 AS BIGINT) << p) * 125 >= " +
      "4 * (SELECT count(*) FROM embeddings)), 40))"
  private def duckCellsExpr: String =
    s"GREATEST(16, LEAST($CellCap, " +
      "((SELECT count(*) FROM embeddings) + 124) // 125))"

  /** DuckDB CTE computing (c, s, m) — the exact integer twins of
    * [[adaptiveCells]] + [[superSplit]]. */
  private def duckKnobsCte: String =
    s"""knobs AS (
       |  SELECT c, s, ((c + s - 1) // s) AS m FROM (
       |    SELECT c, (SELECT min(ss) FROM
       |        (SELECT unnest(range(1, 4097)) AS ss) ts
       |      WHERE ss * ss >= c) AS s
       |    FROM (SELECT ($duckCellsExpr) AS c) tc0) tk)""".stripMargin

  /** Per-row list of squared L2 distances to the s SUPER-centroids
    * (LCG rows 9000+ii) — DuckDB twin of the kernel's superDistArr. */
  private def duckSuperDists(emb: String): String = {
    val d = DuckSql
    val dist = d.foldDbl(
      d.transform(d.seqIncl("1", "64"), "dd",
        s"(${d.elemAtDbl(emb, "dd")} - ${planeCoef(d, "(9000 + ii)", "dd - 1")}) * " +
          s"(${d.elemAtDbl(emb, "dd")} - ${planeCoef(d, "(9000 + ii)", "dd - 1")})"),
      "acc", "v", "acc + v")
    d.transform(d.seqIncl("0", "(s - 1)"), "ii", dist)
  }

  /** Per-row list of squared L2 distances to super `si`'s m child
    * centroids (midpoint of the super point and LCG rows 20000+si·m+jj)
    * — DuckDB twin of the kernel's childDistArr. */
  private def duckChildDists(emb: String, si: String): String = {
    val d = DuckSql
    val cS = planeCoef(d, s"(9000 + $si)", "dd - 1")
    val cD = planeCoef(d, s"(20000 + ($si) * m + jj)", "dd - 1")
    val dist = d.foldDbl(
      d.transform(d.seqIncl("1", "64"), "dd",
        s"(${d.elemAtDbl(emb, "dd")} - 0.5 * ($cS + $cD)) * " +
          s"(${d.elemAtDbl(emb, "dd")} - 0.5 * ($cS + $cD))"),
      "acc", "v", "acc + v")
    d.transform(d.seqIncl("0", "(m - 1)"), "jj", dist)
  }

  /** DuckDB CTE chain ending in `eb(vec_id, embedding, n2, cell)` —
    * the oracle twin of graft_ivf_cell_h over the adaptive knobs. */
  private def duckTwoLevelEbCte: String = {
    val d = DuckSql
    s"""$duckKnobsCte,
       |e0 AS (SELECT vec_id, embedding,
       |    ${d.dotDbl("embedding", "embedding")} AS n2, s, m
       |  FROM embeddings, knobs),
       |e1 AS (SELECT *, ${duckSuperDists("embedding")} AS sd FROM e0),
       |e2 AS (SELECT *, (CAST(list_position(sd, list_min(sd)) AS INT) - 1)
       |    AS si FROM e1),
       |e3 AS (SELECT *, ${duckChildDists("embedding", "si")} AS cd FROM e2),
       |eb AS (SELECT vec_id, embedding, n2,
       |    CAST(si * m + list_position(cd, list_min(cd)) AS INT) AS cell
       |  FROM e3)""".stripMargin
  }

  /** Embeddings with squared norm + LSH bucket for a caller-chosen plane
    * count — the parameterized entry point the AnnLshSpec scale test and
    * the LSH queries build on. Bucketing runs through the native
    * codegen'd `graft_lsh_bucket` (bit-identical to the SQL fold form the
    * DuckDB oracle evaluates — see graft.functions.LshBucketExpr). */
  def lshBucketed(s: SparkSession, d: String, nPlanes: Int): DataFrame = {
    Tables.embeddingsParallel(s, d)
      .select(col("vec_id"), col("embedding"), norm2("embedding"),
        graft.functions.lshBucket(col("embedding"), nPlanes).as("bucket"))
  }

  // ---- DENSITY-ADAPTIVE LSH (r08) --------------------------------------
  // The clustered-corpus stress (SCALE_r08_clustered_ann_30x.json)
  // measured the LSH KNOWN LIMIT: hyperplane buckets inherit the data's
  // density skew (hot bucket 2365 rows vs median 7 at 30×; candidate
  // pair mass 196× for 30× data — quadratic in the hot mass), and
  // salting only re-partitions the join, never shrinks the volume. The
  // fix is the same device that fixed the IVF quantizer on clustered
  // data: train sub-cells ON THE BUCKET'S OWN MEMBERS. Any bucket whose
  // occupancy exceeds `LshCellRows` is refined by a per-bucket Voronoi
  // quantizer whose seeds are every LshCellRows-th member (by vec_id
  // rank within the bucket — vec_id is uncorrelated with position in
  // embedding space, so seeds sample the bucket's density uniformly):
  // k = ⌈bn/cap⌉ seeds → expected sub-cell occupancy ≈ cap regardless
  // of how hot the bucket is, so candidate mass is ≈ N·cap — linear.
  // Routing is two-level within the bucket (⌈√k⌉ super seeds, then that
  // super's children, O(√k·d)/row) through the broadcast-codebook kernel
  // [[graft.functions.BucketedArgminBroadcast]]; cold buckets keep one
  // cell (-1). The cap is deliberately tiny so every fixture SF
  // exercises the split path under the DuckDB oracle; a production
  // corpus sets it to whatever pair count one reducer can chew (e.g.
  // 10k rows → 1e8 pairs), exactly like SaltBucketRows above.
  private[graft] val LshCellRows = 8

  /** Embeddings with (bucket, cell): the density-adaptive LSH frame.
    * Returns (vec_id, embedding, n2, bucket, cell) scratch-cached and
    * pre-partitioned on the refined key. Driver-side state is bounded
    * by the SEED count (≈ hot-mass/cap — the trained-codebook pattern
    * of [[trainedCells]]); past the SAME driver `budget` as the trained
    * family ([[MaxDriverSeeds]]) the build delegates to
    * [[lshRefinedDistFrom]], which holds only the per-bucket SUPER
    * seeds (Σ_b ⌈√k_b⌉) on the driver and keeps the child seeds as
    * DataFrame blocks met in a SHUFFLE_HASH join — identical frames
    * (LshDistSpec pins bit-equality; AnnClusteredStress forces the
    * switch at scale under a route + zero-diff gate). `cap`
    * is the recall/cost knob: candidate count per probe ≈ cap, so
    * recall rises with it while candidate mass stays N·cap — the
    * declared query pins the fixture-tiny default under the oracle,
    * and AnnClusteredStress measures the production-shaped point
    * (cap = 125, the IVF occupancy target) on the clustered corpus. */
  private[graft] def lshRefined(s: SparkSession, d: String,
      cap: Int = LshCellRows, budget: Long = MaxDriverSeeds): DataFrame = {
    val np = adaptivePlanes(corpusN(s, d))
    val e = ScratchCache.scratch(Tables.embeddingsParallel(s, d)
      .select(col("vec_id"), col("embedding"), norm2("embedding"),
        graft.functions.lshBucket(col("embedding"), np).as("bucket"),
        expr(s"${SparkSql.quantVec("embedding", 1000000L)} AS qv")))
    val hot = e.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap)
    // exact child-seed count before anything collects: every cap-th
    // member of each hot bucket ⇒ Σ_b ⌈bn_b/cap⌉ seeds
    val seedCount = hot
      .agg(coalesce(sum(expr(s"(bn + $cap - 1) DIV $cap")), lit(0L)))
      .head().getLong(0)
    if (seedCount > budget)
      return lshRefinedDistFrom(s, e, hot, cap)
    val w = Window.partitionBy("bucket").orderBy("vec_id")
    // seed rows: every cap-th member of each hot bucket, in vec_id rank
    // order — one window over the hot mass only, then a bounded collect
    val seedRows = e.join(broadcast(hot), Seq("bucket"))
      .withColumn("rn", row_number().over(w))
      .filter((col("rn") - 1) % cap === 0)
      .selectExpr("bucket", "vec_id", "qv")
      .orderBy("bucket", "vec_id").collect()
    // per bucket: children ascending by vec_id (the collect's ORDER
    // BY), then the shared rank book (functions.Codebook)
    val books: Map[Long, TwoLevelBook] =
      seedRows.groupBy(_.getLong(0)).map { case (bucket, rows) =>
        bucket -> Codebook.rankBook(
          (rows.map(_.getLong(1)), rows.map(_.getSeq[Long](2).toArray)))
      }
    val bc = s.sparkContext.broadcast(books)
    ScratchCache.scratch(
      e.select(col("vec_id"), col("embedding"), col("n2"), col("bucket"),
          lshCell(bc, col("bucket"), col("qv")).as("cell"))
        .repartition(col("bucket"), col("cell")))
  }

  /** DISTRIBUTED route of [[lshRefined]] — identical (bucket, cell)
    * frames with the per-bucket sub-codebooks kept OUT of the driver:
    * this was the last declared-query build whose driver state grew
    * with the corpus (seed collect ∝ hot-mass/cap). Driver state here
    * is the per-bucket SUPER seeds only (every ⌈√k_b⌉-th child seed
    * ⇒ Σ_b ⌈√k_b⌉ rows), broadcast as a bucket-keyed map
    * ([[graft.functions.BucketSuperArgminBroadcast]] routes each row
    * to its in-bucket nearest super map-side); the child seeds stay a
    * DataFrame grouped into (bucket, super) blocks that meet the
    * routed rows in ONE SHUFFLE_HASH join, where
    * [[graft.functions.ChildBlockArgmin]] finishes the second level —
    * the [[trainedCellsDistFrom]] device applied per bucket. Seed
    * SELECTION is replayed relationally with the broadcast route's
    * exact rules (rank-stride children, j % sb supers with
    * sb = min z: z² ≥ k capped at 256 — integer-adjusted so the
    * relational sqrt can never drift off the driver-side scan), and
    * the tie law is the shared one (ascending-id seed order +
    * strict-< first-minimum), so both routes are bit-identical:
    * LshDistSpec pins frame equality at the fixture and
    * AnnClusteredStress forces the switch at every stress scale under
    * a route + zero-diff gate. */
  private def lshRefinedDistFrom(s: SparkSession, e: DataFrame,
      hot: DataFrame, cap: Int): DataFrame = {
    val hotB = ScratchCache.scratch(hot.select("bucket"))
    val w = Window.partitionBy("bucket").orderBy("vec_id")
    val mem = e.join(hotB.hint("SHUFFLE_HASH"), Seq("bucket"))
      .withColumn("rn", row_number().over(w))
    val seeds = ScratchCache.scratch(
      mem.filter((col("rn") - 1) % cap === 0)
        .selectExpr("bucket", "vec_id AS cid", "qv AS cv",
          s"CAST((rn - 1) DIV $cap AS BIGINT) AS j"))
    // per-bucket super stride sb = min z: z² ≥ k (capped 256) — the
    // broadcast route's driver-side find(), integer-exact: FLOOR(SQRT)
    // can be off by one ulp either way, so both neighbors are checked
    val sbk = seeds.groupBy("bucket").agg(count(lit(1)).as("k"))
      .withColumn("z0",
        expr("CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT)"))
      .withColumn("sb", expr(
        "LEAST(CASE WHEN z0 > 1 AND (z0 - 1) * (z0 - 1) >= k THEN z0 - 1 " +
          "WHEN z0 * z0 >= k THEN z0 ELSE z0 + 1 END, 256L)"))
      .select("bucket", "sb")
    // the bounded collect: per-bucket supers, Σ_b ⌈√k_b⌉ rows
    val superRows = seeds.join(sbk.hint("SHUFFLE_HASH"), Seq("bucket"))
      .filter(col("j") % col("sb") === 0)
      .selectExpr("bucket", "cid", "cv")
      .orderBy("bucket", "cid").collect()
    val superMap: Map[Long, SeedBook] =
      superRows.groupBy(_.getLong(0)).map { case (b, rows) =>
        // ascending sid order — the collect's ORDER BY; the kernel's
        // strict-< scan then ties to the smallest id
        b -> (rows.map(_.getLong(1)), rows.map(_.getSeq[Long](2).toArray))
      }
    val bcS = s.sparkContext.broadcast(superMap)
    val blocks = ScratchCache.scratch(seedBlocks(seeds
      .select(col("bucket").as("bbucket"), col("cid"), col("cv"),
        lshSuper(bcS, col("bucket"), col("cv")).as("csuper")),
      Seq("bbucket", "csuper"), "cid", "cv", "block"))
    // INNER join is total over the hot mass: a super is its own nearest
    // super (supers ⊆ children of the same bucket), so every routed
    // (bucket, rsuper) has a non-empty block
    val hotCells = mem
      .select(col("vec_id"), col("embedding"), col("n2"), col("bucket"),
        col("qv"), lshSuper(bcS, col("bucket"), col("qv")).as("rsuper"))
      .join(blocks.hint("SHUFFLE_HASH"),
        col("bucket") === col("bbucket") && col("rsuper") === col("csuper"))
      .select(col("vec_id"), col("embedding"), col("n2"), col("bucket"),
        blockArgmin(col("qv"), col("block")).as("cell"))
    val cold = e.join(hotB.hint("SHUFFLE_HASH"), Seq("bucket"), "left_anti")
      .selectExpr("vec_id", "embedding", "n2", "bucket",
        "CAST(-1 AS BIGINT) AS cell")
    ScratchCache.scratch(hotCells.unionByName(cold)
      .repartition(col("bucket"), col("cell")))
  }

  /** DuckDB twin of [[lshRefined]] — ends in
    * `eb(vec_id, embedding, n2, bucket, cell)`. */
  private def duckLshRefinedEbCte: String = {
    val d = DuckSql
    val cap = LshCellRows
    s"""le AS (SELECT vec_id, embedding,
       |    ${d.dotDbl("embedding", "embedding")} AS n2,
       |    ${d.quantVec("embedding", 1000000L)} AS qv,
       |    CAST(${lshBucket(d, "embedding", duckPlanesExpr)} AS BIGINT) AS bucket
       |  FROM embeddings),
       |lhb AS (SELECT bucket FROM le GROUP BY bucket
       |  HAVING count(*) > $cap),
       |lmem AS (SELECT le.vec_id, le.qv, le.bucket,
       |    ROW_NUMBER() OVER (PARTITION BY le.bucket
       |      ORDER BY le.vec_id) AS rn
       |  FROM le JOIN lhb USING (bucket)),
       |lcs0 AS (SELECT bucket, vec_id AS cid, qv AS cv,
       |    ((rn - 1) // $cap) AS j
       |  FROM lmem WHERE (rn - 1) % $cap = 0),
       |lck0 AS (SELECT bucket, count(*) AS k FROM lcs0 GROUP BY bucket),
       |lck AS (SELECT bucket, k,
       |    COALESCE((SELECT min(z) FROM (SELECT unnest(range(1, 257)) AS z)
       |      tz WHERE z * z >= k), 256) AS sb
       |  FROM lck0),
       |lcs AS (SELECT lcs0.*, lck.sb FROM lcs0 JOIN lck USING (bucket)),
       |lss AS (SELECT bucket, cid AS sid, cv AS sv FROM lcs
       |  WHERE j % sb = 0),
       |lca AS (SELECT bucket, cid, cv, sid AS csuper FROM (
       |    SELECT c.bucket, c.cid, c.cv, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY c.bucket, c.cid
       |        ORDER BY ${d.dist2Big("c.cv", "s.sv")}, s.sid) AS rr
       |    FROM lcs c JOIN lss s USING (bucket)) WHERE rr = 1),
       |lra AS (SELECT vec_id, bucket, qv, sid AS rsuper FROM (
       |    SELECT m.vec_id, m.bucket, m.qv, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY m.vec_id
       |        ORDER BY ${d.dist2Big("m.qv", "s.sv")}, s.sid) AS rr
       |    FROM lmem m JOIN lss s USING (bucket)) WHERE rr = 1),
       |lrc AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT r.vec_id, a.cid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${d.dist2Big("r.qv", "a.cv")}, a.cid) AS rr
       |    FROM lra r JOIN lca a
       |      ON a.bucket = r.bucket AND a.csuper = r.rsuper) WHERE rr = 1),
       |eb AS (SELECT le.vec_id, le.embedding, le.n2, le.bucket,
       |    COALESCE(lrc.cell, -1) AS cell
       |  FROM le LEFT JOIN lrc USING (vec_id))""".stripMargin
  }

  private val NCells = 16

  /** Product-quantization geometry: 64 dims = 4 subspaces × 16 dims,
    * 16 codebook entries per subspace (codes fit one byte each). */
  private val PqSubSpaces = 4
  private val PqSubDims = 16
  private val PqCodes = 16

  /** MEASUREMENT-ONLY per-subspace code count (r10): ⌈N/125⌉ clamped
    * to [16, 256]. AnnClusteredStress uses it to measure what code
    * growth buys (ADC relative error, gated `pq_adaptive_worse`) on
    * bounded sample cells. It is deliberately NOT wired into the
    * declared query: the 10× stress measured k ∝ N under literal-scan
    * encoding as a 17.4× wall ratio (encode is O(N·k·d) — the
    * fixed-vs-growing-cardinality defect class, inverted), and the
    * production answer is CONSTANT k = 256 with a two-level routed
    * encode, the named next step in q_ann_ivfpq_trained's comment. */
  private[graft] def adaptivePqCodes(n: Long): Int =
    math.min(256L, math.max(16L, (n + 124) / 125)).toInt

  /** IVF coarse-quantizer cell: argmin over NCells deterministic
    * pseudo-random centroids of squared L2 distance. Centroid coords use
    * the same LCG as the LSH planes with a decorrelating index offset;
    * `list_position(dists, min)` gives a deterministic first-min
    * tie-break in both engines. */
  /** Per-row list of squared L2 distances to the cell centroids
    * (`nCellsExpr` cells — a literal for the fixed-codebook PQ family,
    * the corpus-adaptive expression for the IVF-flat queries). */
  private def ivfDists(d: Dialect, emb: String,
      nCellsExpr: String = NCells.toString): String = {
    val dist = d.foldDbl(
      d.transform(d.seqIncl("1", "64"), "dd",
        s"(${d.elemAtDbl(emb, "dd")} - ${planeCoef(d, "(7000 + jj)", "dd - 1")}) * " +
          s"(${d.elemAtDbl(emb, "dd")} - ${planeCoef(d, "(7000 + jj)", "dd - 1")})"),
      "acc", "v", "acc + v")
    d.transform(d.seqIncl("0", s"(($nCellsExpr) - 1)"), "jj", dist)
  }

  /** 1-based first-position argmin of a distance-list expression. */
  private def argminPos(d: Dialect, dists: String): String = d match {
    case graft.oracle.SparkSql =>
      s"array_position($dists, array_min($dists))"
    case _ =>
      s"list_position($dists, list_min($dists))"
  }

  private def ivfCell(d: Dialect, emb: String,
      nCellsExpr: String = NCells.toString): String =
    argminPos(d, ivfDists(d, emb, nCellsExpr))

  /** DuckDB norm-augmented embeddings CTE (squared norm once per row). */
  private def duckNormCte: String =
    s"""e AS (SELECT vec_id, embedding,
       |  ${DuckSql.dotDbl("embedding", "embedding")} AS n2 FROM embeddings)""".stripMargin

  private def duckCos(a: String, b: String): String =
    s"(${DuckSql.dotDbl(s"$a.embedding", s"$b.embedding")} / sqrt($a.n2 * $b.n2))"

  /** Shared oracle for q_ann_lsh and q_ann_lsh_salted: salting never
    * changes WHICH pairs meet (every corpus row lands in exactly one salt
    * shard and every query probes all shards), so both queries must
    * reproduce this same bucket join bit-for-bit. */
  private lazy val lshOracle: String = {
    val d = DuckSql
    duckCosineTopK(
      s"""eb AS (SELECT vec_id, embedding,
         |    ${d.dotDbl("embedding", "embedding")} AS n2,
         |    CAST(${lshBucket(d, "embedding", duckPlanesExpr)} AS BIGINT) AS bucket
         |  FROM embeddings)""".stripMargin,
      "eb", "eb", "query_id", Seq("bucket"), DuckNotSelf)
  }

  /** Query subset for the PQ queries (matches the ANN family). */
  private[graft] val PqQueries = 20

  /** Quantized-BIGINT vectors + IVF routing cell, scratch-cached: the
    * shared base frame of q_ann_pq / q_ann_ivfpq. The PQ family keeps
    * the FIXTURE-FIXED cell count (its oracles carry the 4×16×16
    * codebooks as literals, and byte-code ADC makes its per-candidate
    * cost ~100× cheaper than float dot products — the 30× stress
    * measured it at 1.7×); the corpus-adaptive cell count lives on the
    * IVF-FLAT queries above, whose candidate cost is the full vector. */
  private def pqQuantized(s: SparkSession, d: String): DataFrame = {
    ScratchCache.scratch(Tables.embeddingsParallel(s, d)
      .select(col("vec_id"),
        expr(s"${SparkSql.quantVec("embedding", 1000000L)} AS v"),
        graft.functions.ivfCell(col("embedding"), NCells).cast("int").as("cell"),
        ivfCell2(col("embedding"), NCells).cast("int").as("cell2")))
  }

  /** Per-subspace flat broadcast-argmin books over a codebook, for
    * the 16-code family's two hot call sites (train assignment +
    * encode): [[graft.functions.SuperArgminBroadcast]] is the
    * exact-integer (d2, ascending-id) first-min law in compiled form
    * (r12 measured the literal centroid expression it replaced at
    * ~1.7 ms/row on the 128-task encode stage), property-tested
    * against the naive mirror in ArgminKernelProps. */
  private def pqArgminBooks(s: SparkSession,
      book: Int => Seq[(Int, Seq[Long])]): IndexedSeq[Broadcast[SeedBook]] =
    (0 until PqSubSpaces).map { ss =>
      val sv = book(ss)
      s.sparkContext.broadcast(
        (sv.map(_._1.toLong).toArray, sv.map(_._2.toArray).toArray))
    }

  /** `slice(v, ...)` — subvector `ss` of the quantized vector. */
  private def pqSub(ss: Int): Column =
    slice(col("v"), ss * PqSubDims + 1, PqSubDims)

  /** `CAST(argmin(slice(v, ...)) AS INT)` — the argmin call for
    * subspace `ss` through a [[pqArgminBooks]] book. */
  private def pqArgmin(book: Broadcast[SeedBook], ss: Int): Column =
    superArgmin(book, pqSub(ss)).cast("int")

  /** Learn the per-subspace PQ codebooks: seeds = subvectors of
    * vec_id 0..PqCodes-1, then ONE Lloyd round — map-side assignment
    * through the seed books plus a single map-combinable (ss, cid, dim)
    * update bounded at 4×16×16 rows. The driver holds only the
    * codebook (the broadcast-variable pattern, as in q_kmeans). */
  private[graft] def pqLearnBook(v: DataFrame,
      nCodes: Int = PqCodes): Int => Seq[(Int, Seq[Long])] =
    pqLloyd(v, v, nCodes)

  /** [[pqLearnBook]]'s Lloyd round with the seeds read from `v` and the
    * round run over `train` — the whole corpus, or [[pq256Est]]'s
    * bounded sample. */
  private def pqLloyd(v: DataFrame, train: DataFrame,
      nCodes: Int): Int => Seq[(Int, Seq[Long])] = {
    val seedRows = v.filter(col("vec_id") < nCodes)
      .select("vec_id", "v").collect().sortBy(_.getLong(0))
    val seeds: Int => Seq[(Int, Seq[Long])] = ss => seedRows.toSeq.map { r =>
      (r.getLong(0).toInt,
        r.getSeq[Long](1).slice(ss * PqSubDims, (ss + 1) * PqSubDims))
    }
    val books = pqArgminBooks(v.sparkSession, seeds)
    val perSs = (0 until PqSubSpaces).map { ss =>
      train.select(pqArgmin(books(ss), ss).as("cid"), pqSub(ss).as("vs"))
        .select(lit(ss).as("ss"), col("cid"),
          posexplode(col("vs")).as(Seq("dim", "x")))
    }
    val c1 = perSs.reduce(_ unionByName _)
      .groupBy("ss", "cid", "dim")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .selectExpr("ss", "cid", "dim", "sx div n AS c")
      .collect()
    val m = c1.groupBy(_.getInt(0)).map { case (ss, rows) =>
      ss -> rows.groupBy(_.getInt(1)).map { case (cid, rs) =>
        cid -> rs.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq
      }.toSeq.sortBy(_._1)
    }
    m(_)
  }

  /** Byte-code encoding in long form (vec_id, cell, ss, code) — pure
    * map over the cached frame (4 argmin projections + a stack). */
  private[graft] def pqCodes(v: DataFrame,
      book: Int => Seq[(Int, Seq[Long])]): DataFrame = {
    val books = pqArgminBooks(v.sparkSession, book)
    val codeCols = (0 until PqSubSpaces)
      .map(ss => pqArgmin(books(ss), ss).as(s"code$ss"))
    val stackArgs = (0 until PqSubSpaces)
      .map(ss => s"$ss, code$ss").mkString(", ")
    v.select((col("vec_id") +: col("cell") +: codeCols): _*)
      .select(col("vec_id"), col("cell"),
        expr(s"stack($PqSubSpaces, $stackArgs)").as(Seq("ss", "code")))
  }

  /** Per-query ADC lookup table (query_id, ss, cid, qd2): |Q|×4×16
    * exact subvector→centroid distances, built to be broadcast. */
  private[graft] def pqQdist(s: SparkSession, v: DataFrame,
      book: Int => Seq[(Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    val bookDf = (0 until PqSubSpaces)
      .flatMap(ss => book(ss).map { case (cid, c) => (ss, cid, c) })
      .toDF("ss", "cid", "c")
    val qsub = (0 until PqSubSpaces).map { ss =>
      v.filter(col("vec_id") < PqQueries)
        .selectExpr("vec_id AS query_id", s"$ss AS ss",
          s"slice(v, ${ss * PqSubDims + 1}, $PqSubDims) AS qs")
    }.reduce(_ unionByName _)
    qsub.join(bookDf, "ss")
      .selectExpr("query_id", "ss", "cid",
        s"${SparkSql.dist2Big("qs", "c")} AS qd2")
  }

  /** Quantized RESIDUAL frame for the IVFADC variant: v := quantVec(x)
    * − quantVec(centroid(cell)), with the centroid being the same
    * deterministic planeCoef vector the coarse quantizer measures
    * against (cell is the 1-based argmin position → centroid index
    * cell−1), quantized with the identical floor(x·1e6+0.5) both
    * engines run — so residuals stay pure BIGINTs. */
  private def pqResidual(s: SparkSession, d: String): DataFrame = {
    val cq = SparkSql.transform(SparkSql.seqIncl("1", "64"), "dd",
      s"CAST(floor(${planeCoef(SparkSql, "(7000 + cell - 1)", "dd - 1")}" +
        " * 1000000.0 + 0.5) AS BIGINT)")
    ScratchCache.scratch(pqQuantized(s, d)
      .selectExpr("vec_id", "cell",
        s"${SparkSql.zipSubBig("v", cq)} AS v"))
  }

  /** Shared tail of the PQ oracle derivation — everything downstream of
    * the `v` vectors CTE (subvectors → seeds → one windowed-argmin
    * Lloyd round → codebook → codes → per-query lookup table), so the
    * raw-vector queries (q_ann_pq / q_ann_ivfpq) and the residual
    * variant (q_ann_ivfpq_res) share one relational text that mirrors
    * pqLearnBook/pqCodes/pqQdist bit-for-bit. */
  private lazy val pqOracleTail: String = pqOracleTailK(PqCodes.toString)

  private def pqOracleTailK(codesExpr: String): String = {
    val dl = DuckSql
    def d2(a: String, b: String) = dl.dist2Big(a, b)
    s"""sub AS (
       |  SELECT vec_id, ss,
       |    list_slice(v, ss * $PqSubDims + 1, (ss + 1) * $PqSubDims) AS vs
       |  FROM v, (SELECT unnest(generate_series(0, ${PqSubSpaces - 1})) AS ss) t),
       |seeds AS (
       |  SELECT ss, CAST(vec_id AS INT) AS cid, vs AS c
       |  FROM sub WHERE vec_id < ($codesExpr)),
       |a1 AS (
       |  SELECT vec_id, ss, cid, vs FROM (
       |    SELECT s.vec_id, s.ss, t.cid, s.vs,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.ss
       |        ORDER BY ${d2("s.vs", "t.c")}, t.cid) AS rn
       |    FROM sub s JOIN seeds t ON s.ss = t.ss) WHERE rn = 1),
       |c1 AS (
       |  SELECT ss, cid, list(c ORDER BY dim) AS c FROM (
       |    SELECT ss, cid, zz AS dim,
       |      CAST(sum(vs[zz]) // count(*) AS BIGINT) AS c
       |    FROM a1 CROSS JOIN generate_series(1, $PqSubDims) t(zz)
       |    GROUP BY ss, cid, zz)
       |  GROUP BY ss, cid),
       |codes AS (
       |  SELECT vec_id, ss, cid AS code FROM (
       |    SELECT s.vec_id, s.ss, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.ss
       |        ORDER BY ${d2("s.vs", "c.c")}, c.cid) AS rn
       |    FROM sub s JOIN c1 c ON s.ss = c.ss) WHERE rn = 1),
       |qd AS (
       |  SELECT s.vec_id AS query_id, s.ss, c.cid,
       |    CAST(${d2("s.vs", "c.c")} AS BIGINT) AS qd2
       |  FROM sub s JOIN c1 c ON s.ss = c.ss WHERE s.vec_id < $PqQueries)""".stripMargin
  }

  private lazy val pqOracleCtes: String =
    s"""$duckQuantV,
       |$pqOracleTail""".stripMargin

  /** The PRODUCTION-SHAPED PQ geometry (r10): k = 256 codes per
    * subspace — one byte, the FAISS ceiling — made affordable at every
    * corpus size by bounding BOTH sides that the adaptive-codes
    * experiment measured as quadratic:
    *  - TRAINING assigns against the 256 seed literals over a strided
    *    SAMPLE of ≤ [[PqTrainCap]] rows (FAISS trains on a bounded
    *    sample for the same reason), so the Lloyd round is O(cap·k);
    *  - ENCODING routes all N rows through a TWO-LEVEL broadcast book
    *    over the learned sub-centroids (⌈√k⌉ supers then one child
    *    block — [[graft.functions.TwoLevelArgminBroadcast]], the
    *    trainedCells device applied per subspace), O(2√k·d_sub)/row
    *    instead of the flat O(k·d_sub).
    * At the fixtures the stride is 1 (sample = corpus), so the oracle
    * is the same relational text evaluated exactly. */
  private val PqCodes256 = 256
  private val PqTrainCap = 32768L

  /** Oracle tail of the 256-code path — seeds/one-Lloyd-round/codes/qd
    * like [[pqOracleTailK]], with the sample-bounded training (pst
    * stride) and the TWO-LEVEL encode chain (psb/pss/pca/pra — the
    * same rank-strided-supers + two-window routing every trained
    * two-level oracle in this file evaluates, per subspace). */
  private lazy val pqOracleTail256: String = {
    val dl = DuckSql
    def d2(a: String, b: String) = dl.dist2Big(a, b)
    s"""sub AS (
       |  SELECT vec_id, ss,
       |    list_slice(v, ss * $PqSubDims + 1, (ss + 1) * $PqSubDims) AS vs
       |  FROM v, (SELECT unnest(generate_series(0, ${PqSubSpaces - 1})) AS ss) t),
       |pst AS (SELECT GREATEST(1, ((SELECT count(*) FROM embeddings)
       |    + ${PqTrainCap - 1}) // $PqTrainCap) AS st),
       |seeds AS (
       |  SELECT ss, CAST(vec_id AS INT) AS cid, vs AS c
       |  FROM sub WHERE vec_id < $PqCodes256),
       |a1 AS (
       |  SELECT vec_id, ss, cid, vs FROM (
       |    SELECT s.vec_id, s.ss, t.cid, s.vs,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.ss
       |        ORDER BY ${d2("s.vs", "t.c")}, t.cid) AS rn
       |    FROM sub s CROSS JOIN pst JOIN seeds t ON s.ss = t.ss
       |    WHERE s.vec_id % pst.st = 0) WHERE rn = 1),
       |c1 AS MATERIALIZED (
       |  SELECT ss, cid, list(c ORDER BY dim) AS c FROM (
       |    SELECT ss, cid, zz AS dim,
       |      CAST(sum(vs[zz]) // count(*) AS BIGINT) AS c
       |    FROM a1 CROSS JOIN generate_series(1, $PqSubDims) t(zz)
       |    GROUP BY ss, cid, zz)
       |  GROUP BY ss, cid),
       |psb AS (SELECT ss, COALESCE((SELECT min(z) FROM
       |    (SELECT unnest(range(1, 257)) AS z) tz
       |    WHERE z * z >= k), 256) AS sb
       |  FROM (SELECT ss, count(*) AS k FROM c1 GROUP BY ss) pk),
       |pss AS MATERIALIZED (SELECT pj.ss, cid AS sid, c AS sv FROM (
       |    SELECT ss, cid, c,
       |      ROW_NUMBER() OVER (PARTITION BY ss ORDER BY cid) - 1 AS j
       |    FROM c1) pj JOIN psb ON psb.ss = pj.ss WHERE j % sb = 0),
       |pca AS MATERIALIZED (SELECT ss, cid, c, csuper FROM (
       |    SELECT k.ss, k.cid, k.c, s.sid AS csuper,
       |      ROW_NUMBER() OVER (PARTITION BY k.ss, k.cid
       |        ORDER BY ${d2("k.c", "s.sv")}, s.sid) AS rn
       |    FROM c1 k JOIN pss s ON s.ss = k.ss) WHERE rn = 1),
       |pra AS (SELECT vec_id, ss, vs, rsuper FROM (
       |    SELECT x.vec_id, x.ss, x.vs, s.sid AS rsuper,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.ss
       |        ORDER BY ${d2("x.vs", "s.sv")}, s.sid) AS rn
       |    FROM sub x JOIN pss s ON s.ss = x.ss) WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id, ss, cid AS code FROM (
       |    SELECT r.vec_id, r.ss, a.cid,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.ss
       |        ORDER BY ${d2("r.vs", "a.c")}, a.cid) AS rn
       |    FROM pra r JOIN pca a ON a.ss = r.ss AND a.csuper = r.rsuper)
       |  WHERE rn = 1),
       |qd AS (
       |  SELECT s.vec_id AS query_id, s.ss, c.cid,
       |    CAST(${d2("s.vs", "c.c")} AS BIGINT) AS qd2
       |  FROM sub s JOIN c1 c ON s.ss = c.ss WHERE s.vec_id < $PqQueries)""".stripMargin
  }

  /** Residual-variant oracle prefix: cells first (MATERIALIZED — the
    * 16-centroid fold per row is referenced by the residual build AND
    * both est joins; DuckDB would inline it per reference), then
    * residual vectors, then the shared PQ tail. */
  private lazy val pqResOracleCtes: String = {
    val d = DuckSql
    val cq = d.transform(d.seqIncl("1", "64"), "dd",
      s"CAST(floor(${planeCoef(d, "(7000 + t.cell - 1)", "dd - 1")}" +
        " * 1000000.0 + 0.5) AS BIGINT)")
    s"""cellt0 AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST(${argminPos(d, ivfDists(d, "embedding"))} AS INT) AS cell
       |  FROM embeddings),
       |v AS (
       |  SELECT e.vec_id,
       |    ${d.zipSubBig(d.quantVec("embedding", 1000000L), cq)} AS v
       |  FROM embeddings e JOIN cellt0 t ON e.vec_id = t.vec_id),
       |$pqOracleTail""".stripMargin
  }

  /** The 256-code bounded-sample PQ ESTIMATOR over a (vec_id, v, cell)
    * frame — the body shared by q_ann_ivfpq_trained256 (raw quantized
    * vectors) and q_ann_ivfpq_res256 (residuals wrt the trained coarse
    * seed), and measured head-to-head in AnnClusteredStress. Returns
    * (query_id, vec_id, est_d2) for the PqQueries sampled queries;
    * [[estTopK]] adds the declared queries' top-K window. */
  /** Optional multi-probe query side: (query_id, qcell) one row per
    * probed cell — [[pq256Est]]'s default is the home-cell frame
    * (nprobe=1); q_ann_ivfpq_adaptive passes the margin-law probe
    * set. Candidate rows still carry ONE home cell each, and a
    * query's probe cells are distinct by construction, so the est
    * join stays (query, candidate)-unique at any nprobe. */
  private[graft] def pq256Est(s: SparkSession, v0: DataFrame,
      qprobes: Option[DataFrame] = None): DataFrame = {
    val v = ScratchCache.scratch(v0)
    val n = v.count()
    val st = math.max(1L, (n + PqTrainCap - 1) / PqTrainCap)
    // ONE Lloyd round of the 256 seeds on the bounded sample, through
    // the flat broadcast-argmin kernel (SuperArgminBroadcast, the
    // oracle's a1 ROW_NUMBER law) — a 256-entry literal expression was
    // a ~40 KB Catalyst tree per subspace whose compile alone dominated
    // the fixture wall (measured 12.7 s vs 3.1 s in DuckDB)
    val book = pqLloyd(v, v.filter(expr(s"vec_id % $st = 0")), PqCodes256)
    // TWO-LEVEL routed encode: one rank book per subspace, the shared
    // construction of every trained codebook (functions.Codebook)
    val books = (0 until PqSubSpaces).map { ss =>
      s.sparkContext.broadcast(Codebook.rankBook(
        (book(ss).map(_._1.toLong).toArray, book(ss).map(_._2.toArray).toArray)))
    }
    val codeCols = (0 until PqSubSpaces).map(ss =>
      trainedCell(books(ss), pqSub(ss)).cast("int").as(s"code$ss"))
    val stackArgs = (0 until PqSubSpaces)
      .map(ss => s"$ss, code$ss").mkString(", ")
    val codes = v.select((col("vec_id") +: col("cell") +: codeCols): _*)
      .select(col("vec_id"), col("cell"),
        expr(s"stack($PqSubSpaces, $stackArgs)").as(Seq("ss", "code")))
    adcEst(codes, pqQdist(s, v, book),
      Some(qprobes.getOrElse(homeCells(v))))
  }

  /** SQ8 same-cell estimator over a (vec_id, v, cell) frame: per-dim
    * corpus (min, max) train the codec (64 bounded rows → driver,
    * embedded as array literals — the broadcast-scalar pattern), each
    * candidate decodes inline to recon_d = mn + (code·(mx−mn)) div 255
    * with code = (255·(x−mn)) div (mx−mn), and est_d2 is the exact
    * integer d2 of the query's TRUE vector against the reconstruction.
    * Operands are nonnegative by construction so `div` floors
    * identically in both engines. Returns (query_id, vec_id, est_d2)
    * for the PqQueries sampled queries. */
  private[graft] def sq8EstFrom(s: SparkSession, v: DataFrame): DataFrame = {
    val stats = v.selectExpr("posexplode(v) AS (dim, x)")
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().sortBy(_.getInt(0))
    val mnA = stats.map(_.getLong(1)).mkString("array(", "L,", "L)")
    val mxA = stats.map(_.getLong(2)).mkString("array(", "L,", "L)")
    def mn = s"element_at($mnA, dd)"
    def mx = s"element_at($mxA, dd)"
    val recon = s"transform(sequence(1, 64), dd -> " +
      s"$mn + ((CASE WHEN $mx = $mn THEN 0L " +
      s"ELSE (255 * (element_at(v, dd) - $mn)) div ($mx - $mn) END) " +
      s"* ($mx - $mn)) div 255)"
    val cand = v.selectExpr("vec_id", "cell", s"$recon AS rv")
    val q = v.filter(col("vec_id") < PqQueries)
      .selectExpr("vec_id AS query_id", "cell AS qcell", "v AS qv")
    cand.join(broadcast(q), col("cell") === col("qcell") &&
        col("query_id") =!= col("vec_id"))
      .selectExpr("query_id", "vec_id",
        s"${SparkSql.dist2Big("qv", "rv")} AS est_d2")
  }

  private[graft] def sq8Est(s: SparkSession, d: String): DataFrame =
    sq8EstFrom(s, quantized(trainedCells(s, d)))

  /** (vec_id, v, cell): a book's cell frame with each row's
    * 1e-6-quantized vector, scratch-cached — the input of every
    * PQ/SQ8 estimator over a trained book. */
  private[graft] def quantized(cells: DataFrame): DataFrame =
    ScratchCache.scratch(cells.selectExpr("vec_id",
      s"${SparkSql.quantVec("embedding", 1000000L)} AS v", "cell"))

  /** A (vec_id, v, cell) frame with each `v` replaced by its residual
    * wrt its cell's integer MEAN (per-dim sum div count) — the input
    * of q_ann_ivfpq_res256's estimator. */
  private[graft] def cellResiduals(v: DataFrame): DataFrame = {
    val cents = v.selectExpr("cell", "posexplode(v) AS (dim, x)")
      .groupBy("cell", "dim")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .selectExpr("cell", "dim", "sx div n AS c")
      .groupBy("cell")
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), " +
        "p -> p.c)").as("cv"))
    v.join(cents.hint("SHUFFLE_HASH"), Seq("cell"))
      .selectExpr("vec_id", "zip_with(v, cv, (a, b) -> a - b) AS v", "cell")
  }

  /** DuckDB twin of [[sq8EstFrom]] over the trained cells — ends in
    * `est(query_id, vec_id, est_d2)` with `v(vec_id, v)` in scope, the
    * exact prefix shape [[duckPqRerankSql]] consumes. */
  private lazy val duckSq8EstCtes: String = {
    val d = DuckSql
    s"""$duckTrainedEbCte,
       |$duckQuantV,
       |sqst AS MATERIALIZED (
       |  SELECT t.dd, min(vv.v[t.dd]) AS mn, max(vv.v[t.dd]) AS mx
       |  FROM v vv CROSS JOIN generate_series(1, 64) t(dd)
       |  GROUP BY t.dd),
       |sqr AS (
       |  SELECT vv.vec_id,
       |    list(s.mn + ((CASE WHEN s.mx = s.mn THEN 0
       |      ELSE (255 * (vv.v[t.dd] - s.mn)) // (s.mx - s.mn) END)
       |      * (s.mx - s.mn)) // 255 ORDER BY t.dd) AS rv
       |  FROM v vv CROSS JOIN generate_series(1, 64) t(dd)
       |  JOIN sqst s ON s.dd = t.dd
       |  GROUP BY vv.vec_id),
       |est AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    ${d.dist2Big("q.v", "c.rv")} AS est_d2
       |  FROM v q
       |  JOIN eb eq ON eq.vec_id = q.vec_id
       |  JOIN eb ec ON ec.cell = eq.cell
       |  JOIN sqr c ON c.vec_id = ec.vec_id
       |  WHERE q.vec_id < $PqQueries AND c.vec_id <> q.vec_id)""".stripMargin
  }

  /** Exact re-rank tail shared by q_ann_ivfpq_rerank and
    * q_ann_ivfpq_adaptive: per-query top-[[RerankR]] ADC shortlist →
    * exact integer d2 over the full quantized vectors (two join-backs
    * into `v`; the shortlist is |Q|·R rows so AQE broadcasts it) →
    * final top-K by the exact distance. O(|Q|·R·d) past the ADC scan —
    * corpus-size-free. */
  private[graft] def pqRerankTopK(v: DataFrame, est: DataFrame): DataFrame = {
    val ws = Window.partitionBy("query_id")
      .orderBy(col("est_d2").asc, col("vec_id").asc)
    val short = est.withColumn("sr", row_number().over(ws))
      .filter(col("sr") <= RerankR)
      .select("query_id", "vec_id")
    val exact = short
      .join(v.selectExpr("vec_id", "v AS cv"), "vec_id")
      .join(v.selectExpr("vec_id AS query_id", "v AS qv"), "query_id")
      .selectExpr("query_id", "vec_id",
        s"${SparkSql.dist2Big("qv", "cv")} AS d2")
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("vec_id").asc)
    exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .selectExpr("query_id", "vec_id AS neighbor_id", "d2", "rn")
      .orderBy("query_id", "rn")
  }

  /** DuckDB twin of [[pqRerankTopK]] — appended after a WITH-prefix
    * whose last CTE is `est(query_id, vec_id, est_d2)` over quantized
    * vectors `v(vec_id, v)`. */
  private def duckPqRerankSql(prefix: String): String =
    s"""WITH $prefix,
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY est_d2, vec_id) AS sr
       |    FROM est) WHERE sr <= $RerankR)
       |SELECT query_id, neighbor_id, d2, rn FROM (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |    ${DuckSql.dist2Big("qv.v", "cv.v")} AS d2,
       |    ROW_NUMBER() OVER (PARTITION BY s.query_id
       |      ORDER BY ${DuckSql.dist2Big("qv.v", "cv.v")}, s.vec_id) AS rn
       |  FROM short s
       |  JOIN v cv ON cv.vec_id = s.vec_id
       |  JOIN v qv ON qv.vec_id = s.query_id
       |) WHERE rn <= $TopK
       |ORDER BY query_id, rn""".stripMargin

  /** Tail (c), the ADC estimate: candidate `codes` (vec_id, cell, ss,
    * code) ⋈ the broadcast lookup table `qdist` (query_id, ss, cid, qd2)
    * → Σ qd2 per (query, candidate), self excluded → (query_id, vec_id,
    * est_d2). With `qcells` (query_id, qcell) each query scores only the
    * candidates in its probed cells (IVF-PQ); without, every candidate
    * (flat PQ). A query's probe cells are distinct and a candidate has
    * one home cell, so the join stays (query, candidate)-unique. */
  private[graft] def adcEst(codes: DataFrame, qdist: DataFrame,
      qcells: Option[DataFrame]): DataFrame = {
    val lut = qcells.fold(qdist)(qdist.join(_, "query_id"))
    val sameCode = codes("ss") === lut("ss") && codes("code") === lut("cid")
    val on =
      if (qcells.isEmpty) sameCode
      else sameCode && codes("cell") === lut("qcell")
    codes.join(broadcast(lut), on)
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd2").as("est_d2"))
  }

  /** Each sampled query's home cell — nprobe = 1 for [[adcEst]]. */
  private[graft] def homeCells(v: DataFrame): DataFrame =
    v.filter(col("vec_id") < PqQueries)
      .selectExpr("vec_id AS query_id", "cell AS qcell")

  /** The 16-code PQ estimate over a (vec_id, v, cell) frame: codebook
    * learned on `v` ([[pqLearnBook]]), codes, then [[adcEst]]. */
  private def pqEst(s: SparkSession, v: DataFrame,
      qcells: Option[DataFrame]): DataFrame = {
    val book = pqLearnBook(v)
    adcEst(pqCodes(v, book), pqQdist(s, v, book), qcells)
  }

  /** Tail (c), the est-top-K: per-query top-K by (est_d2, vec_id). */
  private[graft] def estTopK(est: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("est_d2").asc, col("vec_id").asc)
    est.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .selectExpr("query_id", "vec_id AS neighbor_id", "est_d2", "rn")
      .orderBy("query_id", "rn")
  }

  /** DuckDB twin of [[adcEst]]: the `est(query_id, vec_id, est_d2)` CTE
    * over `codes` and `qd`; `cellJoin` is empty for the flat scan, else
    * a [[duckCellJoin]] restriction. */
  private def duckAdcEst(cellJoin: String): String =
    s"""est AS (
       |  SELECT q.query_id, k.vec_id, CAST(sum(q.qd2) AS BIGINT) AS est_d2
       |  FROM codes k
       |  JOIN qd q ON q.ss = k.ss AND q.cid = k.code$cellJoin
       |  WHERE q.query_id <> k.vec_id
       |  GROUP BY q.query_id, k.vec_id)""".stripMargin

  /** [[duckAdcEst]]'s cell restriction: candidate cells from `cells`
    * (vec_id, cell), each query's probed cells from `qcells` (query_id,
    * qcell). */
  private def duckCellJoin(cells: String, qcells: String): String =
    s"""
       |  JOIN $cells ck ON ck.vec_id = k.vec_id
       |  JOIN $qcells p ON p.query_id = q.query_id AND p.qcell = ck.cell""".stripMargin

  /** [[duckCellJoin]] with each query probing its home cell. */
  private def duckHomeCellJoin(cells: String): String =
    duckCellJoin(cells, s"(SELECT vec_id AS query_id, cell AS qcell FROM $cells)")

  /** DuckDB twin of [[estTopK]] after a CTE list ending in `est`. */
  private def duckEstTopK(ctes: String): String =
    s"""WITH $ctes
       |SELECT query_id, neighbor_id, est_d2, rn FROM (
       |  SELECT query_id, vec_id AS neighbor_id, est_d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY est_d2, vec_id) AS rn
       |  FROM est) WHERE rn <= $TopK
       |ORDER BY query_id, rn""".stripMargin

  /** Quantized vectors `v(vec_id, v)` — the input of every PQ oracle. */
  private val duckQuantV: String =
    s"""v AS (
       |  SELECT vec_id, ${DuckSql.quantVec("embedding", 1000000L)} AS v
       |  FROM embeddings)""".stripMargin

  /** Oracle CTEs of [[pq256Est]] on raw quantized vectors, nprobe = 1:
    * `book` ends in the cell CTE `cells(vec_id, …, cell)`, the list
    * ends in `est`. */
  private def duckPq256EstCtes(book: String, cells: String): String =
    s"""$book,
       |$duckQuantV,
       |$pqOracleTail256,
       |${duckAdcEst(duckHomeCellJoin(cells))}""".stripMargin

  /** [[nearDupPairs]] of the three-probe trained book — shared by
    * q_dedup_embedding_probe3 and q_dedup_semantic_mp. */
  private def probe3Pairs(s: SparkSession, d: String): DataFrame = {
    val e = trainedCells(s, d, probe2 = true, probe3 = true)
    nearDupPairs(probeUnion(e, "vec_id_a", "ea", "na2", useCell3 = true), e)
  }

  private def duckProbe3PairCtes: String =
    s"""$duckTrainedEb3Cte,
       |dprobes AS (
       |  ${duckProbes("eb3", useCell3 = true)})""".stripMargin

  /** [[nearDupPairs]] of the adaptive margin-law book — shared by
    * q_dedup_embedding_adaptive and q_dedup_semantic_adaptive. */
  private def adaptivePairs(s: SparkSession, d: String): DataFrame = {
    val e = trainedAdaptiveCells(s, d, AdaptNSupers, AdaptMaxProbes,
      AdaptEpsNum, AdaptEpsDen, interleave = true)
    nearDupPairs(e.selectExpr("vec_id AS vec_id_a", "embedding AS ea",
      "n2 AS na2", "explode(probes) AS cell"), e)
  }

  val defs: Map[String, QueryDef] = Map(
    // Brute-force cosine near-duplicate pairs.
    "q_dedup_embedding" -> QueryDef(
      (s, d) => {
        val e = guardBrute(Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("embedding"), norm2("embedding")),
          "q_dedup_embedding")
        val a = e.selectExpr("vec_id AS vec_id_a", "embedding AS ea", "n2 AS na2")
        val b = e.selectExpr("vec_id AS vec_id_b", "embedding AS eb", "n2 AS nb2")
        a.crossJoin(b)
          .filter(col("vec_id_a") < col("vec_id_b"))
          .select(col("vec_id_a"), col("vec_id_b"),
            cosine("ea", "eb", "na2", "nb2"))
          .filter(col("cosine") >= NearDupThreshold)
          .orderBy("vec_id_a", "vec_id_b")
      },
      s"""WITH $duckNormCte
         |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  ${duckCos("a", "b")} AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${duckCos("a", "b")} >= $NearDupThreshold
         |ORDER BY vec_id_a, vec_id_b""".stripMargin),

    // Bucketed near-dup pairs — the scale path for q_dedup_embedding's
    // declared-weak all-pairs crossJoin. Multi-probe hyperplane LSH:
    // candidate pairs are those whose plane-sign buckets differ in AT MOST
    // ONE bit (a near-dup pair that straddles a single hyperplane is still
    // found; brute force remains the recall oracle). Probe-side rows emit
    // their bucket plus its NPlanes single-bit flips, the corpus side
    // keeps its exact bucket, so a qualifying pair matches EXACTLY ONE
    // probe row — disjoint candidates, no dedup shuffle (the SimHash
    // trick). Corpus never broadcasts; the join is a (NPlanes+1)-fold
    // replicated equi-join on bucket — linear in the BUCKET OCCUPANCY,
    // which on a density-skewed corpus is itself unbounded (measured:
    // hot bucket 2365 vs median 7 on the 30× clustered stress). When
    // that bites, [[lshRefined]]'s member-seeded sub-cells are the
    // occupancy safety-valve (q_ann_lsh_adaptive), at a measured
    // recall trade — see SCALE_r08_clustered_ann*.json.
    "q_dedup_embedding_lsh" -> QueryDef(
      (s, d) => {
        val np = adaptivePlanes(corpusN(s, d))
        val e = ScratchCache.scratch(lshBucketed(s, d, np))
        val flips = (0 until np)
          .map(p => s"CAST(${graft.oracle.SparkSql.xorB("bucket", (1L << p).toString)} AS BIGINT)")
          .mkString(", ")
        val probes = e.selectExpr("vec_id AS vec_id_a", "embedding AS ea",
            "n2 AS na2", s"explode(array(bucket, $flips)) AS bucket")
        val corpus = e.selectExpr("vec_id AS vec_id_b", "embedding AS eb",
          "n2 AS nb2", "bucket")
        probes.join(corpus, Seq("bucket"))
          .filter(col("vec_id_a") < col("vec_id_b"))
          .select(col("vec_id_a"), col("vec_id_b"),
            cosine("ea", "eb", "na2", "nb2"))
          .filter(col("cosine") >= NearDupThreshold)
          .orderBy("vec_id_a", "vec_id_b")
      }, {
        val d = DuckSql
        s"""WITH eb AS (SELECT vec_id, embedding,
           |    ${d.dotDbl("embedding", "embedding")} AS n2,
           |    CAST(${lshBucket(d, "embedding", duckPlanesExpr)} AS BIGINT) AS bucket
           |  FROM embeddings)
           |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           |  ${duckCos("a", "b")} AS cosine
           |FROM eb a JOIN eb b ON a.vec_id < b.vec_id
           |  AND bit_count(${d.xorB("a.bucket", "b.bucket")}) <= 1
           |WHERE ${duckCos("a", "b")} >= $NearDupThreshold
           |ORDER BY vec_id_a, vec_id_b""".stripMargin
      }),

    // MULTI-PROBE near-dup blocking on the TRAINED cells — the r08
    // stress's honest bad news was that EVERY bounded blocker's
    // retention collapses on a 100× clustered corpus (best 5.7% of true
    // cosine≥0.4 pairs: truth grows quadratically in cluster mass while
    // a bounded blocker spends ~constant candidates/row), and the
    // standard lift is multi-probe candidate generation: each row
    // probes its home cell AND the best child of its second-nearest
    // super (exactly the cross-super boundary where single-probe
    // blocking loses pairs). Only the PROBE side fans out (≤2×
    // candidate mass — the corpus keeps one row per vector); a pair
    // survives when EITHER endpoint probes the other's home cell, so
    // the raw join is canonicalized (least/greatest) and deduped — one
    // extra pair-keyed exchange over the single-probe shape. Retention
    // vs mass is measured beside the single-probe blockers in
    // AnnClusteredStress (the multi_probe rows + retention floor).
    "q_dedup_embedding_probe2" -> QueryDef(
      (s, d) => {
        val e = trainedCells(s, d, probe2 = true)
        nearDupPairs(probeUnion(e, "vec_id_a", "ea", "na2",
            useCell3 = false), e)
          .distinct().orderBy("vec_id_a", "vec_id_b")
      },
      s"""WITH $duckTrainedEb2Cte,
         |dprobes AS (
         |  ${duckProbes("eb2", useCell3 = false)})
         |${duckNearDupPairs("dprobes", "eb2")}
         |ORDER BY vec_id_a, vec_id_b""".stripMargin),

    // THREE-probe near-dup blocking: probe2's cross-super probe PLUS
    // the home super's second-best child (cell3) — the INTRA-super
    // boundary, the other seam a single-probe pair can be lost across.
    // Probe mass ≤3× the single-probe join; both degenerate fallbacks
    // (cell2 = cell, cell3 = cell) are filtered, and the three probe
    // cells are pairwise distinct otherwise (cell2 lives in a different
    // super's block; cell3 is a different child of the home block), so
    // the union stays duplicate-free before the pair-level dedup.
    "q_dedup_embedding_probe3" -> QueryDef(
      (s, d) => probe3Pairs(s, d).distinct().orderBy("vec_id_a", "vec_id_b"),
      s"""WITH $duckProbe3PairCtes
         |${duckNearDupPairs("dprobes", "eb3")}
         |ORDER BY vec_id_a, vec_id_b""".stripMargin),

    // ADAPTIVE multi-probe near-dup blocking — the TARGET-RETENTION
    // KNOB (r09 verdict item 3): instead of a fixed probe set, each
    // row probes the child cells of its 3 nearest supers within an
    // integer distance margin of its nearest alternative, interleaved
    // one-per-super and capped at maxProbes = THE stated mass budget
    // (graft.functions.TwoLevelProbesBroadcast). Knob defaults are
    // CHOSEN from the r10 measured frontier on the 100×
    // clustered corpus: retention 0.210 at 4.04× single-probe mass vs
    // probe3's 0.151 at 2.64× (AnnClusteredStress gates the adaptive
    // row at a raised 0.15 floor, and gates removal recall — the
    // actual dedup decision metric — at 0.95; measured 1.000). The
    // frontier itself (~0.05 retention per 1× mass; removal recall
    // saturated everywhere) is the honest statement of what bounded
    // per-row blocking can buy on a corpus whose truth set grows
    // quadratically in cluster mass.
    "q_dedup_embedding_adaptive" -> QueryDef(
      (s, d) => adaptivePairs(s, d).distinct()
        .orderBy("vec_id_a", "vec_id_b"),
      s"""WITH $duckAdaptiveProbesCte
         |${duckNearDupPairs("aprobes", "eb")}
         |ORDER BY vec_id_a, vec_id_b""".stripMargin),

    // The SemDeDup REMOVAL DECISION riding the adaptive knob — the
    // engine's recommended semantic-dedup pass when retention (not
    // just removal) matters: same output contract as q_dedup_semantic
    // / q_dedup_semantic_mp, pair generation from the knob-ridden
    // adaptive probes above. Both routes are now scale-safe: the
    // adaptive builder takes the same driver-budget size switch as
    // trainedCells (delegating to its dist route — probe
    // arrays bit-identical, AdaptiveDistSpec + the stress switch
    // gate), so this query's codebook state is bounded at any N.
    "q_dedup_semantic_adaptive" -> QueryDef(
      (s, d) => removals(adaptivePairs(s, d)),
      duckRemovals(duckAdaptiveProbesCte, "aprobes", "eb")),

    // SemDeDup REMOVAL DECISION on the multi-probe trained blocking —
    // the engine's recommended semantic-dedup pass for clustered
    // corpora. Same output contract as q_dedup_semantic (each removed
    // vec_id with its kept lowest-id duplicate + dup count), but the
    // candidate block is the 3-probe trained-cell set instead of a
    // single k-means cluster: measured on the 100× clustered corpus
    // this retains 0.151 of true cosine≥0.4 pairs vs the k-means
    // blocker's 0.025 — a 6× better dedup pass at comparable
    // per-row candidate mass (AnnClusteredStress, retention floor
    // gated). Pair generation is q_dedup_embedding_probe3's; the
    // removal rollup adds one pair-keyed aggregate.
    "q_dedup_semantic_mp" -> QueryDef(
      (s, d) => removals(probe3Pairs(s, d)),
      duckRemovals(duckProbe3PairCtes, "dprobes", "eb3")),

    // Exact brute-force top-k: query side broadcast, corpus scanned once.
    "q_ann_cosine" -> QueryDef(
      (s, d) => {
        val e = guardBrute(Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("embedding"), norm2("embedding")),
          "q_ann_cosine")
        val q = e.filter(col("vec_id") < 20)
          .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2")
        val c = e.selectExpr("vec_id AS neighbor_id", "embedding AS ce", "n2 AS cn2")
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        c.crossJoin(broadcast(q))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine("qe", "ce", "qn2", "cn2"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= TopK)
          .orderBy("query_id", "rn")
      },
      s"""WITH $duckNormCte
         |SELECT query_id, neighbor_id, cosine, rn FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${duckCos("q", "c")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckCos("q", "c")} DESC, c.vec_id) AS rn
         |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20
         |) WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin),

    // LSH-bucketed ANN: join only within hyperplane-sign buckets. The
    // bucketed frame is scratch-persisted so the self-join's two branches
    // don't each recompute norms + buckets over the corpus.
    "q_ann_lsh" -> QueryDef(
      (s, d) => {
        val e = ScratchCache.scratch(lshBucketed(s, d, adaptivePlanes(corpusN(s, d))))
        cosineTopK(asProbes(e, "query_id", "bucket"), asCorpus(e, "bucket"),
          "query_id", Seq("bucket"), Seq("bucket"))
      }, lshOracle),

    // Salted LSH ANN: same semantics as q_ann_lsh (same oracle — salting
    // is a pure re-partitioning of the bucket join), but a bucket with
    // more than SaltBucketRows corpus rows is split into ceil(n/cap) salt
    // shards: corpus rows hash to ONE shard, query rows probe ALL shards
    // of their bucket. A hot bucket (skewed hyperplane region — at 100 TB
    // some region of embedding space is always over-dense) therefore
    // becomes ceil(n/cap) bounded reducers instead of one giant one. The
    // per-bucket count frame is 2^NPlanes rows → broadcast.
    "q_ann_lsh_salted" -> QueryDef(
      (s, d) => {
        val e = ScratchCache.scratch(lshBucketed(s, d, adaptivePlanes(corpusN(s, d))))
        val counts = e.groupBy("bucket").agg(count(lit(1)).as("bn"))
        val sized = e.join(broadcast(counts), Seq("bucket"))
          .withColumn("nsalt",
            greatest(lit(1L), ceil(col("bn") / lit(SaltBucketRows))).cast("int"))
        val c = asCorpus(sized, "bucket",
          "CAST(pmod(xxhash64(vec_id), nsalt) AS INT) AS salt")
        val q = asProbes(sized, "query_id", "bucket", "nsalt")
          .withColumn("salt", explode(sequence(lit(0), col("nsalt") - 1)))
        cosineTopK(q, c, "query_id", Seq("bucket", "salt"), Seq("bucket"))
      }, lshOracle),

    // Density-adaptive LSH ANN — the clustered-corpus LSH path. Plain
    // hyperplane buckets inherit the corpus's density skew (measured:
    // hot bucket 2365 vs median 7 on the 30× clustered stress, pair
    // mass 196× for 30× data) and salting can only re-partition that
    // volume. Here every bucket past the occupancy cap is refined by a
    // per-bucket Voronoi quantizer trained on its OWN members (strided
    // seeds — the trained-IVF device applied inside the bucket), so
    // sub-cell occupancy ≈ cap wherever density piles up and candidate
    // mass stays ≈ N·cap — linear at any skew. The join key is
    // (bucket, cell); cold buckets keep one cell. Recall trade is
    // measured beside occupancy in AnnClusteredStress.
    "q_ann_lsh_adaptive" -> QueryDef(
      (s, d) => {
        val e = lshRefined(s, d)
        val keys = Seq("bucket", "cell")
        cosineTopK(asProbes(e, "query_id", keys: _*), asCorpus(e, keys: _*),
          "query_id", keys, keys)
      },
      duckCosineTopK(duckLshRefinedEbCte, "eb", "eb", "query_id",
        Seq("bucket", "cell"), DuckNotSelf)),

    // Incremental ANN: a batch of ARRIVING vectors (vec_id % 10 = 0, the
    // next ingest micro-batch) probes the EXISTING corpus's IVF cells
    // for neighbors — never arrival×arrival or corpus×corpus. At 100 TB
    // the corpus is write-time partitioned by cell (cells are stable:
    // deterministic centroids), so each batch reads only the cells its
    // vectors quantize to; per-batch cost ∝ batch size, not corpus size
    // — the vector twin of q_dedup_incremental.
    "q_ann_incremental" -> QueryDef(
      (s, d) => servedIngestProbe(hashCells(s, d)),
      duckCosineTopK(duckTwoLevelEbCte, "eb", "eb", "arrival_id",
        Seq("cell"), DuckArrivals)),

    // Incremental ANN on the TRAINED codebook — the ingest story for
    // the clustered-corpus path. The codebook is trained on the
    // EXISTING corpus only (seedWhere excludes arrivals: a served
    // index's cells must not shift when a batch lands — FAISS adds to
    // a trained index, it doesn't retrain per batch); arrivals route
    // through the same broadcast codebook and probe only their home
    // cell's existing rows. Per-batch cost ∝ batch size; the corpus is
    // write-time partitioned by cell at 100 TB exactly as q_ann_ivf's
    // serving note describes (IvfWriteSpec proves the pruning).
    "q_ann_incremental_trained" -> QueryDef(
      (s, d) => servedIngestProbe(
        trainedCells(s, d, seedWhere = "vec_id % 10 <> 0")),
      duckIncrementalTrainedSql),

    // The facade INGEST arms (r12): adding a batch follows the same
    // route law as building — annIngest reuses the per-book
    // incremental bodies (trainedCells' seedWhere mode /
    // trainedCellsL3Inc) and the SHARED servedIngestProbe, so at
    // fixture scale the default arm IS q_ann_incremental_trained
    // through the facade (identical oracle) and the forced-cap arm IS
    // q_ann_incremental_l3 (the q_ann_index_auto_l3 device applied to
    // serving). AnnClusteredStress gates the forced route under
    // ann_auto_ingest_*.
    "q_ann_ingest_auto" -> QueryDef(
      (s, d) => annIngest(s, d),
      duckIncrementalTrainedSql),
    "q_ann_ingest_auto_l3" -> QueryDef(
      (s, d) => annIngest(s, d, cap = 1L),
      duckIncrementalL3Sql),

    // STREAMING ANN ingest on the served trained index — the
    // production write path of the clustered-corpus family, now under
    // the oracle as one declared query instead of only a spec
    // (TrainedWriteSpec proves the pruning mechanics; this proves the
    // composed micro-batch SEMANTICS, [[servedStreamProbe]]). Cells are
    // stable — the codebook trains on existing rows only,
    // q_ann_incremental_trained's seedWhere contract — and the appended
    // union EQUALS the one-shot batch query: SAME oracle as
    // q_ann_incremental_trained.
    "q_stream_ann_ingest" -> QueryDef(
      (s, d) => servedStreamProbe(s, d, "stream_ann",
        trainedCells(s, d, seedWhere = "vec_id % 10 <> 0")),
      duckIncrementalTrainedSql),

    // DELETES on the served ANN index (r10, the r09 verdict's item 5):
    // q_stream_ann_ingest proved append; a dedup pipeline REMOVES rows,
    // so this composes the served index with the KeyedTable device —
    // the index lives as a versioned keyed table (key-sorted immutable
    // files + manifest, vec_id key), a delete batch lands through
    // mergeDelta with an anti-join mergeFn (REWRITES ONLY THE FILES
    // whose key range the batch touches — O(delta·fanout), same
    // contract as q_delta_merge), and the manifest-aware compact()
    // coalesces the survivors. The PROBE of the post-delete version
    // must EQUAL the probe of a corpus the deleted rows were never
    // inserted into — the codebook stays the one trained at serve time
    // (FAISS's remove_ids contract: deletion drops rows, it does not
    // retrain), which is exactly what the oracle computes: full-corpus
    // codebook, search restricted to surviving rows. AnnDeleteSpec
    // additionally pins the file-pruning evidence and version history.
    "q_ann_delete" -> QueryDef(
      (s, d) => servedDeleteProbe(s,
        s"${graft.ProcScratch.base}/ann_delete/${new java.io.File(d).getName}",
        trainedCells(s, d)),
      duckDeleteTrainedSql),

    // The facade DELETE arms (r12): removing a batch follows the same
    // route law as building — annDelete = annIndex (the routed book)
    // + the SHARED servedDeleteProbe (KeyedTable, anti-join
    // mergeDelta, compact, post-delete probe). Default arm ≡
    // q_ann_delete through the facade (identical oracle); forced-cap
    // arm ≡ q_ann_delete_l3. Stress rows under ann_auto_delete_*.
    "q_ann_delete_auto" -> QueryDef(
      (s, d) => annDelete(s, d,
        s"${graft.ProcScratch.base}/ann_delete_auto/" +
          new java.io.File(d).getName),
      duckDeleteTrainedSql),
    "q_ann_delete_auto_l3" -> QueryDef(
      (s, d) => annDelete(s, d,
        s"${graft.ProcScratch.base}/ann_delete_auto_l3/" +
          new java.io.File(d).getName, cap = 1L),
      duckDeleteL3Sql),

    // IVF-flat ANN: coarse-quantize into Voronoi cells, then search
    // only within the query's cell. The other linear-scale path next to
    // hyperplane LSH: at 100 TB the corpus is write-time partitioned by
    // cell, so a query touches one partition (plus neighbor cells for
    // recall, not modeled here). r07: assignment routes through the
    // TWO-LEVEL quantizer (s supers → m children, O(√c·d)/row), which
    // is what affords a cell count ∝ corpus (constant occupancy) — the
    // r06 flat argmin forced c ∝ √N and an O(N^1.5) floor, measured
    // 60.7× at 100×.
    "q_ann_ivf" -> QueryDef(
      // native two-level argmin kernel (bit-identical to the SQL CTE
      // chain), scratch-cached so the self-join doesn't assign cells twice
      (s, d) => homeCellSearch(hashCells(s, d)),
      duckCosineTopK(duckTwoLevelEbCte, "eb", "eb", "query_id", Seq("cell"),
        DuckNotSelf)),

    // TRAINED (data-seeded) IVF — the density-adaptive answer to the
    // clustered stress finding (SCALE_r08_clustered_ann.json:
    // hash-seeded cells ran max/median 15× with recall halved on a
    // 16-cluster density-skewed corpus at 10×; a mass-balanced
    // projection grid fixed occupancy but collapsed recall to 0.02 —
    // thin slabs are not neighborhoods). Cells are Voronoi around
    // STRIDED CORPUS VECTORS ([[trainedCells]] — FAISS's train-on-a-
    // sample recipe made deterministic): dense regions hold
    // proportionally many seeds, so occupancy tracks 1/density and the
    // within-cell pair mass stays ~linear in N on any profile, while
    // cells remain true neighborhoods (recall holds — measured in the
    // same artifact). Search shape is identical to q_ann_ivf (one
    // hash-partitioned self-join on cell + per-query top-3); at 100 TB
    // the corpus is write-time partitioned by cell exactly as the
    // q_ann_ivf family documents, and the index build adds two bounded
    // collects (the budget-bounded codebook) + one broadcast.
    "q_ann_ivf_trained" -> QueryDef(
      (s, d) => homeCellSearch(trainedCells(s, d)),
      duckTrainedAnnSql),

    // The DISTRIBUTED-codebook build of the same index — identical cell
    // assignment under the IDENTICAL oracle (the equality is the
    // point), with the codebook kept out of the driver: only the ⌈√c⌉
    // super seeds are collected/broadcast, child seeds flow as a
    // DataFrame into per-super blocks met through a SHUFFLE_HASH join
    // ([[trainedCells]] at `budget = 0`, its size switch forced).
    // This is the build path once c = N/125
    // outgrows a single JVM (~40 GB of seeds at 10¹⁰ rows) — the r08
    // codebook-growth ceiling, closed by construction instead of a
    // Scaladoc promise. Search shape after the build is q_ann_ivf_trained's.
    "q_ann_ivf_trained_dist" -> QueryDef(
      (s, d) => homeCellSearch(trainedCells(s, d, budget = 0)),
      duckTrainedAnnSql),

    // ADAPTIVE-nprobe ANN SEARCH — the target-retention knob
    // ([[trainedAdaptiveCells]], r10's dedup-side margin law) applied
    // to the top-k SEARCH surface, closing the family's last fixed-
    // probe gap: q_dedup_embedding_adaptive spends probes where pairs
    // are lost, this query spends the same probes where neighbors are
    // lost. Each query probes the child cells of its 3 nearest supers
    // within the integer margin d2·den ≤ hd2·num (interior queries
    // spend ONE probe, boundary queries up to the maxProbes cap), then
    // exact-rescores candidates met in the hash-partitioned cell join —
    // FAISS's adaptive-nprobe recipe with a STATED per-query mass
    // budget instead of a corpus-blind fixed nprobe. On the
    // decorrelated 100× clustered corpus the fixed chain measures
    // 0.067/0.067/0.122 (probe1/2/3, SCALE_r12_clustered_ann_100x);
    // the adaptive row beside them (`trained_recall3_adaptive`)
    // measures what the margin law buys at the 4.3×-single mass point.
    // Candidate keys stay (cell) — write-time partitioning and the
    // scale story are q_ann_ivf_trained's; the probe array is bounded
    // by maxProbes at ANY corpus size and the build takes the same
    // driver-budget dist switch as every trained builder.
    "q_ann_ivf_trained_adaptive" -> QueryDef(
      (s, d) => {
        val e = trainedAdaptiveCells(s, d, AdaptNSupers, AdaptMaxProbes,
          AdaptEpsNum, AdaptEpsDen, interleave = true)
        cellSearch(asProbes(e, "query_id", "explode(probes) AS cell"), e)
      },
      duckCosineTopK(duckAdaptiveProbesCte, "aprobes", "eb", "query_id",
        Seq("cell"), DuckNotSelf)),

    // The ANN FACADE (r11): one entry point, book picked by the cell
    // law ([[annBook]] — two-level while ⌈N/125⌉ fits the 2^24 cap,
    // three-level past it), probe columns normalized so callers never
    // know which book routed. At every fixture SF the law picks the
    // two-level book, so this query IS q_ann_ivf_trained through the
    // facade under the identical oracle; the forced-L3 arm is gated by
    // the _l3 twin below and by AnnClusteredStress's ann_auto rows.
    "q_ann_index_auto" -> QueryDef(
      (s, d) => homeCellSearch(annIndex(s, d)),
      duckTrainedAnnSql),

    // The facade's L3 arm under the oracle: the explicit cell-cap
    // argument forces the route the law takes past 2.1×10⁹ rows
    // (no shared-conf mutation — ADVICE r11), and the search must
    // match the three-level hierarchical-argmin oracle — the same
    // search text as q_ann_ivf_trained, re-based on the book the
    // facade actually routed to. Proves the crossover is safe at
    // fixture scale END TO END (facade → L3 build → search → oracle),
    // not just route-asserted.
    "q_ann_index_auto_l3" -> QueryDef(
      (s, d) => homeCellSearch(annIndex(s, d, cap = 1L)),
      duckTrainedL3AnnSql),

    // The THREE-LEVEL trained quantizer — the routing law past the
    // two-level family's 2^24-cell cap (constant occupancy dies at
    // 2.1×10⁹ rows there; a 100 TB corpus is ~10¹¹). Rows descend
    // grand → super → cell (O(3·c^(1/3)·d)/row); the driver holds only
    // the ≈ c^(1/3) grand seeds (≤ 4096 at c = 2^36, ~2 MB), supers
    // and children stay DataFrame blocks met through SHUFFLE_HASH
    // joins ([[trainedCellsL3]]). A DIFFERENT quantizer than the
    // two-level one (coarser routing loses some boundary assignments),
    // so it carries its own hierarchical-argmin oracle rather than
    // reusing duckTrainedAnnSql; search shape after the build is
    // q_ann_ivf_trained's.
    "q_ann_ivf_trained_l3" -> QueryDef(
      (s, d) => homeCellSearch(trainedCellsL3(s, d)),
      duckTrainedL3AnnSql),

    // The three-level route's nprobe=2 knob: each query also probes
    // the beam's best leaf in a DIFFERENT cell — the boundary-adjacent
    // cell the 2×2 descent already scanned, so the knob costs no extra
    // routing work, only the probe-side fan-out (same contract as
    // q_ann_ivf_trained_probe2). This is the recall compensation for
    // the coarser three-level assignment, measured beside it in
    // AnnClusteredStress (`l3_recall3_probe2` vs the two-level probe1,
    // gated by `l3_recall_below_share`).
    "q_ann_ivf_trained_l3_probe2" -> QueryDef(
      (s, d) => {
        val e = trainedCellsL3(s, d, probe2 = true)
        cellSearch(probeUnion(e, "query_id", "qe", "qn2", useCell3 = false), e)
      },
      duckProbeSearch(duckTrainedL3P2Cte, "ebl3p", useCell3 = false)),

    // The ADAPTIVE-nprobe knob on the THREE-LEVEL book (r12) — the
    // margin law of q_ann_ivf_trained_adaptive applied where the L3
    // structure already paid for it: the beamed descent scans ≤ 2·beam
    // leaf candidates per row, and the adaptive probe set is exactly
    // the leaves within the integer margin of the nearest alternative
    // (capped at the shared AdaptMaxProbes budget) — so unlike the
    // two-level kernel this knob costs ZERO extra routing distance
    // evaluations, only the probe-side fan-out. Both books now expose
    // the same adaptive surface: interior rows one probe, boundary
    // rows up to the cap, recall measured beside the fixed chain at
    // every clustered scale (`l3_recall3_adaptive`, gated ≥ the L3
    // probe1 by the home-cell superset invariant).
    "q_ann_ivf_trained_l3_adaptive" -> QueryDef(
      (s, d) => {
        val e = trainedCellsL3(s, d, adaptive = true)
        cellSearch(asProbes(e, "query_id", "explode(probes) AS cell"), e)
      },
      duckCosineTopK(duckTrainedL3AdpCte, "l3aprobes", "ebl3", "query_id",
        Seq("cell"), DuckNotSelf)),

    // L3 SERVED-INDEX PARITY (r11): the 10⁹+-row regime the L3 book
    // exists for gets the same serving surface the two-level book has.
    // Incremental first — the codebook trains on the EXISTING corpus
    // only ([[trainedCellsL3Inc]]: LCG-mixed child seeds + rank-strided
    // supers/grands, the filtered-training rule one level deeper);
    // arrivals route through the frozen book and probe only existing
    // rows. Per-batch cost ∝ batch size, identical serving contract to
    // q_ann_incremental_trained.
    "q_ann_incremental_l3" -> QueryDef(
      (s, d) => servedIngestProbe(
        trainedCellsL3Inc(s, d, "vec_id % 10 <> 0")),
      duckIncrementalL3Sql),

    // STREAMING ingest on the served L3 index — q_stream_ann_ingest's
    // body ([[servedStreamProbe]]) with the THREE-level book
    // underneath: same oracle as q_ann_incremental_l3.
    "q_stream_ann_ingest_l3" -> QueryDef(
      (s, d) => servedStreamProbe(s, d, "stream_ann_l3",
        trainedCellsL3Inc(s, d, "vec_id % 10 <> 0")),
      duckIncrementalL3Sql),

    // DELETES on the served L3 index — q_ann_delete's contract
    // (versioned KeyedTable, anti-join mergeDelta, manifest-aware
    // compact; post-delete probe ≡ probe of a never-inserted corpus,
    // the FAISS remove_ids semantics) with the three-level book: the
    // full-corpus codebook stays frozen (deletion drops rows, it does
    // not retrain), so the oracle computes the full-corpus L3 cells
    // with the search restricted to survivors.
    "q_ann_delete_l3" -> QueryDef(
      (s, d) => servedDeleteProbe(s,
        s"${graft.ProcScratch.base}/ann_delete_l3/" +
          new java.io.File(d).getName,
        trainedCellsL3(s, d)),
      duckDeleteL3Sql),

    // Trained IVF with nprobe=2 — the recall knob on the CLUSTERED-corpus
    // path: each query probes its home trained cell AND the best child of
    // its second-nearest super seed (the boundary where parent-routing
    // loses neighbors). Only the query side fans out ×2; the corpus keeps
    // one row per vector in its home cell, so the index never duplicates
    // and a (query, neighbor) pair can't repeat (cell2 lives in a
    // different super's child block). Same shape as q_ann_ivf_probe2,
    // with the data-seeded codebook instead of the hash one.
    "q_ann_ivf_trained_probe2" -> QueryDef(
      (s, d) => {
        val e = trainedCells(s, d, probe2 = true)
        // cell2 = cell happens only on the kernel's degenerate fallbacks
        // (single-super codebook / duplicate-super empty block — never
        // at fixture knobs); dropping that branch row keeps the probe
        // fan-out pair-disjoint instead of duplicating every
        // (query, neighbor) pair through the rn<=3 window
        cellSearch(probeUnion(e, "query_id", "qe", "qn2", useCell3 = false), e)
      },
      duckProbeSearch(duckTrainedEb2Cte, "eb2", useCell3 = false)),

    // Trained IVF with nprobe=3 — both boundary probes at once: the
    // second-nearest super's best child (cell2, cross-super seam) AND
    // the home super's second-best child (cell3, intra-super seam).
    // The three probe cells are pairwise distinct when no fallback
    // fires (cell2 lives in another super's block; cell3 is a
    // different child of the home block), and a corpus row's home cell
    // matches at most ONE probe row per query — so the fan-out stays
    // pair-disjoint with no dedup shuffle; fallback rows are filtered
    // like the probe2 query. Recall ordering probe3 ≥ probe2 ≥ probe1
    // is measured in AnnClusteredStress on the clustered corpus.
    "q_ann_ivf_trained_probe3" -> QueryDef(
      (s, d) => trainedProbe3Search(
        trainedCells(s, d, probe2 = true, probe3 = true)),
      duckTrainedProbe3Sql),

    // The nprobe=3 search through the DISTRIBUTED codebook build — the
    // route the size switch takes past the driver-seed budget, under
    // the IDENTICAL oracle as q_ann_ivf_trained_probe3 (the dist
    // build's probe columns are bit-identical to the broadcast
    // build's; TrainedDistSpec pins that claim on the fixture, this
    // query keeps the full probe-parity path oracle-gated tri-SF so a
    // tie-law drift in SuperArgmin2Broadcast/ChildBlockArgmin2 cannot
    // ride a green default gate).
    "q_ann_ivf_trained_probe3_dist" -> QueryDef(
      (s, d) => trainedProbe3Search(
        trainedCells(s, d, probe2 = true, probe3 = true, budget = 0)),
      duckTrainedProbe3Sql),

    // IVF with nprobe=2 — the canonical recall knob: each query probes
    // its nearest cell AND the best child of its SECOND-nearest super
    // (under two-level routing the recall that parent-flips lose sits
    // exactly across the super boundary, so that is where the second
    // probe goes). Only the QUERY side fans out (x2 rows through the
    // banded join); the corpus keeps one row per vector in its home
    // cell — at 100 TB the index never duplicates, recall/cost scales
    // with nprobe, and a (query, neighbor) pair can't appear twice
    // because cell2 lives in a different super's id block than cell1.
    "q_ann_ivf_probe2" -> QueryDef(
      (s, d) => {
        // native two-level kernels (graft_ivf_cell_h2 masks the nearest
        // super and rescans — bit-identical to the oracle's +inf-mask
        // CTE chain, one codegen'd call instead of a HOF pile)
        val e = hashCells(s, d, probe2 = true)
        val probes = asProbes(e, "query_id", "cell")
          .unionAll(asProbes(e, "query_id", "cell2 AS cell"))
        cellSearch(probes, e)
      }, {
        val d = DuckSql
        duckCosineTopK(s"""$duckKnobsCte,
           |e0 AS (SELECT vec_id, embedding,
           |    ${d.dotDbl("embedding", "embedding")} AS n2, s, m
           |  FROM embeddings, knobs),
           |e1 AS (SELECT *, ${duckSuperDists("embedding")} AS sd FROM e0),
           |e2 AS (SELECT *, (CAST(list_position(sd, list_min(sd)) AS INT) - 1)
           |    AS si FROM e1),
           |e2b AS (SELECT *, list_transform(generate_series(1, s),
           |    ii -> CASE WHEN ii = si + 1 THEN CAST('infinity' AS DOUBLE)
           |          ELSE sd[ii] END) AS sd2 FROM e2),
           |e2c AS (SELECT *, (CAST(list_position(sd2, list_min(sd2)) AS INT) - 1)
           |    AS si2 FROM e2b),
           |e3 AS (SELECT *, ${duckChildDists("embedding", "si")} AS cd,
           |    ${duckChildDists("embedding", "si2")} AS cd2 FROM e2c),
           |v3 AS (SELECT vec_id, embedding, n2,
           |    CAST(si * m + list_position(cd, list_min(cd)) AS INT) AS cell,
           |    CAST(si2 * m + list_position(cd2, list_min(cd2)) AS INT) AS cell2
           |  FROM e3),
           |probes AS (
           |  SELECT vec_id, embedding, n2, cell FROM v3
           |  UNION ALL
           |  SELECT vec_id, embedding, n2, cell2 AS cell FROM v3
           |)""".stripMargin,
          "probes", "v3", "query_id", Seq("cell"), DuckNotSelf)
      }),

    // PRODUCT QUANTIZATION ANN (the compression half of IVF-PQ; Jégou
    // et al., TPAMI'11): the 64-dim vector splits into 4 subvectors of
    // 16 dims; each subspace learns a 16-entry codebook (one Lloyd
    // round from deterministic seeds = the subvectors of vec_id 0..15,
    // via pqLearnBook's broadcast pattern); every corpus vector is
    // stored as 4 one-byte codes (16× compression of the quantized
    // vector); query-time distance is ASYMMETRIC DISTANCE COMPUTATION —
    // per query, a 4×16 lookup table of exact query-subvector→centroid
    // distances, and each corpus vector's estimate is the sum of 4
    // table lookups, never a full-dimension scan of the corpus floats.
    //
    // Scale shape: learning is map-side assignment + one 1024-row
    // combinable update (see pqLearnBook); encoding is pure map; the
    // ADC join broadcasts the per-query lookup table and shuffles only
    // (query, vec, partial-sum) triples with map-side combine.
    // q_ann_ivfpq below composes this with IVF cell routing, which is
    // what bounds the candidate set at production scale.
    //
    // Exactness: subvectors ride Dialect.quantVec's 1e-6 BIGINT
    // quantization, distances are exact integer squared-L2, centroid
    // components are integer-floor means, and argmin ties break to the
    // smallest code in both engines (first-position min / ROW_NUMBER
    // on (d2, cid)) — so codes, lookup tables, and estimates are
    // bit-identical. The oracle derives the SAME codebook relationally
    // (windowed-argmin CTEs, shared text in pqOracleCtes).
    "q_ann_pq" -> QueryDef(
      (s, d) => estTopK(pqEst(s, pqQuantized(s, d), None)),
      duckEstTopK(s"$pqOracleCtes,\n${duckAdcEst("")}")),

    // IVF-PQ — the COMPOSED production ANN index (Jégou et al.'s full
    // recipe, the FAISS IVFPQ shape): the IVF coarse quantizer routes
    // each query to its cell (the same deterministic graft_ivf_cell the
    // q_ann_ivf family uses — at scale, cells are the write-time
    // partition key, so candidate listing prunes at the FILE level,
    // IvfWriteSpec), and only the cell's candidates are scored — with
    // PQ asymmetric-distance lookups instead of full-dimension float
    // scans. Routing bounds WHICH vectors are touched; PQ bounds the
    // BYTES per touched vector: together, query cost ∝
    // (corpus/cells) × 4 byte-code lookups.
    //
    // Mechanics: the ADC broadcast join gains the cell equality (the
    // lookup table carries each query's cell, built map-side from the
    // same cached frame), so the shuffle carries only same-cell
    // (query, vec) partial sums. Cells with no candidates for a query
    // simply emit fewer than TopK rows — characterized, not padded.
    "q_ann_ivfpq" -> QueryDef(
      (s, d) => {
        val v = pqQuantized(s, d)
        estTopK(pqEst(s, v, Some(homeCells(v))))
      },
      duckEstTopK(
        s"""$pqOracleCtes,
           |cellt AS (
           |  SELECT vec_id,
           |    CAST(${argminPos(DuckSql, ivfDists(DuckSql, "embedding"))} AS INT) AS cell
           |  FROM embeddings),
           |${duckAdcEst(duckHomeCellJoin("cellt"))}""".stripMargin)),

    // IVF-PQ on the TRAINED coarse quantizer — the composition FAISS
    // actually ships for clustered corpora (train nlist cells on the
    // data, then PQ-encode within them): q_ann_ivfpq's hash cells
    // measured COLLAPSING on density skew (recall 0.087 at 100×
    // clustered for the flat-hash family) while the trained cells hold
    // 0.947 — this query routes the byte-code ADC scoring through
    // those trained cells, so candidate LISTING inherits the
    // density-tracking occupancy (measured in
    // SCALE_r09_clustered_ann*.json) and scoring stays 4 byte-code
    // lookups per candidate. Cell count is corpus-adaptive here
    // (unlike the fixture-fixed hash-PQ family: its oracle carries
    // centroid literals; this oracle derives the trained cells
    // relationally, so adaptivity costs nothing). At 100 TB the corpus
    // is write-time partitioned by trained cell (TrainedWriteSpec) and
    // a query reads its cell's files + 4×16 lookup rows.
    "q_ann_ivfpq_trained" -> QueryDef(
      (s, d) => {
        val v = quantized(trainedCells(s, d))
        // PQ code count stays CONSTANT here — r10 tried the nlist law
        // (k = ⌈N/125⌉ clamped 256) and the 10× stress measured the
        // consequence immediately: literal-scan encoding is O(N·k·d),
        // so k ∝ N made the wall ratio 17.4× vs the 15 linear bound —
        // the same fixed-vs-growing-cardinality defect class as the
        // r06 flat-IVF assignment, just inverted. Production PQ (FAISS)
        // fixes k at 256 (one byte) and spends corpus growth on the
        // TRAINING data, not the code count; what more codes buy is
        // measured in AnnClusteredStress (pq_adc_relerr: 0.399 → 0.266
        // at 10× clustered for k 16 → 160, on bounded sample cells
        // where the encode stays cheap). Affordable k=256 at every
        // scale = q_ann_ivfpq_trained256 below: bounded-sample
        // training + two-level routed encode, LANDED in r10 (ratios
        // 1.26/1.56 at 10x/100x, SCALE_r10_pq256*.json).
        estTopK(pqEst(s, v, Some(homeCells(v))))
      },
      duckEstTopK(
        s"""$duckTrainedEbCte,
           |$duckQuantV,
           |$pqOracleTail,
           |${duckAdcEst(duckHomeCellJoin("eb"))}""".stripMargin)),

    // The PRODUCTION-SHAPED IVF-PQ (r10): trained coarse cells + k=256
    // codes per subspace (one byte — the FAISS ceiling), CONSTANT-COST
    // at every corpus size where the adaptive-codes experiment
    // measured quadratic (SCALE r10: 17.4× wall at 10× under k ∝ N):
    // training assigns 256 seed literals over a ≤32768-row strided
    // SAMPLE (O(cap·k), the FAISS bounded-sample rule), and encoding
    // routes all rows through a TWO-LEVEL broadcast book over the
    // learned sub-centroids (⌈√k⌉ supers → one child block, the
    // trainedCells device per subspace, O(2√k·d_sub)/row). Search is
    // q_ann_ivfpq_trained's ADC shape: same-cell candidates, 4
    // byte-code lookups each, broadcast lookup table.
    "q_ann_ivfpq_trained256" -> QueryDef(
      (s, d) => estTopK(pq256Est(s, quantized(trainedCells(s, d)))),
      duckEstTopK(duckPq256EstCtes(duckTrainedEbCte, "eb"))),

    // RESIDUAL encoding on the TRAINED-256 book (r11) — the FAISS
    // production shape complete: IndexIVFPQ quantizes r = x −
    // centroid(cell(x)) over the TRAINED coarse quantizer at k=256
    // (Jégou et al. TPAMI'11 §IV; q_ann_ivfpq_res proved residuals on
    // the fixture-fixed hash book, q_ann_ivfpq_trained256 proved the
    // bounded-sample 256-code encode — this composes them). The
    // centroid is the cell's integer MEAN (per-dim sum div count, one
    // bounded groupBy over the N×64 exploded frame) — NOT the cell's
    // seed vector: a seed is itself a noisy member, and residuals wrt
    // a data point carry ~2× the within-cell variance of residuals
    // wrt the mean (measured: seed-residual 0.212 vs mean-residual
    // 0.210 vs raw 0.189 at 1× clustered). The residual frame stays
    // pure BIGINTs; within a cell r_q − r_x = q − x for ANY fixed
    // per-cell centroid, so the ADC estimate targets the same true
    // distance as the non-residual path and the two are directly
    // comparable. The HONEST measurement (AnnClusteredStress,
    // pq_res256_note): on constant-occupancy-125 trained cells the
    // residual does NOT cut ADC error — the coarse quantizer already
    // extracts the cluster structure, leaving a near-isotropic
    // residual that 256 codes cover worse than the low-entropy raw
    // sub-vectors; FAISS's residual win assumes COARSE cells. The
    // query ships as the production SHAPE (oracle-exact at every SF)
    // with the stress gating a 1.25× regression bound, not a
    // residual-wins claim. Estimator, sample-bounded Lloyd round,
    // two-level routed encode, and broadcast lookup are byte-shared
    // ([[pq256Est]]).
    "q_ann_ivfpq_res256" -> QueryDef(
      (s, d) =>
        estTopK(pq256Est(s, cellResiduals(quantized(trainedCells(s, d))))),
      duckEstTopK(s"""$duckTrainedEbCte,
         |qvv AS (SELECT vec_id, cell,
         |    ${DuckSql.quantVec("embedding", 1000000L)} AS qv
         |  FROM eb),
         |cm AS MATERIALIZED (SELECT cell, list(c ORDER BY dd) AS cv FROM (
         |    SELECT cell, dd, CAST(sum(qv[dd]) // count(*) AS BIGINT) AS c
         |    FROM qvv CROSS JOIN generate_series(1, 64) t(dd)
         |    GROUP BY cell, dd)
         |  GROUP BY cell),
         |v AS (
         |  SELECT q.vec_id, ${DuckSql.zipSubBig("q.qv", "cm.cv")} AS v
         |  FROM qvv q JOIN cm ON cm.cell = q.cell),
         |$pqOracleTail256,
         |${duckAdcEst(duckHomeCellJoin("eb"))}""".stripMargin)),

    // EXACT RE-RANK on the production IVF-PQ (r12) — the final stage
    // of the FAISS query pipeline the family was missing (Jégou et
    // al. TPAMI'11 §V.C; reference parity: the ANN serving story's
    // ADC shortlist → exact-rescore recipe): the trained coarse
    // quantizer routes, the k=256 byte-code ADC scan RANKS the cell's
    // candidates (4 lookup adds per candidate — bytes/candidate
    // bounded), the per-query top-[[RerankR]] shortlist — and ONLY
    // it — is re-scored with the exact integer d2 over the full
    // quantized vectors, and the final top-K orders by that exact
    // distance. ADC error now affects SHORTLIST MEMBERSHIP only,
    // never the returned ordering; at 100 TB the re-rank reads
    // R = 3·K full vectors per query via the cell-partitioned
    // layout (file-pruned point lookups — TrainedWriteSpec's law)
    // while the scan stage still touches 4 bytes/candidate. The
    // shortlist is |Q|·R rows, so AQE broadcasts it into both
    // vector join-backs; the whole rerank stage is
    // O(|Q|·R·d) — corpus-size-free. Measured in AnnClusteredStress
    // (`pq256_top5_recall_adc` vs `pq256_top5_recall_rerank` against
    // the exact same-cell truth, gate `pq_rerank_below_adc` empty):
    // re-ranking may never lose recall vs the raw ADC ordering at
    // matched candidate mass.
    "q_ann_ivfpq_rerank" -> QueryDef(
      (s, d) => {
        val v = quantized(trainedCells(s, d))
        pqRerankTopK(v, pq256Est(s, v))
      },
      duckPqRerankSql(duckPq256EstCtes(duckTrainedEbCte, "eb"))),

    // The COMPLETE production ANN serving query (r12) — all three
    // levers composed exactly as FAISS ships them: the margin-law
    // ADAPTIVE probe set picks WHICH cells each query scans (interior
    // queries one, boundary queries up to the cap — the recall
    // lever), the k=256 byte-code ADC scan bounds BYTES per scanned
    // candidate (the bandwidth lever), and the exact re-rank of the
    // top-R shortlist restores the returned ORDERING to exact
    // distances (the fidelity lever). Query cost at 100 TB:
    // probes·(corpus/cells)·4 lookup adds + R·d exact — nothing
    // touches a full vector outside the R-row shortlist. The probe
    // law, codebooks, ADC estimator, and re-rank tail are all
    // byte-shared with their standalone declared queries; the oracle
    // composes the same three relational fragments (aprobes ×
    // pqOracleTail256 × the rerank tail).
    "q_ann_ivfpq_adaptive" -> QueryDef(
      (s, d) => {
        val e = ScratchCache.scratch(trainedAdaptiveCells(s, d,
          AdaptNSupers, AdaptMaxProbes, AdaptEpsNum, AdaptEpsDen,
          interleave = true))
        val v = quantized(e)
        val qprobes = e.filter(col("vec_id") < PqQueries)
          .selectExpr("vec_id AS query_id", "explode(probes) AS qcell")
        pqRerankTopK(v, pq256Est(s, v, Some(qprobes)))
      },
      duckPqRerankSql(
        s"""$duckAdaptiveProbesCte,
           |$duckQuantV,
           |$pqOracleTail256,
           |${duckAdcEst(duckCellJoin("eb",
              "(SELECT vec_id AS query_id, cell AS qcell FROM aprobes)"))}""".stripMargin)),

    // The POST-CAP production composition (r12): the same ADC scan +
    // exact re-rank, routed by the THREE-LEVEL book — the regime past
    // the two-level 2^24-cell cap (~2.1×10⁹ rows), where FAISS runs
    // IVFPQ on a huge nlist. The PQ estimator is cell-law-agnostic
    // (any (vec_id, v, cell) frame), so the L3 arm reuses
    // [[pq256Est]]/[[pqRerankTopK]] verbatim over [[trainedCellsL3]]'s
    // beamed assignment, and the oracle swaps only the routing
    // fragment (ebl3 for eb). With this the serving matrix is closed:
    // {two-level, L3} routing × {flat, PQ-ADC} scoring × {fixed,
    // margin-law adaptive, exact re-rank} probing, every arm declared
    // and oracle-gated.
    "q_ann_ivfpq_l3_rerank" -> QueryDef(
      (s, d) => {
        val v = quantized(trainedCellsL3(s, d))
        pqRerankTopK(v, pq256Est(s, v))
      },
      duckPqRerankSql(duckPq256EstCtes(duckTrainedL3Cte, "ebl3"))),

    // SCALAR QUANTIZATION (r12) — the THIRD quantizer family beside
    // flat and PQ (FAISS IndexIVFScalarQuantizer, QT_8bit): per-dim
    // corpus min/max train the codec (64 (mn, mx) pairs — the whole
    // "codebook" is 1 KB, vs PQ's 4×256×16), each candidate stores one
    // byte per dimension (64 B/vector — 4× under float32, no
    // subspace training), and scoring DECODES inline: est d2 =
    // Σ(q_d − recon_d)² against the exact query vector. All integer:
    // code = (255·(x−mn)) div (mx−mn), recon = mn + (code·(mx−mn))
    // div 255 — identical div semantics both engines (operands
    // nonnegative by construction). Training is one 64-group
    // aggregation; the bounded (mn, mx) table rides the
    // broadcast-scalar pattern (64 rows to the driver, embedded as
    // array literals — the q_kmeans device). Scale story: SQ is what
    // FAISS ships when PQ's subspace training is unaffordable or
    // recall-critical — byte-bounded candidates with NO codebook
    // drift risk on ingest (min/max only widen); scoring stays a
    // same-cell hash join exactly like the flat family.
    "q_ann_ivf_sq8" -> QueryDef(
      (s, d) => estTopK(sq8Est(s, d)),
      duckEstTopK(duckSq8EstCtes)),

    // SQ8 with the exact re-rank tail — [[pqRerankTopK]] and the
    // oracle tail are estimator-agnostic (any est(query_id, vec_id,
    // est_d2) over v(vec_id, v)), so the SQ arm reuses them verbatim:
    // byte-coded scan, exact top-R re-score, exact final ordering.
    "q_ann_ivf_sq8_rerank" -> QueryDef(
      (s, d) => {
        val v = quantized(trainedCells(s, d))
        pqRerankTopK(v, sq8EstFrom(s, v))
      },
      duckPqRerankSql(duckSq8EstCtes)),

    // IVF-PQ with nprobe=2 — the recall knob of the composed index
    // (the q_ann_ivf_probe2 axis applied to the PQ path): each query
    // probes its nearest AND second-nearest coarse cell
    // (graft_ivf_cell2 masks the first argmin), doubling the candidate
    // set for boundary-straddling queries at exactly 2× the lookup
    // cost. A corpus vector lives in ONE cell and the two probe cells
    // are distinct by construction, so no (query, candidate) pair can
    // double-count. Everything else — codebook, codes, ADC lookup
    // table — is byte-identical to q_ann_ivfpq (shared helpers both
    // sides).
    "q_ann_ivfpq_probe2" -> QueryDef(
      (s, d) => {
        val v = pqQuantized(s, d)
        val q = v.filter(col("vec_id") < PqQueries)
        val probes = q.selectExpr("vec_id AS query_id", "cell AS qcell")
          .unionByName(q.selectExpr("vec_id AS query_id", "cell2 AS qcell"))
        estTopK(pqEst(s, v, Some(probes)))
      },
      duckEstTopK(s"""$pqOracleCtes,
         |raw AS (
         |  SELECT vec_id, ${ivfDists(DuckSql, "embedding")} AS dists
         |  FROM embeddings),
         |c1t AS (
         |  SELECT vec_id, dists,
         |    CAST(${argminPos(DuckSql, "dists")} AS INT) AS cell
         |  FROM raw),
         |c2t AS (
         |  SELECT vec_id, cell,
         |    CAST(${argminPos(DuckSql, "dists2")} AS INT) AS cell2 FROM (
         |    SELECT vec_id, cell, list_transform(generate_series(1, $NCells),
         |      ii -> CASE WHEN ii = cell THEN CAST('infinity' AS DOUBLE)
         |            ELSE dists[ii] END) AS dists2
         |    FROM c1t)),
         |probes AS (
         |  SELECT vec_id AS query_id, cell AS qcell FROM c2t
         |  WHERE vec_id < $PqQueries
         |  UNION ALL
         |  SELECT vec_id AS query_id, cell2 AS qcell FROM c2t
         |  WHERE vec_id < $PqQueries),
         |${duckAdcEst(duckCellJoin("c1t", "probes"))}""".stripMargin)),

    // IVF-PQ with RESIDUAL encoding — the full IVFADC recipe (Jégou et
    // al., TPAMI'11 §IV): PQ codes quantize r = x − centroid(cell(x)),
    // not x itself. Residuals concentrate around 0 with far less
    // variance than raw vectors, so the same 4×16-entry codebook spends
    // its codes on the part of the vector the coarse quantizer did NOT
    // explain — the accuracy step that makes FAISS's IndexIVFPQ the
    // production default over code-the-raw-vector PQ. Query-side ADC
    // uses the query's residual wrt its own probed cell (nprobe=1 here:
    // query cell = candidate cell, the asymmetric-distance contract).
    // Everything else — seed choice, one Lloyd round, byte codes,
    // broadcast lookup table, same-cell-bounded shuffle — is the
    // q_ann_ivfpq machinery applied to the residual frame (shared
    // helpers both sides; the oracle derives identical residuals
    // relationally, with the centroid quantized by the same
    // floor(x·1e6+0.5) as the data so residuals stay pure BIGINTs).
    "q_ann_ivfpq_res" -> QueryDef(
      (s, d) => {
        val vr = pqResidual(s, d)
        estTopK(pqEst(s, vr, Some(homeCells(vr))))
      },
      duckEstTopK(
        s"$pqResOracleCtes,\n${duckAdcEst(duckHomeCellJoin("cellt0"))}"))
  )
}
