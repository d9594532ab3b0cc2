package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{Codebook, blockArgmin, cosine, dist2, joinKey, norm2,
  quantize, superArgmin, trainedCell}
import graft.oracle.DuckSql
import graft.{QueryDef, ScratchCache, Tables}

/** Distributed k-means over the embeddings table — the clustering step a
  * training-data pipeline uses for diversity sampling / corpus
  * stratification. The reference corpus has no clustering operator; this
  * is extension surface in the same family as the ANN queries.
  *
  * Scale shape (the Spark MLlib pattern, which this mirrors):
  *  - vectors are quantized once and scratch-cached; ASSIGNMENT is a pure
  *    map against the K current centroids inlined as literals (centroids
  *    are collected to the driver each round — K×64 longs, the
  *    broadcast-variable pattern), so it costs ZERO shuffles;
  *  - the centroid UPDATE is one map-combinable shuffle per round
  *    (posexplode to (cluster, dim, x) then partial-aggregated sums —
  *    each task ships at most K×64 partial rows regardless of input
  *    size), plus a driver collect of the K×64 aggregated sums.
  *  At 100 TB each round is therefore one narrow scan of the cached
  *  vectors plus a K×64-wide shuffle — the same cost profile as MLlib's
  *  KMeans, with no per-row driver involvement.
  *
  * Exactness (how an iterative float algorithm survives a bit-exact
  * DuckDB oracle): all arithmetic is BIGINT. Vectors are quantized to
  * 1e-6 resolution (Dialect.quantVec — identical IEEE-754 ops both
  * engines); distances are exact integer squared-L2 (Dialect.dist2Big;
  * max value ~9e13 << 2^63); centroid components are integer-floor means
  * (`sum div count` — order-independent BIGINT sums). Ties on distance
  * assign to the smallest centroid id in both engines (first-position
  * argmin / ROW_NUMBER on (dist2, cid)). Empty clusters simply drop out
  * of the next round (both sides derive centroids from the groups that
  * exist). The oracle unrolls the same `Iters` rounds as CTEs.
  */
object ClusteringQueries {

  private val K = 8
  private val Iters = 2
  private val Scale = 1000000L
  private val Dims = 64

  private def duckQuantCol = DuckSql.quantVec("embedding", Scale)

  /** (vec_id, v): the corpus quantized by the compiled twin of
    * [[duckQuantCol]] ([[graft.functions.VecKernels]]), scratch-cached. */
  private def quantizedCorpus(s: SparkSession, d: String): DataFrame =
    ScratchCache.scratch(Tables.embeddingsParallel(s, d)
      .select(col("vec_id"), quantize(col("embedding"), Scale).as("v")))

  /** One assignment under the current centroids, Spark side: dists built
    * in ascending-cid order, first-position argmin = smallest-cid
    * tie-break. Pure map — no join, no shuffle. */
  private def assign(v: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val dists = array(cents.map { case (_, c) => dist2(col("v"), typedLit(c)) }: _*)
    val cidArr = cents.map(_._1).mkString("array(", ",", ")")
    v.select(col("vec_id"), col("v"), dists.as("dists"))
      .selectExpr("vec_id", "v",
        s"element_at($cidArr, CAST(array_position(dists, array_min(dists)) AS INT)) AS cluster",
        "array_min(dists) AS dist2")
  }

  /** One centroid update: map-combinable (cluster, dim) sums, integer
    * mean, reshaped on the driver (K×64 aggregated rows). */
  private def update(assigned: DataFrame): Seq[(Int, Seq[Long])] =
    assigned.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .selectExpr("cluster", "dim", "sx div n AS c")
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
      .toSeq.sortBy(_._1)

  /** DuckDB: one assignment CTE under centroid CTE `c` -> named `out`. */
  private def assignCte(out: String, cents: String): String =
    s"""$out AS (
       |  SELECT vec_id, v, cluster, dist2 FROM (
       |    SELECT x.vec_id, x.v, c.cid AS cluster,
       |      CAST(${DuckSql.dist2Big("x.v", "c.c")} AS BIGINT) AS dist2,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${DuckSql.dist2Big("x.v", "c.c")}, c.cid) AS rn
       |    FROM v x CROSS JOIN $cents c
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** DuckDB: one TWO-LEVEL assignment CTE chain under centroid CTE
    * `cents` -> named `out` — the oracle twin of [[assignTwoLevel]],
    * the same rank-strided-supers + nearest-super-blocks + two-ROW_NUMBER
    * routing chain [[graft.ops.SimilarityQueries]]'s trained-codebook
    * oracle proved out (tca/tras/tra/eb there). MATERIALIZED throughout:
    * DuckDB inlines plain CTEs per reference, and the per-round chain
    * references its predecessors several times (the q_cc_largestar
    * blowup class). */
  private def semAssignCte(out: String, cents: String): String = {
    val d2cs = DuckSql.dist2Big("k.c", "s.sv")
    val d2rs = DuckSql.dist2Big("x.v", "s.sv")
    val d2rc = DuckSql.dist2Big("r.v", "a.c")
    s"""sb_$out AS (SELECT COALESCE((SELECT min(z)
       |    FROM (SELECT unnest(range(1, 257)) AS z) tz
       |    WHERE z * z >= (SELECT count(*) FROM $cents)), 256) AS sb),
       |ss_$out AS MATERIALIZED (SELECT cid AS sid, c AS sv FROM (
       |    SELECT cid, c, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS j
       |    FROM $cents) tj, sb_$out WHERE j % sb = 0),
       |ca_$out AS MATERIALIZED (SELECT cid, c, sid AS csuper FROM (
       |    SELECT k.cid, k.c, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY k.cid
       |        ORDER BY $d2cs, s.sid) AS rn
       |    FROM $cents k CROSS JOIN ss_$out s) WHERE rn = 1),
       |ra_$out AS MATERIALIZED (SELECT vec_id, v, sid AS rsuper FROM (
       |    SELECT x.vec_id, x.v, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY $d2rs, s.sid) AS rn
       |    FROM v x CROSS JOIN ss_$out s) WHERE rn = 1),
       |$out AS MATERIALIZED (SELECT vec_id, v, cluster FROM (
       |    SELECT r.vec_id, r.v, a.cid AS cluster,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
       |        ORDER BY $d2rc, a.cid) AS rn
       |    FROM ra_$out r JOIN ca_$out a ON a.csuper = r.rsuper)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB: one centroid-update CTE over assignment `a` -> named `out`. */
  private def updateCte(out: String, a: String): String =
    s"""$out AS (
       |  SELECT cluster AS cid, list(c ORDER BY dim) AS c FROM (
       |    SELECT cluster, dim, sum(x) // count(*) AS c FROM (
       |      SELECT cluster, zz AS dim, v[zz] AS x
       |      FROM $a, generate_series(1, $Dims) t(zz)
       |    ) GROUP BY cluster, dim
       |  ) GROUP BY cluster
       |)""".stripMargin

  /** Cosine-similarity threshold for the semantic-dedup pair decision —
    * same value as SimilarityQueries' near-dup family so the two
    * surfaces agree on what "duplicate" means on this fixture. */
  private val SemDupThreshold = 0.4

  /** Target per-cluster occupancy for semantic dedup: the sf0.1
    * fixture's density (2000 vectors / 8 clusters = 250). */
  private val SemOcc = 250L

  /** CORPUS-ADAPTIVE cluster count for semantic dedup: K = ⌈N/250⌉,
    * floored at the legacy 8 — exactly 8 at every fixture SF (N ≤
    * 2000), growing linearly with the corpus after. K ∝ N holds
    * per-cluster occupancy constant, so the within-cluster pair join
    * produces O(N·occ) candidates — LINEAR in the corpus — instead of
    * the O(N²/K) a fixed K degrades to (the fixed-cardinality
    * candidate-key defect class the n-gram/LSH/IVF knobs eliminated in
    * r06). The DuckDB oracle computes the SAME integer formula inline
    * from count(*), so every fixture row stays bit-identical. */
  private[graft] def adaptiveSemK(n: Long): Int =
    math.max(8L, (n + SemOcc - 1) / SemOcc).toInt

  private val duckSemKExpr =
    s"(SELECT GREATEST(8, (count(*) + ${SemOcc - 1}) // $SemOcc) FROM v)"

  /** Deterministic init: the first `k` vectors are the centroids
    * (cid = vec_id; vec_ids are contiguous from 0). */
  private def firstCentroids(v: DataFrame, k: Long): Seq[(Int, Seq[Long])] = {
    val (ids, vecs) = SimilarityQueries.seedBook(v.filter(col("vec_id") < k))
    ids.map(_.toInt).toSeq.zip(vecs.map(_.toSeq))
  }

  /** One assignment at arbitrary K through TWO-LEVEL routing: the
    * centroids' rank book ([[graft.functions.Codebook.rankBook]] —
    * supers every ⌈√K⌉-th centroid in cid order, the construction
    * trainedCells and lshRefined share) travels as a broadcast into
    * the codegen'd
    * [[graft.functions.TwoLevelArgminBroadcast]] kernel — argmin over
    * the ⌈√K⌉ super centroids, then over that super's child block, so
    * the per-row cost is O(√K·d), not O(K·d). With K = ⌈N/250⌉ that is
    * the difference between O(N^1.5·d) and O(N²·d) TOTAL assignment
    * compute per Lloyd round — the same superlinear class the flat IVF
    * quantizer hit in r06 and was fixed with the same routing. Pure
    * map: zero shuffles, both argmin levels tie to the smallest
    * centroid id exactly like [[assign]]'s flat scan. */
  private def assignTwoLevel(v: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val sorted = cents.sortBy(_._1)
    val bc = v.sparkSession.sparkContext.broadcast(Codebook.rankBook(
      (sorted.map(_._1.toLong).toArray, sorted.map(_._2.toArray).toArray)))
    v.select(col("vec_id"), col("v"),
      trainedCell(bc, col("v")).cast("int").as("cluster"))
  }

  /** One centroid UPDATE kept as a DataFrame — the distributed twin of
    * [[update]]: the same map-combinable (cluster, dim) integer sums
    * and `sum div count` floor means, reshaped by a per-cluster
    * `sort_array(collect_list(struct(dim, c)))` instead of a driver
    * collect. K rows, never on the driver. */
  private def updateDf(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .selectExpr("cluster", "dim", "sx div n AS cc")
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("dim"), col("cc")))).as("dc"))
      .selectExpr("CAST(cluster AS BIGINT) AS cid",
        "transform(dc, x -> x.cc) AS c")

  /** One assignment against a centroid DATAFRAME — the
    * q_ann_ivf_trained_dist device applied to Lloyd rounds: the driver
    * collects only the ⌈√K⌉ rank-strided super centroids
    * ([[graft.functions.SuperArgminBroadcast]]); centroids route to
    * their super map-side and group into per-super blocks; rows route
    * map-side and meet their one block in a SHUFFLE_HASH join scanned
    * in place by [[graft.functions.ChildBlockArgmin]]. Same supers
    * (rank-stride over ascending cid), same tie law
    * ([[graft.functions.Codebook]]'s (dist2, id) order) — assignment
    * is bit-identical to [[assignTwoLevel]]'s broadcast book, so the
    * DuckDB oracle ([[semAssignCte]]) gates both routes unchanged.
    * `budget` picks [[SimilarityQueries.rankStride]]'s route. */
  private def assignTwoLevelDist(v: DataFrame, cents: DataFrame,
      budget: Long): DataFrame = {
    val s = v.sparkSession
    val kCur = cents.count()
    val supers = SimilarityQueries.seedBook(SimilarityQueries.rankStride(s,
        cents.selectExpr("cid AS vec_id", "c AS qv"),
        Codebook.superStride(kCur), kCur, budget)
      .selectExpr("vec_id", "qv"))
    require(supers._1.nonEmpty, s"assignTwoLevelDist: no supers (K=$kCur)")
    val bc = s.sparkContext.broadcast(supers)
    val blocks = SimilarityQueries.seedBlocks(cents
      .select(col("cid"), col("c").as("cv"),
        joinKey(superArgmin(bc, col("c"))).as("csuper")),
      Seq("csuper"), "cid", "cv", "block")
    v.select(col("vec_id"), col("v"),
        joinKey(superArgmin(bc, col("v"))).as("rsuper"))
      .join(blocks.hint("SHUFFLE_HASH"), col("rsuper") === col("csuper"))
      .select(col("vec_id"), col("v"),
        blockArgmin(col("v"), col("block")).cast("int").as("cluster"))
  }

  /** The SemDeDup blocking: k-means cluster ids at K = [[adaptiveSemK]]
    * (first-K data seeds — vec_ids are uncorrelated with embedding
    * position, so the init is a density-proportional sample — then
    * `Iters` Lloyd rounds through the broadcast-codebook TWO-LEVEL
    * argmin: O(√K·d)/row, [[assignTwoLevel]]). Extracted so
    * AnnClusteredStress can measure this blocker's occupancy / pair
    * mass / retention / per-row assignment cost on the density-skewed
    * corpus beside the ANN quantizers. Returns (vec_id, cluster).
    *
    * Driver state (r10 — the r09 verdict's stated ceiling, now a
    * SWITCH like trainedCells'): the default route collects the K
    * updated centroids each Lloyd round (K×64 longs, K ∝ N/250 — a
    * growing-with-corpus collect past ~10⁶ clusters). Past `budget`,
    * the trained family's driver-seed budget
    * ([[SimilarityQueries.MaxDriverSeeds]]; 0 forces it), the build
    * keeps centroids as a DATAFRAME end-to-end: init is a filter (no
    * collect), the update is [[updateDf]], and assignment
    * is [[assignTwoLevelDist]] (the driver holds ⌈√K⌉ supers only).
    * Assignment is bit-identical between routes, so the oracle is
    * unaffected by which route ran (SemDistSpec pins fixture equality;
    * AnnClusteredStress forces the switch at 10×–100× and gates the
    * diff). Routing cost is already covered either way: √K·d per row
    * stays below the 250·d within-block pair cost until far past the
    * switch point. */
  private[graft] def semClusters(s: SparkSession, d: String,
      budget: Long = SimilarityQueries.MaxDriverSeeds): DataFrame = {
    val v = quantizedCorpus(s, d)
    val k = adaptiveSemK(SimilarityQueries.corpusN(s, d))
    if (k > budget) {
      var cents = ScratchCache.scratch(v.filter(col("vec_id") < k)
        .selectExpr("vec_id AS cid", "v AS c"))
      for (_ <- 1 to Iters)
        cents = ScratchCache.scratch(
          updateDf(assignTwoLevelDist(v, cents, budget)))
      assignTwoLevelDist(v, cents, budget).select("vec_id", "cluster")
    } else {
      var cents = firstCentroids(v, k)
      for (_ <- 1 to Iters) cents = update(assignTwoLevel(v, cents))
      assignTwoLevel(v, cents).select("vec_id", "cluster")
    }
  }

  val defs: Map[String, QueryDef] = Map(
    // SEMANTIC DEDUP (the SemDeDup recipe, Abbas et al. 2023,
    // arXiv:2303.09540): k-means-cluster the embedding space, then call
    // two documents duplicates only when they are cosine-similar WITHIN
    // the same cluster, and remove the higher id of each such pair.
    // This is THE at-100-TB semantic-dedup shape: the clustering bounds
    // the candidate set (the quadratic pair step runs per cluster, never
    // corpus×corpus) because K = ⌈N/250⌉ GROWS WITH THE CORPUS
    // ([[adaptiveSemK]] — 8 at every fixture SF, K ∝ N after): constant
    // per-cluster occupancy makes candidate-pair volume linear in N.
    // Assignment is a zero-shuffle broadcast-codebook TWO-LEVEL argmin
    // map (O(√K·d)/row, codegen'd — [[assignTwoLevel]]; with K ∝ N a
    // flat scan would make the round's total assignment O(N²·d), the
    // r08 verdict's superlinear finding), and the pair step is
    // one hash-partitioned equi-join on cluster id whose input is
    // SHUFFLED EXACTLY ONCE: the joined frame is repartitioned on
    // cluster BEFORE caching, so the cached relation's HashPartitioning
    // satisfies both self-join sides and the join plans zero exchanges.
    // (r07 postmortem: with the sides built independently, whether the
    // two alias-identical exchanges dedup into one ReusedExchange is an
    // AQE stage-cache timing artifact — r06 measured 1 materialization,
    // r07 measured 2 with byte-identical code, the BENCH_DETAIL trend
    // row's 2× shuffle jump. Partition-then-cache removes the
    // nondeterminism instead of hoping for reuse.) Output is
    // the REMOVAL DECISION, not the pair list: each removed vec_id with
    // its cluster, its kept representative (lowest-id duplicate
    // neighbor — deterministic), and how many lower-id duplicates it
    // had. All output columns are integers, so the only float
    // arithmetic (the cosine itself) sits behind a threshold compare
    // computed identically in both engines.
    "q_dedup_semantic" -> QueryDef(
      (s, d) => {
        val clusters = semClusters(s, d)
        val e = ScratchCache.scratch(Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("embedding"), norm2("embedding"))
          .join(clusters, "vec_id")
          .repartition(col("cluster")))
        val a = e.selectExpr("cluster", "vec_id AS vec_id_a",
          "embedding AS ea", "n2 AS na2")
        val b = e.selectExpr("cluster", "vec_id AS vec_id_b",
          "embedding AS eb", "n2 AS nb2")
        a.join(b, "cluster")
          .filter(col("vec_id_a") < col("vec_id_b"))
          .select(col("cluster"), col("vec_id_a"), col("vec_id_b"),
            cosine("ea", "eb", "na2", "nb2"))
          .filter(col("cosine") >= SemDupThreshold)
          .groupBy("vec_id_b")
          .agg(min("cluster").as("cluster"), min("vec_id_a").as("kept_id"),
            count(lit(1)).as("n_dups"))
          .selectExpr("vec_id_b AS vec_id", "cluster", "kept_id", "n_dups")
          .orderBy("vec_id")
      }, {
        val cteChain = (1 to Iters).flatMap(i =>
          Seq(semAssignCte(s"a$i", s"c${i - 1}"), updateCte(s"c$i", s"a$i")))
          .mkString(",\n")
        val cos = s"(${DuckSql.dotDbl("a.embedding", "b.embedding")}" +
          " / sqrt(a.n2 * b.n2))"
        s"""WITH v AS (SELECT vec_id, ${duckQuantCol} AS v FROM embeddings),
           |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM v
           |  WHERE vec_id < $duckSemKExpr),
           |$cteChain,
           |${semAssignCte("afinal", s"c$Iters")},
           |m AS (
           |  SELECT e.vec_id, e.embedding,
           |    ${DuckSql.dotDbl("e.embedding", "e.embedding")} AS n2, f.cluster
           |  FROM embeddings e JOIN afinal f ON e.vec_id = f.vec_id),
           |p AS (
           |  SELECT a.cluster, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
           |  FROM m a JOIN m b
           |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  WHERE $cos >= $SemDupThreshold)
           |SELECT vec_id_b AS vec_id, min(cluster) AS cluster,
           |  min(vec_id_a) AS kept_id, count(*) AS n_dups
           |FROM p GROUP BY vec_id_b ORDER BY vec_id""".stripMargin
      }),

    "q_kmeans" -> QueryDef(
      (s, d) => {
        val v = quantizedCorpus(s, d)
        var cents = firstCentroids(v, K)
        for (_ <- 1 to Iters) cents = update(assign(v, cents))
        assign(v, cents)
          .select("vec_id", "cluster", "dist2")
          .orderBy("vec_id")
      }, {
        val cteChain = (1 to Iters).flatMap(i =>
          Seq(assignCte(s"a$i", s"c${i - 1}"), updateCte(s"c$i", s"a$i")))
          .mkString(",\n")
        s"""WITH v AS (SELECT vec_id, ${duckQuantCol} AS v FROM embeddings),
           |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM v WHERE vec_id < $K),
           |$cteChain,
           |${assignCte("afinal", s"c$Iters")}
           |SELECT vec_id, cluster, dist2 FROM afinal ORDER BY vec_id""".stripMargin
      })
  )
}
