package graft.ops

import org.apache.spark.sql.functions._

import graft.oracle.{DuckSql, SparkSql}
import graft.{QueryDef, ScratchCache, Tables}

/** Iterative graph analytics over a co-purchase graph — the second
  * iterative-DAG shape after q_kmeans (driver-side loop bound, data
  * never leaves the cluster) and q_dedup_cluster (connected
  * components). PageRank is the canonical "repeated shuffle on a fixed
  * edge relation" workload the reference's session mode exists to serve
  * (reusable DAGs / shared edges across stages —
  * tez-api/src/main/java/org/apache/tez/client/TezClient.java:95 session
  * mode; vertex-to-vertex edge reuse in the DAG API).
  *
  * Graph: parts are nodes; an edge (a, b) exists when parts a and b
  * appear in the SAME order (co-purchase). The edge relation is built
  * once with one self-join on l_orderkey — per-order fan-out is bounded
  * by order size (~4 lines), so the join output is ~|lineitem| × avg
  * order size, never quadratic in the table. Edges are symmetric by
  * construction, so every node has in-edges and out-edges (no dangling
  * ranks).
  *
  * Scale shape: the edge+degree relation is computed once and
  * scratch-cached (at 100 TB: written bucketed by src so every
  * iteration's join is co-located, exchange-free on the edge side).
  * Each round is exactly one join (ranks ⋈ edges on src — ranks is the
  * small, shuffling side) and one map-combinable groupBy(dst) sum. The
  * driver loop holds NOTHING but the round counter — fixed `Iters`
  * rounds, no convergence collect.
  *
  * Exactness: pure BIGINT arithmetic end-to-end. Ranks are scaled by
  * 1e6; each round computes rank' = floor(0.15·1e6) + floor(85 ·
  * Σ floor(rank_src / deg_src) / 100) with integer division at every
  * step — BIGINT sums are order-independent, so both engines agree
  * bit-for-bit. The DuckDB oracle unrolls the same rounds as CTEs.
  */
object GraphQueries {

  private val Scale = 1000000L
  private val Iters = 3
  /** floor(0.15 * Scale) — the teleport mass per node. */
  private val Teleport = 150000L

  val defs: Map[String, QueryDef] = Map(
    "q_pagerank" -> QueryDef(
      (s, d) => {
        // edge generation WITHOUT a self-join: group each order's parts
        // into a set (collect_set dedups per order — one shuffle of the
        // 2-column projection) and explode the per-order pairs map-side.
        // Per-order fan-out is bounded by order size, so the generator
        // is cheap and never quadratic in the table.
        val byOrder = Tables.lineitemParallel(s, d)
          .select("l_orderkey", "l_partkey")
          .groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("parts"))
        // edges + deg are BOTH scratch-cached (r12): edgeDeg's build and
        // the r0 rank frame each consume them, and without the caches
        // the whole lineitem→collect_set→explode→distinct prefix ran
        // TWICE per execution (measured: ~0.8s of duplicated stages per
        // pass at sf0.1 — guide §2.4, share one exchange/computation).
        val edges = ScratchCache.scratch(byOrder
          .select(explode(col("parts")).as("src"), col("parts"))
          .select(col("src"), explode(col("parts")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct())
        val deg = ScratchCache.scratch(
          edges.groupBy("src").agg(count(lit(1)).as("deg")))
        // (src, dst, deg) cached once, HASH-PARTITIONED ON src: the
        // cached distribution satisfies each round's join requirement
        // (at 100 TB: write the edge table bucketed by src for the same
        // effect across jobs). Ranks come out of each round partitioned
        // by the grouping key, so iterations settle into one reduced
        // shuffle per round: join (no exchange) → map-side partial sum
        // → |nodes|-sized final aggregate.
        val edgeDeg = ScratchCache.scratch(
          edges.join(deg, "src").repartition(col("src")))
        // the graph is symmetric (co-purchase), so every node has
        // in-edges and receives contributions each round — no dangling
        // mass, no per-round left join against a node list. r0 rides
        // deg's distribution (deg's keys ARE the nodes).
        var ranks = deg.select(col("src").as("id"), lit(Scale).as("rank"))
        for (_ <- 1 to Iters) {
          ranks = edgeDeg
            .join(ranks, col("src") === col("id"))
            .select(col("dst"), expr("rank div deg").as("c"))
            .groupBy("dst").agg(sum("c").as("c"))
            .selectExpr("dst AS id", s"$Teleport + (85 * c) div 100 AS rank")
        }
        ranks.selectExpr("id AS part_key", "rank")
          .orderBy(desc("rank"), col("part_key"))
      }, {
        def round(out: String, prev: String): String =
          s"""$out AS (
             |  SELECT n.id,
             |    $Teleport + ${DuckSql.idiv("(85 * COALESCE(s.c, 0))", "100")} AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, CAST(sum(${DuckSql.idiv("r.rank", "d.deg")}) AS BIGINT) AS c
             |    FROM edges e
             |    JOIN $prev r ON r.id = e.src
             |    JOIN deg d ON d.src = e.src
             |    GROUP BY e.dst
             |  ) s ON s.dst = n.id
             |)""".stripMargin
        val rounds = (1 to Iters).map(i => round(s"r$i", s"r${i - 1}"))
          .mkString(",\n")
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |edges AS (
           |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |  WHERE a.l_partkey <> b.l_partkey
           |),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |r0 AS (SELECT id, CAST($Scale AS BIGINT) AS rank FROM nodes),
           |$rounds
           |SELECT id AS part_key, rank FROM r$Iters
           |ORDER BY rank DESC, part_key""".stripMargin
      }),

    // TRIANGLE COUNTING over the same co-purchase graph — the standard
    // third member of the iterative/graph trio (PageRank, connected
    // components, triangles), via the two techniques a dense graph
    // needs at scale:
    //  - DOULION edge sampling (Tsourakakis et al., KDD'09): keep each
    //    edge by a DETERMINISTIC hash (p = 1/5 here), count exactly on
    //    the subgraph, estimate = count·(1/p)³. The co-purchase graph
    //    is wedge-dense (orders are cliques of their parts), so the
    //    full wedge join is the classic blow-up — sampling cuts wedge
    //    volume by p² and both engines replay the SAME subgraph
    //    bit-for-bit (hash sampling, not RNG), keeping the oracle gate
    //    exact on the sampled count AND the estimator.
    //  - degree-ordered orientation (compact-forward / MapReduce
    //    triangle counting, Suri-Vassilvitskii WWW'11): every kept
    //    edge is directed from its lower-(degree, id) endpoint, capping
    //    per-node out-degree at O(√E) so hub nodes cannot explode the
    //    wedge self-join. Wedge (u→v, u→w) closes on directed (v→w);
    //    each triangle counts exactly once. The (deg, id) order packs
    //    into one BIGINT (deg·2³² + id) so both engines compare the
    //    same scalar. Output: sampled-subgraph top-10 nodes by
    //    triangle participation plus the Doulion-scaled estimate.
    "q_triangles" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitemParallel(s, d).select("l_orderkey", "l_partkey")
        val byOrder = li.groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("parts"))
        // LINEAGE RE-ROOTING (r13, the r12 verdict's item 6 — the
        // q_cc_largestar device): e feeds deg (twice) and dir, dir
        // feeds the wedge self-join (twice) and the closure join, so
        // the final plan embedded the explode-explode-distinct lineage
        // at every reference (~130 KB formatted). Re-rooting each
        // cached frame as a LogicalRDD leaf keeps the plan
        // constant-size and stays lazy; AQE restores the broadcast
        // choices at runtime from real sizes (LogicalRDD carries no
        // stats). Measured FLAT at fixture scale (2.49s vs 2.54s
        // interleaved medians — the wall is edge-gen compute plus
        // per-stage overhead, not planning); kept for the bounded-plan
        // guarantee the wide references otherwise lose at depth.
        def reroot(df: org.apache.spark.sql.DataFrame) =
          ScratchCache.scratch(s.createDataFrame(df.rdd, df.schema))
        // undirected edge set (a < b), then the deterministic 1/5
        // Doulion sample — the hash is engine-identical BIGINT math.
        // Scratch-cached: deg and dir both consume it (one lineitem
        // scan + pair-gen, not one per consumer).
        val e = reroot(byOrder
          .select(explode(col("parts")).as("a"), col("parts"))
          .select(col("a"), explode(col("parts")).as("b"))
          .filter(col("a") < col("b"))
          .distinct()
          .filter(expr("(CAST(a AS BIGINT) * 1000003 + b) % 5 = 0")))
        val deg = reroot(e.selectExpr("a AS node")
          .unionAll(e.selectExpr("b AS node"))
          .groupBy("node").agg(count(lit(1)).as("dg"))
          .selectExpr("node", s"dg * ${1L << 32} + node AS rk"))
        // orient: u = lower-rank endpoint; carry v's rank for the
        // wedge ordering predicate
        val dir = reroot(e
          .join(deg.selectExpr("node AS a", "rk AS rka"), "a")
          .join(deg.selectExpr("node AS b", "rk AS rkb"), "b")
          .selectExpr(
            "IF(rka < rkb, a, b) AS u",
            "IF(rka < rkb, b, a) AS v",
            "IF(rka < rkb, rkb, rka) AS rkv"))
        // a self-join of the cached `dir`: the hint pins the build
        // side, which AQE otherwise picks by which stage reports first
        val wedges = dir.selectExpr("u", "v AS x", "rkv AS rkx")
          .join(dir.selectExpr("u", "v AS y", "rkv AS rky").hint("SHUFFLE_HASH"), "u")
          .filter(col("rkx") < col("rky"))
          .select("u", "x", "y")
        val tri = wedges.join(
          dir.selectExpr("v AS y", "u AS x"), Seq("x", "y"))
        tri.selectExpr("u AS node")
          .unionAll(tri.selectExpr("x AS node"))
          .unionAll(tri.selectExpr("y AS node"))
          .groupBy("node").agg(count(lit(1)).as("n_triangles"))
          .orderBy(desc("n_triangles"), col("node"))
          .limit(10)
          .selectExpr("node AS part_key", "n_triangles",
            "n_triangles * 125 AS doulion_est")
      },
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
         |    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    WHERE a.l_partkey < b.l_partkey)
         |  WHERE (CAST(a AS BIGINT) * 1000003 + b) % 5 = 0
         |),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) * ${1L << 32} + node AS rk
         |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY node),
         |dir AS (
         |  SELECT CASE WHEN ra.rk < rb.rk THEN e.a ELSE e.b END AS u,
         |    CASE WHEN ra.rk < rb.rk THEN e.b ELSE e.a END AS v,
         |    CASE WHEN ra.rk < rb.rk THEN rb.rk ELSE ra.rk END AS rkv
         |  FROM e
         |  JOIN deg ra ON ra.node = e.a
         |  JOIN deg rb ON rb.node = e.b),
         |w AS (
         |  SELECT e1.u AS u, e1.v AS x, e2.v AS y
         |  FROM dir e1 JOIN dir e2 ON e1.u = e2.u AND e1.rkv < e2.rkv),
         |tri AS (
         |  SELECT w.u, w.x, w.y
         |  FROM w JOIN dir ON dir.u = w.x AND dir.v = w.y)
         |SELECT node AS part_key, CAST(count(*) AS BIGINT) AS n_triangles,
         |  CAST(count(*) * 125 AS BIGINT) AS doulion_est
         |FROM (SELECT u AS node FROM tri UNION ALL
         |      SELECT x FROM tri UNION ALL SELECT y FROM tri)
         |GROUP BY node ORDER BY n_triangles DESC, node LIMIT 10""".stripMargin),

    // MULTI-SOURCE BFS SHORTEST PATHS — "distance to the nearest seed"
    // over the co-purchase graph: seeds are parts with key % 97 = 0,
    // and every node reached within MaxHops reports its hop distance.
    // This is the third iterative shape after PageRank (fixed rounds)
    // and connected components (label propagation): FRONTIER expansion,
    // where each round's join input is only the nodes discovered in the
    // previous round, not the whole distance table.
    //
    // Scale shape: the edge relation is built once and scratch-cached
    // hash-partitioned on src (at 100 TB: a bucketed edge table), so
    // each round's frontier⋈edges join is exchange-free on the edge
    // side and shuffles only the frontier — which SHRINKS as the BFS
    // saturates. The min-merge after each expansion is map-combinable.
    // The driver loop holds only the round counter; distances never
    // leave the cluster. Exactness: hop counts are pure BIGINTs; the
    // DuckDB oracle unrolls the same MaxHops rounds as CTEs with the
    // identical frontier restriction.
    "q_shortest_path" -> QueryDef(
      (s, d) => {
        val MaxHops = 3
        val byOrder = Tables.lineitemParallel(s, d)
          .select("l_orderkey", "l_partkey")
          .groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("parts"))
        val edges = ScratchCache.scratch(byOrder
          .select(explode(col("parts")).as("src"), col("parts"))
          .select(col("src"), explode(col("parts")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
          .repartition(col("src")))
        var dist = edges.select(col("src").as("id")).distinct()
          .filter(col("id") % 97 === 0)
          .select(col("id"), lit(0L).as("dist"))
        for (h <- 1 to MaxHops) {
          val next = dist.filter(col("dist") === (h - 1).toLong)
            .join(edges, col("id") === col("src"))
            .select(col("dst").as("id"), lit(h.toLong).as("dist"))
          dist = dist.unionByName(next)
            .groupBy("id").agg(min("dist").as("dist"))
        }
        dist.selectExpr("id AS part_key", "dist")
          .orderBy("dist", "part_key")
      }, {
        val MaxHops = 3
        def round(out: String, prev: String, h: Int): String =
          s"""$out AS (
             |  SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
             |    SELECT id, dist FROM $prev
             |    UNION ALL
             |    SELECT e.dst AS id, p.dist + 1 AS dist
             |    FROM $prev p JOIN edges e ON e.src = p.id
             |    WHERE p.dist = ${h - 1})
             |  GROUP BY id)""".stripMargin
        val rounds = (1 to MaxHops).map(i => round(s"d$i", s"d${i - 1}", i))
          .mkString(",\n")
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |edges AS (
           |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |  WHERE a.l_partkey <> b.l_partkey),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM nodes
           |  WHERE id % 97 = 0),
           |$rounds
           |SELECT id AS part_key, dist FROM d$MaxHops
           |ORDER BY dist, part_key""".stripMargin
      }),

    // K-CORE PEELING — the fourth iterative-graph shape after PageRank
    // (fixed-round value iteration), connected components (label
    // propagation), and BFS (frontier expansion): MONOTONE SUBGRAPH
    // SHRINKING. Each round drops every node with degree < K and
    // restricts the edge set to surviving endpoints; after `Rounds`
    // rounds the survivors approximate the K-core (exact once a round
    // removes nothing — the fixture converges inside the bound; the
    // declared contract is "after R rounds", deterministic at any
    // scale). Output: surviving nodes with their within-subgraph
    // degree.
    //
    // Scale shape: the full edge relation is scratch-cached once; each
    // round is one map-combinable degree count over the CURRENT edge
    // set plus two semi-joins that only ever SHRINK it. The per-round
    // kept-node set rides broadcast-able semi-joins (AQE turns them
    // into broadcasts when small); nothing driver-side but the round
    // counter. The oracle unrolls identical rounds as CTEs.
    "q_kcore" -> QueryDef(
      (s, d) => {
        val K = 8
        val Rounds = 3
        val byOrder = Tables.lineitemParallel(s, d)
          .select("l_orderkey", "l_partkey")
          .groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("parts"))
        var edges = ScratchCache.scratch(byOrder
          .select(explode(col("parts")).as("src"), col("parts"))
          .select(col("src"), explode(col("parts")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct())
        for (_ <- 1 to Rounds) {
          val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= K).select(col("src").as("node"))
          // each round's (shrinking) edge set is scratch-cached: the
          // round references it three times (degree count + two semi
          // joins), and caching keeps the cumulative plan LINEAR in
          // rounds instead of 3^R subtree copies
          edges = ScratchCache.scratch(edges
            .join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi"))
        }
        edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .selectExpr("src AS part_key", "deg")
          .orderBy("part_key")
      }, {
        val K = 8
        val Rounds = 3
        def round(out: String, prev: String): String =
          s"""$out AS (
             |  SELECT e.src, e.dst FROM $prev e
             |  JOIN (SELECT src FROM $prev GROUP BY src
             |        HAVING count(*) >= $K) a ON e.src = a.src
             |  JOIN (SELECT src FROM $prev GROUP BY src
             |        HAVING count(*) >= $K) b ON e.dst = b.src)""".stripMargin
        val rounds = (1 to Rounds).map(i => round(s"e$i", s"e${i - 1}"))
          .mkString(",\n")
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |  WHERE a.l_partkey <> b.l_partkey),
           |$rounds
           |SELECT src AS part_key, CAST(count(*) AS BIGINT) AS deg
           |FROM e$Rounds GROUP BY src ORDER BY part_key""".stripMargin
      }),

    // CONNECTED COMPONENTS via alternating LARGE-STAR / SMALL-STAR
    // (Kiveris et al., "Connected Components in MapReduce and Beyond",
    // SoCC'14) — the canonical O(log² n)-round CC algorithm for massive
    // graphs, complementing q_dedup_cluster's bounded-round label
    // propagation with the variant whose round count provably shrinks
    // the graph toward star form regardless of component diameter
    // (label propagation needs diameter-many rounds; a 100 TB web-graph
    // chain would never converge under it).
    //
    // Both operations are PURELY RELATIONAL — no per-node adjacency
    // lists, no collect_set: each is one min-aggregate plus one join on
    // the (shrinking) edge relation, so state per round is O(|E|) rows
    // and every step is map-combinable + AQE-coalesced. Large-star
    // connects every neighbor v > u to m = min(Γ(u) ∪ {u}); small-star
    // connects every smaller neighbor (and u itself) to the minimum.
    // Edges stay canonical (a < b) by construction, so self-loops never
    // appear and both engines dedup identical pairs.
    //
    // Graph: the co-purchase graph Doulion-thinned with the q_triangles
    // hash trick at p = 1/53 — sparse enough to leave real component
    // structure (57 / 97 / 438 components at sf0.001/0.01/0.1) instead
    // of one giant blob. Rounds = 6: validated converged (fixed point,
    // edge set identical round-over-round) at all three fixture SFs,
    // and validated equal to union-find ground truth; the declared
    // contract is "after 6 alternations" so the oracle stays exact even
    // if a larger graph needed more (production drives the same loop to
    // an empty-diff convergence check). Output: every non-isolated node
    // with its component's minimum node id.
    "q_cc_largestar" -> QueryDef(
      (s, d) => {
        val Rounds = 6
        val byOrder = Tables.lineitemParallel(s, d)
          .select("l_orderkey", "l_partkey")
          .groupBy("l_orderkey")
          .agg(collect_set(col("l_partkey")).as("parts"))
        // LINEAGE TRUNCATION per round: unlike the other iterative
        // queries (whose rounds reference the previous frame once or
        // thrice), each star round references the prior edge set ~12
        // times through sym/ls/mS reuse, so the raw logical plan grows
        // ~12× per round and Catalyst's EAGER analysis of round 6 would
        // walk ~12⁶ subtree copies (observed: minutes of driver-side
        // planning on a 200-row graph). Re-rooting each round's cached
        // result as a LogicalRDD leaf keeps every round's plan constant
        // size while staying lazy (no action here) and keeping the
        // frames under ScratchCache's release contract. At 100 TB the
        // same role is played by checkpointing the edge set to the
        // cluster store every few rounds — iterative-graph hygiene, not
        // fixture tuning.
        def reroot(df: org.apache.spark.sql.DataFrame) =
          ScratchCache.scratch(s.createDataFrame(df.rdd, df.schema))
        var e = reroot(byOrder
          .select(explode(col("parts")).as("a"), col("parts"))
          .select(col("a"), explode(col("parts")).as("b"))
          .filter(col("a") < col("b"))
          .distinct()
          .filter(expr("(CAST(a AS BIGINT) * 1000003 + b) % 53 = 0")))
        for (_ <- 1 to Rounds) {
          // large-star: m(u) = min over u's full neighborhood; every
          // strictly-larger neighbor re-attaches to m. The symmetrized
          // view is a cheap narrow union of the cached edge set.
          val sym = e.select(col("a").as("u"), col("b").as("v"))
            .unionByName(e.select(col("b").as("u"), col("a").as("v")))
          val mL = sym.groupBy("u")
            .agg(least(min(col("v")), col("u")).as("m"))
          // No distinct here (the oracle's ls CTE has one): duplicate
          // (a, b) emissions are harmless mid-round — min() is
          // duplicate-insensitive and the small-star output IS
          // deduplicated — so Spark skips the extra shuffle per round
          // and the streams stay value-identical where it matters.
          val ls = ScratchCache.scratch(
            sym.join(mL, "u").filter(col("v") > col("u"))
              .select(col("m").as("a"), col("v").as("b")))
          // small-star: group by the LARGER endpoint; its smaller
          // neighbors (and itself) all attach to their minimum.
          val mS = ls.groupBy("b").agg(min(col("a")).as("m"))
          e = reroot(
            ls.join(mS, "b").filter(col("a") =!= col("m"))
              .select(col("m").as("a"), col("a").as("b"))
              .unionByName(mS.select(col("m").as("a"), col("b")))
              .distinct())
        }
        e.select(col("b").as("part_key"), col("a").as("comp"))
          .unionByName(
            e.select(col("a").as("part_key"), col("a").as("comp")))
          .distinct()
          .orderBy("comp", "part_key")
      }, {
        val Rounds = 6
        def round(i: Int, prev: String): String = {
          val sym = s"(SELECT a AS u, b AS v FROM $prev" +
            s" UNION ALL SELECT b, a FROM $prev)"
          s"""ls$i AS MATERIALIZED (
             |  SELECT DISTINCT m.m AS a, s.v AS b
             |  FROM $sym s
             |  JOIN (SELECT u, least(u, min(v)) AS m FROM $sym GROUP BY u) m
             |    ON s.u = m.u
             |  WHERE s.v > s.u),
             |ss$i AS MATERIALIZED (
             |  SELECT DISTINCT a, b FROM (
             |    SELECT m.m AS a, e.a AS b
             |    FROM ls$i e
             |    JOIN (SELECT b, min(a) AS m FROM ls$i GROUP BY b) m
             |      ON e.b = m.b
             |    WHERE e.a <> m.m
             |    UNION ALL
             |    SELECT m, b FROM (SELECT b, min(a) AS m FROM ls$i GROUP BY b)))""".stripMargin
        }
        val rounds = (1 to Rounds).map(i => round(i, if (i == 1) "e0" else s"ss${i - 1}"))
          .mkString(",\n")
        // AS MATERIALIZED: DuckDB inlines plain CTEs at every reference,
        // and each unrolled round references its predecessor ~6 times —
        // the same multiplicative blowup the Spark side avoids with
        // per-round LogicalRDD re-rooting, fixed oracle-side by forcing
        // one materialization per round.
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS MATERIALIZED (
           |  SELECT a, b FROM (
           |    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           |    FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
           |    WHERE x.l_partkey < y.l_partkey)
           |  WHERE (CAST(a AS BIGINT) * 1000003 + b) % 53 = 0),
           |$rounds
           |SELECT part_key, comp FROM (
           |  SELECT b AS part_key, a AS comp FROM ss$Rounds
           |  UNION
           |  SELECT a, a FROM ss$Rounds)
           |ORDER BY comp, part_key""".stripMargin
      })
  )
}
