package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{intersectSize, lcp, simhash, tokenHashes, weightedIntersect}
import graft.oracle.{Dialect, DuckSql, SparkSql}
import graft.{QueryDef, ScratchCache, Tables}

/** Deduplication family over `documents` — the core operators of a
  * large-scale training-data pipeline (extension mandate; not in the Tez
  * reference, which stops at exact key grouping à la
  * tez-examples/.../UnionExample.java dedup).
  *
  * Four tiers, each with a DuckDB oracle that matches bit-for-bit:
  *
  *  - exact: hash-groupBy on the full text. One shuffle on the text
  *    (at 100 TB: shuffle on a 128-bit digest of the text, not the text).
  *  - n-gram Jaccard: exact pairs within a blocking key (lang +
  *    ±1-adjacent length band). Correctness baseline; quadratic within
  *    block — at scale the MinHash query below IS the plan.
  *  - MinHash + LSH banding: 12 permutations × (4 bands × 3 rows),
  *    candidates = pairs sharing a band bucket, verified by exact
  *    Jaccard ≥ 0.7. Linear in corpus size + one shuffle per band; this
  *    is the 100 TB path. The oracle replays the identical integer
  *    pipeline, so candidate sets (not just survivors) agree exactly.
  *  - SimHash: 48-bit signature; candidates via 2×24-bit chunk banding.
  *    With hamming threshold ≤ 1 < 2 chunks, the pigeonhole principle
  *    guarantees the single differing bit cannot hit both chunks, so a
  *    matching chunk always exists and the banded plan provably equals
  *    the oracle's brute-force all-pairs scan (constants at lines 46-48).
  *
  * Pair-stage performance: Jaccard runs on per-document DISTINCT hashed
  * shingles (BIGINT) through native array_intersect — one set
  * intersection per pair, no interpreted O(S²) lambda scans; the
  * intersection size is materialized once and reused in the union size.
  */
object DedupQueries {

  private val JaccardThreshold = 0.7

  // q_dedup_substring window width: ~12 words of the fixture vocabulary —
  // short enough to catch partial overlap, long enough that unrelated
  // docs share no window
  private val SubW = 60
  // q_dedup_substring_max: suffix cap (the longest reportable duplicate)
  // and the minimum length worth reporting
  private val SubC = 96
  private val MinDup = 8
  // q_dedup_cdc boundary modulus: expected chunk length = CdcMod tokens
  private val CdcMod = 16
  // weighted variant: drop shingles with df > max(DfCapMin, n_docs/DfCapDiv);
  // integer-quantized IDF weights w = WScale div df; verify at WJacThreshold
  private val DfCapMin = 2
  private val DfCapDiv = 100
  private val WScale = 1000
  private val WJacThreshold = 0.6
  private val Bands = 4
  private val Rows = 3 // minhashes per band; threshold ~ (1/4)^(1/3) ≈ 0.63
  private val SimBits = 48
  // Candidate banding: with HammingMax = 1, two 24-bit chunks are lossless
  // (pigeonhole: one differing bit cannot hit both chunks) and far more
  // selective than byte-chunks on this fixture, whose shared 31-word
  // vocabulary makes signatures cluster (hd ≤ 1 already admits ~1% of
  // random pairs; real corpora are much sparser).
  private val SimChunks = 2
  private val SimChunkBits = 24
  private val HammingMax = 1

  /** Per-doc DISTINCT hashed 3-gram shingles (BIGINT list) — DuckDB form. */
  private def shingleHashSet(d: Dialect): String =
    d.distinctL(d.transform(d.shingles3(d.tokens("text")), "s", d.polyHash("s", 24)))

  /** Spark form of the same set via the native ShingleHashSet3 expression
    * (identical arithmetic, tight JVM loop instead of interpreted HOFs). */
  private[graft] def shingleSet: Column =
    graft.functions.shingleHashSet(expr(SparkSql.tokens("text")))

  /** The same set through the `graft_shingle_hash_set` SQL name, for SQL
    * text in sessions that registered it ([[graft.functions.TextHashFunctions]]). */
  private[graft] val sparkShingleSet: String =
    s"graft_shingle_hash_set(${SparkSql.tokens("text")})"

  /** (a, b, inter, sa, sb) of a candidate pair: the shingle-array
    * intersection size and both set sizes, ready for [[jacFromCols]]. */
  private def interSizes(a: String, b: String, x: String, y: String): Seq[Column] =
    Seq(col(a), col(b), intersectSize(col(x), col(y)).as("inter"),
      size(col(x)).as("sa"), size(col(y)).as("sb"))

  private def bandValue(d: Dialect, b: Int): String = {
    val parts = (0 until Rows).map { r =>
      d.castStr(Dialect.minhashPerm(d, "hs", b * Rows + r))
    }
    parts.mkString("concat(", ", '_', ", ")")
  }

  /** SimHash from a pre-computed token-hash list column `th`:
    * per-bit majority vote over token hashes, bit i set when the vote is
    * positive. Pure BIGINT arithmetic → engine-identical. */
  private def simhashFromTh(d: Dialect): String = {
    val vote = d.foldBig("th", "a", "h",
      s"a + (CASE WHEN (${d.shiftR("h", "i")} % 2) = 1 THEN 1 ELSE -1 END)")
    d.foldBig(
      d.transform(d.seqIncl("0", (SimBits - 1).toString), "i",
        s"CASE WHEN $vote > 0 THEN ${d.shiftL("CAST(1 AS BIGINT)", "i")} ELSE 0 END"),
      "a", "x", "a + x")
  }

  /** intersection-size / union-size from materialized columns. */
  private val jacFromCols = "(CAST(inter AS DOUBLE) / (sa + sb - inter))"

  /** DuckDB CTE chain ending in `p` = candidate pairs with materialized
    * inter/sa/sb columns — shared by the q_dedup_minhash and
    * q_dedup_cluster oracles. */
  private def minhashPairsCte(d: Dialect): String = {
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band_idx, ${bandValue(d, b)} AS band_val FROM hsets")
      .mkString("\n  UNION ALL\n  ")
    s"""hsets AS (SELECT doc_id, ${shingleHashSet(d)} AS hs FROM documents),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id
       |),
       |p AS (
       |  SELECT doc_id_a, doc_id_b,
       |    ${d.sizeL(d.intersectL("a.hs", "b.hs"))} AS inter,
       |    ${d.sizeL("a.hs")} AS sa, ${d.sizeL("b.hs")} AS sb
       |  FROM cand
       |  JOIN hsets a ON a.doc_id = doc_id_a
       |  JOIN hsets b ON b.doc_id = doc_id_b
       |)""".stripMargin
  }

  /** Verified near-duplicate pairs via MinHash + LSH banding — the
    * shared core of q_dedup_minhash (which just orders it) and
    * q_dedup_cluster (which runs connected components over it). Shingle
    * sets are computed once and scratch-persisted; candidate pairs are
    * deduped as bare (id, id) BEFORE re-joining the heavy arrays, so the
    * dedup shuffle never carries shingle sets. */
  private def minhashVerifiedPairs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val docs = ScratchCache.scratch(Tables.documentsParallel(s, d)
      .select(col("doc_id"), shingleSet.as("hs")))
    val bandCols = (0 until Bands).map(b =>
      expr(bandValue(SparkSql, b)).as(s"band_$b"))
    val banded = docs.select(col("doc_id") +: col("hs") +: bandCols: _*)
    val long = banded.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => col(s"band_$b")): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val cand = long.as("x").join(long.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
    val a = docs.selectExpr("doc_id AS doc_id_a", "hs AS ha")
    val b = docs.selectExpr("doc_id AS doc_id_b", "hs AS hb")
    cand.join(a, "doc_id_a").join(b, "doc_id_b")
      .select(interSizes("doc_id_a", "doc_id_b", "ha", "hb"): _*)
      .selectExpr("doc_id_a", "doc_id_b", s"$jacFromCols AS jaccard")
      .filter(col("jaccard") >= JaccardThreshold)
  }

  val defs: Map[String, QueryDef] = Map(
    // Exact dedup: group identical texts, keep the smallest doc_id.
    "q_dedup_exact" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("text")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select("keep_id", "n_copies")
          .orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // CANONICAL SELECTION BY QUALITY — exact dedup with a keep-BEST
    // policy instead of keep-first: among duplicates, retain the copy
    // with the highest quality signal (longest text, doc_id as the
    // total-order tiebreak). This is the policy decision real curation
    // pipelines actually make (min-id keeps an arbitrary copy; a
    // quality-ranked keep preserves the best provenance/extraction of
    // the duplicated content). Implemented as an arg-max per duplicate
    // group via max_by-style struct ordering — one map-combinable
    // aggregate, NO window over the corpus and no secondary shuffle:
    // the (n_chars, doc_id) pair packs into a single orderable struct
    // whose max is the kept row, so the plan is identical in shape to
    // plain exact dedup at any scale.
    "q_dedup_keep_best" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("text")
          .agg(
            org.apache.spark.sql.functions.max(
              org.apache.spark.sql.functions.struct(
                col("n_chars"), col("doc_id"))).as("best"),
            count(lit(1)).as("n_copies"))
          .selectExpr("best.doc_id AS keep_id",
            "CAST(best.n_chars AS BIGINT) AS keep_n_chars",
            "n_copies")
          .orderBy("keep_id"),
      // max_by key: DuckDB's max_by has no composite-key overload, so
      // (n_chars, doc_id) packs into one injective BIGINT — doc_id is
      // far below the 10^7 radix at every fixture SF, so the packed
      // order equals the Spark side's struct order exactly.
      """SELECT
        |  max_by(doc_id, n_chars * 10000000 + doc_id) AS keep_id,
        |  CAST(max_by(n_chars, n_chars * 10000000 + doc_id) AS BIGINT)
        |    AS keep_n_chars,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // EXACT DUPLICATED-SUBSTRING detection (the Lee et al. 2021
    // "Deduplicating Training Data Makes Language Models Better"
    // signal, arXiv:2107.06499): for every SubW-char window of every
    // document, is that exact window repeated in ANY OTHER document?
    // Output is the per-doc accounting a curation pipeline filters on:
    // total windows and how many of them are cross-doc duplicated —
    // pure integers, no float anywhere. Docs shorter than SubW carry no
    // window and drop out (both engines).
    //
    // Scale shape: this is the MapReduce rendition of the paper's
    // suffix-array ExactSubstr — one map-combinable shuffle of
    // (window, doc_id) pairs (~SubW bytes × corpus positions, the same
    // order as the suffix-array scatter), a distinct-doc count per
    // window, and the ≥2-doc window set re-joined id-only onto the
    // position stream. Nothing is broadcast, nothing is quadratic: cost
    // is linear in corpus size at any scale. (At 100 TB you would
    // shuffle a 128-bit window digest instead of the raw bytes and
    // equality-verify survivors, exactly like q_dedup_exact's digest
    // note; the raw window keeps the declared query oracle-exact.)
    "q_dedup_substring" -> QueryDef(
      (s, d) => {
        val wins = Tables.documentsParallel(s, d)
          .filter(length(col("text")) >= SubW)
          .selectExpr("doc_id", "text",
            s"explode(sequence(1, length(text) - ${SubW - 1})) AS pos")
          .selectExpr("doc_id", s"substring(text, pos, $SubW) AS w")
        val dup = wins.groupBy("w")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") >= 2)
          .select(col("w"), lit(1).as("isdup"))
        wins.join(dup, Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(coalesce(col("isdup"), lit(0))).cast("long").as("n_dup_windows"))
          .orderBy("doc_id")
      },
      s"""WITH pos AS (
         |  SELECT doc_id, text,
         |    unnest(generate_series(1, length(text) - ${SubW - 1})) AS zz
         |  FROM documents WHERE length(text) >= $SubW),
         |wins AS (SELECT doc_id, substr(text, CAST(zz AS INT), $SubW) AS w
         |  FROM pos),
         |dw AS (SELECT w FROM (
         |  SELECT w, count(DISTINCT doc_id) AS nd FROM wins GROUP BY w)
         |  WHERE nd >= 2)
         |SELECT x.doc_id, count(*) AS n_windows,
         |  CAST(sum(CASE WHEN d.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_windows
         |FROM wins x LEFT JOIN dw d ON x.w = d.w
         |GROUP BY x.doc_id ORDER BY x.doc_id""".stripMargin),

    // CONTENT-DEFINED CHUNKING dedup — the storage-layer technique
    // (gear-hash CDC, the rsync/FastCDC family) at token granularity:
    // a chunk boundary falls AFTER any token whose hash ≡ 0 (mod
    // CdcMod), so boundaries are CONTENT-anchored — inserting or
    // deleting a sentence shifts only the chunks it touches, and every
    // untouched chunk keeps its identity and deduplicates (fixed-size
    // blocks would re-align the whole tail and dedup nothing). Chunk
    // identity is an order-sensitive fold of its token hashes; chunks
    // repeated across documents are the duplicated content. Per-doc
    // accounting: chunks, duplicated chunks, duplicated tokens.
    //
    // Scale shape: tokenize+hash map-side, one per-doc window (running
    // boundary count — partitioned by doc, no global state), a
    // (doc, chunk) aggregate, and a chunk-signature shuffle carrying
    // one BIGINT per chunk. Linear at any corpus size; the shuffled
    // key space is the distinct-chunk vocabulary, not the corpus.
    "q_dedup_cdc" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dl = SparkSql
        // graft_token_hashes, not the literal transform(polyHash) HOF:
        // InferFiltersFromGenerate clones the generator input into a
        // size()>0 filter that predicate-pushdown moves below the
        // repartition — with the interpreted HOF pile that re-evaluated
        // the whole token hash on the single-task scan (measured 1.03s
        // of a 1.7s query); the compiled kernel is the same per-token
        // polyHash-12 law (TextHashProps pins equality) at ~HOF/50 cost.
        val toks = Tables.documentsParallel(s, d)
          .select(col("doc_id"), tokenHashes(expr(dl.tokens("text")), 12).as("hs"))
          .selectExpr("doc_id", "posexplode(hs) AS (pos, h)")
        val w = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val chunks = toks
          .withColumn("flag", when(col("h") % CdcMod === 0, 1).otherwise(0))
          .withColumn("chunk_id",
            coalesce(sum("flag").over(w), lit(0)).cast("long"))
          .groupBy("doc_id", "chunk_id")
          .agg(expr("aggregate(array_sort(collect_list(struct(pos, h)))," +
              s" CAST(0 AS BIGINT), (a, x) -> (a * 131 + x.h) % ${Dialect.M})")
              .as("sig"),
            count(lit(1)).as("n_toks"))
        val dup = chunks.groupBy("sig")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") >= 2)
          .select(col("sig"), lit(1).as("isdup"))
        chunks.join(dup, Seq("sig"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(coalesce(col("isdup"), lit(0))).cast("long").as("n_dup_chunks"),
            sum(when(col("isdup").isNotNull, col("n_toks")).otherwise(0L))
              .cast("long").as("dup_tokens"))
          .orderBy("doc_id")
      }, {
        val dl = DuckSql
        val fold = dl.foldBig("list(h ORDER BY pos)", "a", "x",
          s"((a * 131 + x) % ${Dialect.M})")
        s"""WITH th AS (
           |  SELECT doc_id, ${dl.transform(dl.tokens("text"), "t",
                  dl.polyHash("t", 12))} AS hs
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id,
           |    unnest(generate_series(1, ${dl.sizeL("hs")})) AS pos,
           |    unnest(hs) AS h
           |  FROM th),
           |flagged AS (
           |  SELECT doc_id, pos, h,
           |    CASE WHEN h % $CdcMod = 0 THEN 1 ELSE 0 END AS flag
           |  FROM pos),
           |cid AS (
           |  SELECT doc_id, pos, h,
           |    coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS chunk_id
           |  FROM flagged),
           |chunks AS (
           |  SELECT doc_id, chunk_id, $fold AS sig, count(*) AS n_toks
           |  FROM cid GROUP BY doc_id, chunk_id),
           |dup AS (SELECT sig FROM (
           |  SELECT sig, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY sig)
           |  WHERE nd >= 2)
           |SELECT c.doc_id, count(*) AS n_chunks,
           |  CAST(sum(CASE WHEN d.sig IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dup_chunks,
           |  CAST(sum(CASE WHEN d.sig IS NOT NULL THEN n_toks ELSE 0 END) AS BIGINT)
           |    AS dup_tokens
           |FROM chunks c LEFT JOIN dup d ON c.sig = d.sig
           |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
      }),

    // VARIABLE-LENGTH longest duplicated substring — the suffix-array
    // side of Lee et al.'s ExactSubstr (q_dedup_substring answers
    // "any window of width W repeated?"; this answers "HOW LONG is the
    // longest repeat?", capped at SubC chars): per doc, the maximum
    // common-prefix length between any of its suffixes and any suffix
    // of ANOTHER document.
    //
    // Exactness without an LCP array: in suffix-sorted order,
    // LCP(i, j) = min of adjacent LCPs between i and j, so for every
    // document its max cross-doc LCP is achieved by some ADJACENT pair
    // from different documents (walking from the optimal pair toward
    // its partner only raises the min). So sorting all suffixes and
    // scanning neighbors — lag() over the sorted order — is exact.
    //
    // Distribution without a global sort: any pair with LCP ≥ 2 shares
    // its first 2 characters, so windowing PARTITIONED BY the 2-char
    // prefix preserves exactly the adjacencies that can matter (pairs
    // straddling a prefix boundary have LCP < 2 < MinDup). The shuffle
    // is one SubC-byte-suffix scatter (the suffix-array scatter), each
    // partition sorts locally, the LCP kernel (graft_lcp, codegen'd)
    // runs once per suffix — linear end to end, nothing quadratic,
    // nothing broadcast, no single-task global sort.
    "q_dedup_substring_max" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sfx = Tables.documentsParallel(s, d)
          .selectExpr("doc_id", "text",
            "explode(sequence(1, length(text))) AS pos")
          .selectExpr("doc_id", "pos", s"substring(text, pos, $SubC) AS sfx")
        val w = Window.partitionBy(substring(col("sfx"), 1, 2))
          .orderBy("sfx", "doc_id", "pos")
        val pairs = sfx
          .withColumn("pdoc", lag("doc_id", 1).over(w))
          .withColumn("psfx", lag("sfx", 1).over(w))
          .filter(col("pdoc").isNotNull && col("pdoc") =!= col("doc_id"))
          .select(col("doc_id"), col("pdoc"), lcp(col("sfx"), col("psfx")).as("lcp"))
          .filter(col("lcp") >= MinDup)
        pairs.select("doc_id", "lcp")
          .unionAll(pairs.selectExpr("pdoc AS doc_id", "lcp"))
          .groupBy("doc_id")
          .agg(max("lcp").as("max_dup_len"))
          .orderBy("doc_id")
      },
      s"""WITH sfx AS (
         |  SELECT doc_id, CAST(zz AS INT) AS pos,
         |    substr(text, CAST(zz AS INT), $SubC) AS s
         |  FROM (SELECT doc_id, text,
         |      unnest(generate_series(1, length(text))) AS zz
         |    FROM documents)),
         |adj AS (
         |  SELECT doc_id, s, pos,
         |    lag(doc_id) OVER win AS pdoc, lag(s) OVER win AS ps
         |  FROM sfx
         |  WINDOW win AS (PARTITION BY substr(s, 1, 2)
         |                 ORDER BY s, doc_id, pos)),
         |pairs AS (
         |  SELECT doc_id, pdoc,
         |    least(coalesce(nullif(list_position(
         |      list_transform(generate_series(1, $SubC),
         |        k -> substr(s, CAST(k AS INT), 1) = substr(ps, CAST(k AS INT), 1)),
         |      false), 0), ${SubC + 1}) - 1,
         |      length(s), length(ps)) AS lcp
         |  FROM adj WHERE pdoc IS NOT NULL AND pdoc <> doc_id),
         |qual AS (SELECT doc_id, pdoc, lcp FROM pairs WHERE lcp >= $MinDup),
         |cand AS (
         |  SELECT doc_id, lcp FROM qual
         |  UNION ALL SELECT pdoc AS doc_id, lcp FROM qual)
         |SELECT doc_id, CAST(max(lcp) AS INT) AS max_dup_len
         |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Blocked EDIT-DISTANCE similarity join — the string-level fuzzy
    // matcher next to the set-level family (shingle Jaccard, MinHash):
    // the record-linkage / catalog-dedup shape. The block key is
    // (brand, size) plus a length gap ≤ 5 — both are part of the BLOCK
    // DEFINITION (pairs outside them are out of scope by design, the
    // standard blocking trade-off, fixture-tuned like q_dedup_ngram's
    // lang/length blocks; identical in the oracle text, so the gate
    // checks the same contract). Levenshtein is integer unit-cost edit
    // distance, bit-identical in both engines on ASCII. At scale:
    // candidates shuffle on the block key; the O(nm) DP runs
    // partition-local; nothing broadcasts and nothing is all-pairs.
    "q_fuzzy_join" -> QueryDef(
      (s, d) => {
        val p = Tables.part(s, d)
        val a = p.selectExpr("p_partkey AS key_a", "p_brand", "p_size",
          "p_name AS name_a")
        val b = p.selectExpr("p_partkey AS key_b", "p_brand", "p_size",
          "p_name AS name_b")
        a.join(b, Seq("p_brand", "p_size"))
          .filter(col("key_a") < col("key_b") &&
            expr("abs(length(name_a) - length(name_b)) <= 5"))
          .selectExpr("key_a", "key_b",
            "CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev")
          .filter(col("lev") <= 12)
          .orderBy("key_a", "key_b")
      },
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 5
        |WHERE levenshtein(a.p_name, b.p_name) <= 12
        |ORDER BY key_a, key_b""".stripMargin),

    // Exact hashed-3-gram Jaccard, blocked by (lang, ±1 length band).
    "q_dedup_ngram" -> QueryDef(
      (s, d) => {
        // shingle sets computed once (scratch-persisted, released by the
        // runner via ScratchCache.release), not per self-join branch
        val docs = ScratchCache.scratch(Tables.documentsParallel(s, d)
          .select(col("doc_id"), col("lang"),
            expr(s"${SparkSql.idiv("n_chars", "100")} AS band"),
            shingleSet.as("hs")))
        // CANDIDATE ENUMERATION, r06 rewrite. The r05 version
        // self-joined on (lang, band, salt) — an equi-join whose key
        // space (|langs|×|bands|×NSalt) is FIXED while bucket depth
        // grows with the corpus, so candidate pairs grew with depth²:
        // the 10× scale-stress run measured 32× the runtime at 10× the
        // data (SCALE_r06.json) — salting had fixed the per-task skew
        // (r05, 33×→1.03×) but not the total work. Blocking with a key
        // space that does not grow with the data is quadratic no
        // matter how it is salted.
        //
        // The fix is q_dedup_prefix's machinery INSIDE the blocks: a
        // df-ordered prefix-filter join (Bayardo WWW'07 / Xiao WWW'08
        // — see q_dedup_prefix below for the theorem) enumerates only
        // pairs sharing a rare prefix shingle — a join key (shingle,
        // lang) whose cardinality GROWS with the corpus vocabulary —
        // and the block predicates (same lang, |band|≤1, size ratio)
        // plus PPJoin's positional cap drop non-candidates map-side
        // right after the equi-join. Jaccard ≥ t pairs all share a
        // prefix element (prefix theorem), and every other filter here
        // only restricts further, so the enumeration finds EXACTLY the
        // oracle's pairs — the oracle text is unchanged. Cost at 1× is
        // two extra vocab-bounded shuffles (df + packed re-group);
        // at 10× the candidate volume follows true-pair volume
        // (~linear) instead of bucket-depth².
        val ex = ScratchCache.scratch(
          docs.selectExpr("doc_id", "explode(hs) AS s"))
        val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
        val packed = ScratchCache.scratch(ex.join(dfTab, "s")
          .selectExpr("doc_id", s"(df * ${graft.oracle.Dialect.M} + s) AS c")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("c"))).as("cs"),
            count(lit(1)).as("sz"))
          .join(docs.select("doc_id", "lang", "band"), "doc_id"))
        val pre = packed.selectExpr("doc_id", "lang", "band", "sz",
          s"posexplode(${SparkSql.sliceTo("cs", "sz - (7 * sz + 9) div 10 + 1")}) AS (p, c)")
        val cand = pre.selectExpr("doc_id AS doc_id_a", "lang",
            "band AS band_a", "sz AS sa0", "p AS pa", "c")
          .join(pre.selectExpr("doc_id AS doc_id_b", "lang",
            "band AS band_b", "sz AS sb0", "p AS pb", "c"), Seq("c", "lang"))
          .filter(col("doc_id_a") < col("doc_id_b") &&
            expr("abs(band_a - band_b) <= 1") &&
            expr("10 * sb0 >= 7 * sa0") && expr("10 * sa0 >= 7 * sb0") &&
            expr("1 + least(sa0 - (pa + 1), sb0 - (pb + 1)) >= " +
              "(7 * (sa0 + sb0) + 16) div 17"))
          .select("doc_id_a", "doc_id_b")
          .distinct()
        // arrays come back via SHUFFLED equi-joins on doc_id (as the
        // minhash path does): candidate volume per doc is bounded by the
        // block size, and nothing is broadcast — at corpus scale the
        // shingle table does not fit on one executor.
        val ha = docs.selectExpr("doc_id AS doc_id_a", "hs AS ha")
        val hb = docs.selectExpr("doc_id AS doc_id_b", "hs AS hb")
        cand.join(ha, "doc_id_a").join(hb, "doc_id_b")
          .select(interSizes("doc_id_a", "doc_id_b", "ha", "hb"): _*)
          .selectExpr("doc_id_a", "doc_id_b", s"$jacFromCols AS jaccard")
          .filter(col("jaccard") >= JaccardThreshold)
          .orderBy("doc_id_a", "doc_id_b")
      }, {
        val d = DuckSql
        s"""WITH sh AS (SELECT doc_id, lang, ${d.idiv("n_chars", "100")} AS band,
           |    ${shingleHashSet(d)} AS hs FROM documents),
           |p AS (
           |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           |    ${d.sizeL(d.intersectL("a.hs", "b.hs"))} AS inter,
           |    ${d.sizeL("a.hs")} AS sa, ${d.sizeL("b.hs")} AS sb
           |  FROM sh a JOIN sh b
           |    ON a.lang = b.lang AND abs(a.band - b.band) <= 1
           |   AND a.doc_id < b.doc_id
           |)
           |SELECT doc_id_a, doc_id_b, $jacFromCols AS jaccard
           |FROM p WHERE $jacFromCols >= $JaccardThreshold
           |ORDER BY doc_id_a, doc_id_b""".stripMargin
      }),

    // Prefix-filtered set-similarity join (the AllPairs / PPJoin family:
    // Bayardo et al. WWW'07, Xiao et al. WWW'08) — the EXACT global
    // near-dup join, complementing MinHash (probabilistic candidates)
    // and q_dedup_ngram (blocked by lang/length): NO blocking assumption
    // and NO false negatives, yet never all-pairs.
    //
    // Principle: order every doc's shingles by ONE global total order
    // and keep only each doc's PREFIX of length |x| - ceil(t·|x|) + 1.
    // Any pair with J(a,b) ≥ t needs overlap ≥ ceil(t/(1+t)·(|a|+|b|))
    // ≥ ceil(t·max(|a|,|b|)) (given the length filter |a| ≥ t·|b| and
    // vice versa, which J ≥ t implies), and two sets whose overlap is
    // that large MUST share an element inside both prefixes — so the
    // prefix equi-join finds every qualifying pair. The global order is
    // (document frequency, shingle) packed into one BIGINT (df·M + hash
    // with M = 1000000007 = the polyHash modulus, so hash < M and the
    // packing is injective AND df-major; df ≤ doc count keeps the
    // product well inside BIGINT): rare
    // shingles sort first, so prefixes hold the rarest shingles and the
    // equi-join fan-out per key is minimal — boilerplate shingles never
    // enumerate candidates.
    //
    // Scale shape: df is one map-combinable shuffle; prefixes are ~30%
    // of shingle volume; candidates are id-pairs only (arrays come back
    // via shuffled doc_id joins, nothing broadcast). All arithmetic
    // BIGINT → the DuckDB oracle replays it bit-for-bit.
    "q_dedup_prefix" -> QueryDef(
      (s, d) => {
        val ex = ScratchCache.scratch(Tables.documentsParallel(s, d)
          .select(col("doc_id"), explode(shingleSet).as("s")))
        val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
        val docs = ScratchCache.scratch(ex.join(dfTab, "s")
          .selectExpr("doc_id", s"(df * ${graft.oracle.Dialect.M} + s) AS c")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("c"))).as("cs"),
            count(lit(1)).as("sz")))
        // prefix entries carry their POSITION so the candidate join can
        // apply PPJoin's positional filter (Xiao et al. WWW'08 §3.2):
        // a shared prefix element at 1-based positions (pa1, pb1) caps
        // the total overlap at 1 + min(sa - pa1, sb - pb1). A pair
        // qualifies iff ANY shared prefix element's cap reaches
        // minoverlap = ceil(t/(1+t)·(sa+sb)) = ceil(7(sa+sb)/17), so the
        // filter is applied PER ROW, before any shuffle: token pairs
        // failing their own cap drop map-side, and the surviving rows
        // dedup with one distinct — strictly less shuffle volume than
        // aggregating every shared-token pair and filtering after
        // (provably no false negatives either way: the max-cap pair
        // survives iff some row survives).
        val pre = docs.selectExpr("doc_id", "sz",
          s"posexplode(${SparkSql.sliceTo("cs", "sz - (7 * sz + 9) div 10 + 1")}) AS (p, c)")
        val cand = pre.selectExpr("doc_id AS doc_id_a", "sz AS sa0", "p AS pa", "c")
          .join(pre.selectExpr("doc_id AS doc_id_b", "sz AS sb0", "p AS pb", "c"), "c")
          .filter(col("doc_id_a") < col("doc_id_b") &&
            expr("10 * sb0 >= 7 * sa0") && expr("10 * sa0 >= 7 * sb0") &&
            expr("1 + least(sa0 - (pa + 1), sb0 - (pb + 1)) >= " +
              "(7 * (sa0 + sb0) + 16) div 17"))
          .select("doc_id_a", "doc_id_b")
          .distinct()
        val xa = docs.selectExpr("doc_id AS doc_id_a", "cs AS ca")
        val xb = docs.selectExpr("doc_id AS doc_id_b", "cs AS cb")
        cand.join(xa, "doc_id_a").join(xb, "doc_id_b")
          .select(interSizes("doc_id_a", "doc_id_b", "ca", "cb"): _*)
          .selectExpr("doc_id_a", "doc_id_b", s"$jacFromCols AS jaccard")
          .filter(col("jaccard") >= JaccardThreshold)
          .orderBy("doc_id_a", "doc_id_b")
      }, {
        val d = DuckSql
        s"""WITH ex AS (SELECT doc_id, unnest(${shingleHashSet(d)}) AS s FROM documents),
           |dfq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
           |docs AS (
           |  SELECT doc_id, ${d.sortL(s"list(df * ${graft.oracle.Dialect.M} + ex.s)")} AS cs,
           |    count(*) AS sz
           |  FROM ex JOIN dfq ON ex.s = dfq.s GROUP BY doc_id
           |),
           |pre AS (
           |  SELECT doc_id, sz,
           |    unnest(${d.sliceTo("cs", s"sz - ${d.idiv("7 * sz + 9", "10")} + 1")}) AS c
           |  FROM docs
           |),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
           |  FROM pre a JOIN pre b ON a.c = b.c AND a.doc_id < b.doc_id
           |   AND 10 * b.sz >= 7 * a.sz AND 10 * a.sz >= 7 * b.sz
           |),
           |p AS (
           |  SELECT doc_id_a, doc_id_b,
           |    ${d.sizeL(d.intersectL("x.cs", "y.cs"))} AS inter,
           |    x.sz AS sa, y.sz AS sb
           |  FROM cand
           |  JOIN docs x ON x.doc_id = doc_id_a
           |  JOIN docs y ON y.doc_id = doc_id_b
           |)
           |SELECT doc_id_a, doc_id_b, $jacFromCols AS jaccard
           |FROM p WHERE $jacFromCols >= $JaccardThreshold
           |ORDER BY doc_id_a, doc_id_b""".stripMargin
      }),

    // MinHash + LSH banding → exact-Jaccard verification. The scale path.
    "q_dedup_minhash" -> QueryDef(
      (s, d) => minhashVerifiedPairs(s, d).orderBy("doc_id_a", "doc_id_b"),
      s"""WITH ${minhashPairsCte(DuckSql)}
         |SELECT doc_id_a, doc_id_b, $jacFromCols AS jaccard
         |FROM p WHERE $jacFromCols >= $JaccardThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin),

    // Duplicate-cluster resolution: connected components over the
    // verified MinHash pairs, labeling every clustered doc with its
    // component's minimum doc_id and a canonical-keeper verdict — the
    // final stage that turns pairwise near-dup hits into keep/drop sets.
    // Distributed shape: iterative min-label propagation (the
    // Pregel/GraphX-CC pattern) — each round is one bounded shuffle
    // (neighbor-min groupBy + label join); rounds ≤ component diameter,
    // which for dedup clusters is tiny (dup clusters are near-cliques:
    // banding links most members directly). The driver-side loop holds
    // only the convergence COUNT, never data. The DuckDB oracle computes
    // the same labels via a recursive min-reachability CTE.
    "q_dedup_cluster" -> QueryDef(
      (s, d) => {
        val pairs = ScratchCache.scratch(
          minhashVerifiedPairs(s, d).select("doc_id_a", "doc_id_b"))
        val edges = ScratchCache.scratch(
          pairs.selectExpr("doc_id_a AS src", "doc_id_b AS dst")
            .unionAll(pairs.selectExpr("doc_id_b AS src", "doc_id_a AS dst")))
        var labels = ScratchCache.scratch(
          edges.select(col("src").as("id")).distinct()
            .withColumn("cluster", col("id")))
        var changed = 1L
        var rounds = 0
        while (changed > 0 && rounds < 50) {
          val nbrMin = edges.join(labels, edges("dst") === labels("id"))
            .groupBy("src").agg(min("cluster").as("nbr_min"))
          // prev rides along so convergence detection is one cached scan,
          // not another id-keyed self-join + shuffle per round
          val next = ScratchCache.scratch(
            labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
              .select(labels("id"),
                least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
                  .as("cluster"),
                labels("cluster").as("prev")))
          changed = next.filter(col("cluster") < col("prev")).count()
          labels = next.select("id", "cluster")
          rounds += 1
        }
        labels
          .selectExpr("id AS doc_id", "cluster AS cluster_id",
            "(cluster = id) AS is_canonical")
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE ${minhashPairsCte(DuckSql)},
         |pairs AS (
         |  SELECT doc_id_a, doc_id_b FROM p
         |  WHERE $jacFromCols >= $JaccardThreshold
         |),
         |edges AS (
         |  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_id_b, doc_id_a FROM pairs
         |),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |walk(id, reach) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
         |)
         |SELECT id AS doc_id, min(reach) AS cluster_id,
         |  (min(reach) = id) AS is_canonical
         |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin),

    // Weighted MinHash with doc-frequency-filtered shingles — the
    // real-corpus noise control for the dedup family (SURVEY §8 item 3):
    // boilerplate shingles (df above ~1% of the corpus) are dropped BEFORE
    // banding so they neither create candidates nor inflate similarity,
    // and the verification metric is an IDF-weighted Jaccard
    // Σw(A∩B)/Σw(A∪B) with integer-quantized weights w = 1000 div df —
    // BIGINT sums are order-independent, so both engines agree exactly;
    // the single double division happens once at the end.
    // Scale shape: df is one map-combinable shuffle on the shingle hash;
    // banding/candidates are the q_dedup_minhash plan on the filtered
    // sets; the intersection weight re-joins the (shingle, weight) arrays
    // by doc_id and runs one codegen'd graft_weighted_intersect call per
    // candidate pair (never all-pairs, nothing broadcast).
    "q_dedup_minhash_weighted" -> QueryDef(
      (s, d) => {
        val ex = ScratchCache.scratch(Tables.documentsParallel(s, d)
          .select(col("doc_id"), explode(shingleSet).as("s")))
        val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nd))
          .filter(expr(s"df <= greatest(CAST($DfCapMin AS BIGINT), n_docs div $DfCapDiv)"))
          .select("s", "df")
        // one collect per doc carrying (shingle, weight) structs: splitting
        // the struct list keeps hs/ws index-aligned by construction (two
        // independent collect_lists would not guarantee a shared order)
        val fsh = ScratchCache.scratch(ex.join(dfTab, "s")
          .selectExpr("doc_id", "s", s"($WScale div df) AS w")
          .groupBy("doc_id")
          .agg(collect_list(struct(col("s"), col("w"))).as("sw"))
          .selectExpr("doc_id",
            "transform(sw, x -> x.s) AS hs",
            "transform(sw, x -> x.w) AS ws",
            "aggregate(sw, CAST(0 AS BIGINT), (a, x) -> a + x.w) AS tw"))
        val bandCols = (0 until Bands).map(b =>
          expr(bandValue(SparkSql, b)).as(s"band_$b"))
        val long = fsh.select(col("doc_id") +: bandCols: _*)
          .select(col("doc_id"),
            posexplode(array((0 until Bands).map(b => col(s"band_$b")): _*)))
          .withColumnRenamed("pos", "band_idx")
          .withColumnRenamed("col", "band_val")
        val cand = long.as("x").join(long.as("y"),
            col("x.band_idx") === col("y.band_idx") &&
              col("x.band_val") === col("y.band_val") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"))
          .dropDuplicates("doc_id_a", "doc_id_b")
        // array re-join on doc_id (the q_dedup_minhash shape): the weighted
        // intersection is ONE codegen'd expression call per candidate pair
        // instead of a shingle-level (doc_id, s) shuffle + re-aggregation
        val fa = fsh.selectExpr("doc_id AS doc_id_a", "hs AS ha_arr",
          "ws AS wa_arr", "tw AS wa")
        val fb = fsh.selectExpr("doc_id AS doc_id_b", "hs AS hb_arr", "tw AS wb")
        cand.join(fa, "doc_id_a").join(fb, "doc_id_b")
          .select(col("doc_id_a"), col("doc_id_b"),
            weightedIntersect(col("ha_arr"), col("wa_arr"), col("hb_arr")).as("iw"),
            col("wa"), col("wb"))
          .selectExpr("doc_id_a", "doc_id_b",
            "(CAST(iw AS DOUBLE) / (wa + wb - iw)) AS wjaccard")
          .filter(col("wjaccard") >= WJacThreshold)
          .orderBy("doc_id_a", "doc_id_b")
      }, {
        val d = DuckSql
        val bandSelects = (0 until Bands).map(b =>
          s"SELECT doc_id, $b AS band_idx, ${bandValue(d, b)} AS band_val FROM fsh")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH ex AS (SELECT doc_id, unnest(${shingleHashSet(d)}) AS s FROM documents),
           |nd AS (SELECT count(*) AS n_docs FROM documents),
           |dfq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
           |keep AS (
           |  SELECT doc_id, ex.s, CAST(($WScale // df) AS BIGINT) AS w
           |  FROM ex JOIN dfq ON ex.s = dfq.s, nd
           |  WHERE df <= greatest($DfCapMin, n_docs // $DfCapDiv)
           |),
           |fsh AS (
           |  SELECT doc_id, list(s) AS hs, CAST(sum(w) AS BIGINT) AS tw
           |  FROM keep GROUP BY doc_id
           |),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
           |  FROM bands x JOIN bands y
           |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
           |   AND x.doc_id < y.doc_id
           |),
           |iw AS (
           |  SELECT doc_id_a, doc_id_b, CAST(sum(ka.w) AS BIGINT) AS iw
           |  FROM cand
           |  JOIN keep ka ON ka.doc_id = doc_id_a
           |  JOIN keep kb ON kb.doc_id = doc_id_b AND kb.s = ka.s
           |  GROUP BY doc_id_a, doc_id_b
           |)
           |SELECT doc_id_a, doc_id_b,
           |  (CAST(iw AS DOUBLE) / (ta.tw + tb.tw - iw)) AS wjaccard
           |FROM iw
           |JOIN fsh ta ON ta.doc_id = doc_id_a
           |JOIN fsh tb ON tb.doc_id = doc_id_b
           |WHERE (CAST(iw AS DOUBLE) / (ta.tw + tb.tw - iw)) >= $WJacThreshold
           |ORDER BY doc_id_a, doc_id_b""".stripMargin
      }),

    // Incremental-corpus dedup: a batch of ARRIVING docs (doc_id % 10 = 0
    // stands in for the next ingest micro-batch) is checked for near-dups
    // against the EXISTING corpus only — never arrival×arrival or
    // corpus×corpus. This is the streaming half of the dedup story: at
    // 100 TB the corpus band table is computed once, written bucketed by
    // (band_idx, band_val), and each batch's cost scales with the BATCH
    // size (band its docs, bucket-join, verify candidates) — not with
    // corpus size. Same banding + verification arithmetic as
    // q_dedup_minhash, so the oracle replays it exactly.
    "q_dedup_incremental" -> QueryDef(
      (s, d) => {
        val docs = ScratchCache.scratch(Tables.documentsParallel(s, d)
          .select(col("doc_id"), shingleSet.as("hs")))
        val bandCols = (0 until Bands).map(b =>
          expr(bandValue(SparkSql, b)).as(s"band_$b"))
        val long = docs.select(col("doc_id") +: col("hs") +: bandCols: _*)
          .select(col("doc_id"),
            posexplode(array((0 until Bands).map(b => col(s"band_$b")): _*)))
          .withColumnRenamed("pos", "band_idx")
          .withColumnRenamed("col", "band_val")
        val corpus = long.filter(col("doc_id") % 10 =!= 0)
        val arrivals = long.filter(col("doc_id") % 10 === 0)
        val cand = arrivals.as("x").join(corpus.as("y"),
            col("x.band_idx") === col("y.band_idx") &&
              col("x.band_val") === col("y.band_val"))
          .select(col("x.doc_id").as("arrival_id"), col("y.doc_id").as("corpus_id"))
          .dropDuplicates("arrival_id", "corpus_id")
        val a = docs.selectExpr("doc_id AS arrival_id", "hs AS ha")
        val b = docs.selectExpr("doc_id AS corpus_id", "hs AS hb")
        cand.join(a, "arrival_id").join(b, "corpus_id")
          .select(interSizes("arrival_id", "corpus_id", "ha", "hb"): _*)
          .selectExpr("arrival_id", "corpus_id", s"$jacFromCols AS jaccard")
          .filter(col("jaccard") >= JaccardThreshold)
          .orderBy("arrival_id", "corpus_id")
      }, {
        val d = DuckSql
        val bandSelects = (0 until Bands).map(b =>
          s"SELECT doc_id, $b AS band_idx, ${bandValue(d, b)} AS band_val FROM hsets")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH hsets AS (SELECT doc_id, ${shingleHashSet(d)} AS hs FROM documents),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS arrival_id, y.doc_id AS corpus_id
           |  FROM bands x JOIN bands y
           |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
           |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
           |),
           |p AS (
           |  SELECT arrival_id, corpus_id,
           |    ${d.sizeL(d.intersectL("a.hs", "b.hs"))} AS inter,
           |    ${d.sizeL("a.hs")} AS sa, ${d.sizeL("b.hs")} AS sb
           |  FROM cand
           |  JOIN hsets a ON a.doc_id = arrival_id
           |  JOIN hsets b ON b.doc_id = corpus_id
           |)
           |SELECT arrival_id, corpus_id, $jacFromCols AS jaccard
           |FROM p WHERE $jacFromCols >= $JaccardThreshold
           |ORDER BY arrival_id, corpus_id""".stripMargin
      }),

    // SimHash near-dup: banded candidates, provably equal to all-pairs.
    "q_dedup_simhash" -> QueryDef(
      (s, d) => {
        // persist the tiny (doc_id, signature) frame so the self-join does
        // not recompute the signature on both branches; signature runs in
        // the native TokenPolyHashes + SimHashExpr loops
        val docs = ScratchCache.scratch(Tables.documentsParallel(s, d)
          .select(col("doc_id"),
            tokenHashes(expr(SparkSql.tokens("text")), 12).as("th"))
          .select(col("doc_id"), simhash(col("th"), SimBits).cast("bigint").as("sh")))
        // disjoint candidate generation — a pair joins on chunk 0, or on
        // chunk 1 only when chunk 0 differs — so candidates are unique by
        // construction and no dedup shuffle is needed
        val withChunks = docs.selectExpr(Seq("doc_id", "sh") ++
          (0 until SimChunks).map(c =>
            s"(${SparkSql.shiftR("sh", (SimChunkBits * c).toString)} % ${1 << SimChunkBits}) AS chunk_$c"): _*)
        val x = withChunks.selectExpr(Seq("doc_id AS doc_id_a", "sh AS sha") ++
          (0 until SimChunks).map(c => s"chunk_$c AS xc_$c"): _*)
        val y = withChunks.selectExpr(Seq("doc_id AS doc_id_b", "sh AS shb") ++
          (0 until SimChunks).map(c => s"chunk_$c AS yc_$c"): _*)
        val perChunk = (0 until SimChunks).map { c =>
          val priorDiffer = (0 until c)
            .map(p => col(s"xc_$p") =!= col(s"yc_$p"))
            .foldLeft(lit(true))(_ && _)
          x.join(y, col(s"xc_$c") === col(s"yc_$c") &&
              col("doc_id_a") < col("doc_id_b") && priorDiffer)
            .select(col("doc_id_a"), col("doc_id_b"), col("sha"), col("shb"))
        }
        perChunk.reduce(_ unionAll _)
          .selectExpr("doc_id_a", "doc_id_b",
            s"CAST(bit_count(${SparkSql.xorB("sha", "shb")}) AS INT) AS hamming")
          .filter(col("hamming") <= HammingMax)
          .orderBy("doc_id_a", "doc_id_b")
      }, {
        val d = DuckSql
        s"""WITH th AS (SELECT doc_id,
           |    ${d.transform(d.tokens("text"), "t", d.polyHash("t", 12))} AS th
           |  FROM documents),
           |sh AS (SELECT doc_id, CAST(${simhashFromTh(d)} AS BIGINT) AS sh FROM th)
           |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           |  CAST(bit_count(${d.xorB("a.sh", "b.sh")}) AS INT) AS hamming
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE bit_count(${d.xorB("a.sh", "b.sh")}) <= $HammingMax
           |ORDER BY doc_id_a, doc_id_b""".stripMargin
      })
  )
}
