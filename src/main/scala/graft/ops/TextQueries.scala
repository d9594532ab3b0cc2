package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{array_sort, broadcast, col, count, explode, expr,
  greatest, lit, row_number, size, sum}

import graft.functions.{shingleHashSet, textStats, tokenCounts, tokens}
import graft.oracle.{Dialect, DuckSql, SparkSql}
import graft.{QueryDef, Tables}

/** Text-analysis family over the `documents` table — the operators a
  * training-data pipeline runs on raw text at 100 TB (beyond the Tez
  * reference surface; SURVEY.md §2c gap analysis / extension mandate).
  *
  * All arithmetic is generated for BOTH engines from graft.oracle.Dialect
  * so the DuckDB oracle is bit-identical: integer token counts, one-shot
  * double divisions, deterministic polynomial hashes.
  *
  * Scale notes: every query here is embarrassingly parallel per document
  * (narrow scan → project → small groupBy), i.e. map-side only except the
  * final aggregate — these pipelines are scan-bound at 100 TB, exactly
  * what you want.
  */
object TextQueries {

  private def both(f: Dialect => String): (String, String) =
    (f(SparkSql), f(DuckSql))

  // ---- q_text_stats: per-document quality scoring ----
  private def statsExprs(d: Dialect): Seq[String] = {
    val toks = d.tokens("text")
    val nTok = d.sizeL(toks)
    val nDis = d.sizeL(d.distinctL(toks))
    val totChars = d.foldBig(d.transform(toks, "t", "length(t)"), "a", "x", "a + x")
    val stops = d.sizeL(d.filterL(toks, "t", "t IN ('the', 'a', 'of', 'and')"))
    Seq(
      s"CAST($nTok AS BIGINT) AS n_tokens",
      s"CAST($nDis AS BIGINT) AS n_distinct",
      s"(CAST($totChars AS DOUBLE) / $nTok) AS avg_token_len",
      s"(CAST($nDis AS DOUBLE) / $nTok) AS distinct_ratio",
      s"(CAST($stops AS DOUBLE) / $nTok) AS stopword_ratio",
      s"(0.5 * (CAST($nDis AS DOUBLE) / $nTok) + 0.3 * (CAST($stops AS DOUBLE) / $nTok)" +
        s" + 0.2 * least(CAST($nTok AS DOUBLE) / 100.0, 1.0)) AS quality_score")
  }

  // ---- q_lang_id: wordlist-scoring language guess ----
  // Marker stopword lists per language. NOTE: the fixture text is a
  // shared synthetic vocabulary, so real-language markers rarely hit and
  // the tie-break dominates — the query demonstrates the scoring
  // mechanism (hit-count argmax with deterministic priority), which is
  // what the oracle checks.
  private val markers = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "zai", "le", "he"))

  private def langExprs(d: Dialect): Seq[String] = {
    val toks = d.tokens("text")
    val scores = markers.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      lang -> d.sizeL(d.filterL(toks, "t", s"t IN ($inList)"))
    }
    val scoreCols = scores.map { case (l, e) => s"CAST($e AS BIGINT) AS score_$l" }
    val others = (l: String) => scores.filter(_._1 != l).map(_._2)
    val pred = scores.map { case (l, e) =>
      s"WHEN $e >= greatest(${others(l).mkString(", ")}) THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    scoreCols :+ s"$pred AS pred_lang"
  }

  // ---- q_token_count: whitespace + BPE-ish regex tokenization ----
  private def tokenCountExprs(d: Dialect): Seq[String] = {
    val ws = d.tokens("text")
    val re = d.tokensRe("text")
    val bpe = d.foldBig(
      d.transform(re, "t", d.idiv("length(t) + 3", "4")), "a", "x", "a + x")
    Seq(
      s"CAST(${d.sizeL(ws)} AS BIGINT) AS n_ws_tokens",
      s"CAST(${d.sizeL(re)} AS BIGINT) AS n_re_tokens",
      s"CAST($bpe AS BIGINT) AS n_bpe_units")
  }

  // ---- q_doc_fingerprint: rolling polynomial hash over token hashes ----
  private def fingerprintExpr(d: Dialect): String = {
    val toks = d.tokens("text")
    val tokHashes = d.transform(toks, "t", d.polyHash("t", 12))
    d.foldBig(tokHashes, "acc", "h", s"(acc * 131 + h) % ${Dialect.M}")
  }

  // ---- q_entropy: per-document token-distribution entropy ----
  // Shannon entropy over the token frequency distribution, normalized
  // entropy (H / log2(vocab)), and perplexity (2^H) — the model-free
  // "how predictable is this document" scores a curation pipeline uses
  // next to the Gopher gates. Float determinism: the fold runs over the
  // SORTED distinct-token list (engine-native distinct orders differ),
  // every per-token term is computed with identical op order in both
  // engines, and the transcendental outputs (log2 implementations may
  // differ in the last ulp) are rounded to 6 decimals.
  private def entropyFold(d: Dialect): String = {
    val cnt = d.sizeL(d.filterL("toks", "x", "x = t"))
    // tokens → per-token DOUBLE terms first: foldDbl's accumulator-seed
    // trick needs a numeric element type in both engines.
    val terms = d.transform(
      d.sortL(d.distinctL("toks")), "t",
      s"(CAST($cnt AS DOUBLE) / n_tokens)" +
        s" * log2(CAST(n_tokens AS DOUBLE) / $cnt)")
    d.foldDbl(terms, "acc", "v", "acc + v")
  }

  private val entropyFinal = Seq(
    "round(h, 6) AS token_entropy",
    "round(CASE WHEN n_distinct > 1 THEN h / log2(CAST(n_distinct AS DOUBLE))" +
      " ELSE 0.0 END, 6) AS norm_entropy",
    "round(power(2.0, h), 6) AS perplexity")

  // ---- q_unigram_lm: per-language unigram language-model statistics ----
  // Corpus-level token distribution → entropy/perplexity of the unigram
  // LM per language. Plan shape: explode → count per (lang, token) —
  // the shuffle is bounded by VOCABULARY size, not corpus size — then
  // one tiny per-lang reduce whose state is the per-token count list
  // (again vocab-bounded). The final fold runs over counts ordered by
  // token so both engines accumulate in the same order.
  private def lmTotal(d: Dialect): String = d.foldBig("counts", "a", "c", "a + c")
  private def lmH(d: Dialect): String =
    d.foldDbl("counts", "acc", "c",
      "acc + (CAST(c AS DOUBLE) / total_tokens)" +
        " * log2(CAST(total_tokens AS DOUBLE) / c)")

  val defs: Map[String, QueryDef] = {
    val statsD = statsExprs(DuckSql)
    val (langS, langD) = (langExprs(SparkSql), langExprs(DuckSql))
    val tcD = tokenCountExprs(DuckSql)
    val (fpS, fpD) = both(fingerprintExpr)

    Map(
      // Spark side runs the one-pass native TextStatsExpr; the ratio
      // expressions divide the same integers in the same order as the
      // oracle's HOF pipeline, so values stay bit-identical.
      "q_text_stats" -> QueryDef(
        (s, dir) => {
          Tables.documentsParallel(s, dir)
            .select(col("doc_id"), col("lang"),
              textStats(tokens(col("text"))).as("st"))
            .selectExpr("doc_id", "lang",
              "st.n_tokens AS n_tokens",
              "st.n_distinct AS n_distinct",
              "(CAST(st.total_chars AS DOUBLE) / st.n_tokens) AS avg_token_len",
              "(CAST(st.n_distinct AS DOUBLE) / st.n_tokens) AS distinct_ratio",
              "(CAST(st.stop_hits AS DOUBLE) / st.n_tokens) AS stopword_ratio",
              "(0.5 * (CAST(st.n_distinct AS DOUBLE) / st.n_tokens)" +
                " + 0.3 * (CAST(st.stop_hits AS DOUBLE) / st.n_tokens)" +
                " + 0.2 * least(CAST(st.n_tokens AS DOUBLE) / 100.0, 1.0)) AS quality_score")
            .orderBy("doc_id")
        },
        s"""SELECT doc_id, lang, ${statsD.mkString(", ")}
           |FROM documents ORDER BY doc_id""".stripMargin),

      "q_lang_id" -> QueryDef(
        (s, dir) =>
          Tables.documentsParallel(s, dir)
            .selectExpr(Seq("doc_id", "lang") ++ langS: _*)
            .orderBy("doc_id"),
        s"""SELECT doc_id, lang, ${langD.mkString(", ")}
           |FROM documents ORDER BY doc_id""".stripMargin),

      // Per-(lang, source) corpus token accounting — the shuffle is tiny
      // (100 groups) regardless of corpus size; all heavy work is map-side.
      // The Spark side runs the one-pass native TokenCountsExpr (no token
      // arrays materialized); integer outputs equal the oracle's dual HOF
      // splits exactly (graft.functions.TextHashKernels.tokenCounts).
      "q_token_count" -> QueryDef(
        (s, dir) => {
          Tables.documentsParallel(s, dir)
            .select(col("lang"), col("source"), tokenCounts(col("text")).as("tc"))
            .selectExpr("lang", "source",
              "tc.n_ws_tokens AS n_ws_tokens",
              "tc.n_re_tokens AS n_re_tokens",
              "tc.n_bpe_units AS n_bpe_units")
            .groupBy("lang", "source")
            .agg(
              count(lit(1)).as("n_docs"),
              sum("n_ws_tokens").as("sum_ws_tokens"),
              sum("n_re_tokens").as("sum_re_tokens"),
              sum("n_bpe_units").as("sum_bpe_units"))
            .orderBy("lang", "source")
        },
        s"""SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(n_ws_tokens) AS BIGINT) AS sum_ws_tokens,
           |  CAST(sum(n_re_tokens) AS BIGINT) AS sum_re_tokens,
           |  CAST(sum(n_bpe_units) AS BIGINT) AS sum_bpe_units
           |FROM (SELECT lang, source, ${tcD.mkString(", ")} FROM documents)
           |GROUP BY lang, source ORDER BY lang, source""".stripMargin),

      // Per-doc repetition ratio: the fraction of word-3-gram slots whose
      // shingle repeats an earlier one (1 - distinct/total). Repetitive
      // boilerplate is a primary removal signal in corpus curation; the
      // arithmetic is two integers and one division, so both engines
      // agree exactly. Map-side only.
      "q_repetition" -> QueryDef(
        (s, dir) => {
          val toks = tokens(col("text"))
          Tables.documentsParallel(s, dir)
            .select(col("doc_id"),
              greatest(size(toks) - 2, lit(1)).as("n_shingles"),
              size(shingleHashSet(toks)).as("n_distinct_shingles"))
            .selectExpr("doc_id", "n_shingles", "n_distinct_shingles",
              "(CAST(n_shingles - n_distinct_shingles AS DOUBLE) / n_shingles)" +
                " AS repetition_ratio")
            .orderBy("doc_id")
        }, {
          val d = DuckSql
          val toks = d.tokens("text")
          val distinctSh =
            d.sizeL(d.distinctL(d.transform(d.shingles3(toks), "s", d.polyHash("s", 24))))
          s"""SELECT doc_id, n_shingles, n_distinct_shingles,
             |  (CAST(n_shingles - n_distinct_shingles AS DOUBLE) / n_shingles)
             |    AS repetition_ratio
             |FROM (SELECT doc_id,
             |    greatest(${d.sizeL(toks)} - 2, 1) AS n_shingles,
             |    $distinctSh AS n_distinct_shingles
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin
        }),

      // Gopher-style quality gate: boolean removal flags composed from
      // the one-pass stats, plus the surviving-document verdict. The
      // thresholds are fixture-scaled; the mechanism (flag columns a
      // curation pipeline audits before dropping) is what is checked.
      "q_quality_filter" -> QueryDef(
        (s, dir) => {
          Tables.documentsParallel(s, dir)
            .select(col("doc_id"),
              textStats(tokens(col("text"))).as("st"))
            .selectExpr("doc_id",
              "(st.n_tokens < 20) AS too_short",
              "(st.n_tokens > 500) AS too_long",
              "((CAST(st.n_distinct AS DOUBLE) / st.n_tokens) < 0.3) AS low_diversity",
              "((CAST(st.stop_hits AS DOUBLE) / st.n_tokens) < 0.01) AS low_stopwords")
            .selectExpr("doc_id", "too_short", "too_long", "low_diversity",
              "low_stopwords",
              "(NOT (too_short OR too_long OR low_diversity OR low_stopwords)) AS keep")
            .orderBy("doc_id")
        }, {
          val d = DuckSql
          val toks = d.tokens("text")
          val nTok = d.sizeL(toks)
          val nDis = d.sizeL(d.distinctL(toks))
          val stops = d.sizeL(d.filterL(toks, "t", "t IN ('the', 'a', 'of', 'and')"))
          s"""SELECT doc_id, too_short, too_long, low_diversity, low_stopwords,
             |  (NOT (too_short OR too_long OR low_diversity OR low_stopwords)) AS keep
             |FROM (SELECT doc_id,
             |    ($nTok < 20) AS too_short,
             |    ($nTok > 500) AS too_long,
             |    ((CAST($nDis AS DOUBLE) / $nTok) < 0.3) AS low_diversity,
             |    ((CAST($stops AS DOUBLE) / $nTok) < 0.01) AS low_stopwords
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin
        }),

      // TF-IDF top-5 terms per language. Classic corpus analytics over
      // the same explode→count shape as q_unigram_lm: the tf shuffle is
      // bounded by lang×vocab, df by vocab, and the tf⋈df join keys on
      // the term (vocab-sized, never corpus-sized); the doc count is a
      // broadcast scalar. Ranking orders by the ROUNDED score with a
      // term tie-break, so both engines rank identically even if log2
      // differs in the last ulp.
      "q_tfidf" -> QueryDef(
        (s, dir) => {
          val docs = Tables.documentsParallel(s, dir)
          // ONE corpus scan, and the per-doc token counting happens
          // MAP-SIDE inside a HOF before the explode: each doc emits one
          // (token, count) row per DISTINCT token, so the shuffle carries
          // distinct-tokens-per-doc rows, not tokens-per-doc. tf and df
          // both derive from this frame (a doc has exactly one lang, so
          // its per-token row count IS the document frequency).
          // per-doc counts via SORTED RUNS, not a nested filter per
          // distinct token: sort once (n log n), mark run starts, and
          // each run's length is the token's count — a very long doc
          // costs n log n, where the distinct×total nested-HOF form
          // would go quadratic (VERDICT r03 hygiene note).
          val docTok = graft.ScratchCache.scratch(
            docs
              .select(col("doc_id"), col("lang"),
                array_sort(tokens(col("text"))).as("toks"))
              .selectExpr("lang", "toks",
                "filter(CASE WHEN size(toks) = 0 THEN array()" +
                  " ELSE sequence(1, size(toks)) END," +
                  " i -> i = 1 OR element_at(toks, i) != element_at(toks, i - 1))" +
                  " AS starts")
              .selectExpr("lang",
                "explode(transform(starts, (st, j) -> struct(" +
                  "element_at(toks, st) AS token, " +
                  "CAST(IF(j + 2 <= size(starts), element_at(starts, j + 2)," +
                  " size(toks) + 1) - st AS BIGINT) AS dtf))) AS e")
              .selectExpr("lang", "e.token AS token", "e.dtf AS dtf"))
          val tf = docTok.groupBy("lang", "token").agg(sum("dtf").as("tf"))
          val df = docTok.groupBy("token").agg(count(lit(1)).as("df"))
          val n = docs.agg(count(lit(1)).as("n_docs"))
          tf.join(df, "token").crossJoin(broadcast(n))
            .selectExpr("lang", "token", "tf", "df",
              "round(tf * log2(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf")
            .withColumn("rnk", row_number().over(
              Window.partitionBy("lang").orderBy(col("tfidf").desc, col("token").asc)))
            .filter(col("rnk") <= 5)
            .selectExpr("lang", "CAST(rnk AS BIGINT) AS rnk", "token", "tf",
              "df", "tfidf")
            .orderBy("lang", "rnk")
        }, {
          val d = DuckSql
          s"""WITH toks AS (
             |  SELECT doc_id, lang, unnest(${d.tokens("text")}) AS token
             |  FROM documents),
             |tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS tf
             |       FROM toks GROUP BY lang, token),
             |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
             |       FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT lang, token, tf, df,
             |    round(tf * log2(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf
             |  FROM tf JOIN df USING (token) CROSS JOIN n),
             |ranked AS (
             |  SELECT lang, token, tf, df, tfidf,
             |    row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, token ASC)
             |      AS rnk
             |  FROM scored)
             |SELECT lang, CAST(rnk AS BIGINT) AS rnk, token, tf, df, tfidf
             |FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin
        }),

      // Per-doc Shannon entropy / perplexity of the token distribution.
      // Map-side only (no shuffle but the final ORDER BY): scan-bound at
      // 100 TB like the rest of the text family.
      "q_entropy" -> QueryDef(
        (s, dir) =>
          Tables.documentsParallel(s, dir)
            .select(col("doc_id"), tokens(col("text")).as("toks"))
            .selectExpr("doc_id", "toks",
              "CAST(size(toks) AS BIGINT) AS n_tokens",
              "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct")
            .selectExpr("doc_id", "n_tokens", "n_distinct",
              s"${entropyFold(SparkSql)} AS h")
            .selectExpr(Seq("doc_id", "n_tokens", "n_distinct") ++ entropyFinal: _*)
            .orderBy("doc_id"), {
          val d = DuckSql
          s"""SELECT doc_id, n_tokens, n_distinct, ${entropyFinal.mkString(", ")}
             |FROM (
             |  SELECT doc_id, n_tokens, n_distinct, ${entropyFold(d)} AS h
             |  FROM (
             |    SELECT doc_id, toks,
             |      CAST(${d.sizeL("toks")} AS BIGINT) AS n_tokens,
             |      CAST(${d.sizeL(d.distinctL("toks"))} AS BIGINT) AS n_distinct
             |    FROM (SELECT doc_id, ${d.tokens("text")} AS toks FROM documents)))
             |ORDER BY doc_id""".stripMargin
        }),

      // Per-language unigram language model: vocabulary size, token mass,
      // entropy and perplexity of the corpus token distribution. The
      // explode→count shuffle is bounded by vocabulary (not corpus) size;
      // the per-lang reduce state is one count per vocab entry.
      "q_unigram_lm" -> QueryDef(
        (s, dir) =>
          Tables.documentsParallel(s, dir)
            .select(col("lang"), explode(tokens(col("text"))).as("token"))
            .groupBy("lang", "token")
            .agg(count(lit(1)).as("cnt"))
            .groupBy("lang")
            .agg(expr(
              "transform(array_sort(collect_list(struct(token, cnt))), x -> x.cnt)")
              .as("counts"))
            .selectExpr("lang", "counts",
              "CAST(size(counts) AS BIGINT) AS vocab_size",
              s"${lmTotal(SparkSql)} AS total_tokens")
            .selectExpr("lang", "vocab_size", "total_tokens",
              s"${lmH(SparkSql)} AS h")
            .selectExpr("lang", "vocab_size", "total_tokens",
              "round(h, 6) AS unigram_entropy",
              "round(power(2.0, h), 6) AS perplexity")
            .orderBy("lang"), {
          val d = DuckSql
          s"""SELECT lang, vocab_size, total_tokens,
             |  round(h, 6) AS unigram_entropy,
             |  round(power(2.0, h), 6) AS perplexity
             |FROM (
             |  SELECT lang, vocab_size, total_tokens, ${lmH(d)} AS h
             |  FROM (
             |    SELECT lang, counts,
             |      CAST(${d.sizeL("counts")} AS BIGINT) AS vocab_size,
             |      ${lmTotal(d)} AS total_tokens
             |    FROM (
             |      SELECT lang, list(cnt ORDER BY token) AS counts
             |      FROM (
             |        SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
             |        FROM (SELECT lang, unnest(${d.tokens("text")}) AS token
             |              FROM documents)
             |        GROUP BY lang, token)
             |      GROUP BY lang)))
             |ORDER BY lang""".stripMargin
        }),

      // Bigram language model statistics — the conditional-probability
      // step past q_unigram_lm: top-10 bigrams per language by corpus
      // count, with p(w2|w1) = c(w1,w2) / Σ_w c(w1,w) (prefix mass from
      // the bigram table itself, so both engines derive it from the
      // same integers). All counting is BIGINT; the single division is
      // computed once and rounded to 6 dp. Rank ties break on the
      // bigram text, so the top-10 cutoff is deterministic. Scale
      // shape: ONE explode pass over the corpus (adjacent-pair
      // generator is map-side) into ONE map-combinable (lang, w1, w2)
      // count shuffle; the prefix mass and the per-lang rank are
      // WINDOWS over that single vocab-bounded count table (r07 — the
      // r06 form derived prefix mass by re-aggregating a second copy
      // of the count subtree and joining it back: 7 exchanges and the
      // corpus pass run twice; the window form is 4 bounded exchanges
      // and one corpus pass).
      "q_bigram_lm" -> QueryDef(
        (s, dir) => {
          import org.apache.spark.sql.expressions.Window
          val bi = Tables.documentsParallel(s, dir)
            .select(col("lang"), tokens(col("text")).as("t"))
            .filter(expr("size(t) >= 2"))
            .selectExpr("lang",
              "explode(transform(sequence(1, size(t) - 1)," +
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))) AS b")
            .selectExpr("lang", "b.w1 AS w1", "b.w2 AS w2")
            .groupBy("lang", "w1", "w2")
            .agg(count(lit(1)).as("cnt"))
          val wp = Window.partitionBy("lang", "w1")
          val wr = Window.partitionBy("lang")
            .orderBy(col("cnt").desc, col("w1"), col("w2"))
          bi.withColumn("prefix_cnt", sum("cnt").over(wp))
            .withColumn("rank", row_number().over(wr))
            .filter(col("rank") <= 10)
            .selectExpr("lang", "CAST(rank AS INT) AS rank", "w1", "w2", "cnt",
              "round(CAST(cnt AS DOUBLE) / prefix_cnt, 6) AS cond_p")
            .orderBy("lang", "rank")
        }, {
          val d = DuckSql
          s"""WITH docs AS (SELECT lang, ${d.tokens("text")} AS t FROM documents),
             |bi AS (
             |  SELECT lang, b.w1 AS w1, b.w2 AS w2 FROM (
             |    SELECT lang, unnest(list_transform(
             |      generate_series(1, ${d.sizeL("t")} - 1),
             |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
             |    FROM docs WHERE ${d.sizeL("t")} >= 2
             |  )
             |),
             |cnts AS (
             |  SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS cnt
             |  FROM bi GROUP BY lang, w1, w2
             |),
             |prefix AS (
             |  SELECT lang, w1, CAST(sum(cnt) AS BIGINT) AS prefix_cnt
             |  FROM cnts GROUP BY lang, w1
             |),
             |ranked AS (
             |  SELECT c.lang, c.w1, c.w2, c.cnt, p.prefix_cnt,
             |    row_number() OVER (PARTITION BY c.lang
             |      ORDER BY c.cnt DESC, c.w1, c.w2) AS rank
             |  FROM cnts c JOIN prefix p ON c.lang = p.lang AND c.w1 = p.w1
             |)
             |SELECT lang, CAST(rank AS INT) AS rank, w1, w2, cnt,
             |  round(CAST(cnt AS DOUBLE) / prefix_cnt, 6) AS cond_p
             |FROM ranked WHERE rank <= 10
             |ORDER BY lang, rank""".stripMargin
        }),

      // PER-DOC LM QUALITY SCORE: average negative log2-likelihood of
      // each document under the corpus's own per-lang bigram LM — the
      // perplexity-filter stage of a curation pipeline (score docs
      // against a reference LM, drop the high-NLL tail). Exactness: the
      // LM probability is one double division, log2 is rounded to 6 dp
      // per BIGRAM TYPE (the q_tfidf transcendental pattern), and the
      // per-doc sum folds contributions in sorted (w1, w2) order — an
      // identical left-to-right double fold in both engines. The FINAL
      // score is an integer micro-NLL via floor: the folded sum is the
      // same double in both engines, and floor has no half-way case —
      // round(x, 6) here once diverged on a value whose shortest repr
      // was exactly ...5 (Spark rounds the decimal repr half-up,
      // DuckDB rounds the ×1e6 double), sf0.1 doc 4281.
      // Scale shape: TWO bounded shuffles — per-doc DISTINCT bigrams
      // (never the raw bigram stream; dbf rides along) and the
      // vocab-bounded LM build — then a (lang, w1, w2) equi-join and a
      // per-doc fold. No driver state, nothing broadcast that grows
      // with the corpus (the LM join is a shuffle hash join that builds
      // the LM side, at every size).
      "q_doc_perplexity" -> QueryDef(
        (s, dir) => {
          val base = graft.ScratchCache.scratch(
            Tables.documentsParallel(s, dir)
              .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
              .filter(expr("size(t) >= 2"))
              .selectExpr("doc_id", "lang",
                "explode(transform(sequence(1, size(t) - 1)," +
                  " i -> struct(element_at(t, i) AS w1," +
                  " element_at(t, i + 1) AS w2))) AS b")
              .selectExpr("doc_id", "lang", "b.w1 AS w1", "b.w2 AS w2")
              .groupBy("doc_id", "lang", "w1", "w2")
              .agg(count(lit(1)).as("dbf")))
          val cnts = base.groupBy("lang", "w1", "w2")
            .agg(sum("dbf").as("cnt"))
          val prefix = cnts.groupBy("lang", "w1")
            .agg(sum("cnt").as("prefix_cnt"))
          val lm = cnts.join(prefix, Seq("lang", "w1"))
            .selectExpr("lang", "w1", "w2",
              "round(log2(CAST(cnt AS DOUBLE) / prefix_cnt), 6) AS lp")
          // both sides read the cached `base`: without the hint AQE
          // broadcasts whichever side's stage reports first
          base.join(lm.hint("SHUFFLE_HASH"), Seq("lang", "w1", "w2"))
            .groupBy("doc_id", "lang")
            .agg(
              sum("dbf").as("n_bigrams"),
              expr("aggregate(transform(" +
                "array_sort(collect_list(struct(w1, w2, dbf * lp AS c)))," +
                " x -> x.c), CAST(0 AS DOUBLE), (a, x) -> a + x)").as("s"))
            .selectExpr("doc_id", "lang", "n_bigrams",
              "CAST(floor((0 - s) * 1000000.0 / n_bigrams) AS BIGINT)" +
                " AS nll_micro")
            .orderBy("doc_id")
        }, {
          val d = DuckSql
          s"""WITH docs AS (
             |  SELECT doc_id, lang, ${d.tokens("text")} AS t FROM documents),
             |b AS (
             |  SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM (
             |    SELECT doc_id, lang, unnest(list_transform(
             |      generate_series(1, ${d.sizeL("t")} - 1),
             |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
             |    FROM docs WHERE ${d.sizeL("t")} >= 2)),
             |base AS (
             |  SELECT doc_id, lang, w1, w2, CAST(count(*) AS BIGINT) AS dbf
             |  FROM b GROUP BY doc_id, lang, w1, w2),
             |cnts AS (
             |  SELECT lang, w1, w2, CAST(sum(dbf) AS BIGINT) AS cnt
             |  FROM base GROUP BY lang, w1, w2),
             |prefix AS (
             |  SELECT lang, w1, CAST(sum(cnt) AS BIGINT) AS prefix_cnt
             |  FROM cnts GROUP BY lang, w1),
             |lm AS (
             |  SELECT c.lang, c.w1, c.w2,
             |    round(log2(CAST(cnt AS DOUBLE) / prefix_cnt), 6) AS lp
             |  FROM cnts c JOIN prefix p ON c.lang = p.lang AND c.w1 = p.w1),
             |per AS (
             |  SELECT doc_id, base.lang AS lang,
             |    CAST(sum(dbf) AS BIGINT) AS n_bigrams,
             |    ${d.foldDbl("list(dbf * lp ORDER BY base.w1, base.w2)",
                   "a", "x", "a + x")} AS s
             |  FROM base JOIN lm ON base.lang = lm.lang
             |    AND base.w1 = lm.w1 AND base.w2 = lm.w2
             |  GROUP BY doc_id, base.lang)
             |SELECT doc_id, lang, n_bigrams,
             |  CAST(floor((0 - s) * 1000000.0 / n_bigrams) AS BIGINT)
             |    AS nll_micro
             |FROM per ORDER BY doc_id""".stripMargin
        }),

      "q_doc_fingerprint" -> QueryDef(
        (s, dir) =>
          Tables.documentsParallel(s, dir)
            .selectExpr("doc_id", s"CAST($fpS AS BIGINT) AS fingerprint")
            .orderBy("doc_id"),
        s"""SELECT doc_id, CAST($fpD AS BIGINT) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin),

      // Exact corpus heavy hitters via a BOUNDED-state sketch: pass 1 is
      // a Misra–Gries candidate scan (functions/MisraGries.scala — each
      // map task ships ≤ k-1 counters regardless of corpus size or
      // vocabulary, the combiner idea with a PROVABLE state bound;
      // k=256 > 200 guarantees no token above the n/200 threshold is
      // missed), pass 2 recounts ONLY the ≤ k-1 candidates exactly via a
      // broadcast semi-join and applies the threshold with pure integer
      // arithmetic (200·cnt > n). False positives die in pass 2, false
      // negatives cannot exist — so a sketch pipeline sits under a
      // bit-exact SQL oracle. At 100 TB: two scans, one k-bounded
      // shuffle, one broadcast of ≤ k-1 tokens; a plain groupBy-HAVING
      // would shuffle the full vocabulary instead.
      "q_heavy_hitters" -> QueryDef(
        (s, dir) => {
          val toks = graft.ScratchCache.scratch(
            Tables.documentsParallel(s, dir)
              .select(explode(tokens(col("text"))).as("tok")))
          val agg = new graft.functions.MisraGriesAgg(256)
          val cands = toks.select(col("tok")).as[String](
            org.apache.spark.sql.Encoders.STRING)
            .select(agg.toColumn.name("cands"))
            .selectExpr("explode(cands) AS tok")
          val total = toks.agg(count(lit(1)).as("n_total"))
          toks.join(broadcast(cands), "tok")
            .groupBy("tok").agg(count(lit(1)).as("cnt"))
            .crossJoin(broadcast(total))
            .filter(expr("cnt * 200 > n_total"))
            .selectExpr("tok AS token", "cnt", "n_total")
            .orderBy(org.apache.spark.sql.functions.desc("cnt"), col("token"))
        }, {
          val toksD = DuckSql.tokens("text")
          s"""WITH tok AS (SELECT unnest($toksD) AS tok FROM documents),
             |tot AS (SELECT count(*) AS n_total FROM tok)
             |SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt, n_total
             |FROM tok, tot
             |GROUP BY tok, n_total
             |HAVING count(*) * 200 > n_total
             |ORDER BY cnt DESC, token""".stripMargin
        }),

      // BM25 ranked retrieval (Robertson–Spärck Jones, k1=1.2 b=0.75) for
      // a fixed 3-term query — the scoring function an inverted-index
      // search / RAG retrieval layer runs over the corpus. Plan shape:
      // because the query terms are KNOWN, tf per (doc, term) is computed
      // MAP-SIDE inside a HOF (no explode, no posting shuffle at all);
      // the only aggregation is the 6-number corpus-stats rollup
      // (N, Σdl, df per term), which broadcasts back as a scalar frame,
      // and the top-20 is a TakeOrdered — at 100 TB this is one scan +
      // one broadcast + a k-bounded result, the optimal shape for
      // query-at-a-time scoring (index-at-rest scoring is q_inverted_index).
      // Float determinism: every double op is emitted with identical text
      // and evaluation order in both engines from ONE generator; ranking
      // orders by the ROUNDED score with a doc_id tie-break (the q_tfidf
      // convention).
      "q_bm25" -> QueryDef(
        (s, dir) => {
          val perdoc = Tables.documentsParallel(s, dir)
            .selectExpr("doc_id" +: bm25PerDoc(SparkSql): _*)
          val stats = perdoc.agg(
            expr("CAST(count(*) AS BIGINT)").as("n_docs"),
            expr("CAST(sum(dl) AS BIGINT)").as("sum_dl"),
            expr(bm25Df(0)).as("df0"),
            expr(bm25Df(1)).as("df1"),
            expr(bm25Df(2)).as("df2"))
          perdoc.crossJoin(broadcast(stats))
            .selectExpr(
              "doc_id", "dl",
              s"tf0 AS tf_${bm25Terms(0)}",
              s"tf1 AS tf_${bm25Terms(1)}",
              s"tf2 AS tf_${bm25Terms(2)}",
              s"$bm25Score AS bm25")
            .orderBy(col("bm25").desc, col("doc_id"))
            .limit(20)
        }, {
          val d = DuckSql
          s"""WITH perdoc AS (
             |  SELECT doc_id, ${bm25PerDoc(d).mkString(", ")} FROM documents),
             |stats AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(dl) AS BIGINT) AS sum_dl,
             |    ${bm25Df(0)} AS df0, ${bm25Df(1)} AS df1, ${bm25Df(2)} AS df2
             |  FROM perdoc)
             |SELECT doc_id, dl,
             |  tf0 AS tf_${bm25Terms(0)}, tf1 AS tf_${bm25Terms(1)},
             |  tf2 AS tf_${bm25Terms(2)}, $bm25Score AS bm25
             |FROM perdoc CROSS JOIN stats
             |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
        }),

      // POINTWISE MUTUAL INFORMATION collocations: top-20 adjacent
      // bigrams by PMI = log2(P(w1w2) / (P(w1)·P(w2))) among bigrams
      // carrying ≥ 1/2000 of the corpus bigram mass (a RELATIVE
      // threshold, so the query is scale-free — a fixed min-count would
      // mean different semantics per SF). The collocation detector of a
      // phrase-mining / tokenizer-seeding pipeline (the "New York"
      // problem). Plan shape: both count frames are VOCAB-bounded
      // (unigram ≤ |V|, bigram ≤ |V|²), totals broadcast as scalars,
      // and the joins key on vocab-sized frames — corpus size only
      // affects the two scans. Fixture note: the shared 31-word
      // synthetic vocabulary gives near-independent tokens (PMI ≈ 0
      // everywhere); the mechanism and the exact arithmetic are what
      // the oracle checks (same caveat as q_lang_id).
      "q_pmi" -> QueryDef(
        (s, dir) => {
          val tok = graft.ScratchCache.scratch(
            Tables.documentsParallel(s, dir).select(tokens(col("text")).as("t")))
          val uni = tok.selectExpr("explode(t) AS w")
            .groupBy("w").agg(count(lit(1)).as("c"))
          val totU = uni.agg(sum("c").as("t_uni"))
          val bi = tok.filter(expr("size(t) >= 2"))
            .selectExpr(
              "explode(transform(sequence(1, size(t) - 1)," +
                " i -> struct(element_at(t, i) AS w1," +
                " element_at(t, i + 1) AS w2))) AS b")
            .selectExpr("b.w1 AS w1", "b.w2 AS w2")
            .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
          val totB = bi.agg(sum("cnt").as("t_bi"))
          bi.join(uni.selectExpr("w AS w1", "c AS c1"), "w1")
            .join(uni.selectExpr("w AS w2", "c AS c2"), "w2")
            .crossJoin(broadcast(totB)).crossJoin(broadcast(totU))
            .filter(expr("cnt * 2000 >= t_bi"))
            .selectExpr("w1", "w2", "cnt",
              "round(log2((CAST(cnt AS DOUBLE) / t_bi)" +
                " / ((CAST(c1 AS DOUBLE) / t_uni)" +
                " * (CAST(c2 AS DOUBLE) / t_uni))), 6) AS pmi")
            .orderBy(col("pmi").desc, col("w1"), col("w2"))
            .limit(20)
        }, {
          val d = DuckSql
          s"""WITH docs AS (SELECT ${d.tokens("text")} AS t FROM documents),
             |uni AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(t) AS w FROM docs) GROUP BY w),
             |tu AS (SELECT CAST(sum(c) AS BIGINT) AS t_uni FROM uni),
             |bi AS (
             |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM (
             |    SELECT b.w1 AS w1, b.w2 AS w2 FROM (
             |      SELECT unnest(list_transform(
             |        generate_series(1, ${d.sizeL("t")} - 1),
             |        i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
             |      FROM docs WHERE ${d.sizeL("t")} >= 2))
             |  GROUP BY w1, w2),
             |tb AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_bi FROM bi)
             |SELECT w1, w2, cnt,
             |  round(log2((CAST(cnt AS DOUBLE) / t_bi)
             |    / ((CAST(c1 AS DOUBLE) / t_uni)
             |    * (CAST(c2 AS DOUBLE) / t_uni))), 6) AS pmi
             |FROM bi
             |JOIN (SELECT w AS w1, c AS c1 FROM uni) u1 USING (w1)
             |JOIN (SELECT w AS w2, c AS c2 FROM uni) u2 USING (w2)
             |CROSS JOIN tb CROSS JOIN tu
             |WHERE cnt * 2000 >= t_bi
             |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin
        })
    )
  }

  // ---- q_bm25: fixed-query BM25 scoring ----
  // Terms chosen for df spread on the fixture vocabulary: 'query' is
  // near-ubiquitous (low idf), 'join' mid, 'dup' rare (high idf — it
  // dominates the ranking, as BM25 should). `def`, not `val`: the defs
  // map above initializes first and vals declared below it would still
  // be null when it runs.
  private def bm25Terms = Seq("query", "join", "dup")

  /** Per-doc map-side columns: dl (token count) + tf per query term. */
  private def bm25PerDoc(d: Dialect): Seq[String] = {
    val toks = d.tokens("text")
    s"CAST(${d.sizeL(toks)} AS BIGINT) AS dl" +:
      bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(${d.sizeL(d.filterL(toks, "t", s"t = '$t'"))} AS BIGINT) AS tf$i"
      }
  }

  /** Document frequency of term i (identical SQL text in both engines). */
  private def bm25Df(i: Int): String =
    s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT)"

  /** The BM25 sum over the fixed terms. All double arithmetic is fully
    * parenthesized so both engines evaluate in the same order; 0.25 =
    * 1-b and 2.2 = k1+1 are embedded as exact decimal literals both
    * engines parse to the same IEEE-754 double. */
  private def bm25Score: String = {
    val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    val terms = bm25Terms.indices.map { i =>
      val idf = s"log2(1.0 + ((CAST(n_docs - df$i AS DOUBLE) + 0.5)" +
        s" / (CAST(df$i AS DOUBLE) + 0.5)))"
      val denom = s"(CAST(tf$i AS DOUBLE)" +
        s" + (1.2 * (0.25 + (0.75 * (CAST(dl AS DOUBLE) / $avgdl)))))"
      s"(((CAST(tf$i AS DOUBLE) * 2.2) / $denom) * $idf)"
    }
    s"round(${terms.reduce((a, b) => s"($a + $b)")}, 6)"
  }
}
