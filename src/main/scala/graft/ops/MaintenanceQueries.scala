package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lead, lit, sum}

import graft.functions.hilbert
import graft.oracle.{Dialect, DuckSql, SparkSql}
import graft.{QueryDef, Tables}

/** Table-maintenance family — the lakehouse upkeep operators a
  * long-lived 100 TB corpus needs on top of query execution (extension
  * mandate; the write-side siblings are WriteEvolutionSpec and
  * CompactionSpec):
  *
  *  - q_upsert_merge: CDC merge — apply a change batch
  *    (updates / deletes / inserts keyed on the primary key) to a base
  *    table in one pass, with per-status accounting of the merged
  *    state. The MERGE INTO semantics, expressed as key-joins.
  *  - q_zorder_cluster: Z-order (Morton) multi-dimensional clustering —
  *    interleave the bits of two filter dimensions into one sort key;
  *    per-z-bucket min/max bounding boxes are exactly the row-group
  *    skipping statistics a scan uses, and their tightness IS the
  *    data-skipping win.
  */
object MaintenanceQueries {

  /** Synthetic-insert key offset (far above any fixture key range). */
  private val InsOff = 1000000000000L

  /** Shared oracle for q_upsert_merge and q_stream_cdc: the final table
    * state is identical whether the change set merges in one batch or
    * arrives as a stream of key-disjoint micro-batches (upd/del on the
    * same key commute to "deleted"; inserts are fresh keys). */
  private val UpsertOracle =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |upd AS (
       |  SELECT o_orderkey, (cents * 2) AS new_cents
       |  FROM base WHERE o_orderkey % 7 = 0),
       |del AS (
       |  SELECT o_orderkey, 1 AS is_del FROM base WHERE o_orderkey % 13 = 0),
       |ins AS (
       |  SELECT o_orderkey + $InsOff AS o_orderkey, o_orderstatus, cents,
       |    CAST(0 AS BIGINT) AS was_upd, CAST(1 AS BIGINT) AS was_ins
       |  FROM base WHERE o_orderkey % 11 = 3),
       |survivors AS (
       |  SELECT b.o_orderkey, b.o_orderstatus,
       |    coalesce(u.new_cents, b.cents) AS cents,
       |    CAST(CASE WHEN u.new_cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS was_upd,
       |    CAST(0 AS BIGINT) AS was_ins
       |  FROM base b
       |  LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
       |  LEFT JOIN del x ON b.o_orderkey = x.o_orderkey
       |  WHERE x.is_del IS NULL),
       |merged AS (
       |  SELECT * FROM survivors UNION ALL SELECT * FROM ins)
       |SELECT o_orderstatus,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(cents) AS BIGINT) AS sum_cents,
       |  CAST(sum(was_upd) AS BIGINT) AS n_updated,
       |  CAST(sum(was_ins) AS BIGINT) AS n_inserted
       |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** orders reduced to (key, status, cents) — the CDC base table. */
  private def centsBase(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d).selectExpr(
      "o_orderkey", "o_orderstatus",
      "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents")

  /** The change feed as one op-tagged frame (op ∈ U/D/I), shared by the
    * batch and streaming CDC queries. */
  private def cdcChanges(base: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.expr
    base.filter(expr("o_orderkey % 7 = 0"))
      .selectExpr("o_orderkey", "'U' AS op", "(cents * 2) AS new_cents",
        "CAST(NULL AS STRING) AS o_orderstatus", "CAST(NULL AS BIGINT) AS cents")
      .unionByName(base.filter(expr("o_orderkey % 13 = 0"))
        .selectExpr("o_orderkey", "'D' AS op",
          "CAST(NULL AS BIGINT) AS new_cents",
          "CAST(NULL AS STRING) AS o_orderstatus",
          "CAST(NULL AS BIGINT) AS cents"))
      .unionByName(base.filter(expr("o_orderkey % 11 = 3"))
        .selectExpr(s"o_orderkey + ${InsOff}L AS o_orderkey", "'I' AS op",
          "CAST(NULL AS BIGINT) AS new_cents", "o_orderstatus", "cents"))
  }

  /** KEY-LOCAL merge of an op-tagged change frame into the current
    * state — [[graft.sources.KeyedTable.mergeDelta]]'s contract: output
    * keys ⊆ keys(cur) ∪ keys(changes), and identity on an empty change
    * set (greatest(was_upd, 0) = was_upd), which is exactly what lets
    * untouched files carry by reference. */
  private[graft] def cdcMerge(cur: org.apache.spark.sql.DataFrame,
      ch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val upd = ch.filter(col("op") === "U").selectExpr("o_orderkey", "new_cents")
    val del = ch.filter(col("op") === "D")
      .select(col("o_orderkey"), lit(1).as("is_del"))
    val ins = ch.filter(col("op") === "I")
      .selectExpr("o_orderkey", "o_orderstatus", "cents",
        "CAST(0 AS BIGINT) AS was_upd", "CAST(1 AS BIGINT) AS was_ins")
    cur.join(upd, Seq("o_orderkey"), "left")
      .join(del, Seq("o_orderkey"), "left")
      .filter(col("is_del").isNull)
      .selectExpr("o_orderkey", "o_orderstatus",
        "coalesce(new_cents, cents) AS cents",
        "greatest(was_upd, CAST(CASE WHEN new_cents IS NOT NULL" +
          " THEN 1 ELSE 0 END AS BIGINT)) AS was_upd",
        "was_ins")
      .unionByName(ins)
  }

  /** The merged table's per-status accounting — the shared oracle's
    * output shape. */
  private def cdcFinalAgg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum("cents").as("sum_cents"),
        sum("was_upd").as("n_updated"),
        sum("was_ins").as("n_inserted"))
      .orderBy("o_orderstatus")

  /** Bits per dimension and the fixed z-bucket count. Buckets divide
    * the OBSERVED z range into ZBuckets equal spans, so the layout
    * (and the declared output size) is scale-invariant: the fixture's
    * small key ranges and a 100 TB table's full 32-bit z space both
    * yield ZBuckets rows. */
  private val DimBits = 16
  private val ZBuckets = 64L

  /** Morton interleave of the low DimBits of a and b: a's bit i lands
    * at 2i, b's at 2i+1. The per-bit terms occupy DISJOINT bit
    * positions, so plain addition assembles the word — both engines
    * evaluate identical BIGINT shift/mask/add chains (codegen'd on the
    * Spark side). */
  private def zInterleave(d: Dialect, a: String, b: String): String = {
    val terms = (0 until DimBits).flatMap { i =>
      Seq(
        d.shiftL(s"(${d.shiftR(a, i.toString)} & 1)", (2 * i).toString),
        d.shiftL(s"(${d.shiftR(b, i.toString)} & 1)", (2 * i + 1).toString))
    }
    s"(${terms.mkString(" + ")})"
  }

  /** One unrolled step of the canonical Hilbert xy→d walk at bit `b`
    * (the iterative conversion of the classic d2xy/xy2d pair): the
    * quadrant index (3·rx XOR ry) contributes 4^b cells, then the
    * frame reflects/swaps for the next finer bit. The XOR over
    * rx,ry ∈ {0,1} is expressed arithmetically (3·rx + ry − 2·rx·ry —
    * equal on all four corners) so the oracle evaluates pure-BIGINT
    * text; the reflection constant is the FULL grid side minus one
    * (2^DimBits − 1), per the canonical algorithm. Reads step-`i`
    * columns (x$i, y$i, d$i), returns the (d', x', y') expression
    * texts for step i+1. This generates the DuckDB oracle's unrolled
    * CTE chain; the Spark side runs the codegen'd
    * functions.HilbertKernel loop instead — two INDEPENDENT
    * renditions under the oracle gate, and HilbertSpec additionally
    * checks both against a third, imperative implementation. */
  private[graft] def hilbertStep(dl: Dialect, b: Int, i: Int):
      (String, String, String) = {
    val rx = s"(${dl.shiftR(s"x$i", b.toString)} & 1)"
    val ry = s"(${dl.shiftR(s"y$i", b.toString)} & 1)"
    val cell = 1L << (2 * b)
    val nM1 = (1L << DimBits) - 1
    val dd = s"(d$i + $cell * (3 * $rx + $ry - 2 * $rx * $ry))"
    // reflect-then-swap fused: when ry=1 the frame is unchanged; when
    // ry=0 the swap always happens and the rx=1 case also reflects.
    val nx = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $nM1 - y$i ELSE y$i END) ELSE x$i END)"
    val ny = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $nM1 - x$i ELSE x$i END) ELSE y$i END)"
    (dd, nx, ny)
  }

  /** DimBits visible to HilbertSpec, which cross-validates the
    * generated chain, the codegen'd kernel, and an independent
    * imperative implementation against each other. */
  private[graft] def HilbertBits: Int = DimBits

  def defs: Map[String, QueryDef] = Map(

    // CDC MERGE — the nightly-ingest upsert: a change batch carrying
    // updates (key % 7 = 0 → price doubled), deletes (key % 13 = 0,
    // delete wins over update on overlap) and inserts (fresh keys) is
    // applied to the base in ONE pass; output is the merged state's
    // per-status row count / money sum / change accounting. Money goes
    // through the cents = floor(v*100 + 0.5) BIGINT quantization, so
    // every aggregate is order-independent integer arithmetic.
    //
    // Scale shape: the merge is key-equi-joins (one shuffle; a real
    // change batch is tiny vs the base → AQE broadcasts it), and the
    // rewrite side pairs with dynamic partition overwrite
    // (WriteEvolutionSpec) so only touched partitions rewrite.
    "q_upsert_merge" -> QueryDef(
      (s, d) => {
        val base = Tables.orders(s, d).selectExpr(
          "o_orderkey", "o_orderstatus",
          "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents")
        val upd = base.filter(col("o_orderkey") % 7 === 0)
          .selectExpr("o_orderkey", "(cents * 2) AS new_cents")
        val del = base.filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), lit(1).as("is_del"))
        val ins = base.filter(col("o_orderkey") % 11 === 3)
          .selectExpr(s"o_orderkey + ${InsOff}L AS o_orderkey",
            "o_orderstatus", "cents",
            "CAST(0 AS BIGINT) AS was_upd", "CAST(1 AS BIGINT) AS was_ins")
        val survivors = base
          .join(upd, Seq("o_orderkey"), "left")
          .join(del, Seq("o_orderkey"), "left")
          .filter(col("is_del").isNull)
          .selectExpr("o_orderkey", "o_orderstatus",
            "coalesce(new_cents, cents) AS cents",
            "CAST(CASE WHEN new_cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS was_upd",
            "CAST(0 AS BIGINT) AS was_ins")
        survivors.unionByName(ins)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            sum("cents").as("sum_cents"),
            sum("was_upd").as("n_updated"),
            sum("was_ins").as("n_inserted"))
          .orderBy("o_orderstatus")
      },
      UpsertOracle),

    // STREAMING CDC MERGE — the same change set arriving as an
    // UNBOUNDED STREAM of change records (op ∈ U/D/I), merged per
    // micro-batch into a graft.sources.KeyedTable: v1 is the base laid
    // out as ~16 key-sorted files with footer-tight key ranges; each
    // foreachBatch trigger FILE-PRUNES — a broadcast binary-search
    // probe maps the batch's keys to the files whose ranges they
    // intersect, ONLY those files rewrite (inserts append into per-gap
    // files), and every untouched file carries into the next manifest
    // BY REFERENCE. Per-trigger cost is O(delta · fanout), not
    // O(table) — the copy-on-write discipline a 100 TB table with a
    // continuous change feed requires (v1..v6 read the full table per
    // trigger; DeltaMergeSpec asserts files_rewritten ≪ files_total
    // and carried files' bytes untouched). The manifest registers by
    // atomic rename, so readers see whole versions only, and every
    // intermediate state stays time-travelable. The change stream
    // splits into 3 KEY-RANGE chunks (maxFilesPerTrigger=1 → 3 real
    // merge triggers, each touching only its third of the file set),
    // and the FINAL table state must equal the one-shot batch merge —
    // same oracle as q_upsert_merge, because upd/del on a key commute
    // to the same outcome and inserts are fresh keys: micro-batch
    // composition is the claim under test.
    "q_stream_cdc" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions.expr
        import org.apache.spark.sql.streaming.Trigger
        val tag = new java.io.File(d).getName
        val root = s"${graft.ProcScratch.base}/cdc/$tag"
        val watch = s"$root/_changes"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val base = centsBase(s, d)
        // v1: the base table, with merge-accounting columns zeroed,
        // range-partitioned into key-sorted files (tight footer ranges)
        graft.sources.KeyedTable.write(s, root, "t",
          base.selectExpr("o_orderkey", "o_orderstatus", "cents",
            "CAST(0 AS BIGINT) AS was_upd", "CAST(0 AS BIGINT) AS was_ins"),
          "o_orderkey", nFiles = 16)
        // the change feed, split into 3 key-RANGE chunks so each
        // trigger's merge demonstrably touches only a file subset
        // (keys stay disjoint across chunks → merges compose)
        val mxKey = base.agg(org.apache.spark.sql.functions.max("o_orderkey"))
          .collect()(0).getLong(0) // bounded scalar
        val cuts = Seq(mxKey / 3, 2 * mxKey / 3)
        // ONE partitioned write stages all 3 chunks (r13: this was 3
        // coalesce(1) jobs over a persisted union — 3 scans + the
        // persist; the chunk column is write-layout only, partitionBy
        // drops it from the file bytes, and chunk content is identical:
        // same key-range predicate, merge semantics are row-order
        // invariant)
        graft.sources.Sources.stageChunks(cdcChanges(base),
          expr(s"CASE WHEN o_orderkey < ${cuts(0)} THEN 0 " +
            s"WHEN o_orderkey < ${cuts(1)} THEN 1 ELSE 2 END"),
          3, s"$root/_chg_stage", watch, "chg")
        val chgSchema = s.read.parquet(watch).schema
        val q = s.readStream.schema(chgSchema)
          .option("maxFilesPerTrigger", "1").parquet(watch)
          .writeStream
          .option("checkpointLocation", s"$root/_checkpoint")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.sources.KeyedTable.mergeDelta(
              s, root, "t", batch, "o_orderkey")(cdcMerge)
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        cdcFinalAgg(graft.sources.KeyedTable.read(s, root, "t"))
      },
      UpsertOracle),

    // FILE-PRUNED BATCH MERGE — the q_upsert_merge change set applied
    // through the KeyedTable copy-on-write path in ONE mergeDelta call:
    // base → 16 key-sorted files, probe → touched set, one rewrite job
    // over touched files + one append job for the insert gap, manifest
    // carries the rest by reference. Equality with the purely
    // relational q_upsert_merge (same oracle) proves the storage path
    // adds nothing and loses nothing; the pruning evidence itself
    // (files_rewritten ≪ files_total on a sparse batch) is
    // DeltaMergeSpec's.
    "q_delta_merge" -> QueryDef(
      (s, d) => {
        val tag = new java.io.File(d).getName
        val root = s"${graft.ProcScratch.base}/dmerge/$tag"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val base = centsBase(s, d)
        graft.sources.KeyedTable.write(s, root, "t",
          base.selectExpr("o_orderkey", "o_orderstatus", "cents",
            "CAST(0 AS BIGINT) AS was_upd", "CAST(0 AS BIGINT) AS was_ins"),
          "o_orderkey", nFiles = 16)
        graft.sources.KeyedTable.mergeDelta(
          s, root, "t", cdcChanges(base), "o_orderkey")(cdcMerge)
        cdcFinalAgg(graft.sources.KeyedTable.read(s, root, "t"))
      },
      UpsertOracle),

    // MANIFEST-AWARE COMPACTION under a sustained change feed: five
    // insert-only merges land in five disjoint far gaps (one small
    // debris file each — exactly the layout a long-running CDC feed
    // accumulates), then KeyedTable.compact() coalesces the small-file
    // runs into a NEW VERSION. The declared output is the per-status
    // accounting of the COMPACTED table read — content must survive the
    // rewrite bit-exactly (the oracle recomputes base ∪ inserts
    // relationally) — while the layout guarantees (file count drops,
    // version bumps, nothing compacts twice) are require()d in-query
    // and proven at soak length by KeyedCompactionSpec. At 100 TB this
    // is the maintenance pass that keeps the file count O(table/target)
    // instead of O(triggers).
    "q_keyed_compact" -> QueryDef(
      (s, d) => {
        val tag = new java.io.File(d).getName
        val root = s"${graft.ProcScratch.base}/kcompact/$tag"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val base = centsBase(s, d)
        graft.sources.KeyedTable.write(s, root, "t", base,
          "o_orderkey", nFiles = 16)
        // five insert-only batches into five disjoint far gaps
        (0 until 5).foreach { i =>
          val ins = base.filter(
            org.apache.spark.sql.functions.expr(s"o_orderkey % 17 = $i"))
            .selectExpr(s"o_orderkey + ${(i + 1)} * ${InsOff}L AS o_orderkey",
              "o_orderstatus", s"cents + $i AS cents")
          graft.sources.KeyedTable.mergeDelta(
            s, root, "t", ins, "o_orderkey")((cur, ch) => cur.unionByName(ch))
        }
        val before = graft.sources.KeyedTable.manifest(s, root, "t").size
        val preV = graft.sources.KeyedTable.latestVersion(s, root, "t")
        val n = base.count()
        val st = graft.sources.KeyedTable.compact(
          s, root, "t", "o_orderkey", targetRows = math.max(1L, n / 4))
        require(st.filesCompacted >= 5 && st.filesAfter < before,
          s"compaction must coalesce the debris: $st (before=$before)")
        require(st.version == preV + 1, s"compaction must commit a version: $st")
        graft.sources.KeyedTable.read(s, root, "t")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .orderBy("o_orderstatus")
      },
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
         |  FROM orders),
         |ins AS (
         |  SELECT o_orderkey + ((o_orderkey % 17) + 1) * $InsOff AS o_orderkey,
         |    o_orderstatus, cents + (o_orderkey % 17) AS cents
         |  FROM base WHERE o_orderkey % 17 < 5),
         |merged AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
         |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // SNAPSHOT DIFF — the inverse of the upsert: given two table
    // versions (v1 = the base, v2 = the base with q_upsert_merge's
    // change rules applied), classify every key as added / deleted /
    // changed / unchanged in ONE full-outer key join and report the
    // per-class row counts and money movement. This is the
    // table-maintenance audit every incremental pipeline runs after a
    // merge (and the CDC-extraction direction: diffing two snapshots
    // RECOVERS the change batch).
    //
    // Scale shape: one full-outer sort-merge join on the primary key —
    // both sides shuffle once on o_orderkey (on a bucketed table:
    // exchange-free); the classification is a map-side CASE and the
    // per-class rollup is a 4-key map-combinable aggregate. Money is
    // cents-quantized BIGINT, so the deltas are exact.
    "q_snapshot_diff" -> QueryDef(
      (s, d) => {
        val v1 = Tables.orders(s, d).selectExpr(
          "o_orderkey",
          "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS old_cents")
        val v2Base = Tables.orders(s, d).selectExpr(
          "o_orderkey",
          "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents")
        val v2 = v2Base
          .filter(col("o_orderkey") % 13 =!= 0)
          .selectExpr("o_orderkey",
            "CASE WHEN o_orderkey % 7 = 0 THEN cents * 2 ELSE cents END AS new_cents")
          .unionByName(v2Base.filter(col("o_orderkey") % 11 === 3)
            .selectExpr(s"o_orderkey + ${InsOff}L AS o_orderkey",
              "cents AS new_cents"))
        v1.join(v2, Seq("o_orderkey"), "full_outer")
          .selectExpr(
            """CASE WHEN old_cents IS NULL THEN 'added'
              |     WHEN new_cents IS NULL THEN 'deleted'
              |     WHEN old_cents <> new_cents THEN 'changed'
              |     ELSE 'unchanged' END AS diff_status""".stripMargin,
            "coalesce(old_cents, 0) AS oc", "coalesce(new_cents, 0) AS nc")
          .groupBy("diff_status")
          .agg(count(lit(1)).as("n_rows"),
            sum("oc").as("sum_old_cents"),
            sum("nc").as("sum_new_cents"))
          .selectExpr("diff_status", "n_rows", "sum_old_cents",
            "sum_new_cents", "(sum_new_cents - sum_old_cents) AS delta_cents")
          .orderBy("diff_status")
      },
      s"""WITH v1 AS (
         |  SELECT o_orderkey,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS old_cents
         |  FROM orders),
         |b AS (
         |  SELECT o_orderkey,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
         |  FROM orders),
         |v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 7 = 0 THEN cents * 2 ELSE cents END AS new_cents
         |  FROM b WHERE o_orderkey % 13 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + $InsOff AS o_orderkey, cents AS new_cents
         |  FROM b WHERE o_orderkey % 11 = 3),
         |diff AS (
         |  SELECT CASE WHEN v1.old_cents IS NULL THEN 'added'
         |              WHEN v2.new_cents IS NULL THEN 'deleted'
         |              WHEN v1.old_cents <> v2.new_cents THEN 'changed'
         |              ELSE 'unchanged' END AS diff_status,
         |    coalesce(v1.old_cents, 0) AS oc, coalesce(v2.new_cents, 0) AS nc
         |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
         |SELECT diff_status, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(oc) AS BIGINT) AS sum_old_cents,
         |  CAST(sum(nc) AS BIGINT) AS sum_new_cents,
         |  CAST(sum(nc) - sum(oc) AS BIGINT) AS delta_cents
         |FROM diff GROUP BY diff_status ORDER BY diff_status""".stripMargin),

    // DATA-PROFILING HISTOGRAM — the ANALYZE-statistics operator: an
    // equi-width 32-bucket histogram of lineitem money (cents) over the
    // OBSERVED [min, max], with per-bucket counts and actual bounds.
    // This is the statistics table a cost-based optimizer consumes
    // (Spark's ANALYZE TABLE ... FOR COLUMNS computes the same shape;
    // the reference surfaces the analog through its counter/analyzer
    // tooling, tez-tools/analyzers/). Exposing it as a QUERY makes the
    // profiling pass itself a first-class, oracle-checked operator.
    //
    // Scale shape: one bounded (min, max) scalar broadcast (the kmeans
    // / zorder pattern), then a map-side bucket assignment and a
    // 32-key map-combinable aggregate — one corpus scan, one tiny
    // shuffle, scale-invariant output. All arithmetic is BIGINT:
    // bucket = ((c - mn) * 32) div (mx - mn + 1).
    "q_profile_histogram" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.{broadcast, max, min}
        val cents = Tables.lineitem(s, d).selectExpr(
          "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c")
        val bounds = cents.agg(min("c").as("mn"), max("c").as("mx"))
        cents.crossJoin(broadcast(bounds))
          .selectExpr("c", "(((c - mn) * 32) div (mx - mn + 1)) AS bucket")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("c").as("min_cents"), max("c").as("max_cents"))
          .orderBy("bucket")
      },
      """WITH cents AS (
        |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM lineitem),
        |b AS (SELECT min(c) AS mn, max(c) AS mx FROM cents)
        |SELECT (((c - mn) * 32) // (mx - mn + 1)) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(c) AS min_cents, max(c) AS max_cents
        |FROM cents, b
        |GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Z-ORDER CLUSTERING — the multi-dimensional data-skipping layout:
    // Morton-interleave (l_partkey, l_suppkey) into one z key, bucket
    // by the z prefix (the "file" a z-sorted write would produce), and
    // report each bucket's per-dimension min/max bounding box. Tight
    // boxes on BOTH dimensions are the point: a scan filtering on
    // EITHER dimension prunes buckets by these min/max stats, which a
    // single-column sort only provides for its leading column.
    //
    // Scale shape: z is computed map-side (pure shift/mask codegen);
    // one bounded scalar (max z — the kmeans/seq_pack pattern) sizes
    // the equal-span buckets; the bucket aggregate is one
    // map-combinable shuffle keyed on ZBuckets values. At 100 TB the
    // same z key feeds repartitionByRange(z) + sortWithinPartitions
    // before the write — this query materializes the skipping
    // statistics that layout earns.
    "q_zorder_cluster" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.{broadcast, max, min}
        val dl = SparkSql
        val mask = (1L << DimBits) - 1
        val z = zInterleave(dl, "(l_partkey & " + mask + ")", "(l_suppkey & " + mask + ")")
        val zed = Tables.lineitem(s, d)
          .selectExpr(
            s"(l_partkey & $mask) AS pa",
            s"(l_suppkey & $mask) AS sb",
            s"$z AS z")
        val zmax = zed.agg(max("z").as("z_max"))
        zed.crossJoin(broadcast(zmax))
          .selectExpr("pa", "sb", s"((z * $ZBuckets) div (z_max + 1)) AS z_bucket")
          .groupBy("z_bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("pa").as("min_part"), max("pa").as("max_part"),
            min("sb").as("min_supp"), max("sb").as("max_supp"))
          .selectExpr("z_bucket", "n_rows", "min_part", "max_part",
            "min_supp", "max_supp",
            "((max_part - min_part + 1) * (max_supp - min_supp + 1)) AS bbox_area")
          .orderBy("z_bucket")
      }, {
        val dl = DuckSql
        val mask = (1L << DimBits) - 1
        val z = zInterleave(dl, "(l_partkey & " + mask + ")", "(l_suppkey & " + mask + ")")
        s"""WITH zed AS (
           |  SELECT (l_partkey & $mask) AS pa, (l_suppkey & $mask) AS sb,
           |    $z AS z
           |  FROM lineitem),
           |zm AS (SELECT max(z) AS z_max FROM zed),
           |bucketed AS (
           |  SELECT pa, sb, ((z * $ZBuckets) // (z_max + 1)) AS z_bucket
           |  FROM zed, zm)
           |SELECT z_bucket, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(pa) AS min_part, max(pa) AS max_part,
           |  min(sb) AS min_supp, max(sb) AS max_supp,
           |  ((max(pa) - min(pa) + 1) * (max(sb) - min(sb) + 1)) AS bbox_area
           |FROM bucketed GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
      }),

    // SNAPSHOT CATALOG TIME TRAVEL — q_snapshot_diff against REAL
    // stored versions: two table versions are COMMITTED through
    // graft.sources.SnapshotCatalog (each version = a data sink plus a
    // stats sink published all-or-nothing via the GroupCommit
    // vertex-group protocol, then registered in the catalog's
    // `_snapshots` log by atomic rename), read back by version number
    // (v1 explicitly, v2 via latest-resolution), and diffed with the
    // same full-outer classification. The versions round-trip through
    // parquet as BIGINT cents, so storage adds no numeric wobble and
    // the oracle — which derives the same two versions relationally —
    // stays dtype-exact. Crash-consistency of the catalog itself
    // (failure between group publish and log registration, recovery,
    // version-number reuse) is SnapshotCatalogSpec's territory.
    //
    // Scale shape: writes are GroupCommit phase 1 (full parallelism,
    // one pass per version); the catalog adds O(#versions) driver
    // metadata; the diff is the q_snapshot_diff full-outer
    // sort-merge join on the key, one shuffle per side.
    "q_snapshot_catalog" -> QueryDef(
      (s, dir) => {
        import graft.sources.SnapshotCatalog
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapcat").toString
        val base = Tables.orders(s, dir).selectExpr(
          "o_orderkey",
          "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents")
        val v2data = base
          .filter(col("o_orderkey") % 13 =!= 0)
          .selectExpr("o_orderkey",
            "CASE WHEN o_orderkey % 7 = 0 THEN cents * 2 ELSE cents END AS cents")
          .unionByName(base.filter(col("o_orderkey") % 11 === 3)
            .selectExpr(s"o_orderkey + ${InsOff}L AS o_orderkey", "cents"))
        def stats(df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        SnapshotCatalog.commit(s, root, "orders_snap",
          Seq("data" -> base, "stats" -> stats(base)))
        SnapshotCatalog.commit(s, root, "orders_snap",
          Seq("data" -> v2data, "stats" -> stats(v2data)))
        val v1 = SnapshotCatalog.read(s, root, "orders_snap", 1L)
          .selectExpr("o_orderkey", "cents AS old_cents")
        val v2 = SnapshotCatalog.read(s, root, "orders_snap") // latest
          .selectExpr("o_orderkey", "cents AS new_cents")
        v1.join(v2, Seq("o_orderkey"), "full_outer")
          .selectExpr(
            """CASE WHEN old_cents IS NULL THEN 'added'
              |     WHEN new_cents IS NULL THEN 'deleted'
              |     WHEN old_cents <> new_cents THEN 'changed'
              |     ELSE 'unchanged' END AS diff_status""".stripMargin,
            "coalesce(old_cents, 0) AS oc", "coalesce(new_cents, 0) AS nc")
          .groupBy("diff_status")
          .agg(count(lit(1)).as("n_rows"),
            sum("oc").as("sum_old_cents"),
            sum("nc").as("sum_new_cents"))
          .selectExpr("diff_status", "n_rows", "sum_old_cents",
            "sum_new_cents", "(sum_new_cents - sum_old_cents) AS delta_cents")
          .orderBy("diff_status")
      },
      s"""WITH v1 AS (
         |  SELECT o_orderkey,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS old_cents
         |  FROM orders),
         |b AS (
         |  SELECT o_orderkey,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
         |  FROM orders),
         |v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 7 = 0 THEN cents * 2 ELSE cents END AS new_cents
         |  FROM b WHERE o_orderkey % 13 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + $InsOff AS o_orderkey, cents AS new_cents
         |  FROM b WHERE o_orderkey % 11 = 3),
         |diff AS (
         |  SELECT CASE WHEN v1.old_cents IS NULL THEN 'added'
         |              WHEN v2.new_cents IS NULL THEN 'deleted'
         |              WHEN v1.old_cents <> v2.new_cents THEN 'changed'
         |              ELSE 'unchanged' END AS diff_status,
         |    coalesce(v1.old_cents, 0) AS oc, coalesce(v2.new_cents, 0) AS nc
         |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
         |SELECT diff_status, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(oc) AS BIGINT) AS sum_old_cents,
         |  CAST(sum(nc) AS BIGINT) AS sum_new_cents,
         |  CAST(sum(nc) - sum(oc) AS BIGINT) AS delta_cents
         |FROM diff GROUP BY diff_status ORDER BY diff_status""".stripMargin),

    // HILBERT-CURVE CLUSTERING — q_zorder_cluster's sibling on the
    // space-filling curve with strictly better locality: unlike
    // Morton order, the Hilbert walk never jumps across the grid
    // (consecutive d values are always grid-neighbors), so equal-span
    // buckets cut tighter per-dimension bounding boxes at the SAME
    // bucket count — bbox_area here vs q_zorder_cluster's is the
    // side-by-side comparison, and tighter boxes are directly more
    // row-groups skipped per filter.
    //
    // Scale shape: identical to zorder — the walk is ONE codegen'd
    // kernel call per row (functions.HilbertKernel; the 16-step
    // chained-projection rendition measured 10× slower at sf0.1
    // because its inlined whole-stage code exceeds JIT-friendly
    // method size), one bounded max(h) scalar broadcast sizes the
    // buckets, then one map-combinable 64-key aggregate. At 100 TB
    // the same h key feeds repartitionByRange(h) +
    // sortWithinPartitions before the write. The Spark kernel and the
    // oracle's unrolled CTE chain are INDEPENDENT renditions of the
    // canonical walk, and HilbertSpec checks both against a third,
    // imperative implementation on a full 256×256 grid.
    "q_hilbert_cluster" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.functions.{broadcast, max, min}
        val mask = (1L << DimBits) - 1
        // lineitemParallel: the Hilbert kernel is the per-row cost here,
        // and the fixture scan is one atomic row group — fan out first
        // so the kernel runs on every core, not one scan task. Scratch-
        // cached: both consumers (max(h) scalar + bucket aggregate) read
        // the keyed frame, so the kernel runs once (q_curve_compare's
        // shape).
        val h = graft.ScratchCache.scratch(
          Tables.lineitemParallel(s, dir).selectExpr(
              s"(l_partkey & $mask) AS pa",
              s"(l_suppkey & $mask) AS sb")
            .select(col("pa"), col("sb"),
              hilbert(col("pa"), col("sb"), DimBits).as("h")))
        val hmax = h.agg(max("h").as("h_max"))
        h.crossJoin(broadcast(hmax))
          .selectExpr("pa", "sb",
            s"((h * $ZBuckets) div (h_max + 1)) AS h_bucket")
          .groupBy("h_bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("pa").as("min_part"), max("pa").as("max_part"),
            min("sb").as("min_supp"), max("sb").as("max_supp"))
          .selectExpr("h_bucket", "n_rows", "min_part", "max_part",
            "min_supp", "max_supp",
            "((max_part - min_part + 1) * (max_supp - min_supp + 1)) AS bbox_area")
          .orderBy("h_bucket")
      }, {
        val dl = DuckSql
        val mask = (1L << DimBits) - 1
        val steps = (0 until DimBits).map { i =>
          val (dd, nx, ny) = hilbertStep(dl, DimBits - 1 - i, i)
          s"""h${i + 1} AS (
             |  SELECT pa, sb, $dd AS d${i + 1}, $nx AS x${i + 1},
             |    $ny AS y${i + 1}
             |  FROM h$i)""".stripMargin
        }
        s"""WITH h0 AS (
           |  SELECT (l_partkey & $mask) AS pa, (l_suppkey & $mask) AS sb,
           |    (l_partkey & $mask) AS x0, (l_suppkey & $mask) AS y0,
           |    CAST(0 AS BIGINT) AS d0
           |  FROM lineitem),
           |${steps.mkString(",\n")},
           |hm AS (SELECT max(d$DimBits) AS h_max FROM h$DimBits),
           |bucketed AS (
           |  SELECT pa, sb, ((d$DimBits * $ZBuckets) // (h_max + 1)) AS h_bucket
           |  FROM h$DimBits, hm)
           |SELECT h_bucket, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(pa) AS min_part, max(pa) AS max_part,
           |  min(sb) AS min_supp, max(sb) AS max_supp,
           |  ((max(pa) - min(pa) + 1) * (max(sb) - min(sb) + 1)) AS bbox_area
           |FROM bucketed GROUP BY h_bucket ORDER BY h_bucket""".stripMargin
      }),

    // CURVE COMPARISON — the clustering decision as a measured,
    // oracle-gated artifact: ONE lineitem scan computes BOTH layout
    // keys (Morton z + Hilbert h), both bucketizations use the same
    // equal-span ZBuckets split over their observed ranges, and the
    // output is the per-method bounding-box bill (bucket count, total
    // and worst bbox_area). Lower area = fewer row-groups a
    // dimension filter touches — this is the number a table-layout
    // choice is made on, and the Hilbert walk's no-jump locality is
    // exactly why its boxes come out tighter.
    //
    // Scale shape: one scan, one bounded 2-scalar broadcast (both
    // maxes in one aggregate), two 64-key map-combinable aggregates.
    "q_curve_compare" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.functions.{broadcast, max, min}
        val mask = (1L << DimBits) - 1
        // lineitemParallel: both curve keys are computed per row over an
        // atomic single-row-group fixture scan — one narrow shuffle fans
        // the kernel work out to every core before the cache builds
        val keyed = graft.ScratchCache.scratch(
          Tables.lineitemParallel(s, dir)
            .selectExpr(
              s"(l_partkey & $mask) AS pa",
              s"(l_suppkey & $mask) AS sb")
            .select(col("pa"), col("sb"),
              expr(s"${zInterleave(SparkSql, "pa", "sb")} AS z"),
              hilbert(col("pa"), col("sb"), DimBits).as("h")))
        val bounds = keyed.agg(max("z").as("z_max"), max("h").as("h_max"))
        val b = keyed.crossJoin(broadcast(bounds))
        def branch(method: String, key: String, mx: String) =
          b.selectExpr("pa", "sb",
              s"(($key * $ZBuckets) div ($mx + 1)) AS bucket")
            .groupBy("bucket")
            .agg(min("pa").as("min_part"), max("pa").as("max_part"),
              min("sb").as("min_supp"), max("sb").as("max_supp"))
            .selectExpr(s"'$method' AS method",
              "((max_part - min_part + 1) * (max_supp - min_supp + 1)) AS bbox_area")
            .groupBy("method")
            .agg(count(lit(1)).as("n_buckets"),
              sum("bbox_area").as("sum_bbox_area"),
              org.apache.spark.sql.functions.max("bbox_area").as("max_bbox_area"))
        branch("hilbert", "h", "h_max")
          .unionByName(branch("zorder", "z", "z_max"))
          .orderBy("method")
      }, {
        val dl = DuckSql
        val mask = (1L << DimBits) - 1
        val z = zInterleave(dl, "pa", "sb")
        val steps = (0 until DimBits).map { i =>
          val (dd, nx, ny) = hilbertStep(dl, DimBits - 1 - i, i)
          s"""h${i + 1} AS (
             |  SELECT pa, sb, z, $dd AS d${i + 1}, $nx AS x${i + 1},
             |    $ny AS y${i + 1}
             |  FROM h$i)""".stripMargin
        }
        s"""WITH h0 AS (
           |  SELECT pa, sb, $z AS z, pa AS x0, sb AS y0,
           |    CAST(0 AS BIGINT) AS d0
           |  FROM (SELECT (l_partkey & $mask) AS pa,
           |          (l_suppkey & $mask) AS sb FROM lineitem)),
           |${steps.mkString(",\n")},
           |hm AS (SELECT max(z) AS z_max, max(d$DimBits) AS h_max
           |       FROM h$DimBits),
           |both_b AS (
           |  SELECT 'hilbert' AS method,
           |    ((d$DimBits * $ZBuckets) // (h_max + 1)) AS bucket, pa, sb
           |  FROM h$DimBits, hm
           |  UNION ALL
           |  SELECT 'zorder' AS method,
           |    ((z * $ZBuckets) // (z_max + 1)) AS bucket, pa, sb
           |  FROM h$DimBits, hm),
           |boxes AS (
           |  SELECT method, bucket,
           |    ((max(pa) - min(pa) + 1) * (max(sb) - min(sb) + 1)) AS bbox_area
           |  FROM both_b GROUP BY method, bucket)
           |SELECT method, CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(sum(bbox_area) AS BIGINT) AS sum_bbox_area,
           |  CAST(max(bbox_area) AS BIGINT) AS max_bbox_area
           |FROM boxes GROUP BY method ORDER BY method""".stripMargin
      }),

    // SCD TYPE-2 DIMENSION BUILD — slowly-changing-dimension history:
    // each user's purchase stream becomes validity-interval rows
    // (value, valid_from, valid_to, is_current), the warehouse pattern
    // for AS-OF-queryable dimensions (the batch precompute behind
    // q_asof_join's runtime lookup). One window pass: lead(ts) over
    // (user, ts, event_id) closes each interval with the next change;
    // the open row is current. At 100 TB the plan is a single shuffle
    // on the dimension key and a linear per-partition window scan —
    // no self-join (the naive interval build is a range self-join;
    // lead() is the scalable form).
    "q_scd2_build" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("es"), col("event_id"))
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .selectExpr("user_id", "event_id",
            "unix_timestamp(ts) AS es",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_cents")
          .withColumn("valid_to_epoch", lead(col("es"), 1).over(w))
          .selectExpr("user_id", "event_id", "es AS valid_from_epoch",
            "valid_to_epoch", "value_cents",
            "(valid_to_epoch IS NULL) AS is_current")
          .orderBy("user_id", "valid_from_epoch", "event_id")
      },
      s"""SELECT user_id, event_id,
         |  ${graft.oracle.DuckSql.epochSec("ts")} AS valid_from_epoch,
         |  lead(${graft.oracle.DuckSql.epochSec("ts")}) OVER (
         |    PARTITION BY user_id
         |    ORDER BY ${graft.oracle.DuckSql.epochSec("ts")}, event_id)
         |    AS valid_to_epoch,
         |  CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_cents,
         |  (lead(${graft.oracle.DuckSql.epochSec("ts")}) OVER (
         |    PARTITION BY user_id
         |    ORDER BY ${graft.oracle.DuckSql.epochSec("ts")}, event_id)
         |    IS NULL) AS is_current
         |FROM events
         |WHERE event_type = 'purchase'
         |ORDER BY user_id, valid_from_epoch, event_id""".stripMargin),

    // KEY-SKEW PROFILE — the diagnostic every 100 TB join/agg runs
    // BEFORE choosing a strategy (salt? AQE skew split? broadcast?):
    // per-key cardinalities of the prospective shuffle key, the
    // heaviest keys with their exact share of the table, and the
    // total alongside. One map-combinable count aggregate, a 1-row
    // broadcast total, and a TakeOrdered top-10 (no global sort).
    // The r04 lesson behind the work-aware skew flag
    // (metrics.StageAnalyzer) was that DATA skew and SPLIT skew look
    // identical in task times — this query is the data-side ground
    // truth the analyzer's flag is checked against.
    "q_skew_profile" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.broadcast
        val k = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("key"))
          .agg(count(lit(1)).as("n"))
        val total = k.agg(sum("n").as("total"))
        k.crossJoin(broadcast(total))
          .selectExpr("key", "CAST(n AS BIGINT) AS n",
            "CAST(n AS DOUBLE) / total AS share")
          .orderBy(col("n").desc, col("key"))
          .limit(10)
      },
      """WITH k AS (
        |  SELECT o_custkey AS key, count(*) AS n
        |  FROM orders GROUP BY o_custkey)
        |SELECT key, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / total AS share
        |FROM k CROSS JOIN (SELECT sum(n) AS total FROM k) t
        |ORDER BY n DESC, key
        |LIMIT 10""".stripMargin),

    // INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the ⊕-merge refresh:
    // a per-(returnflag, linestatus) revenue/count rollup is built ONCE
    // over the base slice and persisted as the MV; the refresh then
    // touches ONLY the MV (9-ish rows) and the delta slice — base rows
    // are never rescanned. This is the re-aggregation algebra that
    // makes nightly refresh of a 100 TB fact table O(delta), not
    // O(table): SUM and COUNT are commutative monoids, so
    // mv ⊕ agg(delta) ≡ agg(base ∪ delta), and AVG derives from the
    // merged (sum, count) pair rather than being maintained itself
    // (the standard decomposable-aggregate treatment). The oracle IS
    // the full recompute over all of lineitem — equality proves the
    // merge algebra, not just the arithmetic. Money is cents-BIGINT
    // so both the partials and the merged totals are exact.
    //
    // Scale shape: the refresh plan is one delta scan (shipdate
    // predicate pushed to parquet) → map-combinable partial agg →
    // shuffle of ≤ |group keys| rows → full-outer merge join against
    // an MV of the same tiny cardinality (AQE broadcasts it). The
    // reference analog is the chained-reduce MRR pattern (SURVEY §2c)
    // where stage N+1 consumes stage N's aggregate, not its input.
    "q_incremental_agg" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        val tag = new java.io.File(d).getName
        val root = s"${graft.ProcScratch.base}/mv/$tag"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val cut = "TIMESTAMP '2000-01-01 00:00:00'"
        val li = Tables.lineitem(s, d).selectExpr(
          "l_returnflag", "l_linestatus", "l_shipdate",
          "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents")
        // nightly build — yesterday's state, persisted once
        li.filter(expr(s"l_shipdate < $cut"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_rows"))
          .write.mode("overwrite").parquet(s"$root/returns_mv")
        // incremental refresh — reads the MV, not the base rows
        val mv = s.read.parquet(s"$root/returns_mv")
        val deltaAgg = li.filter(expr(s"l_shipdate >= $cut"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("cents").as("d_sum"), count(lit(1)).as("d_n"))
        mv.join(deltaAgg, Seq("l_returnflag", "l_linestatus"), "full_outer")
          .selectExpr("l_returnflag", "l_linestatus",
            "CAST(coalesce(sum_cents, 0) + coalesce(d_sum, 0) AS BIGINT)" +
              " AS sum_cents",
            "CAST(coalesce(n_rows, 0) + coalesce(d_n, 0) AS BIGINT)" +
              " AS n_rows")
          .selectExpr("l_returnflag", "l_linestatus", "sum_cents", "n_rows",
            "CAST(sum_cents AS DOUBLE) / n_rows AS avg_cents")
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem) t
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // PARTITION EVOLUTION — a long-lived table changes its partition
    // layout WITHOUT rewriting history: epoch-1 data is laid out by
    // year only, epoch-2 data (from the cutover on) by
    // (year, returnflag). The read side unions the two layouts and
    // every query keeps working: the year predicate prunes DIRECTORIES
    // in both epochs, the returnflag predicate prunes directories in
    // epoch 2 and falls back to a row-level parquet filter in epoch 1.
    // That asymmetry is the point — evolution means new data gets the
    // finer layout's skipping immediately while old data stays valid
    // and unrewritten (rewriting 100 TB of history to re-partition is
    // exactly what a production table cannot afford; the Iceberg-style
    // answer is per-epoch layouts under one logical table).
    // PartitionEvolutionSpec asserts the directory pruning physically
    // happens (scan numFiles collapses under an epoch-2 year filter).
    // The oracle recomputes the same aggregate from the raw fixture —
    // equality proves the union-of-layouts read loses nothing.
    "q_partition_evolution" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.expr
        val tag = new java.io.File(d).getName
        val root = s"${graft.ProcScratch.base}/pevo/$tag"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val li = Tables.lineitem(s, d).selectExpr(
          "year(l_shipdate) AS y", "l_returnflag",
          "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents")
        li.filter(expr("y < 1999"))
          .write.mode("overwrite").partitionBy("y")
          .parquet(s"$root/epoch1")
        li.filter(expr("y >= 1999"))
          .write.mode("overwrite").partitionBy("y", "l_returnflag")
          .parquet(s"$root/epoch2")
        val evolved = s.read.parquet(s"$root/epoch1")
          .unionByName(s.read.parquet(s"$root/epoch2"))
        evolved
          .filter(col("y") >= 1997 && col("l_returnflag") === "R")
          .groupBy("y")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .selectExpr("CAST(y AS BIGINT) AS y", "n_rows", "sum_cents")
          .orderBy("y")
      },
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem
        |WHERE year(l_shipdate) >= 1997 AND l_returnflag = 'R'
        |GROUP BY y
        |ORDER BY y""".stripMargin),

    // MID-DAG RECOVERY — the reference's AM-restart behavior
    // (RecoveryService.java persists DAG history; RecoveryParser.java
    // replays it so finished vertices are restored, not re-run) as an
    // oracle-gated query: a 3-stage pipeline (filter → join → rollup)
    // commits each stage through the GroupCommit protocol, an injected
    // driver death lands AFTER the join stage's commit, and the
    // restarted run resumes from the committed outputs — the query
    // itself asserts that ONLY the final stage recomputes, then
    // returns the rollup the oracle recomputes relationally. Equality
    // proves the resumed pipeline loses nothing; RecoverySpec adds the
    // counter/mtime evidence and the died-inside-commit roll-forward.
    //
    // Scale shape: each boundary materializes once at full parallelism
    // (the checkpoint trade); the resume read is ordinary parquet, so
    // the tail stage re-enters Catalyst with pushdown intact.
    "q_pipeline_recovery" -> QueryDef(
      (s, d) => {
        import graft.sources.StageRecovery
        import graft.sources.StageRecovery.{Kill, Stage}
        val tag = new java.io.File(d).getName
        val root = s"${graft.ProcScratch.base}/recov/$tag"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val ordersProj = Tables.orders(s, d)
          .selectExpr("o_orderkey", "o_orderstatus")
        val stages = Seq(
          Stage("filtered", _ => Tables.lineitem(s, d)
            .filter(col("l_shipdate").isNotNull &&
              org.apache.spark.sql.functions.year(col("l_shipdate")) <= 1996)
            .selectExpr("l_orderkey", "l_returnflag",
              "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents")),
          Stage("joined", cur => cur.join(ordersProj,
            cur("l_orderkey") === ordersProj("o_orderkey"))
            .select("l_returnflag", "o_orderstatus", "cents")),
          Stage("rollup", cur => cur
            .groupBy("l_returnflag", "o_orderstatus")
            .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
            .orderBy("l_returnflag", "o_orderstatus")))
        // run 1: dies after the join stage committed
        try {
          StageRecovery.run(s, root, s.emptyDataFrame, stages,
            Kill(failAfterStage = Some("joined")))
          throw new IllegalStateException("injected death did not fire")
        } catch { case _: org.apache.spark.SparkException => () }
        // run 2 (the restarted AM): resume — only the tail recomputes
        val (res, ran) = StageRecovery.run(s, root, s.emptyDataFrame, stages)
        require(ran == Seq("rollup"),
          s"recovery must skip committed stages, recomputed: $ran")
        // res is the stage's parquet READ-BACK: the in-stage orderBy ran
        // before the write, and a multi-file scan orders splits by size,
        // not range — re-apply the final sort so row order is stable
        res.orderBy("l_returnflag", "o_orderstatus")
      },
      """SELECT l_returnflag, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate IS NOT NULL AND year(l_shipdate) <= 1996
        |GROUP BY l_returnflag, o_orderstatus
        |ORDER BY l_returnflag, o_orderstatus""".stripMargin))
}
