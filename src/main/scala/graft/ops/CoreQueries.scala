package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{QueryDef, Tables}

/** Scan / filter / aggregate / sort / top-k operator family.
  *
  * Reference behaviors re-expressed Spark-first:
  *  - scan+project: ForwardingProcessor (tez-examples/src/main/java/org/
  *    apache/tez/examples/HashJoinExample.java:269-275) → parquet scan with
  *    column pruning.
  *  - filter: FilterByWordInputProcessor (tez-tests/.../processor/
  *    FilterByWordInputProcessor.java) → Catalyst predicate pushed to the
  *    parquet reader.
  *  - hash aggregate: WordCount's TokenProcessor+SumProcessor over an
  *    ordered-partitioned edge (tez-examples/.../WordCount.java:74-199) →
  *    `groupBy().agg()` (partial+final HashAggregate, the analog of Tez's
  *    spill-time Combiner, tez-mapreduce/.../combine/MRCombiner.java:118).
  *  - global sort: OrderedWordCount's second ordered edge into a single
  *    sorter (tez-examples/.../OrderedWordCount.java:124-180) → `orderBy`
  *    (range-partitioned SortExec; Spark samples like TotalOrderPartitioner
  *    in tez-tests/.../Sort.java:163-165).
  *  - secondary sort: FirstPartitioner/FirstGroupingComparator
  *    (tez-tests/.../SecondarySort.java:136-148) → window `row_number` over
  *    (partition key, value order), which keeps the shuffle on the group
  *    key only.
  *  - top-k: OrderedWordCount with parallelism 1 (OrderedWordCount.java:
  *    163-165) → `orderBy().limit(k)` (TakeOrderedAndProject: per-partition
  *    top-k then a driver-side merge of k·P rows — no global sort at scale).
  *
  * Oracle-parity rules used throughout graft.ops:
  *  - money aggregates (2-decimal doubles) are cast to DECIMAL before SUM
  *    and the exact decimal sum is cast back to DOUBLE: the result is
  *    order-independent and bit-identical across engines;
  *  - plain SUM/AVG is only used on whole-number doubles (l_quantity),
  *    where double addition is exact;
  *  - every query ends in ORDER BY over a unique key set.
  */
object CoreQueries {

  /** Exact, order-independent sum of a 2-decimal money column. */
  private def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  private val discounted: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2)))

  private val discountedSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  val defs: Map[String, QueryDef] = Map(
    // Determinism rule: (l_orderkey, l_linenumber) is NOT unique in the
    // fixtures, so every lineitem row query orders by ALL output columns —
    // tied rows are then identical, making output order engine-stable.
    "q_scan_project" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"),
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_shipdate""".stripMargin),

    // STATS-ONLY AGGREGATE PUSHDOWN — COUNT/MIN/MAX answered from
    // parquet FOOTER STATISTICS, zero row reads: with
    // spark.sql.parquet.aggregatePushdown on, the V2 scan pushes the
    // whole aggregate into the source (PushedAggregation in the plan,
    // asserted in StatsAggPushdownSpec) and each task returns one
    // pre-aggregated row per row group's metadata. At 100 TB this is
    // the difference between a metadata sweep (seconds) and a full
    // table read (hours) for the audit/accounting queries every
    // pipeline runs constantly. Pushdown needs the DSv2 parquet scan
    // (only ParquetScanBuilder implements SupportsPushDownAggregates),
    // so the fn plans and collects in a PRIVATE session (`newSession`:
    // same SparkContext and cache, its own conf) carrying both confs —
    // aggregatePushdown on, parquet off the V1 list — and never writes
    // the caller's conf, so concurrent queries in `s` cannot see them;
    // the returned frame is the materialized one-row result.
    // StatsAggPushdownSpec asserts PushedAggregation appears in the
    // executed plan and the row matches the conf-off aggregate.
    "q_stats_only_agg" -> QueryDef(
      (s, d) => {
        val kV1 = "spark.sql.sources.useV1SourceList"
        // Drop ONLY parquet from the caller's resolved V1 list:
        // getOption resolves the entry's registered default, whereas
        // get(kV1, "") returns "" when never explicitly set — which
        // would silently flip EVERY file source to DSv2 here.
        val v1 = s.conf.getOption(kV1).getOrElse("").split(",")
          .map(_.trim).filter(v => v.nonEmpty && v != "parquet")
          .mkString(",")
        val ps = s.newSession()
        ps.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        ps.conf.set(kV1, v1)
        val row = Tables.lineitem(ps, d).agg(
          count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"),
          max("l_orderkey").as("max_key")).collect()(0)
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
          .toDF("n_rows", "min_key", "max_key")
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_orderkey) AS min_key,
        |  max(l_orderkey) AS max_key
        |FROM lineitem""".stripMargin),

    "q_filter_predicate" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_quantity") > 45)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin),

    // Flagship: TPC-H Q1-shaped pricing summary (WordCount semantics writ large).
    "q_agg_sum_count" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum("l_quantity").as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_base_price"),
            sum(discounted).cast(DoubleType).as("sum_disc_price"),
            avg("l_quantity").as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($discountedSql) AS DOUBLE) AS sum_disc_price,
         |  avg(l_quantity) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Multi-distinct aggregation: forces Expand + partial/final HashAggregate,
    // the analog of the Tez combiner running at spill and merge time.
    "q_agg_partial_final" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct("l_suppkey").as("n_supp"),
            countDistinct("l_partkey").as("n_part"),
            sum("l_quantity").as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Agg-of-agg (MRR chained-reduce shape, tez-tests/.../MRRSleepJob.java:433-453):
    // orders-per-customer histogram. Stage 1 shuffles on o_custkey, stage 2
    // re-shuffles the (much smaller) per-customer rows on n_orders.
    "q_agg_two_stage" -> QueryDef(
      (s, d) => {
        val perCust = Tables.orders(s, d)
          .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        perCust.groupBy("n_orders").agg(count(lit(1)).as("n_cust"))
          .orderBy("n_orders")
      },
      """SELECT n_orders, count(*) AS n_cust FROM (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
        |) GROUP BY n_orders ORDER BY n_orders""".stripMargin),

    "q_global_sort" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin),

    // Sampled range-partitioned total-order sort (TotalOrderPartitioner +
    // InputSampler, tez-tests/.../Sort.java:163-165): Spark's RangePartitioning
    // samples automatically. LIMIT keeps the declared output deterministic.
    // The LIMIT cut must fall on a TOTAL ordering (full lineitem rows are
    // unique; any prefix of columns is not), then re-sort the projection.
    "q_total_order_sort" -> QueryDef(
      (s, d) => {
        val full = Seq("l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus")
        Tables.lineitem(s, d)
          .orderBy(full.head, full.tail: _*)
          .limit(1000)
          .select("l_shipdate", "l_orderkey", "l_linenumber")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      },
      """SELECT l_shipdate, l_orderkey, l_linenumber FROM (
        |  SELECT * FROM lineitem
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice, l_discount, l_tax, l_partkey, l_suppkey,
        |    l_returnflag, l_linestatus
        |  LIMIT 1000
        |) ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin),

    // Secondary sort: group by l_suppkey, order values by ship date within the
    // group; emit the first 3 per group. One shuffle on the grouping key only.
    "q_secondary_sort" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        Tables.lineitem(s, d)
          .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .orderBy("l_suppkey", "rn")
      },
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, rn FROM (
        |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem
        |) WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin),

    // Same semantics as q_secondary_sort via the typed bounded-top-k
    // Aggregator (graft.functions.TopKByShipdate): partial top-k runs
    // map-side (ObjectHashAggregate) so only k rows per (group, task)
    // shuffle — the scalable form of secondary sort. Shares the
    // q_secondary_sort oracle: both must produce identical rows.
    "q_topk_per_group" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val ds = Tables.lineitem(s, d)
          .select(col("l_suppkey"), col("l_shipdate"),
            col("l_orderkey"), col("l_linenumber"))
          .as[graft.functions.LineKeyed]
        ds.groupByKey(_.l_suppkey)
          .agg(new graft.functions.TopKByShipdate(3).toColumn)
          .flatMap { case (_, top) =>
            top.zipWithIndex.map { case (r, i) =>
              (r.l_suppkey, r.l_shipdate, r.l_orderkey, r.l_linenumber, i + 1)
            }
          }
          .toDF("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "rn")
          .orderBy("l_suppkey", "rn")
      },
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, rn FROM (
        |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem
        |) WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin),

    // Top-K via TakeOrderedAndProject: per-partition top-k, merge k·P rows on
    // the driver — at 100 TB this never materializes a global sort.
    "q_topk" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10),
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // Windowed ranking (free from Spark SQL; absent in Tez itself — Hive-level
    // behavior, SURVEY.md §2c gap analysis): top-5 customers by balance per nation.
    "q_window_rank" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        Tables.customer(s, d)
          .select("c_nationkey", "c_custkey", "c_acctbal")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .orderBy("c_nationkey", "rnk")
      },
      """SELECT c_nationkey, c_custkey, c_acctbal, rnk FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer
        |) WHERE rnk <= 5 ORDER BY c_nationkey, rnk""".stripMargin),

    // ROLLUP grouping sets (Hive-layer behavior; free via Catalyst Expand).
    // Explicit NULLS FIRST: Spark defaults nulls-first ASC, DuckDB nulls-last.
    "q_rollup_agg" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    // SKYLINE (Pareto frontier) over parts: minimize price, maximize
    // size — the multi-criteria dominance filter (Börzsönyi et al.,
    // ICDE'01), via the canonical DISTRIBUTED skyline algorithm:
    //  1. dedupe to distinct (cents, size) with count + min key (one
    //     map-combinable shuffle);
    //  2. LOCAL skyline per partition in task code (sort the partition
    //     by (cents asc, size desc), one sweep keeping rows whose size
    //     exceeds the running max — any locally dominated row is
    //     globally dominated, so pruning is sound and the survivors
    //     per partition are O(skyline) ≪ partition);
    //  3. GLOBAL skyline = the same sweep over the union of local
    //     survivors (tiny — repartition(1) holds only local-skyline
    //     rows, never the input).
    // The per-task sweep is the §2f processor surface again
    // (mapPartitions with imperative logic a relational plan can't
    // express without a single-partition window). The oracle computes
    // the identical frontier with the running-max window formula —
    // fine single-node, exactly what step 3 reduces to.
    "q_skyline" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val grouped = Tables.part(s, d)
          .selectExpr(
            "CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents",
            "CAST(p_size AS BIGINT) AS size", "p_partkey")
          .groupBy("cents", "size")
          .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("min_partkey"))
          .as[(Long, Long, Long, Long)]
        def sweep(it: Iterator[(Long, Long, Long, Long)]) = {
          val arr = it.toArray.sortBy(r => (r._1, -r._2))
          var best = Long.MinValue
          arr.iterator.filter { r =>
            val keep = r._2 > best
            if (keep) best = r._2
            keep
          }
        }
        grouped.mapPartitions(sweep _)
          .repartition(1).mapPartitions(sweep _)
          .toDF("cents", "size", "n_parts", "min_partkey")
          .orderBy("cents", "size")
      },
      """WITH g AS (
        |  SELECT CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents,
        |    CAST(p_size AS BIGINT) AS size,
        |    CAST(count(*) AS BIGINT) AS n_parts,
        |    min(p_partkey) AS min_partkey
        |  FROM part GROUP BY 1, 2),
        |w AS (
        |  SELECT cents, size, n_parts, min_partkey,
        |    max(size) OVER (ORDER BY cents ASC, size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM g)
        |SELECT cents, size, n_parts, min_partkey FROM w
        |WHERE prevmax IS NULL OR size > prevmax
        |ORDER BY cents, size""".stripMargin)
  )
}
