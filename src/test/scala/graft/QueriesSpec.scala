package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    // local[4,2]: 4 executor threads, 2 task attempts — task retries on,
    // so FaultToleranceSpec can exercise the scheduler's re-run path the
    // way the reference's TestFaultTolerance does. Correctness-neutral for
    // every other suite (a passing task never reaches attempt 1).
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // as in GraftSession: int64-nanos parquet columns read as longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      // as in GraftSession: streams' cloned sessions share the root class
      // loader, and the codegen cache holds a whole suite's classes, so a
      // stream start reuses the classes earlier starts compiled
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // as in GraftSession: no stage id in generated class names, so an
      // AQE rerun that renumbers codegen stages reuses its classes
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Jobs submitted while `body` runs: a marker job goes last and every
    * job start before it has been delivered once the marker's has. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-during", "counted body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("jobs-during-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("jobs-during-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("jobs-during-marker"), "marker job never delivered")
      seen.toArray.count(_ == "jobs-during")
    } finally sc.removeSparkListener(listener)
  }
}

/** Every declared query runs end-to-end on sf0.001 and returns rows. */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}

/** Physical-plan shape assertions: each declared join picks the intended
  * strategy (SURVEY.md §2c parity with the reference's edge choices). */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  private def plan(name: String) = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan
  }
  private def nodes(name: String): Seq[String] =
    collect(plan(name)) { case p => p.nodeName }

  test("q_hash_join_inner uses ShuffledHashJoin") {
    assert(nodes("q_hash_join_inner").exists(_.contains("ShuffledHashJoin")))
  }
  test("q_broadcast_join uses BroadcastHashJoin and no shuffle of the fact side") {
    val ns = nodes("q_broadcast_join")
    assert(ns.count(_.contains("BroadcastHashJoin")) == 2)
    assert(!ns.exists(_.contains("SortMergeJoin")))
  }
  test("q_sort_merge_join uses SortMergeJoin") {
    assert(nodes("q_sort_merge_join").exists(_.contains("SortMergeJoin")))
  }
  test("q_cross_product uses CartesianProduct or BroadcastNestedLoop") {
    val ns = nodes("q_cross_product")
    assert(ns.exists(n => n.contains("CartesianProduct") || n.contains("BroadcastNestedLoop")))
  }
  test("q_theta_band never materializes an unfiltered cartesian") {
    val ns = nodes("q_theta_band")
    // the inequality is banded into an equi-join on buckets: the plan must
    // contain an equi-join and NO cartesian / nested-loop of the inputs
    assert(!ns.exists(_.contains("CartesianProduct")), ns)
    assert(!ns.exists(_.contains("BroadcastNestedLoop")), ns)
    assert(ns.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")), ns)
  }
  test("q_topk uses TakeOrderedAndProject (no global sort)") {
    assert(nodes("q_topk").exists(_.contains("TakeOrderedAndProject")))
  }
  test("q_weighted_sample uses TakeOrderedAndProject (no global sort, no exchange)") {
    assert(nodes("q_weighted_sample").exists(_.contains("TakeOrderedAndProject")))
  }
  test("q_sql_not_in plans a null-aware anti join, not a per-row subquery") {
    val p = plan("q_sql_not_in")
    val bhj = collect(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.exists(_.isNullAwareAntiJoin),
      s"expected a null-aware BroadcastHashJoin LeftAnti, got:\n$p")
  }
  test("q_sql_order_priority plans EXISTS as a semi join, not a per-row subquery") {
    val ns = nodes("q_sql_order_priority")
    assert(ns.exists(n => n.contains("HashJoin") || n.contains("SortMergeJoin")), ns)
    assert(plan("q_sql_order_priority").toString.contains("LeftSemi"))
  }
  test("q_sql_correlated decorrelates the scalar subquery into an aggregate + join") {
    val p = plan("q_sql_correlated")
    val ns = collect(p) { case n => n.nodeName }
    // decorrelation = a real join against the per-customer aggregate in
    // the physical plan, not a per-row subquery re-execution
    assert(ns.exists(_.contains("Join")), ns)
    assert(ns.count(_.contains("HashAggregate")) >= 2, ns)
  }
  test("q_sql_forecast pushes all three predicates into the parquet scan") {
    val s = plan("q_sql_forecast").toString
    assert(s.contains("PushedFilters: ["), s)
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(s.contains(c), s"$c predicate should reach the scan"))
  }
  test("q_filter_predicate pushes filters into the parquet scan") {
    val scan = plan("q_filter_predicate").toString
    assert(scan.contains("PushedFilters: ["), "expected pushed filters in scan")
    assert(scan.contains("l_shipdate"), "shipdate predicate should reach the scan")
  }
  test("q_scan_project prunes columns at the scan") {
    val s = plan("q_scan_project").toString
    assert(s.contains("ReadSchema"), s)
    // pruned: only the 4 projected columns are read
    val read = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_tax") && !read.contains("l_returnflag"), read)
  }
  test("q_agg_sum_count does partial then final hash aggregation") {
    val ns = nodes("q_agg_sum_count")
    assert(ns.count(_.contains("HashAggregate")) >= 2)
  }
  test("q_window_rank truncates per-group rows before the final window (WindowGroupLimit)") {
    // Catalyst's InferWindowGroupLimit turns row_number()<=k into
    // partial+final WindowGroupLimit operators: each map task keeps at
    // most k rows per group BEFORE the exchange, so the per-group
    // ranking never shuffles the full table — the optimizer absorbing
    // the reference's combiner-style early truncation, the same idea
    // q_topk_per_group implements explicitly with a bounded-state
    // typed Aggregator.
    val ns = nodes("q_window_rank")
    assert(ns.exists(_.contains("WindowGroupLimit")), ns)
  }
  test("q_contamination broadcasts the eval blocklist, never the corpus") {
    // benchmark suites are MBs vs a 100 TB corpus: the membership join
    // must be a broadcast of the blocklist side, not a corpus shuffle
    val ns = nodes("q_contamination")
    assert(ns.exists(_.contains("BroadcastHashJoin")), ns)
    assert(!ns.exists(_.contains("SortMergeJoin")), ns)
  }
  test("q_hash_split is map-side up to a 3-group aggregate") {
    val ns = nodes("q_hash_split")
    assert(ns.count(_.contains("HashAggregate")) >= 2, ns) // partial+final
    // one exchange for the split groups, one for the output sort — the
    // document scan itself never shuffles
    assert(ns.count(_.contains("Exchange")) <= 2, ns)
  }
  test("q_tfidf reads the corpus text only inside the one cached frame") {
    // tf and df both read the scratch-cached per-(doc, token) relation;
    // the text column is scanned once when that single cache
    // materializes. A file scan of `text` OUTSIDE the cache would mean
    // the branches split and the corpus is being re-read.
    val p = plan("q_tfidf")
    val fileScans = collect(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSeq
    }
    assert(!fileScans.exists(_.contains("text")), fileScans)
    assert(collect(p) {
      case m if m.nodeName.contains("InMemoryTableScan") => m
    }.nonEmpty)
  }
  test("q_full_outer keeps both null-producing sides (FullOuter join)") {
    val s = plan("q_full_outer").toString
    assert(s.contains("FullOuter"), s)
  }
  test("q_multi_join broadcasts the nation dim (fact spine never " +
    "re-shuffles for it)") {
    val ns = nodes("q_multi_join")
    assert(ns.exists(_.contains("BroadcastHashJoin")), ns)
    assert(!ns.exists(_.contains("CartesianProduct")), ns)
  }
  test("q_window_range runs one value-ranged Window over one partition " +
    "exchange") {
    val ns = nodes("q_window_range")
    assert(ns.count(_.contains("Window")) == 1, ns)
    // one exchange partitions by o_custkey; the final ORDER BY adds the
    // range exchange — nothing else may shuffle
    assert(ns.count(_.contains("Exchange")) <= 2, ns)
  }
  test("q_sql_region_revenue broadcasts every dim; no cartesian in the 6-way join") {
    val ns = nodes("q_sql_region_revenue")
    assert(!ns.exists(_.contains("CartesianProduct")), ns)
    assert(!ns.exists(_.contains("BroadcastNestedLoop")), ns)
    assert(ns.count(_.contains("BroadcastHashJoin")) >= 4, ns)
  }
  test("q_heavy_hitters runs the sketch as a partial ObjectHashAggregate " +
    "before one single-group shuffle") {
    val ns = nodes("q_heavy_hitters")
    // the Misra-Gries Aggregator must run partial (map-side, bounded
    // state) + final — 2 ObjectHashAggregate nodes
    assert(ns.count(_.contains("ObjectHashAggregate")) >= 2, ns)
    // the exact recount joins candidates by BROADCAST, never shuffling
    // the token stream against them
    assert(ns.exists(_.contains("BroadcastHashJoin")), ns)
  }
  test("q_dedup_prefix array re-joins survive at-scale planning (no forced broadcast)") {
    // at this fixture size Catalyst freely broadcasts the small docs
    // frame — correct, size-based, and exactly what AQE would NOT do at
    // corpus scale. The scale property to pin is that nothing in the
    // query FORCES a broadcast: with broadcasting disabled (emulating
    // at-scale sizes) the arrays must come back via shuffled joins.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val broadcastCols = collect(plan("q_dedup_prefix")) {
        case b if b.nodeName.contains("BroadcastExchange") =>
          b.output.map(_.name)
      }.flatten
      assert(!broadcastCols.exists(Set("cs", "ca", "cb")),
        s"arrays broadcast despite threshold=-1: $broadcastCols")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
  test("q_dedup_prefix global-order packing is injective over the corpus") {
    // the prefix filter's correctness rests on df*M + s being a total
    // order over distinct (df, s) pairs: M is the polyHash modulus so
    // s < M and the packing is injective and df-major
    graft.functions.TextHashFunctions.register(spark)
    val ex = Tables.documentsParallel(spark, sf)
      .selectExpr("doc_id", s"explode(${ops.DedupQueries.sparkShingleSet}) AS s")
    val withDf = ex.groupBy("s").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("df"))
    val packed = withDf
      .selectExpr(s"(df * ${graft.oracle.Dialect.M} + s) AS c", "df", "s")
      .selectExpr("count(distinct c) AS nc", "count(distinct df, s) AS nds")
      .collect()(0)
    assert(packed.getLong(0) == packed.getLong(1),
      s"packing collides: ${packed.getLong(0)} packed vs ${packed.getLong(1)} (df,s) pairs")
  }
  test("q_dedup_keep_best radix packing is order-equivalent over the corpus") {
    // The oracle packs (n_chars, doc_id) into n_chars*1e7 + doc_id —
    // order-equivalent to Spark's struct max ONLY while doc_id stays
    // below the 1e7 radix (and the packed value below Long range). A
    // future fixture that breaches this must fail HERE, pointing at
    // the assumption, not at an opaque hash mismatch in the gate.
    val m = Tables.documents(spark, sf)
      .selectExpr("max(doc_id) AS max_id", "max(n_chars) AS max_chars")
      .collect()(0)
    assert(m.getLong(0) < 10000000L,
      s"doc_id ${m.getLong(0)} breaches q_dedup_keep_best's 1e7 radix " +
        "— widen the packing in BOTH the oracle and this guard")
    assert(m.getLong(1) < Long.MaxValue / 10000000L,
      s"n_chars ${m.getLong(1)} would overflow the packed BIGINT")
  }
  test("q_pagerank iterates over the cached edge relation (no rescan per round)") {
    val p = plan("q_pagerank")
    // the lineitem file scan feeds ONLY the cache build; every round
    // reads InMemoryTableScan. After materialization the executed plan
    // must contain cache scans and no lineitem file scan outside them.
    assert(collect(p) {
      case m if m.nodeName.contains("InMemoryTableScan") => m
    }.nonEmpty, "edge relation not cached")
  }
  test("q_salted_join equals the unsalted plain join row-for-row") {
    // salting is pure re-partitioning: same aggregate, any salt count
    val salted = SparkEntry.queries("q_salted_join")(spark, sf).collect()
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf),
        org.apache.spark.sql.functions.col("l_suppkey") ===
          org.apache.spark.sql.functions.col("s_suppkey"))
      .groupBy("s_name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_items"),
        org.apache.spark.sql.functions.sum("l_quantity").as("sum_qty"))
      .orderBy("s_name").collect()
    assert(salted.toSeq == plain.toSeq)
  }
}
