package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession.withConf
import graft.{QueryDef, Tables}
import graft.oracle.DuckSql
import graft.streaming.EventStream

/** Declared queries that execute through Structured Streaming itself —
  * not batch twins, the actual incremental engine: `readStream` over the
  * events fixture, `Trigger.AvailableNow` (process everything available,
  * then terminate — the batch-over-stream execution mode), memory sink,
  * and the materialized sink table is the returned result. That puts the
  * streaming runtime under the same bit-exact DuckDB oracle gate as
  * every batch query, instead of only under spec-level parity checks.
  *
  * The memory sink is the oracle-gate materialization only; production
  * streams sink via foreachBatch into bucketed tables
  * (EventStream.sinkToBucketedTable, asserted exchange-free in
  * BucketingSpec).
  */
object StreamQueries {

  private def moneySumSql(c: String) =
    s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** Stateful-stream parallelism: the number of state store instances
    * equals spark.sql.shuffle.partitions AT QUERY START, and each store
    * carries fixed per-batch overhead (commit, snapshot, maintenance) —
    * with the fixture's few MB of state, 32 partitions means 32-128
    * near-empty stores paying that overhead for nothing (measured 4×
    * slower than 8 on the interval join). 8 keeps every core's worth of
    * real work while sizing store count to state volume; at 100 TB/day
    * the same knob goes UP with state size — it is the documented
    * stateful-streaming tuning axis, not a semantic change (results are
    * partitioning-invariant, asserted by the unchanged oracles). */
  private val StatefulPartitions = "8"

  /** transformWithState needs the RocksDB state store provider. */
  private val RocksDbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run a streaming DataFrame to completion (AvailableNow) into a
    * memory sink and return the sink table. `complete` mode re-emits
    * full aggregate state each trigger, so the final table equals the
    * batch result with no watermark-holdback of trailing windows.
    * Shuffle partitions are scoped to StatefulPartitions for the run
    * (streaming queries pin the value at start; batch conf restored
    * after). */
  private def runToTable(s: SparkSession, df: DataFrame, name: String,
      mode: String): DataFrame = {
    // Explicit checkpoint on the process scratch tree (r13): the
    // memory-sink default is a temp dir under java.io.tmpdir; placing
    // the WAL + state deltas on the scratch tree keeps them on the
    // parameterised fast storage. Measured NEUTRAL at fixture scale
    // (isolated A/B within noise) — kept for placement control, not
    // claimed as a win. Deleted BEFORE every start: each invocation
    // re-runs the finite stream from scratch, and a leftover
    // checkpoint would make a restarted query "resume" past its
    // re-staged input and return an empty sink table.
    val ckpt = s"${graft.ProcScratch.base}/ckpt/$name"
    val p = new org.apache.hadoop.fs.Path(ckpt)
    withConf(s, "spark.sql.shuffle.partitions" -> StatefulPartitions) {
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.table(name)
  }

  val defs: Map[String, QueryDef] = Map(
    // Tumbling 1-hour aggregate computed BY the streaming engine;
    // identical output contract (and oracle) as q_window_tumbling.
    "q_stream_tumbling" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.tumblingCountsEpoch(EventStream.readEvents(s, d)),
          "graft_stream_tumbling", "complete")
          .orderBy("window_start_epoch", "event_type"),
      s"""SELECT ${DuckSql.epochTrunc("hour", "ts")} AS window_start_epoch,
         |  event_type, count(*) AS n_events, ${moneySumSql("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // STREAM-STATIC JOIN — the dimension-enrichment shape: the event
    // stream broadcast-joins a static per-type weight table (computed
    // once, batch-side, from the same fixture) inside every
    // micro-batch, then rolls up weighted money per (hour, type). No
    // join state, no watermark on the join; the oracle is the
    // identical batch SQL. Complements q_stream_join (stream-STREAM,
    // stateful) with the stateless-join half of the streaming join
    // matrix.
    "q_stream_enrich" -> QueryDef(
      (s, d) => {
        val dim = Tables.events(s, d)
          .groupBy("event_type").agg(count(lit(1)).as("w"))
        runToTable(s,
          EventStream.enrichedTumblingEpoch(
            EventStream.readEvents(s, d), dim),
          "graft_stream_enrich", "complete")
          .orderBy("window_start_epoch", "event_type")
      },
      s"""WITH w AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS w
         |  FROM events GROUP BY event_type)
         |SELECT ${DuckSql.epochTrunc("hour", "ts")} AS window_start_epoch,
         |  e.event_type, count(*) AS n_events,
         |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT) * w)
         |    AS BIGINT) AS weighted_cents
         |FROM events e JOIN w ON e.event_type = w.event_type
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Sliding 1-hour/30-minute window computed by the streaming engine;
    // same output contract (and oracle) as q_window_sliding. Window
    // membership is unaffected by the oracle's whole-second flooring
    // because boundaries sit on 1800-second multiples.
    "q_stream_sliding" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.readEvents(s, d)
            .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
                .cast("double").as("sum_value"))
            .select(unix_timestamp(col("window.start")).as("window_start_epoch"),
              col("event_type"), col("n_events"), col("sum_value")),
          "graft_stream_sliding", "complete")
          .orderBy("window_start_epoch", "event_type"), {
        val d = DuckSql
        s"""WITH e AS (SELECT ${d.epochSec("ts")} AS es, event_type, value FROM events),
           |w AS (
           |  SELECT ((es // 1800) * 1800) AS ws, event_type, value FROM e
           |  UNION ALL
           |  SELECT ((es // 1800) * 1800 - 1800) AS ws, event_type, value FROM e
           |)
           |SELECT ws AS window_start_epoch, event_type,
           |  count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // Per-user gap sessions computed by the streaming session_window
    // operator. The batch twin (q_window_session) defines "same session"
    // as whole-second gap <= 1800; session_window merges on an INCLUSIVE
    // next <= prev + gap bound (verified against the fixture's exact
    // 1801-second gap at user 69), so after truncating timestamps to
    // whole seconds the same 1800-second gap makes the rules identical.
    // Duration is window.end - gap - window.start = max(es) - min(es).
    "q_stream_session" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.readEvents(s, d)
            .select(col("user_id"),
              expr("timestamp_seconds(unix_timestamp(ts))").as("tss"),
              col("value"))
            .groupBy(session_window(col("tss"), "1800 seconds"), col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
                .cast("double").as("sum_value"))
            .select(col("user_id"),
              unix_timestamp(col("session_window.start")).as("session_start_epoch"),
              (unix_timestamp(col("session_window.end")) - lit(1800L)
                - unix_timestamp(col("session_window.start"))).as("duration_sec"),
              col("n_events"), col("sum_value")),
          "graft_stream_session", "complete")
          .orderBy("user_id", "session_start_epoch"), {
        val d = DuckSql
        s"""WITH e AS (SELECT user_id, ${d.epochSec("ts")} AS es, value FROM events),
           |flagged AS (
           |  SELECT user_id, es, value,
           |    CASE WHEN lag(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
           |           OR es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > 1800
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM e
           |),
           |sess AS (
           |  SELECT user_id, es, value,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY es
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           |  FROM flagged
           |)
           |SELECT user_id, min(es) AS session_start_epoch,
           |  CAST(max(es) - min(es) AS BIGINT) AS duration_sec,
           |  count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM sess GROUP BY user_id, session_seq
           |ORDER BY user_id, session_start_epoch""".stripMargin
      }),

    // AS-OF join computed BY the streaming engine (flatMapGroupsWithState,
    // O(1) per-user state — EventStream.streamingAsOf): identical output
    // contract and oracle as the batch q_asof_join. AvailableNow over the
    // fixture is a single in-order batch, so the oracle equality is exact;
    // the multi-batch replay contract is asserted in StreamAsOfSpec.
    "q_stream_asof" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.streamingAsOf(EventStream.readEvents(s, d)).toDF(),
          "graft_stream_asof", "append")
          .orderBy("user_id", "event_id"),
      TemporalJoinQueries.defs("q_asof_join").oracle.get),

    // SEQUENTIAL FUNNEL computed BY the streaming engine
    // (EventStream.funnelStates, mapGroupsWithState, O(1) per-user
    // state = three optional timestamps): per-user funnel stages
    // accumulate incrementally; the declared result is the same
    // 4-number rollup — and the same ORACLE — as the batch
    // q_event_funnel (streaming must change nothing). Snapshots
    // collapse with a per-user max() (state is monotone -1 → value),
    // so the rollup is robust to multi-batch update-mode sinks.
    "q_stream_funnel" -> QueryDef(
      (s, d) => {
        val snaps = runToTable(s,
          EventStream.funnelStates(EventStream.readEvents(s, d)).toDF(),
          "graft_stream_funnel", "update")
          .groupBy("user_id")
          .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        snaps.agg(
          expr("CAST(sum(CASE WHEN t1 >= 0 THEN 1 ELSE 0 END) AS BIGINT)")
            .as("n_view"),
          expr("CAST(sum(CASE WHEN t2 >= 0 THEN 1 ELSE 0 END) AS BIGINT)")
            .as("n_click"),
          expr("CAST(sum(CASE WHEN t3 >= 0 THEN 1 ELSE 0 END) AS BIGINT)")
            .as("n_purchase"),
          expr("round(CAST(CAST(sum(CASE WHEN t3 >= 0 THEN t3 - t1 ELSE 0 END)" +
            " AS BIGINT) AS DOUBLE)" +
            " / sum(CASE WHEN t3 >= 0 THEN 1 ELSE 0 END), 6)")
            .as("avg_funnel_secs"))
      },
      EventQueries.defs("q_event_funnel").oracle.get),

    // Running per-user spend computed BY transformWithState — the v2
    // arbitrary-state API (StatefulProcessor + named typed state
    // handles on the RocksDB provider) under the same bit-exact oracle
    // gate as everything else: cents-quantized BIGINT accumulation in
    // (es, event_id) order reproduces the oracle's running-sum window
    // exactly (EventStream.RunningSpendProcessor; cross-batch carry
    // asserted in TransformWithStateSpec).
    "q_stream_running" -> QueryDef(
      (s, d) => {
        withConf(s, RocksDbProvider) {
          runToTable(s,
            EventStream.runningSpend(EventStream.readEvents(s, d)).toDF(),
            "graft_stream_running", "append")
            .orderBy("user_id", "event_id")
        }
      },
      s"""SELECT user_id, event_id,
         |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
         |    PARTITION BY user_id ORDER BY ${DuckSql.epochSec("ts")}, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS running_cents
         |FROM events ORDER BY user_id, event_id""".stripMargin),

    // Watermark-BUFFERED running totals (EventStream.runningSpendWm) —
    // the TimeMode.EventTime variant that removes q_stream_running's
    // time-ordered-batch precondition: rows hold in ListState until
    // the watermark strictly passes their event-time second, then fold
    // in (es, event_id) order, so ANY batch split within the watermark
    // delay reproduces the batch running-sum window (out-of-order
    // replay proven in RunningSpendWmSpec). With a 0-second delay over
    // a finite replay the final watermark is max(ts), so every row in
    // a strictly earlier second emits; rows in the final second stay
    // (correctly) buffered — the oracle restricts to es < max(es).
    "q_stream_running_wm" -> QueryDef(
      (s, d) => {
        withConf(s, RocksDbProvider) {
          runToTable(s,
            EventStream.runningSpendWm(EventStream.readEvents(s, d)).toDF(),
            "graft_stream_running_wm", "append")
            .orderBy("user_id", "event_id")
        }
      },
      s"""WITH r AS (
         |  SELECT user_id, event_id, ${DuckSql.epochSec("ts")} AS es,
         |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
         |      PARTITION BY user_id ORDER BY ${DuckSql.epochSec("ts")}, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS running_cents
         |  FROM events)
         |SELECT user_id, event_id, running_cents FROM r
         |WHERE es < (SELECT max(${DuckSql.epochSec("ts")}) FROM events)
         |ORDER BY user_id, event_id""".stripMargin),

    // Sessionization through transformWithState EVENT-TIME TIMERS
    // (EventStream.sessionizeV2) under the oracle gate. Emission is
    // exactly characterizable, so the oracle is the batch session-window
    // result RESTRICTED to sessions the timer machinery can have fired
    // for: a session closes inline when a later event arrives past the
    // gap, or by timer once the watermark passes end+gap — and with a
    // 0-second watermark delay over a finite input the final watermark
    // is max(es), so a session emits iff end + gap + 1 <= max(es)
    // (the +1 is the timer's strictly-after-due registration). Sessions
    // still open at end-of-input are correctly withheld — on an
    // unbounded stream they are not closed yet; the oracle encodes that
    // rather than pretending the stream ended.
    "q_stream_session_v2" -> QueryDef(
      (s, d) => {
        withConf(s, RocksDbProvider) {
          runToTable(s,
            EventStream.sessionizeV2(EventStream.readEvents(s, d), 1800L).toDF(),
            "graft_stream_session_v2", "append")
            .orderBy("user_id", "session_start_epoch")
        }
      }, {
        val d = DuckSql
        s"""WITH e AS (SELECT user_id, ${d.epochSec("ts")} AS es, value FROM events),
           |mx AS (SELECT max(es) AS max_es FROM e),
           |flagged AS (
           |  SELECT user_id, es, value,
           |    CASE WHEN lag(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
           |           OR es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > 1800
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM e
           |),
           |sess AS (
           |  SELECT user_id, es, value,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY es
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           |  FROM flagged
           |)
           |SELECT user_id, session_start_epoch, duration_sec, n_events, sum_value
           |FROM (
           |  SELECT user_id, min(es) AS session_start_epoch,
           |    CAST(max(es) - min(es) AS BIGINT) AS duration_sec,
           |    count(*) AS n_events,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           |    max(es) AS session_end
           |  FROM sess GROUP BY user_id, session_seq
           |), mx
           |WHERE session_end + 1801 <= max_es
           |ORDER BY user_id, session_start_epoch""".stripMargin
      }),

    // STREAM-STREAM inner interval join computed by the streaming engine
    // (EventStream.purchaseFollowUps): each purchase matched to the same
    // user's events in the following 10 minutes, watermarks on BOTH
    // sides bounding the join state — the streaming twin of
    // q_range_join. The join condition runs on the full µs-precision
    // timestamps (watermark state eviction requires the condition to
    // range over the watermarked event-time columns, so no whole-second
    // truncation here); the oracle therefore joins on µs epochs:
    // Spark's ts is timestamp_micros(ns div 1000) and DuckDB's
    // epoch_ns(ts)//1000 is the identical floor for post-1970 data.
    // Inner-join output is emitted as matches are found (watermarks only
    // bound STATE, they never hold back inner matches), and the 1-hour
    // watermark delay covers the 10-minute window with a 6× margin, so
    // time-ordered AvailableNow replay loses nothing; multi-batch state
    // carry is the same contract StreamOuterJoinSpec pins for the
    // left-outer variant.
    "q_stream_join" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.purchaseFollowUps(EventStream.readEvents(s, d)),
          "graft_stream_join", "append")
          .orderBy("user_id", "purchase_id", "event_id"),
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
         |    event_id, event_type FROM events)
         |SELECT p.user_id, p.event_id AS purchase_id, e.event_id, e.event_type
         |FROM ev p JOIN ev e
         |  ON p.user_id = e.user_id
         | AND e.us > p.us AND e.us - p.us <= 600000000
         |WHERE p.event_type = 'purchase'
         |ORDER BY p.user_id, purchase_id, e.event_id""".stripMargin),

    // LEFT SEMI stream-stream interval join — the streaming EXISTS:
    // each purchase with ≥1 same-user follow-up inside 10 minutes is
    // emitted EXACTLY ONCE, with no match fan-out (the trigger/alert
    // shape; the inner variant above re-emits per matching event).
    // Emission is match-driven like the inner join — watermarks bound
    // state, they never hold back a semi row — so time-ordered
    // AvailableNow replay loses nothing. Same µs-epoch oracle
    // condition as q_stream_join, wrapped in EXISTS.
    "q_stream_join_semi" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.purchaseFollowUpsSemi(EventStream.readEvents(s, d)),
          "graft_stream_join_semi", "append")
          .orderBy("user_id", "purchase_id"),
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
         |    event_id, event_type FROM events)
         |SELECT p.user_id, p.event_id AS purchase_id
         |FROM ev p
         |WHERE p.event_type = 'purchase'
         |  AND EXISTS (
         |    SELECT 1 FROM ev e
         |    WHERE e.user_id = p.user_id
         |      AND e.us > p.us AND e.us - p.us <= 600000000)
         |ORDER BY p.user_id, purchase_id""".stripMargin),

    // LEFT OUTER stream-stream interval join as a DECLARED query — the
    // null-extension side is WATERMARK-DRIVEN (a purchase's null row
    // can only emit once the watermark passes its 10-minute window),
    // so the oracle characterizes the emission exactly, the
    // q_stream_session_v2 technique: matched rows are the batch inner
    // join; null rows are exactly the no-follow-up purchases whose
    // window closed strictly below the FINAL GLOBAL watermark. The
    // subtlety (verified against the engine's progress log): with
    // watermarks on BOTH join inputs the global watermark is the MIN
    // of the per-column watermarks, and the purchase side is a FILTER
    // of the event stream — its max event time trails the full
    // stream's, so the final watermark is least(max purchase ts,
    // max event ts) − 1 h, NOT max event ts − 1 h. AvailableNow's
    // no-data final batch flushes the nulls below it. Purchases still
    // inside the horizon are correctly withheld: on an unbounded
    // stream a follow-up could still arrive; the oracle encodes that
    // rather than pretending the stream ended. StreamOuterJoinSpec
    // pins the matched-row contract structurally.
    "q_stream_join_outer" -> QueryDef(
      (s, d) =>
        runToTable(s,
          EventStream.purchaseFollowUpsOuter(EventStream.readEvents(s, d))
            .selectExpr("user_id", "unix_timestamp(p_ts) AS p_es",
              "purchase_id", "event_id", "event_type"),
          "graft_stream_join_outer", "append")
          .orderBy(col("user_id"), col("purchase_id"),
            col("event_id").asc_nulls_first),
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
         |    event_id, event_type FROM events),
         |mx AS (SELECT least(
         |    max(us) FILTER (WHERE event_type = 'purchase'),
         |    max(us)) AS wm_base FROM ev),
         |p AS (SELECT user_id, us, event_id AS purchase_id FROM ev
         |  WHERE event_type = 'purchase'),
         |m AS (
         |  SELECT p.user_id, p.us, p.purchase_id, e.event_id, e.event_type
         |  FROM p JOIN ev e ON p.user_id = e.user_id
         |   AND e.us > p.us AND e.us - p.us <= 600000000),
         |n AS (
         |  SELECT p.user_id, p.us, p.purchase_id,
         |    CAST(NULL AS BIGINT) AS event_id,
         |    CAST(NULL AS VARCHAR) AS event_type
         |  FROM p, mx
         |  WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
         |    AND p.us + 600000000 < wm_base - 3600000000)
         |SELECT user_id, us // 1000000 AS p_es, purchase_id, event_id, event_type FROM m
         |UNION ALL
         |SELECT user_id, us // 1000000 AS p_es, purchase_id, event_id, event_type FROM n
         |ORDER BY user_id, purchase_id, event_id NULLS FIRST""".stripMargin),

    // Streaming dedup (one event per type per hour — throttling-style
    // dedup) run through dropDuplicates state. Output is the surviving
    // KEY SET, which is deterministic regardless of which arrival won
    // the race, so the oracle is a plain DISTINCT. No watermark here:
    // AvailableNow over a finite fixture needs none, and an eviction
    // horizon could admit a late duplicate and break key-set equality;
    // the unbounded-stream variant (dropDuplicates WITH watermark, state
    // ages out) is EventStream.dedupedEvents, spec-covered.
    "q_stream_dedup" -> QueryDef(
      (s, d) => {
        val keys = EventStream.readEvents(s, d)
          .select(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts")))).as("hour_epoch"))
          .dropDuplicates("event_type", "hour_epoch")
        runToTable(s, keys, "graft_stream_dedup", "append")
          .orderBy("event_type", "hour_epoch")
      },
      s"""SELECT DISTINCT event_type,
         |  ${DuckSql.epochTrunc("hour", "ts")} AS hour_epoch
         |FROM events ORDER BY event_type, hour_epoch""".stripMargin),

    // dropDuplicatesWithinWatermark — the state-TTL'd dedup operator
    // (distinct physical op from dropDuplicates: its per-key state is
    // EVICTED once the watermark passes the key's event time, which is
    // the only way exact-id dedup runs forever on a 100 TB/day stream;
    // plain dropDuplicates state grows without bound). The fixture's
    // event_ids are unique, so the query INJECTS duplicates — a second
    // streaming read of the same path filtered to event_id % 3 = 0
    // unions in an exact copy of a third of the rows — and the oracle
    // is the per-type rollup of the ORIGINAL events: if the operator
    // failed to drop the injected copies, every third id would count
    // twice and the sums would inflate. Duplicate rows are bitwise
    // identical, so which arrival survives cannot affect output. The
    // rollup runs batch-side on the sink table: the streaming graph
    // keeps ONE stateful operator, the one under test.
    "q_stream_dedup_wm" -> QueryDef(
      (s, d) => {
        val ev = EventStream.readEvents(s, d)
        val dup = EventStream.readEvents(s, d)
          .filter(col("event_id") % 3 === 0)
        val deduped = ev.unionByName(dup)
          .withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type"),
            expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents"))
        runToTable(s, deduped, "graft_stream_dedup_wm", "append")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
          .orderBy("event_type")
      },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
