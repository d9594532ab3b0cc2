package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

/** Structured Streaming surface over the `events` table.
  *
  * Tez has no stream processing (SURVEY.md §1: batch-only; its
  * "pipelined shuffle" is intra-job). This module provides the streaming
  * renditions of the batch window queries in graft.ops.EventQueries:
  * same window semantics (`window()`, `session_window()`), plus
  * watermarked late-data handling — the pieces a 100 TB/day event
  * pipeline needs. Batch/stream parity: the batch queries are the oracle
  * for these (Structured Streaming's incremental execution of the same
  * logical plan).
  *
  * The stream schema is DERIVED from a batch read of the same path and
  * decoded with the same precision-adaptive branching as Tables.events —
  * a streaming source must not hard-code the file layout (round 4: a
  * forced int64 schema silently mis-decoded µs fixtures 1000× small,
  * collapsing every window). The batch read also runs Tables.events'
  * loud min/max-year invariant BEFORE the stream starts, so a future
  * layout change fails fast instead of streaming garbage.
  */
object EventStream {

  /** Apply the precision-adaptive `ts` decode to any events-shaped frame
    * (batch or streaming; Tables.events decodes through it) — TIMESTAMP
    * passes through, TIMESTAMP_NTZ casts exactly under the UTC session
    * timezone, int64 is the legacy ns layout. Specs that time-split the
    * fixture and replay their own written files go through this too, so
    * every read path in the repo shares ONE layout contract. */
  def decodeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case TimestampType    => df
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case other => throw new IllegalStateException(
      s"events.ts: unsupported physical type $other " +
        "(expected TIMESTAMP, TIMESTAMP_NTZ, or int64 nanos)")
  }

  /** Streaming read of the events fixture directory, schema-adaptive. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // Batch-read the same path first: runs Tables.events' decoded-time
    // sanity invariant loudly, driver-side, before any stream starts
    // (an int64-nanos file needs the contract session's nanosAsLong —
    // see GraftSession).
    graft.Tables.events(spark, dir): Unit
    // Layout-adaptive, like every other reader: the driver fixture is a
    // single FILE named events.parquet inside the table dir (stream the
    // dir with a glob so sibling tables are excluded); a Spark-written
    // corpus (ScaleStress, downstream users) is a DIRECTORY of part
    // files under events.parquet/ (stream that directory itself — a
    // glob of the literal name would match nothing and die with
    // UNABLE_TO_INFER_SCHEMA). Either way the schema is the table's own,
    // read once: from the file's footer, or by inference over the dir.
    val path = s"$dir/events.parquet"
    val stream = spark.readStream.schema(Sources.readParquet(spark, path).schema)
    decodeTs(
      if (new java.io.File(path).isDirectory) stream.parquet(path)
      else stream.option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Tumbling 1-hour counts/sums per event type, 2-hour watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Batch-identical tumbling aggregate (whole-second epochs + decimal
    * money sum) — the streaming side of the oracle-gated
    * `q_stream_tumbling` declared query (graft.ops.StreamQueries); its
    * output columns match graft.ops.EventQueries.q_window_tumbling
    * exactly, so both run against the same DuckDB oracle. */
  def tumblingCountsEpoch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stream-STATIC dimension enrichment → tumbling weighted rollup:
    * the unbounded stream broadcast-joins a bounded dimension frame
    * inside every micro-batch (no state, no watermark needed for the
    * join itself — the static side is immutable for the query's
    * lifetime), then aggregates weighted money per (hour, type). This
    * is the canonical enrichment shape at 100 TB/day: the dimension is
    * MBs, so the stream side never shuffles for the join; the only
    * stateful operator is the windowed aggregate. Money quantizes to
    * cents BIGINT per row before the weighted sum, so accumulation
    * order cannot matter. */
  def enrichedTumblingEpoch(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withColumn("cents", expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
      .join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cents * w")).as("weighted_cents"))
      .select(unix_timestamp(col("window.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("weighted_cents"))

  /** Session windows with a 30-minute gap per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup within the watermark horizon — the streaming
    * twin of q_dedup_exact: late duplicates beyond the watermark age out
    * of state instead of accumulating forever (the only state-bounded
    * way to dedup an unbounded 100 TB/day stream). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")

  /** Stream-stream interval join: each purchase joined to the same
    * user's events in the following 10 minutes — the streaming twin of
    * q_range_join. Watermarks on BOTH sides bound the join state: a
    * purchase can stop waiting once the event-side watermark passes its
    * window, which is what makes this runnable forever at 100 TB/day. */
  def purchaseFollowUps(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val follows = events
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id"), col("event_type"))
      .withWatermark("e_ts", "1 hour")
    purchases.join(follows,
      col("p_user") === col("e_user") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("event_id"), col("event_type"))
  }

  /** LEFT SEMI stream-stream interval join — purchases that HAVE at
    * least one same-user follow-up within 10 minutes, emitted once
    * (no match payload, no duplication per match): the streaming
    * EXISTS. Same watermark-bounded state as the inner variant; the
    * semi form additionally guarantees single emission per left row,
    * which is what an alerting/trigger pipeline wants at 100 TB/day —
    * fan-out joins would re-emit per matching event. */
  def purchaseFollowUpsSemi(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val follows = events
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id"))
      .withWatermark("e_ts", "1 hour")
    purchases.join(follows,
      col("p_user") === col("e_user") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"),
      "left_semi")
      .select(col("p_user").as("user_id"), col("purchase_id"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase is emitted —
    * matched against the same user's events in the following 10 minutes
    * when any exist, null-extended when none do. The outer side's
    * emission is WATERMARK-DRIVEN: a purchase's null row can only be
    * produced once the event-side watermark has passed p_ts + 10 min
    * (before that, a matching event could still arrive), so unmatched
    * purchases inside the final watermark horizon are withheld at
    * end-of-stream — the price of correct outer semantics on unbounded
    * input. StreamOuterJoinSpec pins that contract exactly: matched rows
    * equal the batch inner join, null rows appear exactly for
    * no-follow-up purchases with p_ts below the final watermark minus
    * the interval. */
  def purchaseFollowUpsOuter(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val follows = events
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id"), col("event_type"))
      .withWatermark("e_ts", "1 hour")
    purchases.join(follows,
      col("p_user") === col("e_user") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("p_ts"), col("purchase_id"),
        col("event_id"), col("event_type"))
  }

  /** foreachBatch sink into a bucketed table (graft.sources.Bucketing):
    * each micro-batch appends parquet files in the table's bucket layout,
    * so EVERY downstream batch join or aggregation on the bucket key runs
    * exchange-free (asserted in BucketingSpec). This is the piece that
    * connects streaming ingest to the zero-shuffle join story: at
    * 100 TB/day the ingest pays the bucketing cost once per micro-batch
    * (a local sort + hash-route, no cluster shuffle of historic data) and
    * the daily analytical joins over the accumulated table never shuffle.
    * bucketBy requires the table-catalog write path, which streaming
    * writers lack — foreachBatch is the documented bridge. */
  def sinkToBucketedTable(events: DataFrame, table: String, key: String,
      buckets: Int): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(buckets, key)
          .sortBy(key)
          .format("parquet")
          .saveAsTable(table)
      }
      .start()

  /** foreachBatch sink that publishes EACH MICRO-BATCH through the
    * vertex-group all-or-nothing commit (graft.sources.GroupCommit —
    * reference VertexGroup / commitAllOutputsOnSuccess): every trigger
    * splits the batch into purchases / other events / per-type counts
    * and commits the three sinks as ONE group under
    * `<base>/{purchases,others,stats}/batch_<id>`. Readers never see a
    * partially-written trigger: before the manifest lands, nothing is
    * visible; after it, recover() rolls forward.
    *
    * Exactly-once across restarts, by composition of three properties:
    * (1) foreachBatch replays a failed trigger with the SAME batchId;
    * (2) the batch content is deterministic for a replayed batchId
    * (file source + checkpoint); (3) the group publish is
    * overwrite-idempotent into batchId-keyed destinations. So a crash
    * at ANY point — mid-write, mid-publish, post-publish-pre-ack —
    * converges to the same committed state on retry (recover() is
    * called at trigger start to finish any half-published group first).
    * StreamGroupCommitSpec drives the replay and restart cases.
    *
    * At 100 TB/day: phase-1 writes are per-batch data-proportional and
    * fully parallel; the commit adds O(#sinks) driver metadata ops per
    * trigger — the same cost profile as the reference's DAG-level
    * committer, paid per micro-batch. */
  def sinkToGroupCommitted(events: DataFrame, base: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        graft.sources.GroupCommit.recover(s, base)
        batch.persist()
        try {
          val purchases = batch.filter(col("event_type") === "purchase")
          val others = batch.filter(col("event_type") =!= "purchase")
          val stats = batch.groupBy("event_type")
            .agg(count(lit(1)).as("n_events"))
          graft.sources.GroupCommit.commitGroup(s, base, Seq(
            graft.sources.GroupCommit.Sink(purchases, s"$base/purchases/batch_$batchId"),
            graft.sources.GroupCommit.Sink(others, s"$base/others/batch_$batchId"),
            graft.sources.GroupCommit.Sink(stats, s"$base/stats/batch_$batchId")))
          ()
        } finally batch.unpersist()
      }
      .start()

  /** Streaming AS-OF join (the streaming twin of q_asof_join /
    * graft.plans.AsOfJoinPlan): each event is annotated with the value of
    * the latest prior-or-equal 'purchase' by the same user, computed
    * incrementally by flatMapGroupsWithState.
    *
    * Per-user state is O(1) — just the latest purchase (es, value) seen
    * so far — NOT a buffer of events, which is what makes this runnable
    * forever on an unbounded stream. Within each micro-batch the group's
    * rows are tagged and sorted exactly like the batch union-sort
    * algorithm (purchases become a side-0 state-update row plus their
    * side-1 emit row; sort by (es, side, event_id); linear scan), so a
    * single batch reproduces the batch query bit-for-bit, and across
    * batches the carried state gives the same result whenever arrival
    * order respects event time at batch granularity (time-ordered replay
    * or an in-order source) — the processing-time temporal-join contract;
    * the per-batch sort absorbs any disorder WITHIN a batch.
    * StreamAsOfSpec drives a 4-batch time-split replay and asserts exact
    * parity with the batch query. */
  case class PurchaseState(es: Long, pval: Double)
  case class AsOfOut(user_id: Long, event_id: Long, es: Long,
      last_purchase_val: Option[Double])

  def streamingAsOf(events: DataFrame): org.apache.spark.sql.Dataset[AsOfOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), (col("event_type") === "purchase").as("is_purchase"),
        col("value"))
      .as[(Long, Long, Long, Boolean, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long, Boolean, Double)],
            state: GroupState[PurchaseState]) =>
          // (es, side, event_id, pval): side 0 = purchase payload, sorts
          // before side 1 at equal ts -> inclusive ts_r <= ts, same total
          // order as the batch query's window sort.
          val tagged = it.flatMap { case (_, es, id, isPurchase, v) =>
            if (isPurchase) Iterator((es, 0, id, v), (es, 1, id, 0.0))
            else Iterator((es, 1, id, 0.0))
          }.toArray
          java.util.Arrays.sort(tagged, Ordering.by {
            (t: (Long, Int, Long, Double)) => (t._1, t._2, t._3)
          })
          var st = state.getOption.orNull
          val out = Array.newBuilder[AsOfOut]
          tagged.foreach { case (es, side, id, v) =>
            if (side == 0) st = PurchaseState(es, v)
            else out += AsOfOut(user, id, es,
              if (st == null) None else Some(st.pval))
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Hand-rolled sessionization with EVENT-TIME TIMERS — the remaining
    * §2f mechanism distinct from session_window: per-user state holds
    * the open session; a gap in arriving data closes it inline, and
    * `setTimeoutTimestamp` registers a timer so a session whose user
    * simply goes quiet is STILL emitted once the watermark passes
    * end+gap (without timers that state would sit open forever — the
    * timer is what bounds both latency and state on an unbounded
    * stream). Money sums accumulate as exact DECIMAL(18,2) cents
    * (HALF_UP, matching Spark's double→decimal cast), so emitted
    * sessions are bit-identical to the batch q_window_session rows
    * (SessionTimerSpec asserts it over a time-split replay). */
  case class SessionState(n: Long, cents: Long, start: Long, end: Long)
  case class SessionOut(user_id: Long, session_start_epoch: Long,
      duration_sec: Long, n_events: Long, sum_value: Double)

  def sessionizeWithTimers(events: DataFrame, gapSec: Long):
      org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def cents(v: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    def emit(user: Long, s: SessionState): SessionOut =
      SessionOut(user, s.start, s.end - s.start, s.n,
        java.math.BigDecimal.valueOf(s.cents, 2).doubleValue())
    events
      .withWatermark("ts", "0 seconds")
      // the watermarked column itself must reach the stateful operator
      // (UnsupportedOperationChecker tracks the attribute, not the node)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("value"), col("ts"))
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, Long, Double, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(user, s))
          } else {
            val rows = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
            var acc = state.getOption.orNull
            val closed = Array.newBuilder[SessionOut]
            rows.foreach { case (es, v) =>
              if (acc == null) acc = SessionState(1L, cents(v), es, es)
              else if (es - acc.end > gapSec) {
                closed += emit(user, acc)
                acc = SessionState(1L, cents(v), es, es)
              } else acc = SessionState(acc.n + 1, acc.cents + cents(v),
                acc.start, math.max(acc.end, es))
            }
            state.update(acc)
            // fire strictly after the gap closes; clamp above the current
            // watermark (rows near the horizon could otherwise register a
            // timer the watermark has already passed, which throws)
            state.setTimeoutTimestamp(math.max(
              (acc.end + gapSec) * 1000L + 1000L,
              state.getCurrentWatermarkMs() + 1L))
            closed.result().iterator
          }
      }
  }

  /** Incremental SEQUENTIAL-FUNNEL state (streaming twin of
    * q_event_funnel): per-user state is exactly three optional epoch
    * seconds (t1 = earliest view, t2 = earliest click at-or-after t1,
    * t3 = earliest purchase at-or-after t2) — O(1) per user, never a
    * buffer of events, which is what keeps a funnel over a 100 TB/day
    * clickstream runnable forever.
    *
    * Exactness vs the batch min-chain: within each micro-batch rows
    * sort by (es, stage) with stage order view < click < purchase, so a
    * sequential scan reproduces the batch semantics precisely — every
    * click candidate (es ≥ t1) sorts AFTER the view that set t1 (later
    * second, or same second with the view first), hence the first
    * accepted click IS min(click es ≥ t1); same argument one stage
    * down. A single in-order batch (AvailableNow over the fixture) is
    * therefore bit-equal to the batch query; across batches the carried
    * state keeps the same result whenever batch boundaries respect
    * event time (the streamingAsOf processing-time contract above).
    * Unset stages carry -1 (state is monotone: -1 → a value, never
    * back), so a batch-side max() per user collapses snapshots to the
    * final state. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelSnapshot(user_id: Long, t1: Long, t2: Long, t3: Long)

  def funnelStates(events: DataFrame): org.apache.spark.sql.Dataset[FunnelSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String)],
            state: GroupState[FunnelState]) =>
          val stageOf = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
          val sorted = rows
            .flatMap { case (_, es, t) => stageOf.get(t).map(st => (es, st)) }
            .toArray
          java.util.Arrays.sort(sorted,
            Ordering.by((p: (Long, Int)) => (p._1, p._2)))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          sorted.foreach { case (es, stage) =>
            if (stage == 0 && st.t1 < 0) st = st.copy(t1 = es)
            else if (stage == 1 && st.t2 < 0 && st.t1 >= 0 && es >= st.t1)
              st = st.copy(t2 = es)
            else if (stage == 2 && st.t3 < 0 && st.t2 >= 0 && es >= st.t2)
              st = st.copy(t3 = es)
          }
          state.update(st)
          FunnelSnapshot(user, st.t1, st.t2, st.t3)
      }
  }

  /** Custom per-key state via mapGroupsWithState (the arbitrary-Processor
    * analog, SURVEY.md §2f): running per-user event count + running value
    * sum, updated incrementally as batches arrive. */
  case class UserState(n: Long, total: Double)
  case class UserSnapshot(user_id: Long, n_events: Long, total_value: Double)

  def statefulUserTotals(events: DataFrame): org.apache.spark.sql.Dataset[UserSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { r => n += 1; tot += r._2 }
          state.update(UserState(n, tot))
          UserSnapshot(user, n, tot)
      }
  }

  /** Running per-user spend via `transformWithState` — the v2 arbitrary
    * state API (`StatefulProcessor` with named, typed state handles +
    * optional TTL and timers), the successor surface to
    * [flat]mapGroupsWithState and the closest Spark analog of the
    * reference's raw processor SPI (a user class holding explicit keyed
    * state across inputs, SURVEY.md §2f). Requires the RocksDB state
    * store provider (the API is built on its column families), which is
    * what a 100 TB deployment runs anyway — keyed state spills to local
    * disk instead of executor heap.
    *
    * PRECONDITION (time-ordered batches): this processor runs under
    * TimeMode.None — it sorts by (es, event_id) only WITHIN each
    * micro-batch and folds batches in arrival order. Global parity
    * with the batch running-sum window therefore requires the source
    * to deliver micro-batches in non-overlapping event-time order
    * (true for the file-replay harness here and for any log-ordered
    * source, e.g. a per-key-ordered Kafka topic). A source that can
    * split a key's rows across batches OUT of event-time order needs
    * the watermark-buffered variant instead: TimeMode.EventTime, rows
    * held in ListState until the watermark passes, then folded — at
    * the cost of emission latency equal to the watermark delay. The
    * precondition is the same one the reference's ordered edges give a
    * processor (sorted grouped input per task; cross-DAG ordering is
    * the DAG author's contract), so it is documented rather than paid
    * for unconditionally.
    *
    * Exactness: spend quantizes to cents with floor(v·100+0.5) (an
    * exact IEEE-754 op both engines run identically) and accumulates in
    * BIGINT; within a batch the group's rows are sorted by (es,
    * event_id) — the same total order as the oracle's running-sum
    * window — and the carried ValueState makes the order hold across
    * batches under time-split replay (TransformWithStateSpec). */
  case class SpendIn(user_id: Long, event_id: Long, es: Long, cents: Long)
  case class RunningOut(user_id: Long, event_id: Long, running_cents: Long)

  class RunningSpendProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SpendIn, RunningOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[SpendIn],
        timerValues: TimerValues): Iterator[RunningOut] = {
      var acc = if (total.exists()) total.get() else 0L
      val out = rows.toArray.sortBy(e => (e.es, e.event_id)).map { e =>
        acc += e.cents
        RunningOut(user, e.event_id, acc)
      }
      total.update(acc)
      out.iterator
    }
  }

  def runningSpend(events: DataFrame): org.apache.spark.sql.Dataset[RunningOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("es"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .as[SpendIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningSpendProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Watermark-BUFFERED running spend — the TimeMode.EventTime variant
    * that removes RunningSpendProcessor's time-ordered-batch
    * precondition (documented above): instead of trusting arrival
    * order, every row buffers in ListState until the WATERMARK passes
    * its whole event-time second, then folds into the running total in
    * global (es, event_id) order. Any batch split whose disorder stays
    * inside the watermark delay now reproduces the batch running-sum
    * window exactly, at the cost of emission latency equal to that
    * delay — the ordered-fold-vs-latency trade the reference's ordered
    * edges make at shuffle time (SURVEY §2b), paid here at the state
    * layer instead.
    *
    * Fold safety: a row folds only once es < floor(wm/1000). Spark
    * drops input rows with ts < wm as late, and ts >= wm implies
    * floor(ts_sec) >= floor(wm_sec) (floor is monotone), so no future
    * row can sort below an already-folded one — the fold order is
    * total regardless of how batches split. Rows in the final,
    * never-passed watermark second stay correctly buffered (on an
    * unbounded stream they are not foldable yet); the declared
    * oracle encodes that by restricting to es < max(es). State is
    * bounded by the watermark delay: a key holds at most
    * delay-plus-one seconds of rows, spilled to RocksDB. */
  case class SpendWmIn(user_id: Long, event_id: Long, es: Long,
      cents: Long, ts: java.sql.Timestamp)

  class RunningSpendWmProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SpendWmIn, RunningOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var total: ValueState[Long] = _
    @transient private var buf: ListState[SpendWmIn] = _
    @transient private var timer: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      buf = getHandle.getListState[SpendWmIn]("buf",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[SpendWmIn](),
        TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    /** Fold every buffered/incoming row whose second the watermark has
      * strictly passed; keep the rest buffered and re-arm one timer at
      * the earliest instant a pending row becomes foldable. `fired`
      * marks a call from handleExpiredTimer, whose timer is already
      * consumed and must not be deleted again. */
    private def drain(user: Long, incoming: Array[SpendWmIn], wmMs: Long,
        fired: Boolean): Iterator[RunningOut] = {
      val all = buf.get().toArray ++ incoming
      val wmSec = Math.floorDiv(wmMs, 1000L)
      val (ready, pending) = all.partition(_.es < wmSec)
      var acc = if (total.exists()) total.get() else 0L
      val out = ready.sortBy(e => (e.es, e.event_id)).map { e =>
        acc += e.cents
        RunningOut(user, e.event_id, acc)
      }
      total.update(acc)
      buf.clear()
      if (timer.exists()) {
        if (!fired) getHandle.deleteTimer(timer.get())
        timer.clear()
      }
      if (pending.nonEmpty) {
        buf.put(pending)
        val due = math.max((pending.map(_.es).min + 1L) * 1000L, wmMs + 1L)
        getHandle.registerTimer(due)
        timer.update(due)
      }
      out.iterator
    }
    override def handleInputRows(user: Long, rows: Iterator[SpendWmIn],
        timerValues: TimerValues): Iterator[RunningOut] =
      drain(user, rows.toArray, timerValues.getCurrentWatermarkInMs(),
        fired = false)
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[RunningOut] =
      drain(user, Array.empty, timerValues.getCurrentWatermarkInMs(),
        fired = true)
  }

  def runningSpendWm(events: DataFrame, delay: String = "0 seconds"):
      org.apache.spark.sql.Dataset[RunningOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("es"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        col("ts"))
      .as[SpendWmIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningSpendWmProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Sessionization on the v2 state API with EVENT-TIME TIMERS — the
    * transformWithState rendition of sessionizeWithTimers, completing
    * the v2 surface (named state handles + registerTimer/
    * handleExpiredTimer): gaps in arriving data close sessions inline;
    * a registered timer closes a gone-quiet user's session once the
    * watermark passes end+gap. The previous timer is explicitly
    * deleted on every update (v2 timers are not implicitly replaced
    * the way v1 setTimeoutTimestamp was), and expiry re-checks
    * due-ness against live state so a stale timer can never emit an
    * open session early. Same exact-cents arithmetic as the v1
    * sessionizer → emitted rows bit-match batch q_window_session rows
    * (SessionTimerV2Spec replay). */
  case class SessIn(user_id: Long, es: Long, value: Double,
      ts: java.sql.Timestamp)

  class SessionProcessor(gapSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessIn, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var sess: ValueState[SessionState] = _
    @transient private var timer: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[SessionState]("sess",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[SessionState](),
        TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    private def cents(v: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    private def emit(user: Long, s: SessionState): SessionOut =
      SessionOut(user, s.start, s.end - s.start, s.n,
        java.math.BigDecimal.valueOf(s.cents, 2).doubleValue())
    /** watermark value at/after which session s may close. */
    private def dueMs(s: SessionState): Long = (s.end + gapSec) * 1000L + 1000L

    override def handleInputRows(user: Long, rows: Iterator[SessIn],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toArray.sortBy(_.es)
      var acc = if (sess.exists()) sess.get() else null
      val closed = Array.newBuilder[SessionOut]
      sorted.foreach { r =>
        val c = cents(r.value)
        if (acc == null) acc = SessionState(1L, c, r.es, r.es)
        else if (r.es - acc.end > gapSec) {
          closed += emit(user, acc)
          acc = SessionState(1L, c, r.es, r.es)
        } else acc = SessionState(acc.n + 1, acc.cents + c,
          acc.start, math.max(acc.end, r.es))
      }
      sess.update(acc)
      if (timer.exists()) getHandle.deleteTimer(timer.get())
      val t = math.max(dueMs(acc), timerValues.getCurrentWatermarkInMs() + 1L)
      getHandle.registerTimer(t)
      timer.update(t)
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (sess.exists()) {
        val s = sess.get()
        if (timerValues.getCurrentWatermarkInMs() >= dueMs(s)) {
          sess.clear(); timer.clear()
          Iterator(emit(user, s))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  def sessionizeV2(events: DataFrame, gapSec: Long):
      org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("value"), col("ts"))
      .as[SessIn]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
