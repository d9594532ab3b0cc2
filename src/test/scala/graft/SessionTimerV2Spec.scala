package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Sessionization on the transformWithState API with event-time timers
  * (EventStream.sessionizeV2), under the same 4-batch time-split replay
  * contract as the v1 SessionTimerSpec: every emitted session
  * bit-matches a batch q_window_session row, nothing emits twice, and
  * every session that should have closed below the final watermark is
  * present — including timer-closed sessions of users silent in later
  * batches.
  */
class SessionTimerV2Spec extends AnyFunSuite {
  import SparkTestSession._

  private val Gap = 1800L

  test("v2 timer sessionizer matches batch session windows across a replayed stream") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val raw = Tables.events(spark, sf)
      val watch = StreamReplay.writeSlices(raw,
        StreamReplay.slicePredicates(raw, 4), "sessv2")
      val stream = StreamReplay.streamDir(spark, watch.getPath)
      val q = EventStream.sessionizeV2(stream, Gap).toDF()
        .writeStream.format("memory").queryName("graft_session_v2")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      val emitted = spark.table("graft_session_v2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      assert(emitted.nonEmpty)
      assert(emitted.distinct.size == emitted.size, "a session emitted twice")

      val batch = SparkEntry.queries("q_window_session")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      val batchSet = batch.toSet
      emitted.foreach { s =>
        assert(batchSet.contains(s), s"emitted session not in batch result: $s")
      }

      // completeness below the final watermark: any batch session whose
      // close condition (end + gap) sits under max event time must have
      // been emitted — inline by a successor or by its timer
      val maxEs = raw.agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
      val mustEmit = batch.filter { case (_, start, dur, _, _) =>
        start + dur + Gap < maxEs
      }
      val emittedSet = emitted.toSet
      mustEmit.foreach { s =>
        assert(emittedSet.contains(s),
          s"closed session not emitted (timer failed to fire): $s")
      }
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }
}
