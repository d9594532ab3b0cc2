package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** transformWithState (the v2 arbitrary-state API) under a genuinely
  * incremental replay: events split into 4 time-ranged files streamed
  * one per micro-batch, so the processor's ValueState running total
  * must carry correctly ACROSS batches. Expected values come from the
  * batch window query the declared q_stream_running shares its oracle
  * with.
  */
class TransformWithStateSpec extends AnyFunSuite {
  import SparkTestSession._

  test("transformWithState running totals carry across a 4-batch replay") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.events(spark, sf)
      val watch = StreamReplay.writeSlices(events,
        StreamReplay.slicePredicates(events, 4), "tws")
      val stream = StreamReplay.streamDir(spark, watch.getPath)
      val q = EventStream.runningSpend(stream).toDF()
        .writeStream.format("memory").queryName("graft_tws_replay")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val fedBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(fedBatches >= 4, s"expected >=4 non-empty micro-batches, saw $fedBatches")

      val got = spark.table("graft_tws_replay")
        .orderBy("user_id", "event_id").collect().toSeq
      val want = Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy("user_id")
              .orderBy(unix_timestamp(col("ts")), col("event_id"))
              .rowsBetween(Long.MinValue, 0))
            .as("running_cents"))
        .orderBy("user_id", "event_id").collect().toSeq
      assert(got.size == want.size, s"rowcount ${got.size} vs ${want.size}")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"row $i: $g vs $w")
      }
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }
}
