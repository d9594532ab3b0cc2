package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** The watermark-buffered running-spend processor under an
  * OUT-OF-ORDER batch split — the exact scenario the TimeMode.None
  * processor's documented precondition excludes: events cut into 8
  * time slices replayed with every adjacent pair SWAPPED
  * (1,0,3,2,5,4,7,6), so each micro-batch arrives up to one slice
  * (~span/8) out of event-time order. With a watermark delay of
  * 3·span/8 no row is late-dropped (margin span/8 past the worst
  * disorder), rows buffer in ListState until the watermark passes
  * their second, and the fold reproduces the batch running-sum window
  * exactly for every row whose second the FINAL watermark
  * (max(ts) − delay) strictly passed — the later rows are correctly
  * still buffered when the replay ends.
  */
class RunningSpendWmSpec extends AnyFunSuite {
  import SparkTestSession._

  test("watermark-buffered running totals survive an out-of-order batch split") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.events(spark, sf)
      val (lo, hi) = StreamReplay.microRange(events) // µs epochs
      val span = hi - lo + 1
      val spanSec = span / 1000000L
      val delaySec = spanSec * 3 / 8 + 1

      // 8 slice files, arrival order = adjacent pairs swapped; the
      // file source replays by ascending modification time.
      val order = Seq(1, 0, 3, 2, 5, 4, 7, 6)
      val slices = StreamReplay.slicePredicates(events, 8)
      val watch = StreamReplay.writeSlices(events, order.map(slices), "wm")
      val stream = StreamReplay.streamDir(spark, watch.getPath)
      val q = EventStream.runningSpendWm(stream, s"$delaySec seconds").toDF()
        .writeStream.format("memory").queryName("graft_wm_replay")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val fedBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(fedBatches >= 8, s"expected >=8 non-empty micro-batches, saw $fedBatches")

      // Final watermark second: floor((max ts in ms − delay) / 1000).
      val wmSecF = Math.floorDiv(hi / 1000L - delaySec * 1000L, 1000L)
      val got = spark.table("graft_wm_replay")
        .orderBy("user_id", "event_id").collect().toSeq
      val want = Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("es"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy("user_id")
              .orderBy(unix_timestamp(col("ts")), col("event_id"))
              .rowsBetween(Long.MinValue, 0))
            .as("running_cents"))
        .filter(col("es") < wmSecF)
        .select("user_id", "event_id", "running_cents")
        .orderBy("user_id", "event_id").collect().toSeq
      assert(want.nonEmpty, "degenerate fixture: no row before the final watermark")
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
