package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as the times Spark's listener events carry. */
object Clock {
  private val base = System.currentTimeMillis()
  private val n0 = System.nanoTime()
  def now: Double = base + (System.nanoTime() - n0) / 1e6
}

/** In-memory span store fed by Spark's public hooks. Every record is a
  * flat map that is written as JSON as is; records are kept until the run
  * ends and then written once.
  *
  * Jobs and stages carry the op id through the `perfbench.op` local
  * property; query-execution and streaming-progress records carry only
  * times, and run.py places them in the op whose interval holds them
  * (ops run one at a time). */
final class Trace(spark: SparkSession) {
  val records = ArrayBuffer.empty[Map[String, Any]]
  private def add(r: Map[String, Any]): Unit = records.synchronized { records += r }

  private val taskDur = scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  private val taskOverhead = scala.collection.mutable.HashMap.empty[(Int, Int), Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      add(Map("kind" -> "job", "job" -> e.jobId, "op" -> prop("perfbench.op"),
        "phase" -> prop("perfbench.phase"), "start" -> e.time,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Map("kind" -> "job_end", "job" -> e.jobId, "end" -> e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = (e.stageId, e.stageAttemptId)
      val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      taskDur.synchronized {
        taskDur.getOrElseUpdate(k, ArrayBuffer.empty) += e.taskInfo.duration
        taskOverhead(k) = taskOverhead.getOrElse(k, 0L) +
          math.max(0L, e.taskInfo.duration - run)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val k = (s.stageId, s.attemptNumber())
      val durs = taskDur.synchronized(taskDur.remove(k).getOrElse(ArrayBuffer.empty[Long]))
      val sorted = durs.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      val over = taskDur.synchronized(taskOverhead.remove(k).getOrElse(0L))
      val base = Map[String, Any]("kind" -> "stage", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(), "start" -> s.submissionTime.getOrElse(-1L),
        "end" -> s.completionTime.getOrElse(-1L), "tasks" -> s.numTasks,
        "task_max_ms" -> sorted.lastOption.getOrElse(0L), "task_median_ms" -> median,
        "task_overhead_ms" -> over)
      add(base ++ (if (m == null) Map.empty else Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_ns" -> m.shuffleWriteMetrics.writeTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(f, qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(f, qe)
    private def record(f: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ph(name: String): Seq[Long] =
        phases.get(name).map(p => Seq(p.startTimeMs, p.endTimeMs)).getOrElse(Nil)
      var exchanges = 0
      var files = 0L
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case w: DataWritingCommandExec => w.metrics.get("numFiles").foreach(files += _.value)
          case _ =>
        }
        if (p.isInstanceOf[ShuffleExchangeLike]) exchanges += 1
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      try walk(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => }
      add(Map("kind" -> "qe", "func" -> f, "analysis" -> ph("analysis"),
        "optimization" -> ph("optimization"), "planning" -> ph("planning"),
        "exchanges" -> exchanges, "files" -> files))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      add(Map("kind" -> "progress", "query" -> p.id.toString, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration" -> d, "rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after every already-posted event has been delivered. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def span(kind: String, op: String, start: Double, end: Double): Unit =
    add(Map("kind" -> kind, "op" -> op, "start" -> start, "end" -> end))
}
