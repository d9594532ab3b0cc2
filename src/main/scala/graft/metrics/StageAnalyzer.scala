package graft.metrics

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Post-hoc per-query stage analyzer — the engine's rendition of the
  * reference's job-history analyzers (tez-tools/analyzers/job-analyzer:
  * CriticalPathAnalyzer.java, SkewAnalyzer.java, SpillAnalyzerImpl.java —
  * post-run artifacts breaking a DAG into per-vertex wall time and
  * per-task skew). Here a SparkListener attributes every stage to the
  * query the bench harness labels, and reports per stage: wall-clock,
  * task count, max and median task time, and a skew flag
  * (max/median > 4 with ≥ 2 tasks — the SkewAnalyzer heuristic).
  *
  * At 100 TB this is the artifact an operator reads to find the stage
  * whose straggler dominates a slow query — the information the
  * reference surfaces from ATS history, produced here without any
  * history server from the listener bus alone.
  */
class StageAnalyzer extends SparkListener {
  final case class StageRow(query: String, stageId: Int, wallSec: Double,
      nTasks: Int, taskMaxSec: Double, taskMedSec: Double,
      spillBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      workTasks: Int, workMedSec: Double) {
    def skewed: Boolean =
      // Skew = imbalance among tasks that HAD data to process, gated on
      // absolute size (the reference's SkewAnalyzer compares per-task
      // shuffle volume the same way). Two guards beyond max/median:
      //  - the median is taken over tasks with >0 records (workMedSec) —
      //    a 4ms zero-record byte-range stub next to a task that owns an
      //    indivisible parquet row group is a fixture-layout artifact,
      //    not a partitioning defect (a row group cannot be split; at
      //    real scale the scan has thousands of them);
      //  - a stage with <2 working tasks has no distribution to judge.
      workTasks >= 2 && workMedSec > 0 && taskMaxSec >= 0.2 &&
        taskMaxSec / workMedSec > 4.0
  }

  // single listener-bus thread writes these; the bench thread only reads
  // after quiesce — TrieMap keeps the cross-thread handoff safe
  private val stageQuery = TrieMap.empty[Int, String]
  private val stageWall = TrieMap.empty[Int, Double]
  // per task: (duration ms, records processed = input + shuffle-read)
  private val taskDur = TrieMap.empty[Int, ArrayBuffer[(Long, Long)]]
  // stage DAG edges + job attribution, for the critical-path chain
  private val stageParents = TrieMap.empty[Int, Seq[Int]]
  private val stageJob = TrieMap.empty[Int, Int]
  @volatile private var label: String = "_untracked"

  /** Attribute subsequently submitted jobs' stages to this query. */
  def setLabel(l: String): Unit = label = l

  /** Drop all recorded attributions (start of a measured pass). */
  def reset(): Unit = {
    stageQuery.clear(); stageWall.clear(); taskDur.clear(); stageBytes.clear()
    stageParents.clear(); stageJob.clear(); stageSpan.clear()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    js.stageInfos.foreach { si =>
      stageQuery.putIfAbsent(si.stageId, label)
      stageParents.putIfAbsent(si.stageId, si.parentIds)
      stageJob.putIfAbsent(si.stageId, js.jobId): Unit
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val d = taskDur.getOrElseUpdate(te.stageId, ArrayBuffer.empty)
    if (te.taskInfo != null) {
      val recs =
        if (te.taskMetrics == null) 0L
        else te.taskMetrics.inputMetrics.recordsRead +
          te.taskMetrics.shuffleReadMetrics.recordsRead
      d += ((te.taskInfo.duration, recs))
    }
  }

  // per-stage (spill, shuffleRead, shuffleWrite) from completed
  // TaskMetrics — the SpillAnalyzerImpl / critical-path byte counters
  private val stageBytes = TrieMap.empty[Int, (Long, Long, Long)]

  // submission/completion instants (ms) — the critical-path grouper
  // uses interval overlap to tell parallel components from sequential
  private val stageSpan = TrieMap.empty[Int, (Long, Long)]

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    for (sub <- si.submissionTime; done <- si.completionTime) {
      stageWall.put(si.stageId, (done - sub) / 1e3)
      stageSpan.put(si.stageId, (sub, done))
    }
    val m = si.taskMetrics
    if (m != null)
      stageBytes.put(si.stageId,
        (m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
  }

  /** Per-query stage rows, stage-id order, skipping unattributed work
    * and stages that never ran a task (AQE exchange-reuse skips them). */
  def report(): Map[String, Seq[StageRow]] =
    stageQuery.toSeq
      .filter { case (_, q) => q != "_untracked" }
      .map { case (id, q) =>
        val tasks = taskDur.get(id).map(_.toSeq).getOrElse(Nil)
        val durs = tasks.map(_._1).sorted
        val med = if (durs.isEmpty) 0.0 else durs(durs.size / 2) / 1e3
        val mx = if (durs.isEmpty) 0.0 else durs.last / 1e3
        val work = tasks.filter(_._2 > 0).map(_._1).sorted
        val workMed = if (work.isEmpty) 0.0 else work(work.size / 2) / 1e3
        val (sp, sr, sw) = stageBytes.getOrElse(id, (0L, 0L, 0L))
        StageRow(q, id, stageWall.getOrElse(id, 0.0), durs.size, mx, med,
          sp, sr, sw, work.size, workMed)
      }
      .filter(_.nTasks > 0)
      .groupBy(_.query)
      .map { case (q, rows) => q -> rows.sortBy(_.stageId) }

  /** Per-query critical path — the reference's CriticalPathAnalyzer
    * (tez-tools/analyzers/job-analyzer/.../CriticalPathAnalyzer.java)
    * walks a finished DAG's vertex dependencies to the longest
    * wall-time chain; here the chain runs over the stage DAG the
    * scheduler actually executed (StageInfo.parentIds). Spark splits
    * one query into MANY sequential jobs when it iterates (graph
    * rounds, AQE re-plans, eager sub-actions), and stages of different
    * jobs carry no parent edges — so the per-job chains are summed:
    * jobs within one query run sequentially on the bench thread. The
    * value separates "more rounds" (chain grows, stage walls flat)
    * from "slower rounds" (chain flat, stage walls grow) for the
    * iterative family — wall-clock alone cannot tell them apart.
    *
    * Implementation note: parent edges are followed across JOBS —
    * under AQE every materialized query stage is submitted as its own
    * job whose stageInfos carry parentIds pointing at earlier jobs'
    * stages, so a per-job restriction would flatten every chain to
    * length 1. Stages a driver loop genuinely disconnects (the
    * LogicalRDD re-rooted iterative family) form separate weak
    * components; components execute sequentially on the one action
    * thread, so their chains SUM.
    *
    * Returns query -> (criticalPathSec, stagesOnChain, nJobs). */
  def criticalPaths(): Map[String, (Double, Int, Int)] =
    report().map { case (q, rows) =>
      val ids = rows.map(_.stageId).toSet
      val wall = rows.map(r => r.stageId -> r.wallSec).toMap
      // ran-stage parents only: a skipped/reused stage has no row and
      // contributes no wall time, but edges THROUGH it are preserved
      // transitively by parentIds of the stages that did run
      val par: Map[Int, Seq[Int]] = ids.iterator
        .map(id => id -> stageParents.getOrElse(id, Nil).filter(ids))
        .toMap
      // longest path (by summed stage wall) ending at each stage
      val memo = scala.collection.mutable.Map.empty[Int, (Double, Int)]
      def best(id: Int): (Double, Int) = memo.get(id) match {
        case Some(v) => v
        case None =>
          val ps = par(id)
          val (pw, pc) =
            if (ps.isEmpty) (0.0, 0) else ps.map(best).maxBy(_._1)
          val v = (wall.getOrElse(id, 0.0) + pw, 1 + pc)
          memo(id) = v
          v
      }
      // weakly-connected components over the parent edges
      val undirected = scala.collection.mutable.Map
        .empty[Int, List[Int]].withDefaultValue(Nil)
      par.foreach { case (c, ps) =>
        ps.foreach { p =>
          undirected(c) = p :: undirected(c)
          undirected(p) = c :: undirected(p)
        }
      }
      val seen = scala.collection.mutable.Set.empty[Int]
      // per component: (chainSec, chainLen, intervalStart, intervalEnd)
      val comps = scala.collection.mutable.ListBuffer
        .empty[(Double, Int, Long, Long)]
      ids.toSeq.sorted.foreach { root =>
        if (!seen.contains(root)) {
          val comp = scala.collection.mutable.ListBuffer.empty[Int]
          val stack = scala.collection.mutable.Stack(root)
          while (stack.nonEmpty) {
            val v = stack.pop()
            if (seen.add(v)) { comp += v; undirected(v).foreach(stack.push) }
          }
          val (w, c) = comp.map(best).maxBy(_._1)
          val spans = comp.flatMap(stageSpan.get)
          val lo = if (spans.isEmpty) 0L else spans.map(_._1).min
          val hi = if (spans.isEmpty) 0L else spans.map(_._2).max
          comps += ((w, c, lo, hi))
        }
      }
      // Components are chains the dependency graph does NOT connect —
      // either sequential driver-loop rounds (iterative family) or
      // CONCURRENT side jobs (AQE broadcast stages have no shuffle
      // parent edge). Tell them apart by wall-clock overlap: merge
      // overlapping components into one parallel group (its critical
      // chain = the group's longest), sum across disjoint groups.
      var totalSec = 0.0
      var chainLen = 0
      var groupEnd = Long.MinValue
      var gSec = 0.0
      var gLen = 0
      comps.sortBy(_._3).foreach { case (w, c, lo, hi) =>
        if (lo > groupEnd) { // disjoint: flush previous group
          totalSec += gSec; chainLen += gLen
          gSec = w; gLen = c; groupEnd = hi
        } else {
          if (w > gSec) { gSec = w; gLen = c }
          groupEnd = math.max(groupEnd, hi)
        }
      }
      totalSec += gSec; chainLen += gLen
      val nJobs = rows.map(r => stageJob.getOrElse(r.stageId, -1)).distinct.size
      q -> ((totalSec, chainLen, nJobs))
    }

  /** Queries with at least one skewed stage → worst max/median ratio. */
  def skewFlags(): Map[String, Double] =
    report().collect { case (q, rows) if rows.exists(_.skewed) =>
      q -> rows.filter(_.skewed).map(r => r.taskMaxSec / r.workMedSec).max
    }
}
