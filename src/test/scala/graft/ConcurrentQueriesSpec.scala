package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Session-mode concurrency — the reference's `TezClient` session
  * reuses one AM across DAGs and runs them concurrently
  * (tez-api/src/main/java/org/apache/tez/client/TezClient.java:384),
  * with per-DAG kill (`DAGClient.tryKillDAG`). The Spark analog is one
  * SparkSession shared by concurrent driver threads: jobs from
  * different threads interleave on the same executors, and a job group
  * (thread-local, `setJobGroup`) is the DAG-kill unit.
  *
  * Asserts the two behaviors a shared 1000-executor session must hold:
  * concurrent DAGs produce exactly the sequential results (no
  * cross-query state bleed), and cancelling one group kills only that
  * group — the session stays healthy for everyone else.
  */
class ConcurrentQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("concurrent DAGs in one session match their sequential results") {
    // the ANN rows are size-switched builds: each takes its route from
    // its own arguments, so concurrent builds cannot bleed routes;
    // q_stats_only_agg plans under its confs in a private session, so
    // they cannot reach the others
    val names = Seq("q_agg_sum_count", "q_hash_join_inner", "q_token_count",
      "q_topk", "q_ann_ivf_trained", "q_ann_ivf_trained_dist",
      "q_ann_index_auto_l3", "q_dedup_semantic", "q_stats_only_agg")
    def run(n: String): Seq[String] =
      SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
    try {
      val sequential = names.map(n => n -> run(n)).toMap
      val concurrent = Await.result(
        Future.sequence(names.map(n => Future(n -> run(n)))), 5.minutes).toMap
      names.foreach { n =>
        assert(concurrent(n) == sequential(n), s"$n diverged under concurrency")
      }
    } finally ScratchCache.release()
  }

  test("cancelling one job group leaves the session healthy for others") {
    val sc = spark.sparkContext
    val outcome = Future {
      // thread-local group: only this thread's jobs are in the kill unit
      sc.setJobGroup("graft-kill-dag", "cancellable long DAG", true)
      try {
        // a deterministic multi-minute job — never finishes before the kill
        spark.range(500L * 1000 * 1000 * 1000)
          .selectExpr("sum(id % 7) AS s").collect()
        "completed"
      } catch { case _: Throwable => "cancelled" }
      finally sc.clearJobGroup()
    }
    // wait until the group's job is actually running, then kill it
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("graft-kill-dag").isEmpty
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("graft-kill-dag").nonEmpty,
      "cancellable job never started")
    sc.cancelJobGroup("graft-kill-dag")
    assert(Await.result(outcome, 2.minutes) == "cancelled")
    // the kill was scoped: a fresh DAG on the same session runs fine
    assert(SparkEntry.queries("q_agg_sum_count")(spark, sf).count() > 0)
  }
}
