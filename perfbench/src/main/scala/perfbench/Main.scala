package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, ProcScratch, ScratchCache, SparkEntry}
import graft.sources.{GroupCommit, KeyedTable}

/** One measured JVM: one session, one client, ops issued one at a time in
  * a closed loop (the next op starts when the previous one returned).
  *
  * Arguments (all `--key value`):
  *   corpus    the generated table directory the queries read
  *   inputs    the generated ingest batches (keyed base and deltas)
  *   work      a directory this run owns (results, write roots)
  *   ops       comma-separated op names, in pass order
  *   seconds   a cap: no warm pass after the first starts once this many
  *             seconds of warm passes have gone by
  *   trace     1 attaches the listeners: every op of the cold pass, and in
  *             warm pass p the ops whose index i has (i + p) even, so each
  *             op runs traced and untraced in alternate passes
  *   warm      comma-separated tables set-up reads once
  *   sessions  how many times setup builds the session (median reported)
  *
  * Writes `work/result.json` (and `work/results/<op>` parquet for the
  * output check) and prints nothing the caller parses.
  */
object Main {
  private val mainEntry = Clock.now
  /** Warm passes after the cold pass, the same for every workload and
    * commit; in a traced run each op is traced in one of the two. */
  private val WarmPasses = 2

  final case class Outcome(rows: Array[Row], schema: StructType)

  /** An op's three timed steps: build returns the action, the action
    * returns the outcome; ScratchCache.release follows both. An op whose
    * action only writes has a `readBack` instead, which takes the outcome
    * for the output check after the op's time has ended. */
  final case class Op(name: String, build: () => () => Outcome,
      readBack: Option[() => Outcome] = None)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val corpus = a("corpus")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val names = a("ops").split(",").toSeq
    val sessions = a("sessions").toInt

    // ---- setup: session builds (the median is reported) and warm-up
    val sessionS = (1 to sessions).map { i =>
      val t = Clock.now
      val s = GraftSession.builder().getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val dt = (Clock.now - t) / 1e3
      if (i < sessions) s.stop()
      dt
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val tWarm = Clock.now
    a("warm").split(",").foreach {
      case "events" => graft.Tables.events(spark, corpus).count()
      case t => spark.read.parquet(s"$corpus/$t.parquet").count()
    }
    val warmupS = (Clock.now - tWarm) / 1e3

    val ops = names.map(n => opFor(spark, n, corpus, a("inputs"), work))
    val trace = new Trace(spark)
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val coldResults = scala.collection.mutable.LinkedHashMap.empty[String, Outcome]
    val mem = ManagementFactory.getMemoryMXBean

    def runPass(pass: Int): Unit = {
      // the output check's work inside the pass (read-backs, digests) is
      // taken out of the pass's wall and CPU time
      var untimedMs = 0.0
      var untimedCpu = 0L
      def untimed[T](f: => T): T = {
        val (t, c) = (Clock.now, ThreadCpu.snapshot())
        try f finally {
          untimedMs += Clock.now - t
          untimedCpu += ThreadCpu.since(c)
        }
      }
      val cpu0 = ThreadCpu.snapshot()
      val cg0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = Clock.now
      ops.zipWithIndex.foreach { case (op, i) =>
        val id = s"$pass:$i"
        val tracedOp = traced && (pass == 0 || (i + pass) % 2 == 0)
        if (tracedOp) trace.attach()
        sc.setLocalProperty("perfbench.op", id)
        sc.setLocalProperty("perfbench.phase", "build")
        val s = Clock.now
        var tb, ta = Double.NaN
        var outcome: Outcome = null
        var err: String = null
        try {
          val act = op.build()
          tb = Clock.now
          sc.setLocalProperty("perfbench.phase", "action")
          outcome = act()
          ta = Clock.now
        } catch { case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
        }
        sc.setLocalProperty("perfbench.phase", "release")
        if (tb.isNaN) tb = Clock.now
        if (ta.isNaN) ta = Clock.now
        // what the op left cached, read before release drops it (traced
        // passes only: the storage walk is not part of the op's cost)
        val (persisted, cachedBytes) =
          if (!tracedOp) (0, 0L)
          else (sc.getPersistentRDDs.size,
            sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        val tr = Clock.now
        ScratchCache.release()
        val e = Clock.now
        sc.setLocalProperty("perfbench.op", null)
        sc.setLocalProperty("perfbench.phase", null)
        if (tracedOp) {
          trace.detach()
          trace.span("op", id, s, e)
          trace.span("build", id, s, tb)
          trace.span("action", id, tb, ta)
          trace.span("release", id, tr, e)
        }
        val hash = untimed {
          if (err == null) op.readBack.foreach { rb =>
            try outcome = rb() catch { case ex: Throwable =>
              err = s"read-back ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(400)}"
            }
          }
          if (outcome == null) null else Hash.rows(outcome.rows)
        }
        samples += Map("id" -> id, "pass" -> pass, "op" -> op.name, "start" -> s,
          "build_end" -> tb, "action_end" -> ta, "end" -> e,
          "error" -> err, "traced" -> tracedOp, "persisted" -> persisted,
          "cached_bytes" -> cachedBytes,
          "rows" -> (if (outcome == null) -1 else outcome.rows.length),
          "hash" -> hash)
        if (pass == 0 && outcome != null && oracle.contains(op.name))
          coldResults(op.name) = outcome
      }
      val t1 = Clock.now
      val cpu = ThreadCpu.since(cpu0) - untimedCpu
      val cg = CodeGenerator.compileTime - cg0
      val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
      // untimed: the cold-pass results the oracle check reads, written now
      // so that the rows are not held through the heap measurements
      coldResults.foreach { case (n, o) =>
        spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
      }
      coldResults.clear()
      // the live set after a full collection, outside the pass's time
      System.gc()
      passes += Map("pass" -> pass, "wall_ms" -> (t1 - t0 - untimedMs), "cpu_ns" -> cpu,
        "heap_live_bytes" -> mem.getHeapMemoryUsage.getUsed,
        "codegen_ns" -> cg, "codegen_classes" -> cgN)
      cleanPassRoots(spark, work, pass)
    }

    // ---- cold pass, then a fixed number of warm passes
    runPass(0)
    val warmStart = Clock.now
    var pass = 1
    while (pass <= WarmPasses && (pass == 1 || Clock.now - warmStart < seconds * 1e3)) {
      runPass(pass)
      pass += 1
    }

    val out = Map[String, Any](
      "main_entry_ms" -> mainEntry, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "placement" -> Map("local_dir" -> GraftSession.localDir,
        "scratch_base" -> ProcScratch.base, "cpus" -> GraftSession.cpus,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "ops" -> names, "oracle" -> oracle,
      "samples" -> samples.toSeq, "passes" -> passes.toSeq,
      "trace" -> trace.records.toSeq)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$work/result.json"), out)
    spark.stop()
  }

  /** CPU time of the JVM's Java threads: the driver, the local executors'
    * task threads and Spark's service threads. The JIT compiler and GC
    * threads are not Java threads and are left out: in a fresh JVM the JIT
    * compiler threads use most of the process's CPU during the warm passes,
    * and how much moves with host load, not with the program's work.
    * Threads that end inside an interval lose their CPU time; Spark's
    * thread pools keep theirs alive across a pass. */
  private object ThreadCpu {
    private val mx = ManagementFactory.getThreadMXBean
    def snapshot(): Map[Long, Long] =
      mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id))
        .filter(_._2 >= 0).toMap
    def since(start: Map[Long, Long]): Long =
      snapshot().iterator.map { case (id, ns) => ns - start.getOrElse(id, 0L) }.sum
  }

  private def collectOutcome(df: DataFrame): Outcome = Outcome(df.collect(), df.schema)

  /** Write roots of the direct ingest ops live under work/pass_<n>, so
    * every pass starts from the same empty state. */
  private def passRoot(work: String, pass: Int) = s"$work/pass_$pass"
  private var currentPass = 0
  private def cleanPassRoots(spark: SparkSession, work: String, pass: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(passRoot(work, pass))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    currentPass = pass + 1
  }

  private def opFor(spark: SparkSession, name: String, corpus: String,
      inputs: String, work: String): Op = {
    def root = passRoot(work, currentPass)
    name match {
      case "keyed_write" => Op(name, () => {
        val base = spark.read.parquet(s"$inputs/keyed_base.parquet")
        () => { KeyedTable.write(spark, s"$root/kt", "t", base, "k", 8); null }
      }, Some(() => readBack(spark, root)))
      case "keyed_merge_sparse" | "keyed_merge_wide" => Op(name, () => {
        val changes = spark.read.parquet(s"$inputs/${name.stripPrefix("keyed_merge_")}_delta.parquet")
        () => { KeyedTable.mergeDelta(spark, s"$root/kt", "t", changes, "k")(upsert); null }
      }, Some(() => readBack(spark, root)))
      case "keyed_compact" => Op(name, () => () => {
        KeyedTable.compact(spark, s"$root/kt", "t", "k", 4096L); null
      }, Some(() => readBack(spark, root)))
      case "group_commit_3sinks" => Op(name, () => {
        val ev = spark.read.parquet(s"$corpus/events.parquet")
        val sinks = Seq("train" -> "pmod(event_id, 10) < 8", "val" -> "pmod(event_id, 10) = 8",
          "test" -> "pmod(event_id, 10) = 9").map { case (n, p) =>
          GroupCommit.Sink(ev.filter(expr(p)), s"$root/gc/$n")
        }
        () => { GroupCommit.commitGroup(spark, s"$root/gc", sinks); null }
      }, Some(() => collectOutcome(spark.read.parquet(s"$root/gc/train", s"$root/gc/val",
        s"$root/gc/test").selectExpr("count(*) AS n",
        "sum(hash(event_id, ts, user_id, event_type, value, props)) AS content"))))
      case q => Op(q, () => {
        val df = SparkEntry.queries(q)(spark, corpus)
        () => collectOutcome(df)
      })
    }
  }

  /** The keyed table's content as one row. The file layout (and so a
    * merge's file counts) depends on range-partition sampling and is not
    * compared; the content is. */
  private def readBack(spark: SparkSession, root: String): Outcome =
    collectOutcome(KeyedTable.read(spark, s"$root/kt", "t")
      .selectExpr("count(*) AS n", "sum(hash(k, v, s)) AS content"))

  /** Key-local upsert: a change row with op 'D' deletes its key, any
    * other op replaces (or inserts) the row. */
  private def upsert(cur: DataFrame, changes: DataFrame): DataFrame = {
    val keep = cur.join(changes.select("k"), Seq("k"), "left_anti")
    val put = changes.filter(col("op") =!= "D").select(cur.columns.map(col): _*)
    keep.unionByName(put)
  }
}
