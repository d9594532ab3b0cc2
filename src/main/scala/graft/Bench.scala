package graft
import scala.collection.immutable.ListMap
import org.apache.spark.metrics.source.CodegenMetrics
import Harness.{field, fixed, num}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val host = Harness.host()
    // The session-conf contract lives in GraftSession (r13): one
    // builder shared by Bench, Verify, ProfileQuery and ExplainDump,
    // so benchmarked, verified and plan-dumped configurations cannot
    // drift. Per-conf rationale (constraint propagation, checkpoint
    // checksums, tmpfs scratch, codegen cache) is documented there.
    // NOT set: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning.
    // Measured both ways (r12): letting AQE re-coalesce CACHED plans
    // sizes partitions by bytes, which serializes the CPU-heavy,
    // byte-light cached vector frames (q_ann_ivf_trained_adaptive
    // 1.05s → 1.83s isolated warm) for a sub-noise gain elsewhere.
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the per-query stage breakdown (tez-tools job-analyzer parity):
    // stages are attributed to the query the loop labels; only the
    // final measured pass is kept (reset() per pass)
    val analyzer = new graft.metrics.StageAnalyzer
    spark.sparkContext.addSparkListener(analyzer)
    // untimed warmup: touch every table's footer + one shuffle + the
    // custom expressions, so session/JIT/codegen startup (~5s) is not
    // attributed to whichever query happens to run first
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
      SparkEntry.queries.get("q_agg_sum_count").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // optional arg: comma-separated query names, for single-query iteration
    // (the driver passes no args → full suite, unchanged)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args(0).split(',').toSet).toMap
    // classes each query compiles in warm passes 2-3: pass 1 filled the
    // codegen cache, so a non-zero count is a cache miss or generated
    // code that differs from run to run
    var pass = 0
    val warmClasses = scala.collection.mutable.Map.empty[String, Long]
    def run(q: String): Double = {
      analyzer.setLabel(q)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t = Harness.seconds(selected(q)(spark, sfDir).count())
      if (pass >= 2) warmClasses(q) = warmClasses.getOrElse(q, 0L) +
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      t
    }
    val results = Harness.medianOf3(spark, selected.keys.toSeq.sorted,
      () => { analyzer.reset(); pass += 1 })(run)
    val warmCompiled = ListMap.from(warmClasses.toSeq.sortBy(_._1))
    // let the listener bus drain before reading the stage report
    Thread.sleep(1500)
    // Snapshot the stage report, the critical paths (CriticalPathAnalyzer
    // parity), the skew flags and per-query shuffle bytes HERE, before
    // the re-measure below: re-measured queries execute 3 more times
    // under the same label, and a later snapshot would attribute those
    // runs' bytes to the query — a 4× phantom "regression" in the trend
    // gate (observed on q_dedup_ngram r05).
    val report = analyzer.report()
    val stages = ListMap.from(report.toSeq.sortBy(_._1)
      .map { case (q, rows) => q -> rows.map(stageFields) })
    val critical = ListMap.from(analyzer.criticalPaths().toSeq.sortBy(_._1)
      .map { case (q, (s, chain, jobs)) =>
        q -> ListMap("s" -> fixed(s, 3), "chain" -> chain, "jobs" -> jobs)
      })
    val skewMap = analyzer.skewFlags()
    val newSh: Map[String, Long] = report.view
      .mapValues(_.map(r => r.shuffleReadBytes + r.shuffleWriteBytes).sum)
      .toMap
    // the 2× gate against the first-recorded BASELINE.md rows: breaches
    // re-run in isolation (Harness.gate)
    val gate = Harness.gate(results,
        Harness.baselines(Harness.file("BASELINE.md"))) { q =>
      Harness.medianOf3(spark, Seq(q))(run).head._2
    }
    // SKEW AUTO-ISOLATION (r10): any suite skew flag ≥ 20× is re-run
    // ISOLATED (fresh run, analyzer reset) and the isolated per-stage
    // profile rides BENCH_DETAIL.json — a committed skew flag is either
    // reproduced with its stage named or auto-cleared. It reads the
    // snapshot the committed skew map shows, and runs after every
    // snapshot above (its resets would wipe them). The run is
    // profiling only: a failure blanks this entry, never the headline.
    val skewIsolated = ListMap.from(skewMap.toSeq
      .filter { case (q, r) => r >= 20.0 && selected.contains(q) }
      .sortBy(_._1)
      .map { case (q, suiteFlag) =>
        spark.catalog.clearCache()
        analyzer.reset()
        run(q)
        Thread.sleep(1200) // drain the listener bus
        q -> ListMap("suite" -> fixed(suiteFlag, 1),
          "isolated" -> fixed(analyzer.skewFlags().getOrElse(q, 0.0), 1),
          "stages" -> analyzer.report().getOrElse(q, Nil).map(stageFields))
      })
    // any failed query poisons the headline total: a consumer comparing
    // only "value" must not read a broken (hence shorter) run as faster
    val errors = (results.collect { case (q, t) if t < 0 => q } ++
      gate.remeasured.collect { case (q, _, iso) if iso < 0 => q })
      .distinct.sorted
    val total =
      if (errors.nonEmpty) -1.0 else gate.reported.map(_._2).filter(_ >= 0).sum
    // AQE-coalesce evidence (full-suite runs only): one shuffle-heavy
    // query swept across shuffle-partition settings — AQE re-coalesces
    // post-shuffle partitions at runtime, so times stay ~flat instead of
    // degrading with over-partitioning (single timed pass per setting)
    val sweepQ = "q_dedup_minhash"
    val sweep: ListMap[String, Any] =
      if (args.nonEmpty) ListMap.empty
      else ListMap[String, Any]("query" -> sweepQ) ++
        Seq("8", "32", "128").map { n =>
          s"p$n" -> GraftSession.withConf(spark,
              "spark.sql.shuffle.partitions" -> n) {
            spark.catalog.clearCache()
            Harness.seconds(SparkEntry.queries(sweepQ)(spark, sfDir).count())
          }
        }
    // TREND GATE — tools/stage_trend.py's durable-signal check run
    // in-process: before the previous BENCH_DETAIL.json is overwritten,
    // diff per-query total shuffle bytes against it. Wall time drifts
    // with GC and neighbours; SHUFFLE-BYTE growth >1.5× over a 1 MB
    // floor is the durable signature of a plan regression (a new
    // exchange, a lost broadcast, a wider payload).
    val prior = Harness.readJson(Harness.file("BENCH_DETAIL.json"))
    val trend =
      if (args.nonEmpty) Nil
      else prior.flatMap(field(_, "stages")).toSeq.flatMap {
        case old: scala.collection.Map[String, Any] @unchecked =>
          old.toSeq.sortBy(_._1).collect { case (q, rows: Seq[Any]) =>
            q -> rows.map(r => Seq("sh_read", "sh_write")
              .map(num(r, _).fold(0L)(_.toLong)).sum).sum
          }
        case _ => Nil
      }.collect { case (q, o) if o > (1L << 20) &&
          newSh.getOrElse(q, 0L) > o * 3 / 2 =>
        ListMap("query" -> q, "old_sh" -> o, "new_sh" -> newSh(q))
      }
    val hostEnd = host.end()
    // LOAD-NORMALIZED TOTAL (r12): the spin probe's fixed workload moves
    // 1:1 with co-tenant pressure, so total · spin_ref / spin_now is the
    // suite total at the REFERENCE host level. spin_ref is inherited
    // from the previous BENCH_DETAIL.json (seeded once from the first
    // host record ever written) and never rewritten, so every round's
    // normalized value shares one anchor. Raw stays the headline.
    val spinNow = (hostEnd.spinStart + hostEnd.spinEnd) / 2
    val spinRef = prior.flatMap { p =>
      num(p, "host", "spin_ref").orElse(for {
        a <- num(p, "host", "spin_s_start")
        b <- num(p, "host", "spin_s_end")
      } yield (a + b) / 2)
    }.getOrElse(spinNow)
    val totalNorm =
      if (total > 0 && spinNow > 0) total * spinRef / spinNow else -1.0
    // The full per-query detail goes to BENCH_DETAIL.json, a committed
    // artifact tools/stage_trend.py diffs round-over-round; stdout keeps
    // only the budgeted contract line below.
    val detail = ListMap("metric" -> "total", "value" -> total,
      "value_load_normalized" -> totalNorm, "unit" -> "sec",
      "queries" -> ListMap.from(gate.reported),
      "warm_codegen_classes" -> warmCompiled, "errors" -> errors,
      "remeasured" -> ListMap.from(gate.remeasured.map { case (q, s, i) =>
        q -> ListMap("suite" -> s, "isolated" -> i) }),
      "skew" -> ListMap.from(skewMap.toSeq.sortBy(_._1)
        .map { case (q, r) => q -> fixed(r, 1) }),
      "skew_isolated" -> skewIsolated, "stages" -> stages,
      "critical_path" -> critical, "sweep" -> sweep,
      "trend_regressions" -> trend,
      "host" -> (hostEnd.fields + ("spin_ref" -> fixed(spinRef, 3))),
      "sf" -> sfDir)
    if (args.isEmpty) // full-suite runs only — don't clobber on iteration
      Harness.writeJson(Harness.file("BENCH_DETAIL.json"), detail)
    // The round artifact (BENCH_rNN.json) stores only the LAST 2000
    // chars of stdout, so stdout carries exactly ONE JSON line: the
    // SIZE-BOUNDED summary ([[contractLine]]). STICKY PRINTED SET (r13):
    // every query the PREVIOUS round's committed contract line printed
    // (the newest BENCH_r*.json's parsed queries map) is printed
    // unconditionally, so a query that got faster does not read as
    // dropped from the bench.
    val prevPrinted: Set[String] = Option(Harness.file(".").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .maxByOption(_.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
      .flatMap(Harness.readJson).flatMap(field(_, "parsed", "queries"))
      .collect { case m: scala.collection.Map[String, Any] @unchecked =>
        m.keySet.toSet }
      .getOrElse(Set.empty)
    println(contractLine(total, totalNorm, gate.reported.toMap, prevPrinted,
      Harness.json(errors), gate.remeasured.size, sfDir))
    spark.stop()
  }

  private def stageFields(r: metrics.StageAnalyzer#StageRow)
      : ListMap[String, Any] = ListMap("stage" -> r.stageId,
    "wall" -> fixed(r.wallSec, 3), "tasks" -> r.nTasks,
    "task_max" -> fixed(r.taskMaxSec, 3), "task_med" -> fixed(r.taskMedSec, 3),
    "spill" -> r.spillBytes, "sh_read" -> r.shuffleReadBytes,
    "sh_write" -> r.shuffleWriteBytes, "work_tasks" -> r.workTasks,
    "work_med" -> fixed(r.workMedSec, 3), "skew" -> r.skewed)

  /** Length cap of the contract line: with the ~80-char sbt epilogue it
    * stays inside the driver's 2000-char stdout tail. */
  private[graft] val LineBudget = 1750

  /** THE DRIVER CONTRACT LINE — one JSON object of at most
    * [[LineBudget]] chars, whatever the query count. `value` is the
    * suite total over ALL of `times`; the `queries` map prints a
    * subset. Queries in `sticky` (the previous round's printed set) come
    * first, slowest first; if they alone overflow, the fastest of them
    * are dropped. The rest of the budget fills slowest-first with the
    * other queries. Every query not printed (dropped, or failed with
    * the −1 sentinel) counts in `queries_omitted`, so printed +
    * omitted = `queries_total`. The `errors` list is never cut: a
    * failing run's names matter more than the cap. */
  private[graft] def contractLine(total: Double, totalNorm: Double,
      times: Map[String, Double], sticky: Set[String], errJson: String,
      remeasuredN: Int, sfDir: String): String = {
    def line(entries: Seq[String]): String =
      s"""{"metric":"total","value":$total,""" +
        f""""value_load_normalized":$totalNorm%.1f,"unit":"sec",""" +
        s""""queries":${entries.mkString("{", ",", "}")},""" +
        s""""queries_omitted":${times.size - entries.size},""" +
        s""""queries_total":${times.size},"errors":$errJson,""" +
        s""""remeasured_n":$remeasuredN,""" +
        s""""detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    def fits(entries: Seq[String]) = line(entries).length <= LineBudget
    val (old, fresh) = times.toSeq.filter(_._2 >= 0).sortBy(-_._2)
      .map { case (q, t) => (q, f""""$q":$t%.2f""") }
      .partition { case (q, _) => sticky(q) }
    val kept = old.map(_._2).inits.find(fits).getOrElse(Nil)
    line(fresh.foldLeft(kept) { case (acc, (_, e)) =>
      if (fits(acc :+ e)) acc :+ e else acc
    })
  }
}
