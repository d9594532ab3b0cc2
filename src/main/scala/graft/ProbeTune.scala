package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Retention-vs-mass frontier of the ADAPTIVE multi-probe knob
  * (ops.SimilarityQueries.trainedAdaptiveCells) on the clustered
  * corpus — the measurement end of the target-retention knob: for a
  * grid of (nSupers, maxProbes, epsNum/epsDen) print the retention of
  * true cosine≥0.4 pairs and the candidate mass vs the single-probe
  * join, so the declared query's defaults are CHOSEN from a measured
  * frontier instead of guessed. Deterministic corpus (ScaleStress
  * clustered mode) — numbers reproduce exactly.
  *
  * Run: `SPARK_DRIVER_MEM=64g SPARK_GRAFT_CPUS=32 sbt "runMain
  * graft.ProbeTune [baseSfDir] [factor]"`.
  */
object ProbeTune {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = s"${ProcScratch.base}/probe_tune/sf${factor}x"
    println(s"[probe-tune] generating mode=clustered ${factor}x at $dir")
    ScaleStress.generate(spark, baseDir, dir, factor, mode = "clustered")

    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    val qstep = math.max(1L, n / 100)

    // single-probe baseline: home-cell occupancy mass (the Σc² the
    // within-cell join produces) — the denominator of mass_vs_single
    val bal = ops.SimilarityQueries.trainedCells(spark, dir).persist()
    val cnt = bal.groupBy("cell").agg(count(lit(1)).as("bn")).persist()
    val balSq = cnt.selectExpr("sum(bn * bn)").head.getLong(0).toDouble

    // truth: sampled queries × corpus — the SHARED law (NearDupLaw),
    // so the frontier measured here and the floors gated in
    // AnnClusteredStress can never drift apart
    def pairs(df: DataFrame): Set[(Long, Long)] = NearDupLaw.pairs(df)
    val q0 = bal.filter(pmod(col("vec_id"), lit(qstep)) === 0)
      .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2")
    val c0 = bal.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
      "n2 AS cn2")
    val truth = pairs(q0.crossJoin(c0))
    println(s"[probe-tune] n=$n truth=${truth.size} balSq=$balSq")

    // reference point: the EXACT stress construction of probe3
    // retention (trainedCells probe2/3 + two-direction union), to pin
    // the frontier to the committed SCALE_r09 numbers
    {
      val b3 = ops.SimilarityQueries
        .trainedCells(spark, dir, probe2 = true, probe3 = true).persist()
      val q3 = b3.filter(pmod(col("vec_id"), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2",
          "cell AS probe")
      val q3b = q3
        .unionByName(b3.filter(pmod(col("vec_id"), lit(qstep)) === 0)
          .filter(col("cell2") =!= col("cell"))
          .selectExpr("vec_id AS query_id", "embedding AS qe",
            "n2 AS qn2", "cell2 AS probe"))
        .unionByName(b3.filter(pmod(col("vec_id"), lit(qstep)) === 0)
          .filter(col("cell3") =!= col("cell"))
          .selectExpr("vec_id AS query_id", "embedding AS qe",
            "n2 AS qn2", "cell3 AS probe"))
      val c3 = b3.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
        "n2 AS cn2", "cell AS ccell")
      val c3alt = b3.filter(col("cell2") =!= col("cell"))
        .selectExpr("vec_id AS neighbor_id", "embedding AS ce",
          "n2 AS cn2", "cell2 AS ccell")
        .unionByName(b3.filter(col("cell3") =!= col("cell"))
          .selectExpr("vec_id AS neighbor_id", "embedding AS ce",
            "n2 AS cn2", "cell3 AS ccell"))
      val cols3 = Seq("query_id", "neighbor_id", "qe", "ce", "qn2", "cn2")
      val got3 = pairs(
        q3b.join(c3, col("probe") === col("ccell")).select(cols3.map(col): _*)
          .unionByName(q3.join(c3alt, col("probe") === col("ccell"))
            .select(cols3.map(col): _*)))
      val ret3 = if (truth.isEmpty) 1.0
        else (truth & got3).size.toDouble / truth.size
      println(f"[probe-tune] probe3-reference: retention=$ret3%.3f")
      // set-diff debug: the (nS=2, mp=3, no-margin, interleave) probes
      // must equal {cell, cell2, cell3} row for row
      val a3 = ops.SimilarityQueries
        .trainedAdaptiveCells(spark, dir, 2, 3, 1000000L, 1L, true)
      val dbg = b3.selectExpr("vec_id",
        "array_sort(array_distinct(array(cell, cell2, cell3))) AS s1")
        .join(a3.selectExpr("vec_id", "array_sort(probes) AS s2"), "vec_id")
        .filter("s1 <> s2")
      val nd = dbg.count()
      println(s"[probe-tune] probe-set diff rows vs probe3: $nd")
      if (nd > 0) dbg.show(5, false)
      b3.unpersist()
    }

    val M = 1000000L // "no margin" sentinel for frontier comparison
    val grid = Seq(
      // (nSupers, maxProbes, epsNum, epsDen, interleave). Negative
      // results this grid settled (r10): a parity-STAGGERED pick
      // (decorrelate the two endpoints' probe positions) measured
      // BELOW the plain interleave at every point - the nearest cells
      // really do carry the pair mass - and distance-global ordering
      // (interleave=false) loses ~15% retention at equal mass to the
      // per-super interleave. The shipped defaults (3, 5, 4/1,
      // interleave) are the best measured <=4.1x-mass point.
      (2, 3, M, 1L, true), // == the fixed probe3 set (reference)
      (3, 4, M, 1L, true), (3, 4, 4L, 1L, true),
      (3, 5, M, 1L, true), (3, 5, 4L, 1L, true),
      (3, 6, M, 1L, true), (4, 6, M, 1L, true))
    grid.foreach { case (ns, mp, num, den, il) =>
      val a = ops.SimilarityQueries
        .trainedAdaptiveCells(spark, dir, ns, mp, num, den, il).persist()
      val mass = a.selectExpr("explode(probes) AS cell")
        .join(cnt, "cell")
        .agg(coalesce(sum("bn"), lit(0L))).head.getLong(0).toDouble
      val aq = a.filter(pmod(col("vec_id"), lit(qstep)) === 0)
      val got1 = aq.selectExpr("vec_id AS query_id", "embedding AS qe",
          "n2 AS qn2", "explode(probes) AS probe")
        .join(a.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
          "n2 AS cn2", "cell AS ccell"), col("probe") === col("ccell"))
      val got2 = aq.selectExpr("vec_id AS query_id", "embedding AS qe",
          "n2 AS qn2", "cell AS probe")
        .join(a.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
          "n2 AS cn2", "explode(probes) AS ccell"),
          col("probe") === col("ccell"))
      val got = pairs(got1.select("query_id", "neighbor_id", "qe", "ce",
        "qn2", "cn2").unionByName(got2.select("query_id", "neighbor_id",
        "qe", "ce", "qn2", "cn2")))
      val ret = if (truth.isEmpty) 1.0
        else (truth & got).size.toDouble / truth.size
      val remRecall = NearDupLaw.removalRecall(truth, got)
      val avgProbes = a.selectExpr("avg(size(probes))").head.getDouble(0)
      println(f"[probe-tune] nS=$ns mp=$mp eps=$num/$den il=$il: " +
        f"retention=$ret%.3f removal_recall=$remRecall%.3f " +
        f"mass_vs_single=${mass / balSq}%.2fx avg_probes=$avgProbes%.2f")
      // a is itself a scratch frame — drop it now; the shared frames
      // (bal, the corpus projection) are released once at the end so
      // iterations don't recompute the baseline
      a.unpersist()
    }
    bal.unpersist(); cnt.unpersist()
    ScratchCache.release()
    spark.stop()
  }
}
