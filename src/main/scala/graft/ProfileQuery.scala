package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-stage profile of ONE declared query on an arbitrary corpus dir —
  * the interactive end of the job-analyzer parity surface
  * (metrics.StageAnalyzer; reference:
  * `tez-tools/analyzers/job-analyzer/src/main/java/org/apache/tez/analyzer/plugins/SkewAnalyzer.java`).
  * Bench/ScaleStress aggregate skew to one flag per query; when that
  * flag fires, THIS is the drill-down that names the stage: wall,
  * task count, max/median task seconds, shuffle bytes, and the skew
  * verdict per stage, for each of `runs` repetitions (stage-cache
  * timing effects show up as run-to-run differences). Each pass line
  * also counts the classes codegen compiled in the pass: after pass 1 a
  * non-zero count is a codegen-cache miss or generated code that differs
  * from run to run.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProfileQuery q_name
  * [corpusDirOrFactor] [runs] [mode]"`. A bare integer as the second
  * arg synthesizes that ScaleStress factor corpus from sf0.1 first
  * (scratch trees are PID-keyed and reclaimed on exit, so a prior
  * stress run's corpus cannot be pointed at — generation is
  * deterministic, the corpus is bit-identical to the one that
  * flagged).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery q_name [corpusDirOrFactor] [runs] [mode]"))
    val dirArg = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val mode = args.lift(3).getOrElse("default")
    // the SHARED session contract (GraftSession, r13): isolated
    // profiles measure the same configuration the bench runs
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = dirArg.toIntOption match {
      case Some(factor) =>
        val d = s"${ProcScratch.base}/profile/sf${factor}x"
        println(s"[profile] generating ${factor}x (mode=$mode) at $d")
        ScaleStress.generate(spark, "/root/testdata/sf0.1", d, factor,
          mode = mode)
        d
      case None => dirArg
    }
    val analyzer = new metrics.StageAnalyzer
    spark.sparkContext.addSparkListener(analyzer)
    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { pass =>
      spark.catalog.clearCache()
      analyzer.reset()
      analyzer.setLabel(name)
      // count(), not collect(): the drill-down exists for large-corpus
      // flags, where materializing a pair-heavy result on the driver
      // (quadratic in cluster mass at 100x) would OOM the profiler
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compile0 = CodeGenerator.compileTime
      val (sec, _) = Harness.timed(fn(spark, dir).count())
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      val compileSec = (CodeGenerator.compileTime - compile0) / 1e9
      Thread.sleep(1200) // drain the listener bus
      println(f"[profile] $name pass $pass: $sec%.2fs on $dir, " +
        f"$classes classes compiled in $compileSec%.3fs")
      analyzer.report().getOrElse(name, Nil).foreach { r =>
        println(f"[profile]   stage ${r.stageId}%4d wall=${r.wallSec}%7.3f " +
          f"tasks=${r.nTasks}%4d max=${r.taskMaxSec}%7.3f " +
          f"med=${r.taskMedSec}%6.3f workMed=${r.workMedSec}%6.3f " +
          f"shR=${r.shuffleReadBytes}%10d shW=${r.shuffleWriteBytes}%10d " +
          f"spill=${r.spillBytes}%8d skew=${r.skewed}")
      }
      analyzer.skewFlags().get(name).foreach(v =>
        println(f"[profile]   WORST SKEW $v%.1f"))
    }
    spark.stop()
  }
}
