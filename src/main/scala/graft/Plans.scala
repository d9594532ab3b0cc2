package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan auditor: executes every declared query on a small SF and prints a
  * one-line physical summary — shuffle/sort/join node counts and scan
  * column width — the ".explain and iterate" loop (SURVEY.md §7) made
  * repeatable. Run: `sbt "runMain graft.Plans [sfDir]"`. */
object Plans extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect()
        val outer = df.queryExecution.executedPlan
        // descend into scratch-cached relations too (r09 audit nit:
        // q_ann_ivf_trained_dist's SHUFFLE_HASH join ran inside the
        // ScratchCache materialization and never appeared here) —
        // cached-plan work is labeled `cached:` so the outer counts
        // stay comparable with earlier rounds
        def cachedUnder(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] =
          collect(p) {
            case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              s.relation.cachedPlan
          }.flatMap(cp => cp +: cachedUnder(cp))
        val plans = outer +: cachedUnder(outer)
        val nodes = collect(outer) { case p => p.nodeName }
        val cachedNodes = plans.drop(1).flatMap(p =>
          collect(p) { case q => q.nodeName })
        def n(sub: String) = nodes.count(_.contains(sub))
        val joins = (nodes.filter(_.contains("Join")).distinct ++
          cachedNodes.filter(_.contains("Join")).distinct
            .map("cached:" + _)).distinct.mkString("+")
        // outer scan widths (incl. InMemory reads — the projected
        // width the query actually consumes, comparable with earlier
        // rounds), then the cached plans' parquet-scan widths
        val scans = collect(outer) {
          case q if q.nodeName.contains("Scan") => q.schema.fields.length
        } ++ plans.drop(1).flatMap(p => collect(p) {
          case q if q.nodeName.contains("Scan") &&
            !q.nodeName.contains("InMemory") => q.schema.fields.length
        })
        println(f"$name%-24s exchanges=${n("Exchange")} sorts=${n("Sort")} " +
          f"aggs=${n("Aggregate")} scanCols=${scans.mkString(",")} " +
          (if (joins.nonEmpty) s"joins=$joins" else ""))
      } catch {
        case e: Throwable => println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
