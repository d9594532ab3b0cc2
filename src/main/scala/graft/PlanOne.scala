package graft

/** Single-query executed-plan dump — the debugging companion to
  * graft.Plans (which audits all 192 queries in one pass). Run:
  * `sbt "runMain graft.PlanOne q_name [sfDir]"`. Prints the final
  * ADAPTIVE plan of the returned frame itself (collect() first — an
  * action on a derived frame like count() would finalize a different
  * QueryExecution and hide the AQE result). */
object PlanOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(0))(
      spark, args.lift(1).getOrElse("/root/testdata/sf0.001"))
    df.collect()
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
