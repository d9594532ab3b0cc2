package graft
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dump (and list in
    // oracle_sql.json) only those, for fast single-query iteration with
    // tools/oracle_check.py
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // the SHARED session contract (GraftSession, r13): the oracle gate
    // runs under the same confs the bench measures, so a conf-dependent
    // planner defect cannot pass verification yet ship in bench numbers
    // (the r12 advisor's top item)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are NOT silent (round-4 lesson: 10 erroring queries were
    // only visible as absences): every failure is printed to BOTH
    // streams and recorded in <outDir>/_errors.json next to the dumps,
    // so a consumer of the artifact dir sees the error list even if it
    // only diffs declared-vs-present names.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += name -> String.valueOf(e.getMessage)
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        println(s"[verify] $name FAILED: ${e.getMessage}")
      }
      finally ScratchCache.release() // drop this query's scratch frames
    }
    // oracle_sql.json and _errors.json go through the harness JSON
    // writer, which escapes quotes, backslashes and every control char —
    // a tab or CR in builder-authored SQL would otherwise make the
    // oracle comparison's json.load fail and silently zero the round's
    // correctness
    Harness.writeJson(new java.io.File(outDir, "oracle_sql.json"),
      SparkEntry.oracleSql.filter(kv => keep(kv._1)))
    Harness.writeJson(new java.io.File(outDir, "_errors.json"),
      ListMap.from(failures))
    if (failures.nonEmpty)
      println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
