package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KeyedTable

/** Building and running a declared query never writes the session's
  * function registry: the graft kernels are Columns (graft.functions),
  * and a kernel that needs a broadcast codebook, bloom filter or
  * interval table holds the handle itself instead of being looked up
  * by a temp-function name. One query per builder family that used to
  * register or bind a temp function, plus a direct KeyedTable merge,
  * runs on a fresh session whose function list must come out exactly
  * as it went in. */
class RegistryPuritySpec extends AnyFunSuite {
  import SparkTestSession._

  private val queries = Seq(
    "q_ann_ivf_trained_dist", // two-level dist route: super/block argmin
    "q_ann_ivf_trained_l3", // three-level beamed descent
    "q_ann_lsh_adaptive", // per-bucket broadcast codebooks
    "q_ann_pq", // per-subspace argmin books
    "q_dedup_minhash", // shingle sets + intersection sizes
    "q_dedup_semantic", // k-means two-level assignment + cosine
    "q_contamination_bloom", // broadcast bloom filter probe
    "q_text_stats", // one-pass text statistics
    "q_hilbert_cluster", // Hilbert curve keys
    "q_stream_cdc") // chunked feed + KeyedTable merges per trigger

  private def functionNames(s: org.apache.spark.sql.SparkSession) =
    s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet

  test("query building and KeyedTable merges leave the function registry unchanged") {
    val ns = spark.newSession()
    val before = functionNames(ns)
    try {
      queries.foreach { q =>
        assert(SparkEntry.queries(q)(ns, sf).collect().nonEmpty, q)
        assert(functionNames(ns) == before, s"$q changed the registry")
      }
      val root = s"${ProcScratch.base}/registry_purity"
      val dir = new org.apache.hadoop.fs.Path(root)
      dir.getFileSystem(ns.sparkContext.hadoopConfiguration).delete(dir, true)
      KeyedTable.write(ns, root, "t",
        ns.range(0, 1000).selectExpr("id AS k", "id % 7 AS v"), "k", nFiles = 4)
      val stats = KeyedTable.mergeDelta(ns, root, "t",
        ns.range(500, 1500).selectExpr("id AS k", "id % 5 AS v"), "k") {
        (cur, ch) => cur.join(ch, Seq("k"), "left_anti").unionByName(ch)
      }
      assert(stats.filesRewritten > 0 && stats.filesAppended > 0)
      assert(KeyedTable.read(ns, root, "t").count() == 1500)
      assert(functionNames(ns) == before, "mergeDelta changed the registry")
    } finally ScratchCache.release()
  }
}
