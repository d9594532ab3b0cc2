package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupQueries

/** The SimHash flip join ([[DedupQueries.simhashPairs]]): every pair at
  * hamming distance ≤ 1 comes out exactly once, no pair at distance 2
  * does, and the result equals the brute-force all-pairs self-join. */
class SimhashPairsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def bruteForce(docs: DataFrame): DataFrame = {
    val a = docs.selectExpr("doc_id AS doc_id_a", "sh AS sha")
    val b = docs.selectExpr("doc_id AS doc_id_b", "sh AS shb")
    a.join(b, col("doc_id_a") < col("doc_id_b"))
      .selectExpr("doc_id_a", "doc_id_b", "CAST(bit_count(sha ^ shb) AS INT) AS hamming")
      .filter(col("hamming") <= 1)
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Int)] =
    df.orderBy("doc_id_a", "doc_id_b").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

  test("distance 0 and 1 (bit 0, bit 47) once each; distance 2 absent") {
    import spark.implicits._
    val base = 0x5A5A5A5A5A5AL
    val docs = Seq(
      1L -> base,
      2L -> base,                  // distance 0 from 1
      3L -> (base ^ 1L),           // bit 0 from 1 and 2
      4L -> (base ^ (1L << 47)),   // bit 47 from 1 and 2; distance 2 from 3
      5L -> (base ^ 0x6L)          // distance 2 from 1 and 2; 3 from 3 and 4
    ).toDF("doc_id", "sh")
    val got = rows(DedupQueries.simhashPairs(docs))
    assert(got == Seq((1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 1), (2L, 3L, 1), (2L, 4L, 1)))
    assert(got == rows(bruteForce(docs)))
  }

  test("flip join equals the brute-force self-join on fixture signatures") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.tokenHashes(expr(graft.oracle.SparkSql.tokens("text")), 12).as("th"))
      .select(col("doc_id"), graft.functions.simhash(col("th"), 48).cast("bigint").as("sh"))
      .cache()
    try {
      val got = rows(DedupQueries.simhashPairs(docs))
      assert(got.nonEmpty)
      assert(got == rows(bruteForce(docs)))
      assert(got.map(p => (p._1, p._2)).distinct.size == got.size)
    } finally docs.unpersist()
  }
}
