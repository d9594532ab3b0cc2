package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.norm2
import graft.ops.SimilarityQueries

/** The cosine top-3 tail every cell-blocked ANN search ends in, run on
  * a frame built here. The fixtures hold no exact cosine ties, so the
  * oracle gate alone never pins the tie-break. */
class CosineTopKSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // (vec_id, embedding, bucket, cell). Rows 1, 3, 4, 5, 7 share
  // (bucket 0, cell 0) and point the same way, so every pair among them
  // has cosine exactly 1.0. Row 2 shares only the bucket, row 6 only the
  // cell; both would tie at 1.0 too if the join ignored a key column.
  private val e = Seq(
    (1L, Seq(1f, 0f), 0L, 0L),
    (5L, Seq(2f, 0f), 0L, 0L),
    (3L, Seq(2f, 0f), 0L, 0L),
    (4L, Seq(3f, 0f), 0L, 0L),
    (7L, Seq(2f, 0f), 0L, 0L),
    (8L, Seq(1f, 1f), 0L, 0L),
    (2L, Seq(1f, 0f), 0L, 1L),
    (6L, Seq(1f, 0f), 1L, 0L))
    .toDF("vec_id", "embedding", "bucket", "cell")
    .select(col("vec_id"), col("embedding"), norm2("embedding"),
      col("bucket"), col("cell"))
  private val keys = Seq("bucket", "cell")

  private lazy val rows = SimilarityQueries.cosineTopK(
      e.selectExpr(Seq("vec_id AS query_id", "embedding AS qe",
        "n2 AS qn2") ++ keys: _*),
      e.selectExpr(Seq("vec_id AS neighbor_id", "embedding AS ce",
        "n2 AS cn2") ++ keys: _*),
      "query_id", keys, keys)
    .collect().toSeq

  test("output columns are (id, neighbor_id, keys, cosine, rn)") {
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("query_id", "neighbor_id", "bucket", "cell", "cosine", "rn"))
  }

  test("exact cosine ties rank by neighbor_id") {
    val q1 = rows.filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(1), r.getDouble(4), r.getInt(5)))
    assert(q1 == Seq((3L, 1.0, 1), (4L, 1.0, 2), (5L, 1.0, 3)))
  }

  test("self-pairs are excluded") {
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("each probe gets at most k rows") {
    val perProbe = rows.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
    assert(perProbe.values.forall(_ <= 3))
    assert(perProbe(8L) == 3)
  }

  test("a two-column key joins on both columns") {
    assert(rows.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
    assert(!rows.exists(r => Set(2L, 6L)(r.getLong(0)) ||
      Set(2L, 6L)(r.getLong(1))))
  }
}
