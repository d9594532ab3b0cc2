package graft.ops

import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{ScratchCache, SparkEntry, Tables}
import graft.SparkTestSession._
import graft.functions.quantize

/** Driver round trips of the trained-ANN build, counted with a
  * SparkListener on sf0.001: a seed book is one collect, the corpus
  * size of a file-backed table comes from its parquet footers, and
  * building q_ann_ivf_sq8_rerank — the book, its broadcast and the SQ8
  * codec — submits at most 7 jobs (12 while the count ran 4 jobs, the
  * seed sort 3, and the quantized vectors had a scratch cache of their
  * own). The frame it serves runs no interpreted lambda. */
class JobCountSpec extends AnyFunSuite {

  test("seedBook submits one job and returns the seeds in id order") {
    val seeds = Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), quantize(col("embedding"), 1000000L).as("qv"))
    var book: graft.functions.SeedBook = null
    assert(jobsDuring { book = SimilarityQueries.seedBook(seeds) } == 1)
    assert(book._1.toSeq == book._1.sorted.toSeq && book._1.nonEmpty)
  }

  test("corpusN on a file-backed table submits no job") {
    var n = 0L
    assert(jobsDuring { n = SimilarityQueries.corpusN(spark, sf) } == 0)
    assert(n == Tables.embeddings(spark, sf).count())
  }

  test("building q_ann_ivf_sq8_rerank submits at most 7 jobs") {
    try {
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { df = SparkEntry.queries("q_ann_ivf_sq8_rerank")(spark, sf) }
      info(s"$jobs jobs")
      assert(jobs <= 7, s"$jobs jobs")
      val lambdas = df.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h }))
      assert(lambdas.isEmpty, lambdas.mkString("; "))
    } finally ScratchCache.release()
  }
}
