package graft

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

/** The chunked file-feed staging shared by q_stream_cdc and both
  * streaming-ANN ingest queries: one partitioned write, then one file
  * per chunk renamed into the watch directory. A chunk with no rows has
  * no partition directory, and staging must skip it rather than fail
  * listing a directory Spark never created. */
class StageChunksSpec extends AnyFunSuite {
  import SparkTestSession._

  private val root = s"${ProcScratch.base}/stage_chunks_spec"

  test("an empty chunk is skipped and every row still reaches the feed") {
    val dir = new org.apache.hadoop.fs.Path(root)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    // no multiple of 3 survives the filter, so chunk 0 is empty
    val df = spark.range(0, 30).toDF("id").filter("id % 3 <> 0")
      .selectExpr("id", "id * 7 AS v")
    val watch = s"$root/watch"
    val staged = Sources.stageChunks(df, expr("CAST(id % 3 AS INT)"), 3,
      s"$root/stage", watch, "part")
    assert(staged == Seq(1, 2))
    val names = new java.io.File(watch).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(names == Seq("part_1.parquet", "part_2.parquet"))
    val back = spark.read.parquet(watch)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }
}
