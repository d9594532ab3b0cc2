package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Source/sink surface — the Spark rendition of the reference's
  * `MRInput`/`MROutput` family (SURVEY.md §2a):
  *
  *  - `MRInput` over any Hadoop InputFormat (text / sequence / columnar)
  *    → `spark.read.{text,csv,json,parquet,orc}`: split planning,
  *    grouping and locality (TezSplitGrouper.java:72-85) are Spark's
  *    `FilePartition` packing, sized by
  *    `spark.sql.files.maxPartitionBytes` — at 100 TB that is the knob
  *    that replaces Tez's 50 MB–1 GB grouped splits and 1.7 waves.
  *  - `MROutput` + commit protocol (MROutputCommitter, DAG-success
  *    commit — MR/committer/MROutputCommitter.java) → `df.write` through
  *    `SQLHadoopMapReduceCommitProtocol`, task/job commit built in.
  *  - `MultiMROutput` (write by base path, KeyValueWriterWithBasePath)
  *    → `df.write.partitionBy(cols)`: one directory per key value,
  *    partition pruning on read for free.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** MultiMROutput analog: one output directory per value of `col`. */
  def writePartitionedBy(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Stages `df` as a file-stream feed: ONE `partitionBy("__chunk")`
    * write under `stageDir` splits it by `chunk` (an integer in
    * [0, nChunks)), then each chunk's file moves into `watch` as
    * `<prefix>_<i>.parquet`, so a `maxFilesPerTrigger=1` stream replays
    * one chunk per trigger. The chunk column is write layout only
    * (partitionBy drops it from the file bytes). A chunk with no rows
    * gets no directory from Spark and is skipped: the feed holds the
    * same rows in fewer files. Returns the ids of the staged chunks. */
  def stageChunks(df: DataFrame, chunk: Column, nChunks: Int,
      stageDir: String, watch: String, prefix: String): Seq[Int] = {
    df.withColumn("__chunk", chunk)
      .repartition(col("__chunk"))
      .write.mode(SaveMode.Overwrite).partitionBy("__chunk").parquet(stageDir)
    val fs = new Path(watch)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(watch))
    (0 until nChunks).filter { i =>
      val dir = new Path(s"$stageDir/__chunk=$i")
      fs.exists(dir) && fs.listStatus(dir).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .exists(part => fs.rename(part, new Path(watch, s"${prefix}_$i.parquet")))
    }
  }
}
