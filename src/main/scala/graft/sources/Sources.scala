package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
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

  /** The library's parquet reader. For plain file paths the schema comes
    * from ONE footer, read on the driver and converted by Spark's own
    * `ParquetFileFormat.readSchema` under the session's confs, so
    * building the frame submits no job (Spark's inference runs a one-task
    * `mergeSchemasInParallel` job to read that same footer — the
    * reference likewise plans root inputs on the AM, not in a task:
    * MR/common/MRInputAMSplitGenerator.java:73). The footer is the one of
    * the smallest path string: with `mergeSchema` off Spark sorts the
    * files by path and takes the first (`ParquetUtils.splitFiles`), so the
    * schema is the one Spark would infer. Directories (partition
    * discovery), globs, missing or unreadable paths and sessions with
    * `spark.sql.parquet.mergeSchema=true` take Spark's inference
    * unchanged. Nothing is cached: every call reads its footer afresh. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] =
    plainFiles(spark, paths).flatMap { case (conf, files) =>
      val first = files.minBy(_.getPath.toString)
      try GraftParquetBridge.readSchema(
        new Footer(first.getPath, footer(conf, first)), spark)
      catch { case NonFatal(_) => None }
    }

  /** The row count of a parquet table: the sum of its files' footer
    * row-group counts, read on the driver with no Spark job, under
    * [[readParquet]]'s plain-file precondition; otherwise (directories,
    * globs, unreadable footers) `count()` over [[readParquet]]. */
  def countRows(spark: SparkSession, paths: String*): Long =
    plainFiles(spark, paths).flatMap { case (conf, files) =>
      try Some(files.map(f =>
        footer(conf, f).getBlocks.asScala.map(_.getRowCount).sum).sum)
      catch { case NonFatal(_) => None }
    }.getOrElse(readParquet(spark, paths: _*).count())

  /** The statuses of `paths` when every one is a plain file and the
    * session does not merge schemas; None when Spark's own inference
    * must decide (it reports missing or corrupt files). */
  private def plainFiles(spark: SparkSession,
      paths: Seq[String]): Option[(Configuration, Seq[FileStatus])] =
    if (paths.isEmpty || spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val files = paths.map { p =>
        val hp = new Path(p)
        hp.getFileSystem(conf).getFileStatus(hp)
      }
      if (files.forall(_.isFile)) Some((conf, files)) else None
    } catch {
      case NonFatal(_) => None
    }

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try rd.getFooter finally rd.close()
  }

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
