package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{KeyedTable, Sources}

/** The driver-side footer reader ([[Sources.readParquet]]): its schema is
  * exactly the one Spark's own inference gives, on the pyarrow-written
  * fixtures, on Spark-written KeyedTable files and on raw files whose
  * types only the session confs (`inferTimestampNTZ`, `nanosAsLong`)
  * decide; and building a fixture read submits no Spark job. */
class ParquetReadSpec extends AnyFunSuite {
  import SparkTestSession._

  private val tmp = Files.createTempDirectory("graft_parquet_read").toFile

  private def assertSameSchema(paths: String*): Unit =
    assert(Sources.readParquet(spark, paths: _*).schema ==
      spark.read.parquet(paths: _*).schema, paths.mkString(", "))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One parquet file written by parquet-mr itself (no embedded Spark
    * schema), so Spark's type conversion, not a stored schema, decides. */
  private def rawFile(name: String, message: String, values: Seq[Long]): String = {
    val path = new Path(tmp.getPath, name)
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(path)
      .withConf(new Configuration()).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try values.foreach(v => w.write(groups.newGroup().append("id", v).append("ts", v)))
    finally w.close()
    path.toString
  }

  test("countRows equals count() on every fixture table and a directory") {
    val tables = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    tables.foreach { t =>
      assert(Sources.countRows(spark, s"$sf/$t") ==
        spark.read.parquet(s"$sf/$t").count(), t)
    }
    val dir = new java.io.File(tmp, "rows_dir").getPath
    spark.range(0, 1234, 1, 3).write.mode("overwrite").parquet(dir)
    assert(Sources.countRows(spark, dir) == 1234)
  }

  test("footer schema equals Spark's inference on every fixture table") {
    val tables = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10, tables.mkString(","))
    tables.foreach(t => assertSameSchema(s"$sf/$t"))
  }

  test("TIMESTAMP_NTZ file: footer schema follows inferTimestampNTZ like Spark") {
    val p = rawFile("ntz.parquet",
      "message m { required int64 id; required int64 ts (TIMESTAMP(MICROS,false)); }",
      Seq(1700000000000000L, 1700000001000000L))
    Seq("true", "false").foreach { v =>
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", v)(assertSameSchema(p))
    }
  }

  test("int64-nanos file under nanosAsLong: footer schema equals Spark's") {
    val p = rawFile("nanos.parquet",
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(1700000000000000000L, 1700000001000000000L))
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertSameSchema(p)
      assert(Sources.readParquet(spark, p).collect().map(_.getLong(1)).toSeq ==
        Seq(1700000000000000000L, 1700000001000000000L))
    }
  }

  test("KeyedTable data files: footer schema equals Spark's, and reads agree") {
    val root = s"${tmp.getPath}/keyed"
    val df = spark.range(0, 200).toDF("k").selectExpr("k", "CAST(k % 7 AS INT) AS v",
      "CAST(k AS STRING) AS s")
    KeyedTable.write(spark, root, "t", df, "k", nFiles = 2)
    val files = KeyedTable.manifest(spark, root, "t").map(e => s"$root/t/${e.relPath}")
    assert(files.size == 2, files)
    files.foreach(assertSameSchema(_))
    assertSameSchema(files: _*)
    assert(KeyedTable.read(spark, root, "t").orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
  }

  test("several files: the schema is the smallest path's, as Spark picks it") {
    val a = rawFile("pick_a.parquet",
      "message m { required int64 id; required int64 ts (TIMESTAMP(MICROS,true)); }", Seq(1L))
    val b = rawFile("pick_b.parquet",
      "message m { required int64 id; required int64 ts; }", Seq(2L))
    assertSameSchema(b, a)
    assert(Sources.readParquet(spark, b, a).schema == spark.read.parquet(a).schema)
  }

  test("directories keep Spark's inference, partition columns included") {
    val dir = s"${tmp.getPath}/parted"
    spark.range(0, 10).selectExpr("id", "id % 2 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    assertSameSchema(dir)
    assert(Sources.readParquet(spark, dir).schema.fieldNames.contains("p"))
  }

  test("building a lineitem or events read submits no job") {
    assert(jobsDuring(Tables.lineitem(spark, sf): Unit) == 0)
    // the events sanity scan runs once per path: warm the path first
    Tables.events(spark, sf).count()
    assert(jobsDuring(Tables.events(spark, sf): Unit) == 0)
  }
}
