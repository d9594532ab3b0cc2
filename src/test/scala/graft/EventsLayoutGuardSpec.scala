package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events-reader layout guard, exercised NEGATIVELY — the test that
  * would have caught round 4's silent 1000× time shrink before any
  * query ran. Three contracts, and the reader's session contract:
  *  1. a TIMESTAMP(µs) fixture decodes through the adaptive branch to
  *     the same rows as the live fixture (positive control);
  *  2. an int64 column that holds MILLISECONDS (a unit the nanos branch
  *     would mis-decode 10^6× small) trips the min/max-year invariant
  *     with the loud "implausible years" error, NOT a silent result;
  *  3. an unsupported physical type (string ts) fails fast with the
  *     unsupported-type error from the schema branch.
  */
class EventsLayoutGuardSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeVariant(tag: String)(transform: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_layout_$tag").toFile
    transform(Tables.events(spark, sf))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.getPath
  }

  test("timestamp[us] layout decodes to the live fixture's rows (positive control)") {
    val dir = writeVariant("us")(identity)
    val got = Tables.events(spark, dir).agg(
      count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val want = Tables.events(spark, sf).agg(
      count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    assert(got == want)
  }

  test("int64 milliseconds layout fails the year invariant loudly") {
    // ms-as-int64: the nanos branch divides by 1000 → epoch µs values
    // 10^6 too small → years near 1970s/epoch-zero → must throw
    val dir = writeVariant("ms")(df =>
      df.withColumn("ts", expr("unix_millis(ts)")))
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, dir).count()
    }
    assert(e.getMessage.contains("implausible years"), e.getMessage)
  }

  test("unsupported physical ts type fails fast at the schema branch") {
    val dir = writeVariant("str")(df =>
      df.withColumn("ts", col("ts").cast("string")))
    val e = intercept[IllegalStateException] {
      Tables.events(spark, dir).count()
    }
    assert(e.getMessage.contains("unsupported physical type"), e.getMessage)
  }

  test("reading events writes nothing into a contract session's conf") {
    // a session of its own carrying every runtime SQL setting of
    // GraftSession.builder(); nanosAsLong is one of them, so the reader
    // has nothing to set
    val b = GraftSession.builder()
    val opts = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    val s = spark.newSession()
    opts.foreach { case (k, v) => if (s.conf.isModifiable(k)) s.conf.set(k, v) }
    val before = s.conf.getAll
    assert(Tables.events(s, sf).count() > 0)
    assert(s.conf.getAll == before)
  }
}
