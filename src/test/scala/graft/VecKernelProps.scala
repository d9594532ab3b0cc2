package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, typedLit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{dist2, quantize, sq8, sub, tokens}
import graft.oracle.SparkSql

/** The compiled kernels of [[graft.functions.VecKernels]] against the
  * `SparkSql` fragments they replace, on generated frames: the same
  * rows (nulls included), and where the fragment raises an ANSI error,
  * the same error condition and parameters. Each comparison runs with
  * whole-stage codegen (the frame is shuffled first, so no projection
  * folds into a local relation on the driver) and again interpreted. */
class VecKernelProps extends AnyFunSuite {
  import SparkTestSession._

  private val rnd = new Random(20261020L)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .repartition(2)

  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Either the collected rows, or the error's condition and parameters. */
  private def outcome(df: DataFrame): Either[(String, Map[String, String]), Seq[Row]] =
    try Right(df.collect().toSeq)
    catch {
      case e: Throwable =>
        val t = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case s: SparkThrowable if s.getCondition != null => s }
          .getOrElse(throw e)
        import scala.jdk.CollectionConverters._
        Left((t.getCondition, t.getMessageParameters.asScala.toMap))
    }

  /** `kernel` (a Column) equals `fragment` (SQL text) over `df`, keyed by
    * `id`, compiled and interpreted, with ANSI on and off. */
  private def same(df: DataFrame, kernel: => Column, fragment: String): Unit =
    for (ansi <- Seq("true", "false"); conf <- Seq(Nil, Interpreted))
      GraftSession.withConf(spark, ("spark.sql.ansi.enabled" -> ansi) +: conf: _*) {
        val k = outcome(df.select(col("id"), kernel.as("r")).orderBy("id"))
        val f = outcome(df.select(col("id"), expr(fragment).as("r")).orderBy("id"))
        assert(k == f, s"ansi=$ansi ${conf.headOption.getOrElse("codegen")}")
      }

  private def arr[T](n: Int, nullP: Double)(gen: => T): Seq[Any] =
    Seq.fill(n)(if (rnd.nextDouble() < nullP) null else gen)

  private val floatVecs = StructType(Seq(StructField("id", IntegerType),
    StructField("v", ArrayType(FloatType, containsNull = true))))

  test("quantize equals quantVec: nulls, NaN, ±Inf, −0.0, saturation") {
    val specials = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 0.0f, 1e20f, -1e20f, 0.4999995f, -0.5e-6f, Float.MinPositiveValue)
    val rows = (0 until 300).map { i =>
      val v =
        if (i % 37 == 0) null
        else arr(rnd.nextInt(70), 0.05)(
          if (rnd.nextInt(8) == 0) specials(rnd.nextInt(specials.size))
          else (rnd.nextGaussian() * 0.3).toFloat)
      Row(i, v)
    }
    same(frame(floatVecs, rows), quantize(col("v"), 1000000L),
      SparkSql.quantVec("v", 1000000L))
  }

  private val longPairs = StructType(Seq(StructField("id", IntegerType),
    StructField("a", ArrayType(LongType, containsNull = true)),
    StructField("b", ArrayType(LongType, containsNull = true))))

  private def longPairRows(bound: Long): Seq[Row] = (0 until 300).map { i =>
    val n = rnd.nextInt(66)
    def vec = if (rnd.nextInt(30) == 0) null
      else arr(if (rnd.nextInt(6) == 0) rnd.nextInt(66) else n, 0.02)(
        rnd.nextLong() % bound)
    Row(i, vec, vec)
  }

  test("dist2 and sub equal dist2Big and zipSubBig: nulls and length mismatch") {
    val df = frame(longPairs, longPairRows(1L << 26)) // 64·(2^27)² < 2^63
    same(df, dist2(col("a"), col("b")), SparkSql.dist2Big("a", "b"))
    same(df, sub(col("a"), col("b")), SparkSql.zipSubBig("a", "b"))
  }

  /** One (a, b) pair per frame: an error ends the whole query. */
  private def pair(a: Seq[Any], b: Seq[Any]): DataFrame =
    frame(longPairs, Seq(Row(0, a, b)))

  test("dist2 and sub raise the fragments' ANSI overflow, in the same order") {
    val big = 3037000499L // big² < 2^63 < 2·big²
    val cases = Seq(
      (Seq(Long.MaxValue), Seq(-1L)),                 // subtract
      (Seq(1L << 32), Seq(0L)),                        // multiply
      (Seq(big, big), Seq(0L, 0L)),                    // add
      (Seq(big, big, 1L << 32), Seq(0L, 0L, 0L)),      // multiply wins over add
      (Seq(null, 1L << 32), Seq(0L, 0L)),              // null, then multiply
      (Seq(null, big, big), Seq(0L, 0L, 0L)),          // null stops the add
      (Seq(big, big, 1L << 32), Seq(0L, 0L)),          // mismatch: no element 3
      (Seq(Long.MinValue, 5L), Seq(1L)))               // mismatch, subtract
    for ((a, b) <- cases) {
      val df = pair(a, b)
      same(df, dist2(col("a"), col("b")), SparkSql.dist2Big("a", "b"))
      same(df, sub(col("a"), col("b")), SparkSql.zipSubBig("a", "b"))
    }
  }

  // ---- sq8 ---------------------------------------------------------------

  /** The SQ8 reconstruction as the trained-ANN path wrote it, over
    * 64-entry codec arrays inlined as literals. */
  private def sq8Fragment(mnA: Seq[Long], mxA: Seq[Long]): String = {
    def lit(a: Seq[Long]) = a.mkString("array(", "L,", "L)")
    val mn = s"element_at(${lit(mnA)}, dd)"
    val mx = s"element_at(${lit(mxA)}, dd)"
    s"transform(sequence(1, 64), dd -> " +
      s"$mn + ((CASE WHEN $mx = $mn THEN 0L " +
      s"ELSE (255 * (element_at(v, dd) - $mn)) div ($mx - $mn) END) " +
      s"* ($mx - $mn)) div 255)"
  }

  private def sameSq8(df: DataFrame, mn: Seq[Long], mx: Seq[Long]): Unit =
    same(df, sq8(col("v"), typedLit(mn), typedLit(mx)), sq8Fragment(mn, mx))

  private val longVecs = StructType(Seq(StructField("id", IntegerType),
    StructField("v", ArrayType(LongType, containsNull = true))))

  /** A codec with flat dims (mx = mn) every 7th dim and an inverted
    * one (mx < mn) every 11th. */
  private val (mn, mx) = (0 until 64).map { d =>
    val lo = rnd.nextLong() % 1000000L
    if (d % 7 == 0) (lo, lo)
    else if (d % 11 == 0) (lo, lo - 1 - rnd.nextInt(1000))
    else (lo, lo + 1 + rnd.nextInt(2000000))
  }.unzip

  test("sq8 equals the SQ8 fragment: flat and inverted dims, nulls") {
    val rows = (0 until 300).map { i =>
      Row(i, if (i % 29 == 0) null
        else arr(64, 0.03)(rnd.nextLong() % 3000000L))
    }
    sameSq8(frame(longVecs, rows), mn, mx)
  }

  test("sq8 raises the fragment's ANSI errors, and not on flat dims") {
    def flatFrom5(c: Seq[Long]) = c.take(5) ++ Seq.fill(59)(7L)
    val cases = Seq(
      (Seq.fill(10)(1L), mn, mx, true),      // short v: element_at out of range
      (Seq.fill(5)(1L), flatFrom5(mn), flatFrom5(mx), false), // the rest flat
      (Seq(0L, 1L << 60) ++ Seq.fill(62)(0L), mn, mx, true)) // 255·(x − mn) overflows
    for ((v, lo, hi, raises) <- cases) {
      val df = frame(longVecs, Seq(Row(0, v)))
      sameSq8(df, lo, hi)
      assert(outcome(df.select(sq8(col("v"), typedLit(lo), typedLit(hi)))).isLeft == raises)
    }
  }

  // ---- tokens ------------------------------------------------------------

  test("tokens equals the whitespace tokenizer: runs, tabs, multibyte") {
    val pieces = Seq(" ", "  ", "   ", "\t", "a", "bc", "é", "日本語", "😀",
      "x\ty", "\n", "ß", "")
    val rows = (0 until 300).map { i =>
      Row(i, if (i % 31 == 0) null
        else Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.size))).mkString)
    } ++ Seq(Row(1000, ""), Row(1001, "     "), Row(1002, " lead trail "))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("text", StringType)))
    same(frame(schema, rows), tokens(col("text")), SparkSql.tokens("text"))
  }
}
