package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** A stream start reuses the generated classes of earlier starts.
  * `CodeGenerator.compile` keys its cache on the context class loader
  * and the code. Each stream runs in a cloned session, and with
  * `spark.sql.artifact.isolation.enabled` on (Spark's default) every
  * clone runs its tasks under a new class loader, so a rerun compiles
  * the same code again. The contract session turns isolation off.
  * Compiles are counted with `CodegenMetrics`' compilation-time
  * histogram, one count per compiled class. The count needs the test
  * session's 4000-entry codegen cache (the contract's size): the default
  * 100 entries evict some of the ~85 classes a first `q_stream_cdc` run
  * compiles. */
class StreamCodegenReuseSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `name` run twice in a new session with [[Isolation]] set to
    * `isolated` and AQE set to `aqe`: both runs' rows and the classes
    * the second run compiled. AQE numbers whole-stage codegen stages in
    * the order query stages are created at run time, so a rerun can
    * give a stage another id (`q_stream_cdc`'s `foreachBatch` merges);
    * the id stays out of the generated class name
    * (`spark.sql.codegen.useIdInClassName=false`, as in the contract
    * session), so that code compiles once. */
  private def rerun(name: String, isolated: Boolean,
      aqe: Boolean = false): (Seq[Row], Seq[Row], Long) = {
    val s = spark.newSession()
    s.conf.set(Isolation, isolated.toString)
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    def once() = SparkEntry.queries(name)(s, sf).collect().toSeq
    val first = once()
    val before = compiled
    val second = once()
    (first, second, compiled - before)
  }

  for (name <- Seq("q_stream_tumbling", "q_stream_cdc")) {
    test(s"$name compiles no class on its rerun with artifact isolation off") {
      val (first, second, classes) = rerun(name, isolated = false)
      assert(first.nonEmpty)
      assert(second == first)
      assert(classes == 0, s"the rerun compiled $classes classes")
    }
  }

  test("q_stream_cdc compiles no class on its rerun with AQE on") {
    val (first, second, classes) = rerun("q_stream_cdc", isolated = false, aqe = true)
    assert(first.nonEmpty)
    assert(second == first)
    assert(classes == 0, s"the rerun compiled $classes classes")
  }

  test("control: with artifact isolation on, the q_stream_tumbling rerun " +
      "compiles again") {
    val (first, second, classes) = rerun("q_stream_tumbling", isolated = true)
    assert(second == first)
    assert(classes > 0)
  }

  private def builderOpts = {
    val b = GraftSession.builder()
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
  }

  test("GraftSession.builder() turns artifact isolation off") {
    assert(builderOpts.get(Isolation).contains("false"))
  }

  test("GraftSession.builder() keeps stage ids out of generated class names") {
    assert(builderOpts.get("spark.sql.codegen.useIdInClassName").contains("false"))
  }
}
