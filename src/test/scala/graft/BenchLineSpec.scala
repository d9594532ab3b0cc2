package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The driver keeps only the last 2000 chars of Bench's stdout, so the
  * contract line must stay inside its budget however many queries the
  * previous round printed (its sticky set). */
class BenchLineSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(13)
  private val times: Map[String, Double] = (1 to 233).map { i =>
    f"q_contract_line_query_$i%03d" -> (0.05 + rnd.nextDouble() * 9.0)
  }.toMap
  private val total = times.values.sum

  private def parse(line: String): JValue = JsonMethods.parse(line)
  private def printed(j: JValue): Map[String, Double] = j \ "queries" match {
    case JObject(fs) => fs.collect { case (q, JDouble(t)) => q -> t }.toMap
    case other => fail(s"queries is not an object: $other")
  }
  private def int(v: JValue): Long = v match {
    case JInt(x) => x.toLong
    case JLong(x) => x
    case other => fail(s"not an integer: $other")
  }

  test("all 233 queries sticky: the line stays in budget and adds up") {
    val line = Bench.contractLine(total, total * 1.1, times, times.keySet,
      "[]", 0, "/data/sf0.1")
    assert(line.length <= Bench.LineBudget)
    val j = parse(line)
    val p = printed(j)
    assert(p.nonEmpty)
    assert(p.size + int(j \ "queries_omitted") == int(j \ "queries_total"))
    assert(int(j \ "queries_total") == 233)
    assert((j \ "value") == JDouble(total))
    // the sticky entries dropped are the fastest ones
    val slowest = times.toSeq.sortBy(-_._2).take(p.size).map(_._1).toSet
    assert(p.keySet == slowest)
  }

  test("sticky entries take the budget before new ones") {
    val sticky = times.toSeq.sortBy(_._2).take(10).map(_._1).toSet
    val line = Bench.contractLine(total, total, times, sticky, "[]", 2,
      "/data/sf0.1")
    assert(line.length <= Bench.LineBudget)
    val j = parse(line)
    val p = printed(j)
    assert(sticky.subsetOf(p.keySet))
    assert(p.size + int(j \ "queries_omitted") == 233)
  }

  test("a failed query is omitted, never printed") {
    val withErr = times + ("q_contract_line_failed" -> -1.0)
    val line = Bench.contractLine(-1.0, -1.0, withErr, Set.empty,
      "[\"q_contract_line_failed\"]", 0, "/data/sf0.1")
    val j = parse(line)
    assert(!printed(j).contains("q_contract_line_failed"))
    assert(printed(j).size + int(j \ "queries_omitted") == 234)
    assert((j \ "value") == JDouble(-1.0))
  }
}
