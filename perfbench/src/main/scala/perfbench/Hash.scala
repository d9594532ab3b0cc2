package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result, for ops checked by equality of
  * results across passes. Floating-point cells are rounded to 10
  * significant digits, so a sum whose addition order varies between
  * passes does not read as a different result. */
object Hash {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9e"
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b", ".", "")
    case other => other.toString
  }

  def rows(rs: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rs.iterator.map(cell).toArray.sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
