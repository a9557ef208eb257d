package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON for the result file, on json4s: number helpers and the mapping
  * from Spark values to JSON. */
object Json {
  /** A result object under construction, in insertion order. */
  type Out = scala.collection.mutable.LinkedHashMap[String, JValue]
  def out(): Out = scala.collection.mutable.LinkedHashMap.empty[String, JValue]

  /** A double, or its name as a string when it is not finite. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
  def num(l: Long): JValue = JLong(l)
  def str(s: String): JValue = if (s == null) JNull else JString(s)

  /** One Spark value as JSON: timestamps as epoch microseconds, dates
    * as ISO strings, decimals as strings, nested values as arrays. */
  def value(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case b: Byte => JLong(b.toLong)
    case s: Short => JLong(s.toLong)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case s: String => JString(s)
    case d: java.math.BigDecimal => JString(d.toPlainString)
    case d: scala.math.BigDecimal => JString(d.bigDecimal.toPlainString)
    case t: java.sql.Timestamp => JLong(t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000)
    case i: java.time.Instant => JLong(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => JString(d.toLocalDate.toString)
    case d: java.time.LocalDate => JString(d.toString)
    case r: org.apache.spark.sql.Row => JArray(r.toSeq.map(value).toList)
    case m: scala.collection.Map[_, _] =>
      JArray(m.toList.map { case (k, x) => JArray(List(value(k), value(x))) })
    case s: scala.collection.Seq[_] => JArray(s.map(value).toList)
    case a: Array[_] => JArray(a.toList.map(value))
    case other => JString(other.toString)
  }

  def render(v: JValue): String = JsonMethods.compact(v)

  def write(f: java.io.File, out: Out): Unit =
    java.nio.file.Files.write(f.toPath, render(JObject(out.toList)).getBytes("UTF-8"))
}
