package graft.tools

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON in and out of the bench and verify harnesses, through json4s
  * (the copy Spark ships). */
private[graft] object Json {
  /** A number at 3-decimal (ms) precision, the bench records' format:
    * full doubles made the query maps long enough that a tail-capturing
    * log reader truncated them. Non-finite values are `null`. */
  def fixed3(v: Double): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP))

  /** An ordered name → seconds object at [[fixed3]] precision. */
  def secs(rs: Seq[(String, Double)]): JObject =
    JObject(rs.map { case (k, v) => k -> fixed3(v) }.toList)

  /** The numeric fields of an object (`{}` for anything else). */
  def numbers(v: JValue): Map[String, Double] = v match {
    case JObject(fs) => fs.collect {
      case (k, JDouble(d))  => k -> d
      case (k, JDecimal(d)) => k -> d.toDouble
      case (k, JInt(i))     => k -> i.toDouble
      case (k, JLong(l))    => k -> l.toDouble
    }.toMap
    case _ => Map.empty
  }

  def strings(xs: Seq[String]): JArray = JArray(xs.map(JString(_)).toList)

  def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  def parse(s: String): JValue = JsonMethods.parse(s)
}
