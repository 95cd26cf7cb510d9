package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON in and out through json4s (the copy Spark ships). */
object Json {
  def of(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => of(x)
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => JField(k.toString, of(x)) })
    case it: Iterable[_] => JArray(it.toList.map(of))
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  def obj(fields: (String, Any)*): JObject =
    JObject(fields.toList.map { case (k, v) => JField(k, of(v)) })

  def write(path: String, v: JValue): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      JsonMethods.compact(JsonMethods.render(v)))

  def read(path: String): JValue =
    JsonMethods.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  def str(v: JValue): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"expected a string, got $other")
  }

  def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case other => throw new IllegalArgumentException(s"expected a number, got $other")
  }

  def arr(v: JValue): List[JValue] = v match {
    case JArray(xs) => xs
    case other => throw new IllegalArgumentException(s"expected an array, got $other")
  }
}
