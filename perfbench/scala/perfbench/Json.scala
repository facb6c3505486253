package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON rendering of the result file the runner reads, through the json4s
  * that ships with Spark. Non-finite doubles become null.
  */
object Json {
  def render(v: Any): String = JsonMethods.compact(JsonMethods.render(toJ(v)))

  private def toJ(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => toJ(x)
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case f: Float => toJ(f.toDouble)
    case n: Int => JLong(n.toLong)
    case n: Long => JLong(n)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => JField(k.toString, toJ(x)) })
    case xs: Iterable[_] => JArray(xs.toList.map(toJ))
    case xs: Array[_] => JArray(xs.toList.map(toJ))
    case other => JString(other.toString)
  }
}
