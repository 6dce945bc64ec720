package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal JSON in and out for the harness's input specs and result files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def parseFile(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  implicit final class Fields(private val v: JValue) extends AnyVal {
    def str(k: String): String = (v \ k).asInstanceOf[JString].s
    def long(k: String): Long = (v \ k) match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDouble(d) => d.toLong
      case other => sys.error(s"$k is not a number: $other")
    }
    def int(k: String): Int = long(k).toInt
    def dbl(k: String): Double = (v \ k) match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case other => sys.error(s"$k is not a number: $other")
    }
    def longs(k: String): Seq[Long] = (v \ k) match {
      case JArray(xs) => xs.map {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case other => sys.error(s"$k holds a non-integer: $other")
      }
      case _ => Nil
    }
    def arr(k: String): List[JValue] = (v \ k) match {
      case JArray(xs) => xs
      case _ => Nil
    }
  }
}
