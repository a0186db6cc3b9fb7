package kgbench

import scala.collection.mutable

/** A small ordered JSON object for the raw measurement file. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, Any]

  def put(k: String, v: Any): Unit = fields(k) = v

  def append(k: String, v: Any): Unit = fields.get(k) match {
    case Some(b: mutable.ArrayBuffer[Any] @unchecked) => b += v
    case _ => fields(k) = mutable.ArrayBuffer[Any](v)
  }

  def render(): String = Json.render(this)
}

object Json {
  def obj(kv: (String, Any)*): Json = {
    val j = new Json
    kv.foreach { case (k, v) => j.put(k, v) }
    j
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case j: Json => j.fields.map { case (k, x) => str(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
