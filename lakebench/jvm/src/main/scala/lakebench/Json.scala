package lakebench

/** Minimal JSON encoding for the command protocol: maps, sequences, numbers,
  * booleans, strings and null. Map keys keep insertion order. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.iterator.map(enc).mkString("[", ",", "]")
    case a: Array[_] => enc(a.toSeq)
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Parse a JSON document into Scala maps, vectors, doubles, longs,
    * strings, booleans and null. */
  def parse(s: String): Any = {
    import org.json4s._
    def conv(v: JValue): Any = v match {
      case JObject(fs) => fs.map { case (k, x) => k -> conv(x) }.toMap
      case JArray(xs) => xs.map(conv).toVector
      case JString(x) => x
      case JInt(x) => x.toLong
      case JLong(x) => x
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case JBool(x) => x
      case _ => null
    }
    conv(org.json4s.jackson.JsonMethods.parse(s))
  }
}
