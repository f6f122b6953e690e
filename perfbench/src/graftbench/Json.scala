package graftbench

/** Minimal JSON rendering for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case s: String =>
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        write(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(x, sb) }
      sb += ']'
    case xs: Array[_] => write(xs.toSeq, sb)
    case other => write(other.toString, sb)
  }
}
