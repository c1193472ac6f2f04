package graft.perfbench

/** Minimal JSON writer for the raw run record (maps, sequences,
  * strings, numbers, booleans). Non-finite doubles become null.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: collection.Map[_, _] =>
        sb += '{'
        m.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
