package graft.rdf

/** Minimal JSON reader (shared by the SPARQL-Results-JSON comparator, the
  * JSON-LD loader and the lineage log; no JSON library ships with this
  * build), plus the string quoting the lineage log writes with. */
object Json {
  sealed trait J
  final case class JObj(m: Map[String, J]) extends J
  final case class JArr(a: List[J]) extends J
  final case class JStr(s: String) extends J
  final case class JNum(n: BigDecimal, raw: String) extends J
  final case class JBool(b: Boolean) extends J
  case object JNull extends J

  final class JsonError(msg: String) extends RuntimeException(msg)

  /** `s` as a JSON string literal; control characters become \u escapes. */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def parse(s: String): J = {
    val p = new P(s)
    val v = p.value()
    p.ws()
    if (!p.eof) throw new JsonError(s"trailing JSON input at ${p.pos}")
    v
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def ws(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def peek: Char = if (eof) ' ' else s.charAt(pos)
    private def expect(c: Char): Unit = {
      ws()
      if (peek != c) throw new JsonError(s"expected '$c' at $pos")
      pos += 1
    }
    def value(): J = {
      ws()
      peek match {
        case '{' =>
          pos += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, J]
          if (peek == '}') { pos += 1; return JObj(m.toMap) }
          var go = true
          while (go) {
            ws()
            val k = str()
            expect(':')
            m(k) = value()
            ws()
            if (peek == ',') pos += 1 else go = false
          }
          expect('}')
          JObj(m.toMap)
        case '[' =>
          pos += 1; ws()
          val a = scala.collection.mutable.ListBuffer.empty[J]
          if (peek == ']') { pos += 1; return JArr(a.toList) }
          var go = true
          while (go) {
            a += value()
            ws()
            if (peek == ',') pos += 1 else go = false
          }
          expect(']')
          JArr(a.toList)
        case '"' => JStr(str())
        case 't' => require(s.startsWith("true", pos), "bad literal"); pos += 4; JBool(true)
        case 'f' => require(s.startsWith("false", pos), "bad literal"); pos += 5; JBool(false)
        case 'n' => require(s.startsWith("null", pos), "bad literal"); pos += 4; JNull
        case c if c.isDigit || c == '-' =>
          val st = pos
          if (peek == '-') pos += 1
          while (!eof && (s.charAt(pos).isDigit || "+-.eE".contains(s.charAt(pos)))) pos += 1
          val raw = s.substring(st, pos)
          JNum(BigDecimal(raw), raw)
        case other => throw new JsonError(s"unexpected JSON char '$other' at $pos")
      }
    }
    private def str(): String = {
      ws()
      if (peek != '"') throw new JsonError(s"expected string at $pos")
      pos += 1
      val sb = new StringBuilder
      while (!eof && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\' && pos + 1 < s.length) {
          pos += 1
          s.charAt(pos) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f'); case '/' => sb.append('/')
            case '"' => sb.append('"'); case '\\' => sb.append('\\')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
              pos += 4
            case o => sb.append(o)
          }
        } else sb.append(c)
        pos += 1
      }
      pos += 1
      sb.toString
    }
  }
}
