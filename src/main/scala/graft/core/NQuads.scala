package graft.core

/** Line-oriented N-Quads parser. The reference loads N-Quads as its default
  * interchange format (/root/reference/internal/load.go:15,86-99); here each
  * line parses independently so the reader distributes as a `Dataset[String]
  * .flatMap` — no cross-line state, scales linearly with input splits.
  *
  * Well-known XSD datatypes parse to native typed values (Int/Float/Bool/
  * Time), mirroring the reference's `quad.Value` parsing behavior; unknown
  * datatypes stay `TypedStr`.
  */
object NQuads {
  private val XsdInt = Set(
    "http://www.w3.org/2001/XMLSchema#integer",
    "http://www.w3.org/2001/XMLSchema#long",
    "http://www.w3.org/2001/XMLSchema#int")
  private val XsdFloat = Set(
    "http://www.w3.org/2001/XMLSchema#double",
    "http://www.w3.org/2001/XMLSchema#float",
    "http://www.w3.org/2001/XMLSchema#decimal")
  private val XsdBool = "http://www.w3.org/2001/XMLSchema#boolean"
  private val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"

  final case class ParsedQuad(s: QValue, p: QValue, o: QValue, l: Option[QValue])

  /** Parse one term starting at `pos`; returns (value, nextPos). */
  private def parseTerm(line: String, pos0: Int): (QValue, Int) = {
    var pos = pos0
    while (pos < line.length && (line.charAt(pos) == ' ' || line.charAt(pos) == '\t')) pos += 1
    if (pos >= line.length) throw new IllegalArgumentException(s"unexpected end of line: $line")
    line.charAt(pos) match {
      case '<' =>
        val end = line.indexOf('>', pos)
        if (end < 0) throw new IllegalArgumentException(s"unterminated IRI in: $line")
        (QValue.Iri(NQuadEscape.unescape(line.substring(pos + 1, end))), end + 1)
      case '_' =>
        require(pos + 1 < line.length && line.charAt(pos + 1) == ':', s"bad bnode in: $line")
        var end = pos + 2
        while (end < line.length && !Character.isWhitespace(line.charAt(end))) end += 1
        (QValue.BNode(line.substring(pos + 2, end)), end)
      case '"' =>
        // find closing unescaped quote
        var end = pos + 1
        var done = false
        while (!done) {
          if (end >= line.length) throw new IllegalArgumentException(s"unterminated literal in: $line")
          val c = line.charAt(end)
          if (c == '\\') end += 2
          else if (c == '"') done = true
          else end += 1
        }
        val lex = NQuadEscape.unescape(line.substring(pos + 1, end))
        val next = end + 1
        if (next < line.length && line.charAt(next) == '@') {
          var e2 = next + 1
          while (e2 < line.length && !Character.isWhitespace(line.charAt(e2))) e2 += 1
          (QValue.LangStr(lex, line.substring(next + 1, e2)), e2)
        } else if (next + 1 < line.length && line.charAt(next) == '^' && line.charAt(next + 1) == '^') {
          require(line.charAt(next + 2) == '<', s"bad datatype in: $line")
          val e2 = line.indexOf('>', next + 2)
          val dt = NQuadEscape.unescape(line.substring(next + 3, e2))
          (typedValue(lex, dt), e2 + 1)
        } else (QValue.Str(lex), next)
      case c =>
        throw new IllegalArgumentException(s"unexpected term start '$c' in: $line")
    }
  }

  def typedValue(lex: String, dt: String): QValue =
    if (XsdInt(dt)) scala.util.Try(QValue.IntV(lex.toLong)).getOrElse(QValue.TypedStr(lex, dt))
    else if (XsdFloat(dt)) scala.util.Try(QValue.FloatV(lex.toDouble)).getOrElse(QValue.TypedStr(lex, dt))
    else if (dt == XsdBool) scala.util.Try(QValue.BoolV(lex.toBoolean)).getOrElse(QValue.TypedStr(lex, dt))
    else if (dt == XsdDateTime)
      scala.util.Try {
        val inst = java.time.OffsetDateTime.parse(lex).toInstant
        QValue.TimeV(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
      }.getOrElse(QValue.TypedStr(lex, dt))
    else QValue.TypedStr(lex, dt)

  /** Parse one line; None for blank lines / comments. */
  def parseLine(line0: String): Option[ParsedQuad] = {
    val line = line0.trim
    if (line.isEmpty || line.startsWith("#")) return None
    val (s, p1) = parseTerm(line, 0)
    val (p, p2) = parseTerm(line, p1)
    val (o, p3) = parseTerm(line, p2)
    var pos = p3
    while (pos < line.length && Character.isWhitespace(line.charAt(pos))) pos += 1
    val label =
      if (pos < line.length && line.charAt(pos) != '.') Some(parseTerm(line, pos)._1)
      else None
    Some(ParsedQuad(s, p, o, label))
  }

  def serialize(q: ParsedQuad): String = {
    val base = s"${q.s.nquads} ${q.p.nquads} ${q.o.nquads}"
    q.l match {
      case Some(l) => s"$base ${l.nquads} ."
      case None    => s"$base ."
    }
  }

  /** Parse an N-Quads term (used for `quad.Raw` semantics: raw strings are
    * parsed into their term kind on resolution, bare words become strings).
    */
  def parseTermOrString(s: String): QValue =
    scala.util.Try(parseTerm(s, 0)._1).getOrElse(QValue.Str(s))
}
