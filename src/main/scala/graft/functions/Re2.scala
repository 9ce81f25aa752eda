package graft.functions

import scala.collection.mutable.ArrayBuffer

/** A true RE2 execution engine: RE2-syntax parser, Thompson-NFA compiler
  * and Pike-VM matcher, replacing `rlike`'s java.util.regex in the regex
  * filter path.
  *
  * Why (reference graph/iterator/regex.go; RE2 = Go's regexp): two
  * observable gaps remained after the plan-time dialect gate
  * ([[Re2Compat]]):
  *   1. Accepted-pattern semantics were still Java's — e.g. POSIX classes
  *      (`[[:digit:]]`) are RE2 syntax but Java literal-chars, `\Z`/`\G`
  *      are Java syntax RE2 rejects, octal escapes differ, Perl classes
  *      are ASCII in RE2 but flag-dependent in Java.
  *   2. java.util.regex backtracks: an adversarial pattern like
  *      `(a|a)*c` over a long run of `a`s is exponential — a real
  *      denial-of-service vector when a user regex filter runs over
  *      100 TB of text. The Pike VM is O(pattern × input) worst case,
  *      RE2's defining guarantee.
  *
  * Scope: boolean unanchored match (Go's `regexp.MatchString`, mirrored
  * by the DuckDB oracle's `regexp_matches`) plus leftmost-first submatch
  * capture ([[Prog.find]], Go's `FindStringSubmatchIndex` — feeds Gizmo's
  * `exec`/`match`/regex `replace`). Surface: literals, `.`,
  * classes (ranges, negation, Perl `\d\s\w`, POSIX `[:alpha:]`, Unicode
  * `\p{L}`/`\pL`/scripts), escapes (`\n`, `\x41`, `\x{10FFFF}`, `\012`,
  * `\Q..\E`), anchors `^ $ \A \z \b \B`, groups (capturing, `(?:`,
  * `(?P<name>`, `(?<name>`), inline flags `i m s U` (set/clear, scoped to
  * the enclosing group, crossing `|` like RE2), alternation, quantifiers
  * `* + ? {n} {n,} {n,m}` with lazy variants. Rejected exactly as RE2
  * rejects: backreferences, lookaround, `\Z`, `\G`, possessive
  * quantifiers, unknown letter escapes, repeat counts > 1000, bare `**`,
  * `[]`.
  */
object Re2 {
  import Re2Compat.Re2SyntaxError

  private def err(msg: String): Nothing = throw Re2SyntaxError(msg)

  // ---------------------------------------------------------------- flags
  private final val FlagI = 1 // case-insensitive
  private final val FlagM = 2 // ^/$ match line boundaries
  private final val FlagS = 4 // . matches \n
  private final val FlagU = 8 // swap greedy/lazy

  // ------------------------------------------------------------ char sets

  /** A code-point set: sorted disjoint ranges + optional Unicode-category
    * predicates, with negation and match-time simple case folding.
    */
  final class CharSet(
      ranges: Array[Int], // lo0,hi0,lo1,hi1,... sorted, disjoint
      preds: Array[Int => Boolean],
      negated: Boolean,
      foldCase: Boolean)
      extends Serializable {

    private def inRanges(cp: Int): Boolean = {
      var lo = 0
      var hi = ranges.length / 2 - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (cp < ranges(2 * mid)) hi = mid - 1
        else if (cp > ranges(2 * mid + 1)) lo = mid + 1
        else return true
      }
      false
    }

    private def inSet(cp: Int): Boolean = {
      if (inRanges(cp)) return true
      var i = 0
      while (i < preds.length) {
        if (preds(i)(cp)) return true
        i += 1
      }
      false
    }

    /** The single non-folded literal code point this set denotes, if that
      * is what it is — feeds the mandatory-literal prescan.
      */
    private[Re2] def singleLiteral: Option[Int] =
      if (!negated && !foldCase && preds.isEmpty &&
        ranges.length == 2 && ranges(0) == ranges(1)) Some(ranges(0))
      else None

    /** Mark the ASCII code points this set can match in `mask`; returns
      * whether it may also match any non-ASCII code point (conservative).
      * Feeds the first-character skip.
      */
    private[Re2] def firstInfo(mask: Array[Boolean]): Boolean = {
      var c = 0
      while (c < 128) {
        if (matches(c)) mask(c) = true
        c += 1
      }
      var hiRange = false
      var i = 1
      while (i < ranges.length) {
        if (ranges(i) >= 128) hiRange = true
        i += 2
      }
      negated || foldCase || preds.nonEmpty || hiRange
    }

    def matches(cp: Int): Boolean = {
      var hit = inSet(cp)
      if (!hit && foldCase) {
        val lo = Character.toLowerCase(cp)
        if (lo != cp && inSet(lo)) hit = true
        else {
          val up = Character.toUpperCase(cp)
          if (up != cp && inSet(up)) hit = true
          else {
            val ti = Character.toTitleCase(cp)
            if (ti != cp && inSet(ti)) hit = true
          }
        }
      }
      if (negated) !hit else hit
    }
  }

  private object CharSet {
    val AnyAll = new CharSet(Array(0, 0x10ffff), Array.empty, negated = false, foldCase = false)
    val AnyNoNl = new CharSet(Array('\n'.toInt, '\n'.toInt), Array.empty, negated = true, foldCase = false)
    def single(cp: Int, fold: Boolean): CharSet =
      new CharSet(Array(cp, cp), Array.empty, negated = false, fold)
    def of(rs: ArrayBuffer[(Int, Int)],
           ps: ArrayBuffer[Int => Boolean],
           neg: Boolean,
           fold: Boolean): CharSet = {
      val sorted = rs.sortBy(_._1)
      val merged = ArrayBuffer.empty[(Int, Int)]
      for ((lo, hi) <- sorted) {
        if (merged.nonEmpty && lo <= merged.last._2 + 1) {
          val (plo, phi) = merged.last
          merged(merged.length - 1) = (plo, math.max(phi, hi))
        } else merged += ((lo, hi))
      }
      val flat = new Array[Int](merged.length * 2)
      var i = 0
      while (i < merged.length) {
        flat(2 * i) = merged(i)._1; flat(2 * i + 1) = merged(i)._2; i += 1
      }
      new CharSet(flat, ps.toArray, neg, fold)
    }
  }

  // RE2's Perl classes are ASCII-only (Go regexp/syntax/perl_groups.go):
  // \d=[0-9] \s=[\t\n\f\r ] \w=[0-9A-Za-z_]
  private def perlRanges(c: Char): Seq[(Int, Int)] = c match {
    case 'd' => Seq((0x30, 0x39))
    case 's' => Seq((0x09, 0x0a), (0x0c, 0x0d), (0x20, 0x20))
    case 'w' => Seq((0x30, 0x39), (0x41, 0x5a), (0x5f, 0x5f), (0x61, 0x7a))
    case _   => err(s"unknown perl class \\$c")
  }

  private def complement(pr: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var prev = 0
    for ((lo, hi) <- pr.sortBy(_._1)) {
      if (lo > prev) out += ((prev, lo - 1))
      prev = hi + 1
    }
    if (prev <= 0x10ffff) out += ((prev, 0x10ffff))
    out.toSeq
  }

  private def posixRanges(name: String): Seq[(Int, Int)] = name match {
    case "alnum"  => Seq((0x30, 0x39), (0x41, 0x5a), (0x61, 0x7a))
    case "alpha"  => Seq((0x41, 0x5a), (0x61, 0x7a))
    case "ascii"  => Seq((0x00, 0x7f))
    case "blank"  => Seq((0x09, 0x09), (0x20, 0x20))
    case "cntrl"  => Seq((0x00, 0x1f), (0x7f, 0x7f))
    case "digit"  => Seq((0x30, 0x39))
    case "graph"  => Seq((0x21, 0x7e))
    case "lower"  => Seq((0x61, 0x7a))
    case "print"  => Seq((0x20, 0x7e))
    case "punct"  => Seq((0x21, 0x2f), (0x3a, 0x40), (0x5b, 0x60), (0x7b, 0x7e))
    case "space"  => Seq((0x09, 0x0d), (0x20, 0x20))
    case "upper"  => Seq((0x41, 0x5a))
    case "word"   => Seq((0x30, 0x39), (0x41, 0x5a), (0x5f, 0x5f), (0x61, 0x7a))
    case "xdigit" => Seq((0x30, 0x39), (0x41, 0x46), (0x61, 0x66))
    case other    => err(s"invalid character class range: [:$other:]")
  }

  /** Unicode class predicate for `\p{Name}`: one/two-letter general
    * categories via Character.getType, otherwise a script via
    * Character.UnicodeScript (RE2 supports both namespaces).
    */
  private def unicodePred(name: String): Int => Boolean = {
    import Character._
    val catMask: Map[String, Int] = Map(
      "Lu" -> (1 << UPPERCASE_LETTER), "Ll" -> (1 << LOWERCASE_LETTER),
      "Lt" -> (1 << TITLECASE_LETTER), "Lm" -> (1 << MODIFIER_LETTER),
      "Lo" -> (1 << OTHER_LETTER),
      "Mn" -> (1 << NON_SPACING_MARK), "Mc" -> (1 << COMBINING_SPACING_MARK),
      "Me" -> (1 << ENCLOSING_MARK),
      "Nd" -> (1 << DECIMAL_DIGIT_NUMBER), "Nl" -> (1 << LETTER_NUMBER),
      "No" -> (1 << OTHER_NUMBER),
      "Pc" -> (1 << CONNECTOR_PUNCTUATION), "Pd" -> (1 << DASH_PUNCTUATION),
      "Ps" -> (1 << START_PUNCTUATION), "Pe" -> (1 << END_PUNCTUATION),
      "Pi" -> (1 << INITIAL_QUOTE_PUNCTUATION), "Pf" -> (1 << FINAL_QUOTE_PUNCTUATION),
      "Po" -> (1 << OTHER_PUNCTUATION),
      "Sm" -> (1 << MATH_SYMBOL), "Sc" -> (1 << CURRENCY_SYMBOL),
      "Sk" -> (1 << MODIFIER_SYMBOL), "So" -> (1 << OTHER_SYMBOL),
      "Zs" -> (1 << SPACE_SEPARATOR), "Zl" -> (1 << LINE_SEPARATOR),
      "Zp" -> (1 << PARAGRAPH_SEPARATOR),
      "Cc" -> (1 << CONTROL), "Cf" -> (1 << FORMAT),
      "Co" -> (1 << PRIVATE_USE), "Cs" -> (1 << SURROGATE.toInt),
      "Cn" -> (1 << UNASSIGNED)
    )
    name match {
      case "Any" => (_: Int) => true
      case n if n.length == 1 =>
        val mask = catMask.collect { case (k, m) if k.startsWith(n) => m }
          .foldLeft(0)(_ | _)
        if (mask == 0) err(s"invalid character class range: \\p{$n}")
        cp => (mask & (1 << Character.getType(cp))) != 0
      case n if catMask.contains(n) =>
        val mask = catMask(n)
        cp => (mask & (1 << Character.getType(cp))) != 0
      case n =>
        val script =
          try Character.UnicodeScript.forName(n)
          catch {
            case _: IllegalArgumentException =>
              err(s"invalid character class range: \\p{$n}")
          }
        cp => Character.UnicodeScript.of(cp) == script
    }
  }

  // ------------------------------------------------------------------ AST
  private sealed trait Ast
  private case object EmptyA extends Ast
  private final case class ChrA(set: CharSet) extends Ast
  private final case class CatA(xs: List[Ast]) extends Ast
  private final case class AltA(xs: List[Ast]) extends Ast
  private final case class StarA(x: Ast, greedy: Boolean) extends Ast
  private final case class PlusA(x: Ast, greedy: Boolean) extends Ast
  private final case class QuestA(x: Ast, greedy: Boolean) extends Ast
  private final case class RepA(x: Ast, min: Int, max: Int, greedy: Boolean) extends Ast
  private final case class AssertA(kind: Int) extends Ast
  /** Capturing group `idx` (1-based; 0 is the whole match). */
  private final case class GroupA(idx: Int, x: Ast) extends Ast

  // assertion kinds
  private final val ABot = 0 // \A, or ^ without m
  private final val AEot = 1 // \z, or $ without m
  private final val ABol = 2 // ^ with m
  private final val AEol = 3 // $ with m
  private final val AWb = 4 // \b
  private final val ANwb = 5 // \B

  // --------------------------------------------------------------- parser
  private final class Parser(pat: String) {
    private var pos = 0
    private val n = pat.length
    /** Capture groups, numbered by '(' position like RE2. */
    private[Re2] var ngroups = 0
    private[Re2] val groupNames =
      scala.collection.mutable.Map.empty[Int, String]

    private def next(): Int = {
      val c = pat.codePointAt(pos); pos += Character.charCount(c); c
    }
    private def more: Boolean = pos < n
    private def eat(c: Char): Boolean =
      if (more && pat.charAt(pos) == c) { pos += 1; true } else false

    def parse(): Ast = {
      val a = alternation(0)
      if (more) err(s"unexpected ): `$pat`")
      a
    }

    /** Alternation; inline `(?flags)` persists across `|` within the
      * enclosing group (RE2 scoping), hence the threaded flags.
      */
    private def alternation(flags0: Int): Ast = {
      var flags = flags0
      val alts = ArrayBuffer.empty[Ast]
      val (a0, f0) = concat(flags)
      alts += a0; flags = f0
      while (more && pat.charAt(pos) == '|') {
        pos += 1
        val (a, f) = concat(flags)
        alts += a; flags = f
      }
      if (alts.length == 1) alts.head else AltA(alts.toList)
    }

    /** One alternation branch. Returns (ast, flags-after) so `(?i)`
      * mid-branch carries into following branches.
      */
    private def concat(flags0: Int): (Ast, Int) = {
      var flags = flags0
      val terms = ArrayBuffer.empty[Ast]
      var lastRepeatable = false
      def addQuant(c: Char): Unit = {
        if (terms.isEmpty || !lastRepeatable)
          err(s"missing argument to repetition operator: `$c`")
        val greedy0 = !eat('?')
        if (more && (pat.charAt(pos) == '*' || pat.charAt(pos) == '+'))
          err(s"invalid nested repetition operator: `$c${pat.charAt(pos)}`")
        val greedy = if ((flags & FlagU) != 0) !greedy0 else greedy0
        val last = terms.remove(terms.length - 1)
        terms += (c match {
          case '*' => StarA(last, greedy)
          case '+' => PlusA(last, greedy)
          case '?' => QuestA(last, greedy)
        })
        lastRepeatable = false
      }
      while (more && pat.charAt(pos) != '|' && pat.charAt(pos) != ')') {
        val c = pat.charAt(pos)
        c match {
          case '*' | '+' | '?' =>
            pos += 1
            addQuant(c)
          case '{' =>
            parseRepeatCount() match {
              case None =>
                pos += 1
                terms += ChrA(CharSet.single('{', (flags & FlagI) != 0))
                lastRepeatable = true
              case Some((min, max)) =>
                // Go checks range before missing-argument (parse.go):
                // min/max == -1/-2 are parseInt's overflow sentinels.
                if (min < 0 || max == -2 || min > 1000 || max > 1000)
                  err(s"invalid repeat count")
                if (max != -1 && max < min)
                  err(s"invalid repeat count")
                if (terms.isEmpty || !lastRepeatable)
                  err("missing argument to repetition operator: `{`")
                val greedy0 = !eat('?')
                val greedy = if ((flags & FlagU) != 0) !greedy0 else greedy0
                val last = terms.remove(terms.length - 1)
                terms += RepA(last, min, max, greedy)
                lastRepeatable = false
            }
          case '(' =>
            pos += 1
            if (more && pat.charAt(pos) == '?') {
              pos += 1
              if (more && (pat.charAt(pos) == 'P' || pat.charAt(pos) == '<')) {
                if (pat.charAt(pos) == 'P') pos += 1
                if (!more || pat.charAt(pos) != '<')
                  err("invalid named capture group")
                pos += 1
                if (more && (pat.charAt(pos) == '=' || pat.charAt(pos) == '!'))
                  err("invalid or unsupported Perl syntax: lookbehind")
                val end = pat.indexOf('>', pos)
                if (end < 0) err("invalid named capture group")
                val name = pat.substring(pos, end)
                if (name.isEmpty || !name.forall(ch => ch.isLetterOrDigit || ch == '_'))
                  err(s"invalid named capture group: `$name`")
                if (groupNames.valuesIterator.contains(name))
                  err(s"duplicate capture group name: `$name`")
                pos = end + 1
                ngroups += 1
                val idx = ngroups // numbered at '(', before the body parses
                groupNames(idx) = name
                val inner = alternation(flags)
                if (!eat(')')) err("missing closing )")
                terms += GroupA(idx, inner)
                lastRepeatable = true
              } else if (more && (pat.charAt(pos) == '=' || pat.charAt(pos) == '!')) {
                err("invalid or unsupported Perl syntax: lookahead")
              } else {
                var set = 0; var clear = 0; var neg = false
                var done = false
                while (more && !done) {
                  pat.charAt(pos) match {
                    case 'i' => if (neg) clear |= FlagI else set |= FlagI; pos += 1
                    case 'm' => if (neg) clear |= FlagM else set |= FlagM; pos += 1
                    case 's' => if (neg) clear |= FlagS else set |= FlagS; pos += 1
                    case 'U' => if (neg) clear |= FlagU else set |= FlagU; pos += 1
                    case '-' =>
                      if (neg) err("invalid or unsupported Perl syntax")
                      neg = true; pos += 1
                    case ':' | ')' => done = true
                    case other =>
                      err(s"invalid or unsupported Perl syntax: `(?$other`")
                  }
                }
                if (!more) err("missing closing )")
                if (neg && clear == 0) err("invalid or unsupported Perl syntax: `(?-`")
                if (pat.charAt(pos) == ':') {
                  pos += 1
                  val inner = alternation((flags | set) & ~clear)
                  if (!eat(')')) err("missing closing )")
                  terms += inner
                  lastRepeatable = true
                } else {
                  pos += 1 // ')'
                  flags = (flags | set) & ~clear
                  lastRepeatable = false
                }
              }
            } else {
              ngroups += 1
              val idx = ngroups
              val inner = alternation(flags)
              if (!eat(')')) err("missing closing )")
              terms += GroupA(idx, inner)
              lastRepeatable = true
            }
          case '[' =>
            pos += 1
            terms += ChrA(parseClass(flags))
            lastRepeatable = true
          case '^' =>
            pos += 1
            terms += AssertA(if ((flags & FlagM) != 0) ABol else ABot)
            lastRepeatable = false
          case '$' =>
            pos += 1
            terms += AssertA(if ((flags & FlagM) != 0) AEol else AEot)
            lastRepeatable = false
          case '.' =>
            pos += 1
            terms += ChrA(if ((flags & FlagS) != 0) CharSet.AnyAll else CharSet.AnyNoNl)
            lastRepeatable = true
          case '\\' =>
            val a = parseEscape(flags)
            terms += a
            lastRepeatable = a match {
              case AssertA(_) => false
              case _          => true
            }
          case _ =>
            val cp = next()
            terms += ChrA(CharSet.single(cp, (flags & FlagI) != 0))
            lastRepeatable = true
        }
      }
      val ast = terms.length match {
        case 0 => EmptyA
        case 1 => terms.head
        case _ => CatA(terms.toList)
      }
      (ast, flags)
    }

    /** `{m}` / `{m,}` / `{m,n}` lookahead at a '{'; None = literal brace
      * (RE2 treats a non-count `{` as a literal). Mirrors Go's
      * regexp/syntax parseInt: a leading-zero digit run is NOT a count
      * (literal brace), while an overflowing count (>= 1e8 while
      * accumulating) IS a count that the caller must reject with
      * "invalid repeat count" — signalled here as -1 (min) / -2 (max).
      */
    private def parseRepeatCount(): Option[(Int, Int)] = {
      var p = pos + 1
      // Go parseInt: None = not a count; Some(-1) = overflowed count.
      def parseIntAt(): Option[Int] = {
        val start = p
        while (p < n && pat.charAt(p).isDigit) p += 1
        if (p == start) return None
        if (p - start >= 2 && pat.charAt(start) == '0') return None
        var v = 0; var i = start
        while (i < p && v < 100000000) { v = v * 10 + (pat.charAt(i) - '0'); i += 1 }
        Some(if (i < p || v >= 100000000) -1 else v)
      }
      val min = parseIntAt() match {
        case None => return None
        case Some(v) => v
      }
      if (p >= n) return None
      pat.charAt(p) match {
        case '}' =>
          pos = p + 1; Some((min, min))
        case ',' =>
          p += 1
          if (p < n && pat.charAt(p) == '}') { pos = p + 1; return Some((min, -1)) }
          parseIntAt() match {
            case None => None
            case Some(mx) =>
              if (p >= n || pat.charAt(p) != '}') None
              else { pos = p + 1; Some((min, if (mx == -1) -2 else mx)) }
          }
        case _ => None
      }
    }

    /** One escape outside a class → AST node (char, class or assertion). */
    private def parseEscape(flags: Int): Ast = {
      pos += 1 // '\'
      if (!more) err("trailing backslash at end of expression")
      val fold = (flags & FlagI) != 0
      val c = pat.charAt(pos)
      c match {
        case 'A' => pos += 1; AssertA(ABot)
        case 'z' => pos += 1; AssertA(AEot)
        case 'b' => pos += 1; AssertA(AWb)
        case 'B' => pos += 1; AssertA(ANwb)
        case 'Q' =>
          pos += 1
          val end = pat.indexOf("\\E", pos)
          val lit = if (end < 0) pat.substring(pos) else pat.substring(pos, end)
          pos = if (end < 0) n else end + 2
          val chars = ArrayBuffer.empty[Ast]
          var i = 0
          while (i < lit.length) {
            val cp = lit.codePointAt(i)
            chars += ChrA(CharSet.single(cp, fold))
            i += Character.charCount(cp)
          }
          if (chars.isEmpty) EmptyA
          else if (chars.length == 1) chars.head
          else CatA(chars.toList)
        case 'd' | 's' | 'w' =>
          pos += 1
          ChrA(CharSet.of(ArrayBuffer(perlRanges(c): _*), ArrayBuffer.empty,
            neg = false, fold = false))
        case 'D' | 'S' | 'W' =>
          pos += 1
          ChrA(CharSet.of(ArrayBuffer(perlRanges(c.toLower): _*), ArrayBuffer.empty,
            neg = true, fold = false))
        case 'p' | 'P' =>
          ChrA(parseUnicodeClass(neg = c == 'P'))
        case _ =>
          ChrA(CharSet.single(parseEscapedCp(), fold))
      }
    }

    /** `\p{Name}` / `\pL` (pos at 'p'/'P'). */
    private def parseUnicodeClass(neg: Boolean): CharSet = {
      pos += 1
      if (!more) err("invalid character class range: \\p")
      val name =
        if (pat.charAt(pos) == '{') {
          val end = pat.indexOf('}', pos)
          if (end < 0) err("invalid character class range: \\p{")
          val s = pat.substring(pos + 1, end)
          pos = end + 1
          s
        } else {
          val s = pat.charAt(pos).toString
          pos += 1
          s
        }
      val (nm, negInner) =
        if (name.startsWith("^")) (name.substring(1), true) else (name, false)
      new CharSet(Array.empty, Array(unicodePred(nm)), negated = neg ^ negInner,
        foldCase = false)
    }

    /** An escape denoting a single code point; pos at the char after '\'.
      * RE2 rules: octal needs a leading 0; `\1`..`\9` are backreference
      * errors; unknown letter escapes (incl. Java's `\Z`, `\G`, `\k`) are
      * errors; escaped punctuation is literal.
      */
    private def parseEscapedCp(): Int = {
      val c = pat.charAt(pos)
      c match {
        case 'a' => pos += 1; 0x07
        case 'f' => pos += 1; 0x0c
        case 't' => pos += 1; 0x09
        case 'n' => pos += 1; 0x0a
        case 'r' => pos += 1; 0x0d
        case 'v' => pos += 1; 0x0b
        case d if d >= '0' && d <= '7' =>
          // Go's octal rule (regexp/syntax/parse.go): a leading 0 or a
          // nonzero digit FOLLOWED by another octal digit is octal (≤3
          // digits); a lone nonzero digit is a backreference → error
          if (d != '0' &&
            !(pos + 1 < n && pat.charAt(pos + 1) >= '0' && pat.charAt(pos + 1) <= '7'))
            err(s"invalid escape sequence: \\$d (RE2 does not support backreferences)")
          var v = 0; var k = 0
          while (more && k < 3 && pat.charAt(pos) >= '0' && pat.charAt(pos) <= '7') {
            v = v * 8 + (pat.charAt(pos) - '0'); pos += 1; k += 1
          }
          v
        case d if d.isDigit =>
          err(s"invalid escape sequence: \\$d (RE2 does not support backreferences)")
        case 'x' =>
          pos += 1
          if (more && pat.charAt(pos) == '{') {
            val end = pat.indexOf('}', pos)
            if (end < 0) err("invalid escape sequence: \\x{")
            val hex = pat.substring(pos + 1, end)
            pos = end + 1
            val v =
              try Integer.parseInt(hex, 16)
              catch { case _: NumberFormatException => err(s"invalid escape sequence: \\x{$hex}") }
            if (v < 0 || v > 0x10ffff) err(s"invalid escape sequence: \\x{$hex}")
            v
          } else {
            if (pos + 2 > n) err("invalid escape sequence: \\x")
            val hex = pat.substring(pos, pos + 2)
            val v =
              try Integer.parseInt(hex, 16)
              catch { case _: NumberFormatException => err(s"invalid escape sequence: \\x$hex") }
            pos += 2
            v
          }
        case l if l.isLetter =>
          err(s"invalid escape sequence: \\$l")
        case _ =>
          next()
      }
    }

    /** `[...]` class body; pos just past '['. A leading `]` closes the
      * (empty) class, which errors — Go's behavior for `[]a]`.
      */
    private def parseClass(flags: Int): CharSet = {
      val fold = (flags & FlagI) != 0
      val neg = eat('^')
      val rs = ArrayBuffer.empty[(Int, Int)]
      val ps = ArrayBuffer.empty[Int => Boolean]
      var closed = false

      def rangeFrom(lo: Int): Unit = {
        if (more && pat.charAt(pos) == '-' && pos + 1 < n && pat.charAt(pos + 1) != ']') {
          pos += 1
          val hi =
            if (pat.charAt(pos) == '\\') { pos += 1; parseEscapedCp() }
            else next()
          if (hi < lo) err("invalid character class range")
          rs += ((lo, hi))
        } else rs += ((lo, lo))
      }

      while (more && !closed) {
        val c = pat.charAt(pos)
        if (c == ']') {
          pos += 1; closed = true
        } else if (c == '[' && pos + 1 < n && pat.charAt(pos + 1) == ':') {
          val end = pat.indexOf(":]", pos + 2)
          if (end < 0) {
            pos += 1
            rangeFrom('['.toInt)
          } else {
            var nm = pat.substring(pos + 2, end)
            pos = end + 2
            val inv = nm.startsWith("^")
            if (inv) nm = nm.substring(1)
            val pr = posixRanges(nm)
            rs ++= (if (inv) complement(pr) else pr)
          }
        } else if (c == '\\') {
          pos += 1
          if (!more) err("trailing backslash at end of expression")
          val e = pat.charAt(pos)
          e match {
            case 'd' | 's' | 'w' =>
              pos += 1; rs ++= perlRanges(e)
            case 'D' | 'S' | 'W' =>
              pos += 1; rs ++= complement(perlRanges(e.toLower))
            case 'p' | 'P' =>
              val cs = parseUnicodeClass(neg = e == 'P')
              ps += ((cp: Int) => cs.matches(cp))
            case _ =>
              rangeFrom(parseEscapedCp())
          }
        } else {
          rangeFrom(next())
        }
      }
      if (!closed) err("missing closing ]")
      if (rs.isEmpty && ps.isEmpty) err("missing closing ]") // Go: `[]` / `[]a]`
      CharSet.of(rs, ps, neg, fold)
    }
  }

  // ------------------------------------------------------------- compiler
  private final val OpChar = 0 // a1 = CharSet index
  private final val OpSplit = 1 // a1, a2 = targets
  private final val OpJmp = 2 // a1 = target
  private final val OpAssert = 3 // a1 = assertion kind
  private final val OpMatch = 4
  private final val OpSave = 5 // a1 = capture slot (2*group / 2*group+1)

  /** Capture-group wrappers do not affect the matched TEXT — strip them
    * so the mandatory-literal prescan sees `a(b)c` as the literal "abc",
    * not three length-1 fragments.
    */
  private def stripGroups(ast: Ast): Ast = ast match {
    case GroupA(_, x)       => stripGroups(x)
    case CatA(xs)           => CatA(xs.map(stripGroups))
    case AltA(xs)           => AltA(xs.map(stripGroups))
    case StarA(x, g)        => StarA(stripGroups(x), g)
    case PlusA(x, g)        => PlusA(stripGroups(x), g)
    case QuestA(x, g)       => QuestA(stripGroups(x), g)
    case RepA(x, mn, mx, g) => RepA(stripGroups(x), mn, mx, g)
    case other              => other
  }

  /** Longest literal substring every match must contain (RE2 computes
    * required prefixes the same way): concatenation accumulates adjacent
    * single-literal chars; a repetition with min ≥ 1 requires its body's
    * literal; alternation and optional parts guarantee nothing.
    */
  private def mandatoryLiteral(ast: Ast): String = ast match {
    case ChrA(cs) => cs.singleLiteral
        .map(cp => new String(Character.toChars(cp))).getOrElse("")
    case CatA(xs) =>
      var best = ""
      val cur = new StringBuilder
      def flush(): Unit = {
        if (cur.length > best.length) best = cur.toString
        cur.clear()
      }
      xs.foreach {
        case ChrA(cs) if cs.singleLiteral.isDefined =>
          cur.appendAll(Character.toChars(cs.singleLiteral.get))
        case AssertA(_) => // zero-width: does not break adjacency
        case other =>
          flush()
          val m = mandatoryLiteral(other)
          if (m.length > best.length) best = m
      }
      flush()
      best
    case PlusA(x, _)                   => mandatoryLiteral(x)
    case RepA(x, min, _, _) if min > 0 => mandatoryLiteral(x)
    case _                             => ""
  }

  /** Compiled program. Immutable; share freely across partitions. */
  final class Prog private[Re2] (
      private val ops: Array[Int],
      private val a1: Array[Int],
      private val a2: Array[Int],
      private val sets: Array[CharSet],
      private val required: String,
      private val ncap: Int,
      private val names: Array[String])
      extends Serializable {

    /** Number of capture groups (not counting group 0, the whole match). */
    def groupCount: Int = ncap

    /** Name of capture group `i` (1-based), or null if unnamed. */
    def groupName(i: Int): String =
      if (names != null && i >= 0 && i < names.length) names(i) else null

    private def isWord(cp: Int): Boolean =
      (cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= 'a' && cp <= 'z') || cp == '_'

    /** Code points a match can start with: union of the char sets
      * reachable from pc 0 through epsilon ops (assertions treated as
      * passable — conservative). When no threads are live, the VM skips
      * straight to the next position whose char is in this set. `null`
      * mask = any char can start (e.g. a leading `.*`), skip disabled.
      */
    @transient private lazy val (firstAscii, firstNonAscii) = {
      val mask = new Array[Boolean](128)
      var nonAscii = false
      var anyStart = false // OpMatch reachable at start: every position "starts"
      val seen = new Array[Boolean](ops.length)
      var stack = List(0)
      while (stack.nonEmpty) {
        val pc = stack.head
        stack = stack.tail
        if (!seen(pc)) {
          seen(pc) = true
          (ops(pc): @annotation.switch) match {
            case OpJmp    => stack = a1(pc) :: stack
            case OpSplit  => stack = a1(pc) :: a2(pc) :: stack
            case OpAssert => stack = (pc + 1) :: stack
            case OpSave   => stack = (pc + 1) :: stack
            case OpChar =>
              if (sets(a1(pc)).firstInfo(mask)) nonAscii = true
            case _ => anyStart = true
          }
        }
      }
      if (anyStart) (null: Array[Boolean], true) else (mask, nonAscii)
    }

    private def canStart(cp: Int): Boolean =
      if (firstAscii == null) true
      else if (cp < 128) firstAscii(cp)
      else firstNonAscii

    /** Unanchored boolean match (Go regexp.MatchString semantics), Pike
      * VM: O(|input| × |prog|) worst case, no backtracking ever.
      */
    def matches(s: String): Boolean = {
      // prescan: a row that lacks the mandatory literal cannot match —
      // one intrinsified indexOf instead of a VM run (the common case
      // for selective filters over large corpora)
      if (required.length > 0 && s.indexOf(required) < 0) return false
      val np = ops.length
      val mark = new Array[Int](np)
      java.util.Arrays.fill(mark, 0)
      // pushes bounded: ≤2 per split + 1 per jmp/assert + seeds, per step
      val stack = new Array[Int](2 * np + 4)
      var clist = new Array[Int](np)
      var nlist = new Array[Int](np)
      var clen = 0
      var gen = 0

      def add(list: Array[Int], len0: Int, pc0: Int, prev: Int, cur: Int): Int = {
        var len = len0
        var sp = 0
        stack(sp) = pc0; sp += 1
        while (sp > 0) {
          sp -= 1
          val pc = stack(sp)
          if (mark(pc) != gen) {
            mark(pc) = gen
            (ops(pc): @annotation.switch) match {
              case OpJmp =>
                stack(sp) = a1(pc); sp += 1
              case OpSplit =>
                stack(sp) = a2(pc); sp += 1
                stack(sp) = a1(pc); sp += 1
              case OpSave => // boolean match: captures are pass-through
                stack(sp) = pc + 1; sp += 1
              case OpAssert =>
                val ok = (a1(pc): @annotation.switch) match {
                  case ABot => prev == -1
                  case AEot => cur == -1
                  case ABol => prev == -1 || prev == '\n'.toInt
                  case AEol => cur == -1 || cur == '\n'.toInt
                  case AWb  => isWord(prev) != isWord(cur)
                  case _    => isWord(prev) == isWord(cur)
                }
                if (ok) { stack(sp) = pc + 1; sp += 1 }
              case _ =>
                list(len) = pc; len += 1
            }
          }
        }
        len
      }

      val slen = s.length
      var i = 0
      var prev = -1
      var cur = if (slen == 0) -1 else s.codePointAt(0)
      gen += 1
      clen = add(clist, 0, 0, prev, cur)
      while (true) {
        var k = 0
        while (k < clen) {
          if (ops(clist(k)) == OpMatch) return true
          k += 1
        }
        if (cur == -1) return false
        val nxt = {
          val ni = i + Character.charCount(cur)
          if (ni >= slen) -1 else s.codePointAt(ni)
        }
        gen += 1
        var nlen = 0
        k = 0
        while (k < clen) {
          val pc = clist(k)
          if (ops(pc) == OpChar && sets(a1(pc)).matches(cur))
            nlen = add(nlist, nlen, pc + 1, cur, nxt)
          k += 1
        }
        val tmp = clist; clist = nlist; nlist = tmp
        clen = nlen
        i += Character.charCount(cur)
        prev = cur
        cur = nxt
        if (clen == 0) {
          // no live threads: skip to the next char a match can start with
          while (cur != -1 && !canStart(cur)) {
            i += Character.charCount(cur)
            prev = cur
            cur = if (i >= slen) -1 else s.codePointAt(i)
          }
          // marks from the abandoned position must not suppress the seed
          gen += 1
        }
        // unanchored search: a fresh attempt starts at every position
        clen = add(clist, clen, 0, prev, cur)
      }
      false
    }

    /** Leftmost-first submatch search from `from` (Go
      * `FindStringSubmatchIndex` semantics, which JS exec shares). Returns
      * the slot array `[m0s, m0e, g1s, g1e, …]` in Java char indices with
      * -1 for unset groups, or null when there is no match. Same Pike VM
      * as [[matches]] — O(input × prog) — with threads carrying capture
      * slots, copied on write at each OpSave (slot arrays are small; a
      * thread forks its captures only when it actually records one).
      */
    def find(s: String, from: Int): Array[Int] = {
      if (required.length > 0 && s.indexOf(required, from) < 0) return null
      val np = ops.length
      val nslots = 2 * (ncap + 1)
      val mark = new Array[Int](np)
      val stackPc = new Array[Int](2 * np + 4)
      val stackCaps = new Array[Array[Int]](2 * np + 4)
      var clistPc = new Array[Int](np)
      var clistCaps = new Array[Array[Int]](np)
      var nlistPc = new Array[Int](np)
      var nlistCaps = new Array[Array[Int]](np)
      var clen = 0
      var gen = 0
      var matched: Array[Int] = null

      // `pos` is the string index a thread stands at (where an OpSave
      // records); `prev`/`cur` drive assertions exactly like matches()
      def add(listPc: Array[Int], listCaps: Array[Array[Int]], len0: Int,
              pc0: Int, caps0: Array[Int], pos: Int,
              prev: Int, cur: Int): Int = {
        var len = len0
        var sp = 0
        stackPc(sp) = pc0; stackCaps(sp) = caps0; sp += 1
        while (sp > 0) {
          sp -= 1
          val pc = stackPc(sp)
          val caps = stackCaps(sp)
          if (mark(pc) != gen) {
            mark(pc) = gen
            (ops(pc): @annotation.switch) match {
              case OpJmp =>
                stackPc(sp) = a1(pc); stackCaps(sp) = caps; sp += 1
              case OpSplit =>
                stackPc(sp) = a2(pc); stackCaps(sp) = caps; sp += 1
                stackPc(sp) = a1(pc); stackCaps(sp) = caps; sp += 1
              case OpSave =>
                val nc = caps.clone(); nc(a1(pc)) = pos
                stackPc(sp) = pc + 1; stackCaps(sp) = nc; sp += 1
              case OpAssert =>
                val ok = (a1(pc): @annotation.switch) match {
                  case ABot => prev == -1
                  case AEot => cur == -1
                  case ABol => prev == -1 || prev == '\n'.toInt
                  case AEol => cur == -1 || cur == '\n'.toInt
                  case AWb  => isWord(prev) != isWord(cur)
                  case _    => isWord(prev) == isWord(cur)
                }
                if (ok) { stackPc(sp) = pc + 1; stackCaps(sp) = caps; sp += 1 }
              case _ =>
                listPc(len) = pc; listCaps(len) = caps; len += 1
            }
          }
        }
        len
      }

      val slen = s.length
      var i = math.max(0, math.min(from, slen))
      var prev = if (i == 0) -1 else s.codePointBefore(i)
      var cur = if (i >= slen) -1 else s.codePointAt(i)
      gen += 1
      clen = add(clistPc, clistCaps, 0, 0,
        Array.fill(nslots)(-1), i, prev, cur)
      while (true) {
        val ni = if (cur == -1) i else i + Character.charCount(cur)
        val nxt = if (cur == -1) -1 else if (ni >= slen) -1 else s.codePointAt(ni)
        gen += 1
        var nlen = 0
        var k = 0
        var cut = false
        while (k < clen && !cut) {
          val pc = clistPc(k)
          if (ops(pc) == OpMatch) {
            // leftmost-first: this is the best match reachable from the
            // still-live HIGHER-priority threads' failure — record it and
            // cut every lower-priority thread at this position
            matched = clistCaps(k)
            cut = true
          } else if (ops(pc) == OpChar && cur != -1 &&
            sets(a1(pc)).matches(cur))
            nlen = add(nlistPc, nlistCaps, nlen, pc + 1, clistCaps(k),
              ni, cur, nxt)
          k += 1
        }
        if (cur == -1) return matched
        val t = clistPc; clistPc = nlistPc; nlistPc = t
        val tc = clistCaps; clistCaps = nlistCaps; nlistCaps = tc
        clen = nlen
        i = ni; prev = cur; cur = nxt
        if (matched != null) {
          // no new attempts may start right of a found match
          if (clen == 0) return matched
        } else {
          if (clen == 0) {
            while (cur != -1 && !canStart(cur)) {
              i += Character.charCount(cur)
              prev = cur
              cur = if (i >= slen) -1 else s.codePointAt(i)
            }
            gen += 1
          }
          clen = add(clistPc, clistCaps, clen, 0,
            Array.fill(nslots)(-1), i, prev, cur)
        }
      }
      matched
    }
  }

  private final class Compiler {
    private val ops = ArrayBuffer.empty[Int]
    private val a1 = ArrayBuffer.empty[Int]
    private val a2 = ArrayBuffer.empty[Int]
    private val sets = ArrayBuffer.empty[CharSet]
    private final val MaxProg = 100000 // RE2-style program size cap

    private def emit(op: Int, x: Int = 0, y: Int = 0): Int = {
      if (ops.length >= MaxProg) err("expression too large")
      ops += op; a1 += x; a2 += y
      ops.length - 1
    }

    private def setIdx(cs: CharSet): Int = { sets += cs; sets.length - 1 }

    /** Emit `ast`; control falls through to the next instruction. */
    private def comp(ast: Ast): Unit = ast match {
      case EmptyA     => ()
      case ChrA(cs)   => emit(OpChar, setIdx(cs))
      case AssertA(k) => emit(OpAssert, k)
      case GroupA(idx, x) =>
        emit(OpSave, 2 * idx)
        comp(x)
        emit(OpSave, 2 * idx + 1)
      case CatA(xs)   => xs.foreach(comp)
      case AltA(xs) =>
        val jmps = ArrayBuffer.empty[Int]
        var i = 0
        while (i < xs.length) {
          if (i == xs.length - 1) comp(xs(i))
          else {
            val sp = emit(OpSplit)
            a1(sp) = ops.length
            comp(xs(i))
            jmps += emit(OpJmp)
            a2(sp) = ops.length
          }
          i += 1
        }
        jmps.foreach(j => a1(j) = ops.length)
      case StarA(x, greedy) =>
        val sp = emit(OpSplit)
        val body = ops.length
        comp(x)
        val j = emit(OpJmp); a1(j) = sp
        val after = ops.length
        if (greedy) { a1(sp) = body; a2(sp) = after }
        else { a1(sp) = after; a2(sp) = body }
      case PlusA(x, greedy) =>
        val body = ops.length
        comp(x)
        val sp = emit(OpSplit)
        val after = ops.length
        if (greedy) { a1(sp) = body; a2(sp) = after }
        else { a1(sp) = after; a2(sp) = body }
      case QuestA(x, greedy) =>
        val sp = emit(OpSplit)
        val body = ops.length
        comp(x)
        val after = ops.length
        if (greedy) { a1(sp) = body; a2(sp) = after }
        else { a1(sp) = after; a2(sp) = body }
      case RepA(x, min, max, greedy) =>
        // expansion, as RE2 does: x{2,4} → x x (x (x)?)?
        var i = 0
        while (i < min) { comp(x); i += 1 }
        if (max == -1) comp(StarA(x, greedy))
        else {
          val splits = ArrayBuffer.empty[Int]
          var k = 0
          while (k < max - min) {
            val sp = emit(OpSplit)
            splits += sp
            val body = ops.length
            comp(x)
            if (greedy) a1(sp) = body else a2(sp) = body
            k += 1
          }
          val after = ops.length
          splits.foreach { sp =>
            if (greedy) a2(sp) = after else a1(sp) = after
          }
        }
    }

    def compile(ast: Ast, required: String, ncap: Int,
                names: Array[String]): Prog = {
      // group 0 = the whole match, saved around the entire program
      emit(OpSave, 0)
      comp(ast)
      emit(OpSave, 1)
      emit(OpMatch)
      new Prog(ops.toArray, a1.toArray, a2.toArray, sets.toArray, required,
        ncap, names)
    }
  }

  // ------------------------------------------------------------ front door
  /** Compile an RE2 pattern; throws [[Re2Compat.Re2SyntaxError]] on
    * syntax RE2 rejects. Compiled programs are immutable and thread-safe.
    */
  def compile(pattern: String): Prog = {
    val p = new Parser(pattern)
    val ast = p.parse()
    val names = new Array[String](p.ngroups + 1)
    p.groupNames.foreach { case (i, nm) => names(i) = nm }
    new Compiler().compile(ast, mandatoryLiteral(stripGroups(ast)),
      p.ngroups, names)
  }

  /** Convenience: one-shot unanchored match. */
  def matches(pattern: String, input: String): Boolean =
    compile(pattern).matches(input)
}
