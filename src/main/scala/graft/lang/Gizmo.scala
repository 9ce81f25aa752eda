package graft.lang

import graft.core.{Deadline, Graph, NQuads, QValue}
import graft.exec.Exec
import graft.path.{Path, Via}
import graft.shape.ValueFilter
import graft.shape.ValueFilter._

/** Gizmo-style front-end: the reference's primary query surface is
  * JavaScript hosting the traversal API
  * (/root/reference/query/gizmo/gizmo.go:85-121). Embedding a JS engine is
  * out of scope (SURVEY §7.4); this interprets a general STATEMENT subset:
  * `var` declarations and assignment (incl. `+= -= *= /= %=`, `++`/`--`,
  * `obj.field = v`, `arr[i] = v`), full operator expressions with JS
  * precedence (`+ - * / %`, `< <= > >= == != === !==`, `&& || !`, bitwise
  * `& | ^ ~ << >> >>>` with ToInt32 semantics, string concatenation with
  * `+`, the conditional operator `c ? a : b` with lazy branches),
  * template literals `\`a ${expr} b\`` (token-level desugar to string
  * concatenation), ARROW FUNCTIONS `x => e` / `(a, b) => { ... }`
  * (expression bodies return implicitly; lexical `this`), `if`/`else`, `while`, classic `for(init;cond;update)` and
  * `for (k in …)` (indices for arrays/results, keys for objects),
  * `for (v of …)` (values: array elements, result rows, characters),
  * `do`/`while`, `break`/`continue` (with labels), labeled statements,
  * `switch` (strict-equality cases, fall-through, default), `let`/`const`
  * with true block scoping (`var` hoists past block frames; `for (let …)`
  * makes a fresh per-iteration binding, so closures capture each value;
  * `const` reassignment throws),
  * destructuring declarations (`var {a, b: alias} = obj`,
  * `let [x, , y] = arr`), spread syntax in array/object literals and
  * call arguments (`[...a, x]`, `{...o, k: v}`, `f(...args)`),
  * user-defined functions (`function f(a, b) { ... return ...; }`,
  * recursion included), constructor functions with `new`/`this`
  * (`new F(x)` binds a fresh object as `this`; function-valued object
  * fields called with `()` are methods with `this` bound to the
  * receiver; `F.prototype.m = function(){...}` methods are found on
  * instances through the __proto__ chain, shadowable per instance and
  * live — prototype edits after construction are visible; `class Name
  * { constructor(..){..} method(..){..} }` declarations desugar onto
  * exactly that machinery, including `extends` (prototype chain +
  * implicit arg-forwarding default constructor), `super(...)` /
  * `super.m(...)` (resolved against the executing member's parent
  * class), and `static` methods living on — and inherited through —
  * the constructor function), with
  * LEXICAL CLOSURES (capture by reference
  * through a scope chain — a callback closing over an outer `var` reads
  * and writes the variable itself), `try`/`catch`/`finally` + `throw`
  * (host GizmoErrors surface as Error-shaped objects, as goja wraps Go
  * errors), regex literals `/pat/imsg` with full CAPTURE-GROUP support
  * on the Re2 Pike VM (`re.exec(s)` → [full, g1, …] or null,
  * `re.test`, `s.match(re)` incl. /g, `s.search(re)`, `s.split(re)`
  * with captures in the output, and regex `s.replace`/`s.replaceAll`
  * with ECMAScript GetSubstitution templates ($$, $&, backtick/quote
  * context refs, $1…$99, $&lt;name&gt;) or a callback
  * `(match, g1…gn, offset, whole)`),
  * method chains, `g.M()` morphisms, value builders
  * (iri/bnode/gt/lt/regex/like), finals (all/getLimit/count/toArray/
  * tagArray/toValue/tagValue), `g.emit(...)`, `function(x){...}`
  * callbacks for forEach/map, object literals `{k: v}`
  * (reference-shared, like JS), mutable arrays with the Array.prototype
  * subset (push/pop/shift/unshift/join/indexOf/slice/concat/includes/
  * reverse/sort and the higher-order forEach/map/filter/reduce/some/
  * every/find/findIndex calling back into user functions),
  * the String.prototype subset (indexOf/lastIndexOf/substring/slice/
  * split/replace/replaceAll/toLowerCase/toUpperCase/trim/charAt/
  * charCodeAt/startsWith/endsWith/includes/concat/repeat/padStart/
  * padEnd + String.fromCharCode), `Math` (floor/ceil/round/abs/sqrt/
  * pow/min/max/log/log2/log10/exp/trunc/sign),
  * `JSON.stringify`/`JSON.parse`, `Object.keys`/`Object.values`/
  * `Object.entries`/`Object.fromEntries`/`Object.assign`, `Array.from`,
  * `new Map()`/
  * `new Set()` (SameValueZero keys; keys()/values()/entries() return
  * arrays; iterable by for-of/spread/Array.from),
  * `Array.isArray`, the `Number.isInteger`/`isSafeInteger`/`isFinite`/
  * `isNaN` predicates (no coercion), `String.raw` as a tagged-template
  * tag (receives undecoded parts), the global conversions
  * parseInt/parseFloat/isNaN/String/Number/Boolean, `.length`,
  * `Date` in its DETERMINISTIC UTC-only form (`new Date(iso|millis|
  * y,m,d,…)`, `Date.UTC`/`Date.parse`, `getTime`/`valueOf`, the
  * `getUTC*` accessor family — local `get*` aliases to UTC, there is
  * no host zone — `getTimezoneOffset()` = 0, `toISOString`/`toJSON`;
  * argless `new Date()` and `Date.now()` stay errors because oracle
  * queries must replay identically),
  * and namespaces (addNamespace/addDefaultNamespaces).
  *
  * Getters/setters are supported in object literals and class bodies
  * (`get x() {...}` / `set x(v) {...}` — reads call the getter,
  * assignments the setter, `this` bound to the owner; enumeration
  * surfaces resolve getters like JS).
  *
  * DOCUMENTED ERROR SURFACE (raises GizmoError, never silent):
  * JS builtins outside the subsets above. Loops abort after 1M
  * iterations.
  *
  * Method surface mirrors /root/reference/query/gizmo/traversals.go; both
  * capitalizations accepted (`All`/`all`), as upstream does.
  */
object Gizmo {
  final case class GizmoError(msg: String) extends Exception(msg)

  // ----------------------------------------------------------- tokenizer
  private sealed trait Tok
  private case class TIdent(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TNum(s: String) extends Tok
  private case class TPunct(c: Char) extends Tok
  private case class TOp(s: String) extends Tok
  private case class TRegex(pat: String, flags: String) extends Tok

  /** Parse the hex digits of a \xHH / \uHHHH escape. Malformed digits are
    * a GizmoError (JS: SyntaxError), not a raw NumberFormatException —
    * everything the interpreter raises must be catchable by Gizmo
    * try/catch and rendered as a query error, never a bare JVM exception.
    */
  private def hexEscape(digits: String): Int =
    try Integer.parseInt(digits, 16)
    catch {
      case _: NumberFormatException =>
        throw GizmoError(s"invalid escape sequence \\${digits}")
    }

  /** Driver-side compiled-regex cache: exec/match/replace inside loops
    * would otherwise recompile their pattern on every call. Patterns are
    * program literals so growth is bounded in practice; cleared
    * defensively past 1024 entries anyway.
    */
  private val reCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.Re2.Prog]()
  private def reProg(pat: String): graft.functions.Re2.Prog = {
    val hit = reCache.get(pat)
    if (hit != null) hit
    else {
      val p =
        try graft.functions.Re2.compile(pat)
        catch {
          case e: graft.functions.Re2Compat.Re2SyntaxError =>
            throw GizmoError(s"invalid regex: ${e.getMessage}")
        }
      if (reCache.size > 1024) reCache.clear()
      reCache.putIfAbsent(pat, p)
      p
    }
  }

  private def tokenize(q: String): Vector[Tok] = {
    var toks = Vector.empty[Tok]
    var i = 0
    val n = q.length
    // a '-' after an operand is binary subtraction; otherwise the sign of
    // a numeric literal
    def afterOperand: Boolean = toks.lastOption.exists {
      // keywords do not end an operand: `return -1`, `throw /x/.…`
      case TIdent("return" | "throw" | "in" | "else" | "typeof" | "case" |
                  "do" | "void" | "instanceof" | "new" | "delete") => false
      case TNum(_) | TIdent(_) | TStr(_) | TPunct(')') | TPunct(']') => true
      case _ => false
    }
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && q.charAt(i + 1) == '/') {
        while (i < n && q.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && q.charAt(i + 1) == '*') {
        val end = q.indexOf("*/", i + 2)
        if (end < 0) throw GizmoError("unterminated block comment")
        i = end + 2
      } else if (c == '/' && !afterOperand) {
        // regex literal /pat/flags — '/' in operand position is division
        val sb = new StringBuilder
        i += 1
        var inClass = false
        while (i < n && (q.charAt(i) != '/' || inClass)) {
          val rc = q.charAt(i)
          if (rc == '\\' && i + 1 < n) { sb.append(rc).append(q.charAt(i + 1)); i += 2 }
          else {
            if (rc == '[') inClass = true
            else if (rc == ']') inClass = false
            sb.append(rc); i += 1
          }
        }
        if (i >= n) throw GizmoError("unterminated regex literal")
        i += 1
        val fs = new StringBuilder
        while (i < n && q.charAt(i).isLetter) { fs.append(q.charAt(i)); i += 1 }
        toks :+= TRegex(sb.toString, fs.toString)
      } else if (c == '`') {
        // template literal: desugared at the token level. Untagged →
        // ( "part" + ( inner tokens ) + "part" ... ) — string `+`
        // coercion then matches JS interpolation semantics. TAGGED
        // (an identifier immediately before the backtick, as in
        // tag`a${x}b` or obj.fn`…`) → tag(["a","b"], (x)): the cooked
        // strings array plus one argument per hole, JS's tagged-call
        // convention. A `.raw` property on the strings array is not
        // modeled, but the String.raw tag itself IS: it receives the
        // undecoded parts (rawTag below) and joins them with the
        // substitutions via the (GStringNS, "raw") method.
        val tagged = toks.lastOption.exists {
          // keywords that can precede a template-as-expression are not
          // tags: `return `x``, `case `x`:`, `typeof `x``, …
          case TIdent("return" | "throw" | "in" | "of" | "else" |
                      "typeof" | "case" | "do" | "void" | "instanceof" |
                      "new" | "delete") => false
          case TIdent(_) => true
          case _ => false
        }
        // String.raw`…` gets the UNDECODED parts (JS's .raw semantics,
        // recognized at the token level: the tag is exactly String.raw)
        val rawTag = tagged && toks.length >= 3 &&
          toks(toks.length - 3) == TIdent("String") &&
          toks(toks.length - 2) == TPunct('.') &&
          toks.last == TIdent("raw")
        i += 1
        val partsB = Vector.newBuilder[String]
        val holesB = Vector.newBuilder[Vector[Tok]]
        val part = new StringBuilder
        val rawPart = new StringBuilder
        var closed = false
        while (!closed && i < n) {
          val tc = q.charAt(i)
          if (tc == '`') { closed = true; i += 1 }
          else if (tc == '\\' && i + 1 < n) {
            rawPart.append(tc).append(q.charAt(i + 1))
            q.charAt(i + 1) match {
              case 'n' => part.append('\n'); i += 2
              case 't' => part.append('\t'); i += 2
              case 'r' => part.append('\r'); i += 2
              case o   => part.append(o); i += 2
            }
          } else if (tc == '$' && i + 1 < n && q.charAt(i + 1) == '{') {
            partsB += (if (rawTag) rawPart.toString else part.toString)
            part.clear(); rawPart.clear()
            // find the balanced closing brace and tokenize the inside
            var depth = 1
            var j = i + 2
            while (j < n && depth > 0) {
              q.charAt(j) match {
                case '{' => depth += 1; j += 1
                case '}' => depth -= 1; j += 1
                case qc @ ('"' | '\'') => // skip strings: a '}' inside
                  j += 1                  // one must not close the hole
                  while (j < n && q.charAt(j) != qc) {
                    if (q.charAt(j) == '\\') j += 1
                    j += 1
                  }
                  j += 1
                case _ => j += 1
              }
            }
            if (depth > 0) throw GizmoError("unterminated ${ in template")
            holesB += tokenize(q.substring(i + 2, j - 1))
            i = j
          } else { part.append(tc); rawPart.append(tc); i += 1 }
        }
        if (!closed) throw GizmoError("unterminated template literal")
        partsB += (if (rawTag) rawPart.toString else part.toString)
        val ps = partsB.result(); val hs = holesB.result()
        val out = Vector.newBuilder[Tok]
        if (tagged) {
          out += TPunct('('); out += TPunct('[')
          ps.zipWithIndex.foreach { case (p, k) =>
            if (k > 0) out += TPunct(',')
            out += TStr(p)
          }
          out += TPunct(']')
          hs.foreach { h =>
            out += TPunct(','); out += TPunct('(')
            h.foreach(out += _)
            out += TPunct(')')
          }
          out += TPunct(')')
        } else {
          // ps always has hs.size + 1 entries; empty parts concat as ""
          out += TPunct('(')
          out += TStr(ps.head)
          hs.zip(ps.tail).foreach { case (h, p) =>
            out += TOp("+"); out += TPunct('(')
            h.foreach(out += _)
            out += TPunct(')')
            out += TOp("+"); out += TStr(p)
          }
          out += TPunct(')')
        }
        toks ++= out.result()
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        while (i < n && q.charAt(i) != quote) {
          if (q.charAt(i) == '\\' && i + 1 < n) {
            // JS escape sequences; an unrecognized \X is X itself
            q.charAt(i + 1) match {
              case 'n' => sb.append('\n'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 'b' => sb.append('\b'); i += 2
              case 'f' => sb.append('\f'); i += 2
              case 'v' => sb.append(11.toChar); i += 2
              case '0' if i + 2 >= n || !q.charAt(i + 2).isDigit =>
                sb.append(0.toChar); i += 2
              case 'x' if i + 3 < n =>
                sb.append(hexEscape(q.substring(i + 2, i + 4)).toChar)
                i += 4
              case 'u' if i + 5 < n =>
                sb.append(hexEscape(q.substring(i + 2, i + 6)).toChar)
                i += 6
              case other => sb.append(other); i += 2
            }
          } else { sb.append(q.charAt(i)); i += 1 }
        }
        if (i >= n) throw GizmoError("unterminated string")
        i += 1
        toks :+= TStr(sb.toString)
      } else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_' || q.charAt(i) == '$')) i += 1
        val name = q.substring(start, i)
        // async/await KEYWORD USES would mis-parse as plain identifiers
        // and fail with a confusing downstream error — reject them up
        // front: every Gizmo final is synchronous and returns
        // materialized results (the reference's goja host is synchronous
        // too, /root/reference/query/gizmo/gizmo.go:85-121). Legal
        // identifier uses stay legal: property names (obj.async), object
        // keys ({async: 1}), and plain variables. `async` is a keyword
        // when `async function` / an async arrow follows; `await` when
        // it sits in expression position with an operand after it (a
        // conservative over-match — in an actually-async context it
        // would be a keyword, and those contexts are rejected anyway).
        if (name == "async" || name == "await") {
          val prevIsDot = toks.lastOption.exists {
            case TPunct('.') => true; case _ => false
          }
          var j = i
          while (j < n && q.charAt(j).isWhitespace) j += 1
          val nxt = if (j < n) q.charAt(j) else ' '
          val isObjectKey = nxt == ':'
          def parenThenArrow: Boolean = {
            var d = 0; var p = j; var res = false; var done = nxt != '('
            while (!done && p < n) {
              val ch = q.charAt(p)
              if (ch == '(') d += 1
              else if (ch == ')') {
                d -= 1
                if (d == 0) {
                  var r = p + 1
                  while (r < n && q.charAt(r).isWhitespace) r += 1
                  res = r + 1 < n && q.charAt(r) == '=' &&
                    q.charAt(r + 1) == '>'
                  done = true
                }
              }
              p += 1
            }
            res
          }
          def identThenArrowOrFunction: Boolean = {
            if (!(nxt.isLetter || nxt == '_' || nxt == '$')) false
            else if (q.regionMatches(j, "function", 0, 8)) true
            else {
              var p = j
              while (p < n && (q.charAt(p).isLetterOrDigit ||
                q.charAt(p) == '_' || q.charAt(p) == '$')) p += 1
              while (p < n && q.charAt(p).isWhitespace) p += 1
              p + 1 < n && q.charAt(p) == '=' && q.charAt(p + 1) == '>'
            }
          }
          val exprPosition = toks.lastOption match {
            case None => true
            case Some(TOp(_)) => true
            case Some(TPunct(p)) => "([{,;:=?".indexOf(p.toInt) >= 0
            case Some(TIdent(kw)) => Set("return", "typeof", "new",
              "throw", "case", "do", "else", "in", "of").contains(kw)
            case _ => false
          }
          val keywordUse =
            if (name == "async")
              !prevIsDot && !isObjectKey &&
                (identThenArrowOrFunction || parenThenArrow)
            else
              !prevIsDot && !isObjectKey && exprPosition &&
                (nxt.isLetterOrDigit || "('\"`[!_$".indexOf(nxt.toInt) >= 0)
          if (keywordUse)
            throw GizmoError("async/await is not supported: Gizmo " +
              "queries are synchronous — finals (all/toArray/forEach/…) " +
              "return materialized results, no promises involved")
        }
        toks :+= TIdent(name)
      } else if (c.isDigit ||
        (c == '-' && !afterOperand && i + 1 < n && q.charAt(i + 1).isDigit)) {
        val start = i
        i += 1
        while (i < n && (q.charAt(i).isDigit || q.charAt(i) == '.' ||
          q.charAt(i) == 'e' || q.charAt(i) == 'E')) i += 1
        toks :+= TNum(q.substring(start, i))
      } else if (c == '<' && i + 1 < n && q.charAt(i + 1) == '<') {
        toks :+= TOp("<<"); i += 2
      } else if (c == '>' && i + 1 < n && q.charAt(i + 1) == '>') {
        if (i + 2 < n && q.charAt(i + 2) == '>') { toks :+= TOp(">>>"); i += 3 }
        else { toks :+= TOp(">>"); i += 2 }
      } else if (c == '=' && i + 1 < n && q.charAt(i + 1) == '>') {
        toks :+= TOp("=>"); i += 2 // arrow function
      } else if (c == '=' || c == '!' || c == '<' || c == '>') {
        // ===, ==, =, !==, !=, !, <=, <, >=, >
        var op = c.toString
        i += 1
        while (i < n && q.charAt(i) == '=' && op.length < 3) { op += "="; i += 1 }
        if (op == "=") toks :+= TPunct('=') else toks :+= TOp(op)
      } else if (c == '&' || c == '|') {
        if (i + 1 < n && q.charAt(i + 1) == c) { toks :+= TOp(s"$c$c"); i += 2 }
        else { toks :+= TOp(c.toString); i += 1 } // bitwise & |
      } else if (c == '^' || c == '~') {
        toks :+= TOp(c.toString); i += 1
      } else if (c == '+' || c == '-' || c == '*' || c == '/' || c == '%') {
        if (i + 1 < n && q.charAt(i + 1) == '=') {
          toks :+= TOp(c.toString + "="); i += 2 // += -= *= /= %=
        } else if ((c == '+' || c == '-') && i + 1 < n && q.charAt(i + 1) == c) {
          toks :+= TOp(s"$c$c"); i += 2 // ++ --
        } else { toks :+= TOp(c.toString); i += 1 }
      } else if ("().,;=[]{}:?".indexOf(c) >= 0) {
        toks :+= TPunct(c); i += 1
      } else throw GizmoError(s"unexpected character '$c' (full JavaScript is not supported; use the statement subset)")
    }
    toks
  }

  // ------------------------------------------------------- parsed values
  private sealed trait GVal
  private case class GPath(p: Path) extends GVal
  private case class GValue(v: QValue) extends GVal
  private case class GFilter(f: ValueFilter) extends GVal
  // mutable, shared by reference like a JS array (push/element assignment
  // seen through every binding of the same array)
  private case class GArr(vs: scala.collection.mutable.ArrayBuffer[GVal])
      extends GVal
  // object literal {k: v}: insertion-ordered, shared by reference
  private case class GObj(m: scala.collection.mutable.LinkedHashMap[String, GVal])
      extends GVal
  private case object GMath extends GVal
  // JSON / Object / Array namespace objects (stringify/parse, keys/values,
  // isArray) — the goja VM exposes the full globals; these are the
  // members real gizmo programs use
  /** JS Map/Set: insertion-ordered; keys compared SameValueZero-style
    * via [[Interp.mapKeyOf]] (primitives by value, objects by identity).
    * keys()/values()/entries() return ARRAYS (pragmatic stand-in for
    * iterators — they feed for-of/spread/HOFs the same way).
    */
  private case class GMapV(
      m: scala.collection.mutable.LinkedHashMap[String, (GVal, GVal)])
      extends GVal
  private case class GSetV(
      m: scala.collection.mutable.LinkedHashMap[String, GVal]) extends GVal
  private case object GJson extends GVal
  private case object GObjectNS extends GVal
  private case object GArrayNS extends GVal
  private case object GStringNS extends GVal
  private case object GNumberNS extends GVal
  /** Regex literal `/pat/flags` — a JS RegExp VALUE, deliberately NOT a
    * GFilter: the reference errors on `filter(/re/)` ("filter with a
    * wrong type", gizmo_test.go:195); traversal filters require the
    * regex() builder. Usable driver-side via .test(s), backed by Re2.
    */
  private case class GRegex(pat: String, global: Boolean = false) extends GVal
  private case object GDateNS extends GVal
  /** JS Date, DETERMINISTIC + UTC-ONLY: constructed from epoch millis,
    * an ISO-8601 string, or numeric (y, m, d, …) fields interpreted as
    * UTC. The non-deterministic surface — argless `new Date()` and
    * `Date.now()` — stays a documented error (oracle queries must be
    * replayable), and there is no local-time zone: `getFullYear` et al.
    * alias their `getUTC*` forms and `getTimezoneOffset()` is 0.
    * Renders (emit/string-concat/JSON) as the `toISOString()` form.
    */
  private case class GDateV(millis: Long) extends GVal
  private case class GNumV(d: Double, isInt: Boolean) extends GVal
  private case class GBoolV(b: Boolean) extends GVal
  // rendered rows (what the session returns) + raw bindings (what loop
  // variables see — for-in over a result must not lose the row values)
  private case class GResult(rows: Seq[Map[String, String]],
                             raw: Seq[Map[String, QValue]]) extends GVal
  private case class GTagMap(m: Map[String, QValue]) extends GVal
  /** A function value closes over its defining environment: captured
    * variables are read and written THROUGH the chain (capture by
    * reference, as in JS), so a closure over a `var` loop variable sees
    * the variable, not a copy.
    */
  private case class GFunc(params: Seq[String], body: Vector[Tok],
                           env: Env) extends GVal {
    /** `F.prototype`: methods assigned here are found by property lookup
      * on `new F()` instances through their `__proto__` link.
      */
    val proto: GObj = GObj(scala.collection.mutable.LinkedHashMap.empty)
    /** For class members of a derived class: the parent constructor —
      * the target `super(...)` / `super.m(...)` resolve against.
      */
    var classParent: Option[GFunc] = None
    /** `static` class members live on the constructor function itself. */
    val statics = scala.collection.mutable.LinkedHashMap.empty[String, GVal]
    /** `function*`: calling returns a [[GGenV]] instead of executing. */
    var isGenerator: Boolean = false
  }

  /** A generator activation (`function*` call): the body runs on its own
    * daemon carrier thread so a token-cursor interpreter can suspend at
    * `yield` mid-expression — exactly one of {caller, generator} runs at
    * any moment (SynchronousQueue rendezvous on each direction gives both
    * mutual exclusion and memory visibility), and the interpreter's
    * mutable cursor state (env/callDepth/fnStack/labels) is snapshotted
    * into the context across every handoff so the two logical stacks
    * never see each other's frames.
    */
  private final class GenCtx(val f: GFunc, val args: Seq[GVal],
                             val thisVal: Option[GVal]) {
    val toGen = new java.util.concurrent.SynchronousQueue[AnyRef]
    val fromGen = new java.util.concurrent.SynchronousQueue[AnyRef]
    var started = false
    var done = false
    /** Body currently executing — a next() from inside it (self-resume)
      * would deadlock the rendezvous, so it throws like JS's TypeError.
      */
    var running = false
    // interpreter-state snapshot held while this generator is suspended
    var sEnv: Env = null
    var sDepth = 0
    var sFnStack: List[GFunc] = Nil
    var sLabels: List[String] = Nil
  }
  private case class GGenV(ctx: GenCtx) extends GVal
  // generator handshake messages (caller -> generator)
  private case class GenResume(v: GVal)
  private case class GenReturnReq(v: GVal)
  private case class GenThrowReq(v: GVal)
  // generator handshake messages (generator -> caller)
  private case class GenYielded(v: GVal)
  private case class GenDone(v: GVal)
  private case class GenFailed(t: Throwable)
  /** `gen.return(v)` unwinds a suspended generator body (finally blocks
    * run on the way out, like JS's GeneratorResumeAbrupt).
    */
  private case class GenReturnSignal(v: GVal)
      extends scala.util.control.ControlThrowable
  /** Hidden instance→prototype link key; excluded from enumeration
    * (for-in, Object.keys/values, JSON.stringify, emit).
    */
  private val ProtoKey = "__proto__"
  /** Accessor property: `get x() {...}` / `set x(v) {...}` (object
    * literals and class bodies). Reads invoke the getter, assignments
    * the setter, each with `this` bound to the owning object.
    */
  private case class GAccessor(getter: Option[GFunc],
                               setter: Option[GFunc]) extends GVal
  /** `return` unwinds to the nearest enclosing function call. */
  private case class ReturnSignal(v: GVal)
      extends scala.util.control.ControlThrowable
  /** `throw expr` unwinds to the nearest enclosing try/catch. */
  private case class ThrowSignal(v: GVal)
      extends scala.util.control.ControlThrowable
  /** `break [label]` / `continue [label]` unwind to the nearest enclosing
    * loop (or, for break, switch / labeled statement); a function boundary
    * converts a leak to GizmoError.
    */
  private case class BreakSignal(label: Option[String])
      extends scala.util.control.ControlThrowable
  private case class ContinueSignal(label: Option[String])
      extends scala.util.control.ControlThrowable

  /** Lexical scope chain: one frame per function call, per `{}` block,
    * and per catch block. `var` (and named function declarations) hoist
    * past block frames to the nearest function/global frame; `let`/`const`
    * declare in the current (block) frame; plain assignment writes to the
    * owning frame — or the global frame when undeclared (JS non-strict
    * semantics). `const` bindings reject reassignment.
    */
  private final class Env(val parent: Env, val isBlock: Boolean = false) {
    val slots = scala.collection.mutable.Map.empty[String, GVal]
    val consts = scala.collection.mutable.Set.empty[String]
    private def owner(name: String): Env = {
      var e: Env = this
      while (e != null) { if (e.slots.contains(name)) return e; e = e.parent }
      null
    }
    def get(name: String): Option[GVal] = {
      val o = owner(name)
      if (o == null) None else Some(o.slots(name))
    }
    def set(name: String, v: GVal): Unit = {
      var o = owner(name)
      if (o == null) { o = this; while (o.parent != null) o = o.parent }
      if (o.consts.contains(name))
        throw GizmoError(s"assignment to constant variable $name")
      o.slots(name) = v
    }
    def declare(name: String, v: GVal, isConst: Boolean = false): Unit = {
      slots(name) = v
      if (isConst) consts += name
    }
    /** `var`/function-declaration hoisting target: nearest non-block frame. */
    def declareVar(name: String, v: GVal): Unit = {
      var e: Env = this
      while (e.isBlock) e = e.parent
      e.slots(name) = v
    }
    /** var without initializer: declare undefined only if absent anywhere. */
    def declareVarBare(name: String): Unit = {
      var e: Env = this
      while (e.isBlock) e = e.parent
      if (owner(name) == null) e.slots(name) = GNull
    }
  }
  /** count() result: a number in expressions, a count row as a final. */
  private case class GCount(n: Long) extends GVal
  private case object GNull extends GVal
  private case object GEnv extends GVal

  /** rdf/rdfs/schema/xsd prefixes, the reference's `addDefaultNamespaces`
    * (voc packages rdf/rdfs/schema registered by default upstream).
    */
  private val DefaultNamespaces = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "schema" -> "http://schema.org/",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#")

  // ----------------------------------------------------------- evaluator
  final class Session(g: Graph) {
    def execute(query: String, limit: Int = -1): Seq[Map[String, String]] =
      try new Interp(limit).run(tokenize(query))
      catch {
        // the depth cap catches runaway recursion deterministically;
        // this converts an overflow on a shallow host thread too (the
        // stack has already unwound when a SOE reaches this boundary)
        case _: StackOverflowError =>
          throw GizmoError("call stack exhausted")
      }

    private final class Cursor(val toks: Vector[Tok]) {
      var pos = 0
      def more: Boolean = pos < toks.length
      def peek: Option[Tok] = if (more) Some(toks(pos)) else None
      def next(): Tok = { val t = toks(pos); pos += 1; t }
      def expect(c: Char): Unit = next() match {
        case TPunct(`c`) =>
        case other       => throw GizmoError(s"expected '$c', got $other")
      }
    }

    private final class Interp(limit: Int) {
      private val global = new Env(null)
      private var env: Env = global
      private val namespaces = scala.collection.mutable.Map.empty[String, String]
      private var out = Seq.empty[Map[String, String]]

      def run(toks: Vector[Tok]): Seq[Map[String, String]] = {
        val c = new Cursor(toks)
        try while (c.more) statement(c)
        catch {
          case ReturnSignal(_) =>
            throw GizmoError("return outside of a function")
          case BreakSignal(_) | ContinueSignal(_) =>
            throw GizmoError("break/continue outside of a loop")
          case ThrowSignal(v) =>
            val rendered =
              try renderVal(v)
              catch { case GizmoError(_) => v.toString }
            throw GizmoError(s"uncaught exception: $rendered")
        }
        out
      }

      private def runToks(toks: Vector[Tok]): Unit = {
        val bc = new Cursor(toks)
        while (bc.more) statement(bc)
      }

      private def evalToks(toks: Vector[Tok]): GVal =
        if (toks.isEmpty) GNull else parseExpr(new Cursor(toks))

      /** Labels currently in scope (for validating `break foo`). */
      private var activeLabels: List[String] = Nil

      private def statement(c: Cursor, labels: List[String] = Nil): Unit = c.peek match {
        case Some(TPunct(';')) => c.next()
        case Some(TPunct('{')) => // block — own let/const scope
          c.next()
          val saved = env
          env = new Env(saved, isBlock = true)
          try while (!c.peek.contains(TPunct('}'))) statement(c)
          finally env = saved
          c.expect('}')
        case Some(TIdent(kw @ ("var" | "let" | "const"))) =>
          c.next()
          // destructuring declarator: `{a, b: alias} = o` / `[x, , y] = a`
          def destructure(): Unit = {
            val isObj = c.peek.contains(TPunct('{'))
            val binds = Vector.newBuilder[(String, String)] // (target, key)
            val close = if (isObj) '}' else ']'
            c.next()
            var idx = 0
            while (!c.peek.contains(TPunct(close))) c.peek match {
              case Some(TPunct(',')) => c.next(); idx += 1
              case Some(TIdent(n)) =>
                c.next()
                if (isObj && c.peek.contains(TPunct(':'))) {
                  c.next()
                  c.next() match {
                    case TIdent(alias) => binds += ((alias, n))
                    case other =>
                      throw GizmoError(s"expected binding name, got $other")
                  }
                } else binds += ((n, if (isObj) n else idx.toString))
              case other =>
                throw GizmoError(s"unsupported destructuring element $other")
            }
            c.expect(close)
            c.expect('=')
            val src = parseExpr(c)
            binds.result().foreach { case (tgt, key) =>
              val v = (src, isObj) match {
                case (GObj(m), true) =>
                  resolveProp(src, protoLookup(m, key).getOrElse(GNull))
                case (GTagMap(tm), true) =>
                  tm.get(key).map(GValue(_): GVal).getOrElse(GNull)
                case (GArr(vs), false) =>
                  val i = key.toInt
                  if (i < vs.length) vs(i) else GNull
                case _ =>
                  throw GizmoError(s"cannot destructure $src")
              }
              if (kw == "var") env.declareVar(tgt, v)
              else env.declare(tgt, v, isConst = kw == "const")
            }
          }
          def declareOne(): Unit = {
            val name = c.next() match {
              case TIdent(s) => s
              case other     => throw GizmoError(s"expected name, got $other")
            }
            if (c.peek.contains(TPunct('='))) {
              c.next()
              val v = parseExpr(c)
              if (kw == "var") env.declareVar(name, v)
              else env.declare(name, v, isConst = kw == "const")
            } else if (kw == "const")
              throw GizmoError(s"missing initializer in const declaration of $name")
            else if (kw == "var") env.declareVarBare(name)
            else env.declare(name, GNull)
          }
          var first = true
          while (first || c.peek.contains(TPunct(','))) {
            if (!first) c.next()
            first = false
            if (c.peek.exists(t => t == TPunct('{') || t == TPunct('[')))
              destructure()
            else declareOne()
          }
        case Some(TIdent("if")) =>
          c.next()
          val cond = captureParen(c)
          val thenB = captureStatement(c)
          // `if (x) stmt; else ...` — the ';' ends the then-branch but must
          // not hide the else keyword
          if (c.peek.contains(TPunct(';')) &&
            c.pos + 1 < c.toks.length && c.toks(c.pos + 1) == TIdent("else"))
            c.next()
          val elseB =
            if (c.peek.contains(TIdent("else"))) { c.next(); captureStatement(c) }
            else Vector.empty[Tok]
          if (truthy(evalToks(cond))) runToks(thenB) else runToks(elseB)
        case Some(TIdent("while")) =>
          c.next()
          val cond = captureParen(c)
          val body = captureStatement(c)
          var iters = 0
          var broke = false
          while (!broke && truthy(evalToks(cond))) {
            Deadline.check()
            try runToks(body)
            catch {
              case ContinueSignal(l) if l.forall(labels.contains) => ()
              case BreakSignal(l) if l.forall(labels.contains) => broke = true
            }
            iters += 1
            if (iters > 1000000)
              throw GizmoError("while loop exceeded 1,000,000 iterations")
          }
        case Some(TIdent("do")) =>
          c.next()
          val body = captureStatement(c)
          if (!c.peek.contains(TIdent("while")))
            throw GizmoError("expected while after do block")
          c.next()
          val cond = captureParen(c)
          var iters = 0
          var broke = false
          var first = true
          while (!broke && (first || truthy(evalToks(cond)))) {
            first = false
            Deadline.check()
            try runToks(body)
            catch {
              case ContinueSignal(l) if l.forall(labels.contains) => ()
              case BreakSignal(l) if l.forall(labels.contains) => broke = true
            }
            iters += 1
            if (iters > 1000000)
              throw GizmoError("do loop exceeded 1,000,000 iterations")
          }
        case Some(TIdent("break")) =>
          c.next(); throw BreakSignal(takeLabel(c))
        case Some(TIdent("continue")) =>
          c.next(); throw ContinueSignal(takeLabel(c))
        case Some(TIdent("switch")) =>
          c.next()
          val scrutToks = captureParen(c)
          val scrut = evalToks(scrutToks)
          c.expect('{')
          // split the block into (caseExpr?, body) segments; ':' inside
          // nested braces/brackets/parens belongs to the case body
          val segs = scala.collection.mutable
            .ArrayBuffer.empty[(Option[Vector[Tok]], Vector[Tok])]
          while (!c.peek.contains(TPunct('}'))) c.peek match {
            case Some(TIdent("case")) =>
              c.next()
              val expr = Vector.newBuilder[Tok]
              var depth = 0
              var done = false
              while (!done) c.next() match {
                case TPunct(':') if depth == 0 => done = true
                case t @ TPunct('(' | '[' | '{') => depth += 1; expr += t
                case t @ TPunct(')' | ']' | '}') => depth -= 1; expr += t
                case t => expr += t
              }
              segs += ((Some(expr.result()), captureCaseBody(c)))
            case Some(TIdent("default")) =>
              c.next(); c.expect(':')
              segs += ((None, captureCaseBody(c)))
            case other =>
              throw GizmoError(s"expected case/default in switch, got $other")
          }
          c.expect('}')
          // first strictly-equal case, else default; fall through until
          // break (JS semantics)
          val start = segs.indexWhere {
            case (Some(e), _) => eqVals(scrut, evalToks(e), strict = true)
            case _            => false
          }
          val from =
            if (start >= 0) start else segs.indexWhere(_._1.isEmpty)
          if (from >= 0) {
            try segs.drop(from).foreach { case (_, b) => runToks(b) }
            catch { case BreakSignal(None) => () }
          }
        case Some(TIdent("class")) =>
          // class declaration: sugar over constructor function + prototype
          // methods (no extends/static/getters — documented errors)
          c.next()
          val cname = c.next() match {
            case TIdent(s) => s
            case other => throw GizmoError(s"expected class name, got $other")
          }
          val parentFn: Option[GFunc] =
            if (c.peek.contains(TIdent("extends"))) {
              c.next()
              val pn = c.next() match {
                case TIdent(p) => p
                case other => throw GizmoError(s"expected parent class name, got $other")
              }
              env.get(pn) match {
                case Some(f: GFunc) => Some(f)
                case other => throw GizmoError(s"extends target $pn is not a class/function ($other)")
              }
            } else None
          c.expect('{')
          var ctor: GFunc = null
          val methods = Vector.newBuilder[(String, GFunc)]
          val accessors =
            scala.collection.mutable.LinkedHashMap.empty[String, GAccessor]
          val statics = Vector.newBuilder[(String, GFunc)]
          while (!c.peek.contains(TPunct('}'))) c.peek match {
            case Some(TPunct(';')) => c.next()
            case Some(TIdent("static"))
              if c.toks.lift(c.pos + 1).exists(_.isInstanceOf[TIdent]) &&
                c.toks.lift(c.pos + 2).contains(TPunct('(')) =>
              c.next()
              val sname = c.next().asInstanceOf[TIdent].s
              statics += sname -> parseFunctionRest(c)
            case Some(TIdent(kind @ ("get" | "set")))
              if c.toks.lift(c.pos + 1).exists(_.isInstanceOf[TIdent]) &&
                c.toks.lift(c.pos + 2).contains(TPunct('(')) =>
              c.next()
              val aname = c.next().asInstanceOf[TIdent].s
              val f = parseFunctionRest(c)
              accessors(aname) = {
                val prev = accessors.getOrElse(aname, GAccessor(None, None))
                if (kind == "get") prev.copy(getter = Some(f))
                else prev.copy(setter = Some(f))
              }
            case Some(TIdent(mname)) =>
              c.next()
              val f = parseFunctionRest(c)
              if (mname == "constructor") ctor = f else methods += mname -> f
            case other =>
              throw GizmoError(s"expected class member, got $other")
          }
          c.expect('}')
          val ctorFn =
            if (ctor != null) ctor
            else parentFn match {
              // JS default derived constructor forwards its args to super
              case Some(p) =>
                val forward = Vector(TIdent("super"), TPunct('(')) ++
                  p.params.zipWithIndex.flatMap { case (pp, i) =>
                    (if (i > 0) Vector(TPunct(',')) else Vector.empty) :+
                      TIdent(pp)
                  } :+ TPunct(')')
                GFunc(p.params, forward, env)
              case None => GFunc(Nil, Vector.empty, env)
            }
          methods.result().foreach { case (mn, f) => ctorFn.proto.m(mn) = f }
          accessors.foreach { case (an, a) => ctorFn.proto.m(an) = a }
          statics.result().foreach { case (sn, f) => ctorFn.statics(sn) = f }
          parentFn.foreach { p =>
            ctorFn.proto.m(ProtoKey) = p.proto // prototype chain
            ctorFn.classParent = Some(p)
            // members of a derived class resolve super against the parent
            ctorFn.proto.m.valuesIterator.foreach {
              case f: GFunc => f.classParent = Some(p)
              case GAccessor(g, st) =>
                g.foreach(_.classParent = Some(p))
                st.foreach(_.classParent = Some(p))
              case _ =>
            }
            ctorFn.statics.valuesIterator.foreach {
              case f: GFunc => f.classParent = Some(p)
              case _ =>
            }
            // static members inherit through the class, like JS
            p.statics.foreach { case (k, v) =>
              if (!ctorFn.statics.contains(k)) ctorFn.statics(k) = v
            }
          }
          env.declareVar(cname, ctorFn)
        case Some(TIdent("function"))
          if c.toks.lift(c.pos + 1).contains(TOp("*")) &&
            c.toks.lift(c.pos + 2).exists(_.isInstanceOf[TIdent]) =>
          // generator declaration: function* name(p1, p2) { ... }
          c.next(); c.next()
          val name = c.next() match {
            case TIdent(s) => s
            case other     => throw GizmoError(s"expected function name, got $other")
          }
          val gf = parseFunctionRest(c)
          gf.isGenerator = true
          env.declareVar(name, gf)
        case Some(TIdent("function"))
          if c.pos + 1 < c.toks.length && c.toks(c.pos + 1).isInstanceOf[TIdent] =>
          // named declaration: function name(p1, p2) { ... }
          c.next()
          val name = c.next() match {
            case TIdent(s) => s
            case other     => throw GizmoError(s"expected function name, got $other")
          }
          env.declareVar(name, parseFunctionRest(c))
        case Some(TIdent("return")) =>
          c.next()
          val v =
            if (!c.more || c.peek.contains(TPunct(';')) ||
              c.peek.contains(TPunct('}'))) GNull
            else parseExpr(c)
          throw ReturnSignal(v)
        case Some(TIdent("throw")) =>
          c.next()
          throw ThrowSignal(parseExpr(c))
        case Some(TIdent("try")) =>
          c.next()
          if (!c.peek.contains(TPunct('{')))
            throw GizmoError("expected block after try")
          val tryB = captureStatement(c)
          var catchParam: Option[String] = None
          var catchB: Vector[Tok] = null
          if (c.peek.contains(TIdent("catch"))) {
            c.next()
            if (c.peek.contains(TPunct('('))) { // ES2019: binding optional
              c.next()
              catchParam = c.next() match {
                case TIdent(s) => Some(s)
                case other => throw GizmoError(s"expected catch binding, got $other")
              }
              c.expect(')')
            }
            if (!c.peek.contains(TPunct('{')))
              throw GizmoError("expected block after catch")
            catchB = captureStatement(c)
          }
          val finB =
            if (c.peek.contains(TIdent("finally"))) {
              c.next()
              if (!c.peek.contains(TPunct('{')))
                throw GizmoError("expected block after finally")
              captureStatement(c)
            } else null
          if (catchB == null && finB == null)
            throw GizmoError("try requires catch or finally")
          def runCatch(v: GVal): Unit = {
            val saved = env
            env = new Env(saved, isBlock = true)
            catchParam.foreach(p => env.declare(p, v))
            try runToks(catchB) finally env = saved
          }
          try runToks(tryB)
          catch {
            // host errors surface as Error-shaped objects, like goja
            // wrapping a Go error thrown mid-query (gizmo.go:85-121)
            case ThrowSignal(v) if catchB != null => runCatch(v)
            case GizmoError(msg) if catchB != null =>
              runCatch(GObj(scala.collection.mutable.LinkedHashMap(
                "name" -> GValue(QValue.Str("Error")),
                "message" -> GValue(QValue.Str(msg)))))
          } finally { if (finB != null) runToks(finB) }
        case Some(TIdent("for")) =>
          c.next(); c.expect('(')
          // `for (x in e)` / `for (var x in e)` vs classic `for(init;cond;upd)`
          val declKw = c.peek.collect {
            case TIdent(kw @ ("var" | "let" | "const")) => kw
          }
          val inOrOf = {
            val at = if (declKw.isDefined) c.pos + 1 else c.pos
            if (c.toks.lift(at).exists(_.isInstanceOf[TIdent]))
              c.toks.lift(at + 1).collect {
                case TIdent(k @ ("in" | "of")) => k
              }
            else None
          }
          if (inOrOf.isDefined) {
            val hadVar = declKw.contains("var")
            val hadLet = declKw.exists(k => k == "let" || k == "const")
            if (declKw.isDefined) c.next()
            val idx = c.next() match {
              case TIdent(s) => s
              case other     => throw GizmoError(s"expected loop variable, got $other")
            }
            c.next() // 'in' / 'of'
            val isOf = inOrOf.contains("of")
            val iterable = parseExpr(c)
            val iter: Seq[GVal] = iterable match {
              // generators iterate LAZILY (see `it` below): an infinite
              // generator with a `break` must terminate
              case GGenV(_) if isOf => Nil
              case other => other match {
              // for-in: indices for arrays/results, keys for objects;
              // for-of: VALUES (array elements, result rows, characters)
              case GArr(vs) =>
                if (isOf) vs.toSeq
                else vs.indices.map(i => GNumV(i.toDouble, isInt = true))
              case GResult(_, raw) =>
                if (isOf) raw.map(GTagMap(_))
                else raw.indices.map(i => GNumV(i.toDouble, isInt = true))
              case GObj(m) if !isOf => m.keys.toSeq.filterNot(_ == ProtoKey)
                .map(k => GValue(QValue.Str(k)))
              case GValue(QValue.Str(str)) if isOf =>
                str.map(ch => GValue(QValue.Str(ch.toString)))
              case sv: GSetV if isOf => sv.m.values.toSeq
              case mv: GMapV if isOf => mv.m.values.toSeq.map { case (k, v) =>
                GArr(scala.collection.mutable.ArrayBuffer(k, v)): GVal
              }
              case GNull   => Nil
              case other   =>
                throw GizmoError(s"cannot iterate $other" +
                  (if (isOf) " with for-of" else ""))
              }
            }
            c.expect(')')
            val body = captureStatement(c)
            val it: Iterator[GVal] = iterable match {
              case GGenV(g) if isOf =>
                // pull one step per iteration; the done step's value is
                // the generator's RETURN value, which for-of discards
                Iterator.continually(genStep(g, GenResume(GNull)))
                  .takeWhile(!_._2).map(_._1)
              case _ => iter.iterator
            }
            var broke = false
            val savedEnv = env
            try while (!broke && it.hasNext) {
              Deadline.check()
              val v = it.next()
              if (hadLet) {
                // fresh per-iteration binding: closures capture each value
                env = new Env(savedEnv, isBlock = true)
                env.declare(idx, v, isConst = declKw.contains("const"))
              } else if (hadVar) env.declareVar(idx, v)
              else env.set(idx, v)
              try runToks(body)
              catch {
                case ContinueSignal(l) if l.forall(labels.contains) => ()
                case BreakSignal(l) if l.forall(labels.contains) => broke = true
              }
            } finally env = savedEnv
          } else {
            // classic for: run init once, then body+update while cond holds
            val isLet = c.peek.exists(t =>
              t == TIdent("let") || t == TIdent("const"))
            val init = captureUntilSemi(c)
            val cond = captureUntilSemi(c)
            val update = captureParenRest(c)
            val body = captureStatement(c)
            val savedEnv = env
            // `let` loop vars live in a per-iteration frame (copied between
            // body and update, per the spec's CreatePerIterationEnvironment)
            // so a closure made in iteration k sees iteration k's values
            if (isLet) env = new Env(savedEnv, isBlock = true)
            def freshCopy(): Unit = if (isLet) {
              val f = new Env(savedEnv, isBlock = true)
              f.slots ++= env.slots
              f.consts ++= env.consts
              env = f
            }
            try {
              runToks(init)
              freshCopy()
              var iters = 0
              var broke = false
              while (!broke && (cond.isEmpty || truthy(evalToks(cond)))) {
                Deadline.check()
                try runToks(body)
                catch { // continue still runs the update (JS semantics)
                  case ContinueSignal(l) if l.forall(labels.contains) => ()
                  case BreakSignal(l) if l.forall(labels.contains) => broke = true
                }
                if (!broke) { freshCopy(); runToks(update) }
                iters += 1
                if (iters > 1000000)
                  throw GizmoError("for loop exceeded 1,000,000 iterations")
              }
            } finally env = savedEnv
          }
        case Some(TIdent(name))
          if c.toks.lift(c.pos + 1).contains(TPunct(':')) =>
          // labeled statement: `name: stmt`; `break name` exits it and
          // `continue name` re-enters the labeled loop's next iteration.
          // A signal that escapes (labeled block/if) aborts parsing
          // mid-statement, so resync the cursor past the statement.
          c.next(); c.next()
          val start = c.pos
          activeLabels ::= name
          try statement(c, name :: labels)
          catch {
            case BreakSignal(Some(`name`)) =>
              c.pos = start; skipStatement(c)
          }
          finally activeLabels = activeLabels.tail
        case Some(TIdent(name))
          if c.pos + 1 < c.toks.length && c.toks(c.pos + 1) == TPunct('=') =>
          c.next(); c.next()
          env.set(name, parseExpr(c))
        case Some(TIdent(name)) if compoundOpAt(c).isDefined =>
          val op = compoundOpAt(c).get
          c.next(); c.next()
          val old = env.get(name).getOrElse(
            throw GizmoError(s"undefined variable $name"))
          val r = parseExpr(c)
          env.set(name, if (op == "+") addVals(old, r) else arith(old, r, op))
        case Some(TIdent(name))
          if c.toks.lift(c.pos + 1).exists(t => t == TOp("++") || t == TOp("--")) =>
          c.next()
          val op = c.next().asInstanceOf[TOp].s
          val old = env.get(name).getOrElse(
            throw GizmoError(s"undefined variable $name"))
          env.set(name, arith(old, GNumV(1, isInt = true), op.substring(0, 1)))
        case Some(TIdent(name))
          if c.toks.lift(c.pos + 1).contains(TPunct('.')) &&
            c.toks.lift(c.pos + 2).exists(_.isInstanceOf[TIdent]) &&
            c.toks.lift(c.pos + 3).contains(TPunct('.')) &&
            c.toks.lift(c.pos + 4).exists(_.isInstanceOf[TIdent]) &&
            c.toks.lift(c.pos + 5).contains(TPunct('=')) =>
          // two-level property assignment: a.b.c = expr — notably
          // `F.prototype.m = function(...) {...}` method definitions
          c.next(); c.next()
          val f1 = c.next().asInstanceOf[TIdent].s
          c.next()
          val f2 = c.next().asInstanceOf[TIdent].s
          c.next() // '='
          val v = parseExpr(c)
          val base = env.get(name).getOrElse(
            throw GizmoError(s"undefined variable $name"))
          val mid = base match {
            case f: GFunc if f1 == "prototype" => f.proto
            case GObj(m) => protoLookup(m, f1).getOrElse(
              throw GizmoError(s"cannot read .$f1 of $name"))
            case other => throw GizmoError(s"cannot set .$f1.$f2 on $other")
          }
          mid match {
            case obj @ GObj(mm) => protoLookup(mm, f2) match {
              case Some(GAccessor(_, Some(st))) =>
                callFunction(st, Seq(v), thisVal = Some(obj))
              case Some(GAccessor(_, None)) => ()
              case _ => mm(f2) = v
            }
            case other => throw GizmoError(s"cannot set .$f2 on $other")
          }
        case Some(TIdent(name))
          if c.toks.lift(c.pos + 1).contains(TPunct('.')) &&
            c.toks.lift(c.pos + 2).exists(_.isInstanceOf[TIdent]) &&
            c.toks.lift(c.pos + 3).contains(TPunct('=')) =>
          // property assignment: obj.field = expr
          c.next(); c.next()
          val field = c.next().asInstanceOf[TIdent].s
          c.next() // '='
          val v = parseExpr(c)
          env.get(name).getOrElse(
            throw GizmoError(s"undefined variable $name")) match {
            case obj @ GObj(m) => protoLookup(m, field) match {
              case Some(GAccessor(_, Some(st))) =>
                callFunction(st, Seq(v), thisVal = Some(obj))
              case Some(GAccessor(_, None)) => () // getter-only: JS no-op
              case _ => m(field) = v
            }
            case other   => throw GizmoError(s"cannot set .$field on $other")
          }
        case Some(TIdent(name)) if isIndexAssign(c) =>
          // element assignment: arr[i] = expr / obj[key] = expr
          c.next(); c.next() // name '['
          val key = parseExpr(c)
          c.expect(']'); c.expect('=')
          val v = parseExpr(c)
          env.get(name).getOrElse(
            throw GizmoError(s"undefined variable $name")) match {
            case GArr(vs) =>
              val i = num(key).map(_.toInt).getOrElse(
                throw GizmoError("array index must be a number"))
              if (i >= 0 && i < vs.length) vs(i) = v
              else if (i == vs.length) vs += v
              else throw GizmoError(s"array index $i out of bounds (sparse arrays unsupported)")
            case GObj(m) => m(renderVal(key)) = v
            case other   => throw GizmoError(s"cannot index-assign $other")
          }
        case Some(TIdent(name)) if isPropIndexAssign(c) =>
          // property-element assignment: obj.field[key] = expr
          // (notably `this.m[k] = v` inside methods)
          c.next(); c.next()
          val field = c.next().asInstanceOf[TIdent].s
          c.next() // '['
          val key = parseExpr(c)
          c.expect(']'); c.expect('=')
          val v = parseExpr(c)
          val owner = env.get(name).getOrElse(
            throw GizmoError(s"undefined variable $name"))
          val target = owner match {
            case GObj(m) =>
              resolveProp(owner, protoLookup(m, field).getOrElse(
                throw GizmoError(s"cannot read .$field of $name")))
            case other => throw GizmoError(s"cannot read .$field of $other")
          }
          target match {
            case GArr(vs) =>
              val i = num(key).map(_.toInt).getOrElse(
                throw GizmoError("array index must be a number"))
              if (i >= 0 && i < vs.length) vs(i) = v
              else if (i == vs.length) vs += v
              else throw GizmoError(s"array index $i out of bounds (sparse arrays unsupported)")
            case GObj(m) => m(renderVal(key)) = v
            case other   => throw GizmoError(s"cannot index-assign $other")
          }
        case Some(_) =>
          parseExpr(c) match {
            case GResult(r, _) => out = out ++ r
            case GCount(n)  => out = out :+ Map("count" -> n.toString)
            case _          => // expression without final: no output
          }
        case None =>
      }

      /** Parse `(p1, p2, ...) { body }` after the `function` keyword (and
        * optional name) have been consumed.
        */
      private def parseFunctionRest(c: Cursor): GFunc = {
        c.expect('(')
        val params = Vector.newBuilder[String]
        var first = true
        while (!c.peek.contains(TPunct(')'))) {
          if (!first) c.expect(',')
          first = false
          c.next() match {
            case TIdent(s) => params += s
            case other     => throw GizmoError(s"expected parameter name, got $other")
          }
        }
        c.expect(')')
        if (!c.peek.contains(TPunct('{')))
          throw GizmoError("expected function body { ... }")
        GFunc(params.result(), captureStatement(c), env)
      }

      private var callDepth = 0
      /** Stack of functions currently executing (innermost first) —
        * `super` resolves against the top one's classParent.
        */
      private var fnStack: List[GFunc] = Nil
      /** The generator whose body the CURRENT thread is executing (null
        * on the main program thread) — gates `yield` legality and routes
        * the yielded value to the right rendezvous.
        */
      private var curGen: GenCtx = null
      /** Carrier threads started by this program (runaway cap). */
      private var genThreads = 0

      /** Advance a generator one step: start/resume its carrier thread,
        * park the calling side until it yields/finishes, and restore the
        * caller's interpreter state afterwards. Returns (value, done).
        */
      private def genStep(g: GenCtx, msg: AnyRef): (GVal, Boolean) = {
        if (g.done) return (msg match {
          case GenReturnReq(v) => v
          case GenThrowReq(v)  => throw ThrowSignal(v)
          case _               => GNull
        }, true)
        if (!g.started) msg match {
          case GenReturnReq(v) =>
            // return() before the first next(): body never runs
            g.done = true
            return (v, true)
          case GenThrowReq(v) =>
            // throw() before the first next(): body never runs, the
            // exception surfaces at the caller (JS GeneratorResumeAbrupt)
            g.done = true
            throw ThrowSignal(v)
          case _ => ()
        }
        if (g.running)
          throw GizmoError("TypeError: generator is already running")
        val sEnv = env; val sDepth = callDepth; val sFn = fnStack
        val sLab = activeLabels; val sGen = curGen
        if (!g.started) {
          g.started = true
          genThreads += 1
          if (genThreads > 4096)
            throw GizmoError("too many live generators (max 4096)")
          // the state the generator body starts with: a fresh call frame
          // over the DEFINING env (closure semantics identical to a
          // plain call), its own empty label/function stacks
          val frame = new Env(g.f.env)
          g.thisVal.foreach(frame.declare("this", _))
          g.f.params.zipWithIndex.foreach { case (p, i) =>
            frame.declare(p, g.args.lift(i).getOrElse(GNull))
          }
          g.sEnv = frame; g.sDepth = 0; g.sFnStack = g.f :: Nil
          g.sLabels = Nil
          // the carrier polls the caller's request deadline in its loops
          val deadline = Deadline.flag
          val th = new Thread(() => Deadline.within(deadline)(runGeneratorBody(g)),
            s"gizmo-gen-$genThreads")
          th.setDaemon(true)
          th.start()
        }
        g.running = true
        g.toGen.put(msg)
        val res = g.fromGen.take()
        g.running = false
        env = sEnv; callDepth = sDepth; fnStack = sFn
        activeLabels = sLab; curGen = sGen
        res match {
          case GenYielded(v) => (v, false)
          case GenDone(v)    => g.done = true; (v, true)
          case GenFailed(t)  => g.done = true; throw t
          case other => throw GizmoError(s"generator protocol error: $other")
        }
      }

      /** Carrier-thread main: waits for the first next(), installs the
        * generator's interpreter state, runs the body to completion (or
        * an unwind), and hands the terminal message back.
        */
      private def runGeneratorBody(g: GenCtx): Unit = {
        val out: AnyRef =
          try {
            g.toGen.take() // first next(v): the sent value is discarded (JS)
            env = g.sEnv; callDepth = g.sDepth; fnStack = g.sFnStack
            activeLabels = g.sLabels; curGen = g
            try { runToks(g.f.body); GenDone(GNull) }
            catch {
              case ReturnSignal(v)        => GenDone(v)
              case GenReturnSignal(v)     => GenDone(v)
              case t @ ThrowSignal(_)     => GenFailed(t)
              case e: GizmoError          => GenFailed(e)
              case e: Deadline.Expired    => GenFailed(e)
              case _: StackOverflowError  =>
                GenFailed(GizmoError("call stack exhausted"))
              case e: InterruptedException => GenFailed(GizmoError(e.toString))
            }
          } catch { case e: InterruptedException => GenFailed(GizmoError(e.toString)) }
        g.fromGen.put(out)
      }

      /** `yield v` on the generator's carrier thread: snapshot the
        * interpreter state, hand v to the caller, park until resumed;
        * evaluates to the value the caller passed to next(v). A
        * gen.return(rv) wakes us with an unwind request instead.
        */
      private def genYield(v: GVal): GVal = {
        val g = curGen
        if (g == null || !fnStack.headOption.contains(g.f))
          throw GizmoError("yield outside of a generator")
        g.sEnv = env; g.sDepth = callDepth; g.sFnStack = fnStack
        g.sLabels = activeLabels
        g.fromGen.put(GenYielded(v))
        val msg = g.toGen.take()
        env = g.sEnv; callDepth = g.sDepth; fnStack = g.sFnStack
        activeLabels = g.sLabels; curGen = g
        msg match {
          case GenResume(sent)  => sent
          case GenReturnReq(rv) => throw GenReturnSignal(rv)
          // gen.throw(v): the exception materializes AT the yield, so a
          // try/catch inside the generator body can catch it and keep
          // yielding; uncaught, it unwinds to the caller as a throw
          case GenThrowReq(tv)  => throw ThrowSignal(tv)
          case other => throw GizmoError(s"generator protocol error: $other")
        }
      }

      /** Drain a generator eagerly (spread / Array.from), runaway-capped. */
      private def drainGen(g: GenCtx): Seq[GVal] = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[GVal]
        var going = true
        while (going) {
          val (v, done) = genStep(g, GenResume(GNull))
          if (done) going = false
          else {
            buf += v
            if (buf.size > 1000000) throw GizmoError(
              "cannot spread a generator of more than 1e6 values")
          }
        }
        buf.toSeq
      }

      /** `yield* iterable`: yield every element of an array / string /
        * Set / Map / inner generator; evaluates to the inner generator's
        * return value (GNull for the others, as their "return value").
        */
      private def genYieldStar(it: GVal): GVal = it match {
        case GArr(vs)  => vs.toSeq.foreach(genYield); GNull
        case GValue(QValue.Str(s)) =>
          s.foreach(ch => genYield(GValue(QValue.Str(ch.toString)))); GNull
        case sv: GSetV => sv.m.values.toSeq.foreach(genYield); GNull
        case mv: GMapV =>
          mv.m.values.toSeq.foreach { case (k, v) =>
            genYield(GArr(scala.collection.mutable.ArrayBuffer(k, v)))
          }; GNull
        case GGenV(inner) =>
          var sent: GVal = GNull
          var last: GVal = GNull
          var going = true
          while (going) {
            val (v, done) = genStep(inner, GenResume(sent))
            if (done) { last = v; going = false }
            else sent = genYield(v)
          }
          last
        case other => throw GizmoError(s"yield* cannot iterate $other")
      }

      /** The `{value, done}` iterator-result object. */
      private def genResultObj(v: GVal, done: Boolean): GVal =
        GObj(scala.collection.mutable.LinkedHashMap(
          "value" -> v, "done" -> (GBoolV(done): GVal)))

      /** Call a user function: a fresh frame chained to the DEFINING
        * environment (lexical scoping — closures read and write captured
        * variables through the chain), `return` unwinds via ReturnSignal.
        * Depth is capped so a runaway recursion raises GizmoError instead
        * of blowing the JVM stack (goja enforces its own stack limit the
        * same way).
        */
      private def callFunction(f: GFunc, args: Seq[GVal],
                               thisVal: Option[GVal] = None): GVal = {
        // calling a `function*` suspends-before-start: no body execution
        // until the first next()
        if (f.isGenerator) return GGenV(new GenCtx(f, args, thisVal))
        callDepth += 1
        if (callDepth > 256) {
          callDepth -= 1
          throw GizmoError("call stack exceeded 256 frames")
        }
        fnStack ::= f
        try callFunctionInner(f, args, thisVal)
        finally { callDepth -= 1; fnStack = fnStack.tail }
      }

      private def callFunctionInner(f: GFunc, args: Seq[GVal],
                                    thisVal: Option[GVal]): GVal = {
        val frame = new Env(f.env)
        // `this` is bound per-call (method receiver or `new` target); an
        // unbound `this` reads as an undefined variable. A plain nested
        // function sees the enclosing `this` through the chain (arrow-like;
        // goja non-strict would give the global object instead).
        thisVal.foreach(frame.declare("this", _))
        f.params.zipWithIndex.foreach { case (p, i) =>
          frame.declare(p, args.lift(i).getOrElse(GNull))
        }
        val saved = env
        env = frame
        try { runToks(f.body); GNull }
        catch {
          case ReturnSignal(v) => v
          case BreakSignal(_) | ContinueSignal(_) => // never crosses a function
            throw GizmoError("break/continue outside of a loop")
        }
        finally env = saved
      }

      /** `name += …`-style compound operator at the cursor, if any. */
      private def compoundOpAt(c: Cursor): Option[String] =
        c.toks.lift(c.pos + 1).collect {
          case TOp(op) if op.length == 2 && op.charAt(1) == '=' &&
            "+-*/%".indexOf(op.charAt(0)) >= 0 => op.substring(0, 1)
        }

      /** Lookahead: `name . field [ … ] =` property-element assignment? */
      private def isPropIndexAssign(c: Cursor): Boolean = {
        if (!c.toks.lift(c.pos + 1).contains(TPunct('.'))) return false
        if (!c.toks.lift(c.pos + 2).exists(_.isInstanceOf[TIdent])) return false
        if (!c.toks.lift(c.pos + 3).contains(TPunct('['))) return false
        var depth = 0
        var i = c.pos + 3
        while (i < c.toks.length) {
          c.toks(i) match {
            case TPunct('[') => depth += 1
            case TPunct(']') =>
              depth -= 1
              if (depth == 0)
                return c.toks.lift(i + 1).contains(TPunct('='))
            case _ =>
          }
          i += 1
        }
        false
      }

      /** Lookahead: `name [ … ] =` element assignment? */
      private def isIndexAssign(c: Cursor): Boolean = {
        if (!c.toks.lift(c.pos + 1).contains(TPunct('['))) return false
        var depth = 0
        var i = c.pos + 1
        while (i < c.toks.length) {
          c.toks(i) match {
            case TPunct('[') => depth += 1
            case TPunct(']') =>
              depth -= 1
              if (depth == 0)
                return c.toks.lift(i + 1).contains(TPunct('='))
            case _ =>
          }
          i += 1
        }
        false
      }

      /** Advance the cursor past exactly one statement, syntactically (no
        * evaluation) — used to resynchronize after a labeled statement is
        * exited early by `break label`.
        */
      private def skipStatement(c: Cursor): Unit = c.peek match {
        case Some(TPunct(';')) => c.next()
        case Some(TPunct('{')) => skipBraces(c)
        case Some(TIdent("while" | "for")) =>
          c.next(); captureParen(c); skipStatement(c)
        case Some(TIdent("switch")) =>
          c.next(); captureParen(c); skipBraces(c)
        case Some(TIdent("do")) =>
          c.next(); skipStatement(c)
          if (c.peek.contains(TIdent("while"))) { c.next(); captureParen(c) }
          if (c.peek.contains(TPunct(';'))) c.next()
        case Some(TIdent("if")) =>
          c.next(); captureParen(c); skipStatement(c)
          if (c.peek.contains(TPunct(';')) &&
            c.toks.lift(c.pos + 1).contains(TIdent("else"))) c.next()
          if (c.peek.contains(TIdent("else"))) { c.next(); skipStatement(c) }
        case Some(TIdent("try")) =>
          c.next(); skipBraces(c)
          if (c.peek.contains(TIdent("catch"))) {
            c.next()
            if (c.peek.contains(TPunct('('))) captureParen(c)
            skipBraces(c)
          }
          if (c.peek.contains(TIdent("finally"))) { c.next(); skipBraces(c) }
        case Some(TIdent(_)) if c.toks.lift(c.pos + 1).contains(TPunct(':')) =>
          c.next(); c.next(); skipStatement(c)
        case _ => // expression/declaration: to top-level ';' or block close
          var depth = 0
          var done = false
          while (!done && c.more) c.toks(c.pos) match {
            case TPunct('}') if depth == 0 => done = true
            case TPunct('(' | '[' | '{') => depth += 1; c.next()
            case TPunct(')' | ']' | '}') => depth -= 1; c.next()
            case TPunct(';') if depth == 0 => c.next(); done = true
            case _ => c.next()
          }
      }
      private def skipBraces(c: Cursor): Unit = {
        var depth = 0
        do {
          c.next() match {
            case TPunct('{') => depth += 1
            case TPunct('}') => depth -= 1
            case _           =>
          }
        } while (depth > 0 && c.more)
      }

      /** `break foo` / `continue foo`: consume a following ident as the
        * label only when it names a label currently in scope (the
        * tokenizer drops newlines, so a bare ident after `break` could
        * otherwise be the start of the next statement).
        */
      private def takeLabel(c: Cursor): Option[String] = c.peek match {
        case Some(TIdent(s)) if activeLabels.contains(s) => c.next(); Some(s)
        case _ => None
      }

      /** Capture a switch-case body: tokens up to (not consuming) the
        * next top-level `case`/`default` label or the closing '}'.
        */
      private def captureCaseBody(c: Cursor): Vector[Tok] = {
        val out = Vector.newBuilder[Tok]
        var depth = 0
        var done = false
        while (!done && c.more) c.peek match {
          case Some(TIdent("case" | "default")) if depth == 0 => done = true
          case Some(TPunct('}')) if depth == 0 => done = true
          case Some(t) =>
            c.next()
            t match {
              case TPunct('{' | '(' | '[') => depth += 1
              case TPunct('}' | ')' | ']') => depth -= 1
              case _                       =>
            }
            out += t
          case None => done = true
        }
        out.result()
      }

      /** Capture tokens up to (and consuming) a top-level ';'. */
      private def captureUntilSemi(c: Cursor): Vector[Tok] = {
        val start = c.pos
        var depth = 0
        while (c.more) {
          c.toks(c.pos) match {
            case TPunct('(') | TPunct('[') | TPunct('{') => depth += 1; c.next()
            case TPunct(')') | TPunct(']') | TPunct('}') => depth -= 1; c.next()
            case TPunct(';') if depth == 0 =>
              val slice = c.toks.slice(start, c.pos)
              c.next()
              return slice
            case _ => c.next()
          }
        }
        throw GizmoError("expected ';' in for(init; cond; update)")
      }

      /** Capture tokens up to (and consuming) the ')' closing the `for (`. */
      private def captureParenRest(c: Cursor): Vector[Tok] = {
        val start = c.pos
        var depth = 1
        while (c.more) {
          c.toks(c.pos) match {
            case TPunct('(') => depth += 1; c.next()
            case TPunct(')') =>
              depth -= 1
              if (depth == 0) {
                val slice = c.toks.slice(start, c.pos)
                c.next()
                return slice
              }
              c.next()
            case _ => c.next()
          }
        }
        throw GizmoError("unterminated for ( ... )")
      }

      /** Capture the parenthesized condition tokens (excl. the parens). */
      private def captureParen(c: Cursor): Vector[Tok] = {
        c.expect('(')
        val start = c.pos
        var depth = 1
        while (depth > 0 && c.more) {
          c.next() match {
            case TPunct('(') => depth += 1
            case TPunct(')') => depth -= 1
            case _           =>
          }
        }
        if (depth > 0) throw GizmoError("unterminated ( ... )")
        c.toks.slice(start, c.pos - 1)
      }

      /** Capture one statement (a `{...}` block or up to `;`/`}`/EOF) as a
        * token slice for re-execution (for-in loops, callbacks).
        */
      private def captureStatement(c: Cursor): Vector[Tok] = {
        val start = c.pos
        if (c.peek.contains(TPunct('{'))) {
          var depth = 0
          do {
            c.next() match {
              case TPunct('{') => depth += 1
              case TPunct('}') => depth -= 1
              case _           =>
            }
          } while (depth > 0 && c.more)
          c.toks.slice(start + 1, c.pos - 1)
        } else {
          var depth = 0
          var done = false
          while (!done && c.more) {
            c.toks(c.pos) match {
              case TPunct('(') | TPunct('[') | TPunct('{') => depth += 1; c.next()
              case TPunct(')') | TPunct(']') | TPunct('}') => depth -= 1; c.next()
              case TPunct(';') if depth == 0 => done = true
              case _                         => c.next()
            }
          }
          c.toks.slice(start, c.pos)
        }
      }

      private def strToValue(s: String): QValue = NQuads.parseTermOrString(s)

      private def expandIri(s: String): String = {
        val i = s.indexOf(':')
        if (i > 0 && namespaces.contains(s.substring(0, i)))
          namespaces(s.substring(0, i)) + s.substring(i + 1)
        else s
      }

      /** Consume a `...` spread marker if present (three '.' puncts). */
      private def takeSpread(c: Cursor): Boolean =
        if (c.peek.contains(TPunct('.')) &&
          c.toks.lift(c.pos + 1).contains(TPunct('.')) &&
          c.toks.lift(c.pos + 2).contains(TPunct('.'))) {
          c.next(); c.next(); c.next(); true
        } else false

      private def parseArgs(c: Cursor): Seq[GVal] = {
        c.expect('(')
        val args = Vector.newBuilder[GVal]
        var first = true
        while (!c.peek.contains(TPunct(')'))) {
          if (!first) c.expect(',')
          first = false
          if (takeSpread(c)) parseExpr(c) match {
            case GArr(vs)  => vs.foreach(args += _)
            case GGenV(g)  => drainGen(g).foreach(args += _)
            case GNull     => ()
            case other => throw GizmoError(s"cannot spread $other as arguments")
          }
          else args += parseExpr(c)
        }
        c.expect(')')
        args.result()
      }

      private def valuesOf(args: Seq[GVal]): Seq[QValue] = args.flatMap {
        case GNull          => Nil
        case GValue(v)      => Seq(v)
        case GArr(vs)       => valuesOf(vs.toSeq)
        case GNumV(d, true) => Seq(QValue.IntV(d.toLong))
        case GNumV(d, _)    => Seq(QValue.FloatV(d))
        case GBoolV(b)      => Seq(QValue.BoolV(b))
        case GTagMap(m)     => m.get("id").toSeq
        case other => throw GizmoError(s"expected value argument, got $other")
      }

      // Gizmo signature: out(predicate(s), tag(s)?) — the second argument,
      // when present, is always tags (traversals.go out/in/both).
      private def viaOf(args: Seq[GVal]): (Via, Seq[String]) = {
        def viaFrom(v: GVal): Via = v match {
          case GPath(p) => Via.Sub(p)
          case GNull    => Via.All
          case other    => Via.Values(valuesOf(Seq(other)))
        }
        args match {
          case Seq()    => (Via.All, Nil)
          case Seq(one) => (viaFrom(one), Nil)
          case Seq(one, rest @ _*) =>
            (viaFrom(one),
              valuesOf(rest).collect { case QValue.Str(t) => t })
        }
      }

      private def render(v: QValue): String = v.sortKey

      private def emit(v: GVal): Unit = v match {
        case GValue(qv)  => out = out :+ Map("id" -> render(qv))
        case GCount(n)   => out = out :+ Map("id" -> n.toString)
        case GNumV(d, i) => out = out :+ Map("id" ->
          (if (i || (d.isWhole && !d.isInfinite)) d.toLong.toString else d.toString))
        case GBoolV(b)   => out = out :+ Map("id" -> b.toString)
        case GTagMap(m)  => out = out :+ m.map { case (k, qv) => k -> render(qv) }
        case obj @ GObj(m) =>
          out = out :+ m.iterator.filterNot(_._1 == ProtoKey)
            .map { case (k, gv) => k -> renderVal(resolveProp(obj, gv)) }
            .toMap
        case GArr(vs)    => vs.foreach(emit)
        case d: GDateV   => out = out :+ Map("id" -> renderVal(d))
        case GNull       =>
        case other       => throw GizmoError(s"cannot emit $other")
      }

      private def call(c: Cursor, recv: GVal, name0: String, args: Seq[GVal]): GVal = {
        val name = if (name0.isEmpty) name0
          else s"${name0.charAt(0).toLower}${name0.substring(1)}"
        (recv, name) match {
          case (GEnv, "v" | "vertex") => GPath(Path.start(valuesOf(args): _*))
          case (GEnv, "m" | "morphism") => GPath(Path.morphism())
          case (GEnv, "iRI" | "iri") =>
            GValue(QValue.Iri(expandIri(argStr(args))))
          case (GEnv, "bnode") => GValue(QValue.BNode(argStr(args)))
          case (GEnv, "str") => GValue(QValue.Str(argStr(args)))
          case (GEnv, "raw") => args match {
            // string literals already parse as terms (strToValue)
            case Seq(v: GValue) => v
            case other => throw GizmoError(s"raw(term), got $other")
          }
          case (GEnv, "lang") => args.map(argStrOne) match {
            case Seq(v, l) => GValue(QValue.LangStr(v, l))
            case other => throw GizmoError(s"lang(value, lang), got $other")
          }
          case (GEnv, "typed") => args.map(argStrOne) match {
            case Seq(v, dt) => GValue(NQuads.typedValue(v, dt))
            case other => throw GizmoError(s"typed(value, type), got $other")
          }
          case (GEnv, "emit") =>
            args.foreach(emit); GNull
          case (GEnv, "addNamespace") =>
            args.map(argStrOne) match {
              case Seq(pre, full) => namespaces(pre) = full
              case other => throw GizmoError(s"addNamespace(prefix, iri), got $other")
            }
            GNull
          case (GEnv, "addDefaultNamespaces") =>
            namespaces ++= DefaultNamespaces; GNull
          case (GPath(p), m) => pathCall(p, m, args)
          case (GArr(vs), "length") if args.isEmpty =>
            GNumV(vs.length.toDouble, isInt = true)
          case (GResult(rows, _), "length") if args.isEmpty =>
            GNumV(rows.length.toDouble, isInt = true)
          case (GValue(QValue.Str(s)), "length") if args.isEmpty =>
            GNumV(s.length.toDouble, isInt = true)
          case (GValue(QValue.Str(s)), m) if strMethods(m) =>
            stringCall(s, m, args)
          case (GArr(vs), m) if arrMethods(m) => arrayCall(vs, m, args)
          case (GMath, m) => mathCall(m, args)
          case (GGenV(g), "next") =>
            val (v, done) =
              genStep(g, GenResume(args.headOption.getOrElse(GNull)))
            genResultObj(v, done)
          case (GGenV(g), "return") =>
            val (v, done) =
              genStep(g, GenReturnReq(args.headOption.getOrElse(GNull)))
            genResultObj(v, done)
          case (GGenV(g), "throw") =>
            val (v, done) =
              genStep(g, GenThrowReq(args.headOption.getOrElse(GNull)))
            genResultObj(v, done)
          case (mv: GMapV, m) => mapCall(mv, m, args)
          case (sv: GSetV, m) => setCall(sv, m, args)
          case (GDateNS, m)   => dateStaticCall(m, args)
          case (dv: GDateV, m) => dateCall(dv, m, args)
          case (GJson, "stringify") =>
            GValue(QValue.Str(jsonStringify(args.headOption.getOrElse(GNull))))
          case (GJson, "parse") =>
            jsonParse(argStrOne(args.headOption.getOrElse(
              throw GizmoError("JSON.parse expects a string"))))
          case (GObjectNS, "keys") => args.headOption match {
            case Some(GObj(om)) => GArr(scala.collection.mutable.ArrayBuffer(
              om.keys.toSeq.filterNot(_ == ProtoKey)
                .map(k => GValue(QValue.Str(k)): GVal): _*))
            case Some(GTagMap(tm)) => GArr(scala.collection.mutable.ArrayBuffer(
              tm.keys.toSeq.map(k => GValue(QValue.Str(k)): GVal): _*))
            case other => throw GizmoError(s"Object.keys expects an object, got $other")
          }
          case (GObjectNS, "values") => args.headOption match {
            case Some(obj @ GObj(om)) =>
              GArr(scala.collection.mutable.ArrayBuffer(
                om.iterator.filterNot(_._1 == ProtoKey)
                  .map(kv => resolveProp(obj, kv._2)).toSeq: _*))
            case Some(GTagMap(tm)) => GArr(scala.collection.mutable.ArrayBuffer(
              tm.values.toSeq.map(GValue(_): GVal): _*))
            case other => throw GizmoError(s"Object.values expects an object, got $other")
          }
          case (GArrayNS, "isArray") =>
            GBoolV(args.headOption.exists(_.isInstanceOf[GArr]))
          case (GArrayNS, "from") => args.headOption match {
            case Some(GArr(vs)) =>
              GArr(scala.collection.mutable.ArrayBuffer.from(vs))
            case Some(GValue(QValue.Str(str))) =>
              GArr(scala.collection.mutable.ArrayBuffer.from(
                str.map(ch => GValue(QValue.Str(ch.toString)): GVal)))
            case Some(sv: GSetV) =>
              GArr(scala.collection.mutable.ArrayBuffer.from(sv.m.values))
            case Some(mv: GMapV) =>
              GArr(scala.collection.mutable.ArrayBuffer.from(
                mv.m.values.map { case (k, v) =>
                  GArr(scala.collection.mutable.ArrayBuffer(k, v)): GVal
                }))
            case Some(GGenV(g)) =>
              GArr(scala.collection.mutable.ArrayBuffer.from(drainGen(g)))
            case Some(GNull) | None =>
              throw GizmoError("Array.from expects an iterable")
            case Some(other) =>
              throw GizmoError(s"Array.from: cannot iterate $other")
          }
          case (GObjectNS, "entries") => args.headOption match {
            case Some(obj @ GObj(om)) =>
              GArr(scala.collection.mutable.ArrayBuffer.from(
                om.iterator.filterNot(_._1 == ProtoKey).map { case (k, v) =>
                  GArr(scala.collection.mutable.ArrayBuffer(
                    GValue(QValue.Str(k)), resolveProp(obj, v))): GVal
                }))
            case other =>
              throw GizmoError(s"Object.entries expects an object, got $other")
          }
          case (GStringNS, "fromCharCode") =>
            GValue(QValue.Str(args.flatMap(num).map(_.toInt.toChar).mkString))
          case (GStringNS, "raw") => args match {
            // String.raw`…` — the tokenizer hands RAW (undecoded) parts
            // to this tag (see the template desugar); interleave them
            // with the rendered substitutions, JS's String.raw contract
            case scala.collection.immutable.Seq(GArr(parts), subs @ _*) =>
              val sb = new StringBuilder
              parts.zipWithIndex.foreach { case (p, k) =>
                sb.append(renderVal(p))
                if (k < subs.length) sb.append(renderVal(subs(k)))
              }
              GValue(QValue.Str(sb.toString))
            case other =>
              throw GizmoError(
                s"String.raw expects a template strings array, got $other")
          }
          case (GObjectNS, "fromEntries") => args.headOption match {
            // inverse of Object.entries: [ [k, v], … ] (or a Map) → object
            case Some(GArr(vs)) =>
              val om = scala.collection.mutable
                .LinkedHashMap.empty[String, GVal]
              vs.foreach {
                case GArr(pair) if pair.length >= 2 =>
                  om(renderVal(pair(0))) = pair(1)
                case other => throw GizmoError(
                  s"Object.fromEntries: not a [key, value] pair: $other")
              }
              GObj(om)
            case Some(mv: GMapV) =>
              val om = scala.collection.mutable
                .LinkedHashMap.empty[String, GVal]
              mv.m.values.foreach { case (k, v) => om(renderVal(k)) = v }
              GObj(om)
            case other => throw GizmoError(
              s"Object.fromEntries expects an iterable of pairs, got $other")
          }
          // Number.* predicates: NO coercion (unlike the global isNaN) —
          // non-numbers are simply false, per the ES spec
          case (GNumberNS, "isInteger") => GBoolV(args.headOption.exists {
            case GNumV(d, _) => !d.isNaN && !d.isInfinite && d.isWhole
            case _           => false
          })
          case (GNumberNS, "isSafeInteger") =>
            GBoolV(args.headOption.exists {
              case GNumV(d, _) => !d.isNaN && !d.isInfinite && d.isWhole &&
                math.abs(d) <= 9007199254740991.0
              case _ => false
            })
          case (GNumberNS, "isFinite") => GBoolV(args.headOption.exists {
            case GNumV(d, _) => !d.isNaN && !d.isInfinite
            case _           => false
          })
          case (GNumberNS, "isNaN") => GBoolV(args.headOption.exists {
            case GNumV(d, _) => d.isNaN
            case _           => false
          })
          case (GObjectNS, "assign") => args.headOption match {
            case Some(tgt @ GObj(tm)) =>
              args.drop(1).foreach {
                case GObj(sm) => sm.foreach { case (k, v) => tm(k) = v }
                case GNull    => ()
                case other => throw GizmoError(s"Object.assign: cannot merge $other")
              }
              tgt
            case other => throw GizmoError(s"Object.assign expects an object target, got $other")
          }
          case (f: GFunc, "prototype") if args.isEmpty => f.proto
          case (f: GFunc, nm) if args.isEmpty && f.statics.contains(nm) =>
            resolveProp(f, f.statics(nm))
          case (GRegex(pat, _), "test") =>
            // unanchored search, like JS RegExp.test — on the Re2 engine
            GBoolV(reProg(pat).find(renderVal(args.head), 0) != null)
          case (GRegex(pat, _), "exec") =>
            // JS RegExp.exec: [full, group1, …] (undefined→null for unset
            // groups) or null — submatches from the Re2 Pike VM
            execArr(pat, renderVal(args.head), 0)
          case (GRegex(pat, _), "source") if args.isEmpty =>
            GValue(QValue.Str(pat))
          case (GRegex(_, global), "global") if args.isEmpty =>
            GBoolV(global)
          case (obj @ GObj(om), field) if args.isEmpty =>
            resolveProp(obj, protoLookup(om, field).getOrElse(GNull))
          case (GTagMap(tm), field) if args.isEmpty =>
            tm.get(field).map(GValue(_)).getOrElse(GNull)
          case (recv, m) => throw GizmoError(s"cannot call .$m on $recv")
        }
      }

      /** Submatch slots → JS exec result array ([full, g1, …], unset
        * groups as null), or GNull when there is no match.
        */
      private def execArr(pat: String, s: String, from: Int): GVal = {
        val sl = reProg(pat).find(s, from)
        if (sl == null) GNull
        else GArr(scala.collection.mutable.ArrayBuffer.from(
          (0 until sl.length / 2).map { g =>
            if (sl(2 * g) < 0) GNull
            else GValue(QValue.Str(s.substring(sl(2 * g), sl(2 * g + 1))))
          }))
      }

      /** JS replacement-template expansion: $$ $& $` $' $1…$99 $<name>.
        * Unset-but-valid groups expand to ""; an invalid $n stays
        * literal (ECMAScript GetSubstitution).
        */
      private def expandDollar(tmpl: String, s: String, start: Int,
                               end: Int, groups: IndexedSeq[String],
                               p: graft.functions.Re2.Prog): String = {
        // java.lang.StringBuilder: the 3-arg append(CharSequence,from,to)
        // exists here; on scala's StringBuilder it would auto-tuple
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < tmpl.length) {
          val c = tmpl.charAt(i)
          if (c == '$' && i + 1 < tmpl.length) {
            tmpl.charAt(i + 1) match {
              case '$'  => sb.append('$'); i += 2
              case '&'  => sb.append(groups(0)); i += 2
              case '`'  => sb.append(s, 0, start); i += 2
              case '\'' => sb.append(s, end, s.length); i += 2
              case d if d.isDigit =>
                val two =
                  if (i + 2 < tmpl.length && tmpl.charAt(i + 2).isDigit)
                    (d - '0') * 10 + (tmpl.charAt(i + 2) - '0')
                  else -1
                if (two >= 1 && two <= p.groupCount) {
                  sb.append(Option(groups(two)).getOrElse("")); i += 3
                } else if (d - '0' >= 1 && d - '0' <= p.groupCount) {
                  sb.append(Option(groups(d - '0')).getOrElse("")); i += 2
                } else { sb.append(c); i += 1 }
              case '<' =>
                val close = tmpl.indexOf('>', i + 2)
                val byName =
                  if (close < 0) None
                  else {
                    val nm = tmpl.substring(i + 2, close)
                    (1 to p.groupCount).find(g => p.groupName(g) == nm)
                  }
                byName match {
                  case Some(g) =>
                    sb.append(Option(groups(g)).getOrElse(""))
                    i = close + 1
                  case None => sb.append(c); i += 1
                }
              case _ => sb.append(c); i += 1
            }
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      }

      /** Regex-driven String.replace: first match, or every match when
        * `all`. `by` is a template string or a callback
        * (match, g1…gn, offset, whole) — JS semantics including the
        * advance-by-one rule after an empty match.
        */
      private def regexReplace(s: String, pat: String, all: Boolean,
                               by: GVal): GVal = {
        val p = reProg(pat)
        val sb = new java.lang.StringBuilder
        var at = 0
        var done = false
        while (!done && at <= s.length) {
          val sl = p.find(s, at)
          if (sl == null) done = true
          else {
            sb.append(s, at, sl(0))
            val groups: IndexedSeq[String] = (0 until sl.length / 2).map {
              g =>
                if (sl(2 * g) < 0) null
                else s.substring(sl(2 * g), sl(2 * g + 1))
            }
            by match {
              case f: GFunc =>
                val fargs = groups.map { gv =>
                  if (gv == null) GNull else GValue(QValue.Str(gv))
                } ++ Seq(GNumV(sl(0).toDouble, isInt = true),
                  GValue(QValue.Str(s)))
                sb.append(renderVal(callFunction(f, fargs.toSeq)))
              case other =>
                sb.append(expandDollar(argStrOne(other), s, sl(0), sl(1),
                  groups, p))
            }
            at = sl(1)
            if (sl(1) == sl(0)) { // empty match: emit one char, step past
              if (at < s.length) sb.append(s.charAt(at))
              at += 1
            }
            if (!all) done = true
          }
        }
        if (at < s.length) sb.append(s, at, s.length)
        GValue(QValue.Str(sb.toString))
      }

      private val strMethods = Set("indexOf", "substring", "slice",
        "toLowerCase", "toUpperCase", "charAt", "trim", "split", "replace",
        "startsWith", "endsWith", "includes", "contains", "concat",
        "lastIndexOf", "charCodeAt", "repeat", "padStart", "padEnd",
        "replaceAll", "match", "search")

      /** JS String.prototype subset (the reference's goja VM exposes the
        * full prototype; these are the methods its corpus and docs use).
        */
      private def stringCall(s: String, m: String, args: Seq[GVal]): GVal = {
        def gstr(v: String) = GValue(QValue.Str(v))
        def a0 = argStrOne(args.head)
        def i0 = num(args.head).map(_.toInt).getOrElse(
          throw GizmoError(s".$m expects a number"))
        def clamp(i: Int) = math.max(0, math.min(s.length, i))
        m match {
          case "indexOf"     => GNumV(s.indexOf(a0).toDouble, isInt = true)
          case "toLowerCase" => gstr(s.toLowerCase)
          case "toUpperCase" => gstr(s.toUpperCase)
          case "trim"        => gstr(s.trim)
          case "charAt"      => gstr(if (i0 >= 0 && i0 < s.length) s.charAt(i0).toString else "")
          case "substring" | "slice" =>
            val from0 = i0
            val to0 = args.lift(1).flatMap(num).map(_.toInt).getOrElse(s.length)
            val (from, to) =
              if (m == "slice") { // slice: negatives count from the end
                def wrap(i: Int) = if (i < 0) s.length + i else i
                (clamp(wrap(from0)), clamp(wrap(to0)))
              } else (clamp(from0), clamp(to0))
            gstr(if (from <= to) s.substring(from, to)
              else if (m == "substring") s.substring(to, from) // JS swaps
              else "")
          case "split" => args.headOption match {
            case Some(GRegex(pat, _)) =>
              // ES SplitMatcher via repeated find: capture groups join
              // the output, empty matches never produce empty segments
              // at the current split point
              val p = reProg(pat)
              val out = scala.collection.mutable.ArrayBuffer.empty[GVal]
              if (s.isEmpty) {
                if (p.find(s, 0) == null) out += gstr(s)
              } else {
                var p0 = 0
                var q = 0
                while (q < s.length) {
                  val sl = p.find(s, q)
                  if (sl == null || sl(0) >= s.length) q = s.length
                  else if (sl(1) == p0) q = sl(0) + 1
                  else {
                    out += gstr(s.substring(p0, sl(0)))
                    (1 until sl.length / 2).foreach { g =>
                      out += (if (sl(2 * g) < 0) GNull
                        else gstr(s.substring(sl(2 * g), sl(2 * g + 1))))
                    }
                    p0 = sl(1)
                    q = if (sl(1) == sl(0)) sl(0) + 1 else sl(1)
                  }
                }
                out += gstr(s.substring(p0))
              }
              GArr(out)
            case _ =>
              val parts =
                if (args.isEmpty) Seq(s)
                else if (a0.isEmpty) s.map(_.toString)
                else {
                  // literal separator split, -1 keeps trailing empties (JS)
                  s.split(java.util.regex.Pattern.quote(a0), -1).toSeq
                }
              GArr(scala.collection.mutable.ArrayBuffer.from(parts.map(gstr)))
          }
          case "match" => args.headOption match {
            // non-global: exec result; global: every full match (JS)
            case Some(GRegex(pat, global)) =>
              if (!global) execArr(pat, s, 0)
              else {
                val p = reProg(pat)
                val out = scala.collection.mutable.ArrayBuffer.empty[GVal]
                var at = 0
                var done = false
                while (!done && at <= s.length) {
                  val sl = p.find(s, at)
                  if (sl == null) done = true
                  else {
                    out += gstr(s.substring(sl(0), sl(1)))
                    at = if (sl(1) == sl(0)) sl(1) + 1 else sl(1)
                  }
                }
                if (out.isEmpty) GNull else GArr(out)
              }
            case _ => throw GizmoError(".match expects a regex literal")
          }
          case "search" => args.headOption match {
            case Some(GRegex(pat, _)) =>
              val sl = reProg(pat).find(s, 0)
              GNumV(if (sl == null) -1 else sl(0).toDouble, isInt = true)
            case _ => throw GizmoError(".search expects a regex literal")
          }
          case "replace" => args.head match {
            case GRegex(pat, global) => // all matches iff /g (JS)
              regexReplace(s, pat, all = global, args(1))
            case _ => // first occurrence, literal (JS string arg)
              val by = argStrOne(args(1))
              val at = s.indexOf(a0)
              gstr(if (at < 0) s
                else s.substring(0, at) + by + s.substring(at + a0.length))
          }
          case "startsWith" => GBoolV(s.startsWith(a0))
          case "endsWith"   => GBoolV(s.endsWith(a0))
          case "includes" | "contains" => GBoolV(s.contains(a0))
          case "concat" => gstr(s + args.map(renderVal).mkString)
          case "lastIndexOf" =>
            GNumV(s.lastIndexOf(a0).toDouble, isInt = true)
          case "charCodeAt" =>
            val i = args.headOption.flatMap(num).map(_.toInt).getOrElse(0)
            if (i >= 0 && i < s.length)
              GNumV(s.charAt(i).toDouble, isInt = true)
            else GNumV(Double.NaN, isInt = false)
          case "repeat" =>
            if (i0 < 0) throw GizmoError(".repeat expects a non-negative count")
            gstr(s * i0)
          case "padStart" | "padEnd" =>
            val target = i0
            val pad = args.lift(1).map(argStrOne).getOrElse(" ")
            if (s.length >= target || pad.isEmpty) gstr(s)
            else {
              val fill = (pad * ((target - s.length) / pad.length + 1))
                .take(target - s.length)
              gstr(if (m == "padStart") fill + s else s + fill)
            }
          case "replaceAll" => args.head match {
            case GRegex(pat, global) =>
              if (!global) // JS TypeError
                throw GizmoError(
                  "replaceAll must be called with a global RegExp")
              regexReplace(s, pat, all = true, args(1))
            case _ => // every occurrence, literal
              gstr(s.replace(a0, argStrOne(args(1))))
          }
          case other    => throw GizmoError(s"unknown string method .$other")
        }
      }

      private val arrMethods = Set("push", "pop", "join", "indexOf",
        "slice", "concat", "includes", "contains", "shift", "reverse",
        "forEach", "map", "filter", "reduce", "some", "every", "find",
        "findIndex", "sort", "unshift")

      /** JS Array.prototype subset; push/pop/shift/unshift/reverse/sort
        * mutate the shared buffer, as JS does; the higher-order methods
        * (forEach/map/filter/reduce/some/every/find) call back into user
        * functions with (element, index).
        */
      private def arrayCall(vs: scala.collection.mutable.ArrayBuffer[GVal],
                            m: String, args: Seq[GVal]): GVal = m match {
        case "push" =>
          vs ++= args; GNumV(vs.length.toDouble, isInt = true)
        case "pop" =>
          if (vs.isEmpty) GNull else vs.remove(vs.length - 1)
        case "shift" =>
          if (vs.isEmpty) GNull else vs.remove(0)
        case "reverse" =>
          val r = vs.reverse; vs.clear(); vs ++= r; GArr(vs)
        case "join" =>
          val sep = args.headOption.map(argStrOne).getOrElse(",")
          GValue(QValue.Str(vs.map(renderVal).mkString(sep)))
        case "indexOf" =>
          GNumV(vs.indexWhere(v => eqVals(v, args.head, strict = true))
            .toDouble, isInt = true)
        case "includes" | "contains" =>
          GBoolV(vs.exists(v => eqVals(v, args.head, strict = true)))
        case "slice" =>
          def wrap(i: Int) = if (i < 0) vs.length + i else i
          val from = math.max(0, wrap(args.headOption.flatMap(num)
            .map(_.toInt).getOrElse(0)))
          val to = math.min(vs.length, wrap(args.lift(1).flatMap(num)
            .map(_.toInt).getOrElse(vs.length)))
          GArr(scala.collection.mutable.ArrayBuffer.from(
            if (from < to) vs.slice(from, to) else Nil))
        case "concat" =>
          val out = scala.collection.mutable.ArrayBuffer.from(vs)
          args.foreach {
            case GArr(other) => out ++= other
            case v           => out += v
          }
          GArr(out)
        case "unshift" =>
          vs.prependAll(args); GNumV(vs.length.toDouble, isInt = true)
        case "forEach" =>
          val f = arrCb(m, args)
          vs.zipWithIndex.foreach { case (v, i) =>
            callFunction(f, Seq(v, GNumV(i.toDouble, isInt = true)))
          }
          GNull
        case "map" =>
          val f = arrCb(m, args)
          GArr(vs.zipWithIndex.map { case (v, i) =>
            callFunction(f, Seq(v, GNumV(i.toDouble, isInt = true)))
          })
        case "filter" =>
          val f = arrCb(m, args)
          GArr(vs.zipWithIndex.collect {
            case (v, i) if truthy(callFunction(f,
              Seq(v, GNumV(i.toDouble, isInt = true)))) => v
          })
        case "reduce" =>
          val f = arrCb(m, args)
          val hasInit = args.length > 1
          if (vs.isEmpty && !hasInit)
            throw GizmoError("reduce of empty array with no initial value")
          var acc = if (hasInit) args(1) else vs.head
          var i = if (hasInit) 0 else 1
          while (i < vs.length) {
            acc = callFunction(f,
              Seq(acc, vs(i), GNumV(i.toDouble, isInt = true)))
            i += 1
          }
          acc
        case "some" =>
          val f = arrCb(m, args)
          GBoolV(vs.zipWithIndex.exists { case (v, i) =>
            truthy(callFunction(f, Seq(v, GNumV(i.toDouble, isInt = true))))
          })
        case "every" =>
          val f = arrCb(m, args)
          GBoolV(vs.zipWithIndex.forall { case (v, i) =>
            truthy(callFunction(f, Seq(v, GNumV(i.toDouble, isInt = true))))
          })
        case "find" | "findIndex" =>
          val f = arrCb(m, args)
          val idx = vs.zipWithIndex.indexWhere { case (v, i) =>
            truthy(callFunction(f, Seq(v, GNumV(i.toDouble, isInt = true))))
          }
          if (m == "findIndex") GNumV(idx.toDouble, isInt = true)
          else if (idx >= 0) vs(idx) else GNull
        case "sort" =>
          // default: JS string-comparison sort; with a comparator, its
          // numeric sign decides (in-place, returns the same array)
          val sorted = args.headOption match {
            case Some(f: GFunc) =>
              vs.sortWith { (a, b) =>
                num(callFunction(f, Seq(a, b))).getOrElse(0.0) < 0
              }
            case None => vs.sortBy(renderVal)
            case Some(other) =>
              throw GizmoError(s".sort expects a comparator function, got $other")
          }
          vs.clear(); vs ++= sorted; GArr(vs)
        case other => throw GizmoError(s"unknown array method .$other")
      }

      /** Own-then-prototype-chain property lookup (depth-capped; a cycle
        * via __proto__ assignment cannot loop forever).
        */
      private def protoLookup(
          m: scala.collection.mutable.LinkedHashMap[String, GVal],
          name: String): Option[GVal] = {
        var cur = m
        var depth = 0
        while (depth < 32) {
          if (cur.contains(name)) return Some(cur(name))
          cur.get(ProtoKey) match {
            case Some(GObj(pm)) => cur = pm; depth += 1
            case _              => return None
          }
        }
        None
      }

      /** SameValueZero-ish key for Map/Set: primitives by typed value,
        * everything else by object identity (like JS reference keys).
        */
      private def mapKeyOf(v: GVal): String = v match {
        case GNumV(d, _) =>
          "n:" + (if (d.isWhole && !d.isInfinite) d.toLong.toString
                  else d.toString)
        case GCount(n)  => "n:" + n
        case GBoolV(b)  => "b:" + b
        case GNull      => "null"
        case GValue(qv) => "q:" + qv.getClass.getSimpleName + ":" + qv.sortKey
        case other      => "ref:" + System.identityHashCode(other)
      }

      private def mapCall(mv: GMapV, m: String, args: Seq[GVal]): GVal = m match {
        case "set" =>
          mv.m(mapKeyOf(args.head)) =
            (args.head, args.lift(1).getOrElse(GNull))
          mv
        case "get" =>
          mv.m.get(mapKeyOf(args.head)).map(_._2).getOrElse(GNull)
        case "has" => GBoolV(mv.m.contains(mapKeyOf(args.head)))
        case "delete" =>
          GBoolV(mv.m.remove(mapKeyOf(args.head)).isDefined)
        case "clear" => mv.m.clear(); GNull
        case "size" if args.isEmpty =>
          GNumV(mv.m.size.toDouble, isInt = true)
        case "forEach" =>
          val f = arrCb(m, args)
          mv.m.values.toVector.foreach { case (k, v) =>
            callFunction(f, Seq(v, k))
          }
          GNull
        case "keys" => GArr(scala.collection.mutable.ArrayBuffer.from(
          mv.m.values.map(_._1)))
        case "values" => GArr(scala.collection.mutable.ArrayBuffer.from(
          mv.m.values.map(_._2)))
        case "entries" => GArr(scala.collection.mutable.ArrayBuffer.from(
          mv.m.values.map { case (k, v) =>
            GArr(scala.collection.mutable.ArrayBuffer(k, v)): GVal
          }))
        case other => throw GizmoError(s"unknown Map method .$other")
      }

      private def setCall(sv: GSetV, m: String, args: Seq[GVal]): GVal = m match {
        case "add" => sv.m(mapKeyOf(args.head)) = args.head; sv
        case "has" => GBoolV(sv.m.contains(mapKeyOf(args.head)))
        case "delete" =>
          GBoolV(sv.m.remove(mapKeyOf(args.head)).isDefined)
        case "clear" => sv.m.clear(); GNull
        case "size" if args.isEmpty =>
          GNumV(sv.m.size.toDouble, isInt = true)
        case "forEach" =>
          val f = arrCb(m, args)
          sv.m.values.toVector.foreach(v => callFunction(f, Seq(v, v)))
          GNull
        case "values" | "keys" =>
          GArr(scala.collection.mutable.ArrayBuffer.from(sv.m.values))
        case other => throw GizmoError(s"unknown Set method .$other")
      }

      // ------------------------------------------------------------ Date

      /** Parse the deterministic Date input forms to UTC epoch millis:
        * ISO date (`2020-01-02`), ISO date-time with optional fractional
        * seconds and offset (`2020-01-02T03:04[:05[.sss]][Z|±HH:MM]`).
        * UTC-only engine: a missing offset means UTC (JS would read the
        * host zone — non-deterministic, so deliberately diverged).
        */
      private def parseDateMs(s0: String): Long = {
        val s = s0.trim
        val iso = ("^(\\d{4})-(\\d{2})-(\\d{2})" +
          "(?:[T ](\\d{2}):(\\d{2})(?::(\\d{2})(?:\\.(\\d{1,3}))?)?" +
          "(Z|[+-]\\d{2}:?\\d{2})?)?$").r
        s match {
          case iso(y, mo, d, hh, mi, ss, fr, off) =>
            def i(x: String, dflt: Int = 0) = if (x == null) dflt else x.toInt
            val ms = if (fr == null) 0 else (fr + "00").take(3).toInt
            try {
              val odt = java.time.OffsetDateTime.of(
                i(y), i(mo), i(d), i(hh), i(mi), i(ss), ms * 1000000,
                java.time.ZoneOffset.UTC)
              val offMs: Long = off match {
                case null | "Z" => 0L
                case o =>
                  val sign = if (o.charAt(0) == '-') -1L else 1L
                  val digits = o.substring(1).replace(":", "")
                  sign * (digits.take(2).toLong * 3600000L +
                    digits.drop(2).toLong * 60000L)
              }
              odt.toInstant.toEpochMilli - offMs
            } catch {
              case e: java.time.DateTimeException =>
                throw GizmoError(s"invalid date '$s': ${e.getMessage}")
            }
          case _ => throw GizmoError(
            s"cannot parse date '$s' (ISO-8601 only; Date is UTC-only)")
        }
      }

      /** JS `toISOString()`: always milliseconds, always `Z`. */
      private def isoOf(ms: Long): String =
        java.time.format.DateTimeFormatter
          .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS'Z'")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(ms))

      /** `new Date(...)` from the deterministic argument forms. */
      private def dateFromArgs(args: Seq[GVal]): GDateV = args match {
        case Seq() => throw GizmoError(
          "new Date() without arguments is non-deterministic; pass an " +
            "ISO-8601 string, epoch millis, or (y, m, d, ...) UTC fields")
        case Seq(GDateV(ms)) => GDateV(ms)
        case Seq(GValue(QValue.Str(s))) => GDateV(parseDateMs(s))
        case Seq(one) if num(one).isDefined => GDateV(num(one).get.toLong)
        case many if many.length >= 2 && many.forall(num(_).isDefined) =>
          val f = many.map(num(_).get.toInt).padTo(7, 0)
          try {
            val odt = java.time.OffsetDateTime.of(
              f(0), f(1) + 1, math.max(f(2), 1), f(3), f(4), f(5),
              f(6) * 1000000, java.time.ZoneOffset.UTC)
            GDateV(odt.toInstant.toEpochMilli)
          } catch {
            case e: java.time.DateTimeException =>
              throw GizmoError(s"invalid date fields: ${e.getMessage}")
          }
        case other => throw GizmoError(s"new Date: cannot construct from $other")
      }

      /** Statics on the `Date` namespace. NOTE: the dispatcher lowercases
        * the first character of method names, so `Date.UTC` arrives as
        * `uTC`. `Date.now()` is a documented error (non-deterministic).
        */
      private def dateStaticCall(m: String, args: Seq[GVal]): GVal = m match {
        case "uTC" | "utc" =>
          GNumV(dateFromArgs(args.padTo(2, GNumV(0, isInt = true)))
            .millis.toDouble, isInt = true)
        case "parse" => args match {
          case Seq(GValue(QValue.Str(s))) =>
            GNumV(parseDateMs(s).toDouble, isInt = true)
          case other => throw GizmoError(s"Date.parse expects a string, got $other")
        }
        case "now" => throw GizmoError(
          "Date.now() is non-deterministic and not supported; construct " +
            "dates from explicit values")
        case other => throw GizmoError(s"unknown Date method .$other")
      }

      private def dateCall(dv: GDateV, m: String, args: Seq[GVal]): GVal = {
        def field(f: java.time.OffsetDateTime => Int): GVal =
          GNumV(f(java.time.Instant.ofEpochMilli(dv.millis)
            .atOffset(java.time.ZoneOffset.UTC)).toDouble, isInt = true)
        m match {
          case "getTime" | "valueOf" =>
            GNumV(dv.millis.toDouble, isInt = true)
          case "getUTCFullYear" | "getFullYear" => field(_.getYear)
          case "getUTCMonth" | "getMonth" => field(_.getMonthValue - 1)
          case "getUTCDate" | "getDate"   => field(_.getDayOfMonth)
          // JS day-of-week: 0 = Sunday; ISO: 1 = Monday … 7 = Sunday
          case "getUTCDay" | "getDay" => field(_.getDayOfWeek.getValue % 7)
          case "getUTCHours" | "getHours"     => field(_.getHour)
          case "getUTCMinutes" | "getMinutes" => field(_.getMinute)
          case "getUTCSeconds" | "getSeconds" => field(_.getSecond)
          case "getUTCMilliseconds" | "getMilliseconds" =>
            field(_.getNano / 1000000)
          case "getTimezoneOffset" => GNumV(0, isInt = true) // UTC-only
          case "toISOString" | "toJSON" | "toString" | "toUTCString" =>
            GValue(QValue.Str(isoOf(dv.millis)))
          case other => throw GizmoError(s"unknown Date method .$other")
        }
      }

      /** Resolve a read property value: accessor properties invoke their
        * getter with `this` bound to the owning object.
        */
      private def resolveProp(owner: GVal, v: GVal): GVal = v match {
        case GAccessor(g, _) =>
          g.map(f => callFunction(f, Nil, thisVal = Some(owner)))
            .getOrElse(GNull)
        case other => other
      }

      /** First argument of an array higher-order method must be a
        * function value.
        */
      private def arrCb(m: String, args: Seq[GVal]): GFunc =
        args.headOption match {
          case Some(f: GFunc) => f
          case other => throw GizmoError(s".$m expects a function, got $other")
        }

      private def mathCall(m: String, args: Seq[GVal]): GVal = {
        def n0 = num(args.head).getOrElse(
          throw GizmoError(s"Math.$m expects a number"))
        def n1 = num(args(1)).getOrElse(
          throw GizmoError(s"Math.$m expects numbers"))
        m match {
          case "floor" => GNumV(math.floor(n0), isInt = true)
          case "ceil"  => GNumV(math.ceil(n0), isInt = true)
          case "round" => GNumV(math.round(n0).toDouble, isInt = true)
          case "abs"   => val d = math.abs(n0); GNumV(d, isInt = d == d.floor)
          case "sqrt"  => val d = math.sqrt(n0); GNumV(d, isInt = d == d.floor)
          case "pow"   => val d = math.pow(n0, n1); GNumV(d, isInt = d == d.floor)
          case "min" =>
            val d = args.flatMap(num).min; GNumV(d, isInt = d == d.floor)
          case "max" =>
            val d = args.flatMap(num).max; GNumV(d, isInt = d == d.floor)
          case "log"   => GNumV(math.log(n0), isInt = false)
          case "log2"  => GNumV(math.log(n0) / math.log(2), isInt = false)
          case "log10" => GNumV(math.log10(n0), isInt = false)
          case "exp"   => GNumV(math.exp(n0), isInt = false)
          case "trunc" => GNumV(n0.toLong.toDouble, isInt = true)
          case "sign"  => GNumV(math.signum(n0), isInt = true)
          case other => throw GizmoError(s"unknown Math method .$other")
        }
      }

      /** JSON.stringify: function-valued object fields are dropped and
        * array slots become null, as in JS; query values render as their
        * string form.
        */
      private def jsonStringify(v: GVal): String = v match {
        case GNull       => "null"
        case GBoolV(b)   => b.toString
        case GNumV(d, i) =>
          if (d.isNaN || d.isInfinite) "null"
          else if (i || d.isWhole) d.toLong.toString else d.toString
        case GCount(n)   => n.toString
        case GValue(QValue.Str(s)) => jsonQuote(s)
        case GValue(qv)  => jsonQuote(qv.sortKey)
        case GDateV(ms)  => jsonQuote(isoOf(ms)) // Date.prototype.toJSON
        case GArr(vs)    =>
          vs.map(x => if (x.isInstanceOf[GFunc]) "null" else jsonStringify(x))
            .mkString("[", ",", "]")
        case obj @ GObj(m) =>
          m.iterator.filterNot { case (k, x) =>
            x.isInstanceOf[GFunc] || k == ProtoKey }
            .map { case (k, x) =>
              jsonQuote(k) + ":" + jsonStringify(resolveProp(obj, x)) }
            .mkString("{", ",", "}")
        case GTagMap(m)  =>
          m.iterator.map { case (k, qv) => jsonQuote(k) + ":" + jsonQuote(qv.sortKey) }
            .mkString("{", ",", "}")
        case other => throw GizmoError(s"JSON.stringify: cannot serialize $other")
      }
      private def jsonQuote(s: String): String = {
        val b = new StringBuilder("\"")
        s.foreach {
          case '"'  => b.append("\\\"")
          case '\\' => b.append("\\\\")
          case '\n' => b.append("\\n")
          case '\r' => b.append("\\r")
          case '\t' => b.append("\\t")
          case '\b' => b.append("\\b")
          case '\f' => b.append("\\f")
          case ch if ch < ' ' => b.append(f"\\u${ch.toInt}%04x")
          case ch => b.append(ch)
        }
        b.append('"').toString
      }

      /** JSON.parse → GObj/GArr/number/string/bool/null (mutable,
        * reference-shared, like every other Gizmo object).
        */
      private def jsonParse(s: String): GVal = {
        var i = 0
        def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
        def fail(msg: String) = throw GizmoError(s"JSON.parse: $msg at $i")
        def value(): GVal = {
          ws()
          if (i >= s.length) fail("unexpected end")
          s.charAt(i) match {
            case '{' =>
              i += 1
              val m = scala.collection.mutable.LinkedHashMap.empty[String, GVal]
              ws()
              if (i < s.length && s.charAt(i) == '}') { i += 1; return GObj(m) }
              while (true) {
                ws()
                if (i >= s.length || s.charAt(i) != '"') fail("expected key")
                val k = str()
                ws()
                if (i >= s.length || s.charAt(i) != ':') fail("expected ':'")
                i += 1
                m(k) = value()
                ws()
                if (i < s.length && s.charAt(i) == ',') i += 1
                else if (i < s.length && s.charAt(i) == '}') { i += 1; return GObj(m) }
                else fail("expected ',' or '}'")
              }
              GObj(m)
            case '[' =>
              i += 1
              val a = scala.collection.mutable.ArrayBuffer.empty[GVal]
              ws()
              if (i < s.length && s.charAt(i) == ']') { i += 1; return GArr(a) }
              while (true) {
                a += value()
                ws()
                if (i < s.length && s.charAt(i) == ',') i += 1
                else if (i < s.length && s.charAt(i) == ']') { i += 1; return GArr(a) }
                else fail("expected ',' or ']'")
              }
              GArr(a)
            case '"' => GValue(QValue.Str(str()))
            case 't' =>
              if (s.startsWith("true", i)) { i += 4; GBoolV(true) }
              else fail("bad literal")
            case 'f' =>
              if (s.startsWith("false", i)) { i += 5; GBoolV(false) }
              else fail("bad literal")
            case 'n' =>
              if (s.startsWith("null", i)) { i += 4; GNull }
              else fail("bad literal")
            case _ =>
              val start = i
              if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
              while (i < s.length && (s.charAt(i).isDigit || "+-.eE".indexOf(s.charAt(i)) >= 0)) i += 1
              if (i == start) fail("unexpected character")
              val t = s.substring(start, i)
              scala.util.Try(t.toDouble).toOption
                .map(d => GNumV(d, isInt = d.isWhole && !t.contains('.') &&
                  !t.toLowerCase.contains('e')))
                .getOrElse(fail("bad number"))
          }
        }
        def str(): String = {
          i += 1 // opening quote
          val b = new StringBuilder
          while (i < s.length && s.charAt(i) != '"') {
            s.charAt(i) match {
              case '\\' if i + 1 < s.length =>
                i += 1
                s.charAt(i) match {
                  case '"'  => b.append('"'); i += 1
                  case '\\' => b.append('\\'); i += 1
                  case '/'  => b.append('/'); i += 1
                  case 'n'  => b.append('\n'); i += 1
                  case 'r'  => b.append('\r'); i += 1
                  case 't'  => b.append('\t'); i += 1
                  case 'b'  => b.append('\b'); i += 1
                  case 'f'  => b.append('\f'); i += 1
                  case 'u' if i + 4 < s.length =>
                    b.append(hexEscape(s.substring(i + 1, i + 5)).toChar)
                    i += 5
                  case other => fail(s"bad escape \\$other")
                }
              case ch => b.append(ch); i += 1
            }
          }
          if (i >= s.length) fail("unterminated string")
          i += 1 // closing quote
          b.toString
        }
        val v = value()
        ws()
        if (i < s.length) fail("trailing content")
        v
      }

      private def argStr(args: Seq[GVal]): String = args match {
        case Seq(one) => argStrOne(one)
        case other    => throw GizmoError(s"expected one string arg, got $other")
      }
      private def argStrOne(v: GVal): String = v match {
        case GValue(QValue.Str(s)) => s
        case GValue(v2)            => v2.sortKey
        case other => throw GizmoError(s"expected string arg, got $other")
      }

      private def filtersOf(args: Seq[GVal]): Seq[ValueFilter] = args.map {
        case GFilter(f) => f
        case other      => throw GizmoError(s"expected filter, got $other")
      }

      private def pathCall(p: Path, m: String, args: Seq[GVal]): GVal = m match {
        case "is" => GPath(p.is(valuesOf(args): _*))
        case "out" =>
          val (via, tags) = viaOf(args)
          GPath(p.copy(steps = p.steps :+ graft.path.Step.Out(via, tags)))
        case "in" =>
          val (via, tags) = viaOf(args)
          GPath(p.copy(steps = p.steps :+ graft.path.Step.In(via, tags)))
        case "both" =>
          val (via, tags) = viaOf(args)
          GPath(p.copy(steps = p.steps :+ graft.path.Step.Both(via, tags)))
        case "follow"         => GPath(p.follow(argPath(args)))
        case "followR" | "followReverse" => GPath(p.followReverse(argPath(args)))
        case "followRecursive" =>
          val depth = args.collectFirst { case GNumV(d, true) => d.toInt }.getOrElse(0)
          // string args after the morphism are depth tags (recursive.go)
          val depthTags = args.tail.collect { case GValue(QValue.Str(t)) => t }
          args.head match {
            case GValue(v)  => GPath(p.followRecursive(v, depth, depthTags))
            case GPath(sub) => GPath(p.followRecursive(sub, depth, depthTags))
            case other      => throw GizmoError(s"bad followRecursive arg $other")
          }
        case "and" | "intersect" => GPath(p.and(argPath(args)))
        case "or" | "union"      => GPath(p.or(argPath(args)))
        case "back"              => GPath(p.back(argStr(args)))
        case "tag" | "as" =>
          GPath(valuesOf(args).collect { case QValue.Str(t) => t }
            .foldLeft(p)((pp, t) => pp.tag(t)))
        case "has" =>
          val via = valuesOf(Seq(args.head)).head
          val (fs, vals) = args.tail.partition(_.isInstanceOf[GFilter])
          if (fs.nonEmpty) GPath(p.hasFilter(via, rev = false, filtersOf(fs): _*))
          else GPath(p.has(via, valuesOf(vals): _*))
        case "hasR" =>
          val via = valuesOf(Seq(args.head)).head
          GPath(p.hasReverse(via, valuesOf(args.tail): _*))
        case "save" =>
          val vs = valuesOf(args)
          val tag = vs.lift(1).collect { case QValue.Str(t) => t }
            .getOrElse(defaultTag(vs.head))
          GPath(p.save(vs.head, tag))
        case "saveR" =>
          val vs = valuesOf(args)
          val tag = vs.lift(1).collect { case QValue.Str(t) => t }
            .getOrElse(defaultTag(vs.head))
          GPath(p.saveReverse(vs.head, tag))
        case "saveOpt" | "saveOptional" =>
          val vs = valuesOf(args)
          val tag = vs.lift(1).collect { case QValue.Str(t) => t }
            .getOrElse(defaultTag(vs.head))
          GPath(p.saveOptional(vs.head, tag))
        case "saveOptR" =>
          val vs = valuesOf(args)
          val tag = vs.lift(1).collect { case QValue.Str(t) => t }
            .getOrElse(defaultTag(vs.head))
          GPath(p.saveOptionalReverse(vs.head, tag))
        case "except" | "difference" => GPath(p.except(argPath(args)))
        case "unique"                => GPath(p.unique())
        case "labels"                => GPath(p.labels())
        case "inPredicates"          => GPath(p.inPredicates())
        case "outPredicates"         => GPath(p.outPredicates())
        case "saveInPredicates" =>
          GPath(p.savePredicates(rev = true, argStr(args)))
        case "saveOutPredicates" =>
          GPath(p.savePredicates(rev = false, argStr(args)))
        case "labelContext" =>
          GPath(p.labelContext(valuesOf(args): _*))
        case "filter" => GPath(p.filter(filtersOf(args): _*))
        case "skip"   => GPath(p.skip(argInt(args)))
        case "limit"  => GPath(p.limit(argInt(args)))
        case "order"  => GPath(p.order())
        // finals
        case "all"      => result(p, limit)
        case "getLimit" => result(p, argInt(args).toInt)
        case "count" => GCount(Exec.run(g, p).count())
        case "toArray" =>
          val lim = args.collectFirst { case GNumV(d, _) => d.toInt }.getOrElse(-1)
          GArr(scala.collection.mutable.ArrayBuffer.from(
            rawRows(p, lim).flatMap(_.get("id")).map(GValue(_))))
        case "tagArray" =>
          val lim = args.collectFirst { case GNumV(d, _) => d.toInt }.getOrElse(-1)
          result(p, lim)
        case "toValue" =>
          Exec.run(g, p.limit(1)).values().headOption
            .map(GValue(_)).getOrElse(GNull)
        case "tagValue" =>
          val limited = p.limit(1).tag("id")
          Exec.run(g, limited).tagMaps().headOption
            .map(GTagMap(_)).getOrElse(GNull)
        case "forEach" | "map" =>
          val lim = args.collectFirst { case GNumV(d, _) => d.toInt }.getOrElse(-1)
          val fn = args.collectFirst { case f: GFunc => f }.getOrElse(
            throw GizmoError(s".$m requires a function(x){...} callback"))
          // a real call per row: the callback's frame chains to its
          // DEFINING env, so closures over outer variables work and the
          // row parameter never leaks into the caller's scope
          rawRows(p, lim).foreach { row =>
            callFunction(fn, Seq(GTagMap(row)))
          }
          GNull
        case other => throw GizmoError(s"unknown traversal .$other")
      }

      private def defaultTag(v: QValue): String = v.sortKey

      private def argPath(args: Seq[GVal]): Path = args match {
        case Seq(GPath(p)) => p
        case other         => throw GizmoError(s"expected path arg, got $other")
      }
      private def argInt(args: Seq[GVal]): Long = args match {
        case Seq(GNumV(d, _)) => d.toLong
        case other            => throw GizmoError(s"expected number, got $other")
      }

      private def rawRows(p: Path, lim: Int): Seq[Map[String, QValue]] = {
        val limited = if (lim > 0) p.limit(lim) else p
        Exec.run(g, limited.tag("id")).tagMaps()
      }

      private def result(p: Path, lim: Int): GResult = {
        val raw = rawRows(p, lim)
        GResult(raw.map(_.map { case (k, v) => k -> render(v) }), raw)
      }

      private def parsePrimary(c: Cursor): GVal = c.next() match {
        // the reference binds both `graph` and its alias `g` (gizmo.go:113-114)
        case TIdent("g") | TIdent("graph") => GEnv
        case TIdent("var")   => throw GizmoError("internal: var in expr")
        case TIdent("true")  => GBoolV(true)
        case TIdent("false") => GBoolV(false)
        case TIdent("null")  => GNull
        case TIdent("super") =>
          val parent = fnStack.headOption.flatMap(_.classParent).getOrElse(
            throw GizmoError("super outside a derived-class member"))
          val thisV = env.get("this").getOrElse(
            throw GizmoError("super requires a bound this"))
          if (c.peek.contains(TPunct('('))) {
            // super(args): run the parent constructor on this instance
            callFunction(parent, parseArgs(c), thisVal = Some(thisV))
            GNull
          } else {
            c.expect('.')
            val mname = c.next() match {
              case TIdent(m) => m
              case other => throw GizmoError(s"expected member after super., got $other")
            }
            val member = protoLookup(parent.proto.m, mname).getOrElse(
              throw GizmoError(s"super.$mname is not defined"))
            if (c.peek.contains(TPunct('('))) {
              val args = parseArgs(c)
              resolveProp(thisV, member) match {
                case f: GFunc => callFunction(f, args, thisVal = Some(thisV))
                case other => throw GizmoError(s"super.$mname is not a function ($other)")
              }
            } else resolveProp(thisV, member)
          }
        case TIdent("function") =>
          // anonymous: function(p1, p2) { ... } / function*(p1) { ... }
          val isGen = c.peek.contains(TOp("*"))
          if (isGen) c.next()
          val fn = parseFunctionRest(c)
          fn.isGenerator = isGen
          fn
        case TIdent("new") =>
          // `new F(args)`: fresh object bound as `this` during the call;
          // an object-valued return overrides it (JS semantics). Callee is
          // a simple identifier (no member-expression constructors).
          val ctorName = c.next() match {
            case TIdent(s) => s
            case other => throw GizmoError(s"expected constructor name, got $other")
          }
          val userCtor = env.get(ctorName)
          if (userCtor.isEmpty &&
              (ctorName == "Map" || ctorName == "Set" || ctorName == "Date")) {
            val args = if (c.peek.contains(TPunct('('))) parseArgs(c) else Seq()
            if (ctorName == "Date") {
              return dateFromArgs(args)
            } else if (ctorName == "Map") {
              val mv = GMapV(scala.collection.mutable.LinkedHashMap.empty)
              args.headOption.foreach {
                case GArr(pairs) => pairs.foreach {
                  case GArr(kv) if kv.nonEmpty =>
                    mv.m(mapKeyOf(kv(0))) = (kv(0), kv.lift(1).getOrElse(GNull))
                  case other =>
                    throw GizmoError(s"new Map expects [key, value] pairs, got $other")
                }
                case GNull => ()
                case other => throw GizmoError(s"new Map: cannot iterate $other")
              }
              return mv
            } else {
              val sv = GSetV(scala.collection.mutable.LinkedHashMap.empty)
              args.headOption.foreach {
                case GArr(vs) => vs.foreach(v => sv.m(mapKeyOf(v)) = v)
                case GValue(QValue.Str(str)) =>
                  str.foreach { ch =>
                    val v = GValue(QValue.Str(ch.toString)); sv.m(mapKeyOf(v)) = v
                  }
                case GNull => ()
                case other => throw GizmoError(s"new Set: cannot iterate $other")
              }
              return sv
            }
          }
          val ctor = userCtor.getOrElse(
            throw GizmoError(s"undefined constructor $ctorName")) match {
            case f: GFunc if f.isGenerator =>
              throw GizmoError(s"TypeError: $ctorName is not a constructor")
            case f: GFunc => f
            case other => throw GizmoError(s"new requires a function, got $other")
          }
          val args = if (c.peek.contains(TPunct('('))) parseArgs(c) else Seq()
          val obj = GObj(scala.collection.mutable.LinkedHashMap.empty[String, GVal])
          obj.m(ProtoKey) = ctor.proto // live link: later F.prototype.m adds show
          callFunction(ctor, args, thisVal = Some(obj)) match {
            case o: GObj => o
            case _       => obj
          }
        case TIdent(fn) if c.peek.contains(TPunct('(')) &&
          env.get(fn).exists(_.isInstanceOf[GFunc]) =>
          // user-defined function call — user bindings shadow builtins
          callFunction(env.get(fn).get.asInstanceOf[GFunc], parseArgs(c))
        case TIdent(fn) if c.peek.contains(TPunct('(')) =>
          val args = parseArgs(c)
          fn match {
            case "iri" | "Iri" | "IRI" => GValue(QValue.Iri(expandIri(argStrTop(args))))
            case "bnode"               => GValue(QValue.BNode(argStrTop(args)))
            case "str"                 => GValue(QValue.Str(argStrTop(args)))
            case "raw" => args match {
              case Seq(v: GValue) => v
              case other => throw GizmoError(s"raw(term), got $other")
            }
            case "lang" => args.map(argStrOne) match {
              case Seq(v, l) => GValue(QValue.LangStr(v, l))
              case other => throw GizmoError(s"lang(value, lang), got $other")
            }
            case "typed" => args.map(argStrOne) match {
              case Seq(v, dt) => GValue(NQuads.typedValue(v, dt))
              case other => throw GizmoError(s"typed(value, type), got $other")
            }
            case "gt"  => GFilter(Comparison(GT, valuesOf(args).head))
            case "gte" => GFilter(Comparison(GTE, valuesOf(args).head))
            case "lt"  => GFilter(Comparison(LT, valuesOf(args).head))
            case "lte" => GFilter(Comparison(LTE, valuesOf(args).head))
            case "regex" =>
              val pat = args.head match {
                case GValue(QValue.Str(s)) => s
                case other => throw GizmoError(s"regex() expects a string, got $other")
              }
              val refs = args.lift(1).contains(GBoolV(true))
              GFilter(Regexp(pat, refs))
            case "like" => GFilter(Wildcard(argStrTop(args)))
            // JS global conversion functions (goja exposes the full set)
            case "parseInt" =>
              val s = renderVal(args.headOption.getOrElse(GNull)).trim
              val radix = args.lift(1).flatMap(num).map(_.toInt).getOrElse(10)
              val (sign, rest0) =
                if (s.startsWith("-")) (-1L, s.drop(1))
                else if (s.startsWith("+")) (1L, s.drop(1)) else (1L, s)
              val (rdx, rest) =
                if ((radix == 16 || radix == 10) &&
                  (rest0.startsWith("0x") || rest0.startsWith("0X")))
                  (16, rest0.drop(2))
                else (radix, rest0)
              val digits = rest.takeWhile(ch => Character.digit(ch, rdx) >= 0)
              if (digits.isEmpty) GNumV(Double.NaN, isInt = false)
              else
                try GNumV((sign * java.lang.Long.parseLong(digits, rdx)).toDouble,
                  isInt = true)
                catch {
                  // > Long digits: JS parseInt keeps going in double
                  // precision rather than raising — accumulate the same
                  // way (never a raw NumberFormatException to the host)
                  case _: NumberFormatException =>
                    val d = digits.foldLeft(0.0)((acc, ch) =>
                      acc * rdx + Character.digit(ch, rdx))
                    GNumV(sign * d, isInt = false)
                }
            case "parseFloat" =>
              val s = renderVal(args.headOption.getOrElse(GNull)).trim
              val m = "^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?".r
                .findFirstIn(s)
              m.map(t => GNumV(t.toDouble, isInt = false))
                .getOrElse(GNumV(Double.NaN, isInt = false))
            case "isNaN" =>
              GBoolV(args.headOption.flatMap(num).forall(_.isNaN))
            case "String" =>
              GValue(QValue.Str(renderVal(args.headOption.getOrElse(GNull))))
            case "Number" => args.headOption match {
              case None | Some(GNull) => GNumV(0, isInt = true)
              case Some(GBoolV(b)) => GNumV(if (b) 1 else 0, isInt = true)
              case Some(v) => num(v) match {
                case Some(d) => GNumV(d, isInt = d.isWhole && !d.isNaN)
                case None =>
                  val s = renderVal(v).trim
                  if (s.isEmpty) GNumV(0, isInt = true)
                  else scala.util.Try(s.toDouble).toOption
                    .map(d => GNumV(d, isInt = d.isWhole))
                    .getOrElse(GNumV(Double.NaN, isInt = false))
              }
            }
            case "Boolean" =>
              GBoolV(args.headOption.exists(truthy))
            case other  => throw GizmoError(s"unknown function $other()")
          }
        case TIdent(pname) if c.peek.contains(TOp("=>")) =>
          c.next() // single-parameter arrow: x => body
          arrowRest(c, Seq(pname))
        case TIdent(name) =>
          env.get(name).getOrElse(name match {
            case "Math"   => GMath
            case "JSON"   => GJson
            case "Object" => GObjectNS
            case "Array"  => GArrayNS
            case "String" => GStringNS
            case "Number" => GNumberNS
            case "Date"   => GDateNS
            case _ => throw GizmoError(s"undefined variable $name")
          })
        case TRegex(pat, flags) =>
          // JS flags map to RE2 inline flags; 'g' has no meaning for a
          // single match but drives match()/replace() iteration
          val inline = flags.filter(_ != 'g').distinct.map {
            case f @ ('i' | 'm' | 's') => f
            case f => throw GizmoError(s"unsupported regex flag '$f'")
          }
          GRegex(if (inline.isEmpty) pat else s"(?$inline)$pat",
            global = flags.contains('g'))
        case TStr(s) => GValue(strToValue(s))
        case TNum(s) =>
          if (s.matches("-?\\d+")) GNumV(s.toDouble, isInt = true)
          else GNumV(s.toDouble, isInt = false)
        case TPunct('[') =>
          val vs = scala.collection.mutable.ArrayBuffer.empty[GVal]
          var first = true
          while (!c.peek.contains(TPunct(']'))) {
            if (!first) c.expect(',')
            first = false
            if (takeSpread(c)) parseExpr(c) match {
              case GArr(inner) => vs ++= inner
              case GValue(QValue.Str(str)) =>
                str.foreach(ch => vs += GValue(QValue.Str(ch.toString)))
              case sv: GSetV => vs ++= sv.m.values
              case mv: GMapV => mv.m.values.foreach { case (k, v) =>
                vs += GArr(scala.collection.mutable.ArrayBuffer(k, v))
              }
              case GGenV(g) => vs ++= drainGen(g)
              case GNull => ()
              case other => throw GizmoError(s"cannot spread $other into an array")
            }
            else vs += parseExpr(c)
          }
          c.expect(']')
          GArr(vs)
        case TPunct('(') =>
          // lookahead: `(p1, p2) => ...` arrow function vs parenthesized
          // sub-expression
          if (isArrowParams(c)) {
            val params = Vector.newBuilder[String]
            var first = true
            while (!c.peek.contains(TPunct(')'))) {
              if (!first) c.expect(',')
              first = false
              c.next() match {
                case TIdent(ps) => params += ps
                case other =>
                  throw GizmoError(s"expected parameter name, got $other")
              }
            }
            c.expect(')')
            c.next() // '=>'
            arrowRest(c, params.result())
          } else {
            val v = parseExpr(c)
            c.expect(')')
            v
          }
        case TPunct('{') => // object literal {k: v, get k2() {...}, ...}
          val m = scala.collection.mutable.LinkedHashMap.empty[String, GVal]
          var first = true
          while (!c.peek.contains(TPunct('}'))) {
            if (!first) c.expect(',')
            first = false
            val isAccessor = c.peek.exists(t =>
              t == TIdent("get") || t == TIdent("set")) &&
              c.toks.lift(c.pos + 1).exists(_.isInstanceOf[TIdent]) &&
              c.toks.lift(c.pos + 2).contains(TPunct('('))
            if (takeSpread(c)) {
              parseExpr(c) match {
                case GObj(src) => src.iterator
                  .filterNot(_._1 == ProtoKey).foreach { case (k, v) =>
                    m(k) = v
                  }
                case GTagMap(tm) =>
                  tm.foreach { case (k, qv) => m(k) = GValue(qv) }
                case GNull => ()
                case other => throw GizmoError(s"cannot spread $other into an object")
              }
            } else if (isAccessor) {
              val kind = c.next().asInstanceOf[TIdent].s
              val aname = c.next().asInstanceOf[TIdent].s
              val f = parseFunctionRest(c)
              val prev = m.get(aname) match {
                case Some(a: GAccessor) => a
                case _ => GAccessor(None, None)
              }
              m(aname) =
                if (kind == "get") prev.copy(getter = Some(f))
                else prev.copy(setter = Some(f))
            } else {
              val key = c.next() match {
                case TIdent(s) => s
                case TStr(s)   => s
                case TNum(s)   => s
                case other     => throw GizmoError(s"expected object key, got $other")
              }
              c.expect(':')
              m(key) = parseExpr(c)
            }
          }
          c.expect('}')
          GObj(m)
        case other => throw GizmoError(s"unexpected token $other")
      }

      private def argStrTop(args: Seq[GVal]): String = args match {
        case Seq(GValue(QValue.Str(s))) => s
        case other => throw GizmoError(s"expected string arg, got $other")
      }

      // --------------------------------------- expressions (JS precedence)
      // || < && < | < ^ < & < equality < relational < shift < additive
      //    < multiplicative < unary
      /** Conditional expression `cond ? a : b` — LAZY: only the taken
        * branch is evaluated (the untaken branch's tokens are skipped by
        * bracket-and-ternary-balanced scan), right-associative as in JS.
        */
      private def parseExpr(c: Cursor): GVal = {
        // `yield [*] [expr]` — legal only DIRECTLY in a generator body
        // (the executing function is the generator's own; a nested
        // function or arrow sees plain-identifier behavior, like JS's
        // SyntaxError surface). Evaluates to the next(v) resume value.
        if (c.peek.contains(TIdent("yield")) && curGen != null &&
            fnStack.headOption.contains(curGen.f)) {
          c.next()
          val delegate = c.peek.contains(TOp("*"))
          if (delegate) c.next()
          val arg =
            if (!c.more || c.peek.exists {
              case TPunct(';' | ')' | '}' | ',' | ']' | ':') => true
              case _ => false
            }) GNull
            else parseExpr(c)
          return (if (delegate) genYieldStar(arg) else genYield(arg))
        }
        val cond = parseOr(c)
        if (!c.peek.contains(TPunct('?'))) cond
        else {
          c.next()
          if (truthy(cond)) {
            val v = parseExpr(c)
            c.expect(':')
            skipCondExpr(c)
            v
          } else {
            skipCondExpr(c)
            c.expect(':')
            parseExpr(c)
          }
        }
      }

      /** Arrow function tail: cursor just past `=>`. A `{ ... }` body is
        * statements; an expression body desugars to `return <expr>`. The
        * closure environment is the CURRENT env (lexical `this` included —
        * an arrow sees the enclosing `this` through the scope chain).
        */
      private def arrowRest(c: Cursor, params: Seq[String]): GFunc =
        if (c.peek.contains(TPunct('{'))) GFunc(params, captureStatement(c), env)
        else {
          val start = c.pos
          skipCondExpr(c)
          GFunc(params, TIdent("return") +: c.toks.slice(start, c.pos), env)
        }

      /** Lookahead from just past '(': is this a `(params) =>` head? */
      private def isArrowParams(c: Cursor): Boolean = {
        var depth = 1
        var j = c.pos
        while (j < c.toks.length && depth > 0) {
          c.toks(j) match {
            case TPunct('(') => depth += 1
            case TPunct(')') => depth -= 1
            case _           =>
          }
          j += 1
        }
        depth == 0 && c.toks.lift(j).contains(TOp("=>"))
      }

      /** Skip one conditional-expression worth of tokens (no evaluation):
        * stops BEFORE a top-level `:` `,` `;` `)` `]` `}` or end of input;
        * nested `?:` pairs are balanced so an inner ternary's colon (and
        * object-literal colons, which sit inside braces) are skipped.
        */
      private def skipCondExpr(c: Cursor): Unit = {
        var depth = 0
        var qdepth = 0
        var done = false
        while (!done && c.more) c.peek.get match {
          case TPunct('(' | '[' | '{') => depth += 1; c.next()
          case TPunct(')' | ']' | '}') =>
            if (depth == 0) done = true else { depth -= 1; c.next() }
          case TPunct(',' | ';') if depth == 0 => done = true
          case TPunct('?') if depth == 0 => qdepth += 1; c.next()
          case TPunct(':') if depth == 0 =>
            if (qdepth > 0) { qdepth -= 1; c.next() } else done = true
          case _ => c.next()
        }
      }

      /** JS ToInt32 (trunc toward zero, wrap mod 2^32, reinterpret
        * signed) — the operand conversion for every bitwise operator.
        */
      private def toInt32(v: GVal): Int = num(v) match {
        case Some(d) if !d.isNaN && !d.isInfinite => (d.toLong & 0xffffffffL).toInt
        case Some(_) => 0
        case None => throw GizmoError(s"bitwise operand must be a number, got $v")
      }

      private def bitwise(a: GVal, b: GVal, op: String): GVal = {
        val x = toInt32(a)
        val r: Double = op match {
          case "&"   => (x & toInt32(b)).toDouble
          case "|"   => (x | toInt32(b)).toDouble
          case "^"   => (x ^ toInt32(b)).toDouble
          case "<<"  => (x << (toInt32(b) & 31)).toDouble
          case ">>"  => (x >> (toInt32(b) & 31)).toDouble
          case ">>>" => ((x.toLong & 0xffffffffL) >>> (toInt32(b) & 31)).toDouble
        }
        GNumV(r, isInt = true)
      }

      private def parseBitOr(c: Cursor): GVal = {
        var v = parseBitXor(c)
        while (c.peek.contains(TOp("|"))) {
          c.next(); v = bitwise(v, parseBitXor(c), "|")
        }
        v
      }

      private def parseBitXor(c: Cursor): GVal = {
        var v = parseBitAnd(c)
        while (c.peek.contains(TOp("^"))) {
          c.next(); v = bitwise(v, parseBitAnd(c), "^")
        }
        v
      }

      private def parseBitAnd(c: Cursor): GVal = {
        var v = parseEq(c)
        while (c.peek.contains(TOp("&"))) {
          c.next(); v = bitwise(v, parseEq(c), "&")
        }
        v
      }

      private def parseOr(c: Cursor): GVal = {
        var v = parseAnd(c)
        while (c.peek.contains(TOp("||"))) {
          c.next()
          val r = parseAnd(c) // eager RHS; JS value semantics preserved
          v = if (truthy(v)) v else r
        }
        v
      }

      private def parseAnd(c: Cursor): GVal = {
        var v = parseBitOr(c)
        while (c.peek.contains(TOp("&&"))) {
          c.next()
          val r = parseBitOr(c)
          v = if (!truthy(v)) v else r
        }
        v
      }

      private def parseEq(c: Cursor): GVal = {
        var v = parseRel(c)
        var done = false
        while (!done) c.peek match {
          case Some(TOp(op @ ("==" | "!=" | "===" | "!=="))) =>
            c.next()
            val r = parseRel(c)
            val eq = eqVals(v, r, strict = op.length == 3)
            v = GBoolV(if (op.startsWith("!")) !eq else eq)
          case _ => done = true
        }
        v
      }

      private def parseRel(c: Cursor): GVal = {
        var v = parseShift(c)
        var done = false
        while (!done) c.peek match {
          case Some(TOp(op @ ("<" | "<=" | ">" | ">="))) =>
            c.next()
            val r = parseShift(c)
            val cmp = compareVals(v, r, op)
            v = GBoolV(cmp)
          case _ => done = true
        }
        v
      }

      private def parseShift(c: Cursor): GVal = {
        var v = parseAdd(c)
        var done = false
        while (!done) c.peek match {
          case Some(TOp(op @ ("<<" | ">>" | ">>>"))) =>
            c.next()
            v = bitwise(v, parseAdd(c), op)
          case _ => done = true
        }
        v
      }

      private def parseAdd(c: Cursor): GVal = {
        var v = parseMul(c)
        var done = false
        while (!done) c.peek match {
          case Some(TOp("+")) =>
            c.next()
            val r = parseMul(c)
            v = addVals(v, r)
          case Some(TOp("-")) =>
            c.next()
            val r = parseMul(c)
            v = arith(v, r, "-")
          case _ => done = true
        }
        v
      }

      private def parseMul(c: Cursor): GVal = {
        var v = parseUnary(c)
        var done = false
        while (!done) c.peek match {
          case Some(TOp(op @ ("*" | "/" | "%"))) =>
            c.next()
            val r = parseUnary(c)
            v = arith(v, r, op)
          case _ => done = true
        }
        v
      }

      private def parseUnary(c: Cursor): GVal = c.peek match {
        case Some(TIdent("typeof")) =>
          // JS typeof, including the typeof null === "object" quirk;
          // non-string quad values and host objects report "object"
          c.next()
          val t = parseUnary(c) match {
            case GNumV(_, _) | GCount(_)  => "number"
            case GBoolV(_)                => "boolean"
            case GValue(QValue.Str(_))    => "string"
            case _: GFunc                 => "function"
            case _                        => "object"
          }
          GValue(QValue.Str(t))
        case Some(TOp("!")) =>
          c.next(); GBoolV(!truthy(parseUnary(c)))
        case Some(TOp("~")) =>
          c.next(); GNumV((~toInt32(parseUnary(c))).toDouble, isInt = true)
        case Some(TOp("-")) =>
          c.next()
          num(parseUnary(c)) match {
            case Some(d) => GNumV(-d, isInt = d == d.floor)
            case None    => throw GizmoError("unary - expects a number")
          }
        case _ => parsePostfix(c)
      }

      private def num(v: GVal): Option[Double] = v match {
        case GNumV(d, _) => Some(d)
        case GCount(n)   => Some(n.toDouble)
        case GBoolV(b)   => Some(if (b) 1.0 else 0.0)
        // JS ToNumber(date) = epoch millis: date2 - date1, comparisons
        case GDateV(ms)  => Some(ms.toDouble)
        case _           => None
      }

      private def truthy(v: GVal): Boolean = v match {
        case GBoolV(b)             => b
        case GNumV(d, _)           => d != 0
        case GCount(n)             => n != 0
        case GNull                 => false
        case GValue(QValue.Str(s)) => s.nonEmpty
        case _                     => true
      }

      /** JS-ish rendering for string concatenation and loose equality. */
      private def renderVal(v: GVal): String = v match {
        // JS number-to-string: whole doubles render without a decimal
        case GNumV(d, true)        => d.toLong.toString
        case GNumV(d, _) if d.isWhole && !d.isInfinite => d.toLong.toString
        case GNumV(d, _)           => d.toString
        case GCount(n)             => n.toString
        case GBoolV(b)             => b.toString
        case GNull                 => "null"
        case GValue(QValue.Str(s)) => s
        case GValue(qv)            => qv.sortKey
        case GDateV(ms)            => isoOf(ms) // UTC-only: ISO form
        // Error-shaped objects (try/catch binding): "Error: msg", like JS
        case GObj(m) if m.contains("message") && m.contains("name") =>
          renderVal(m("name")) + ": " + renderVal(m("message"))
        case GGenV(_)              => "[object Generator]"
        case other                 => throw GizmoError(s"cannot render $other as a string")
      }

      private def isStr(v: GVal): Boolean = v match {
        case GValue(QValue.Str(_)) => true
        case _                     => false
      }

      private def addVals(a: GVal, b: GVal): GVal =
        if (isStr(a) || isStr(b))
          GValue(QValue.Str(renderVal(a) + renderVal(b)))
        else arith(a, b, "+")

      private def arith(a: GVal, b: GVal, op: String): GVal =
        (num(a), num(b)) match {
          case (Some(x), Some(y)) =>
            val d = op match {
              case "+" => x + y
              case "-" => x - y
              case "*" => x * y
              case "/" => x / y
              case "%" => x % y
            }
            GNumV(d, isInt = !d.isNaN && !d.isInfinite && d == d.floor)
          case _ => throw GizmoError(s"cannot apply $op to $a and $b")
        }

      private def eqVals(a: GVal, b: GVal, strict: Boolean): Boolean =
        if (strict) (a, b) match {
          case (x, y) if numLike(x) && numLike(y) => num(x) == num(y)
          case (GBoolV(x), GBoolV(y)) => x == y
          case (GValue(x), GValue(y)) => x == y
          case (GNull, GNull)         => true
          case _                      => false
        } else (num(a), num(b)) match {
          case (Some(x), Some(y)) => x == y
          case _ => (a, b) match {
            case (GNull, GNull) => true
            case (GNull, _) | (_, GNull) => false
            case _ => renderVal(a) == renderVal(b)
          }
        }

      private def numLike(v: GVal): Boolean = v match {
        case GNumV(_, _) | GCount(_) => true
        case _                       => false
      }

      private def compareVals(a: GVal, b: GVal, op: String): Boolean = {
        val c0 = (num(a), num(b)) match {
          case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
          case _ => (a, b) match {
            case (GValue(QValue.Str(x)), GValue(QValue.Str(y))) => x.compareTo(y)
            case _ => throw GizmoError(s"cannot compare $a $op $b")
          }
        }
        op match {
          case "<" => c0 < 0
          case "<=" => c0 <= 0
          case ">" => c0 > 0
          case ">=" => c0 >= 0
        }
      }

      private def parsePostfix(c: Cursor): GVal = {
        var v = parsePrimary(c)
        var done = false
        while (!done) {
          if (c.peek.contains(TPunct('.'))) {
            c.next() // '.'
            val name = c.next() match {
              case TIdent(s) => s
              case other     => throw GizmoError(s"expected method name, got $other")
            }
            v = if (c.peek.contains(TPunct('('))) {
              val args = parseArgs(c)
              v match {
                // a function-valued field (own, prototype-inherited, or
                // getter-returned) called with () is a method: bind
                // `this` to the receiver
                case fn: GFunc if fn.statics.get(name)
                  .exists(_.isInstanceOf[GFunc]) =>
                  callFunction(fn.statics(name).asInstanceOf[GFunc], args,
                    thisVal = Some(fn))
                case obj @ GObj(om) if protoLookup(om, name).exists(p =>
                  p.isInstanceOf[GFunc] || p.isInstanceOf[GAccessor]) =>
                  resolveProp(obj, protoLookup(om, name).get) match {
                    case f: GFunc =>
                      callFunction(f, args, thisVal = Some(obj))
                    case other =>
                      throw GizmoError(s".$name is not a function ($other)")
                  }
                case _ => call(c, v, name, args)
              }
            } else call(c, v, name, Seq())
          } else if (c.peek.contains(TPunct('(')) && v.isInstanceOf[GFunc]) {
            // invoking a call/index result directly: makeAdder(2)(3)
            v = callFunction(v.asInstanceOf[GFunc], parseArgs(c))
          } else if (c.peek.contains(TPunct('['))) {
            c.next()
            val key = parseExpr(c)
            c.expect(']')
            def idx = num(key).map(_.toInt).getOrElse(
              throw GizmoError(s"array index must be a number, got $key"))
            v = v match {
              case GArr(vs) =>
                if (idx >= 0 && idx < vs.length) vs(idx) else GNull
              // indexing a query result yields that row's bindings
              case GResult(_, raw) =>
                if (idx >= 0 && idx < raw.length) GTagMap(raw(idx)) else GNull
              case obj @ GObj(m) =>
                resolveProp(obj, m.getOrElse(renderVal(key), GNull))
              case GTagMap(m) => m.get(renderVal(key)).map(GValue(_)).getOrElse(GNull)
              case other      => throw GizmoError(s"cannot index $other")
            }
          } else done = true
        }
        v
      }
    }
  }

  def session(g: Graph): Session = new Session(g)
}
