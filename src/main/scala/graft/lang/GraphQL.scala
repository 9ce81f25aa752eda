package graft.lang

import graft.core.{Graph, NQuads, QValue}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraphQL-like front-end (/root/reference/query/graphql/graphql.go, 598
  * LoC): a GraphQL document selects nested objects; args are `has`
  * constraints (`id` = identity, `first`/`offset` = pagination), and the
  * directives @rev/@opt/@unnest/@label mirror the reference (:497-560).
  *
  * Execution is set-oriented: ONE distributed query per nesting level
  * (parents ⋈ quads ⋈ constraints → (parent, child) edges), then nested
  * JSON assembly driver-side — versus the reference's per-object recursion
  * (iterateObject :156-396, a query per node). Per-level edges scale as
  * DataFrames; only the final result tree is collected.
  *
  * Multiplicity rendering follows the reference: 0 matches → nil (or key
  * absent under @opt), 1 → scalar/object, n → array. Sibling and paginated
  * children order by value sort-key (the reference inherits store order,
  * which is undefined).
  */
object GraphQL {
  final case class GraphQLError(msg: String) extends Exception(msg)

  val ValueKey = "id"
  val LimitKey = "first"
  val SkipKey = "offset"

  /** Default per-level page size when a query gives no `first`. The
    * reference iterates unbounded (graphql.go:163 sets limit=-1) — a
    * deliberate divergence for the served path, where every nesting level
    * is driver-collected; pass `defaultFirst <= 0` for reference-exact
    * unbounded behavior. Whenever this default (or [[MaxFirst]]) actually
    * drops rows, the response carries a top-level `"truncated": true` so
    * the cap is never silent.
    */
  val DefaultFirst = 100

  /** Hard server-side ceiling on user-supplied `first` for the served
    * (HTTP/REPL) path: a request with `first: 10000000` must not re-open
    * the unbounded driver-materialization door that [[DefaultFirst]]
    * closes. Clamping is reported via the `"truncated"` indicator.
    */
  val MaxFirst = 10000

  final case class Field(alias: String, via: String,
                         has: Seq[(String, Seq[QValue])] = Nil,
                         isConstraint: Seq[QValue] = Nil,
                         limit: Int = -1, offset: Int = 0,
                         rev: Boolean = false, opt: Boolean = false,
                         unnest: Boolean = false,
                         labels: Seq[QValue] = Nil,
                         fields: Seq[Field] = Nil, allFields: Boolean = false)

  // ------------------------------------------------------------- parser
  private final class P(s: String) {
    var i = 0
    def ws(): Unit = {
      while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == ',')) i += 1
      if (i + 1 < s.length && s.charAt(i) == '#') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
        ws()
      }
    }
    def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    def eat(c: Char): Unit = {
      ws()
      if (peek != c) throw GraphQLError(s"expected '$c' at offset $i")
      i += 1
    }
    def tryEat(c: Char): Boolean = { ws(); if (peek == c) { i += 1; true } else false }
    def name(): String = {
      ws()
      val st = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit ||
        "_~/#.-".indexOf(s.charAt(i)) >= 0)) i += 1
      if (st == i) throw GraphQLError(s"expected name at offset $st")
      s.substring(st, i)
    }
    def value(): QValue = {
      ws()
      peek match {
        case '<' =>
          val e = s.indexOf('>', i)
          if (e < 0) throw GraphQLError(s"unterminated IRI at offset $i")
          val v = QValue.Iri(s.substring(i + 1, e)); i = e + 1; v
        case '"' =>
          val sb = new StringBuilder
          val st = i
          i += 1
          while (peek != '"') {
            if (peek == '\\') i += 1
            if (i >= s.length)
              throw GraphQLError(s"unterminated string at offset $st")
            sb.append(s.charAt(i)); i += 1
          }
          i += 1
          QValue.Str(sb.toString)
        case c if c.isDigit || c == '-' =>
          val st = i
          i += 1
          while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
          val t = s.substring(st, i)
          try {
            if (t.contains('.')) QValue.FloatV(t.toDouble)
            else QValue.IntV(t.toLong)
          } catch {
            case _: NumberFormatException =>
              throw GraphQLError(s"malformed number at offset $st")
          }
        case '_' if i + 1 < s.length && s.charAt(i + 1) == ':' =>
          i += 2; QValue.BNode(name())
        case _ => QValue.Iri(name())
      }
    }
  }

  def parse(query: String): Seq[Field] = {
    val p = new P(query)
    p.eat('{')
    val fs = parseFields(p)
    fs
  }

  private def parseFields(p: P): Seq[Field] = {
    val out = Vector.newBuilder[Field]
    p.ws()
    while (!p.tryEat('}')) {
      out += parseField(p)
      p.ws()
    }
    out.result()
  }

  private def parseField(p: P): Field = {
    val n1 = p.name()
    p.ws()
    val alias = n1
    var via = n1
    if (p.tryEat(':')) { via = p.name() } // alias: via
    var f = Field(alias, via)
    if (via == ValueKey && alias != ValueKey) f = f.copy(via = ValueKey)
    p.ws()
    if (p.peek == '(') {
      p.eat('(')
      while (!p.tryEat(')')) {
        val k = p.name(); p.eat(':'); p.ws()
        val at = p.i
        val vs: Seq[QValue] =
          if (p.tryEat('[')) {
            val b = Vector.newBuilder[QValue]
            while (!p.tryEat(']')) { b += p.value(); p.ws() }
            b.result()
          } else Seq(p.value())
        def int(): Int = vs.headOption match {
          case Some(QValue.IntV(v)) => v.toInt
          case _ => throw GraphQLError(s"$k needs an integer at offset $at")
        }
        k match {
          case LimitKey => f = f.copy(limit = int())
          case SkipKey  => f = f.copy(offset = int())
          case ValueKey =>
            // bare-name id args are node identifiers (IRIs)
            f = f.copy(isConstraint = f.isConstraint ++ vs)
          case pred => f = f.copy(has = f.has :+ (pred -> vs))
        }
        p.ws()
      }
    }
    // directives
    p.ws()
    while (p.peek == '@') {
      p.i += 1
      val d = p.name()
      p.ws()
      var arg: Option[QValue] = None
      if (p.peek == '(') {
        p.eat('(')
        while (!p.tryEat(')')) { p.name(); p.eat(':'); arg = Some(p.value()); p.ws() }
      }
      d match {
        case "rev" | "reverse" => f = f.copy(rev = true)
        case "opt" | "optional" => f = f.copy(opt = true)
        case "unnest" => f = f.copy(unnest = true)
        case "label" => f = f.copy(labels = f.labels ++ arg.toSeq)
        case other => throw GraphQLError(s"unknown directive @$other")
      }
      p.ws()
    }
    if (p.peek == '{') {
      p.eat('{')
      p.ws()
      if (p.peek == '*') {
        p.i += 1
        f = f.copy(allFields = true)
        p.eat('}')
      } else f = f.copy(fields = parseFields(p))
    }
    f
  }

  // ----------------------------------------------------------- executor
  /** Set-oriented executor. The working set of every nesting level is a
    * DataFrame `frontier(pid, id)` — the object that owns the field and a
    * candidate value — and every operation on data-proportional sets is a
    * distributed plan: hops are joins into the quads table, `has`/required-
    * leaf constraints are semi-joins, per-parent ordering and `first`/
    * `offset` pagination are window functions over `pid` ordered by the
    * dictionary sort key. The driver touches ids only when collecting a
    * level's PAGED result rows — bounded by the size of the response tree,
    * never by the corpus (contrast the reference's per-object recursion,
    * graphql.go:156-396, a query per node).
    */
  /** @param defaultFirst page cap applied to any level that specifies no
    *        `first` of its own: an unpaginated query over a huge result
    *        set must not materialize an unbounded tree on the driver
    *        (each nesting level is collected). <= 0 disables the cap
    *        (the reference's unbounded iteration, graphql.go:217).
    * @param maxFirst hard ceiling on EXPLICIT `first` values (and on the
    *        default): the served path passes [[MaxFirst]] so no request
    *        can driver-materialize an unbounded level. <= 0 disables.
    *        Whenever defaultFirst or maxFirst actually drops rows the
    *        result map carries `"truncated" -> true`.
    */
  final class Session(g: Graph, defaultFirst: Int = DefaultFirst,
                      maxFirst: Int = -1) {
    import org.apache.spark.sql.expressions.Window

    /** Set when a SILENT cap (default page size or maxFirst clamp — not a
      * user-requested `first`) dropped at least one row this execute().
      */
    private var truncatedFlag = false

    private def hid(v: QValue): Long = QValue.id(v)
    private def sk = g.nodes.select(col("id"), col("sk"))

    /** Quads with predicate `pred` (and labels), projected to
      * (parent-direction, child-direction).
      */
    private[lang] def predEdges(pred: String, rev: Boolean,
                                labels: Seq[QValue]): DataFrame = {
      val (fromC, toC) = if (rev) ("o", "s") else ("s", "o")
      var q = g.quads.where(col("p") === lit(hid(QValue.Iri(pred))))
      if (labels.nonEmpty) q = q.where(col("l").isin(labels.map(hid): _*))
      q.select(col(fromC).as("from"), col(toC).as("to"))
    }

    /** One hop from a frontier: (pid := parent id, id := child). */
    private[lang] def hop(parents: DataFrame, sub: Field): DataFrame =
      predEdges(sub.via, sub.rev, sub.labels)
        .join(parents.select(col("id").as("from")).distinct(), Seq("from"))
        .select(col("from").as("pid"), col("to").as("id"))
        .distinct()

    /** is/has constraints as literal filters / semi-joins. */
    private def constrain(f: Field, cand: DataFrame): DataFrame = {
      var c = cand
      if (f.isConstraint.nonEmpty)
        c = c.where(col("id").isin(f.isConstraint.map(hid): _*))
      f.has.foreach { case (pred, vs) =>
        var q = g.quads.where(col("p") === lit(hid(QValue.Iri(pred))))
        if (vs.nonEmpty) q = q.where(col("o").isin(vs.map(hid): _*))
        c = c.join(q.select(col("s").as("id")).distinct(), Seq("id"), "left_semi")
      }
      c
    }

    /** An object is dropped when a required (non-@opt) leaf has no value
      * (reference nil-handling) — a semi-join per required leaf, applied
      * BEFORE pagination like the reference.
      */
    private def requireLeaves(f: Field, cand: DataFrame): DataFrame =
      f.fields.filter(s =>
          s.fields.isEmpty && !s.allFields && s.via != ValueKey && !s.opt)
        .foldLeft(cand) { (c, leaf) =>
          c.join(predEdges(leaf.via, leaf.rev, leaf.labels)
            .select(col("from").as("id")).distinct(), Seq("id"), "left_semi")
        }

    /** Order by value sort-key and paginate per parent. Without pagination
      * this is a plain distributed sort (no single-partition window).
      * Returns the paged frame plus Some(effectiveLimit) when a SILENT cap
      * (default page size, or maxFirst clamping an explicit `first`)
      * applies — in that case one extra row per parent is fetched so the
      * collector can tell "exactly limit rows" from "rows were dropped".
      */
    private def orderPage(f: Field, cand: DataFrame): (DataFrame, Option[Int]) = {
      val requested = if (f.limit >= 0) f.limit else defaultFirst
      val limit =
        if (maxFirst > 0 && (requested < 0 || requested > maxFirst)) maxFirst
        else requested
      // silent = the user did not ask for this bound: the shipped default,
      // or the server ceiling clamping a larger explicit request
      val silent = limit >= 0 && (f.limit < 0 || limit < f.limit)
      val withSk = cand.join(sk, Seq("id"))
      if (f.offset <= 0 && limit < 0)
        (withSk.select("pid", "id", "sk"), None)
      else {
        val w = Window.partitionBy("pid").orderBy(col("sk"), col("id"))
        var out = withSk.withColumn("rn", row_number().over(w))
          .where(col("rn") > f.offset)
        if (limit >= 0)
          out = out.where(col("rn") <= f.offset + limit + (if (silent) 1 else 0))
        (out.select("pid", "id", "sk"), if (silent) Some(limit) else None)
      }
    }

    /** Collect a paged level as (pid, id, sk) rows sorted by
      * (pid, sk, id). When a silent cap fetched a sentinel extra row for
      * some parent, drop it and raise the truncation indicator.
      */
    private def collectPaged(f: Field, cand: DataFrame): Array[(Long, Long, String)] = {
      val (df, silentCap) = orderPage(f, cand)
      val rows = df.orderBy(col("pid"), col("sk"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      silentCap match {
        case Some(cap) =>
          // Array.groupBy preserves per-parent encounter order
          val trimmed = rows.groupBy(_._1).valuesIterator.flatMap { rs =>
            if (rs.length > cap) { truncatedFlag = true; rs.take(cap) }
            else rs
          }.toArray
          trimmed.sortBy(r => (r._1, r._3, r._2))
        case None => rows
      }
    }

    def execute(query: String): Map[String, Any] = {
      val roots = parse(query)
      truncatedFlag = false
      val out = roots.map { f =>
        val frontier = g.nodes.select(lit(0L).as("pid"), col("id"))
        f.alias -> renderField(f, frontier).getOrElse(0L, null)
      }.toMap
      // a silent cap is never invisible: flag the response when the
      // default page size or the server ceiling dropped rows
      if (truncatedFlag) out + ("truncated" -> true) else out
    }

    /** Render one field for every parent in the frontier. Returns
      * pid → null / scalar / object / list (reference multiplicity rules).
      * All filtering, ordering, and pagination run distributed; only the
      * paged level rows are collected.
      */
    private def renderField(f: Field, frontier: DataFrame): Map[Long, Any] = {
      val rows = collectPaged(f, requireLeaves(f, constrain(f, frontier)))
      if (rows.isEmpty) return Map.empty
      // the level's (answer-bounded) row set doubles as the next frontier —
      // a local relation, so sub-field hops don't re-execute the upstream
      // plan and Catalyst broadcasts it into the quads join
      val spark = g.spark
      import spark.implicits._
      val levelIds = rows.map(r => (r._1, r._2)).toSeq.toDF("pid", "id")
      val skOf = rows.map(r => r._2 -> r._3).toMap

      val objs: Map[Long, Map[String, Any]] =
        if (f.allFields) {
          // {*}: every out-edge of the level, predicates as keys
          val parents = levelIds.select(col("id").as("from")).distinct()
          val all = g.quads.join(parents, g.quads("s") === col("from"))
            .join(sk.select(col("id").as("__p"), col("sk").as("psk")),
              col("p") === col("__p"))
            .join(sk.select(col("id").as("__o"), col("sk").as("osk")),
              col("o") === col("__o"))
            .select(col("s"), col("psk"), col("osk")).distinct()
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          val byId = all.groupBy(_._1)
          rows.map(_._2).distinct.map { id =>
            id -> (Map(ValueKey -> (skOf(id): Any)) ++
              byId.getOrElse(id, Array.empty)
                .map(e => stripBrackets(e._2) -> (e._3: Any)).toMap)
          }.toMap
        } else if (f.fields.isEmpty) {
          rows.map(r => r._2 -> Map.empty[String, Any]).toMap
        } else {
          // each sub-field: per-level-object value, computed distributed
          val subValues: Seq[(Field, Map[Long, Any])] = f.fields.map { sub =>
            if (sub.via == ValueKey)
              sub -> rows.map(r => r._2 -> (skOf(r._2): Any)).toMap
            else if (sub.fields.nonEmpty || sub.allFields)
              sub -> renderField(sub, hop(levelIds, sub))
            else {
              // leaf: values per parent, sorted and paged by window
              val vals = collectPaged(sub, hop(levelIds, sub))
                .map(r => (r._1, r._3))
              sub -> vals.groupBy(_._1).map { case (id, vs) =>
                id -> multiplicity(vs.map(_._2).toSeq)
              }
            }
          }
          rows.map(_._2).distinct.map { id =>
            var out = Map.empty[String, Any]
            subValues.foreach { case (sub, values) =>
              val v = values.getOrElse(id, null)
              val isLeaf = sub.fields.isEmpty && !sub.allFields && sub.via != ValueKey
              if (v == null) {
                // required leaves were enforced distributed; remaining
                // nulls are @opt/@unnest (key vanishes) or object-valued
                // (nil key kept)
                if (!sub.opt && !sub.unnest && !isLeaf) out += sub.alias -> null
              } else if (sub.unnest) {
                v match {
                  case m: Map[_, _] => out ++= m.asInstanceOf[Map[String, Any]]
                  case l: List[_] if l.nonEmpty =>
                    out ++= l.head.asInstanceOf[Map[String, Any]]
                  case other => out += sub.alias -> other
                }
              } else out += sub.alias -> v
            }
            id -> out
          }.toMap
        }

      rows.groupBy(_._1).map { case (pid, rs) =>
        pid -> multiplicity(rs.flatMap(r => objs.get(r._2)).toSeq)
      }
    }

    private def multiplicity(xs: Seq[Any]): Any = xs match {
      case Seq()  => null
      case Seq(x) => x
      case many   => many.toList
    }

    private def stripBrackets(s: String): String =
      if (s.startsWith("<") && s.endsWith(">")) s.substring(1, s.length - 1) else s
  }

  def session(g: Graph): Session = new Session(g)
  def session(g: Graph, defaultFirst: Int): Session =
    new Session(g, defaultFirst)
  def session(g: Graph, defaultFirst: Int, maxFirst: Int): Session =
    new Session(g, defaultFirst, maxFirst)
}
