package graft.lang

import graft.core.{Graph, NQuads, QValue}
import graft.exec.Exec
import graft.shape.{Dir, Shape}
import graft.shape.Shape._

/** MQL front-end: JSON query-by-example
  * (/root/reference/query/mql/, 558 LoC). A query is a one-element array
  * holding an object pattern; keys are predicates (optionally `@name:`
  * aliased for co-constraints and `!`-prefixed for reverse), values are
  * fixed values, nulls (bind-any, optional), arrays (repeated), or nested
  * objects. Compiles to IntersectOpt-of-NodesFrom exactly like the
  * reference (build_iterator.go:56-165); result trees are assembled from
  * tag paths (fill.go). Result ordering is not guaranteed (set semantics).
  */
object MQL {
  final case class MQLError(msg: String) extends Exception(msg)

  private sealed trait Pattern
  private case object PAny extends Pattern                       // null
  private case class PFixed(v: QValue) extends Pattern           // scalar
  private case class PRepeated(sub: Pattern) extends Pattern     // [] / [x]
  private case class PObj(fields: Seq[Field], idPattern: Option[Pattern]) extends Pattern

  private final case class Field(displayKey: String, pred: String,
                                 reverse: Boolean, sub: Pattern)

  private def parsePattern(v: Any): Pattern = v match {
    case null       => PAny
    case s: String  => PFixed(NQuads.parseTermOrString(s))
    case b: Boolean => PFixed(QValue.BoolV(b))
    case i: BigInt  => PFixed(QValue.IntV(i.toLong))
    case d: Double  =>
      if (d == math.floor(d)) PFixed(QValue.IntV(d.toLong))
      else PFixed(QValue.FloatV(d))
    case l: List[_] => l match {
      case Nil      => PRepeated(PAny)
      case x :: Nil => PRepeated(parsePattern(x))
      case _        => throw MQLError("multiple patterns in array")
    }
    case m: Map[_, _] =>
      val mm = m.asInstanceOf[Map[String, Any]]
      val idP = mm.get("id").map(parsePattern)
      val fields = mm.toSeq.filter(_._1 != "id").map { case (key, sub) =>
        var pred = key
        if (pred.startsWith("@")) {
          val i = pred.indexOf(':')
          if (i >= 0) pred = pred.substring(i + 1)
        }
        val rev = pred.startsWith("!")
        if (rev) pred = pred.substring(1)
        Field(key, pred, rev, parsePattern(sub))
      }
      PObj(fields, idP)
    case other => throw MQLError(s"unsupported JSON value: $other")
  }

  final class Session(g: Graph) {
    /** Execute; returns nested Maps/Lists mirroring the reference's JSON
      * collation (IRIs rendered `<iri>`, strings plain).
      */
    def execute(query: String): Seq[Map[String, Any]] = {
      val json = org.json4s.jackson.JsonMethods.parse(query).values
      val patterns = json match {
        case l: List[_] if l.size == 1 => parsePattern(l.head)
        case _ => throw MQLError("query must be a one-element JSON array")
      }
      val root = patterns match {
        case o: PObj => o
        case _       => throw MQLError("query root must be an object")
      }
      val shape = buildObj(root, "$")
      val rows = Exec.run(g, shape).tagMaps()
      assemble(root, "$", rows)
    }

    /** Object pattern → IntersectOpt of per-key NodesFrom constraints,
      * every level tagged with its path.
      */
    private def buildObj(o: PObj, path: String): Shape = {
      var required = Seq.empty[Shape]
      var optional = Seq.empty[Shape]
      o.fields.foreach { f =>
        val subPath = s"$path.${f.displayKey}"
        val (subShape, opt) = buildSub(f.sub, subPath)
        val (from, to) = if (f.reverse) (Dir.O, Dir.S) else (Dir.S, Dir.O)
        val constraint = NodesFrom(from, Quads(Seq(
          QuadFilter(Dir.P, Fixed(Seq(NQuads.parseTermOrString(f.pred)))),
          QuadFilter(to, subShape))))
        if (opt) optional :+= constraint else required :+= constraint
      }
      val base = o.idPattern match {
        case Some(PFixed(v)) => Seq(Fixed(Seq(v)))
        case _               => Nil
      }
      val sub = base ++ required
      Save(Seq(path),
        if (sub.isEmpty && optional.isEmpty) AllNodes
        else Intersect(if (sub.isEmpty) Seq(AllNodes) else sub, optional))
    }

    /** (shape, isOptional) for a field's value pattern. */
    private def buildSub(p: Pattern, path: String): (Shape, Boolean) = p match {
      case PAny           => (Save(Seq(path), AllNodes), true)
      case PFixed(v)      => (Save(Seq(path), Fixed(Seq(v))), false)
      case PRepeated(sub) =>
        val (s, _) = buildSub(sub, path)
        (s, sub == PAny)
      case o: PObj => (buildObj(o, path), false)
    }

    private def render(v: QValue): String = v.sortKey
    private def render2(v: Option[Any]): String = v.map(_.toString).getOrElse("")

    /** fill.go analog: group rows by the node bound at `path`, then build
      * one output object per distinct binding, nesting per field.
      */
    private def assemble(o: PObj, path: String,
                         rows: Seq[Map[String, QValue]]): Seq[Map[String, Any]] = {
      val withId = rows.filter(_.contains(path))
      val ordered = withId.map(_(path)).distinct
      ordered.map { idv =>
        val sub = withId.filter(_(path) == idv)
        val fields: Seq[(String, Any)] = o.fields.map { f =>
          val subPath = s"$path.${f.displayKey}"
          // Single-valued fields with multiple matches keep one binding;
          // the reference keeps whichever its store iterated last (order
          // undefined) — here: max by rendered value, deterministically.
          val value: Any = f.sub match {
            case nested: PObj =>
              val objs = assemble(nested, subPath, sub)
              if (objs.isEmpty) null
              else objs.maxBy(o => render2(o.get("id")))
            case PRepeated(nested: PObj) =>
              assemble(nested, subPath, sub).toList
            case PRepeated(_) =>
              sub.flatMap(_.get(subPath)).distinct.map(render).toList
            case _ =>
              val vs = sub.flatMap(_.get(subPath)).distinct.map(render)
              if (vs.isEmpty) null else vs.max
          }
          f.displayKey -> value
        }
        (Map("id" -> (render(idv): Any)) ++ fields.toMap)
      }
    }
  }

  def session(g: Graph): Session = new Session(g)
}
