package graft.path

import graft.core.QValue
import graft.shape.{Dir, Shape, ValueFilter}
import graft.shape.Shape._

/** Predicate position of a traversal: fixed values, any, or a sub-path
  * (the reference allows a Path in `via` — predicate sets are subqueries,
  * /root/reference/query/path/path.go:207-229).
  */
sealed trait Via
object Via {
  case object All extends Via
  final case class Values(vs: Seq[QValue]) extends Via
  final case class Sub(p: Path) extends Via
}

/** One traversal combinator. The full list mirrors the reference Path API
  * (/root/reference/query/path/path.go, method lines cited per case in
  * [[Path]]); each step has a reversal for Back/FollowReverse
  * (/root/reference/query/path/morphism_apply_functions.go).
  */
sealed trait Step
object Step {
  final case class Is(vs: Seq[QValue]) extends Step
  final case class Out(via: Via, tags: Seq[String]) extends Step
  final case class In(via: Via, tags: Seq[String]) extends Step
  final case class Both(via: Via, tags: Seq[String]) extends Step
  final case class Tag(tags: Seq[String]) extends Step
  final case class And(p: Path) extends Step
  final case class Or(p: Path) extends Step
  final case class ExceptP(p: Path) extends Step
  case object UniqueS extends Step
  final case class FilterV(fs: Seq[ValueFilter]) extends Step
  final case class SaveVia(via: Via, tag: String, rev: Boolean, opt: Boolean,
                           labels: Option[Via] = None) extends Step
  final case class Has(via: Via, rev: Boolean, values: Seq[QValue],
                       filters: Seq[ValueFilter] = Nil,
                       labels: Option[Via] = None) extends Step
  final case class HasPath(p: Path) extends Step
  final case class Skip(n: Long) extends Step
  final case class Limit(n: Long) extends Step
  case object Order extends Step
  case object CountS extends Step
  final case class LabelContext(via: Option[Via]) extends Step
  final case class BackTo(tag: String) extends Step
  final case class Follow(p: Path, reverse: Boolean) extends Step
  final case class FollowRecursive(via: Via, maxDepth: Int,
                                   depthTags: Seq[String]) extends Step
  final case class Predicates(rev: Boolean) extends Step
  final case class SavePredicates(rev: Boolean, tag: String) extends Step
  case object Labels extends Step
  final case class Optional(p: Path) extends Step

  /** Morphism reversal (morphism_apply_functions.go: every morphism has a
    * `Reversal`). Direction-neutral steps reverse to themselves.
    */
  def reverse(s: Step): Step = s match {
    case Out(v, t)        => In(v, t)
    case In(v, t)         => Out(v, t)
    case Follow(p, r)     => Follow(p, !r)
    case other            => other
  }
}

/** Label-context planner state (path.go:52-61): an optional Shape filtering
  * the L direction of subsequent hops.
  */
final case class Ctx(labels: Option[Shape] = None)

/** The fluent traversal surface (reference
  * /root/reference/query/path/path.go, 577 LoC). Immutable: every call
  * returns a new Path, so composite paths clone for free (pathtest
  * "composite paths (clone paths)").
  */
final case class Path(base: Shape, steps: Vector[Step]) {
  import Step._

  private def add(s: Step): Path = copy(steps = steps :+ s)

  // --- traversal surface (reference line refs in comments) ---
  def is(vs: QValue*): Path = add(Is(vs))                      // path.go:149
  def out(): Path = add(Out(Via.All, Nil))                     // path.go:207
  def out(vs: QValue*): Path = add(Out(Via.Values(vs), Nil))
  def out(p: Path): Path = add(Out(Via.Sub(p), Nil))
  def outWithTags(tags: Seq[String], vs: QValue*): Path =      // path.go:230
    add(Out(if (vs.isEmpty) Via.All else Via.Values(vs), tags))
  def in(): Path = add(In(Via.All, Nil))                       // path.go:222
  def in(vs: QValue*): Path = add(In(Via.Values(vs), Nil))
  def in(p: Path): Path = add(In(Via.Sub(p), Nil))
  def both(vs: QValue*): Path =                                // path.go:252
    add(Both(if (vs.isEmpty) Via.All else Via.Values(vs), Nil))
  def tag(tags: String*): Path = add(Tag(tags))                // path.go:192
  def and(p: Path): Path = add(And(p))                         // path.go:313
  def or(p: Path): Path = add(Or(p))                           // path.go:328
  def except(p: Path): Path = add(ExceptP(p))                  // path.go:340
  def unique(): Path = add(UniqueS)                            // path.go:347
  def filter(fs: ValueFilter*): Path = add(FilterV(fs))        // path.go:157-189
  def regex(pattern: String, withRefs: Boolean = false): Path =
    add(FilterV(Seq(ValueFilter.Regexp(pattern, withRefs))))
  def save(via: QValue, tag: String): Path =                   // path.go:410
    add(SaveVia(Via.Values(Seq(via)), tag, rev = false, opt = false))
  def saveReverse(via: QValue, tag: String): Path =            // path.go:418
    add(SaveVia(Via.Values(Seq(via)), tag, rev = true, opt = false))
  def saveOptional(via: QValue, tag: String): Path =           // path.go:426
    add(SaveVia(Via.Values(Seq(via)), tag, rev = false, opt = true))
  def saveOptionalReverse(via: QValue, tag: String): Path =    // path.go:434
    add(SaveVia(Via.Values(Seq(via)), tag, rev = true, opt = true))
  def has(via: QValue, vs: QValue*): Path =                    // path.go:446
    add(Has(Via.Values(Seq(via)), rev = false, vs))
  def hasReverse(via: QValue, vs: QValue*): Path =             // path.go:453
    add(Has(Via.Values(Seq(via)), rev = true, vs))
  /** Has with an explicit label constraint (shape HasLabels,
    * query/shape/path.go:184-215) — overrides the ambient label context.
    */
  def hasLabels(via: QValue, labels: QValue, vs: QValue*): Path =
    add(Has(Via.Values(Seq(via)), rev = false, vs,
      labels = Some(Via.Values(Seq(labels)))))
  /** SaveVia with an explicit label constraint (shape SaveViaLabels,
    * query/shape/path.go:149-178).
    */
  def saveViaLabels(via: QValue, labels: QValue, tag: String,
                    rev: Boolean = false, opt: Boolean = false): Path =
    add(SaveVia(Via.Values(Seq(via)), tag, rev, opt,
      labels = Some(Via.Values(Seq(labels)))))
  def hasFilter(via: QValue, rev: Boolean, fs: ValueFilter*): Path = // path.go:460
    add(Has(Via.Values(Seq(via)), rev, Nil, fs))
  def hasPath(p: Path): Path = add(HasPath(p))                 // path.go:439
  def skip(n: Long): Path = add(Skip(n))                       // path.go:541
  def limit(n: Long): Path = add(Limit(n))                     // path.go:552
  def order(): Path = add(Order)                               // path.go:546
  def count(): Path = add(CountS)                              // path.go:558
  def labelContext(vs: QValue*): Path =                        // path.go:471
    add(LabelContext(if (vs.isEmpty) None else Some(Via.Values(vs))))
  def back(tag: String): Path = add(BackTo(tag))               // path.go:490
  def follow(p: Path): Path = add(Follow(p, reverse = false))  // path.go:355
  def followReverse(p: Path): Path = add(Follow(p, reverse = true)) // path.go:363
  def followRecursive(via: QValue, maxDepth: Int = 0,
                      depthTags: Seq[String] = Nil): Path =    // path.go:386
    add(FollowRecursive(Via.Values(Seq(via)), maxDepth, depthTags))
  def followRecursive(p: Path, maxDepth: Int,
                      depthTags: Seq[String]): Path =
    add(FollowRecursive(Via.Sub(p), maxDepth, depthTags))
  def followRecursive(p: Path, maxDepth: Int): Path =
    add(FollowRecursive(Via.Sub(p), maxDepth, Nil))
  def inPredicates(): Path = add(Predicates(rev = true))       // path.go:282
  def outPredicates(): Path = add(Predicates(rev = false))     // path.go:297
  def savePredicates(rev: Boolean, tag: String): Path =        // path.go:305
    add(SavePredicates(rev, tag))
  def labels(): Path = add(Labels)                             // path.go:268
  def optional(p: Path): Path = add(Optional(p))               // path.go:320

  // --- shape building (path.go:567-577 Shape/ShapeFrom) ---
  def shape(): Shape = shapeFrom(base)

  def shapeFrom(from: Shape): Shape =
    steps.foldLeft((from, Ctx())) { case ((s, ctx), st) =>
      Path.applyStep(s, ctx, st)
    }._1

  def reversedSteps: Vector[Step] = steps.reverse.map(Step.reverse)
}

object Path {
  import Step._

  def start(vs: QValue*): Path =
    Path(if (vs.isEmpty) AllNodes else Fixed(vs), Vector.empty)

  /** StartMorphism (path.go:87-92): a path with no fixed root. */
  def morphism(): Path = Path(AllNodes, Vector.empty)

  private def viaShape(via: Via, tags: Seq[String]): Shape = {
    val b = via match {
      case Via.All        => AllNodes
      case Via.Values(vs) => Fixed(vs)
      case Via.Sub(p)     => p.shape()
    }
    if (tags.isEmpty) b else Save(tags, b)
  }

  /** Out/In as NodesFrom∘Quads (query/shape/path.go:59-95 Out/In). */
  private def hop(cur: Shape, via: Via, tags: Seq[String], ctx: Ctx,
                  rev: Boolean): Shape = {
    val (fromDir, toDir) = if (rev) (Dir.O, Dir.S) else (Dir.S, Dir.O)
    val fs = Seq(QuadFilter(fromDir, cur), QuadFilter(Dir.P, viaShape(via, tags))) ++
      ctx.labels.map(l => QuadFilter(Dir.L, l))
    NodesFrom(toDir, Quads(fs))
  }

  /** Has/HasReverse (query/shape/path.go:181-215): constrain without
    * moving. Row multiplicity = per-quad enumeration (the pathtest Count
    * case counts 5 for 4 distinct subjects).
    */
  private def has(cur: Shape, via: Via, rev: Boolean, nodesShape: Shape,
                  ctx: Ctx): Shape = {
    val (keepDir, valDir) = if (rev) (Dir.O, Dir.S) else (Dir.S, Dir.O)
    val fs = Seq(QuadFilter(Dir.P, viaShape(via, Nil)),
      QuadFilter(valDir, nodesShape)) ++
      ctx.labels.map(l => QuadFilter(Dir.L, l))
    Intersect(Seq(NodesFrom(keepDir, Quads(fs)), cur))
  }

  private[path] def applyStep(cur: Shape, ctx: Ctx, st: Step): (Shape, Ctx) = st match {
    case Is(vs) =>
      (if (vs.isEmpty) cur else Intersect(Seq(Fixed(vs), cur)), ctx)
    case Out(via, tags)  => (hop(cur, via, tags, ctx, rev = false), ctx)
    case In(via, tags)   => (hop(cur, via, tags, ctx, rev = true), ctx)
    case Both(via, tags) =>
      (Union(Seq(hop(cur, via, tags, ctx, rev = false),
        hop(cur, via, tags, ctx, rev = true))), ctx)
    case Tag(tags)   => (Save(tags, cur), ctx)
    case And(p)      => (Intersect(Seq(cur, p.shape())), ctx)
    case Or(p)       => (Union(Seq(cur, p.shape())), ctx)
    case ExceptP(p)  => (Except(p.shape(), cur), ctx)
    case UniqueS     => (Unique(cur), ctx)
    case FilterV(fs) => (Filter(cur, fs), ctx)
    case SaveVia(via, tagName, rev, opt, labels) =>
      val (keepDir, valDir) = if (rev) (Dir.O, Dir.S) else (Dir.S, Dir.O)
      // explicit labels (SaveViaLabels) override the ambient context;
      // otherwise save respects the label context (reference issue #758)
      val lbl = labels.map(viaShape(_, Nil)).orElse(ctx.labels)
      val branch = NodesFrom(keepDir, Quads(Seq(
        QuadFilter(Dir.P, viaShape(via, Nil)),
        QuadFilter(valDir, Save(Seq(tagName), AllNodes))) ++
        lbl.map(l => QuadFilter(Dir.L, l))))
      (if (opt) Intersect(Seq(cur), Seq(branch))
       else Intersect(Seq(cur, branch)), ctx)
    case Has(via, rev, vs, fs, labels) =>
      val nodesShape =
        if (vs.nonEmpty) Fixed(vs)
        else if (fs.nonEmpty) Filter(AllNodes, fs)
        else AllNodes
      val effCtx = labels match {
        case Some(l) => ctx.copy(labels = Some(viaShape(l, Nil)))
        case None    => ctx
      }
      (has(cur, via, rev, nodesShape, effCtx), ctx)
    case HasPath(p) =>
      // Constrain to nodes from which the sub-path yields results: tag the
      // base, apply the morphism, re-root at the tag, intersect. The base
      // appears on both join sides, so materialize it when non-trivial
      // (Catalyst does not dedup identical subplans across join sides).
      val shared = materializeShared(cur)
      val applied = p.shapeFrom(Save(Seq("__hp"), shared))
      (Intersect(Seq(shared, Unique(Back(applied, "__hp")))), ctx)
    case Skip(n)  => (Page(cur, n, 0), ctx)
    case Limit(n) => (Page(cur, 0, n), ctx)
    case Order    => (Sort(cur), ctx)
    case CountS   => (Count(cur), ctx)
    case LabelContext(via) =>
      (cur, ctx.copy(labels = via.map(v => viaShape(v, Nil))))
    case BackTo(tagName) => (Back(cur, tagName), ctx)
    case Follow(p, false) => (p.shapeFrom2(cur), ctx)
    case Follow(p, true) =>
      val reversed = Path(AllNodes, p.reversedSteps)
      (reversed.shapeFrom2(cur), ctx)
    case FollowRecursive(via, maxDepth, depthTags) =>
      val step: Shape => Shape = via match {
        case Via.Sub(p) => (s: Shape) => p.shapeFrom2(s)
        case v          => (s: Shape) => hop(s, v, Nil, ctx, rev = false)
      }
      (Recursive(cur, step, maxDepth, depthTags), ctx)
    case Predicates(rev) =>
      val dir = if (rev) Dir.O else Dir.S
      (Unique(NodesFrom(Dir.P, Quads(Seq(QuadFilter(dir, cur))))), ctx)
    case SavePredicates(rev, tagName) =>
      val dir = if (rev) Dir.O else Dir.S
      (NodesFrom(dir, Quads(Seq(QuadFilter(dir, cur),
        QuadFilter(Dir.P, Save(Seq(tagName), AllNodes))))), ctx)
    case Labels =>
      // labels of quads touching the node set from EITHER side
      // (query/shape/path.go:131-143 unions subject and object quads)
      (Unique(NodesFrom(Dir.L, Union(Seq(
        Quads(Seq(QuadFilter(Dir.S, cur))),
        Quads(Seq(QuadFilter(Dir.O, cur))))))), ctx)
    case Optional(p) =>
      val shared = materializeShared(cur)
      (Intersect(Seq(shared), Seq(p.shapeFrom2(shared))), ctx)
  }

  /** Cache a subtree that is about to appear on both sides of a join
    * (Optional/HasPath); trivial bases are cheaper to recompute.
    */
  private def materializeShared(s: Shape): Shape = s match {
    case AllNodes | Null | _: Fixed | _: Embed | _: Materialize => s
    case other => Materialize(other)
  }

  /** Apply a (possibly rooted) path's steps starting from `cur`: a rooted
    * start becomes an Is constraint (Follow semantics).
    */
  implicit final class PathFollowOps(private val p: Path) extends AnyVal {
    def shapeFrom2(cur: Shape): Shape = {
      val withRoot = p.base match {
        case AllNodes  => cur
        case Fixed(vs) => Intersect(Seq(Fixed(vs), cur))
        case other     => Intersect(Seq(other, cur))
      }
      p.shapeFrom(withRoot)
    }
  }
}
