package graft.shape

import graft.core.{Graph, Kind, QValue, Values}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shape → DataFrame compiler (the analog of the reference's SQL backend
  * compiler, /root/reference/graph/sql/optimizer.go, with Catalyst as the
  * only dialect). The working set of a node shape is a DataFrame with an
  * `id` long column plus one `_t_<name>` column per tag; a quad shape
  * lowers to the quads table (s,p,o,l) plus tag columns.
  *
  * Design rules (SURVEY §7.3):
  *  - Tags are columns; never deduplicate implicitly — row multiplicity is
  *    the reference's NextPath enumeration and is observable.
  *  - Fixed value sets lower to literal `isin` filters (ids are content
  *    hashes computed at plan time) so predicate/subject constraints reach
  *    the Parquet scan as pushed filters — the QuadsAction single-scan
  *    fusion (shape.go:622-732) falls out of this for free.
  *  - Everything else is equi-joins on longs; Catalyst/AQE picks
  *    broadcast vs shuffle and the join order (and_optimize.go's cost
  *    model, not rebuilt here).
  */
object Lower {
  val ID = "id"
  val TagPrefix = "_t_"

  /** Tag column holding a raw Long *value* (not a node id) — used for
    * recursive depth tags, which bind synthetic `quad.Int(depth)` values
    * (reference recursive.go:122-123) that are not in the dictionary.
    * Finals resolve these directly instead of joining the dictionary.
    */
  val IntTagPrefix = "_ti_"

  private def escapeTag(tag: String): String =
    tag.replace("~", "~~").replace(".", "~d").replace("`", "~b")

  /** Physical column name for a tag. Dots and backticks would collide
    * with Spark's column-path resolution, so they are escaped (`~d`, `~b`,
    * `~~` for a literal tilde); [[decodeTag]] reverses this.
    */
  def tagCol(tag: String): String = TagPrefix + escapeTag(tag)

  def intTagCol(tag: String): String = IntTagPrefix + escapeTag(tag)

  def isIntTagCol(colName: String): Boolean = colName.startsWith(IntTagPrefix)

  def decodeTag(colName: String): String = {
    val enc =
      if (isIntTagCol(colName)) colName.stripPrefix(IntTagPrefix)
      else colName.stripPrefix(TagPrefix)
    val b = new StringBuilder
    var i = 0
    while (i < enc.length) {
      if (enc.charAt(i) == '~' && i + 1 < enc.length) {
        enc.charAt(i + 1) match {
          case '~' => b.append('~'); i += 2
          case 'd' => b.append('.'); i += 2
          case 'b' => b.append('`'); i += 2
          case c   => b.append('~').append(c); i += 2
        }
      } else { b.append(enc.charAt(i)); i += 1 }
    }
    b.toString
  }

  def tagCols(df: DataFrame): Seq[String] =
    df.columns.filter(c => c.startsWith(TagPrefix) || isIntTagCol(c)).toSeq

  /** Default recursion ceiling (reference recursive.go:19). */
  val DefaultMaxRecursive = 50
}

final class Lower(g: Graph) {
  import Lower._
  private val spark = g.spark
  import spark.implicits._

  def apply(s: Shape): DataFrame = nodes(Shape.optimize(s))

  // ------------------------------------------------------------------ nodes
  def nodes(s: Shape): DataFrame = s match {
    case Shape.AllNodes => g.nodes.select(col("id").as(ID))
    case Shape.Null     => emptyNodes()
    case Shape.Fixed(vs) =>
      vs.map(QValue.id).toDS().toDF(ID)
    case Shape.Embed(df) => df
    case _: Shape.EmbedLocal => throw new IllegalStateException("EmbedLocal is LocalEval-only")
    case Shape.NodesFrom(dir, q) =>
      val qdf = quads(q)
      val base = if (dir == Dir.L) qdf.where(col("l").isNotNull) else qdf
      base.select((col(dir.colName).as(ID) +: tagCols(qdf).map(col)): _*)

    case Shape.Intersect(sub, opt) =>
      // Fixed branches become literal id filters on the joined rest.
      val (fixed, rest) = sub.partition(_.isInstanceOf[Shape.Fixed])
      var df =
        if (rest.isEmpty) nodes(fixed.head)
        else rest.map(nodes).reduce(joinOnId(_, _, "inner"))
      val fixedToFilter = if (rest.isEmpty) fixed.tail else fixed
      fixedToFilter.foreach {
        case Shape.Fixed(vs) =>
          val ids = vs.map(QValue.id)
          df = ids match {
            case Seq(one) => df.where(col(ID) === lit(one))
            case many     => df.where(col(ID).isin(many: _*))
          }
        case _ => () // partition above keeps only Fixed here
      }
      opt.foldLeft(df)(optionalJoin)

    case Shape.Union(sub) =>
      sub.map(nodes).reduce(_.unionByName(_, allowMissingColumns = true))

    case Shape.Except(ex, from) =>
      nodes(from).join(nodes(ex).select(ID).distinct(), Seq(ID), "left_anti")

    case Shape.Filter(from, fs) =>
      val pred = fs.map(filterPredicate).reduce(_ && _)
      from match {
        // filter over the dictionary itself: plain scan, no join
        case Shape.AllNodes =>
          g.nodes.where(pred).select(col("id").as(ID))
        case _ =>
          // alias-qualified to allow self-joins against the dictionary
          val l = nodes(from).alias("__fl")
          val r = g.nodes.where(pred).select(col("id")).alias("__fr")
          l.join(r, col("__fl." + ID) === col("__fr.id"), "left_semi")
      }

    case Shape.Save(tags, from) =>
      tags.foldLeft(nodes(from))((d, t) => d.withColumn(tagCol(t), col(ID)))

    case Shape.FixedTags(tags, on) =>
      tags.foldLeft(nodes(on)) { case (d, (t, v)) =>
        d.withColumn(tagCol(t), lit(QValue.id(v)))
      }

    case Shape.Back(from, tag) =>
      nodes(from).withColumn(ID, col(tagCol(tag)))

    case Shape.Unique(from) =>
      // dropDuplicates(ID) keeps an ARBITRARY row per id; when tag columns
      // differ across duplicates the surviving bindings would depend on
      // partitioning. Pick the min tag tuple (name-sorted, nulls first) so
      // both engines (see LocalEval's Unique case) agree deterministically.
      val df = nodes(from)
      val rest = df.columns.filterNot(_ == ID).sorted.toIndexedSeq
      if (rest.isEmpty) df.dropDuplicates(ID)
      else
        df.groupBy(col(ID))
          .agg(min(struct(rest.map(col): _*)).as("__u"))
          .select(df.columns.toIndexedSeq.map(c =>
            if (c == ID) col(ID) else col("__u." + c).as(c)): _*)

    case Shape.Page(from, skip, limit) =>
      var df = nodes(from)
      if (skip > 0) df = df.offset(skip.toInt)
      if (limit > 0) df = df.limit(limit.toInt)
      df

    case Shape.Sort(from) =>
      val df = nodes(from)
      val l = df.alias("__sl")
      val r = g.nodes.select(col("id").as("__sid"), col("sk").as("__sk"))
        .alias("__sr")
      l.join(r, col("__sl." + ID) === col("__sr.__sid"), "left")
        .orderBy(col("__sr.__sk"))
        .select(df.columns.toIndexedSeq.map(c => col("__sl." + c)): _*)

    case Shape.Count(values) =>
      // Pre-resolved one-row result (the Count iterator emits a synthetic
      // Int value, count.go:15-60); finals detect the `kind` column.
      nodes(values).agg(count(lit(1)).as("i")).select(
        lit(Kind.IntK).as("kind"), lit(null).cast(StringType).as("s"),
        col("i"), lit(null).cast(DoubleType).as("d"),
        lit(null).cast(BooleanType).as("b"), lit(null).cast(LongType).as("t"),
        lit(null).cast(StringType).as("lang"),
        lit(null).cast(StringType).as("dt"))

    case Shape.Materialize(v) => Graph.cacheOnce(nodes(v))

    case Shape.Recursive(from, step, maxDepth, depthTags) =>
      recursive(from, step, maxDepth, depthTags)

    case q: Shape.Quads =>
      throw new IllegalArgumentException(s"quad shape in node position: $q")
  }

  // ------------------------------------------------------------------ quads
  def quads(s: Shape): DataFrame = s match {
    case Shape.Quads(filters) =>
      // dual-index selection (the kv backend's [SP, OPS]
      // DefaultQuadIndexes, graph/kv/indexing.go:62-71): a hop with a
      // LITERAL object constraint scans the store's object-sorted
      // sibling layout when one exists — the pushed `o` filter then
      // skips row groups on o min/max exactly the way subject-rooted
      // scans skip on s in the (p, s)-sorted primary. Identical rows,
      // so the choice is pure layout.
      def isFixed(v: Shape): Boolean = v match {
        case Shape.Fixed(_)                => true
        case Shape.Save(_, Shape.Fixed(_)) => true
        case _                             => false
      }
      val fixedO = filters.exists(f => f.dir == Dir.O && isFixed(f.values))
      val fixedS = filters.exists(f => f.dir == Dir.S && isFixed(f.values))
      val base =
        if (fixedO && !fixedS) g.quadsOps.getOrElse(g.quads) else g.quads
      // Materialize-small rule (shape.go:872 threshold 100), Spark form:
      // a quad set the stats prove tiny is the broadcast side of the
      // first sub-shape join of this hop. The hint goes on that join's
      // input only: one with no join below it rises to the next join
      // above (a finals' left outer join), where Spark drops it.
      def tiny(vs: Seq[QValue]) = g.predStats.exists(st =>
        vs.map(v => st.getOrElse(QValue.id(v), 0L)).sum < 100)
      val small = filters.exists {
        case Shape.QuadFilter(Dir.P, Shape.Fixed(vs))             => tiny(vs)
        case Shape.QuadFilter(Dir.P, Shape.Save(_, Shape.Fixed(vs))) => tiny(vs)
        case _ => false
      }
      val firstJoin = filters.indexWhere(_.values match {
        case Shape.AllNodes | Shape.Null | Shape.Fixed(_) |
             Shape.Save(_, Shape.AllNodes | Shape.Fixed(_)) => false
        case _ => true
      })
      filters.zipWithIndex.foldLeft(base) { case (df, (f, i)) =>
        applyQuadFilter(if (small && i == firstJoin) broadcast(df) else df, f)
      }
    case Shape.Union(sub) =>
      sub.map(quads).reduce(_.unionByName(_, allowMissingColumns = true))
    case other =>
      throw new IllegalArgumentException(s"node shape in quad position: $other")
  }

  private def applyQuadFilter(df: DataFrame, f: Shape.QuadFilter): DataFrame = {
    val dirCol = col(f.dir.colName)
    f.values match {
      case Shape.AllNodes => df
      case Shape.Null     => df.where(lit(false))
      case Shape.Fixed(vs) =>
        val ids = vs.map(QValue.id)
        // stats folding (QuadIndexer, shape.go:694-726): a predicate set
        // the stats table has never seen means the quad filter is empty —
        // Catalyst's empty-relation propagation then collapses the whole
        // join tree above it, no scan at all
        if (f.dir == Dir.P &&
          g.predStats.exists(st => ids.forall(st.getOrElse(_, 0L) == 0L)))
          return df.where(lit(false))
        val base = ids match {
          case Seq(one) => df.where(dirCol === lit(one))
          case many     => df.where(dirCol.isin(many: _*))
        }
        // literal predicate constraint + bucketed store → static partition
        // pruning on pb (the kv backend's predicate-index analog)
        if (f.dir == Dir.P && g.predicateBuckets > 0 &&
          df.columns.contains("pb")) {
          val n = g.predicateBuckets
          val buckets = ids.map(i => ((i % n) + n) % n).distinct
          base.where(col("pb").isin(buckets: _*))
        } else base
      // Save over AllNodes / Fixed on a direction = tag that direction —
      // no join (part of the QuadsAction fusion, shape.go:588-617).
      case Shape.Save(tags, Shape.AllNodes) =>
        tags.foldLeft(df)((d, t) => d.withColumn(tagCol(t), dirCol))
      case Shape.Save(tags, Shape.Fixed(vs)) =>
        val filtered = applyQuadFilter(df, Shape.QuadFilter(f.dir, Shape.Fixed(vs)))
        tags.foldLeft(filtered)((d, t) => d.withColumn(tagCol(t), dirCol))
      case sub =>
        val ndf = nodes(sub)
        val keep = tagCols(ndf).filterNot(df.columns.contains)
        val right = ndf.select((col(ID).as("__k") +: keep.map(col)): _*)
        df.join(right, dirCol === col("__k")).drop("__k")
    }
  }

  // ------------------------------------------------------------- helpers
  private def emptyNodes(): DataFrame = spark.range(0).select(col("id").as(ID))

  /** Inner/left join on id, keeping left's tag columns on conflict.
    * The reference's And scans one primary branch and probes the rest with
    * `Contains`, so result multiplicity is the primary's — a secondary
    * branch with no tag bindings must not multiply rows (and.go:27-110).
    * For an inner join that is exactly a LEFT SEMI join (existence probe,
    * no dedup shuffle); a tag-bearing side keeps the real join.
    */
  private def joinOnId(left: DataFrame, right: DataFrame, how: String): DataFrame = {
    val dup = tagCols(right).filter(left.columns.contains)
    val r0 = dup.foldLeft(right)(_ drop _)
    if (tagCols(r0).isEmpty && how == "inner")
      left.join(r0.select(ID), Seq(ID), "left_semi")
    else left.join(r0, Seq(ID), how)
  }

  /** Optional branch: binds tags only; enumerates multiple matches
    * (IntersectOpt, shape.go:1142-1246).
    */
  private def optionalJoin(left: DataFrame, optShape: Shape): DataFrame = {
    val odf = nodes(optShape)
    val keep = tagCols(odf).filterNot(left.columns.contains)
    left.join(odf.select((col(ID) +: keep.map(col)): _*), Seq(ID), "left_outer")
  }

  /** Within-type value predicate over the nodes dictionary columns
    * (value_comparison.go:62-100 semantics).
    */
  private def filterPredicate(f: ValueFilter): Column = f match {
    case ValueFilter.Comparison(op, v) =>
      import ValueFilter._
      def cmp(c: Column, l: Column): Column = op match {
        case LT  => c < l
        case LTE => c <= l
        case GT  => c > l
        case GTE => c >= l
      }
      v match {
        case QValue.IntV(x)   => col("kind") === Kind.IntK && cmp(col("i"), lit(x))
        case QValue.FloatV(x) => col("kind") === Kind.FloatK && cmp(col("d"), lit(x))
        case QValue.Str(x)    => col("kind") === Kind.Str && cmp(col("s"), lit(x))
        case QValue.Iri(x)    => col("kind") === Kind.Iri && cmp(col("s"), lit(x))
        case QValue.BNode(x)  => col("kind") === Kind.BNode && cmp(col("s"), lit(x))
        case QValue.TimeV(x)  => col("kind") === Kind.TimeK && cmp(col("t"), lit(x))
        // LangStr/TypedStr/Bool fall back to sort-key ordering, but stay
        // within-kind (value_comparison.go compares same-type values only)
        case other => col("kind") === other.kind && cmp(col("sk"), lit(other.sortKey))
      }
    case ValueFilter.Regexp(pattern, withRefs) =>
      // true RE2 matching (regex.go): plan-time compile rejects what RE2
      // rejects; the Pike VM gives linear-time, RE2-semantics evaluation
      val strKinds = Seq(Kind.Str, Kind.LangStr, Kind.TypedStr)
      val kinds = if (withRefs) strKinds ++ Seq(Kind.Iri, Kind.BNode) else strKinds
      col("kind").isin(kinds.map(Integer.valueOf): _*) &&
        graft.functions.Re2Match(col("s"), pattern)
    case ValueFilter.Wildcard(pattern) =>
      // %/? wildcard over the string payload, refs included
      // (shape.go:362-407; the pathtest corpus matches IRIs).
      val regex = "^" + pattern.flatMap {
        case '%' => ".*"
        case '?' => "."
        case c if "\\.[]{}()*+-?^$|".contains(c) => "\\" + c
        case c   => c.toString
      } + "$"
      col("s").isNotNull && graft.functions.Re2Match(col("s"), regex)
  }

  /** Iterative transitive closure: frontier/seen loop with localCheckpoint
    * to cut lineage (SURVEY §7.3 item 4). Each iteration is one distributed
    * join; the loop itself is driver-side control flow only. Tags bound
    * inside the morphism (e.g. a parent tag) ride along: one binding per
    * first-reached node, matching the reference's seen-map behavior
    * (recursive.go). A node already expanded is still *emitted* when
    * re-reached only if it was never emitted (start nodes re-reached in a
    * cycle do get emitted — pathtest testFollowRecursiveHas).
    */
  private def recursive(from: Shape, step: Shape => Shape, maxDepth: Int,
                        depthTags: Seq[String]): DataFrame = {
    val maxD = if (maxDepth <= 0) DefaultMaxRecursive else maxDepth
    val start = nodes(from).select(ID).distinct().localCheckpoint()
    var frontier = start
    var emitted = emptyNodes() // ids already in the result set
    var acc: DataFrame = null
    var depth = 0
    // Invariant: every previously-expanded node is either a start node or
    // was emitted, so the next frontier is just `fresh \ start` — no
    // separate `expanded` accumulator, one checkpoint per iteration.
    // The loop tests `fresh` emptiness (a first-row probe over the
    // checkpointed blocks — no join) instead of `frontier` emptiness
    // (an anti-join job per round): the cost is at most ONE extra
    // iteration at the end, whose step input is empty and cheap, against
    // an anti-join action saved on EVERY round.
    var freshEmpty = frontier.isEmpty
    while (depth < maxD && !freshEmpty) {
      val stepDf = nodes(step(Shape.Embed(frontier)))
      // nodes first reached at iteration d carry depth d+1 (reference
      // recursive.go: depth increments before the morphism applies)
      val tagged = depthTags.foldLeft(stepDf)((d, t) =>
        d.withColumn(intTagCol(t), lit((depth + 1).toLong)))
      val fresh = tagged
        .join(emitted.select(col(ID)), Seq(ID), "left_anti")
        .dropDuplicates(ID)
        .localCheckpoint()
      freshEmpty = fresh.isEmpty
      if (!freshEmpty) {
        acc = if (acc == null) fresh
          else acc.unionByName(fresh, allowMissingColumns = true)
        emitted = emitted.unionByName(fresh.select(ID))
        // re-materialize the accumulator every few iterations so the
        // anti-join build side doesn't grow into a deep union tree
        if (depth % 3 == 2) emitted = emitted.localCheckpoint()
        frontier = fresh.select(ID).join(start, Seq(ID), "left_anti")
      }
      depth += 1
    }
    if (acc == null) emptyNodes() else acc
  }
}
