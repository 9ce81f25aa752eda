package graft.shape

import graft.core.{Deadline, Graph, Kind, QValue}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.lang.{Long => JLong}
import scala.collection.mutable

/** Driver-local execution of the Shape algebra over an in-memory quad
  * index — the fast path for queries on small, cached graphs.
  *
  * Why it exists: Spark's per-action scheduling floor is ~100 ms-1 s, so a
  * point lookup the reference answers in ~20 ms from its memstore
  * (/root/reference/graph/memstore/quadstore.go) costs 60× more as a
  * distributed job even when the data is tiny. This evaluator is the
  * memstore analog: hash indexes per quad direction, built once from the
  * cached DataFrames ([[LocalGraphIndex]]), consulted by `Exec.run` when
  * the graph carries a cap (`Graph.interactive`) and its quad count is
  * under it. Served stores carry one by default: `HttpApi` sets the
  * session's cap (`LocalGraphIndex.maxQuads`, from driver heap and
  * `spark.driver.maxResultSize`), and a snapshot a write made indexes as
  * its base's index plus an overlay of its delta. At 100 TB the gate
  * never opens and every query takes the distributed path.
  *
  * A local query runs no Spark job, so job cancellation cannot stop it:
  * it polls the request's [[graft.core.Deadline]] once per recursion step
  * and every few thousand rows of its joins and enumerations.
  *
  * Correctness contract: this is a *second implementation of the same
  * semantics* as [[Lower]], mirrored construct-for-construct (each case
  * cites the Lower line it shadows). The working set is the same shape —
  * an `id` (or `s,p,o,l`) column plus `_t_`/`_ti_` tag columns of nullable
  * longs — so column-level rules (duplicate-tag drops, semi-join for
  * tag-less probes, left-outer optional enumeration, bag multiplicity)
  * translate 1:1. Divergence is guarded three ways: the golden pathtest
  * corpus re-runs through this path (LocalPathSpec), a seeded random
  * differential spec compares both engines (LocalDifferentialSpec), and a
  * driver-gated parity entry (`g_local_parity`) does the same under the
  * oracle harness.
  */
object LocalEval {

  /** Raised when a shape needs a construct only the distributed path has
    * (e.g. an embedded DataFrame); `tryRun` converts it to a fallback.
    */
  private[shape] final class Unsupported(msg: String)
    extends RuntimeException(msg)

  /** Debug/engagement counter: number of shapes evaluated locally. */
  val evalCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Evaluate `s` locally if the graph carries a cap, is under it, and
    * the shape is fully supported; None = take the distributed path.
    */
  def tryRun(g: Graph, s: Shape): Option[LocalResult] =
    if (g.interactiveMaxQuads <= 0) None
    else LocalGraphIndex.forGraph(g, g.interactiveMaxQuads).flatMap(run(_, s))

  /** Evaluate `s` over `idx` if the shape is fully supported. */
  private[shape] def run(idx: LocalGraphIndex, s: Shape): Option[LocalResult] = {
    val opt = Shape.optimize(s)
    if (!supports(opt, root = true)) None
    else try {
      evalCount.incrementAndGet()
      val ev = new LocalEval(idx)
      opt match {
        case Shape.Count(values) =>
          // mirror Lower's pre-resolved one-row Count (Lower.scala:160)
          Some(LocalResult(idx, None, Some(ev.nodes(values).rows.size.toLong)))
        case other =>
          Some(LocalResult(idx, Some(ev.nodes(other)), None))
      }
    } catch { case _: Unsupported => None }
  }

  /** Static supportability walk. `Count` is only supported at the root
    * (Lower's pre-resolved schema does not compose either); embedded
    * DataFrames are inherently distributed.
    */
  private def supports(s: Shape, root: Boolean): Boolean = s match {
    case Shape.AllNodes | Shape.Null => true
    case _: Shape.Fixed              => true
    case _: Shape.EmbedLocal         => true
    case _: Shape.Embed              => false
    case Shape.NodesFrom(_, q)       => supportsQuad(q)
    case Shape.Intersect(sub, opt2)  => (sub ++ opt2).forall(supports(_, root = false))
    case Shape.Union(sub)            => sub.forall(supports(_, root = false))
    case Shape.Except(e, f)          => supports(e, root = false) && supports(f, root = false)
    case Shape.Filter(f, _)          => supports(f, root = false)
    case Shape.Save(_, f)            => supports(f, root = false)
    case Shape.FixedTags(_, f)       => supports(f, root = false)
    case Shape.Back(f, _)            => supports(f, root = false)
    case Shape.Unique(f)             => supports(f, root = false)
    case Shape.Page(f, _, _)         => supports(f, root = false)
    case Shape.Sort(f)               => supports(f, root = false)
    case Shape.Materialize(v)        => supports(v, root = false)
    case Shape.Count(v)              => root && supports(v, root = false)
    case Shape.Recursive(from, step, _, _) =>
      supports(from, root = false) &&
        (try supports(step(Shape.Null), root = false)
        catch { case scala.util.control.NonFatal(_) => false })
    case _: Shape.Quads => false // quad shape in node position: error both ways
  }

  private def supportsQuad(s: Shape): Boolean = s match {
    case Shape.Quads(fs) => fs.forall(f => supports(f.values, root = false))
    case Shape.Union(sub) => sub.forall(supportsQuad)
    case _ => false
  }
}

/** The local working set: the exact column layout of Lower's DataFrames
  * (`id` or `s,p,o,l`, then `_t_`/`_ti_` tag columns), rows of nullable
  * longs. Keeping the physical column names identical means every
  * column-level semantic in Lower has a literal counterpart here.
  */
final class LocalTable(val cols: Vector[String],
                       val rows: IndexedSeq[Array[JLong]]) {
  def colIdx(name: String): Int = cols.indexOf(name)

  def tagCols: Vector[String] =
    cols.filter(c => c.startsWith(Lower.TagPrefix) || Lower.isIntTagCol(c))

  def select(names: Vector[String]): LocalTable = {
    val idxs = names.map(colIdx)
    require(idxs.forall(_ >= 0), s"missing column in $cols: $names")
    new LocalTable(names, rows.map(r => idxs.map(r(_)).toArray))
  }

  /** withColumn semantics: replace in place if present, else append. */
  def withCol(name: String, f: Array[JLong] => JLong): LocalTable = {
    val at = colIdx(name)
    if (at >= 0)
      new LocalTable(cols, rows.map { r =>
        val r2 = r.clone(); r2(at) = f(r); r2
      })
    else new LocalTable(cols :+ name, rows.map(r => r :+ f(r)))
  }

  def where(f: Array[JLong] => Boolean): LocalTable =
    new LocalTable(cols, rows.filter(f))

  def drop(name: String): LocalTable = {
    val at = colIdx(name)
    if (at < 0) this
    else new LocalTable(cols.patch(at, Nil, 1),
      rows.map(r => (r.take(at) ++ r.drop(at + 1))))
  }
}

object LocalTable {
  def empty(cols: Vector[String]): LocalTable =
    new LocalTable(cols, Vector.empty)

  /** `parts` unioned by name in order — Spark's
    * `unionByName(allowMissingColumns = true)` folded over them — with
    * each row padded once.
    */
  def union(parts: Seq[LocalTable]): LocalTable = {
    val allCols = parts.foldLeft(Vector.empty[String])((cs, t) =>
      cs ++ t.cols.filterNot(cs.contains))
    new LocalTable(allCols, parts.flatMap { t =>
      if (t.cols == allCols) t.rows
      else {
        val idxs = allCols.map(t.colIdx)
        t.rows.map(r => idxs.map(i => if (i < 0) null else r(i)).toArray)
      }
    }.toIndexedSeq)
  }
}

/** One dictionary entry (the nodes row minus the id). */
final case class LocalNode(kind: Int, s: String, i: JLong,
                           d: java.lang.Double, b: java.lang.Boolean,
                           t: JLong, lang: String, dt: String, sk: String) {
  def toQValue: QValue = QValue.fromFields(kind, s, i, d, b, t, lang, dt)
}

object LocalNode {
  /** The nodes table's columns, in the order [[apply]] reads them. */
  val Cols: Seq[String] =
    Seq("id", "kind", "s", "i", "d", "b", "t", "lang", "dt", "sk")

  /** The entry of a nodes row whose [[Cols]] sit at positions `at`. */
  def apply(r: Row, at: Array[Int]): LocalNode = {
    def long(k: Int) = if (r.isNullAt(at(k))) null else JLong.valueOf(r.getLong(at(k)))
    LocalNode(r.getInt(at(1)), r.getString(at(2)), long(3),
      if (r.isNullAt(at(4))) null else java.lang.Double.valueOf(r.getDouble(at(4))),
      if (r.isNullAt(at(5))) null else java.lang.Boolean.valueOf(r.getBoolean(at(5))),
      long(6), r.getString(at(7)), r.getString(at(8)), r.getString(at(9)))
  }
}

/** The positions of one quad column grouped by value, in compressed
  * rows: the k-th distinct value's positions are `at(start(k))` until
  * `at(start(k + 1))`, found through `slots`. Positions whose value is
  * absent (`value(q) == null`) are left out.
  */
private final class Postings(n: Int, value: Int => JLong) {
  private val slots = new graft.LongLongMap()
  private val (start, at) = {
    val keyOf = new Array[Int](n)
    var distinct = 0
    var q = 0
    while (q < n) {
      val v = value(q)
      keyOf(q) = -1
      if (v != null) {
        var k = slots.getOrElse(v, -1).toInt
        if (k < 0) { k = distinct; slots.put(v, k); distinct += 1 }
        keyOf(q) = k
      }
      q += 1
    }
    val start = new Array[Int](distinct + 1)
    q = 0
    while (q < n) { if (keyOf(q) >= 0) start(keyOf(q) + 1) += 1; q += 1 }
    var k = 0
    while (k < distinct) { start(k + 1) += start(k); k += 1 }
    val fill = java.util.Arrays.copyOf(start, distinct)
    val at = new Array[Int](start(distinct))
    q = 0
    while (q < n) {
      val k = keyOf(q)
      if (k >= 0) { at(fill(k)) = q; fill(k) += 1 }
      q += 1
    }
    (start, at)
  }

  /** The number of positions holding `id`. */
  def count(id: Long): Int = {
    val k = slots.getOrElse(id, -1).toInt
    if (k < 0) 0 else start(k + 1) - start(k)
  }

  /** The positions holding `id`, ascending (empty when none). */
  def positions(id: Long): Array[Int] = {
    val k = slots.getOrElse(id, -1).toInt
    if (k < 0) Array.emptyIntArray
    else java.util.Arrays.copyOfRange(at, start(k), start(k + 1))
  }
}

/** Columnar quads with one posting list per id per direction — the
  * memstore's QuadDirectionIndex analog
  * (/root/reference/graph/memstore/quadstore.go:125-137).
  */
private final class QuadTable(val s: Array[Long], val p: Array[Long],
                              val o: Array[Long], val l: Array[JLong]) {
  def n: Int = s.length

  def value(dir: Dir, q: Int): JLong = dir match {
    case Dir.S => JLong.valueOf(s(q))
    case Dir.P => JLong.valueOf(p(q))
    case Dir.O => JLong.valueOf(o(q))
    case Dir.L => l(q)
  }

  /** Whether quad `q` holds `id` in `dir`, without boxing. */
  def holds(dir: Dir, q: Int, id: Long): Boolean = dir match {
    case Dir.S => s(q) == id
    case Dir.P => p(q) == id
    case Dir.O => o(q) == id
    case Dir.L => l(q) != null && l(q).longValue == id
  }

  private val byS = new Postings(n, q => JLong.valueOf(s(q)))
  private val byP = new Postings(n, q => JLong.valueOf(p(q)))
  private val byO = new Postings(n, q => JLong.valueOf(o(q)))
  private val byL = new Postings(n, l(_))

  private def by(dir: Dir): Postings = dir match {
    case Dir.S => byS
    case Dir.P => byP
    case Dir.O => byO
    case Dir.L => byL
  }

  /** Positions of the quads holding `id` in `dir` (empty when none). */
  def postings(dir: Dir, id: Long): Array[Int] = by(dir).positions(id)

  /** The number of quads holding `id` in `dir`. */
  def count(dir: Dir, id: Long): Int = by(dir).count(id)

  /** Quad `q` as a working-set row `(s, p, o, l)`. */
  def row(q: Int): Array[JLong] =
    Array[JLong](JLong.valueOf(s(q)), JLong.valueOf(p(q)), JLong.valueOf(o(q)), l(q))
}

/** Nullable strings stored one after another in one string, added in
  * position order.
  */
private final class PackedStrings(n: Int) {
  private val chars = new java.lang.StringBuilder
  private val end = new Array[Int](n)
  private val absent = new java.util.BitSet(n)
  private var all: String = _
  private var added = 0

  def add(v: String): Unit = {
    if (v == null) absent.set(added) else chars.append(v)
    end(added) = chars.length
    added += 1
    if (added == n) all = chars.toString
  }

  def apply(i: Int): String =
    if (absent.get(i)) null else all.substring(if (i == 0) 0 else end(i - 1), end(i))
}

/** A compact index's dictionary, column by column: ids, kinds, strings
  * packed per column, numbers in primitive arrays, and the position of
  * each id. A handful of arrays instead of objects per node keeps a store
  * of tens of thousands of nodes cheap for the collector; [[get]] builds
  * an entry on demand.
  */
private final class NodeTable(val ids: Array[Long], entry: Int => LocalNode) {
  private val n = ids.length
  private val slots = new graft.LongLongMap(n)
  private val kind = new Array[Int](n)
  private val (str, lang, dt, sk) =
    (new PackedStrings(n), new PackedStrings(n), new PackedStrings(n), new PackedStrings(n))
  private val int, time = new Array[Long](n)
  private val dbl = new Array[Double](n)
  // per node: bit 0 = i set, 1 = d set, 2 = b set, 3 = b's value, 4 = t set
  private val flags = new Array[Byte](n)

  // a loop, not a closure, so that `entry` (and the rows it reads) is not
  // kept as a field
  {
    var k = 0
    while (k < n) {
      slots.put(ids(k), k)
      val e = entry(k)
      kind(k) = e.kind
      str.add(e.s); lang.add(e.lang); dt.add(e.dt); sk.add(e.sk)
      var f = 0
      if (e.i != null) { int(k) = e.i; f |= 1 }
      if (e.d != null) { dbl(k) = e.d; f |= 2 }
      if (e.b != null) { f |= 4; if (e.b) f |= 8 }
      if (e.t != null) { time(k) = e.t; f |= 16 }
      flags(k) = f.toByte
      k += 1
    }
  }

  /** The entry of `id`, or null. */
  def get(id: Long): LocalNode = {
    val k = slots.getOrElse(id, -1).toInt
    if (k < 0) null
    else {
      val f = flags(k)
      LocalNode(kind(k), str(k),
        if ((f & 1) != 0) JLong.valueOf(int(k)) else null,
        if ((f & 2) != 0) java.lang.Double.valueOf(dbl(k)) else null,
        if ((f & 4) != 0) java.lang.Boolean.valueOf((f & 8) != 0) else null,
        if ((f & 16) != 0) JLong.valueOf(time(k)) else null,
        lang(k), dt(k), sk(k))
    }
  }
}

private object QuadTable {
  /** The quads `quad(0)` … `quad(n - 1)`, each `(s, p, o, l)`. */
  def tabulate(n: Int)(quad: Int => (Long, Long, Long, JLong)): QuadTable = {
    val (s, p, o, l) = (new Array[Long](n), new Array[Long](n),
      new Array[Long](n), new Array[JLong](n))
    var q = 0
    while (q < n) {
      val (qs, qp, qo, ql) = quad(q)
      s(q) = qs; p(q) = qp; o(q) = qo; l(q) = ql
      q += 1
    }
    new QuadTable(s, p, o, l)
  }

  def apply(keys: Iterable[Graph.QuadKey]): QuadTable = {
    val ks = keys.toArray
    tabulate(ks.length) { q =>
      val (s, p, o, l) = ks(q)
      (s, p, o, l.map(JLong.valueOf).orNull)
    }
  }
}

/** In-memory quad index of one graph: a compact `base` (columnar quads,
  * posting lists per direction, the dictionary) and, for a snapshot a
  * write made, an overlay of that snapshot's delta — the base positions
  * it deleted, the quads it added (positions from `base.n` on) and the
  * dictionary rows it added and removed. Immutable once built.
  */
final class LocalGraphIndex private (
    base: QuadTable, dead: java.util.BitSet, added: QuadTable,
    baseNodes: NodeTable, addedNodes: java.util.HashMap[JLong, LocalNode],
    goneNodes: java.util.Set[JLong]) {
  private val nb = base.n

  /** The number of quads. */
  val nQuads: Long = nb.toLong - dead.cardinality() + added.n

  private def isCompact: Boolean = dead.isEmpty && added.n == 0 &&
    addedNodes.isEmpty && goneNodes.isEmpty

  /** The dictionary entry of `id`, or null. */
  def node(id: JLong): LocalNode = {
    val a = addedNodes.get(id)
    if (a != null || goneNodes.contains(id)) a else baseNodes.get(id.longValue)
  }

  /** Every node id: the base's, then the ones the overlay added. */
  lazy val nodeIds: Array[Long] =
    if (addedNodes.isEmpty && goneNodes.isEmpty) baseNodes.ids
    else {
      val b = new mutable.ArrayBuilder.ofLong
      baseNodes.ids.foreach(id => if (!goneNodes.contains(JLong.valueOf(id))) b += id)
      addedNodes.keySet.forEach(id => b += id.longValue)
      b.result()
    }

  /** Positions of every quad. */
  def allQuads: Array[Int] = {
    val b = new mutable.ArrayBuilder.ofInt
    var q = dead.nextClearBit(0)
    while (q < nb) { b += q; q = dead.nextClearBit(q + 1) }
    q = 0
    while (q < added.n) { b += nb + q; q += 1 }
    b.result()
  }

  /** Positions of the quads holding `id` in `dir` (empty when none). */
  def postings(dir: Dir, id: Long): Array[Int] = {
    val b = base.postings(dir, id)
    val live = if (dead.isEmpty) b else b.filterNot(dead.get)
    val a = added.postings(dir, id)
    if (a.isEmpty) live else live ++ a.map(_ + nb)
  }

  /** The number of quads holding `id` in `dir`. */
  def count(dir: Dir, id: Long): Int =
    if (dead.isEmpty && added.n == 0) base.count(dir, id)
    else postings(dir, id).length

  def value(dir: Dir, q: Int): JLong =
    if (q < nb) base.value(dir, q) else added.value(dir, q - nb)

  /** Whether quad `q` holds `id` in `dir`, without boxing. */
  def holds(dir: Dir, q: Int, id: Long): Boolean =
    if (q < nb) base.holds(dir, q, id) else added.holds(dir, q - nb, id)

  /** Quad `q` as a working-set row `(s, p, o, l)`. */
  def row(q: Int): Array[JLong] =
    if (q < nb) base.row(q) else added.row(q - nb)

  /** This compact index with the writes of `d` over it: work in the size
    * of the delta (deleted keys look up their subject's postings), no
    * Spark job.
    */
  private[shape] def overlay(d: Graph.Delta): LocalGraphIndex = {
    require(isCompact, "an overlay goes over a compact index")
    val deadAt = new java.util.BitSet(nb)
    d.gone.foreach { case (s, p, o, l) =>
      val lv = l.map(JLong.valueOf).orNull
      base.postings(Dir.S, s).foreach { q =>
        if (base.p(q) == p && base.o(q) == o && base.l(q) == lv) deadAt.set(q)
      }
    }
    val nodes = new java.util.HashMap[JLong, LocalNode](d.nodes.size * 2)
    d.nodes.values.headOption.foreach { r0 =>
      val at = LocalNode.Cols.map(r0.fieldIndex).toArray
      d.nodes.foreach { case (id, r) => nodes.put(JLong.valueOf(id), LocalNode(r, at)) }
    }
    val gone = new java.util.HashSet[JLong](d.goneNodes.size * 2)
    d.goneNodes.foreach(id => gone.add(JLong.valueOf(id)))
    new LocalGraphIndex(base, deadAt, QuadTable(d.quads), baseNodes, nodes, gone)
  }

  /** This index as one compact index (a fold's new base): no Spark job. */
  private[shape] def compact: LocalGraphIndex =
    if (isCompact) this
    else {
      val live = allQuads
      val ids = nodeIds
      LocalGraphIndex(QuadTable.tabulate(live.length) { i =>
        val r = row(live(i))
        (r(0), r(1), r(2), r(3))
      }, new NodeTable(ids, k => node(JLong.valueOf(ids(k)))))
    }
}

object LocalGraphIndex {
  /** Driver heap one indexed quad retains with its share of the
    * dictionary, and the serialized task results one quad adds to the
    * collects that build the index. Measured on the `serve` benchmark
    * store (74 400 quads, 58 604 nodes, seeds 1 and 2): 27.4-27.9 MB of
    * heap after GC, 3.3 MB of task results.
    */
  val HeapBytesPerQuad: Long = 375L
  val CollectBytesPerQuad: Long = 45L

  /** The largest store the session indexes on the driver
    * (`graft.DriverMemory`).
    */
  def maxQuads(spark: SparkSession): Long =
    graft.DriverMemory.rows(spark, HeapBytesPerQuad, CollectBytesPerQuad)

  private def apply(base: QuadTable, nodes: NodeTable): LocalGraphIndex =
    new LocalGraphIndex(base, new java.util.BitSet(0), QuadTable(Nil), nodes,
      new java.util.HashMap(), java.util.Collections.emptySet())

  /** A graph's quad count and its index (None above the cap it was
    * asked under).
    */
  private final case class Entry(quads: Long, index: Option[LocalGraphIndex])

  // Keyed on the quads DataFrame by identity: Graph.cached()/withStats()/
  // interactive() keep the same Dataset reference, writes create a new
  // one; dropped graphs let their index be collected.
  private val cache = new java.util.WeakHashMap[DataFrame, Entry]()

  /** The index of `g` when it holds at most `maxQuads` quads. A snapshot
    * a write made (`Graph.addQuads`, `deleteQuads`, `removeNode`) indexes
    * as its base's index plus an overlay of its delta, and a base a fold
    * made as the compaction of the overlay it folded: neither runs a
    * Spark job. Any other graph is collected once, table by table.
    */
  def forGraph(g: Graph, maxQuads: Long): Option[LocalGraphIndex] = {
    val (q, hit) = last
    if (q eq g.quads) hit.filter(_.nQuads <= maxQuads) else lookup(g, maxQuads)
  }

  // The graph most recently looked up and its index, read without the
  // lock: a server's reads all ask for its current snapshot. It keeps at
  // most that one graph's index alive beyond the cache's weak keys.
  @volatile private var last: (DataFrame, Option[LocalGraphIndex]) = (null, None)

  private def lookup(g: Graph, maxQuads: Long): Option[LocalGraphIndex] =
    cache.synchronized {
      val idx = g.liveDelta match {
        case Some(d) if d.isEmpty => baseOf(d, maxQuads)
        case Some(d) => Option(cache.get(g.quads)).flatMap(_.index).orElse {
          val o = baseOf(d, maxQuads).map(_.overlay(d))
          o.foreach(i => cache.put(g.quads, Entry(i.nQuads, o)))
          o
        }
        case None => stored(g, maxQuads)
      }
      last = (g.quads, idx)
      idx.filter(_.nQuads <= maxQuads)
    }

  /** The index of `d`'s base: cached, compacted from the index of the
    * base a fold replaced, or collected.
    */
  private def baseOf(d: Graph.Delta, maxQuads: Long): Option[LocalGraphIndex] =
    Option(cache.get(d.base.quads)).flatMap(_.index).orElse {
      val folded = for {
        p <- d.prior
        e <- Option(cache.get(p.base.quads))
        old <- e.index
        o = old.overlay(p) if o.nQuads <= maxQuads
      } yield {
        val idx = o.compact
        cache.remove(p.base.quads)
        cache.put(d.base.quads, Entry(idx.nQuads, Some(idx)))
        idx
      }
      folded.orElse(stored(d.base, maxQuads))
    }

  /** The collected index of `g`, or None when it holds more than
    * `maxQuads` quads (counted once).
    */
  private def stored(g: Graph, maxQuads: Long): Option[LocalGraphIndex] = {
    val hit = Option(cache.get(g.quads))
    hit.flatMap(_.index).orElse {
      val n = hit.map(_.quads).getOrElse(
        g.predStats.map(_.values.sum).getOrElse(g.quads.count()))
      val idx = if (n > maxQuads) None else Some(build(g))
      cache.put(g.quads, Entry(n, idx))
      idx
    }
  }

  /** One collect of each table (see [[HeapBytesPerQuad]]). */
  def build(g: Graph): LocalGraphIndex = {
    import org.apache.spark.sql.functions.col
    val nodeRows = g.nodes.select(LocalNode.Cols.map(col): _*).collect()
    val at = LocalNode.Cols.indices.toArray
    val nodes = new NodeTable(nodeRows.map(_.getLong(0)), k => LocalNode(nodeRows(k), at))
    val quadRows = g.quads.select(col("s"), col("p"), col("o"), col("l")).collect()
    LocalGraphIndex(QuadTable.tabulate(quadRows.length) { q =>
      val r = quadRows(q)
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else JLong.valueOf(r.getLong(3)))
    }, nodes)
  }
}

/** Locally evaluated result: a working set, or the pre-resolved Count. */
final case class LocalResult(idx: LocalGraphIndex,
                             table: Option[LocalTable],
                             countValue: Option[Long])

/** The Shape interpreter; each case mirrors the correspondingly-numbered
  * construct in [[Lower]].
  */
private final class LocalEval(idx: LocalGraphIndex) {
  import Lower.{ID, intTagCol, tagCol}
  import LocalEval.Unsupported

  private val idOnly = Vector(ID)

  // rows produced by joins and enumerations; the deadline is polled every
  // 4096 of them
  private var produced = 0L
  private def tick(): Unit = {
    produced += 1
    if ((produced & 4095L) == 0L) Deadline.check()
  }
  private def idTable(ids: IndexedSeq[JLong]): LocalTable =
    new LocalTable(idOnly, ids.map(i => Array[JLong](i)))

  // ---------------------------------------------------------------- nodes
  def nodes(s: Shape): LocalTable = s match {
    case Shape.AllNodes =>
      idTable(idx.nodeIds.toIndexedSeq.map(JLong.valueOf)) // Lower.scala:84
    case Shape.Null => LocalTable.empty(idOnly)
    case Shape.Fixed(vs) => // duplicates preserved (Lower.scala:86)
      idTable(vs.toIndexedSeq.map(v => JLong.valueOf(QValue.id(v))))
    case Shape.EmbedLocal(t) => t
    case _: Shape.Embed =>
      throw new Unsupported("embedded DataFrame")

    case Shape.NodesFrom(dir, q) => // Lower.scala:90-93
      val qt = quads(q)
      val base =
        if (dir == Dir.L) {
          val li = qt.colIdx("l")
          qt.where(r => r(li) != null)
        } else qt
      val dirIdx = base.colIdx(dir.colName)
      val keep = base.tagCols
      val keepIdx = keep.map(base.colIdx).toArray
      new LocalTable(ID +: keep, base.rows.map { r =>
        val out = new Array[JLong](keepIdx.length + 1)
        out(0) = r(dirIdx)
        var j = 0
        while (j < keepIdx.length) { out(j + 1) = r(keepIdx(j)); j += 1 }
        out
      })

    case Shape.Intersect(sub, opt) => // Lower.scala:95-111
      val (fixed, rest) = sub.partition(_.isInstanceOf[Shape.Fixed])
      var t =
        if (rest.isEmpty) nodes(fixed.head)
        else rest.map(nodes).reduce(joinOnIdInner)
      val fixedToFilter = if (rest.isEmpty) fixed.tail else fixed
      fixedToFilter.foreach {
        case Shape.Fixed(vs) =>
          val ids = vs.map(QValue.id).toSet
          val at = t.colIdx(ID)
          t = t.where(r => r(at) != null && ids.contains(r(at).longValue()))
        case _ => ()
      }
      opt.foldLeft(t)(optionalJoin)

    case Shape.Union(sub) => // Lower.scala:113-114
      LocalTable.union(sub.map(nodes))

    case Shape.Except(ex, from) => // Lower.scala:116-117 (left_anti: null ids kept)
      val exclude = new java.util.HashSet[JLong]()
      val et = nodes(ex); val ei = et.colIdx(ID)
      et.rows.foreach(r => if (r(ei) != null) exclude.add(r(ei)))
      val ft = nodes(from); val fi = ft.colIdx(ID)
      ft.where(r => r(fi) == null || !exclude.contains(r(fi)))

    case Shape.Filter(from, fs) => // Lower.scala:119-130
      val preds = fs.map(compilePredicate)
      def pass(n: LocalNode): Boolean = preds.forall(_(n))
      from match {
        case Shape.AllNodes => // dictionary scan, no join
          idTable(idx.nodeIds.toIndexedSeq.collect {
            case id if pass(idx.node(JLong.valueOf(id))) => JLong.valueOf(id)
          })
        case _ => // left_semi against the filtered dictionary
          val t = nodes(from); val at = t.colIdx(ID)
          t.where { r =>
            r(at) != null && {
              val n = idx.node(r(at))
              n != null && pass(n)
            }
          }
      }

    case Shape.Save(tags, from) => // Lower.scala:132-133
      val t0 = nodes(from); val at = t0.colIdx(ID)
      tags.foldLeft(t0)((t, tag) => t.withCol(tagCol(tag), r => r(at)))

    case Shape.FixedTags(tags, on) => // Lower.scala:135-138
      tags.foldLeft(nodes(on)) { case (t, (tag, v)) =>
        val id = JLong.valueOf(QValue.id(v))
        t.withCol(tagCol(tag), _ => id)
      }

    case Shape.Back(from, tag) => // Lower.scala:140-141
      val t = nodes(from); val src = t.colIdx(tagCol(tag))
      if (src < 0) throw new Unsupported(s"Back: missing tag column $tag")
      t.withCol(ID, r => r(src))

    case Shape.Unique(from) => // one row per id, nulls form one group;
      // survivor = min tag tuple (name-sorted, nulls first), mirroring
      // Lower's min(struct(...)) so the two engines agree deterministically
      val t = nodes(from); val at = t.colIdx(ID)
      val restIdx: Array[Int] = t.cols.zipWithIndex
        .filter(_._1 != ID).sortBy(_._1).map(_._2).toArray
      def less(a: Array[JLong], b: Array[JLong]): Boolean = {
        var i = 0
        while (i < restIdx.length) {
          val x = a(restIdx(i)); val y = b(restIdx(i))
          if (x == null && y != null) return true
          if (x != null && y == null) return false
          if (x != null && y != null && x.longValue != y.longValue)
            return x.longValue < y.longValue
          i += 1
        }
        false
      }
      val best = new java.util.LinkedHashMap[JLong, Array[JLong]]()
      t.rows.foreach { r =>
        val k = r(at)
        val cur = best.get(k)
        if ((cur == null && !best.containsKey(k)) || (cur != null && less(r, cur)))
          best.put(k, r)
      }
      import scala.jdk.CollectionConverters._
      new LocalTable(t.cols, best.values.asScala.toVector)

    case Shape.Page(from, skip, limit) => // Lower.scala:145-149
      val full = nodes(from)
      var rows = full.rows
      if (skip > 0) rows = rows.drop(skip.toInt)
      if (limit > 0) rows = rows.take(limit.toInt)
      new LocalTable(full.cols, rows)

    case Shape.Sort(from) => // order by precomputed sk, nulls first
      // (Lower.scala:151-158)
      val t = nodes(from); val at = t.colIdx(ID)
      def keyOf(r: Array[JLong]): String = {
        if (r(at) == null) null
        else {
          val n = idx.node(r(at))
          if (n == null) null else n.sk
        }
      }
      // each row's key looked up once, then a stable sort on the keys
      new LocalTable(t.cols, t.rows.map(r => (keyOf(r), r)).sortWith { (a, b) =>
        val (ka, kb) = (a._1, b._1)
        if (ka == null && kb == null) false
        else if (ka == null) true
        else if (kb == null) false
        else utf8Lt(ka, kb)
      }.map(_._2))

    case Shape.Materialize(v) => nodes(v) // caching is physical-only here

    case Shape.Recursive(from, step, maxDepth, depthTags) =>
      recursive(from, step, maxDepth, depthTags)

    case Shape.Count(_) =>
      throw new Unsupported("nested Count") // root-only, see tryRun

    case q: Shape.Quads =>
      throw new IllegalArgumentException(s"quad shape in node position: $q")
  }

  // ---------------------------------------------------------------- quads
  private def quads(s: Shape): LocalTable = s match {
    case Shape.Quads(filters) => evalQuads(filters)
    case Shape.Union(sub) => LocalTable.union(sub.map(quads))
    case other =>
      throw new IllegalArgumentException(s"node shape in quad position: $other")
  }

  private val quadCols = Vector("s", "p", "o", "l")

  /** Quads(filters) — Lower.scala:180-232. Literal (Fixed) constraints are
    * applied first via the direction indexes (they commute with the other
    * filters: pure per-row predicates on immutable quad columns), seeding
    * the candidate list from the most selective direction; Save-tags and
    * sub-shape joins then run in their original order over materialized
    * rows.
    */
  private def evalQuads(filters: Seq[Shape.QuadFilter]): LocalTable = {
    // (dir, ids) literal constraints, including the filter half of
    // Save(tags, Fixed) (Lower.scala:224-226)
    val literal = mutable.ArrayBuffer.empty[(Dir, Seq[Long])]
    filters.foreach { f =>
      f.values match {
        case Shape.Fixed(vs) => literal += f.dir -> vs.map(QValue.id)
        case Shape.Save(_, Shape.Fixed(vs)) => literal += f.dir -> vs.map(QValue.id)
        case Shape.Null => literal += f.dir -> Nil
        case _ => ()
      }
    }
    // sub-shape filters evaluate FIRST (the join needs them anyway): a
    // small frontier is usually the most selective seed — `in(pred)` from
    // one node must walk that node's postings, not materialize every quad
    // of the predicate and join down (memstore iterates the same way,
    // graph/memstore/quadstore.go QuadIterator: per-value posting lists)
    val subTables = mutable.LinkedHashMap.empty[Int, LocalTable]
    filters.zipWithIndex.foreach { case (f, i) =>
      f.values match {
        case Shape.AllNodes | Shape.Null | _: Shape.Fixed
           | Shape.Save(_, Shape.AllNodes) | Shape.Save(_, _: Shape.Fixed) => ()
        case sub => subTables(i) = nodes(sub)
      }
    }
    // candidate seeds: every literal constraint, plus every sub-shape
    // frontier small enough that summing its posting lengths is free
    final case class SeedC(d: Dir, ids: Array[Long], cost: Long)
    val seeds = mutable.ArrayBuffer.empty[SeedC]
    literal.foreach { case (d, ids) =>
      seeds += SeedC(d, ids.toArray, ids.map(idx.count(d, _).toLong).sum)
    }
    val MaxSeedFrontier = 4096
    filters.zipWithIndex.foreach { case (f, i) =>
      subTables.get(i).foreach { nt =>
        val ni = nt.colIdx(ID)
        val set = new java.util.HashSet[JLong](nt.rows.size * 2)
        nt.rows.foreach(r => if (r(ni) != null) set.add(r(ni)))
        if (set.size <= MaxSeedFrontier) {
          val ids = new Array[Long](set.size)
          val it = set.iterator(); var j = 0
          while (it.hasNext) { ids(j) = it.next().longValue(); j += 1 }
          seeds += SeedC(f.dir, ids, ids.map(idx.count(f.dir, _).toLong).sum)
        }
      }
    }
    // stats folding (Lower.scala:195-201) falls out of empty postings.
    var cand: Array[Int] =
      if (seeds.isEmpty) idx.allQuads
      else {
        val s = seeds.minBy(_.cost)
        s.ids.flatMap(idx.postings(s.d, _))
      }
    // apply every literal constraint (postings per id are disjoint, so the
    // seed list has no duplicates; re-checking the seed dir is a no-op)
    literal.foreach {
      case (d, Seq(id)) => cand = cand.filter(idx.holds(d, _, id))
      case (d, ids) =>
        val set = ids.toSet
        cand = cand.filter { q =>
          val v = idx.value(d, q)
          v != null && set.contains(v.longValue())
        }
    }
    var t = new LocalTable(quadCols, cand.toIndexedSeq.map { q =>
      tick(); idx.row(q)
    })
    // now the non-literal work, in filter order
    filters.zipWithIndex.foreach { case (f, fi) =>
      val dirIdx = t.colIdx(f.dir.colName)
      f.values match {
        case Shape.AllNodes | Shape.Null | _: Shape.Fixed => ()
        case Shape.Save(tags, Shape.AllNodes) => // tag the direction, no join
          t = tags.foldLeft(t)((t2, tag) =>
            t2.withCol(tagCol(tag), r => r(dirIdx)))
        case Shape.Save(tags, _: Shape.Fixed) => // filter applied above
          t = tags.foldLeft(t)((t2, tag) =>
            t2.withCol(tagCol(tag), r => r(dirIdx)))
        case _ => // inner join quads.dir == nodes.id (Lower.scala:227-231)
          val nt = subTables(fi)
          val keep = nt.tagCols.filterNot(t.cols.contains)
          val ni = nt.colIdx(ID)
          val outRows =
            if (keep.isEmpty) {
              // nothing to carry over: each quad row once per matching
              // node row (bag multiplicity), the row itself shared
              val matches = new graft.LongLongMap(nt.rows.size)
              nt.rows.foreach { r =>
                val v = r(ni)
                if (v != null) matches.put(v, matches.getOrElse(v, 0) + 1)
              }
              val out = new mutable.ArrayBuffer[Array[JLong]](t.rows.size)
              t.rows.foreach { r =>
                tick()
                val v = r(dirIdx)
                var m = if (v == null) 0L else matches.getOrElse(v, 0)
                while (m > 0) { out += r; m -= 1 }
              }
              scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray)
            } else {
              val keepIdx = keep.map(nt.colIdx)
              val byId = new java.util.HashMap[JLong, mutable.ArrayBuffer[Array[JLong]]](
                nt.rows.size * 2)
              nt.rows.foreach { r =>
                if (r(ni) != null) {
                  var b = byId.get(r(ni))
                  if (b == null) {
                    b = mutable.ArrayBuffer.empty[Array[JLong]]
                    byId.put(r(ni), b)
                  }
                  b += keepIdx.map(r(_)).toArray
                }
              }
              t.rows.flatMap { r =>
                tick()
                val v = r(dirIdx)
                val ms = if (v == null) null else byId.get(v)
                if (ms == null) Nil else ms.map(tagVals => r ++ tagVals)
              }
            }
          t = new LocalTable(t.cols ++ keep, outRows)
      }
    }
    t
  }

  // -------------------------------------------------------------- helpers
  /** joinOnId inner (Lower.scala:245-251): duplicate right tags dropped;
    * a tag-less right side is an existence probe (left semi), a
    * tag-bearing one a real inner join (bag multiplicity).
    */
  private def joinOnIdInner(left: LocalTable, right: LocalTable): LocalTable = {
    val r0 = right.tagCols.filter(left.cols.contains).foldLeft(right)(_ drop _)
    val li = left.colIdx(ID); val ri = r0.colIdx(ID)
    val rtags = r0.tagCols
    if (rtags.isEmpty) {
      val ids = new java.util.HashSet[JLong](r0.rows.size * 2)
      r0.rows.foreach(r => if (r(ri) != null) ids.add(r(ri)))
      left.where(r => r(li) != null && ids.contains(r(li)))
    } else {
      val keepIdx = rtags.map(r0.colIdx)
      val byId = new java.util.HashMap[JLong, mutable.ArrayBuffer[Array[JLong]]]()
      r0.rows.foreach { r =>
        if (r(ri) != null) {
          var b = byId.get(r(ri))
          if (b == null) {
            b = mutable.ArrayBuffer.empty[Array[JLong]]; byId.put(r(ri), b)
          }
          b += keepIdx.map(r(_)).toArray
        }
      }
      val rows = left.rows.flatMap { r =>
        tick()
        val ms = if (r(li) == null) null else byId.get(r(li))
        if (ms == null) Nil else ms.map(tv => r ++ tv)
      }
      new LocalTable(left.cols ++ rtags, rows)
    }
  }

  /** Optional branch (Lower.scala:256-260): left outer, binds new tags
    * only, enumerates multiple matches, unmatched rows get nulls.
    */
  private def optionalJoin(left: LocalTable, optShape: Shape): LocalTable = {
    val ot = nodes(optShape)
    val keep = ot.tagCols.filterNot(left.cols.contains)
    val oi = ot.colIdx(ID)
    val keepIdx = keep.map(ot.colIdx)
    val byId = new java.util.HashMap[JLong, mutable.ArrayBuffer[Array[JLong]]]()
    ot.rows.foreach { r =>
      if (r(oi) != null) {
        var b = byId.get(r(oi))
        if (b == null) {
          b = mutable.ArrayBuffer.empty[Array[JLong]]; byId.put(r(oi), b)
        }
        b += keepIdx.map(r(_)).toArray
      }
    }
    val li = left.colIdx(ID)
    val nulls = Array.fill[JLong](keep.size)(null)
    val rows = left.rows.flatMap { r =>
      tick()
      val ms = if (r(li) == null) null else byId.get(r(li))
      if (ms == null) Seq(r ++ nulls) else ms.map(tv => r ++ tv)
    }
    new LocalTable(left.cols ++ keep, rows)
  }

  /** Spark string comparison is binary over UTF-8 bytes; mirror it
    * (Java String.compareTo is UTF-16 code-unit order, which differs for
    * supplementary characters).
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ba.length, bb.length)
    while (i < n) {
      val c = (ba(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ba.length - bb.length
  }
  private def utf8Lt(a: String, b: String): Boolean = utf8Cmp(a, b) < 0

  /** Value predicate over a dictionary entry — mirrors
    * Lower.filterPredicate (Lower.scala:265-301) including the within-kind
    * rule and rlike's unanchored find() semantics.
    */
  private def compilePredicate(f: ValueFilter): LocalNode => Boolean = f match {
    case ValueFilter.Comparison(op, v) =>
      import ValueFilter._
      def cmpL(x: Long, y: Long): Boolean = op match {
        case LT => x < y; case LTE => x <= y; case GT => x > y; case GTE => x >= y
      }
      def cmpD(x: Double, y: Double): Boolean = op match {
        case LT => x < y; case LTE => x <= y; case GT => x > y; case GTE => x >= y
      }
      def cmpS(x: String, y: String): Boolean = {
        val c = utf8Cmp(x, y)
        op match { case LT => c < 0; case LTE => c <= 0; case GT => c > 0; case GTE => c >= 0 }
      }
      v match {
        case QValue.IntV(x) =>
          n => n.kind == Kind.IntK && n.i != null && cmpL(n.i, x)
        case QValue.FloatV(x) =>
          n => n.kind == Kind.FloatK && n.d != null && cmpD(n.d, x)
        case QValue.Str(x) =>
          n => n.kind == Kind.Str && n.s != null && cmpS(n.s, x)
        case QValue.Iri(x) =>
          n => n.kind == Kind.Iri && n.s != null && cmpS(n.s, x)
        case QValue.BNode(x) =>
          n => n.kind == Kind.BNode && n.s != null && cmpS(n.s, x)
        case QValue.TimeV(x) =>
          n => n.kind == Kind.TimeK && n.t != null && cmpL(n.t, x)
        case other =>
          val sk = other.sortKey
          n => n.kind == other.kind && n.sk != null && cmpS(n.sk, sk)
      }
    case ValueFilter.Regexp(pattern, withRefs) =>
      val p = graft.functions.Re2.compile(pattern)
      val kinds =
        if (withRefs)
          Set(Kind.Str, Kind.LangStr, Kind.TypedStr, Kind.Iri, Kind.BNode)
        else Set(Kind.Str, Kind.LangStr, Kind.TypedStr)
      n => kinds.contains(n.kind) && n.s != null && p.matches(n.s)
    case ValueFilter.Wildcard(pattern) =>
      val regex = "^" + pattern.flatMap {
        case '%' => ".*"
        case '?' => "."
        case c if "\\.[]{}()*+-?^$|".contains(c) => "\\" + c
        case c => c.toString
      } + "$"
      val p = graft.functions.Re2.compile(regex)
      n => n.s != null && p.matches(n.s)
  }

  /** Frontier/seen transitive closure — mirrors Lower.recursive
    * (Lower.scala:312-352) step for step, with the frontier embedded as
    * local rows instead of a DataFrame.
    */
  private def recursive(from: Shape, step: Shape => Shape, maxDepth: Int,
                        depthTags: Seq[String]): LocalTable = {
    val maxD = if (maxDepth <= 0) Lower.DefaultMaxRecursive else maxDepth
    // start = nodes(from).select(ID).distinct()
    val fromT = nodes(from); val fi = fromT.colIdx(ID)
    val startIds = new java.util.LinkedHashSet[JLong]()
    var startHasNull = false
    fromT.rows.foreach { r =>
      if (r(fi) == null) startHasNull = true else startIds.add(r(fi))
    }
    import scala.jdk.CollectionConverters._
    def distinctIdTable(ids: Iterable[JLong], withNull: Boolean): LocalTable =
      idTable(ids.toIndexedSeq ++ (if (withNull) Seq(null: JLong) else Nil))
    var frontier = distinctIdTable(startIds.asScala, startHasNull)
    val emitted = new java.util.HashSet[JLong]()
    var emittedNull = false
    var depth = 0
    var freshEmpty = frontier.rows.isEmpty
    val parts = mutable.ArrayBuffer.empty[LocalTable]
    while (depth < maxD && !freshEmpty) {
      Deadline.check()
      val stepT = nodes(step(Shape.EmbedLocal(frontier)))
      val depthVal = JLong.valueOf((depth + 1).toLong)
      val tagged = depthTags.foldLeft(stepT)((t, tag) =>
        t.withCol(intTagCol(tag), _ => depthVal))
      // fresh = anti-join emitted (nulls kept), then first row per id
      val ti = tagged.colIdx(ID)
      val seen = new java.util.HashSet[JLong]()
      var seenNull = false
      val freshRows = tagged.rows.filter { r =>
        val v = r(ti)
        if (v == null) { // left_anti keeps null ids; dedup keeps first
          val first = !emittedNull && !seenNull; seenNull = true; first
        } else !emitted.contains(v) && seen.add(v)
      }
      val fresh = new LocalTable(tagged.cols, freshRows)
      freshEmpty = fresh.rows.isEmpty
      if (!freshEmpty) {
        parts += fresh
        val ai = fresh.colIdx(ID)
        fresh.rows.foreach { r =>
          if (r(ai) == null) emittedNull = true else emitted.add(r(ai))
        }
        // frontier = fresh ids not in start (null ids survive left_anti)
        val nextIds = new java.util.LinkedHashSet[JLong]()
        var nextNull = false
        fresh.rows.foreach { r =>
          if (r(ai) == null) nextNull = true
          else if (!startIds.contains(r(ai))) nextIds.add(r(ai))
        }
        frontier = distinctIdTable(nextIds.asScala, nextNull)
      }
      depth += 1
    }
    if (parts.isEmpty) LocalTable.empty(idOnly) else LocalTable.union(parts.toSeq)
  }
}
