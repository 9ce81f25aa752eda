package graft.core

import graft.core.NQuads.ParsedQuad

/** Mutation semantics beyond raw snapshot union/anti-join
  * (/root/reference/graph/quadwriter.go:49-112,
  * /root/reference/graph/transaction.go:19-60):
  *
  *  - `Delta{quad, action}` batches applied via [[applyDeltas]] with
  *    `IgnoreOpts`: adding an existing quad is `ErrQuadExists`, deleting a
  *    missing quad is `ErrQuadNotExist`, unless the respective ignore flag
  *    is set (the reference's writer.Single behavior matrix, graphtest.go
  *    TestWriters).
  *  - [[Transaction]] deduplicates deltas and cancels an add against a
  *    pending remove of the same quad (transaction.go AddQuad/RemoveQuad).
  *
  * Existence validation is one filtered probe of the quads table for the
  * (small) delta set — the store side is never collected.
  */
object Mutation {
  sealed trait Action
  case object Add extends Action
  case object Delete extends Action

  final case class Delta(quad: ParsedQuad, action: Action)

  final case class IgnoreOpts(ignoreDup: Boolean = false,
                              ignoreMissing: Boolean = false)

  val ErrQuadExists = "quad exists"
  val ErrQuadNotExist = "quad does not exist"

  final case class DeltaError(delta: Delta, err: String)
      extends Exception(s"${delta.action} ${NQuads.serialize(delta.quad)}: $err")

  /** Deduplicated, order-preserving delta set (transaction.go). */
  final class Transaction {
    private val seen = scala.collection.mutable.LinkedHashSet.empty[Delta]

    def addQuad(q: ParsedQuad): Unit = {
      val ad = Delta(q, Add); val rd = Delta(q, Delete)
      if (!seen.contains(ad)) {
        if (seen.contains(rd)) seen -= rd else seen += ad
      }
    }

    def removeQuad(q: ParsedQuad): Unit = {
      val ad = Delta(q, Add); val rd = Delta(q, Delete)
      if (seen.contains(ad)) seen -= ad
      else if (!seen.contains(rd)) seen += rd
    }

    def deltas: Seq[Delta] = seen.toSeq
  }

  /** Which of `quads` exist in the store — the filtered probe
    * `Graph.addQuads` uses; the store side is never collected.
    */
  def existing(g: Graph, quads: Seq[ParsedQuad]): Set[Graph.QuadKey] =
    g.storedRows(quads.map(Graph.quadKey).distinct).toSet

  /** Apply a delta batch with validation. Deltas are checked in order
    * against the snapshot plus earlier deltas of the same batch, then
    * applied as one union/anti-join pair. Throws [[DeltaError]] on the
    * first violating delta.
    */
  def applyDeltas(g: Graph, deltas: Seq[Delta],
                  opts: IgnoreOpts = IgnoreOpts()): Graph = {
    val present = scala.collection.mutable.Set.empty[Graph.QuadKey]
    present ++= existing(g, deltas.map(_.quad))
    val adds = Vector.newBuilder[ParsedQuad]
    val dels = Vector.newBuilder[ParsedQuad]
    deltas.foreach { d =>
      val key = Graph.quadKey(d.quad)
      d.action match {
        case Add =>
          if (present(key)) {
            if (!opts.ignoreDup) throw DeltaError(d, ErrQuadExists)
          } else { present += key; adds += d.quad }
        case Delete =>
          if (!present(key)) {
            if (!opts.ignoreMissing) throw DeltaError(d, ErrQuadNotExist)
          } else { present -= key; dels += d.quad }
      }
    }
    var out = g
    val delQuads = dels.result()
    if (delQuads.nonEmpty)
      out = out.deleteQuads(Graph.fromQuads(g.spark, delQuads))
    val addQuads = adds.result()
    if (addQuads.nonEmpty)
      out = out.addQuads(Graph.fromQuads(g.spark, addQuads))
    out
  }

  /** The writer.Single surface: a stateful writer over a snapshot ref. */
  final class Writer(initial: Graph, opts: IgnoreOpts = IgnoreOpts()) {
    private var g = initial
    def graph: Graph = g
    def addQuad(q: ParsedQuad): Unit =
      g = applyDeltas(g, Seq(Delta(q, Add)), opts)
    def removeQuad(q: ParsedQuad): Unit =
      g = applyDeltas(g, Seq(Delta(q, Delete)), opts)
  }
}
