package graft.path

import graft.TestFixtures
import graft.core.Graph
import graft.shape.LocalEval
import org.scalatest.funsuite.AnyFunSuite

/** The entire golden pathtest corpus (PathSpec) re-run through the
  * driver-local fast path: same graph, `interactive()` turned on, so
  * `Exec.run` dispatches every supported shape to LocalEval. Expected
  * values are inherited unchanged — the corpus is the differential.
  */
class LocalPathSpec extends PathSpec {
  override lazy val g: Graph =
    Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
      .cached().interactive()

  test("the local path actually engaged (not a vacuous fallback sweep)") {
    assert(LocalEval.evalCount.get() > 20,
      "expected most corpus queries to evaluate locally")
  }
}

/** Recursive-traversal golden tests through the local path. */
class LocalRecursiveSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import graft.core.{NQuads, QValue}
  import graft.exec.Exec

  def iri(s: String): QValue = QValue.Iri(s)
  def q(s: String, p: String, o: String) =
    NQuads.ParsedQuad(iri(s), iri(p), iri(o), None)

  test("recursive with Has, locally") {
    val g = Graph.fromQuads(spark, Seq(
      q("a", "parent", "b"), q("b", "parent", "c"), q("c", "parent", "d"),
      q("c", "labels", "tag"), q("d", "parent", "e"), q("d", "labels", "tag")))
      .interactive()
    val p = Path.start(iri("a"))
      .followRecursive(Path.morphism().out(iri("parent")), 0)
      .has(iri("labels"), iri("tag"))
    val before = LocalEval.evalCount.get()
    val got = Exec.run(g, p).values().map(_.sortKey).sorted
    assert(got === Seq("<c>", "<d>"))
    assert(LocalEval.evalCount.get() > before, "should have run locally")
  }

  test("depth tags bind Int depths, locally") {
    val g = Graph.fromQuads(spark, Seq(
      q("a", "parent", "b"), q("b", "parent", "c"), q("c", "parent", "d")))
      .interactive()
    val p = Path.start(iri("a"))
      .followRecursive(Path.morphism().out(iri("parent")), 0, Seq("depth"))
    val rows = Exec.run(g, p).tagMaps()
    val byDepth = rows.flatMap(m => m.get("depth").map {
      case QValue.IntV(d) => d
      case other          => fail(s"depth bound to non-Int $other")
    }).sorted
    assert(byDepth === Seq(1L, 2L, 3L))
  }
}
