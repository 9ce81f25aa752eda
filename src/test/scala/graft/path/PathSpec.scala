package graft.path

import graft.{TestFixtures, TestSpark}
import graft.core.{Graph, QValue}
import graft.exec.Exec
import graft.shape.ValueFilter
import graft.shape.ValueFilter._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's primary operator-correctness corpus
  * (/root/reference/query/path/pathtest/pathtest.go:149-520) over the
  * 15-quad testdata.nq fixture, same expected multisets.
  */
class PathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val g: Graph =
    Graph.fromNQuads(spark, TestFixtures.data("testdata.nq")).cached()

  def iri(s: String): QValue = QValue.Iri(s)
  def str(s: String): QValue = QValue.Str(s)

  val vFollows = iri("follows"); val vAre = iri("are")
  val vStatus = iri("status"); val vPredicates = iri("predicates")
  val vCool = str("cool_person"); val vSmart = str("smart_person")
  val vSmartGraph = iri("smart_graph")
  val vAlice = iri("alice"); val vBob = iri("bob"); val vCharlie = iri("charlie")
  val vDani = iri("dani"); val vFred = iri("fred"); val vGreg = iri("greg")
  val vEmily = iri("emily")

  def grandfollows = Path.morphism().out(vFollows).out(vFollows)

  private def sortedVals(vs: Seq[QValue]): Seq[String] =
    vs.map(_.sortKey).sorted

  def checkValues(p: Path, expect: Seq[QValue]): Unit = {
    val got = Exec.run(g, p).values()
    assert(sortedVals(got) === sortedVals(expect))
  }

  def checkTag(p: Path, tag: String, expect: Seq[QValue],
               keepEmpty: Boolean = false): Unit = {
    val got = Exec.run(g, p).tagValues(tag, keepEmpty)
    assert(sortedVals(got) === sortedVals(expect))
  }

  test("out") { checkValues(Path.start(vAlice).out(vFollows), Seq(vBob)) }

  test("out (any)") { checkValues(Path.start(vBob).out(), Seq(vFred, vCool)) }

  test("in") {
    checkValues(Path.start(vBob).in(vFollows), Seq(vAlice, vCharlie, vDani))
  }

  test("in (any)") {
    checkValues(Path.start(vBob).in(), Seq(vAlice, vCharlie, vDani))
  }

  test("filter nodes") {
    checkValues(Path.start().filter(Comparison(GT, iri("p"))),
      Seq(vPredicates, vSmartGraph, vStatus))
  }

  test("in with filter") {
    checkValues(Path.start(vBob).in(vFollows).filter(Comparison(GT, iri("c"))),
      Seq(vCharlie, vDani))
  }

  test("in with regex (no refs)") {
    checkValues(Path.start(vBob).in(vFollows).regex("ar?li.*e"), Nil)
  }

  test("in with regex (include IRIs)") {
    checkValues(Path.start(vBob).in(vFollows).regex("ar?li.*e", withRefs = true),
      Seq(vAlice, vCharlie))
  }

  test("path Out") {
    checkValues(Path.start(vBob).out(Path.start(vPredicates).out(vAre)),
      Seq(vFred, vCool))
  }

  test("And") {
    checkValues(Path.start(vDani).out(vFollows)
      .and(Path.start(vCharlie).out(vFollows)), Seq(vBob))
  }

  test("Or") {
    checkValues(Path.start(vFred).out(vFollows)
      .or(Path.start(vAlice).out(vFollows)), Seq(vBob, vGreg))
  }

  test("implicit All") {
    checkValues(Path.start(), Seq(vAlice, vBob, vCharlie, vDani, vEmily,
      vFred, vGreg, vFollows, vStatus, vCool, vPredicates, vAre, vSmartGraph,
      vSmart))
  }

  test("follow") {
    checkValues(Path.start(vCharlie)
      .follow(Path.morphism().out(vFollows).out(vFollows)),
      Seq(vBob, vFred, vGreg))
  }

  test("followR") {
    checkValues(Path.start(vFred)
      .followReverse(Path.morphism().out(vFollows).out(vFollows)),
      Seq(vAlice, vCharlie, vDani))
  }

  test("is, tag, instead of FollowR") {
    checkTag(Path.start().tag("first")
      .follow(Path.morphism().out(vFollows).out(vFollows)).is(vFred),
      "first", Seq(vAlice, vCharlie, vDani))
  }

  test("Except to filter out a single vertex") {
    checkValues(Path.start(vAlice, vBob).except(Path.start(vAlice)), Seq(vBob))
  }

  test("chained Except") {
    checkValues(Path.start(vAlice, vBob, vCharlie)
      .except(Path.start(vBob)).except(Path.start(vAlice)), Seq(vCharlie))
  }

  test("Unique") {
    checkValues(Path.start(vAlice, vBob, vCharlie).out(vFollows).unique(),
      Seq(vBob, vDani, vFred))
  }

  test("simple save") {
    checkTag(Path.start().save(vStatus, "somecool"), "somecool",
      Seq(vCool, vCool, vCool, vSmart, vSmart))
  }

  test("simple saveR") {
    checkTag(Path.start(vCool).saveReverse(vStatus, "who"), "who",
      Seq(vGreg, vDani, vBob))
  }

  test("save with a next path") {
    checkTag(Path.start(vDani, vBob).save(vFollows, "target"), "target",
      Seq(vBob, vFred, vGreg))
  }

  test("save all with a next path") {
    checkTag(Path.start().save(vFollows, "target"), "target",
      Seq(vBob, vBob, vBob, vDani, vFred, vFred, vGreg, vGreg))
  }

  test("simple Has") {
    checkValues(Path.start().has(vStatus, vCool), Seq(vGreg, vDani, vBob))
  }

  test("filter nodes with has") {
    checkValues(Path.start().hasFilter(vFollows, rev = false,
      Comparison(GT, iri("f"))), Seq(vBob, vDani, vEmily, vFred))
  }

  test("has path") {
    checkValues(Path.start().hasPath(Path.morphism().out(vStatus).is(vCool)),
      Seq(vGreg, vDani, vBob))
  }

  test("string prefix") {
    checkValues(Path.start().filter(Wildcard("bo%")), Seq(vBob))
  }

  test("three letters and range") {
    checkValues(Path.start().filter(Wildcard("???"),
      Comparison(GT, iri("b"))), Seq(vBob))
  }

  test("part in string") {
    checkValues(Path.start().filter(Wildcard("%ed%")),
      Seq(vFred, vPredicates))
  }

  test("Limit") {
    val got = Exec.run(g, Path.start().has(vStatus, vCool).limit(2)).values()
    assert(got.size === 2)
    assert(got.toSet.subsetOf(Set(vBob, vDani, vGreg)))
  }

  test("Skip") {
    val got = Exec.run(g, Path.start().has(vStatus, vCool).skip(2)).values()
    assert(got.size === 1)
    assert(Set[QValue](vBob, vDani, vGreg).contains(got.head))
  }

  test("Skip and Limit") {
    val got =
      Exec.run(g, Path.start().has(vStatus, vCool).skip(1).limit(1)).values()
    assert(got.size === 1)
    assert(Set[QValue](vBob, vDani, vGreg).contains(got.head))
  }

  test("Count") {
    checkValues(Path.start().has(vStatus).count(), Seq(QValue.IntV(5)))
  }

  test("double Has") {
    checkValues(Path.start().has(vStatus, vCool).has(vFollows, vFred),
      Seq(vBob))
  }

  test("simple HasReverse") {
    checkValues(Path.start().hasReverse(vStatus, vBob), Seq(vCool))
  }

  test(".Tag()-.Is()-.Back()") {
    checkValues(Path.start(vBob).in(vFollows).tag("foo").out(vStatus)
      .is(vCool).back("foo"), Seq(vDani))
  }

  test("do multiple .Back()s") {
    checkTag(Path.start(vEmily).out(vFollows).tag("f").out(vFollows)
      .out(vStatus).is(vCool).back("f").in(vFollows).in(vFollows)
      .tag("acd").out(vStatus).is(vCool).back("f"), "acd", Seq(vDani))
  }

  test("Labels()") {
    checkValues(Path.start(vGreg).labels(), Seq(vSmartGraph))
  }

  test("InPredicates()") {
    checkValues(Path.start(vBob).inPredicates(), Seq(vFollows))
  }

  test("OutPredicates()") {
    checkValues(Path.start(vBob).outPredicates(), Seq(vFollows, vStatus))
  }

  test("SavePredicates(in)") {
    checkTag(Path.start(vBob).savePredicates(rev = true, "pred"), "pred",
      Seq(vFollows, vFollows, vFollows))
  }

  test("SavePredicates(out)") {
    checkTag(Path.start(vBob).savePredicates(rev = false, "pred"), "pred",
      Seq(vFollows, vStatus))
  }

  test("simple morphism") {
    checkValues(Path.start(vCharlie).follow(grandfollows),
      Seq(vGreg, vFred, vBob))
  }

  test("reverse morphism") {
    checkValues(Path.start(vFred).followReverse(grandfollows),
      Seq(vAlice, vCharlie, vDani))
  }

  test("query without label limitation") {
    checkValues(Path.start(vGreg).out(vStatus), Seq(vSmart, vCool))
  }

  test("query with label limitation") {
    checkValues(Path.start(vGreg).labelContext(vSmartGraph).out(vStatus),
      Seq(vSmart))
  }

  test("reverse context") {
    checkValues(Path.start(vGreg).tag("base").labelContext(vSmartGraph)
      .out(vStatus).tag("status").back("base"), Seq(vGreg))
  }

  test("save limits top level") {
    checkValues(Path.start(vBob, vCharlie).out(vFollows)
      .save(vStatus, "statustag"), Seq(vBob, vDani))
  }

  test("optional still returns top level") {
    checkValues(Path.start(vBob, vCharlie).out(vFollows)
      .saveOptional(vStatus, "statustag"), Seq(vBob, vFred, vDani))
  }

  test("optional has the appropriate tags") {
    checkTag(Path.start(vBob, vCharlie).out(vFollows)
      .saveOptional(vStatus, "statustag"), "statustag", Seq(vCool, vCool))
  }

  test("composite paths (clone paths)") {
    val alicePath = Path.start(vAlice)
    alicePath.out(vFollows) // must not mutate alicePath
    checkValues(alicePath, Seq(vAlice))
  }

  test("follow recursive") {
    checkValues(Path.start(vCharlie).followRecursive(vFollows),
      Seq(vBob, vDani, vFred, vGreg))
  }

  test("follow recursive (limit depth)") {
    checkValues(Path.start(vCharlie).followRecursive(vFollows, maxDepth = 1),
      Seq(vBob, vDani))
  }

  test("find non-existent") {
    checkValues(Path.start(iri("<not-existing>")), Nil)
  }

  test("use order") {
    val got = Exec.run(g, Path.start().order()).values()
    assert(got.map(_.sortKey) === Seq(vAlice, vAre, vBob, vCharlie, vDani,
      vEmily, vFollows, vFred, vGreg, vPredicates, vSmartGraph, vStatus,
      vCool, vSmart).map(_.sortKey))
  }

  test("use order tags") {
    val got = Exec.run(g, Path.start().tag("target").order())
      .tagValues("target")
    assert(got.map(_.sortKey) === Seq(vAlice, vAre, vBob, vCharlie, vDani,
      vEmily, vFollows, vFred, vGreg, vPredicates, vSmartGraph, vStatus,
      vCool, vSmart).map(_.sortKey))
  }

  test("order with a next path") {
    checkTag(Path.start(vDani, vBob).save(vFollows, "target").order(),
      "target", Seq(vBob, vFred, vGreg))
  }

  test("optional path") {
    checkTag(Path.start(vBob, vDani, vFred)
      .optional(Path.morphism().save(vStatus, "status")), "status",
      Seq(str(""), vCool, vCool), keepEmpty = true)
  }

  // label-context over the multigraph fixture
  test("multigraph: label context scoping") {
    val g2 = Graph.fromNQuads(spark,
      TestFixtures.data("testdata_multigraph.nq")).cached()
    val got = Exec.run(g2, Path.start(vFred).labelContext(iri("other_graph"))
      .out(vStatus)).values()
    assert(sortedVals(got) === sortedVals(Seq(vSmart)))
  }

  test("hasLabels: explicit label constraint (shape HasLabels)") {
    val g2 = Graph.fromNQuads(spark,
      TestFixtures.data("testdata_multigraph.nq")).cached()
    // smart_person holders in smart_graph only: emily, greg (not fred)
    val got = Exec.run(g2,
      Path.start().hasLabels(vStatus, iri("smart_graph"), vSmart)).values()
    assert(sortedVals(got) === sortedVals(Seq(iri("emily"), iri("greg"))))
    // explicit labels override the ambient label context
    val got2 = Exec.run(g2, Path.start().labelContext(iri("other_graph"))
      .hasLabels(vStatus, iri("smart_graph"), vSmart)).values()
    assert(sortedVals(got2) === sortedVals(Seq(iri("emily"), iri("greg"))))
  }

  test("saveViaLabels: tag bound only from the labeled subgraph") {
    val g2 = Graph.fromNQuads(spark,
      TestFixtures.data("testdata_multigraph.nq")).cached()
    val rows = Exec.run(g2, Path.start(iri("greg"))
      .saveViaLabels(vStatus, iri("smart_graph"), "st")).tagValues("st")
    assert(rows === Seq(vSmart)) // not the unlabeled "cool_person"
  }

  test("labels() includes quads where the node is the object") {
    val g2 = Graph.fromNQuads(spark,
      TestFixtures.data("testdata_multigraph.nq")).cached()
    // smart_person appears only as an OBJECT of labeled quads
    val got = Exec.run(g2, Path.start(vSmart).labels()).values()
    assert(sortedVals(got) ===
      sortedVals(Seq(iri("smart_graph"), iri("other_graph"))))
  }
}
