package graft.lang

import graft.{TestFixtures, TestSpark}
import graft.core.Graph
import org.scalatest.funsuite.AnyFunSuite

/** The reference MQL corpus (/root/reference/query/mql/mql_test.go:56-160)
  * over testdata.nq; comparisons are order-insensitive (set semantics).
  */
class MQLSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val session: MQL.Session = MQL.session(
    Graph.fromNQuads(spark, TestFixtures.data("testdata.nq")).cached())

  private def sortedJson(v: Any): String = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .map { case (k, x) => s""""$k":${sortedJson(x)}""" }
        .mkString("{", ",", "}")
    case l: Seq[_] => l.map(sortedJson).sorted.mkString("[", ",", "]")
    case null      => "null"
    case s         => s""""$s""""
  }

  def check(query: String, expect: Seq[Map[String, Any]]): Unit = {
    val got = session.execute(query)
    assert(got.map(sortedJson).sorted === expect.map(sortedJson).sorted)
  }

  test("get all IDs in the database") {
    check("""[{"id": null}]""",
      Seq("<alice>", "<follows>", "<bob>", "<fred>", "<status>",
        "cool_person", "<dani>", "<charlie>", "<greg>", "<emily>",
        "<predicates>", "<are>", "smart_person", "<smart_graph>")
        .map(id => Map("id" -> id)))
  }

  test("get nodes by status") {
    check("""[{"id": null, "<status>": "cool_person"}]""",
      Seq("<bob>", "<dani>", "<greg>").map(id =>
        Map("id" -> id, "<status>" -> "cool_person")))
  }

  test("show correct null semantics") {
    check("""[{"id": "cool_person", "status": null}]""",
      Seq(Map("id" -> "cool_person", "status" -> null)))
  }

  test("get correct follows list") {
    check("""[{"id": "<charlie>", "<follows>": []}]""",
      Seq(Map("id" -> "<charlie>",
        "<follows>" -> List("<bob>", "<dani>"))))
  }

  test("get correct reverse follows list") {
    check("""[{"id": "<fred>", "!<follows>": []}]""",
      Seq(Map("id" -> "<fred>", "!<follows>" -> List("<bob>", "<emily>"))))
  }

  test("get correct follows struct") {
    check("""[{"id": null, "<follows>": {"id": null, "<status>": "cool_person"}}]""",
      Seq(
        Map("id" -> "<alice>", "<follows>" ->
          Map("id" -> "<bob>", "<status>" -> "cool_person")),
        Map("id" -> "<dani>", "<follows>" ->
          Map("id" -> "<greg>", "<status>" -> "cool_person")),
        Map("id" -> "<charlie>", "<follows>" ->
          Map("id" -> "<dani>", "<status>" -> "cool_person")),
        Map("id" -> "<fred>", "<follows>" ->
          Map("id" -> "<greg>", "<status>" -> "cool_person"))))
  }

  test("get correct reverse follows struct") {
    check("""[{"id": null, "!<follows>": [{"id": null, "<status>" : "cool_person"}]}]""",
      Seq(
        Map("id" -> "<fred>", "!<follows>" ->
          List(Map("id" -> "<bob>", "<status>" -> "cool_person"))),
        Map("id" -> "<bob>", "!<follows>" ->
          List(Map("id" -> "<dani>", "<status>" -> "cool_person"))),
        Map("id" -> "<greg>", "!<follows>" ->
          List(Map("id" -> "<dani>", "<status>" -> "cool_person")))))
  }

  test("get correct co-follows") {
    check("""[{"id": null, "@A:<follows>": "<bob>", "@B:<follows>": "<dani>"}]""",
      Seq(Map("id" -> "<charlie>", "@A:<follows>" -> "<bob>",
        "@B:<follows>" -> "<dani>")))
  }

  test("get correct reverse co-follows") {
    check("""[{"id": null, "!<follows>": {"id": "<charlie>"}, "@A:!<follows>": "<dani>"}]""",
      Seq(Map("id" -> "<bob>",
        "!<follows>" -> Map("id" -> "<charlie>"),
        "@A:!<follows>" -> "<dani>")))
  }
}
