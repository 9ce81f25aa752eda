package graft.lang

import graft.{TestFixtures, TestSpark}
import graft.core.Graph
import org.scalatest.funsuite.AnyFunSuite

/** Reference GraphQL corpus
  * (/root/reference/query/graphql/graphql_test.go casesExecute) over
  * testdata.nq. Values rendered in sort-key form (`<iri>`, plain strings);
  * list comparisons are order-insensitive.
  */
class GraphQLSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val session: GraphQL.Session = GraphQL.session(
    Graph.fromNQuads(spark, TestFixtures.data("testdata.nq")).cached())

  private def canon(v: Any): String = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .map { case (k, x) => s""""$k":${canon(x)}""" }
        .mkString("{", ",", "}")
    case l: Seq[_] => l.map(canon).sorted.mkString("[", ",", "]")
    case null      => "null"
    case s         => s""""$s""""
  }

  def check(query: String, expect: Map[String, Any]): Unit = {
    val got = session.execute(query)
    assert(canon(got) === canon(expect))
  }

  test("hops are distributed joins, not collected-id literal filters") {
    import org.apache.spark.sql.functions._
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val s = GraphQL.session(g)
    val frontier = g.nodes.select(lit(0L).as("pid"), col("id"))
    val hopDf = s.hop(frontier, GraphQL.Field("f", "status"))
    // the hop must be a join into the quads table driven by the frontier
    // plan, never an `isin` over ids collected to the driver
    val opt = hopDf.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join"), opt)
    assert(!opt.toLowerCase.contains("inset"), opt)
    val phys = hopDf.queryExecution.executedPlan.toString
    assert(phys.contains("Join"), phys)
  }

  test("cool people and friends") {
    check(
      """{
        |  me(status: "cool_person") {
        |    id: id
        |    follows {
        |      id
        |      status
        |    }
        |    followed: follows @rev {
        |      id
        |    }
        |  }
        |}""".stripMargin,
      Map("me" -> List(
        Map("id" -> "<bob>", "follows" -> null,
          "followed" -> List(
            Map("id" -> "<alice>"), Map("id" -> "<dani>"),
            Map("id" -> "<charlie>"))),
        Map("id" -> "<dani>",
          "follows" -> List(
            Map("id" -> "<bob>", "status" -> "cool_person"),
            Map("id" -> "<greg>",
              "status" -> List("cool_person", "smart_person"))),
          "followed" -> Map("id" -> "<charlie>")),
        Map("id" -> "<greg>", "follows" -> null,
          "followed" -> List(
            Map("id" -> "<dani>"), Map("id" -> "<fred>"))))))
  }

  test("skip and limit") {
    check(
      """{
        |  me(status: "cool_person", first: 1, offset: 1) {
        |    id: id
        |    follows(first: 1) @opt {
        |      id
        |    }
        |  }
        |}""".stripMargin,
      Map("me" -> Map("id" -> "<dani>",
        "follows" -> Map("id" -> "<bob>"))))
  }

  test("labels") {
    check(
      """{
        |  me {
        |    id: id
        |    status @label(v: <smart_graph>)
        |  }
        |}""".stripMargin,
      Map("me" -> List(
        Map("id" -> "<emily>", "status" -> "smart_person"),
        Map("id" -> "<greg>", "status" -> "smart_person"))))
  }

  test("expand all") {
    check(
      """{
        |  me {
        |    id: id
        |    status @label(v: <smart_graph>)
        |    follows {*}
        |  }
        |}""".stripMargin,
      Map("me" -> List(
        Map("id" -> "<emily>", "status" -> "smart_person",
          "follows" -> Map("id" -> "<fred>", "follows" -> "<greg>")),
        Map("id" -> "<greg>", "status" -> "smart_person",
          "follows" -> null))))
  }

  test("unnest object") {
    check(
      """{
        |  me(id: fred) {
        |    id: id
        |    follows @unnest {
        |      friend: id
        |      friend_status: status
        |      followed: follows(first: 1) @rev @unnest  {
        |        fof: id
        |      }
        |    }
        |  }
        |}""".stripMargin,
      Map("me" -> Map("id" -> "<fred>", "fof" -> "<dani>",
        "friend" -> "<greg>",
        "friend_status" -> List("cool_person", "smart_person"))))
  }

  test("unnest object (non existent)") {
    check(
      """{
        |  me(id: fred) {
        |    id: id
        |    follows_missing @unnest {
        |      friend: id
        |      friend_status: status
        |    }
        |  }
        |}""".stripMargin,
      Map("me" -> Map("id" -> "<fred>")))
  }

  test("all optional") {
    check(
      """{
        |  nodes {
        |    id,
        |    status @opt
        |  }
        |}""".stripMargin,
      Map("nodes" -> List(
        Map("id" -> "<alice>"), Map("id" -> "<follows>"),
        Map("id" -> "<bob>", "status" -> "cool_person"),
        Map("id" -> "<fred>"), Map("id" -> "<status>"),
        Map("id" -> "cool_person"),
        Map("id" -> "<dani>", "status" -> "cool_person"),
        Map("id" -> "<charlie>"),
        Map("id" -> "<greg>",
          "status" -> List("cool_person", "smart_person")),
        Map("id" -> "<emily>", "status" -> "smart_person"),
        Map("id" -> "<predicates>"), Map("id" -> "<are>"),
        Map("id" -> "smart_person"), Map("id" -> "<smart_graph>"))))
  }

  test("default first cap bounds an unpaginated level") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
      .cached()
    // a session with a tiny default: an unpaginated level collects at
    // most defaultFirst objects per parent instead of the full set.
    // NOTE this DIVERGES from the reference, which iterates unbounded
    // (graphql.go:163 limit=-1) — the divergence is deliberate (every
    // nesting level is driver-collected) and never silent: the response
    // carries `truncated -> true` whenever the cap drops rows.
    val capped = GraphQL.session(g, 3)
    val got = capped.execute("{ nodes { id } }")
    assert(got("nodes").asInstanceOf[Seq[_]].size === 3)
    assert(got("truncated") === true)
    // an explicit `first` overrides the default in either direction,
    // and a user-requested page is pagination, not truncation
    val explicit = capped.execute("{ nodes(first: 5) { id } }")
    assert(explicit("nodes").asInstanceOf[Seq[_]].size === 5)
    assert(!explicit.contains("truncated"))
    // defaultFirst <= 0 restores the reference's unbounded behavior
    val unbounded = GraphQL.session(g, -1).execute("{ nodes { id } }")
    assert(unbounded("nodes").asInstanceOf[Seq[_]].size > 10)
    assert(!unbounded.contains("truncated"))
  }

  test("maxFirst is a hard ceiling on explicit first (served path)") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
      .cached()
    // `first: 10000000` must not re-open unbounded driver
    // materialization: the server ceiling clamps it and flags truncation
    val served = GraphQL.session(g, 3, 4)
    val clamped = served.execute("{ nodes(first: 10000000) { id } }")
    assert(clamped("nodes").asInstanceOf[Seq[_]].size === 4)
    assert(clamped("truncated") === true)
    // an explicit first within the ceiling is honored untouched
    val ok = served.execute("{ nodes(first: 2) { id } }")
    assert(ok("nodes").asInstanceOf[Seq[_]].size === 2)
    assert(!ok.contains("truncated"))
    // a capped level that happens to have fewer rows than the cap is
    // complete, not truncated
    val small = GraphQL.session(g, 100, 100)
      .execute("""{ nodes(id: "<alice>") { id } }""")
    assert(!small.contains("truncated"))
    // the served path ships default 100 under a 10k ceiling
    assert(GraphQL.DefaultFirst === 100 && GraphQL.MaxFirst === 10000)
  }

  private def parseError(query: String): String =
    intercept[GraphQL.GraphQLError](GraphQL.parse(query)).getMessage

  test("malformed input: an unterminated IRI names its offset") {
    val msg = parseError("{ nodes(id: <bob) { id } }")
    assert(msg.contains("unterminated IRI at offset 12"), msg)
  }

  test("malformed input: an unterminated string names its offset") {
    val msg = parseError("""{ nodes(name: "bob) { id } }""")
    assert(msg.contains("unterminated string at offset 14"), msg)
  }

  test("malformed input: a non-integer first names its offset") {
    val msg = parseError("""{ nodes(first: "ten") { id } }""")
    assert(msg.contains("first needs an integer at offset 15"), msg)
  }

  test("malformed input: an empty offset list names its offset") {
    val msg = parseError("{ nodes(offset: []) { id } }")
    assert(msg.contains("offset needs an integer at offset 16"), msg)
  }

  test("malformed input: a malformed number names its offset") {
    val msg = parseError("{ nodes(first: -) { id } }")
    assert(msg.contains("malformed number at offset 15"), msg)
  }
}
