package graft.server

import graft.{TestFixtures, TestSpark}
import graft.core.Graph
import graft.lang.QuerySession
import graft.lang.QuerySession.{Collation, Options}
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Round-trip over the /api/v2 façade (reference
  * server/http/api_v2.go): write N-Quads → query (gizmo + graphql) →
  * read re-serializes the store → delete.
  */
class HttpApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String,
                   contentType: Option[String] = None): String = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    contentType.foreach(ct => b.header("Content-Type", ct))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString()).body()
  }

  private def get(port: Int, path: String): String =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString()).body()

  test("write -> query -> read -> delete round-trip") {
    val empty = Graph.fromQuads(spark, Nil)
    val api = new HttpApi(empty)
    val port = api.start()
    try {
      val nq = java.nio.file.Files.readString(
        java.nio.file.Paths.get(TestFixtures.data("testdata.nq")))
      val wrote = post(port, "/api/v2/write", nq)
      assert(wrote.contains(""""count": 15"""), wrote)

      val gz = post(port, "/api/v2/query?lang=gizmo",
        """g.V("<bob>").in("<follows>").all()""")
      assert(gz.contains("<alice>") && gz.contains("<charlie>") &&
        gz.contains("<dani>"), gz)

      val gql = post(port, "/api/v2/query?lang=graphql",
        """{ me(id: <bob>) { id status } }""")
      assert(gql.contains("cool_person"), gql)

      val read = get(port, "/api/v2/read")
      assert(read.linesIterator.count(_.nonEmpty) === 15)
      // filtered read
      val bob = get(port, "/api/v2/read?sub=%3Cbob%3E")
      assert(bob.linesIterator.count(_.nonEmpty) === 2) // bob->fred, bob status

      val formats = get(port, "/api/v2/formats")
      assert(formats.contains("nquads"))
      assert(formats.contains("turtle") && formats.contains("trig"))
      // Turtle negotiation: write a turtle body, read back as trig
      val ttl = post(port, "/api/v2/write",
        "@prefix x: <http://x/> . x:u x:likes x:v .",
        Some("text/turtle"))
      assert(ttl.contains(""""count": 1"""), ttl)
      val trig = get(port, "/api/v2/read?format=trig&pred=%3Chttp%3A%2F%2Fx%2Flikes%3E")
      assert(trig.contains("<http://x/u> <http://x/likes> <http://x/v> ."),
        trig)
      // remove the turtle-written quad so the later counts stay exact
      post(port, "/api/v2/delete",
        "<http://x/u> <http://x/likes> <http://x/v> .")

      // bnode labels are DOCUMENT-scoped: _:b0 in two separate turtle
      // POSTs must land as two distinct store nodes (per-request salt)
      post(port, "/api/v2/write", "_:b0 <http://x/tag> <http://x/one> .",
        Some("text/turtle"))
      post(port, "/api/v2/write", "_:b0 <http://x/tag> <http://x/two> .",
        Some("text/turtle"))
      val tagged = get(port,
        "/api/v2/read?pred=%3Chttp%3A%2F%2Fx%2Ftag%3E")
      val subs = tagged.linesIterator.filter(_.nonEmpty)
        .map(_.split(" ")(0)).toSet
      assert(subs.size === 2, s"bnode POSTs unified: $tagged")
      tagged.linesIterator.filter(_.nonEmpty).foreach { l =>
        post(port, "/api/v2/delete", l)
      }

      val del = post(port, "/api/v2/delete", "<bob> <follows> <fred> .")
      assert(del.contains(""""count": 1"""), del)
      val after = get(port, "/api/v2/read")
      assert(after.linesIterator.count(_.nonEmpty) === 14)

      post(port, "/api/v2/node/delete", "<bob>")
      val gone = post(port, "/api/v2/query?lang=gizmo",
        """g.V("<bob>").all()""")
      assert(!gone.contains("<bob>"), gone)

      val bad = post(port, "/api/v2/query?lang=nosuch", "x")
      assert(bad.contains("error"), bad)
    } finally api.stop()
  }

  test("served graphql pages unpaginated levels and clamps huge first") {
    val empty = Graph.fromQuads(spark, Nil)
    val api = new HttpApi(empty)
    val port = api.start()
    try {
      // 150 subjects: more than GraphQL.DefaultFirst=100 at one level
      val nq = (0 until 150).map(i => s"<n$i> <t> <hub> .").mkString("\n")
      post(port, "/api/v2/write", nq)
      // unpaginated level → default page cap fires and is NOT silent
      val gql = post(port, "/api/v2/query?lang=graphql", "{ nodes { id } }")
      assert(gql.contains("truncated"), gql)
      // an explicit first beyond MaxFirst is clamped server-side (still
      // succeeds; the level is small enough that nothing is dropped here)
      val big = post(port, "/api/v2/query?lang=graphql",
        "{ nodes(first: 10000000) { id } }")
      assert(big.contains("n1") && !big.contains("error"), big)
    } finally api.stop()
  }

  test("query sandbox page served at / and /ui; unknown paths 404") {
    val empty = Graph.fromQuads(spark, Nil)
    val api = new HttpApi(empty)
    val port = api.start()
    try {
      def getFull(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      for (path <- Seq("/", "/ui")) {
        val r = getFull(path)
        assert(r.statusCode() === 200, path)
        assert(r.headers().firstValue("Content-Type").orElse("")
          .startsWith("text/html"), path)
        // the page drives the existing API: query editor + language
        // dropdown + write form must be present and point at /api/v2
        val b = r.body()
        assert(b.contains("query sandbox") && b.contains("/api/v2/query") &&
          b.contains("linkedql") && b.contains("/api/v2/write"), path)
      }
      assert(getFull("/no/such/page").statusCode() === 404)
    } finally api.stop()
  }

  test("read format negotiation and gephi stream") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val api = new HttpApi(g)
    val port = api.start()
    try {
      val json = get(port, "/api/v2/read?format=json")
      assert(json.linesIterator.count(_.nonEmpty) === 15)
      assert(json.linesIterator.next().contains("\"subject\""))
      // exports stream chunked — no Content-Length, no full in-memory body
      val resp = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/api/v2/read")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.headers().firstValue("Content-Length").isEmpty, resp.headers())
      assert(resp.body().linesIterator.count(_.nonEmpty) === 15)
      val graphml = get(port, "/api/v2/read?format=graphml")
      assert(graphml.contains("<graphml"))
      val jsonld = get(port, "/api/v2/read?format=jsonld")
      assert(jsonld.startsWith("""{"@graph":["""))
      val badFmt = get(port, "/api/v2/read?format=nosuch")
      assert(badFmt.contains("error"))
      val gephi = get(port, "/gephi/gs")
      val lines = gephi.linesIterator.filter(_.nonEmpty).toSeq
      assert(lines.count(_.startsWith("""{"an":""")) === 14)
      assert(lines.count(_.startsWith("""{"ae":""")) === 15)
    } finally api.stop()
  }

  test("write accepts JSON quad-lines") {
    val api = new HttpApi(Graph.fromQuads(spark, Nil))
    val port = api.start()
    try {
      val wrote = post(port, "/api/v2/write",
        """{"subject":"<x>","predicate":"<knows>","object":"<y>"}
          |{"subject":"<y>","predicate":"<knows>","object":"<z>"}""".stripMargin)
      assert(wrote.contains(""""count": 2"""), wrote)
      val gz = post(port, "/api/v2/query?lang=gizmo",
        """g.V("<x>").out("<knows>").all()""")
      assert(gz.contains("<y>"), gz)
    } finally api.stop()
  }

  test("write negotiation: Content-Type application/ld+json loads a JSON-LD doc") {
    val api = new HttpApi(Graph.fromQuads(spark, Nil))
    val port = api.start()
    try {
      val doc = String.join("\n", java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(TestFixtures.data("people.jsonld"))))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/v2/write"))
          .header("Content-Type", "application/ld+json")
          .POST(HttpRequest.BodyPublishers.ofString(doc)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
      assert(resp.body().contains(""""count": 6"""), resp.body())
      val gz = post(port, "/api/v2/query?lang=gizmo",
        """g.V("<http://example.com/alice>")
          |  .out("<http://xmlns.com/foaf/0.1/knows>").all()""".stripMargin)
      assert(gz.contains("http://example.com/bob"), gz)
    } finally api.stop()
  }

  test("remote backend: read another engine's store over HTTP") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val api = new HttpApi(g)
    val port = api.start()
    try {
      val remote = graft.core.Formats.readRemote(spark, s"http://localhost:$port")
      assert(remote.stats === g.stats)
      val got = graft.exec.Exec.run(remote,
        graft.path.Path.start(graft.core.QValue.Iri("bob"))
          .in(graft.core.QValue.Iri("follows")))
        .values().map(_.sortKey).sorted
      assert(got === Seq("<alice>", "<charlie>", "<dani>"))
    } finally api.stop()
  }

  test("session collations: JSON, REPL, JSONLD") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val json = QuerySession.execute(g, "gizmo",
      """g.V("<bob>").in("<follows>").all()""")
    assert(json.asInstanceOf[List[Map[String, String]]]
      .map(_("id")).toSet === Set("<alice>", "<charlie>", "<dani>"))
    val repl = QuerySession.execute(g, "gizmo",
      """g.V("<alice>").all()""", Options(collation = Collation.REPL))
    assert(repl === List("id : <alice>"))
    val ld = QuerySession.execute(g, "gizmo",
      """g.V("<alice>").all()""", Options(collation = Collation.JSONLD))
    assert(ld === List(Map("id" -> Map("@id" -> "alice"))))
    val lim = QuerySession.execute(g, "gizmo", "g.V().all()",
      Options(limit = 3)).asInstanceOf[List[_]]
    assert(lim.size === 3)
  }
}
