package graft

import graft.core.{Graph, QValue}
import graft.exec.Exec
import graft.path.Path

/** Minimal end-to-end driver: load an N-Quads file, run traversals, print
  * results. Usage: runMain graft.Demo [path/to/file.nq]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val nq = args.headOption.getOrElse("src/test/resources/data/testdata.nq")
    val spark = Cli.spark("4")

    val g = Graph.fromNQuads(spark, nq).cached()
    val (nNodes, nQuads) = g.stats
    println(s"loaded $nq: $nNodes nodes, $nQuads quads")

    def show(name: String, vs: Seq[QValue]): Unit =
      println(f"$name%-40s => ${vs.map(_.sortKey).mkString(", ")}")

    val follows = QValue.Iri("follows")
    val status = QValue.Iri("status")

    show("who bob follows [out]",
      Exec.run(g, Path.start(QValue.Iri("bob")).out(follows)).values())
    show("who follows bob [in]",
      Exec.run(g, Path.start(QValue.Iri("bob")).in(follows)).values())
    show("cool people [has]",
      Exec.run(g, Path.start().has(status, QValue.Str("cool_person"))).values())
    show("reachable from charlie [recursive]",
      Exec.run(g, Path.start(QValue.Iri("charlie")).followRecursive(follows)).values())
    val saved = Exec.run(g,
      Path.start().tag("who").out(status).tag("what"))
    saved.tagMaps().foreach(m => println(s"  status: ${m.map { case (k, v) => s"$k=${v.sortKey}" }.mkString(" ")}"))

    // the same question through every front-end
    println("front-ends (who follows bob):")
    val gz = graft.lang.Gizmo.session(g)
      .execute("""g.V("<bob>").in("<follows>").all()""")
      .flatMap(_.get("id")).sorted
    println(s"  gizmo    => ${gz.mkString(", ")}")
    val gql = graft.lang.GraphQL.session(g)
      .execute("""{ f(follows: <bob>) { id } }""")
    println(s"  graphql  => ${graft.lang.QuerySession.toJson(gql)}")
    val mql = graft.lang.MQL.session(g)
      .execute("""[{"id": null, "<follows>": "<bob>"}]""")
      .map(_("id").toString).sorted
    println(s"  mql      => ${mql.mkString(", ")}")
    val sx = graft.lang.Sexp.session(g)
      .execute("""($a (:<follows> :<bob>))""").map(_("id")).sorted
    println(s"  sexp     => ${sx.mkString(", ")}")
    val lql = graft.lang.LinkedQL.execute(g,
      """{"@type": "VisitReverse",
        |  "from": {"@type": "Match", "pattern": {"@id": "bob"}},
        |  "properties": "follows"}""".stripMargin)
    println(s"  linkedql => ${graft.lang.QuerySession.toJson(lql)}")

    // one HTTP round-trip against the /api/v2 facade
    val api = new graft.server.HttpApi(g)
    val port = api.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(
          s"http://localhost:$port/api/v2/query?lang=gizmo"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """g.V("<bob>").out("<status>").all()"""))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      println(s"  http     => ${resp.body().trim}")
    } finally api.stop()

    spark.stop()
  }
}
