package graft

import graft.core.{Graph, Pquads, QValue}
import graft.exec.Exec
import graft.path.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end CLI verbs over the reference fixture: load an N-Quads file
  * into a bucketed Parquet store, dump it back out through every writable
  * format, reload the dumps that read, and query the result — the
  * `cayley load`/`cayley dump` workflow
  * (/root/reference/cmd/cayley/command/database.go:88,143).
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("load then dump round-trips through the parquet store") {
    val dir = Files.createTempDirectory("graft-cli").toString
    val store = s"$dir/store"
    val loadMsg = Cli.runLoad(spark,
      Array("-i", TestFixtures.data("testdata.nq"), "-d", store))
    assert(loadMsg.contains("14 nodes, 15 quads"), loadMsg)

    // dump to pq (binary), reload, query
    val pqOut = s"$dir/out.pq.gz"
    val dumpMsg = Cli.runDump(spark, Array("-d", store, "-o", pqOut))
    assert(dumpMsg.contains("15 quads"), dumpMsg)
    val g2 = Pquads.readFile(spark, pqOut)
    val got = Exec.run(g2, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))

    // dump to nquads (format inferred from .nq), reload, stats match
    val nqOut = s"$dir/out.nq"
    Cli.runDump(spark, Array("-d", store, "-o", nqOut))
    assert(Graph.fromNQuads(spark, nqOut).stats === (14L, 15L))
  }

  test("repl executes queries, switches language, exits on :exit") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq")).cached()
    val script =
      """g.V(iri("bob")).in(iri("follows")).all()
        |:lang mql
        |[{"id": null, "<status>": "cool_person"}]
        |:exit
        |""".stripMargin
    val in = new java.io.BufferedReader(new java.io.StringReader(script))
    val buf = new java.io.ByteArrayOutputStream()
    Cli.runRepl(g, "gizmo", in, new java.io.PrintStream(buf, true, "UTF-8"))
    val out = buf.toString("UTF-8")
    assert(out.contains("<alice>") && out.contains("<charlie>") &&
      out.contains("<dani>"), out)
    assert(out.contains("mql> "), out) // language switched
    assert(out.contains("<bob>") || out.contains("<greg>"), out)
    g.nodes.unpersist(); g.quads.unpersist()
  }

  test("format inference from path extensions") {
    assert(Cli.formatOf("a/b.nq") === "nquads")
    assert(Cli.formatOf("a/b.nq.gz") === "nquads")
    assert(Cli.formatOf("b.pq.gz") === "pq")
    assert(Cli.formatOf("b.jsonld") === "jsonld")
    assert(Cli.formatOf("b.graphml") === "graphml")
    assert(Cli.formatOf("b.gml") === "gml")
    assert(Cli.formatOf("b.parquet") === "parquet")
  }

  test("convert: nquads to turtle and back keeps the quad set") {
    val dir = Files.createTempDirectory("graft-convert").toString
    val in = s"$dir/in.nq"
    Files.writeString(java.nio.file.Paths.get(in),
      """<alice> <follows> <bob> .
        |<bob> <status> "cool_person" .
        |<bob> <name> "Bob"@en .
        |<bob> <age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<dani> <note> "line\nbreak \"quoted\"" .
        |""".stripMargin)
    def quadSet(path: String): Set[String] =
      graft.core.Formats.nquadLines(Graph.fromNQuads(spark, path))
        .collect().map(_.getString(0)).toSet
    val ttl = s"$dir/mid.ttl"
    val msg = Cli.runConvert(spark, Array("-i", in, "-o", ttl))
    assert(msg.contains("(nquads)") && msg.contains("(turtle)") &&
      msg.contains("5 quads"), msg)
    val back = s"$dir/back.nq"
    Cli.runConvert(spark, Array("-i", ttl, "-o", back))
    assert(quadSet(back) === quadSet(in))
    assert(quadSet(in).size === 5)
    // an unknown output format fails naming it
    val err = intercept[RuntimeException](Cli.runConvert(spark,
      Array("-i", in, "-o", s"$dir/out.x", "-t", "bogus")))
    assert(err.getMessage.contains("bogus"), err.getMessage)
  }
}
