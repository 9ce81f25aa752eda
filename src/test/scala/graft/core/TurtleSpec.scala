package graft.core

import graft.{TestFixtures, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class TurtleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  private def triples(qs: Seq[NQuads.ParsedQuad]): Set[(QValue, QValue, QValue)] =
    qs.map(q => (q.s, q.p, q.o)).toSet

  test("prefixes, a, semicolons, commas, comments") {
    val doc =
      """# header comment
        |@prefix ex: <http://example.org/> .
        |@prefix foaf: <http://xmlns.com/foaf/0.1/> .
        |ex:alice a foaf:Person ;          # trailing comment
        |    foaf:knows ex:bob, ex:carol ;
        |    foaf:name "Alice" .
        |""".stripMargin
    val qs = Turtle.parse(doc)
    val ex = "http://example.org/"; val foaf = "http://xmlns.com/foaf/0.1/"
    assert(triples(qs) === Set(
      (QValue.Iri(ex + "alice"), QValue.Iri(Rdf + "type"),
        QValue.Iri(foaf + "Person")),
      (QValue.Iri(ex + "alice"), QValue.Iri(foaf + "knows"),
        QValue.Iri(ex + "bob")),
      (QValue.Iri(ex + "alice"), QValue.Iri(foaf + "knows"),
        QValue.Iri(ex + "carol")),
      (QValue.Iri(ex + "alice"), QValue.Iri(foaf + "name"),
        QValue.Str("Alice"))))
    assert(qs.forall(_.l.isEmpty))
  }

  test("SPARQL-style PREFIX/BASE and relative IRI resolution") {
    val doc =
      """BASE <http://example.org/dir/>
        |PREFIX ex: <http://example.org/ns#>
        |<alice> ex:sees <./bob> .
        |""".stripMargin
    val qs = Turtle.parse(doc)
    assert(triples(qs) === Set(
      (QValue.Iri("http://example.org/dir/alice"),
        QValue.Iri("http://example.org/ns#sees"),
        QValue.Iri("http://example.org/dir/bob"))))
  }

  test("literal forms: quotes, long strings, lang, datatype, numerics, booleans") {
    val doc =
      """@prefix ex: <http://e/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |ex:s ex:str 'single' ;
        |     ex:long '''line1
        |line2 with "quotes"''' ;
        |     ex:lang "bonjour"@fr ;
        |     ex:typed "42"^^xsd:integer ;
        |     ex:plain "x"^^xsd:string ;
        |     ex:int 7 ;
        |     ex:neg -3 ;
        |     ex:dec 2.5 ;
        |     ex:dbl 1.0e3 ;
        |     ex:t true ;
        |     ex:f false .
        |""".stripMargin
    val by = Turtle.parse(doc).map(q => q.p.asInstanceOf[QValue.Iri].v -> q.o).toMap
    assert(by("http://e/str") === QValue.Str("single"))
    assert(by("http://e/long") === QValue.Str("line1\nline2 with \"quotes\""))
    assert(by("http://e/lang") === QValue.LangStr("bonjour", "fr"))
    assert(by("http://e/typed") === QValue.IntV(42))
    assert(by("http://e/plain") === QValue.Str("x"))
    assert(by("http://e/int") === QValue.IntV(7))
    assert(by("http://e/neg") === QValue.IntV(-3))
    assert(by("http://e/dec") === QValue.FloatV(2.5))
    assert(by("http://e/dbl") === QValue.FloatV(1000.0))
    assert(by("http://e/t") === QValue.BoolV(true))
    assert(by("http://e/f") === QValue.BoolV(false))
  }

  test("blank nodes: labels, anonymous property lists, nesting") {
    val doc =
      """@prefix ex: <http://e/> .
        |_:a ex:knows [ ex:name "Inner" ; ex:age 30 ] .
        |[] ex:top _:a .
        |""".stripMargin
    val qs = Turtle.parse(doc)
    assert(qs.size === 4)
    // the inner bnode carries both properties
    val inner = qs.find(_.o == QValue.Str("Inner")).get.s
    assert(qs.exists(q => q.s == inner && q.o == QValue.IntV(30)))
    assert(qs.exists(q => q.s == QValue.BNode("a") &&
      q.p == QValue.Iri("http://e/knows") && q.o == inner))
    // generated bnodes never collide with the labeled one
    val anon = qs.find(_.p == QValue.Iri("http://e/top")).get.s
    assert(anon != QValue.BNode("a") && anon != inner)
  }

  test("collections expand to rdf:first/rest/nil") {
    val doc =
      """@prefix ex: <http://e/> .
        |ex:s ex:list (1 2) .
        |ex:s ex:empty () .
        |""".stripMargin
    val qs = Turtle.parse(doc)
    val head = qs.find(_.p == QValue.Iri("http://e/list")).get.o
    assert(qs.exists(q => q.s == head &&
      q.p == QValue.Iri(Rdf + "first") && q.o == QValue.IntV(1)))
    val rest = qs.find(q => q.s == head && q.p == QValue.Iri(Rdf + "rest")).get.o
    assert(qs.exists(q => q.s == rest &&
      q.p == QValue.Iri(Rdf + "first") && q.o == QValue.IntV(2)))
    assert(qs.exists(q => q.s == rest &&
      q.p == QValue.Iri(Rdf + "rest") && q.o == QValue.Iri(Rdf + "nil")))
    assert(qs.find(_.p == QValue.Iri("http://e/empty")).get.o ===
      QValue.Iri(Rdf + "nil"))
  }

  test("TriG graph blocks: named, GRAPH keyword, default block") {
    val doc =
      """@prefix ex: <http://e/> .
        |ex:g1 { ex:a ex:p ex:b . ex:c ex:p ex:d }
        |GRAPH ex:g2 { ex:e ex:p ex:f . }
        |{ ex:bare ex:p ex:o . }
        |ex:plain ex:p ex:q .
        |""".stripMargin
    val qs = Turtle.parse(doc)
    assert(qs.count(_.l.contains(QValue.Iri("http://e/g1"))) === 2)
    assert(qs.count(_.l.contains(QValue.Iri("http://e/g2"))) === 1)
    assert(qs.count(_.l.isEmpty) === 2) // default block + bare statement
  }

  test("prefixed-name local parts: dots, %-encoding, backslash escapes") {
    val doc =
      """@prefix ex: <http://e/> .
        |ex:a.b ex:p ex:x%20y .
        |ex:c\/d ex:p ex:plain .
        |""".stripMargin
    val qs = Turtle.parse(doc)
    assert(qs.exists(_.s == QValue.Iri("http://e/a.b")))
    assert(qs.exists(_.o == QValue.Iri("http://e/x%20y")))
    assert(qs.exists(_.s == QValue.Iri("http://e/c/d")))
  }

  test("parse errors carry position context") {
    val e = intercept[IllegalArgumentException](
      Turtle.parse("@prefix ex: <http://e/> .\nex:s ex:p undeclared:x ."))
    assert(e.getMessage.contains("undeclared prefix"))
    intercept[IllegalArgumentException](Turtle.parse("<a> <b> ."))
  }

  test("distributed read: multi-statement file → Graph; bnodes file-scoped") {
    val dir = Files.createTempDirectory("graft-ttl")
    val doc =
      """@prefix ex: <http://e/> .
        |ex:alice ex:knows _:b . _:b ex:name "Bob" .
        |""".stripMargin
    Files.write(dir.resolve("a.ttl"), doc.getBytes("UTF-8"))
    Files.write(dir.resolve("b.ttl"), doc.getBytes("UTF-8"))
    val g = Turtle.read(spark, dir.toString + "/*.ttl")
    // same labeled bnode in two files must stay TWO nodes
    val (_, quads) = g.stats
    assert(quads === 4)
    import org.apache.spark.sql.functions.col
    assert(g.nodes.where(col("kind") === Kind.BNode).count() === 2)
  }

  test("TriG write/read round-trip preserves the quad set incl. labels") {
    val g = Graph.fromQuads(spark, Seq(
      NQuads.ParsedQuad(QValue.Iri("s"), QValue.Iri("p"),
        QValue.Str("lit with spaces and \"quotes\""), Some(QValue.Iri("ctx"))),
      NQuads.ParsedQuad(QValue.Iri("s"), QValue.Iri("p2"),
        QValue.IntV(42), None),
      NQuads.ParsedQuad(QValue.Iri("x"), QValue.Iri("p"),
        QValue.LangStr("hola", "es"), Some(QValue.Iri("ctx2")))))
    val dir = Files.createTempDirectory("graft-trig").toString + "/out"
    Turtle.writeTrig(g, dir)
    val g2 = Turtle.read(spark, dir)
    assert(Formats.nquadLines(g2).collect().map(_.getString(0)).toSet ===
      Formats.nquadLines(g).collect().map(_.getString(0)).toSet)
  }

  test("Turtle write drops labels; reference fixture round-trips") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-ttl2").toString + "/out"
    Turtle.writeTurtle(g, dir)
    val g2 = Turtle.read(spark, dir)
    assert(g2.stats._2 === g.stats._2)
    import graft.exec.Exec
    import graft.path.Path
    val got = Exec.run(g2,
        Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("keyword-named prefixes parse as prefixed names, not keywords") {
    // 'graph:'/'true:'/'base:' etc. are legal prefix labels — the keyword
    // check must require a non-':' boundary (ADVICE r7)
    val doc =
      """@prefix graph: <http://g/> .
        |@prefix true: <http://t/> .
        |@prefix base: <http://b/> .
        |graph:x base:p true:y .
        |graph:x base:q true .
        |""".stripMargin
    val ts = triples(Turtle.parse(doc))
    assert(ts.contains((QValue.Iri("http://g/x"), QValue.Iri("http://b/p"),
      QValue.Iri("http://t/y"))))
    assert(ts.contains((QValue.Iri("http://g/x"), QValue.Iri("http://b/q"),
      QValue.BoolV(true))))
  }

  test("escaped quote before a long-string terminator does not end it") {
    val doc = "@prefix ex: <http://e/> .\n" +
      "ex:s ex:p \"\"\"a\\\"\"\"\" .\n"
    val ts = triples(Turtle.parse(doc))
    assert(ts === Set((QValue.Iri("http://e/s"), QValue.Iri("http://e/p"),
      QValue.Str("a\""))))
  }

  test("relative IRI containing '://' later still resolves against base") {
    val doc =
      """BASE <http://example.org/>
        |<weird://path> <p> <q> .
        |""".stripMargin
    val ts = triples(Turtle.parse(doc))
    // 'weird://path' HAS a scheme (weird:) so it is absolute; but a
    // reference like 'a/b://c' has no scheme prefix and must resolve
    val doc2 =
      """BASE <http://example.org/>
        |<a/b?x=y://z> <p> <q> .
        |""".stripMargin
    val ts2 = triples(Turtle.parse(doc2))
    assert(ts.exists(_._1 == QValue.Iri("weird://path")))
    assert(ts2.exists(_._1 ==
      QValue.Iri("http://example.org/a/b?x=y://z")))
  }

  test("format registry and CLI wiring") {
    assert(Formats.byName("turtle").exists(f => f.read && f.write))
    assert(Formats.byName("trig").exists(f => f.read && f.write))
    assert(graft.Cli.formatOf("data.ttl") === "turtle")
    assert(graft.Cli.formatOf("data.trig") === "trig")
  }
}
