package graft.core

import graft.{TestFixtures, TestSpark}
import graft.exec.Exec
import graft.path.Path
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("N-Quads write/read round-trip preserves the quad set") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val tmp = Files.createTempDirectory("graft-nq").toString + "/out"
    Formats.writeNQuads(g, tmp)
    val g2 = Graph.fromNQuads(spark, tmp)
    assert(g2.stats === g.stats)
    val got = Exec.run(g2, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("typed values round-trip through N-Quads serialization") {
    val qs = Seq(
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("int"), QValue.IntV(-42), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("flt"), QValue.FloatV(-1.5), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("bool"), QValue.BoolV(true), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("time"),
        QValue.TimeV(1405974733000000L), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("lang"),
        QValue.LangStr("hello", "en"), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("esc"),
        QValue.Str("a \"quoted\" \\ string"), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("ctrl"),
        QValue.Str("line1\nline2\tcol\rend"), None))
    val g = Graph.fromQuads(spark, qs)
    val tmp = Files.createTempDirectory("graft-nq2").toString + "/out"
    Formats.writeNQuads(g, tmp)
    val g2 = Graph.fromNQuads(spark, tmp)
    assert(g2.stats === g.stats)
    val got = Exec.run(g2, Path.start(QValue.Iri("n")).out()).values()
    assert(got.toSet === qs.map(_.o).toSet)
  }

  test("JSON-LD reader loads people.jsonld with expanded IRIs") {
    val g = Formats.readJsonLd(spark, TestFixtures.data("people.jsonld"))
    val knows = Exec.run(g,
      Path.start(QValue.Iri("http://example.com/alice"))
        .out(QValue.Iri("http://xmlns.com/foaf/0.1/knows"))).values()
    assert(knows.map(_.sortKey) === Seq("<http://example.com/bob>"))
    val types = Exec.run(g, Path.start()
      .has(QValue.Iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
        QValue.Iri("http://xmlns.com/foaf/0.1/Person"))).values()
    assert(types.size === 2)
    val names = Exec.run(g,
      Path.start(QValue.Iri("http://example.com/bob"))
        .out(QValue.Iri("http://xmlns.com/foaf/0.1/name"))).values()
    assert(names === Seq(QValue.Str("Bob")))
  }

  test("JSON-LD expansion: term definitions, coercions, @value, scoped contexts") {
    def load(doc: String): Graph = {
      val f = java.nio.file.Files.createTempFile("graft-ld", ".jsonld")
      java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
      Formats.readJsonLd(spark, f.toString)
    }
    // expanded term definitions: term→IRI, @type:@id node coercion,
    // datatype coercion, term-level @language, context default @language
    val g = load("""{
      "@context": {
        "ex": "http://example.com/",
        "foaf": "http://xmlns.com/foaf/0.1/",
        "name": "foaf:name",
        "knows": {"@id": "foaf:knows", "@type": "@id"},
        "age": {"@id": "ex:age",
                "@type": "http://www.w3.org/2001/XMLSchema#integer"},
        "bio": {"@id": "ex:bio", "@language": "fr"},
        "@language": "en"
      },
      "@id": "ex:alice",
      "name": "Alice",
      "knows": "ex:bob",
      "age": "42",
      "bio": "salut",
      "motto": {"@value": "onward", "@language": "de"}
    }""")
    def out(p: String) = Exec.run(g,
      Path.start(QValue.Iri("http://example.com/alice"))
        .out(QValue.Iri(p))).values()
    // plain term mapping resolves through the foaf prefix
    assert(out("http://xmlns.com/foaf/0.1/name") ===
      Seq(QValue.LangStr("Alice", "en"))) // context default @language
    // @type:@id makes the string a node reference, expanded against @base
    assert(out("http://xmlns.com/foaf/0.1/knows").map(_.sortKey) ===
      Seq("<http://example.com/bob>"))
    // datatype coercion parses the integer
    assert(out("http://example.com/age") === Seq(QValue.IntV(42L)))
    // term-level @language beats the context default
    assert(out("http://example.com/bio") === Seq(QValue.LangStr("salut", "fr")))
    // explicit @value object with @language
    assert(out("motto") === Seq(QValue.LangStr("onward", "de")))

    // top-level array document + node-scoped context override
    val g2 = load("""[
      {"@context": {"@vocab": "http://a.org/"}, "@id": "http://n/1", "p": "x"},
      {"@context": {"@vocab": "http://b.org/"}, "@id": "http://n/2", "p": "y"}
    ]""")
    assert(Exec.run(g2, Path.start(QValue.Iri("http://n/1"))
      .out(QValue.Iri("http://a.org/p"))).values() === Seq(QValue.Str("x")))
    assert(Exec.run(g2, Path.start(QValue.Iri("http://n/2"))
      .out(QValue.Iri("http://b.org/p"))).values() === Seq(QValue.Str("y")))

    // @container:@list coerces a plain JSON array to an rdf list chain
    val g3 = load("""{
      "@context": {"items": {"@id": "http://e/items", "@container": "@list"}},
      "@id": "http://n/l",
      "items": ["a", "b"]
    }""")
    val first = Exec.run(g3, Path.start(QValue.Iri("http://n/l"))
      .out(QValue.Iri("http://e/items"))
      .out(QValue.Iri(Formats.RdfFirst))).values()
    assert(first === Seq(QValue.Str("a")))
    val second = Exec.run(g3, Path.start(QValue.Iri("http://n/l"))
      .out(QValue.Iri("http://e/items"))
      .out(QValue.Iri(Formats.RdfRest))
      .out(QValue.Iri(Formats.RdfFirst))).values()
    assert(second === Seq(QValue.Str("b")))
  }

  test("typed comparisons stay within type (TestCompareTypedValues)") {
    import graft.shape.ValueFilter._
    val qs = Seq(
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("v"), QValue.IntV(5), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("v"), QValue.IntV(50), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("v"), QValue.FloatV(7.5), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("v"), QValue.Str("30"), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("v"),
        QValue.TimeV(1405974733000000L), None))
    val g = Graph.fromQuads(spark, qs)
    def got(f: graft.shape.ValueFilter): Set[String] =
      Exec.run(g, Path.start(QValue.Iri("n")).out(QValue.Iri("v"))
        .filter(f)).values().map(_.sortKey).toSet
    // Int filter sees only Int values — not 7.5, not "30", not the time
    assert(got(Comparison(GT, QValue.IntV(4))) === Set("5", "50"))
    assert(got(Comparison(GT, QValue.IntV(10))) === Set("50"))
    // Float filter sees only Float values
    assert(got(Comparison(LT, QValue.FloatV(100.0))) === Set("7.5"))
    // String filter sees only strings (lexicographic)
    assert(got(Comparison(GTE, QValue.Str("1"))) === Set("30"))
    // Time filter sees only times
    assert(got(Comparison(GT, QValue.TimeV(0L))) ===
      Set(QValue.TimeV(1405974733000000L).sortKey))
  }

  test("removeNode deletes the value and every touching quad") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val g2 = Inference.removeNode(g, QValue.Iri("bob"))
    assert(Exec.run(g2, Path.start(QValue.Iri("bob"))).values().isEmpty)
    assert(Exec.run(g2, Path.start(QValue.Iri("alice")).out(QValue.Iri("follows")))
      .values().isEmpty)
    val (_, nq) = g2.stats
    assert(nq === 15 - 5) // 5 quads touch bob
  }

  test("delta add/delete (ApplyDeltas semantics)") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val add = Graph.fromQuads(spark, Seq(NQuads.ParsedQuad(
      QValue.Iri("zed"), QValue.Iri("follows"), QValue.Iri("bob"), None)))
    val g2 = g.addQuads(add)
    assert(g2.stats._2 === 16)
    // duplicate add is a no-op
    assert(g2.addQuads(add).stats._2 === 16)
    val g3 = g2.deleteQuads(add)
    assert(g3.stats._2 === 15)
  }

  test("JSON quad-lines round-trip preserves typed values") {
    val qs = Seq(
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("int"), QValue.IntV(-42), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("lang"),
        QValue.LangStr("hi \"there\"", "en"), None),
      NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("e"), QValue.Iri("m"),
        Some(QValue.Iri("g1"))))
    val g = Graph.fromQuads(spark, qs)
    val tmp = Files.createTempDirectory("graft-json").toString + "/out"
    Formats.writeJsonLines(g, tmp)
    val g2 = Formats.readJsonLines(spark, tmp)
    assert(g2.stats === g.stats)
    val got = Exec.run(g2, Path.start(QValue.Iri("n")).out()).values()
    assert(got.toSet === qs.map(_.o).toSet)
  }

  test("graphml and gml writers emit well-formed documents") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val gmlW = new java.io.StringWriter()
    Formats.writeGml(g, gmlW)
    val gml = gmlW.toString
    assert(gml.startsWith("graph ["))
    assert(gml.linesIterator.count(_.contains("node [")) === 14)
    assert(gml.linesIterator.count(_.contains("edge [")) === 15)
    val xmlW = new java.io.StringWriter()
    Formats.writeGraphml(g, xmlW)
    val xml = xmlW.toString
    assert(xml.contains("<graphml") && xml.endsWith("</graphml>\n"))
    assert(xml.linesIterator.count(_.startsWith("<edge")) === 15)
    // well-formed XML parses
    javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
  }

  test("JSON-LD writer round-trips through the JSON-LD reader") {
    val g = Formats.readJsonLd(spark, TestFixtures.data("people.jsonld"))
    val w = new java.io.StringWriter()
    Formats.writeJsonLd(g, w)
    val root = org.json4s.jackson.JsonMethods.parse(w.toString).values
      .asInstanceOf[Map[String, Any]]
    val g2 = Formats.readJsonLdRoot(spark, root)
    assert(g2.stats._2 === g.stats._2)
    val knows = Exec.run(g2,
      Path.start(QValue.Iri("http://example.com/alice"))
        .out(QValue.Iri("http://xmlns.com/foaf/0.1/knows"))).values()
    assert(knows.map(_.sortKey) === Seq("<http://example.com/bob>"))
  }

  test("JSON-LD round-trips blank nodes") {
    val qs = Seq(
      NQuads.ParsedQuad(QValue.Iri("root"), QValue.Iri("p"),
        QValue.BNode("x"), None),
      NQuads.ParsedQuad(QValue.BNode("x"), QValue.Iri("q"),
        QValue.Str("leaf"), None))
    val g = Graph.fromQuads(spark, qs)
    val w = new java.io.StringWriter()
    Formats.writeJsonLd(g, w)
    val g2 = Formats.readJsonLdRoot(spark,
      org.json4s.jackson.JsonMethods.parse(w.toString).values
        .asInstanceOf[Map[String, Any]])
    assert(g2.stats._2 === 2)
    val got = Exec.run(g2, Path.start(QValue.Iri("root"))
      .out(QValue.Iri("p")).out(QValue.Iri("q"))).values()
    assert(got === Seq(QValue.Str("leaf")))
  }

  test("format registry exposes capabilities") {
    assert(Formats.byName("nquads").exists(f => f.read && f.write))
    assert(Formats.byName("graphml").exists(f => f.read && f.write))
    assert(Formats.byName("gml").exists(f => f.read && f.write))
    assert(Formats.byName("pq").exists(f => f.read && f.write))
    assert(Formats.byName("ntriples").exists(f => f.read && f.write))
    assert(Formats.byName("dot").exists(f => !f.read && f.write))
    assert(Formats.byName("nosuch").isEmpty)
  }

  test("ntriples: labels dropped, triples round-trip through the nq parser") {
    val g = typedGraph()
    val lines = Formats.ntripleLines(g).collect().map(_.getString(0))
    assert(lines.length === 7)
    // a triple is four-or-three tokens ending in '.'; no labeled line
    val labeled = Formats.nquadLines(g).collect().map(_.getString(0))
      .filter(_.contains("<ctx>"))
    assert(labeled.length === 1)
    assert(!lines.exists(_.contains("<ctx>")))
    // every emitted line reparses to the original (label-less) quad
    val reparsed = lines.map(NQuads.parseLine(_).get)
    val g2 = Graph.fromQuads(spark, reparsed.toSeq)
    assert(g2.stats._2 === 7)
    val got = Exec.run(g2, Path.start(QValue.Iri("n"))
      .out(QValue.Iri("esc"))).values()
    assert(got === Seq(QValue.Str("a \"quoted\" \\ string")))
  }

  test("dot: digraph document with one labeled edge per quad") {
    val g = typedGraph()
    val w = new java.io.StringWriter()
    Formats.writeDot(g, w)
    val doc = w.toString
    assert(doc.startsWith("digraph cayley_graph {\n"))
    assert(doc.endsWith("}\n"))
    val edges = doc.linesIterator.filter(_.contains("->")).toSeq
    assert(edges.length === 7)
    assert(edges.exists(e => e.contains("<n>") && e.contains("-42")))
    // dot-escaping on top of N-Quads term escaping: the embedded quote
    // arrives as \" in the term and \\\" in the dot attribute
    assert(edges.exists(_.contains("\\\\\\\"quoted")))
  }

  /** Typed-value fixture shared by the binary/document round-trip tests:
    * every value kind, escapes included.
    */
  private def typedGraph(): Graph = Graph.fromQuads(spark, Seq(
    NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("int"), QValue.IntV(-42), None),
    NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("flt"), QValue.FloatV(-1.5), None),
    NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("bool"), QValue.BoolV(true), None),
    NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("time"),
      QValue.TimeV(1405974733000000L), None),
    NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("lang"),
      QValue.LangStr("hello", "en"), None),
    NQuads.ParsedQuad(QValue.Iri("n"), QValue.Iri("esc"),
      QValue.Str("a \"quoted\" \\ string"), None),
    NQuads.ParsedQuad(QValue.BNode("b1"), QValue.Iri("p"),
      QValue.Str("from bnode"), Some(QValue.Iri("ctx")))))

  private def nquadSet(g: Graph): Set[String] =
    Formats.nquadLines(g).collect().map(_.getString(0)).toSet

  /** Drop the optional 4th (label) term of an N-Quads line. */
  private def stripLabel(line: String): String = {
    val parts = line.split(" (?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)")
    if (parts.length == 5) (parts.take(3) :+ ".").mkString(" ") else line
  }

  test("pq binary round-trip preserves every value kind and the label") {
    val g = typedGraph()
    val dir = Files.createTempDirectory("graft-pq").toString
    for (path <- Seq(s"$dir/out.pq", s"$dir/out.pq.gz")) {
      Pquads.writeFile(g, path)
      val g2 = Pquads.readFile(spark, path)
      assert(g2.stats === g.stats, path)
      assert(nquadSet(g2) === nquadSet(g), path)
    }
  }

  test("graphml write/read round-trip preserves the edge structure") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-gml").toString
    val w = Files.newBufferedWriter(java.nio.file.Paths.get(s"$dir/g.graphml"))
    try Formats.writeGraphml(g, w) finally w.close()
    val g2 = Formats.readGraphml(spark, s"$dir/g.graphml")
    // graphml carries no label column: quad count holds, the label-only
    // node drops out of the dictionary
    assert(g2.stats._2 === g.stats._2)
    assert(nquadSet(g2) === nquadSet(g).map(stripLabel))
    val got = Exec.run(g2, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("graphml round-trips typed values (labels are not carried)") {
    val g = typedGraph()
    val dir = Files.createTempDirectory("graft-gml2").toString
    val w = Files.newBufferedWriter(java.nio.file.Paths.get(s"$dir/g.graphml"))
    try Formats.writeGraphml(g, w) finally w.close()
    val g2 = Formats.readGraphml(spark, s"$dir/g.graphml")
    // graphml carries no label column; compare label-stripped quad sets
    assert(nquadSet(g2) === nquadSet(g).map(stripLabel))
  }

  test("gml write/read round-trip preserves the edge structure") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-gmldoc").toString
    val w = Files.newBufferedWriter(java.nio.file.Paths.get(s"$dir/g.gml"))
    try Formats.writeGml(g, w) finally w.close()
    val g2 = Formats.readGml(spark, s"$dir/g.gml")
    assert(g2.stats._2 === g.stats._2)
    assert(nquadSet(g2) === nquadSet(g).map(stripLabel))
    val got = Exec.run(g2, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("addQuads on a bucketed store keeps pb partitioning and pruning") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-bkt").toString
    g.write(dir, predicateBuckets = 4)
    val stored = Graph.read(spark, dir)
    assert(stored.predicateBuckets === 4)
    val add = Graph.fromQuads(spark, Seq(NQuads.ParsedQuad(
      QValue.Iri("zed"), QValue.Iri("follows"), QValue.Iri("bob"), None)))
    val g2 = stored.addQuads(add)
    assert(g2.predicateBuckets === 4)       // pruning survives the mutation
    assert(g2.quads.columns.contains("pb")) // partition column re-derived
    assert(g2.stats._2 === 16)
    val got = Exec.run(g2, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>", "<zed>"))
  }

  /** Every file under `dir`'s data tables, path → modification time; not
    * the `_SUCCESS` commit marker, which every Spark write job rewrites.
    */
  private def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    Seq("quads", "quads_ops", "nodes").map(t => new java.io.File(s"$dir/$t"))
      .flatMap(walk).filterNot(_.getName.contains("_SUCCESS"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  private def appendEqualsRebuild(buckets: Int, objectIndex: Boolean): Unit = {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val all = g.quads.collect()
    // split the quad set by subject hash parity; both halves share the
    // full dictionary (append must dedup nodes)
    val h1 = g.copy(quads = g.quads.where(pmod(col("s"), lit(2)) === 0))
    val h2o = g.copy(quads = g.quads.where(pmod(col("s"), lit(2)) === 1)
      .union(g.quads.limit(3))) // overlap: re-appending existing quads
    val dirFull = Files.createTempDirectory("graft-app-full").toString
    val dirInc = Files.createTempDirectory("graft-app-inc").toString
    g.withStats().write(dirFull, buckets, objectIndex)
    h1.withStats().write(dirInc, buckets, objectIndex)
    val before = dataFiles(dirInc)
    Graph.append(spark, dirInc, h2o)
    val full = Graph.read(spark, dirFull)
    val inc = Graph.read(spark, dirInc)
    def qset(gr: Graph) = gr.quads.select("s", "p", "o", "l").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(qset(inc) === qset(full))
    assert(qset(inc).size === all.length)
    assert(inc.nodes.select("id").collect().map(_.getLong(0)).toSet ===
      full.nodes.select("id").collect().map(_.getLong(0)).toSet)
    assert(inc.predStats === full.predStats) // incremental stats merge
    // every pre-append file still present and unmodified (append-only)
    val after = dataFiles(dirInc)
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"rewritten: $p") }
    // and the appended store answers queries like the rebuilt one
    val got = Exec.run(inc, Path.start(QValue.Iri("bob"))
      .in(QValue.Iri("follows"))).values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("Graph.append: incremental ingest equals rebuild, untouched files stay") {
    appendEqualsRebuild(buckets = 4, objectIndex = false)
  }

  for ((buckets, objectIndex) <- Seq((0, false), (0, true), (4, true)))
    test("Graph.append: incremental ingest equals rebuild, untouched files stay " +
        s"($buckets buckets, objectIndex $objectIndex)") {
      appendEqualsRebuild(buckets, objectIndex)
    }

  test("Graph.append: a delta that fails to evaluate leaves the store as it was") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-app-fail").toString
    g.withStats().write(dir, predicateBuckets = 4, objectIndex = true)
    def contents(): Map[String, Seq[Byte]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .map(f => f.getPath -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = contents()
    val boom = org.apache.spark.sql.functions.udf { (s: Long) =>
      if (s != Long.MinValue) throw new IllegalStateException("delta fails")
      s
    }
    val bad = g.copy(quads = g.quads.withColumn("s", boom(col("s"))))
    intercept[Exception](Graph.append(spark, dir, bad))
    assert(contents() === before)
    assert(Graph.read(spark, dir).stats === g.stats)
  }

  test("Graph.append: new-term delta (dictionary gate empty) and mixed delta") {
    // the dictionary gate skips the store scan when no delta quad can
    // possibly exist (all-new terms); a mixed delta (new-term quads +
    // exact duplicates + a new combination of EXISTING terms) must
    // still land exactly the non-duplicate rows
    val base = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-app-gate").toString
    base.withStats().write(dir, predicateBuckets = 4, objectIndex = true)
    def q(s: String, p: String, o: String) =
      graft.core.NQuads.ParsedQuad(QValue.Iri(s), QValue.Iri(p),
        QValue.Iri(o), None)
    // all-new terms → gate empty, no existence probe
    val fresh = Graph.fromQuads(spark, Seq(
      q("new1", "newp", "new2"), q("new2", "newp", "new3")))
    Graph.append(spark, dir, fresh)
    val afterFresh = Graph.read(spark, dir)
    assert(afterFresh.quads.count() === base.quads.count() + 2)
    // mixed: one exact duplicate (must dedup), one new-combination quad
    // of existing terms (must append — the gate keeps it, the store
    // probe must NOT false-positive it), one more all-new quad
    val mixed = Graph.fromQuads(spark, Seq(
      graft.core.NQuads.parseLine(
        "<alice> <follows> <bob> .").get, // exists in testdata.nq
      q("alice", "follows", "greg"),      // existing terms, new quad
      q("new4", "newp", "new5")))
    Graph.append(spark, dir, mixed)
    val g2 = Graph.read(spark, dir)
    assert(g2.quads.count() === base.quads.count() + 2 + 2)
    // OPS sibling stays row-identical through both appends
    val cols = Seq("s", "p", "o", "l").map(col)
    assert(g2.quadsOps.get.select(cols: _*)
      .exceptAll(g2.quads.select(cols: _*)).count() === 0)
    assert(g2.quads.select(cols: _*)
      .exceptAll(g2.quadsOps.get.select(cols: _*)).count() === 0)
    // the new-combination quad is queryable
    val got = graft.exec.Exec.run(g2,
      graft.path.Path.start(QValue.Iri("alice")).out(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got.contains("<greg>"))
  }

  test("Graph.append keeps the OPS sibling row-identical to the primary") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val h1 = g.copy(quads = g.quads.where(pmod(col("s"), lit(2)) === 0))
    val h2 = g.copy(quads = g.quads.where(pmod(col("s"), lit(2)) === 1)
      .union(g.quads.limit(3)))
    val dir = Files.createTempDirectory("graft-app-ops").toString
    h1.withStats().write(dir, predicateBuckets = 4, objectIndex = true)
    Graph.append(spark, dir, h2)
    val inc = Graph.read(spark, dir)
    assert(inc.quadsOps.nonEmpty, "append must preserve the opsIndex flag")
    def qset(df: org.apache.spark.sql.DataFrame) =
      df.select("s", "p", "o", "l").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(qset(inc.quadsOps.get) === qset(inc.quads))
    // a reverse-literal traversal (served by the sibling) sees the
    // appended rows
    val got = Exec.run(inc, Path.start(QValue.Iri("bob"))
      .in(QValue.Iri("follows"))).values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("write(objectIndex=false) removes a stale OPS sibling") {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-stale-ops").toString
    g.withStats().write(dir, predicateBuckets = 4, objectIndex = true)
    assert(new java.io.File(s"$dir/quads_ops").exists())
    // re-write without the dual index: the sibling must not linger as
    // dead weight (readers are meta-gated, but the footprint doubles)
    g.withStats().write(dir, predicateBuckets = 4, objectIndex = false)
    assert(!new java.io.File(s"$dir/quads_ops").exists())
    assert(Graph.read(spark, dir).quadsOps.isEmpty)
  }

  test("cached() persists the OPS sibling alongside the primary") {
    // a dual-index graph whose cached() skipped quadsOps would serve
    // reverse hops from an uncached scan round over round — a silent
    // perf asymmetry, not a correctness bug, so a spec pins it
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val dir = Files.createTempDirectory("graft-cache-ops").toString
    try {
      g.withStats().write(dir, predicateBuckets = 4, objectIndex = true)
      val gc = Graph.read(spark, dir).cached()
      try {
        assert(gc.quadsOps.nonEmpty)
        assert(gc.quads.storageLevel.useMemory)
        assert(gc.quadsOps.get.storageLevel.useMemory,
          "cached() must persist the quads_ops sibling too")
      } finally {
        gc.nodes.unpersist(); gc.quads.unpersist()
        gc.quadsOps.foreach(_.unpersist())
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("RDFS closure materializes subclass/subproperty entailments") {
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val subClassOf = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    val qs = Seq(
      NQuads.ParsedQuad(QValue.Iri("Dog"), QValue.Iri(subClassOf),
        QValue.Iri("Mammal"), None),
      NQuads.ParsedQuad(QValue.Iri("Mammal"), QValue.Iri(subClassOf),
        QValue.Iri("Animal"), None),
      NQuads.ParsedQuad(QValue.Iri("rex"), QValue.Iri(rdfType),
        QValue.Iri("Dog"), None),
      NQuads.ParsedQuad(QValue.Iri("hasOwner"),
        QValue.Iri("http://www.w3.org/2000/01/rdf-schema#domain"),
        QValue.Iri("Dog"), None),
      NQuads.ParsedQuad(QValue.Iri("fido"), QValue.Iri("hasOwner"),
        QValue.Iri("joe"), None))
    val g = Inference.rdfsClosure(Graph.fromQuads(spark, qs))
    def typesOf(n: String) = Exec.run(g,
      Path.start(QValue.Iri(n)).out(QValue.Iri(rdfType))).values()
      .map(_.sortKey).toSet
    // rule 11 (transitivity) + rule 9 (type propagation)
    assert(typesOf("rex").contains("<Mammal>"))
    assert(typesOf("rex").contains("<Animal>"))
    // rule 2 (domain)
    assert(typesOf("fido").contains("<Dog>"))
    assert(typesOf("fido").contains("<Animal>"))
    // rule 1: predicates are Properties
    assert(typesOf("hasOwner").contains(
      "<http://www.w3.org/1999/02/22-rdf-syntax-ns#Property>"))
  }
}
