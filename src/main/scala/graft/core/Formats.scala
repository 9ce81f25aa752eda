package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Quad interchange formats beyond the canonical Parquet store: N-Quads
  * writer sink (the reference's `cayley dump`,
  * /root/reference/cmd/cayley/command/database.go:143) and a pragmatic
  * JSON-LD reader for the @context/@graph document shape
  * (/root/reference/data/people.jsonld). Together with the N-Quads reader
  * this gives `cayley convert`-style transcoding (convert.go:75-77).
  */
object Formats {
  /** One N-Quads line per quad, as a single-column DataFrame — the
    * distributed serializer behind [[writeNQuads]] and the HTTP read
    * endpoint. Round-trips through [[NQuads.parseLine]].
    */
  def nquadLines(g: Graph): DataFrame = {
    // N-Quads term serialization per kind, escaping mirroring
    // NQuads.parseLine's unescape (shared with the JSON quad format)
    def term(alias: String): org.apache.spark.sql.Column = termColumn(alias)
    terms(g, "s", "p", "o", "l")
      .select(concat_ws(" ", term("sv"), term("pv"), term("ov"),
        when(col("l").isNotNull, term("lv")), lit(".")).as("value"))
  }

  /** The quads joined to the dictionary row of each direction in `dirs`
    * (`s`/`p`/`o` inner, the nullable `l` left), as a `<dir>v` struct
    * per direction for [[termColumn]].
    */
  private def terms(g: Graph, dirs: String*): DataFrame = {
    def dict(keyCol: String, alias: String) =
      g.nodes.select(col("id").as(keyCol),
        struct(Values.fieldNames.map(col): _*).as(alias))
    dirs.foldLeft(g.quads) { (q, d) =>
      q.join(dict(s"__$d", s"${d}v"), col(d) === col(s"__$d"),
        if (d == "l") "left" else "inner")
    }
  }

  /** Serialize a graph to N-Quads text files (distributed write). */
  def writeNQuads(g: Graph, path: String): Unit =
    nquadLines(g).write.mode(SaveMode.Overwrite).text(path)

  /** One N-Triples line per quad — N-Quads minus the graph term (labels
    * are dropped; the reference's quad module registers ntriples beside
    * nquads with the same codec). Distributed; reading N-Triples is the
    * N-Quads reader (a triple is a label-less quad).
    */
  def ntripleLines(g: Graph): DataFrame = {
    def term(alias: String): org.apache.spark.sql.Column = termColumn(alias)
    terms(g, "s", "p", "o")
      .select(concat_ws(" ", term("sv"), term("pv"), term("ov"), lit("."))
        .as("value"))
  }

  /** Serialize to N-Triples text files (distributed write, labels
    * dropped).
    */
  def writeNTriples(g: Graph, path: String): Unit =
    ntripleLines(g).write.mode(SaveMode.Overwrite).text(path)

  /** One TriG line per quad: default-graph quads as bare statements,
    * named-graph quads as single-statement `<g> { s p o . }` blocks
    * (TriG permits reopening a graph), keeping the writer line-oriented
    * and shuffle-free. Round-trips through [[Turtle.parse]].
    */
  def trigLines(g: Graph): DataFrame = {
    def term(alias: String): org.apache.spark.sql.Column = termColumn(alias)
    terms(g, "s", "p", "o", "l").select(
      when(col("l").isNotNull,
        concat_ws(" ", term("lv"), lit("{"), term("sv"), term("pv"),
          term("ov"), lit(". }")))
        .otherwise(concat_ws(" ", term("sv"), term("pv"), term("ov"),
          lit(".")))
        .as("value"))
  }

  /** Graphviz dot document (write-only, as in the reference's quad
    * module): one `"s" -> "o" [ label = "p" ];` edge per quad. Edge rows
    * stream from the cluster; the digraph envelope is driver-written.
    */
  def writeDot(g: Graph, out: java.io.Writer): Unit = {
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    out.write("digraph cayley_graph {\n")
    quadTerms(g).toLocalIterator().forEachRemaining { r =>
      out.write("\t\"" + esc(r.getString(0)) + "\" -> \"" +
        esc(r.getString(2)) + "\" [ label = \"" + esc(r.getString(1)) +
        "\" ];\n")
    }
    out.write("}\n")
  }

  // ------------------------------------------------------ format registry
  /** The reference negotiates any registered quad format
    * (internal/load.go:99 FormatByName, server /api/v2/formats). Document
    * formats (graphml/gml/json-ld) serialize through one driver stream —
    * they are single-document XML/JSON by nature; the row-oriented formats
    * (nquads, json lines) read and write distributed.
    */
  final case class Format(id: String, read: Boolean, write: Boolean,
                          mime: Seq[String])
  val registry: Seq[Format] = Seq(
    Format("nquads", read = true, write = true, Seq("application/n-quads")),
    Format("ntriples", read = true, write = true, Seq("application/n-triples")),
    Format("turtle", read = true, write = true, Seq("text/turtle")),
    Format("trig", read = true, write = true, Seq("application/trig")),
    Format("dot", read = false, write = true, Seq("text/vnd.graphviz")),
    Format("json", read = true, write = true, Seq("application/json")),
    Format("jsonld", read = true, write = true, Seq("application/ld+json")),
    Format("graphml", read = true, write = true, Seq("application/xml")),
    Format("gml", read = true, write = true, Seq("text/x-gml")),
    Format("pq", read = true, write = true, Seq("application/x-protobuf")),
    Format("parquet", read = true, write = true,
      Seq("application/vnd.apache.parquet")))
  def byName(id: String): Option[Format] = registry.find(_.id == id)

  /** Distributed JSON-lines writer/reader for quads. */
  def writeJsonLines(g: Graph, path: String): Unit =
    jsonQuadLines(g).write.mode(SaveMode.Overwrite).text(path)

  /** One JSON object per quad (the reference's json-stream format): terms
    * in N-Quads syntax, so every value kind round-trips. Distributed.
    */
  def jsonQuadLines(g: Graph): DataFrame = {
    def term(alias: String) = termColumn(alias)
    def jesc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    terms(g, "s", "p", "o", "l").select(concat(
      lit("{\"subject\":\""), jesc(term("sv")),
      lit("\",\"predicate\":\""), jesc(term("pv")),
      lit("\",\"object\":\""), jesc(term("ov")),
      when(col("l").isNotNull,
        concat(lit("\",\"label\":\""), jesc(term("lv")))).otherwise(lit("\"")),
      when(col("l").isNotNull, lit("\"}")).otherwise(lit("}"))).as("value"))
  }

  def readJsonLines(spark: SparkSession, path: String): Graph = {
    import spark.implicits._
    val rows = spark.read.textFile(path).flatMap { line =>
      val t = line.trim
      if (t.isEmpty) None
      else {
        val m = org.json4s.jackson.JsonMethods.parse(t).values
          .asInstanceOf[Map[String, Any]]
        def term(k: String): Option[QValue] =
          m.get(k).map(v => NQuads.parseTermOrString(String.valueOf(v)))
        for (s <- term("subject"); p <- term("predicate"); o <- term("object"))
          yield Graph.QuadRow(NQuads.ParsedQuad(s, p, o, term("label")))
      }
    }
    Graph.fromQuadDF(rows.toDF())
  }

  private def termColumn(alias: String): org.apache.spark.sql.Column = {
    val f = (c: String) => col(s"$alias.$c")
    val k = f("kind")
    val esc = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(f("s"), "\\\\", "\\\\\\\\"),
      "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"), "\t", "\\\\t")
    when(k === Kind.Iri, concat(lit("<"), f("s"), lit(">")))
      .when(k === Kind.BNode, concat(lit("_:"), f("s")))
      .when(k === Kind.Str, concat(lit("\""), esc, lit("\"")))
      .when(k === Kind.LangStr, concat(lit("\""), esc, lit("\"@"), f("lang")))
      .when(k === Kind.TypedStr,
        concat(lit("\""), esc, lit("\"^^<"), f("dt"), lit(">")))
      .when(k === Kind.IntK, concat(lit("\""), f("i"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>")))
      .when(k === Kind.FloatK, concat(lit("\""), f("d"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#double>")))
      .when(k === Kind.BoolK, concat(lit("\""), f("b"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#boolean>")))
      .when(k === Kind.TimeK, concat(lit("\""),
        date_format((f("t").cast("double") / 1000000.0d).cast("timestamp"),
          "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#dateTime>")))
  }

  /** GraphML document: nodes + edges labeled by predicate. Terms render
    * in full N-Quads syntax (as the reference's graphml writer renders
    * `quad.Value.String()`), so [[readGraphml]] round-trips every value
    * kind. Edge rows stream from the cluster; the document envelope is
    * driver-written.
    */
  def writeGraphml(g: Graph, out: java.io.Writer): Unit = {
    def xml(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    out.write("""<?xml version="1.0" encoding="UTF-8"?>""" + "\n")
    out.write("""<graphml xmlns="http://graphml.graphdrawing.org/xmlns">""" + "\n")
    out.write("""<key id="d0" for="edge" attr.name="predicate" attr.type="string"/>""" + "\n")
    out.write("""<graph id="G" edgedefault="directed">""" + "\n")
    nodeTermsNq(g).select("t").distinct().toLocalIterator()
      .forEachRemaining { r =>
        out.write(s"""<node id="${xml(r.getString(0))}"/>""" + "\n")
      }
    quadTerms(g).toLocalIterator().forEachRemaining { r =>
      out.write(s"""<edge source="${xml(r.getString(0))}" target="${xml(r.getString(2))}">""" +
        s"""<data key="d0">${xml(r.getString(1))}</data></edge>""" + "\n")
    }
    out.write("</graph>\n</graphml>\n")
  }

  /** GML document. Node ids are the dictionary hashes; node labels and
    * edge labels (the predicate) carry the rendered N-Quads terms with
    * GML entity escaping (`&quot;`/`&amp;`, the ISO-8859-1 entity form the
    * GML spec prescribes for embedded quotes), so [[readGml]] round-trips
    * every value kind exactly.
    */
  def writeGml(g: Graph, out: java.io.Writer): Unit = {
    def q(s: String): String =
      "\"" + s.replace("&", "&amp;").replace("\"", "&quot;") + "\""
    out.write("graph [\n  directed 1\n")
    nodeTermsNq(g).toLocalIterator().forEachRemaining { r =>
      out.write(s"  node [ id ${r.getLong(0)} label ${q(r.getString(1))} ]\n")
    }
    val predTerm = nodeTermsNq(g).select(col("id").as("__p"), col("t").as("ptm"))
    g.quads.join(predTerm, col("p") === col("__p"))
      .select(col("s"), col("o"), col("ptm")).toLocalIterator()
      .forEachRemaining { r =>
        out.write(s"  edge [ source ${r.getLong(0)} target ${r.getLong(1)}" +
          s" label ${q(r.getString(2))} ]\n")
      }
    out.write("]\n")
  }

  /** GML reader (round-trips [[writeGml]] output): nodes resolve by id to
    * their label term, edges rebuild (subject, predicate, object) quads.
    */
  def readGml(spark: SparkSession, path: String): Graph = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    // tokenizer: idents, integers, quoted strings, brackets
    val tok = """"([^"]*)"|(-?\d+)|([A-Za-z_][A-Za-z0-9_]*)|(\[)|(\])""".r
    def unent(s: String): String =
      s.replace("&quot;", "\"").replace("&amp;", "&")
    val toks = tok.findAllMatchIn(text).map { m =>
      if (m.group(1) != null) ("str", unent(m.group(1)))
      else if (m.group(2) != null) ("num", m.group(2))
      else if (m.group(3) != null) ("id", m.group(3))
      else if (m.group(4) != null) ("open", "[")
      else ("close", "]")
    }.toVector
    val nodeTerm = scala.collection.mutable.Map.empty[Long, QValue]
    val quads = Vector.newBuilder[NQuads.ParsedQuad]
    var i = 0
    def parseAttrs(): Map[String, String] = {
      // positioned after '[': read key/value pairs until ']'
      val m = scala.collection.mutable.Map.empty[String, String]
      while (i < toks.length && toks(i)._1 != "close") {
        val key = toks(i)._2; i += 1
        if (i < toks.length && (toks(i)._1 == "num" || toks(i)._1 == "str")) {
          m(key) = toks(i)._2; i += 1
        }
      }
      if (i < toks.length) i += 1 // consume ']'
      m.toMap
    }
    while (i < toks.length) {
      toks(i) match {
        case ("id", kind @ ("node" | "edge"))
          if i + 1 < toks.length && toks(i + 1)._1 == "open" =>
          i += 2
          val attrs = parseAttrs()
          if (kind == "node")
            for (id <- attrs.get("id"); lbl <- attrs.get("label"))
              nodeTerm(id.toLong) = NQuads.parseTermOrString(lbl)
          else
            for (s <- attrs.get("source"); t <- attrs.get("target");
                 lbl <- attrs.get("label")) {
              val pred = NQuads.parseTermOrString(lbl)
              quads += NQuads.ParsedQuad(
                nodeTerm.getOrElse(s.toLong,
                  throw new IllegalArgumentException(s"gml: edge before node $s")),
                pred,
                nodeTerm.getOrElse(t.toLong,
                  throw new IllegalArgumentException(s"gml: edge before node $t")),
                None)
            }
        case _ => i += 1
      }
    }
    Graph.fromQuads(spark, quads.result())
  }

  /** GraphML reader (round-trips [[writeGraphml]] output): StAX stream
    * over `<node id>` / `<edge source target><data key="d0">pred</data>`.
    * Node ids and the d0 data value are N-Quads terms.
    */
  def readGraphml(spark: SparkSession, path: String): Graph = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    val quads = Vector.newBuilder[NQuads.ParsedQuad]
    try {
      val f = javax.xml.stream.XMLInputFactory.newInstance()
      f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
      val r = f.createXMLStreamReader(in)
      var src: String = null
      var tgt: String = null
      var inData = false
      val data = new StringBuilder
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "edge" =>
                src = r.getAttributeValue(null, "source")
                tgt = r.getAttributeValue(null, "target")
              case "data" if src != null =>
                inData = true; data.clear()
              case _ =>
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS if inData =>
            data.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "data" if inData =>
                inData = false
              case "edge" if src != null && tgt != null =>
                quads += NQuads.ParsedQuad(
                  NQuads.parseTermOrString(src),
                  NQuads.parseTermOrString(data.toString),
                  NQuads.parseTermOrString(tgt), None)
                src = null; tgt = null; data.clear()
              case _ =>
            }
          case _ =>
        }
      }
      r.close()
    } finally in.close()
    Graph.fromQuads(spark, quads.result())
  }

  /** JSON-LD writer: one node object per subject with its predicate
    * values, wrapped in `@graph`. Round-trips through [[readJsonLdRoot]].
    * Grouping is distributed; the document streams out per subject.
    */
  def writeJsonLd(g: Graph, out: java.io.Writer): Unit = {
    def jesc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                  case '\r' => "\\r"; case '\t' => "\\t"; case c => c.toString }
    def objJson(kind: Int, sk: String): String = kind match {
      case Kind.Iri   => s"""{"@id":"${jesc(sk.substring(1, sk.length - 1))}"}"""
      case Kind.BNode => s"""{"@id":"${jesc(sk)}"}"""
      case Kind.IntK | Kind.FloatK | Kind.BoolK => sk
      case _ => "\"" + jesc(sk) + "\""
    }
    val grouped = spOTermsKinds(g)
      .groupBy(col("st"))
      .agg(collect_list(struct(col("pt"), col("ot"), col("okind"))).as("po"))
      .orderBy("st")
    out.write("""{"@graph":[""")
    var first = true
    grouped.toLocalIterator().forEachRemaining { r =>
      if (!first) out.write(",")
      first = false
      val subj = r.getString(0)
      val id = if (subj.startsWith("<")) subj.substring(1, subj.length - 1) else subj
      val props = r.getSeq[org.apache.spark.sql.Row](1)
        .groupBy(_.getString(0)).toSeq.sortBy(_._1)
        .map { case (pt, vs) =>
          val pred = if (pt.startsWith("<")) pt.substring(1, pt.length - 1) else pt
          val vals = vs.map(v => objJson(v.getInt(2), v.getString(1)))
          s""""${jesc(pred)}":[${vals.mkString(",")}]"""
        }
      out.write(s"""{"@id":"${jesc(id)}",${props.mkString(",")}}""")
    }
    out.write("]}")
  }

  /** Remote-backend reader (the reference's `graph/http` backend): pull
    * the quad stream from another engine's /api/v2/read endpoint and build
    * a local graph. The fetch is a single driver-side HTTP stream (the
    * remote side serializes distributed); parsing distributes as usual.
    */
  def readRemote(spark: SparkSession, baseUrl: String): Graph = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"$baseUrl/api/v2/read")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val quads = resp.body().linesIterator.flatMap(NQuads.parseLine).toSeq
    Graph.fromQuads(spark, quads)
  }

  /** (id, rendered term) per node — display form (sort key), for the
    * Gephi stream and other human-facing surfaces.
    */
  def nodeTerms(g: Graph): DataFrame =
    g.nodes.select(col("id"), Values.sortKeyCol(c => col(c)).as("t"))

  /** (id, N-Quads term) per node — lossless form for format writers whose
    * readers must reconstruct value kinds.
    */
  def nodeTermsNq(g: Graph): DataFrame =
    g.nodes.select(col("id"),
      struct(Values.fieldNames.map(col): _*).as("nv"))
      .select(col("id"), termColumn("nv").as("t"))

  /** (st, pt, ot, lt) N-Quads-syntax terms per quad, lt nullable — the
    * row stream behind the binary [[Pquads]] serializer.
    */
  def quadTerms(g: Graph): DataFrame =
    terms(g, "s", "p", "o", "l")
      .select(termColumn("sv").as("st"), termColumn("pv").as("pt"),
        termColumn("ov").as("ot"),
        when(col("l").isNotNull, termColumn("lv")).as("lt"))

  private def spOTermsKinds(g: Graph): DataFrame = {
    val n = g.nodes
    def dict(keyCol: String, prefix: String) =
      n.select(col("id").as(keyCol),
        Values.sortKeyCol(c => col(c)).as(prefix + "t"),
        col("kind").as(prefix + "kind"))
    g.quads
      .join(dict("__s", "s"), col("s") === col("__s"))
      .join(dict("__p", "p"), col("p") === col("__p"))
      .join(dict("__o", "o"), col("o") === col("__o"))
      .select("st", "pt", "ot", "okind")
  }

  /** JSON-LD reader: @context expansion (prefixes, @vocab, @base, plain
    * term→IRI mappings, expanded term definitions with @type/@language/
    * @container coercion, default @language, node-scoped contexts),
    * @graph arrays, top-level array documents, @id/@type, nested node
    * objects, @value objects with @language/@type, @list. Covers the
    * JSON-LD 1.0 expansion features the reference's quad reader applies
    * to documents like data/people.jsonld; not a full 1.1 processor
    * (no @reverse, @index, framing).
    */
  def readJsonLd(spark: SparkSession, path: String): Graph = {
    val text = String.join("\n",
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)))
    org.json4s.jackson.JsonMethods.parse(text).values match {
      case m: Map[_, _] =>
        readJsonLdRoot(spark, m.asInstanceOf[Map[String, Any]])
      case l: List[_] => // top-level array: an implicit @graph
        readJsonLdRoot(spark, Map("@graph" -> l))
      case other =>
        throw new IllegalArgumentException(
          s"JSON-LD document must be an object or array, got $other")
    }
  }

  /** The RDF list vocabulary (JSON-LD `@list` encodes as
    * rdf:first/rdf:rest chains terminated by rdf:nil).
    */
  val RdfFirst = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
  val RdfRest = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
  val RdfNil = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

  /** One expanded @context term definition: target IRI (possibly itself
    * compact until expansion), plus @type/@language/@container coercion.
    */
  private final case class LdTerm(iri: String, tpe: Option[String],
                                  lang: Option[String],
                                  container: Option[String])

  /** Active @context state; node-scoped contexts layer via [[merged]]. */
  private final case class LdCtx(vocab: String, base: String,
                                 defaultLang: Option[String],
                                 terms: Map[String, LdTerm]) {
    def merged(raw: Any): LdCtx = raw match {
      case m: Map[_, _] =>
        val ctx = m.asInstanceOf[Map[String, Any]]
        val v = ctx.get("@vocab").map(_.toString).getOrElse(vocab)
        val b = ctx.get("@base").map(_.toString)
          .getOrElse(if (base.nonEmpty) base else v)
        val dl = ctx.get("@language").map(_.toString).orElse(defaultLang)
        val ts = terms ++ ctx.collect {
          case (k, s: String) if !k.startsWith("@") =>
            k -> LdTerm(s, None, None, None)
          case (k, tm: Map[_, _]) if !k.startsWith("@") =>
            val mm = tm.asInstanceOf[Map[String, Any]]
            k -> LdTerm(mm.get("@id").map(_.toString).getOrElse(k),
              mm.get("@type").map(_.toString),
              mm.get("@language").map(_.toString),
              mm.get("@container").map(_.toString))
        }
        LdCtx(v, if (b.isEmpty) v else b, dl, ts)
      case _ => this
    }

    /** Compact-IRI / absolute-IRI / default-vocab expansion (no term
      * re-lookup — term indirection resolves exactly one level).
      */
    private def expandCompact(term: String, default: String): String = {
      val i = term.indexOf(':')
      if (i > 0 && terms.contains(term.substring(0, i)))
        terms(term.substring(0, i)).iri + term.substring(i + 1)
      else if (i > 0 && term.substring(0, i).forall(c =>
        c.isLetterOrDigit || c == '+' || c == '-' || c == '.'))
        term // absolute IRI (http:, urn:, mailto:, …)
      else default + term
    }

    private def expandWith(term: String, default: String): String = {
      if (term.startsWith("@")) return term // keywords pass through
      terms.get(term) match {
        case Some(td) if td.iri != term => // term → (maybe compact) IRI
          expandCompact(td.iri, default)
        case _ => expandCompact(term, default)
      }
    }
    /** Identifiers expand against @base, vocabulary terms against @vocab. */
    def expandId(term: String): String = expandWith(term, base)
    def expandProp(term: String): String = expandWith(term, vocab)
  }

  def readJsonLdRoot(spark: SparkSession, root: Map[String, Any]): Graph = {
    val rootCtx = LdCtx("", "", None, Map.empty)
      .merged(root.getOrElse("@context", Map.empty))

    val quads = Vector.newBuilder[NQuads.ParsedQuad]
    var blankCounter = 0

    def idValue(id: String, ctx: LdCtx): QValue =
      if (id.startsWith("_:")) QValue.BNode(id.substring(2))
      else QValue.Iri(ctx.expandId(id))

    def nodeId(obj: Map[String, Any], ctx: LdCtx): QValue =
      obj.get("@id") match {
        case Some(id: String) => idValue(id, ctx)
        case _ =>
          blankCounter += 1
          QValue.BNode(s"b$blankCounter")
      }

    def plainLiteral(v: Any): QValue = v match {
      case s: String  => QValue.Str(s)
      case b: Boolean => QValue.BoolV(b)
      case i: BigInt  => QValue.IntV(i.toLong)
      case d: Double  => QValue.FloatV(d)
      case other      => QValue.Str(String.valueOf(other))
    }

    /** A string under a term definition: @type:@id → node ref, other
      * @type → typed literal, @language (term or context default) →
      * language string, else plain.
      */
    def coerced(s: String, td: Option[LdTerm], ctx: LdCtx): QValue =
      td.flatMap(_.tpe) match {
        case Some("@id") => idValue(s, ctx)
        case Some(t)     => NQuads.typedValue(s, ctx.expandId(t))
        case None => td.flatMap(_.lang).orElse(ctx.defaultLang) match {
          case Some(l) => QValue.LangStr(s, l)
          case None    => QValue.Str(s)
        }
      }

    /** `@value` object → literal with optional @language / @type. */
    def valueObject(mm: Map[String, Any], ctx: LdCtx): QValue = {
      val raw = mm("@value")
      (mm.get("@language"), mm.get("@type")) match {
        case (Some(l), _) => QValue.LangStr(String.valueOf(raw), l.toString)
        case (_, Some(t)) =>
          NQuads.typedValue(String.valueOf(raw), ctx.expandId(t.toString))
        case _ => plainLiteral(raw)
      }
    }

    /** `@list` → rdf:first/rdf:rest chain, returns the head (or rdf:nil). */
    def rdfList(items: List[Any], td: Option[LdTerm], ctx: LdCtx): QValue =
      items match {
        case Nil => QValue.Iri(RdfNil)
        case head :: tail =>
          blankCounter += 1
          val cell = QValue.BNode(s"b$blankCounter")
          val headV = objectOf(head, td, ctx)
          quads += NQuads.ParsedQuad(cell, QValue.Iri(RdfFirst), headV, None)
          quads += NQuads.ParsedQuad(cell, QValue.Iri(RdfRest),
            rdfList(tail, td, ctx), None)
          cell
      }

    def objectOf(v: Any, td: Option[LdTerm], ctx: LdCtx): QValue = v match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        if (mm.keySet == Set("@id")) idValue(mm("@id").toString, ctx)
        else if (mm.contains("@value")) valueObject(mm, ctx)
        else if (mm.contains("@list"))
          rdfList(mm("@list").asInstanceOf[List[Any]], td, ctx)
        else walk(mm, ctx)
      case s: String => coerced(s, td, ctx)
      case x => plainLiteral(x)
    }

    def walk(obj0: Map[String, Any], ctx0: LdCtx): QValue = {
      // node-scoped @context layers over the active one
      val ctx = obj0.get("@context").map(ctx0.merged).getOrElse(ctx0)
      val obj = obj0 - "@context"
      val subj = nodeId(obj, ctx)
      obj.foreach {
        case ("@id", _) =>
        case ("@type", t) =>
          val types = t match { case l: List[_] => l; case x => List(x) }
          types.foreach(tv => quads += NQuads.ParsedQuad(subj,
            QValue.Iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
            QValue.Iri(ctx.expandProp(tv.toString)), None))
        case ("@graph", l: List[_]) =>
          l.foreach(x => walk(x.asInstanceOf[Map[String, Any]], ctx))
        case (pred, value) =>
          val td = ctx.terms.get(pred)
          val p = QValue.Iri(ctx.expandProp(pred))
          def emit(v: Any): Unit = v match {
            case l: List[_] if td.exists(_.container.contains("@list")) =>
              quads += NQuads.ParsedQuad(subj, p, rdfList(l, td, ctx), None)
            case l: List[_] => l.foreach(e =>
              quads += NQuads.ParsedQuad(subj, p, objectOf(e, td, ctx), None))
            case x =>
              quads += NQuads.ParsedQuad(subj, p, objectOf(x, td, ctx), None)
          }
          emit(value)
      }
      subj
    }

    root.get("@graph") match {
      case Some(l: List[_]) =>
        l.foreach(x => walk(x.asInstanceOf[Map[String, Any]], rootCtx))
      case _ => walk(root - "@context", rootCtx)
    }
    Graph.fromQuads(spark, quads.result())
  }
}
