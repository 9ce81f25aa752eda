package graft

import graft.analytics.{Dedup, Events, GraphAlgos, Layout, LinearModel, Similarity, TextOps}
import graft.core.{FieldRule, Graph, QValue, SchemaMapper, SchemaRules}
import graft.exec.{Exec, Results}
import graft.path.Path
import graft.shape.{Lower, ValueFilter}
import graft.shape.ValueFilter._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with an ANSI-SQL oracle where SQL can express it.
  *
  * Graph-operator queries run through the full engine (quadified TPC-H
  * tables → dictionary-encoded graph → Path DSL → Shape → lowered plan);
  * their oracles are the equivalent relational SQL. Pipeline operators
  * (dedup/similarity/text) run the analytics modules directly.
  */
/** Typed-object fixtures for the schema_* entries (SchemaMapper). */
case class SchemaNation(nid: Long, nname: String)
case class SchemaCustomer(cid: Long, cname: String, nation: SchemaNation)
case class SchemaPerson(pid: Long, name: String, age: Long, score: Double)

object SparkEntry {
  import scala.collection.concurrent.TrieMap
  private val graphCache = TrieMap.empty[String, Graph]

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Harness corpus for the banded near-dup contract: the embeddings table
    * plus a deterministically perturbed copy of every 10th vector
    * (id + 10M, each coordinate scaled by 1 + ε with ε ∈ [−0.15, 0.15)
    * hash-derived from (vec_id, i)). cos(v, v′) ≈ 0.996, far above the
    * 0.9 contract threshold, while the synthetic base vectors stay below
    * 0.7 pairwise — so the planted pairs ARE the ≥0.9 ground truth and the
    * recall contract is non-vacuous at every SF.
    */
  private def plantedNearDups(emb: DataFrame): DataFrame = {
    val planted = emb.where(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0d) + (pmod(xxhash64(col("vec_id"), i), lit(1000))
            .cast("double") / 1000.0d - 0.5d) * 0.3d)).cast("float"))
          .as("embedding"))
    emb.select("vec_id", "embedding").unionByName(planted)
  }

  /** The events table carries TIMESTAMP(NANOS) which Spark reads only as
    * long via the legacy conf; normalize to a microsecond TimestampType
    * column regardless of the session's setting.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case _ => df
    }
  }

  /** A gated operator checked on both of its tiers: `run(gate)` at the
    * session's `gate` and again with the distributed tier forced (-1).
    * Throws unless both return the same rows; returns the first result.
    */
  private def bothTiers(name: String, gate: Long)(run: Long => DataFrame)
      : DataFrame = {
    val Seq(atGate, distributed) = Seq(gate, -1L).map(run)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    if (rows(atGate) != rows(distributed)) throw new IllegalStateException(
      s"$name: the driver and distributed tiers disagree")
    atGate
  }

  def iri(s: String): QValue = QValue.Iri(s)
  def str(s: String): QValue = QValue.Str(s)

  /** Quadified star-schema graph:
    * customer --c_nation--> nation --n_region--> region, plus attribute
    * quads (labeled `tbl:<table>`), supplier/orders edges, and a synthetic
    * `n_prev` chain (nation k → k-1) for recursion tests.
    */
  def graph(s: SparkSession, dir: String): Graph =
    graphCache.getOrElseUpdate(dir, {
      val customer = t(s, dir, "customer"); val nation = t(s, dir, "nation")
      val region = t(s, dir, "region"); val supplier = t(s, dir, "supplier")
      val orders = t(s, dir, "orders")
      val nationPrev = nation
        .withColumn("prevkey", col("n_nationkey") - 1)
        .where(col("prevkey") >= 0)
      val parts = Seq(
        Graph.quadifyTable(customer, "customer", "c_custkey", Some("tbl:customer")),
        Graph.quadifyEdge(customer, "customer", "c_custkey", "c_nation", "nation", "c_nationkey"),
        Graph.quadifyTable(nation, "nation", "n_nationkey", Some("tbl:nation")),
        Graph.quadifyEdge(nation, "nation", "n_nationkey", "n_region", "region", "n_regionkey"),
        Graph.quadifyEdge(nationPrev, "nation", "n_nationkey", "n_prev", "nation", "prevkey"),
        Graph.quadifyTable(region, "region", "r_regionkey", Some("tbl:region")),
        Graph.quadifyEdge(supplier, "supplier", "s_suppkey", "s_nation", "nation", "s_nationkey"),
        Graph.quadifyEdge(orders, "orders", "o_orderkey", "o_cust", "customer", "o_custkey"))
      // do NOT cache the exploded quad-struct rows: the dictionary build
      // and the quads table each re-run the (codegen'd, scan-cheap) per-
      // table explodes, which measures faster than materializing +
      // deserializing a cache of wide nested structs — and the consumers'
      // own caches make the third-and-later reads free anyway
      val raw = parts.reduce(_ unionAll _)
      Graph.fromQuadDF(raw).cached().withStats()
    })

  private def run(s: SparkSession, dir: String, p: Path): Results =
    Exec.run(graph(s, dir), p)

  /** Flagship: 2-hop traversal customer→nation→region→name on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    run(spark, dir, Path.start().out(iri("c_nation")).out(iri("n_region"))
      .out(iri("r_name"))).payloadDF("id" -> "node")
  }

  // ======================================================== graph operators
  private val graphQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // HasA/LinksTo projection: Out (SURVEY §2.1 HasA+LinksTo)
    "g_out" -> ((s, d) => run(s, d, Path.start().out(iri("c_nation")))
      .payloadDF("id" -> "node")),
    // reverse traversal: In
    "g_in" -> ((s, d) => run(s, d, Path.start().in(iri("c_nation")))
      .payloadDF("id" -> "node")),
    // multi-hop chain (join pipeline)
    "g_out_chain" -> ((s, d) => run(s, d, Path.start().out(iri("c_nation"))
      .out(iri("n_region")).out(iri("r_name"))).payloadDF("id" -> "node")),
    // Has: constrain without moving
    "g_has" -> ((s, d) => run(s, d,
      Path.start().has(iri("c_mktsegment"), str("BUILDING")))
      .payloadDF("id" -> "node")),
    // And = intersection
    "g_and" -> ((s, d) => run(s, d,
      Path.start().has(iri("c_mktsegment"), str("BUILDING"))
        .and(Path.start().hasFilter(iri("c_acctbal"), rev = false,
          Comparison(GT, QValue.FloatV(5000.0)))))
      .payloadDF("id" -> "node")),
    // Or = union (keeps per-path multiplicity)
    "g_or" -> ((s, d) => run(s, d,
      Path.start().has(iri("c_mktsegment"), str("BUILDING"))
        .or(Path.start().has(iri("c_mktsegment"), str("MACHINERY"))))
      .payloadDF("id" -> "node")),
    // Except = anti-join
    "g_except" -> ((s, d) => run(s, d,
      Path.start().has(iri("c_mktsegment"))
        .except(Path.start().has(iri("c_mktsegment"), str("BUILDING"))))
      .payloadDF("id" -> "node")),
    // Unique = dropDuplicates
    "g_unique" -> ((s, d) => run(s, d,
      Path.start().out(iri("c_nation")).unique()).payloadDF("id" -> "node")),
    // Count (one-row synthetic value)
    "g_count" -> ((s, d) => run(s, d,
      Path.start().has(iri("c_mktsegment"), str("BUILDING")).count())
      .df.select(col("i").as("cnt"))),
    // Save: tags are columns
    "g_save" -> ((s, d) => run(s, d,
      Path.start().in(iri("c_nation")).save(iri("c_nation"), "nat"))
      .payloadDF("id" -> "node", Lower.tagCol("nat") -> "nat")),
    // Optional (left-outer tag binding)
    "g_optional" -> ((s, d) => run(s, d,
      Path.start().has(iri("c_mktsegment"))
        .saveOptionalReverse(iri("o_cust"), "ord"))
      .payloadDF("id" -> "node", Lower.tagCol("ord") -> "ord")),
    // Comparison filter (within-type range)
    "g_filter_range" -> ((s, d) => run(s, d,
      Path.start().hasFilter(iri("c_acctbal"), rev = false,
        Comparison(GT, QValue.FloatV(9000.0)))).payloadDF("id" -> "node")),
    // Within-type Int comparison (value_comparison.go semantics: only Int
    // values can satisfy an Int range filter)
    "g_filter_int" -> ((s, d) => run(s, d,
      Path.start().out(iri("c_nationkey"))
        .filter(Comparison(GT, QValue.IntV(20)))).payloadDF("id" -> "node")),
    // Regex filter over value strings
    "g_regex" -> ((s, d) => run(s, d,
      Path.start().out(iri("n_name")).regex("^NATION_1")).payloadDF("id" -> "node")),
    // POSIX classes are RE2 syntax that java.util.regex reads as literal
    // chars — this entry only matches DuckDB's RE2 if the engine's regex
    // path really is RE2 (functions/Re2.scala), not rlike
    "g_regex_posix" -> ((s, d) => run(s, d,
      Path.start().out(iri("n_name"))
        .regex("^[[:upper:]]+_[[:digit:]]+$")).payloadDF("id" -> "node")),
    // Sort + Page (offset/limit after value ordering)
    "g_order_page" -> ((s, d) => run(s, d,
      Path.start().out(iri("n_name")).order().skip(5).limit(10))
      .payloadDF("id" -> "node")),
    // Recursive traversal (iterative closure)
    "g_recursive" -> ((s, d) => run(s, d,
      Path.start(iri("nation:10")).followRecursive(iri("n_prev")))
      .payloadDF("id" -> "node")),
    // Recursive traversal with depth tags (per-depth Int bindings)
    "g_recursive_depth" -> ((s, d) => run(s, d,
      Path.start(iri("nation:10")).followRecursive(iri("n_prev"),
        maxDepth = 0, depthTags = Seq("depth")))
      .payloadDF("id" -> "node", Lower.intTagCol("depth") -> "depth")),
    // Tag + Is + Back (re-root at tag)
    "g_back" -> ((s, d) => run(s, d,
      Path.start().tag("c").out(iri("c_nation")).is(iri("nation:7")).back("c"))
      .payloadDF("id" -> "node")),
    // Predicate enumeration
    "g_predicates" -> ((s, d) => run(s, d,
      Path.start(iri("customer:1")).outPredicates()).payloadDF("id" -> "node")),
    // Labels of quads
    "g_labels" -> ((s, d) => run(s, d,
      Path.start(iri("customer:1")).labels()).payloadDF("id" -> "node")),
    // LabelContext scoping
    "g_label_ctx" -> ((s, d) => run(s, d,
      Path.start(iri("customer:1")).labelContext(iri("tbl:customer"))
        .out(iri("c_name"))).payloadDF("id" -> "node")),
    // Both: union of out and in hops
    "g_both" -> ((s, d) => run(s, d,
      Path.start(iri("nation:3")).both(iri("n_prev")))
      .payloadDF("id" -> "node")),
    // HasReverse: constrain by incoming edge, stay on the value side
    "g_hasrev" -> ((s, d) => run(s, d,
      Path.start().hasReverse(iri("c_mktsegment"), iri("customer:1")))
      .payloadDF("id" -> "node")),
    // Wildcard filter (%/? -> like)
    "g_wildcard" -> ((s, d) => run(s, d,
      Path.start().out(iri("n_name"))
        .filter(ValueFilter.Wildcard("NATION_1%"))).payloadDF("id" -> "node")),
    // OutWithTags: tag the predicate of the hop
    "g_out_tags" -> ((s, d) => run(s, d,
      Path.start(iri("nation:3")).outWithTags(Seq("pred"), iri("n_region")))
      .payloadDF("id" -> "node", Lower.tagCol("pred") -> "pred")),
    // SavePredicates: outgoing predicate names as a tag
    "g_save_predicates" -> ((s, d) => run(s, d,
      Path.start(iri("customer:1")).savePredicates(rev = false, "p"))
      .payloadDF(Lower.tagCol("p") -> "p")),
    // Optional sub-path (tags-only, position-preserving morphism)
    "g_optional_path" -> ((s, d) => run(s, d,
      Path.start().has(iri("n_name"))
        .optional(Path.morphism().save(iri("n_region"), "reg")))
      .payloadDF("id" -> "node", Lower.tagCol("reg") -> "reg")),
    // mutation path: ApplyDeltas add feeds the traversal
    "g_mutation_add" -> ((s, d) => {
      import graft.core.Mutation
      val g0 = graph(s, d)
      val delta = graft.core.NQuads.ParsedQuad(iri("customer:999999999"),
        iri("c_mktsegment"), str("BUILDING"), None)
      val g2 = Mutation.applyDeltas(g0, Seq(Mutation.Delta(delta, Mutation.Add)))
      Exec.run(g2, Path.start().has(iri("c_mktsegment"), str("BUILDING")))
        .payloadDF("id" -> "node")
    }),
    // Gizmo front-end end-to-end: parser -> Path -> Shape -> plan
    "g_gizmo_chain" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """g.V().out(iri("c_nation")).out(iri("n_region")).out(iri("r_name")).all()""")
        .map(_("id")).toDF("node")
    }),
    // Gizmo emit/forEach callbacks through the interpreter
    "g_gizmo_emit" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """g.V(iri("customer:1")).out(iri("c_mktsegment")).forEach(function(o){ g.emit(o.id) })""")
        .map(_("id")).toDF("node")
    }),
    // a general multi-statement Gizmo PROGRAM: user-defined helper function
    // with return, while loop, for-in over a traversal result, if/else,
    // arithmetic and string concatenation — the gizmo.go JS-host surface
    // beyond fluent chains
    "g_gizmo_program" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """function regionName(r) { return g.V(r).out(iri("r_name")).toValue(); }
          |var regions = g.V().out(iri("n_region")).unique().toArray();
          |var i = 0;
          |var n = 0;
          |while (i < regions.length) { n = n + 1; i = i + 1; }
          |for (j in regions) { g.emit(regionName(regions[j])); }
          |g.emit("regions=" + n);
          |if (n > 3) { g.emit("many"); } else { g.emit("few"); }""".stripMargin)
        .map(_("id")).toDF("node")
    }),
    // Gizmo program over the round-4 interpreter surface: object
    // literals, mutable arrays (push), classic for, Math, string methods
    "g_gizmo_program2" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """var rows = [];
          |var regions = g.V().out(iri("n_region")).unique().toArray();
          |for (var i = 0; i < regions.length; i++) {
          |  var name = g.V(regions[i]).out(iri("r_name")).toValue();
          |  var cnt = g.V(regions[i]).in(iri("n_region")).count();
          |  rows.push({region: name, cnt: cnt});
          |}
          |for (k in rows) { g.emit(rows[k]); }
          |g.emit({region: "TOTAL".toLowerCase() + "-" + Math.min(9, rows.length),
          |        cnt: 0});""".stripMargin)
        .map(r => (r("region"), r("cnt"))).toDF("region", "cnt")
    }),
    // Gizmo program exercising the round-5 surface: a closure over a
    // loop-local var mutated inside a forEach callback, a regex literal
    // on the Re2 engine, bitwise ops, and try/catch over a host error
    "g_gizmo_program3" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """var rows = [];
          |var regions = g.V().out(iri("n_region")).unique().toArray();
          |for (var i = 0; i < regions.length; i++) {
          |  var name = g.V(regions[i]).out(iri("r_name")).toValue();
          |  if (/^A/.test(name)) {
          |    var n = 0;
          |    g.V(regions[i]).in(iri("n_region")).forEach(function(d) {
          |      n = n + 1;
          |    });
          |    rows.push({region: name, cnt: n, flag: n & 3});
          |  }
          |}
          |var err = "none";
          |try { g.V().bogus(); } catch (e) { err = e.message; }
          |for (k in rows) { g.emit(rows[k]); }
          |g.emit({region: "err:" + err, cnt: 0, flag: 0});""".stripMargin)
        .map(r => (r("region"), r("cnt"), r("flag")))
        .toDF("region", "cnt", "flag")
    }),
    // Gizmo program exercising do/while, switch fall-through, and
    // break/continue inside for and while loops
    "g_gizmo_program4" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """var rows = [];
          |var regions = g.V().out(iri("n_region")).unique().toArray();
          |var i = 0;
          |do {
          |  var name = g.V(regions[i]).out(iri("r_name")).toValue();
          |  var cls = "?";
          |  switch (name) {
          |    case "AFRICA":
          |    case "AMERICA": cls = "A"; break;
          |    case "EUROPE": cls = "E"; break;
          |    default: cls = "other";
          |  }
          |  var members = g.V(regions[i]).in(iri("n_region")).toArray();
          |  var n = 0;
          |  for (var j = 0; j < members.length; j++) {
          |    if (j >= 4) break;
          |    n = n + 1;
          |  }
          |  rows.push({region: name, cls: cls, cnt: n});
          |  i = i + 1;
          |} while (i < regions.length);
          |var t = 0; var j = 0;
          |while (j < 10) { j = j + 1; if (j % 2 == 1) continue; t = t + 1; }
          |for (k in rows) { g.emit(rows[k]); }
          |g.emit({region: "t:" + t, cls: "x", cnt: 0});""".stripMargin)
        .map(r => (r("region"), r("cls"), r("cnt")))
        .toDF("region", "cls", "cnt")
    }),
    // Gizmo program exercising constructor prototypes, array
    // higher-order methods, and JSON.stringify end-to-end
    "g_gizmo_program5" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """function Tally(name) { this.name = name; this.n = 0; }
          |Tally.prototype.add = function(k) { this.n = this.n + k; };
          |Tally.prototype.row = function() {
          |  return {region: this.name, cnt: this.n};
          |};
          |var tallies = g.V().out(iri("n_region")).unique().toArray()
          |  .map(function(r) {
          |    var t = new Tally(g.V(r).out(iri("r_name")).toValue());
          |    g.V(r).in(iri("n_region")).forEach(function(d) { t.add(1); });
          |    return t;
          |  })
          |  .filter(function(t) { return t.n > 0; });
          |tallies.sort(function(a, b) {
          |  return a.name < b.name ? -1 : 1;
          |});
          |var names = tallies.map(function(t) { return t.name; });
          |tallies.forEach(function(t) { g.emit(t.row()); });
          |g.emit({region: JSON.stringify(names),
          |        cnt: tallies.reduce(function(a, t) { return a + t.n; }, 0)});
          |""".stripMargin)
        .map(r => (r("region"), r("cnt"))).toDF("region", "cnt")
    }),
    // Gizmo program exercising regex CAPTURE GROUPS on the Re2 engine:
    // exec submatches, $n/$-template replace, and match(/re/g) counting
    "g_gizmo_program6" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """var rows = [];
          |var re = /^([A-Z]+)_(\d+)$/;
          |var names = g.V().out(iri("n_name")).unique().toArray();
          |for (var i = 0; i < names.length; i++) {
          |  var name = "" + names[i];
          |  var m = re.exec(name);
          |  if (m === null) { continue; }
          |  rows.push({
          |    word: m[1],
          |    num: m[2],
          |    swapped: name.replace(re, "$2-$1"),
          |    digits: "" + name.match(/\d/g).length
          |  });
          |}
          |for (k in rows) { g.emit(rows[k]); }""".stripMargin)
        .map(r => (r("word"), r("num"), r("swapped"), r("digits")))
        .toDF("word", "num", "swapped", "digits")
    }),
    // Gizmo program exercising the deterministic UTC-only Date subset:
    // construction (ISO string + Date.UTC fields), getUTC* accessors,
    // date arithmetic (millis), and toISOString emit rendering
    "g_gizmo_program7" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """var rows = [];
          |var re = /^NATION_(\d+)$/;
          |var base = new Date("2020-01-01T00:00:00Z");
          |var names = g.V().out(iri("n_name")).unique().toArray();
          |for (var i = 0; i < names.length; i++) {
          |  var name = "" + names[i];
          |  var m = re.exec(name);
          |  if (m === null) { continue; }
          |  var k = parseInt(m[1]);
          |  var d = new Date(Date.UTC(2020, 0, 1 + k, k % 24));
          |  rows.push({
          |    name: name,
          |    iso: d.toISOString(),
          |    dow: "" + d.getUTCDay(),
          |    days: "" + Math.floor((d - base) / 86400000),
          |    hour: "" + d.getUTCHours()
          |  });
          |}
          |rows.forEach(function(r) { g.emit(r); });""".stripMargin)
        .map(r => (r("name"), r("iso"), r("dow"), r("days"), r("hour")))
        .toDF("name", "iso", "dow", "days", "hour")
    }),
    // tagged template calls (ident`a${x}b` → ident(["a","b"], (x)),
    // the cooked-strings call convention), Object.entries, and
    // Array.from over a string — the last common-idiom JS gaps
    "g_gizmo_program8" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """function fmt(parts, a, b) {
          |  return parts[0] + "[" + a + "]" + parts[1] + "[" + b + "]" +
          |    parts[2];
          |}
          |var names = g.V().out(iri("n_name")).unique().toArray();
          |var rows = [];
          |for (var i = 0; i < names.length; i++) {
          |  var name = "" + names[i];
          |  var obj = { name: name, len: name.length };
          |  var kv = Object.entries(obj)
          |    .map(function(e) { return e[0] + "=" + e[1]; }).join(",");
          |  rows.push({
          |    tag: fmt`name:${name} len:${name.length}`,
          |    kv: kv,
          |    nchars: "" + Array.from(name).length
          |  });
          |}
          |rows.forEach(function(r) { g.emit(r); });""".stripMargin)
        .map(r => (r("tag"), r("kv"), r("nchars")))
        .toDF("tag", "kv", "nchars")
    }),
    // Object.fromEntries + Number.is* predicates + String.raw (r12
    // additions): fromEntries round-trips entries, the predicates gate
    // a computed field, and String.raw emits its parts UNDECODED (the
    // literal backslash-t must survive — the oracle writes the same
    // two characters, DuckDB standard strings are escape-free)
    "g_gizmo_program9" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """var names = g.V().out(iri("n_name")).unique().toArray();
          |var rows = [];
          |for (var i = 0; i < names.length; i++) {
          |  var name = "" + names[i];
          |  var o = Object.fromEntries([["nm", name], ["ln", name.length]]);
          |  rows.push({
          |    raw: String.raw`nm:\t${o.nm}`,
          |    ok: "" + (Number.isInteger(o.ln) && Number.isFinite(o.ln) &&
          |      !Number.isNaN(o.ln) && Number.isSafeInteger(o.ln)),
          |    ln: "" + o.ln
          |  });
          |}
          |rows.forEach(function(r) { g.emit(r); });""".stripMargin)
        .map(r => (r("raw"), r("ok"), r("ln")))
        .toDF("raw", "ok", "ln")
    }),
    // generators (function*/yield): generator-over-generator
    // composition (take), yield* delegation from a traversal result,
    // two-way next(v) communication (running-total accumulator), lazy
    // for-of with break over an infinite generator
    "g_gizmo_program10" -> ((s, d) => {
      import s.implicits._
      graft.lang.Gizmo.session(graph(s, d)).execute(
        """function* names() {
          |  yield* g.V().out(iri("n_name")).unique().toArray().sort();
          |}
          |function* take(gen, k) {
          |  var i = 0;
          |  for (const v of gen) { if (i >= k) break; yield v; i = i + 1; }
          |}
          |function* acc() {
          |  var total = 0;
          |  while (true) { total = total + (yield total); }
          |}
          |var a = acc(); a.next();
          |var idx = 0;
          |for (const n of take(names(), 10)) {
          |  var nm = "" + n;
          |  var cum = a.next(nm.length).value;
          |  g.emit({ nm: nm, i: "" + idx, cum: "" + cum });
          |  idx = idx + 1;
          |}""".stripMargin)
        .map(r => (r("nm"), r("i"), r("cum")))
        .toDF("nm", "i", "cum")
    }),
    // GraphQL front-end end-to-end (set-oriented executor)
    "g_graphql" -> ((s, d) => {
      import s.implicits._
      val res = graft.lang.GraphQL.session(graph(s, d)).execute(
        """{ n(id: <nation:3>) { name: n_name } }""")
      Seq(res("n").asInstanceOf[Map[String, Any]]("name").toString)
        .toDF("node")
    }),
    // MQL front-end end-to-end (query-by-example)
    "g_mql" -> ((s, d) => {
      import s.implicits._
      graft.lang.MQL.session(graph(s, d)).execute(
        """[{"id": null, "<n_region>": "<region:1>"}]""")
        .map(m => m("id").toString.stripPrefix("<").stripSuffix(">"))
        .toDF("node")
    }),
    // Sexp front-end end-to-end (s-expression patterns)
    "g_sexp" -> ((s, d) => {
      import s.implicits._
      graft.lang.Sexp.session(graph(s, d)).execute(
        """($a (:<c_mktsegment> "BUILDING"))""")
        .map(m => m("id").stripPrefix("<").stripSuffix(">")).toDF("node")
    }),
    // LinkedQL front-end end-to-end (JSON-LD step objects)
    "g_linkedql" -> ((s, d) => {
      import s.implicits._
      graft.lang.LinkedQL.execute(graph(s, d),
        """{"@type": "Visit",
          |  "from": {"@type": "Match", "pattern": {"@id": "nation:3"}},
          |  "properties": "n_name"}""".stripMargin)
        .asInstanceOf[List[Any]].map(String.valueOf(_)).toDF("node")
    }),
    // Follow: apply a saved morphism
    "g_follow" -> ((s, d) => run(s, d,
      Path.start().in(iri("s_nation"))
        .follow(Path.morphism().out(iri("s_nation")).out(iri("n_region"))
          .out(iri("r_name"))))
      .payloadDF("id" -> "node")),
    // FollowReverse: apply a morphism backwards
    "g_followr" -> ((s, d) => run(s, d,
      Path.start(iri("region:1"))
        .followReverse(Path.morphism().out(iri("n_region"))))
      .payloadDF("id" -> "node")),
    // Local fast-path parity contract: a battery of representative shapes
    // evaluated by BOTH engines — graft.shape.LocalEval (the interactive
    // point-lookup index, Graph.interactive()) and the distributed Lower
    // plan — must produce identical value / tag-binding multisets. This is
    // the driver-gated guarantee that the fast path is the same engine,
    // not a lookalike.
    "g_local_parity" -> ((s, d) => {
      import s.implicits._
      val g0 = graph(s, d)
      val gi = g0.interactive()
      val battery: Seq[Path] = Seq(
        Path.start().out(iri("c_nation")).out(iri("n_region"))
          .out(iri("r_name")),
        Path.start(iri("customer:1")).outPredicates(),
        Path.start().has(iri("c_mktsegment"), str("BUILDING")).tag("c")
          .out(iri("c_nation")).save(iri("n_name"), "nn"),
        Path.start().out(iri("c_nation"))
          .and(Path.start(iri("nation:3")).in(iri("n_prev"))
            .or(Path.start(iri("nation:3")))),
        Path.start().out(iri("n_region")).unique()
          .except(Path.start(iri("region:1"))),
        Path.start(iri("nation:5"))
          .followRecursive(Path.morphism().out(iri("n_prev")), 0,
            Seq("depth")),
        Path.start().out(iri("n_name"))
          .filter(ValueFilter.Regexp("^NATION_1", withRefs = false)),
        Path.start().out(iri("c_acctbal"))
          .filter(Comparison(GT, QValue.FloatV(9000.0))),
        Path.start(iri("customer:1")).labels(),
        Path.start().out(iri("n_region")).in(iri("n_region"))
          .optional(Path.morphism().out(iri("n_name")).tag("oname")),
        Path.start().out(iri("n_name"))
          .filter(ValueFilter.Wildcard("NATION_1%")),
        Path.start(iri("nation:3")).tag("n").out(iri("n_region"))
          .back("n").out(iri("n_name")))
      def vkey(vs: Seq[QValue]): Seq[String] = vs.map(_.nquads).sorted
      def mkey(ms: Seq[Map[String, QValue]]): Seq[String] =
        ms.map(m => m.toSeq.map { case (k, v) => k + "=" + v.nquads }
          .sorted.mkString(";")).sorted
      val ok = battery.forall { p =>
        val shape = p.shape()
        graft.shape.LocalEval.tryRun(gi, shape) match {
          case None => false // every battery shape must be local-supported
          case Some(lr) =>
            val loc = new graft.exec.LocalResults(gi, lr)
            val dist = new graft.exec.SparkResults(g0, Exec.lower(g0, shape))
            vkey(loc.values()) == vkey(dist.values()) &&
              mkey(loc.tagMaps()) == mkey(dist.tagMaps())
        }
      }
      Seq(ok).toDF("parity_ok")
    }),
    // incremental store ingest contract: write(half1) + append(half2)
    // must equal write(all) — same quad set, node set, and persisted
    // predStats — and the appended store must answer a traversal
    // identically to the rebuilt one. The ingest path a 100 TB store
    // lives on: append-only files, touched-bucket-only existence scan
    // dual-index store read path, ORACLE-verified: a reverse hop rooted
    // at a literal VALUE scans the (p,o)-sorted OPS sibling (ExplainSpec
    // pins the plan shape; this entry pins the VALUES through DuckDB),
    // then a forward hop composes on the (p,s)-sorted primary — one
    // traversal spanning both index orderings of the same store
    "g_store_ops" -> ((s, d) => {
      val g = graph(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("gso").toString
      g.write(dir, predicateBuckets = 8, objectIndex = true)
      val gs = Graph.read(s, dir)
      Exec.run(gs, Path.start(str("BUILDING")).in(iri("c_mktsegment"))
        .out(iri("c_nation"))).payloadDF("id" -> "node")
    }),
    "g_store_append" -> ((s, d) => {
      import s.implicits._
      val g = graph(s, d)
      val h1 = g.copy(quads = g.quads.where(pmod(col("s"), lit(2)) === 0))
      // overlap a slice of h1 into the delta: append must dedup
      val h2 = g.copy(quads = g.quads.where(pmod(col("s"), lit(2)) === 1)
        .union(g.quads.limit(5)))
      val dirFull = java.nio.file.Files
        .createTempDirectory("gsa-full").toString
      val dirInc = java.nio.file.Files
        .createTempDirectory("gsa-inc").toString
      // dual-index stores (SP-sorted primary + OPS sibling): append must
      // keep BOTH orderings row-identical to the rebuilt store
      g.withStats().write(dirFull, predicateBuckets = 8, objectIndex = true)
      h1.withStats().write(dirInc, predicateBuckets = 8, objectIndex = true)
      Graph.append(s, dirInc, h2)
      val full = Graph.read(s, dirFull)
      val inc = Graph.read(s, dirInc)
      val base = Seq("s", "p", "o", "l")
      def q(gr: Graph) = gr.quads.select(base.map(col): _*)
      val diff = q(inc).exceptAll(q(full)).count() +
        q(full).exceptAll(q(inc)).count()
      val nodesOk = inc.nodes.select("id").exceptAll(
        full.nodes.select("id")).count() == 0 &&
        full.nodes.select("id").exceptAll(inc.nodes.select("id")).count() == 0
      val trav = Path.start().out(iri("c_nation")).out(iri("n_region"))
      def tkey(gr: Graph) = Exec.run(gr, trav).values()
        .map(_.nquads).sorted
      // the appended OPS sibling must stay row-identical to the primary
      val opsDiff = inc.quadsOps.map(ops =>
        ops.select(base.map(col): _*).exceptAll(q(inc)).count() +
          q(inc).exceptAll(ops.select(base.map(col): _*)).count())
      val ok = diff == 0 && nodesOk && inc.predStats == full.predStats &&
        tkey(inc) == tkey(full) && opsDiff.contains(0L)
      Seq(ok).toDF("append_ok")
    }),
    // RDFS inference (reference inference/inference.go rules 1-11 as a
    // batch closure, core/Inference.scala): a subClassOf chain over the
    // nation IRIs (nation:k ⊑ nation:k-1), rdf:type assertions
    // customer:i → nation:c_nationkey, and a two-level subPropertyOf
    // hierarchy c_nation ⊑ assoc ⊑ rel. The closure must entail every
    // ancestor type (rule 9 over the rule-5/11 transitive closure) and
    // lift every c_nation edge to rel (rule 7) — the oracle recomputes
    // the ancestor set with a DuckDB WITH RECURSIVE walk of the chain.
    "g_inference" -> ((s, d) => {
      import graft.core.{Inference, NQuads}
      val customer = t(s, d, "customer"); val nation = t(s, d, "nation")
      val nationPrev = nation
        .withColumn("prevkey", col("n_nationkey") - 1)
        .where(col("prevkey") >= 0)
      val subClassIri = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
      val typeIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
      val parts = Seq(
        Graph.quadifyEdge(nationPrev, "nation", "n_nationkey",
          subClassIri, "nation", "prevkey"),
        Graph.quadifyEdge(customer, "customer", "c_custkey",
          typeIri, "nation", "c_nationkey"),
        Graph.quadifyEdge(customer, "customer", "c_custkey",
          "c_nation", "nation", "c_nationkey"))
      val schema = Graph.fromQuads(s, Seq(
        NQuads.ParsedQuad(iri("c_nation"), Inference.SubPropertyOf,
          iri("assoc"), None),
        NQuads.ParsedQuad(iri("assoc"), Inference.SubPropertyOf,
          iri("rel"), None)))
      val inf = Inference.rdfsClosure(
        Graph.fromQuadDF(parts.reduce(_ unionAll _)).addQuads(schema))
      val disp = inf.nodes.select(col("id"), col("s").as("disp"))
      def rendered(kind: String, p: QValue) =
        inf.quads.where(col("p") === lit(QValue.id(p)))
          .join(disp.select(col("id").as("s"), col("disp").as("subj")), "s")
          .join(disp.select(col("id").as("o"), col("disp").as("obj")), "o")
          .select(lit(kind).as("kind"), col("subj"), col("obj"))
      rendered("type", Inference.TypeIri)
        .unionByName(rendered("rel", iri("rel")))
        .where(col("subj").startsWith("customer:") &&
          col("obj").startsWith("nation:"))
    }),
    // Schema package (reference schema/schema.go + loader.go): typed
    // objects with a NESTED object field save to quads (child objects get
    // their own identity + rdf:type) and load back through per-predicate
    // joins. The oracle is the equivalent relational join — so the whole
    // object→quads→object cycle is driver-verified, not just spec'd.
    "schema_nested" -> ((s, d) => {
      import s.implicits._
      val ds = t(s, d, "customer")
        .join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").cast("long").as("cid"),
          col("c_name").as("cname"),
          struct(col("n_nationkey").cast("long").as("nid"),
            col("n_name").as("nname")).as("nation"))
        .as[SchemaCustomer]
      val rules = SchemaRules(fields = Map(
        "nation" -> FieldRule(pred = "memberOf", nestedType = "snation",
          nestedId = "nid")))
      val g = Graph.fromQuadDF(
        SchemaMapper.toQuads(ds, "scust", "cid", rules))
      SchemaMapper.fromQuads[SchemaCustomer](g, "scust", "cid", rules)
        .select(col("cid"), col("cname"),
          col("nation.nname").as("nation_name"))
    }),
    // LoadPathTo: typed load restricted to a traversal's result set —
    // only customers whose balance quad clears the filter are
    // materialized as objects (the restriction IS the root subject set)
    "schema_from_path" -> ((s, d) => {
      import s.implicits._
      val ds = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("pid"),
          col("c_name").as("name"),
          col("c_nationkey").cast("long").as("age"),
          col("c_acctbal").cast("double").as("score"))
        .as[SchemaPerson]
      val g = Graph.fromQuadDF(SchemaMapper.toQuads(ds, "sperson", "pid"))
      val p = graft.path.Path.start().hasFilter(iri("score"), rev = false,
        graft.shape.ValueFilter.Comparison(graft.shape.ValueFilter.GT,
          graft.core.QValue.FloatV(5000.0)))
      SchemaMapper.fromPath[SchemaPerson](g, p, "sperson", "pid")
        .select(col("pid"), col("name"), col("score"))
    }))

  private val graphOracles: Map[String, String] = Map(
    "g_out" -> "SELECT 'nation:' || CAST(c_nationkey AS VARCHAR) AS node FROM customer",
    "g_in" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer",
    "g_out_chain" ->
      """SELECT r.r_name AS node FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "g_has" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_mktsegment = 'BUILDING'",
    "g_and" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000",
    "g_or" ->
      """SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin,
    "g_except" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_mktsegment <> 'BUILDING'",
    "g_unique" -> "SELECT DISTINCT 'nation:' || CAST(c_nationkey AS VARCHAR) AS node FROM customer",
    "g_count" -> "SELECT COUNT(*) AS cnt FROM customer WHERE c_mktsegment = 'BUILDING'",
    "g_save" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node, 'nation:' || CAST(c_nationkey AS VARCHAR) AS nat FROM customer",
    "g_optional" ->
      """SELECT 'customer:' || CAST(c.c_custkey AS VARCHAR) AS node,
        |       CASE WHEN o.o_orderkey IS NULL THEN NULL
        |            ELSE 'orders:' || CAST(o.o_orderkey AS VARCHAR) END AS ord
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey""".stripMargin,
    "g_filter_range" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_acctbal > 9000",
    "g_regex" -> "SELECT n_name AS node FROM nation WHERE regexp_matches(n_name, '^NATION_1')",
    "g_regex_posix" ->
      "SELECT n_name AS node FROM nation WHERE regexp_matches(n_name, '^[[:upper:]]+_[[:digit:]]+$')",
    "g_filter_int" ->
      "SELECT CAST(c_nationkey AS VARCHAR) AS node FROM customer WHERE c_nationkey > 20",
    "g_order_page" -> "SELECT n_name AS node FROM (SELECT n_name FROM nation ORDER BY n_name OFFSET 5 LIMIT 10)",
    "g_recursive" ->
      """WITH RECURSIVE reach(k) AS (
        |  SELECT 9
        |  UNION ALL
        |  SELECT k - 1 FROM reach WHERE k > 0)
        |SELECT 'nation:' || CAST(k AS VARCHAR) AS node FROM reach""".stripMargin,
    "g_recursive_depth" ->
      """WITH RECURSIVE reach(k, d) AS (
        |  SELECT 9, 1
        |  UNION ALL
        |  SELECT k - 1, d + 1 FROM reach WHERE k > 0)
        |SELECT 'nation:' || CAST(k AS VARCHAR) AS node,
        |       CAST(d AS VARCHAR) AS depth FROM reach""".stripMargin,
    "g_back" -> "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_nationkey = 7",
    "g_predicates" ->
      """SELECT 'c_name' AS node UNION ALL SELECT 'c_nationkey'
        |UNION ALL SELECT 'c_acctbal' UNION ALL SELECT 'c_mktsegment'
        |UNION ALL SELECT 'c_nation'""".stripMargin,
    "g_labels" -> "SELECT 'tbl:customer' AS node",
    "g_label_ctx" -> "SELECT c_name AS node FROM customer WHERE c_custkey = 1",
    "g_both" -> "SELECT 'nation:2' AS node UNION ALL SELECT 'nation:4'",
    "g_hasrev" -> "SELECT c_mktsegment AS node FROM customer WHERE c_custkey = 1",
    "g_gizmo_chain" ->
      """SELECT r.r_name AS node FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "g_gizmo_emit" ->
      "SELECT c_mktsegment AS node FROM customer WHERE c_custkey = 1",
    // the program emits: each referenced region's name (via the helper
    // function), "regions=<count>", and the if-branch label
    "g_gizmo_program" ->
      """SELECT r_name AS node FROM region r
        |WHERE EXISTS (SELECT 1 FROM nation n WHERE n.n_regionkey = r.r_regionkey)
        |UNION ALL
        |SELECT 'regions=' || CAST(COUNT(DISTINCT n_regionkey) AS VARCHAR) FROM nation
        |UNION ALL
        |SELECT CASE WHEN COUNT(DISTINCT n_regionkey) > 3 THEN 'many' ELSE 'few' END FROM nation""".stripMargin,
    // per-region nation counts built imperatively (objects/arrays/for),
    // plus one synthesized summary row from string/Math builtins
    "g_gizmo_program2" ->
      """SELECT r.r_name AS region, CAST(COUNT(n.n_nationkey) AS VARCHAR) AS cnt
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |UNION ALL
        |SELECT 'total-' || CAST(LEAST(9, COUNT(DISTINCT n_regionkey)) AS VARCHAR),
        |       '0' FROM nation""".stripMargin,
    "g_gizmo_program3" ->
      """SELECT r.r_name AS region,
        |       CAST(COUNT(n.n_nationkey) AS VARCHAR) AS cnt,
        |       CAST(COUNT(n.n_nationkey) & 3 AS VARCHAR) AS flag
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name LIKE 'A%'
        |GROUP BY r.r_name
        |UNION ALL
        |SELECT 'err:unknown traversal .bogus', '0', '0'""".stripMargin,
    "g_gizmo_program5" ->
      """SELECT r.r_name AS region, CAST(COUNT(*) AS VARCHAR) AS cnt
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |UNION ALL
        |SELECT '["' || string_agg(DISTINCT r.r_name, '","' ORDER BY r.r_name) || '"]',
        |       CAST(COUNT(*) AS VARCHAR)
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "g_gizmo_program4" ->
      """SELECT r.r_name AS region,
        |       CASE WHEN r.r_name IN ('AFRICA','AMERICA') THEN 'A'
        |            WHEN r.r_name = 'EUROPE' THEN 'E'
        |            ELSE 'other' END AS cls,
        |       CAST(LEAST(4, COUNT(n.n_nationkey)) AS VARCHAR) AS cnt
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |UNION ALL
        |SELECT 't:5', 'x', '0'""".stripMargin,
    "g_gizmo_program6" ->
      """SELECT regexp_extract(n_name, '^([A-Z]+)_([0-9]+)$', 1) AS word,
        |       regexp_extract(n_name, '^([A-Z]+)_([0-9]+)$', 2) AS num,
        |       regexp_replace(n_name, '^([A-Z]+)_([0-9]+)$', '\2-\1') AS swapped,
        |       CAST(LENGTH(regexp_replace(n_name, '[^0-9]', '', 'g')) AS VARCHAR) AS digits
        |FROM nation
        |WHERE regexp_matches(n_name, '^([A-Z]+)_([0-9]+)$')""".stripMargin,
    // DuckDB dayofweek is Sunday=0, matching JS getUTCDay; the ISO string
    // is pinned to the JS toISOString form (millis + 'Z')
    "g_gizmo_program7" ->
      """WITH n AS (
        |  SELECT n_name,
        |         CAST(regexp_extract(n_name, '^NATION_([0-9]+)$', 1) AS INT) AS k
        |  FROM nation WHERE regexp_matches(n_name, '^NATION_([0-9]+)$')
        |)
        |SELECT n_name AS name,
        |       strftime(TIMESTAMP '2020-01-01 00:00:00' + to_days(k)
        |                + to_hours(k % 24),
        |                '%Y-%m-%dT%H:%M:%S.000Z') AS iso,
        |       CAST(dayofweek(DATE '2020-01-01' + k) AS VARCHAR) AS dow,
        |       CAST(k AS VARCHAR) AS days,
        |       CAST(k % 24 AS VARCHAR) AS hour
        |FROM n""".stripMargin,
    "g_gizmo_program8" ->
      """SELECT 'name:[' || n_name || '] len:[' ||
        |         CAST(length(n_name) AS VARCHAR) || ']' AS tag,
        |       'name=' || n_name || ',len=' ||
        |         CAST(length(n_name) AS VARCHAR) AS kv,
        |       CAST(length(n_name) AS VARCHAR) AS nchars
        |FROM nation""".stripMargin,
    "g_gizmo_program9" ->
      """SELECT 'nm:\t' || n_name AS raw, 'true' AS ok,
        |       CAST(length(n_name) AS VARCHAR) AS ln
        |FROM nation""".stripMargin,
    // generators: first 10 names in sorted order with a running
    // character total (the accumulator generator's state)
    "g_gizmo_program10" ->
      """SELECT nm, CAST(rn - 1 AS VARCHAR) AS i, CAST(cum AS VARCHAR) AS cum
        |FROM (SELECT n_name AS nm,
        |    ROW_NUMBER() OVER (ORDER BY n_name) AS rn,
        |    SUM(length(n_name)) OVER (ORDER BY n_name
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM nation)
        |WHERE rn <= 10""".stripMargin,
    "g_wildcard" ->
      "SELECT n_name AS node FROM nation WHERE n_name LIKE 'NATION_1%'",
    "g_out_tags" ->
      """SELECT 'region:' || CAST(n_regionkey AS VARCHAR) AS node,
        |       'n_region' AS pred FROM nation WHERE n_nationkey = 3""".stripMargin,
    "g_save_predicates" ->
      """SELECT 'c_name' AS p UNION ALL SELECT 'c_nationkey'
        |UNION ALL SELECT 'c_acctbal' UNION ALL SELECT 'c_mktsegment'
        |UNION ALL SELECT 'c_nation'""".stripMargin,
    "g_optional_path" ->
      """SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS node,
        |       'region:' || CAST(n_regionkey AS VARCHAR) AS reg FROM nation""".stripMargin,
    "g_mutation_add" ->
      """SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |UNION ALL SELECT 'customer:999999999'""".stripMargin,
    "g_graphql" ->
      "SELECT n_name AS node FROM nation WHERE n_nationkey = 3",
    "g_mql" ->
      "SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS node FROM nation WHERE n_regionkey = 1",
    "g_sexp" ->
      "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_mktsegment = 'BUILDING'",
    "g_linkedql" ->
      "SELECT n_name AS node FROM nation WHERE n_nationkey = 3",
    "g_follow" ->
      """SELECT r.r_name AS node FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "g_followr" -> "SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS node FROM nation WHERE n_regionkey = 1")

  // ===================================================== pipeline operators
  private val pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: md5-fingerprint group-by, keep min id
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text").select("doc_id")),
    // span-level EXACT substring dedup (Lee et al. 2022): merged [s, e)
    // spans of repeated >=40-char substrings, first occurrence kept
    "dedup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
          minLen = 40)
        .select(col("id").as("doc_id"), col("s"), col("e"))),
    // content fingerprint (md5 of canonical form)
    "text_fingerprint" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),
    // token counting
    "text_tokens" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))),
    // quality facets (integer-only, hash-stable)
    "text_quality" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val facets = TextOps.qualityFacets(col("text"))
      doc.select((col("doc_id") +: facets.map { case (n, c) => c.as(n) }): _*)
    }),
    // language-ID heuristic (marker CASE-chain, mirrored in SQL)
    "text_langid" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),
    // vocabulary building: exact top-k token frequencies
    "text_vocab_topk" -> ((s, d) =>
      TextOps.topTokens(t(s, d, "documents"), "text", k = 50)),
    // BPE-ish subword counting
    "text_subwords" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.subwordCount(col("text")).cast("long").as("n_subwords"))),
    // MinHash LSH candidates + exact word-3-gram Jaccard verify: the output
    // is the exact J>=0.5 pair set (miss prob (1-j)^64 < 6e-20), which the
    // oracle recomputes brute-force
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.5)),
    // duplicate clusters: connected components over the exact J>=0.5 pair
    // graph (singletons label themselves), on both tiers: the corpus
    // sits under the driver gate, so the distributed tier is forced once
    "dedup_clusters" -> ((s, d) =>
      bothTiers("dedup_clusters", Dedup.driverDedupMaxRows(s))(gate =>
        Dedup.clusters(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, maxDriverRows = gate))),
    // incremental cluster maintenance: cluster 90% of the corpus, fold
    // the remaining 10% in via clustersAppend — the oracle recomputes
    // the FULL clustering, so the fold's exact-equality claim is the
    // driver-verified contract (batch×corpus + batch×batch LSH only;
    // the corpus never re-pairs against itself)
    "dedup_clusters_incr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val lbl = Dedup.clusters(corpus, "doc_id", "text", threshold = 0.5)
      Dedup.clustersAppend(corpus, lbl, batch, "doc_id", "text",
        threshold = 0.5)
    }),
    // leakage-controlled holdout contract: the split side is a function
    // of the duplicate-CLUSTER label, so (a) no near-dup pair may
    // straddle train/holdout (the contamination an id-hash split causes
    // by construction), (b) every document gets exactly one side,
    // (c) the held fraction stays near the requested 10% (md5 keys are
    // uniform over cluster labels)
    "dedup_holdout" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val split = Dedup.clusterHoldout(docs, "doc_id", "text",
        holdoutFraction = 0.1, threshold = 0.5)
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 0.5)
      val straddles = pairs
        .join(split.select(col("doc_id").as("id_a"),
          col("split").as("sa")), "id_a")
        .join(split.select(col("doc_id").as("id_b"),
          col("split").as("sb")), "id_b")
        .where(col("sa") =!= col("sb")).count()
      val total = docs.count()
      val assigned = split.select("doc_id").distinct().count()
      val frac = split.where(col("split") === "holdout").count().toDouble /
        total
      val ok = straddles == 0 && assigned == total &&
        split.count() == total && frac > 0.05 && frac < 0.2
      Seq(ok).toDF("holdout_ok")
    }),
    // SimHash near-dup pairs, exact for Hamming<=3 by pigeonhole banding;
    // the 60-bit md5-derived token hash is the shared oracle contract
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3)),
    // exact char-9-gram Jaccard self-join via prefix filtering (PPJoin-lite;
    // longer shingles are rarer, so the prefix inverted index is sparser)
    "dedup_ngram" -> ((s, d) =>
      Dedup.jaccardJoin(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8, shingleN = 9)),
    // EXACT containment (near-subset) self-join: ordered pairs where
    // >=80% of a's char-9-grams occur in b — catches quote/boilerplate
    // inclusion that Jaccard misses on size-skewed pairs; prefix filter
    // on the contained side only, exact verify, brute-force SQL oracle
    "dedup_contain" -> ((s, d) =>
      Dedup.containmentJoin(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8, shingleN = 9)),
    // EXACT Levenshtein<=1 fuzzy self-join: deletion-neighborhood
    // (SymSpell) candidate equi-join + banded-levenshtein verify; oracle
    // recomputes it as a brute-force cross join
    "dedup_fuzzy" -> ((s, d) =>
      Dedup.editDistancePairs(t(s, d, "customer"), "c_custkey", "c_name",
        maxDist = 1)),
    // brute-force cosine top-k (ids only; scores are float-order sensitive)
    "sim_topk" -> ((s, d) =>
      Similarity.bruteTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10).select("vec_id")),
    // batched top-k: nearest neighbor per probe (ids only)
    "sim_batch_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.batchTopK(emb, emb.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 3).select("query_id", "id")
    }),
    // hard-negative mining: top-k nearest candidates EXCLUDING the
    // labeled positives (here: a rank-independent same-residue relation,
    // c%7 == q%7, so some true top-k candidates really are excluded and
    // the anti-join must backfill with rank k+1, k+2, ...)
    "sim_hardneg" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.where(col("vec_id") < 4)
      val positives = probes.select(col("vec_id").as("q"))
        .crossJoin(emb.select(col("vec_id").as("c")))
        .where(col("c") % 7 === col("q") % 7)
      Similarity.hardNegatives(emb, probes, positives, "vec_id",
        "embedding", "q", "c", k = 10).select("query_id", "id", "rank")
    }),
    // MMR diversity re-rank: greedy λ·rel − (1−λ)·maxsim selection from
    // the top-20 pool, k=3 — the oracle unrolls the same three greedy
    // steps in SQL, so the SELECTION (not just the pool) is value-checked
    "sim_mmr" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.mmrRerank(emb, emb.where(col("vec_id") < 3), "vec_id",
        "embedding", k = 3, poolN = 20)
    }),
    // batched LSH ANN (equi-join multi-probe), verified by its contract:
    // every probe's recall@3 >= 2/3 vs the exact batch top-k
    "sim_batch_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.where(col("vec_id") < 5)
      val ann = Similarity.lshBatchTopK(emb, probes, "vec_id", "embedding",
        dim = 64, k = 3).select("query_id", "id")
      val exact = Similarity.batchTopK(emb, probes, "vec_id", "embedding",
        k = 3).select("query_id", "id")
      // anchor on the probe set: a probe recovering ZERO of its exact
      // top-3 must count as 0 hits, not silently drop out of the min
      val hits = ann.join(exact, Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      probes.select(col("vec_id").as("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .agg((min(coalesce(col("hits"), lit(0L))) >= 2).as("recall_ok"))
    }),
    // LSH ANN, verified by its contract: recall@10 >= 0.8 vs brute force
    // (size-adaptive bits + 1-probe multi-probe)
    "sim_ann" -> ((s, d) =>
      Similarity.lshRecallAtK(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, queryId = 0L, k = 10, minRecall = 0.8)),
    // trained-centroid IVF ANN (16 cells, half scanned), verified by its
    // contract: MEAN recall@10 over the probe batch >= 0.6 vs exact batch
    // top-k (probed 0.82-0.83 at sf0.01 and sf0.1 — wide margin)
    "sim_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfMeanRecallAtK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, minMeanRecall = 0.6,
        nCells = 16, nprobe = 8)
    }),
    // PCA via distributed power iteration: C·w evaluated as one
    // aggregate per step, covariance never materialized; contract =
    // top-component Rayleigh quotient >= 95% of the driver-eigen
    // lambda_max + orthonormal components; n_vecs crosses engines
    "sim_pca" -> ((s, d) =>
      Similarity.pcaContract(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64)),
    // JL random-projection prefilter (sign projection, cheaper pair
    // scoring, exact rerank of the candidate set): mean recall@10 vs
    // exact top-10. The synthetic embeddings are near-uniform (no
    // cluster structure, cosine gaps ~noise — the adversarial case for
    // any projection), so the contract runs 64->32 with 150 candidates
    // (measured 0.88 here; clustered corpora reach ~1.0 at 16/40, see
    // the spec)
    "sim_rp" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.rpMeanRecallAtK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", dim = 64, k = 10, minMeanRecall = 0.7,
        outDim = 32, cand = 150)
    }),
    // int8-quantized IVF store (4x smaller candidate scan + exact rerank)
    // through a real on-disk cell-partitioned store; quantization must
    // not cost recall vs the same probe budget's float path
    "sim_ivf_q" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ivf_q").toString
      Similarity.ivfQuantizedMeanRecallAtK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 10,
        minMeanRecall = 0.6, dir = dir, nCells = 16, nprobe = 8)
    }),
    // incremental index ingest: append without retraining, two batches +
    // planted probe clones; exactness contract (clones must come back
    // top-1, store row count must reconcile)
    "sim_ivf_append" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ivf_app").toString
      Similarity.ivfAppendContract(emb, "vec_id", "embedding", dir)
    }),
    // product-quantized IVF store (IVFADC): 8 code bytes per 64-dim
    // vector on the scoring scan (32× below float32), ADC lookup
    // scoring, exact rerank — recall contract vs the exact batch top-k
    "sim_ivf_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ivf_pq").toString
      Similarity.ivfPqMeanRecallAtK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 10,
        minMeanRecall = 0.6, dir = dir, nCells = 16, m = 8, nprobe = 8)
    }),
    // exact all-pairs embedding-cosine near-dup (ids only) — the
    // small-corpus/oracle anchor; the scale default is the banded path
    // verified by emb_neardup_ann below
    "emb_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairsExact(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.25)),
    // banded sign-LSH near-dup (the 100 TB path: equi-join on
    // (band,bucket), exact-cosine verify, no cartesian anywhere), verified
    // by its contract: recall >= 0.9 of the exact >=0.9-cosine pairs over a
    // corpus with deterministically planted near-duplicates, zero false
    // positives (the verify stage makes precision exact by construction),
    // and a non-vacuous ground truth (nExact > 0)
    "emb_neardup_ann" -> ((s, d) => {
      val aug = plantedNearDups(t(s, d, "embeddings")).cache()
      val ann = Similarity.cosineNearDupPairsBanded(aug, "vec_id",
        "embedding", dim = 64, threshold = 0.9)
      val exact = Similarity.cosineNearDupPairsExact(aug, "vec_id",
        "embedding", threshold = 0.9)
      val j = ann.withColumn("a", lit(1))
        .join(exact.withColumn("e", lit(1)), Seq("id_a", "id_b"),
          "full_outer")
      j.agg((
        count(col("e")) > 0 &&
        count(when(col("a").isNotNull && col("e").isNull, 1)) === 0 &&
        (count(when(col("a").isNotNull && col("e").isNotNull, 1))
          .cast("double") / count(col("e")) >= 0.9)).as("recall_ok"))
    }),
    // SemDeDup-style semantic near-dup: trained k-means cells as the
    // candidate generator (vs the data-independent sign bands above),
    // exact-cosine verify — contract: zero false positives, >=85% recall
    // of the exact >=0.9 pairs (boundary pairs can split cells; the
    // planted clones overwhelmingly co-locate), non-vacuous ground truth
    "emb_neardup_sem" -> ((s, d) => {
      val aug = plantedNearDups(t(s, d, "embeddings")).cache()
      val sem = Similarity.cosineNearDupPairsCells(aug, "vec_id",
        "embedding", threshold = 0.9, nCells = 16)
      val exact = Similarity.cosineNearDupPairsExact(aug, "vec_id",
        "embedding", threshold = 0.9)
      val j = sem.withColumn("a", lit(1))
        .join(exact.withColumn("e", lit(1)), Seq("id_a", "id_b"),
          "full_outer")
      j.agg((
        count(col("e")) > 0 &&
        count(when(col("a").isNotNull && col("e").isNull, 1)) === 0 &&
        (count(when(col("a").isNotNull && col("e").isNotNull, 1))
          .cast("double") / count(col("e")) >= 0.85)).as("recall_ok"))
    }),
    // semantic dedup over the banded pairs (the scale default for
    // clustering), verified by its contract: >=95% of vectors land in the
    // same cluster as the exact-pair connected components
    "emb_clusters_ann" -> ((s, d) => {
      val aug = plantedNearDups(t(s, d, "embeddings")).cache()
      val nodes = aug.select(col("vec_id").as("id"))
      val annCc = Dedup.connectedComponents(
        Similarity.cosineNearDupPairsBanded(aug, "vec_id", "embedding",
          dim = 64, threshold = 0.9), nodes)
      val exactCc = Dedup.connectedComponents(
        Similarity.cosineNearDupPairsExact(aug, "vec_id", "embedding",
          threshold = 0.9), nodes)
      annCc.alias("a").join(exactCc.alias("e"), Seq("id"))
        .agg((avg(when(col("a.cluster") === col("e.cluster"), 1.0d)
          .otherwise(0.0d)) >= 0.95).as("recall_ok"))
    }),
    // semantic dedup: connected components over the exact cosine>=0.25
    // pair graph (every vec labeled; singletons label themselves)
    "emb_clusters" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val pairs = Similarity.cosineNearDupPairsExact(emb, "vec_id",
        "embedding", threshold = 0.25)
      Dedup.connectedComponents(pairs, emb.select(col("vec_id").as("id")))
        .select(col("id").as("vec_id"), col("cluster"))
    }),
    // cross-corpus incremental dedup: new-batch docs (doc_id%10==0) near-dup
    // to the existing corpus (doc_id%10!=0); batch×corpus band join only,
    // exact J>=0.5 verify — the oracle recomputes the cross pairs brute-force
    "dedup_cross" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossPairs(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", threshold = 0.5)
    }),
    // MinHash near-dup STORE: band-sorted postings written from the
    // corpus slice, then the %10 batch probes via the literal
    // mh IN (...) row-group-pruned path — output must be
    // VALUE-IDENTICAL to the in-memory crossPairs (same oracle SQL;
    // the store is candidate generation only, verify stays exact)
    "dedup_probe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-mhstore").toString
      Dedup.minhashStoreWrite(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        dir, "doc_id", "text")
      Dedup.minhashStoreProbe(s, dir,
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", threshold = 0.5)
    }),
    // Bloom-prefiltered incremental exact dedup: batch docs whose
    // fingerprint is absent from the corpus (bloom cuts the join input;
    // the exact anti-join keeps the output exact). The corpus slice
    // overlaps half the batch (doc_id%20==0) so the dup path really fires.
    "dedup_incr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.newDocs(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0 ||
          pmod(col("doc_id"), lit(20)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text",
        // stats-provided size bound (documents ≈ 50k/SF ≪ this): keeps the
        // bloom ~1.2 MB instead of the no-stats 4M-item default
        expectedItems = 1000000L)
    }),
    // per-source cap: keep <=10 docs per source in deterministic
    // md5-sample-key order (the per-domain cap of crawl curation)
    "q_source_cap" -> ((s, d) =>
      TextOps.capPerKey(t(s, d, "documents"), "doc_id", "source", cap = 10)
        .select("doc_id", "source")),
    // deterministic train/holdout split: side = pure function of the id,
    // stable under growth so the holdout never leaks into training
    "q_holdout" -> ((s, d) => {
      val (train, holdout) = TextOps.holdoutSplit(
        t(s, d, "documents"), "doc_id", holdoutFraction = 0.1)
      train.select(col("doc_id"), lit("train").as("split"))
        .unionAll(holdout.select(col("doc_id"), lit("holdout").as("split")))
    }),
    // Gopher document-quality rules (Rae et al. 2021 A1.1): exact
    // integer facets + cross-multiplied keep gate, one scan, no shuffle
    "text_gopher" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val facets = TextOps.gopherFacets(col("text"))
        .map { case (n, c) => c.as(n) }
      docs.select((col("doc_id") +: facets :+
        TextOps.gopherOk(col("text"), minWords = 10).as("keep")): _*)
    }),
    // BPE tokenizer training contract: one distributed word-count pass
    // feeds a deterministic driver-local merge loop (the scale shape —
    // per-merge corpus rescans would be numMerges full scans). Verified
    // properties: retraining yields the identical merge list, and greedy
    // segmentation with the trained merges reassembles every document's
    // normalized text exactly (lossless round-trip)
    "text_bpe" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val m1 = graft.analytics.Bpe.train(docs, "text", numMerges = 60)
      val m2 = graft.analytics.Bpe.train(docs, "text", numMerges = 60)
      val seg = graft.analytics.Bpe.segment(docs, "doc_id", "text", m1)
      val rebuilt = seg.select(col("id").as("doc_id"),
        trim(regexp_replace(concat_ws("", col("tokens")),
          java.util.regex.Pattern.quote(graft.analytics.Bpe.EndOfWord), " "))
          .as("rebuilt"))
      val mismatches = docs
        .select(col("doc_id"),
          graft.analytics.TextOps.normalize(col("text")).as("norm"))
        .join(rebuilt, Seq("doc_id"))
        .where(col("norm") =!= col("rebuilt")).count()
      Seq(m1.nonEmpty && m1 == m2 && mismatches == 0L).toDF("bpe_ok")
    }),
    // one-call curation pipeline: exact dedup -> quality gate ->
    // per-source cap, every stage exact and engine-portable
    "pipeline_curate" -> ((s, d) =>
      graft.analytics.Curate.curate(t(s, d, "documents"), "doc_id", "text",
        "source", minTokens = 5, maxTokens = 100000, maxWordLen = 40,
        perSourceCap = 12)),
    // the WHOLE LLM-data path in one call: exact dedup -> quality ->
    // decontamination vs the doc_id%20==0 benchmark slice -> per-source
    // cap -> leakage-controlled train/holdout split by near-dup cluster
    // label. Value-level oracle end-to-end (the cluster labels are the
    // recursive-closure CTE the dedup_clusters oracle already uses)
    "pipeline_curate_full" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.analytics.Curate.curateFull(
        docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
        "doc_id", "text", "source",
        minTokens = 5, maxTokens = 100000, maxWordLen = 40,
        perSourceCap = 12,
        bench = Some(docs.where(pmod(col("doc_id"), lit(20)) === 0)),
        decontamN = 8, holdoutFraction = 0.1, neardupThreshold = 0.5)
    }),
    // temperature mixture: keep ceil(3*sqrt(count)) docs per source
    // (alpha=0.5 reweighting with integer per-stratum thresholds)
    "q_mixture" -> ((s, d) =>
      TextOps.mixtureSample(t(s, d, "documents"), "doc_id", "source",
        scale = 3.0).select("doc_id", "source")),
    // LM count table: exact top-50 word bigrams
    "text_ngram_counts" -> ((s, d) =>
      TextOps.topNgrams(t(s, d, "documents"), "text", n = 2, k = 50)),
    // decontamination: training docs sharing any word-8-gram with the
    // held-out benchmark slice (doc_id % 20 == 0); count of distinct
    // contaminated shingles per flagged doc
    "decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
        docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", n = 8)
    }),
    // the reverse direction: per BENCHMARK doc, what fraction of its
    // distinct 8-grams already appears in training — the per-example
    // contamination figure; frac = one division of two exact integers
    "decontam_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationReport(
        docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", n = 8)
    }),
    // streaming near-dup (stateful MinHash LSH) recall contract: the
    // micro-batch path must recover >=80% of the docs the exact batch
    // operator flags as later members of a J>=0.5 pair on the same
    // corpus. Deterministic: one micro-batch, bit-identical signatures
    // (shared codegen MinHashSig), earliest-id bucket ownership.
    "stream_neardup" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sneardup").toString
      docs.write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema("doc_id bigint, text string").parquet(s"$tmp/in")
      val q = graft.streaming.QuadStream
        .nearDupStream(stream, "doc_id", "text", k = 16,
          minEstJaccard = 0.5)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_neardup_sink").start()
      q.processAllAvailable(); q.stop()
      val streamIds = s.sql(
        "SELECT DISTINCT id FROM stream_neardup_sink")
      val batchLater = Dedup
        .minhashPairs(docs, "doc_id", "text", threshold = 0.5)
        .select(col("id_b").as("id")).distinct().cache()
      val total = batchLater.count()
      val hit =
        batchLater.join(streamIds, Seq("id"), "left_semi").count()
      batchLater.unpersist()
      Seq(total == 0 || hit.toDouble / total >= 0.8).toDF("recall_ok")
    }),
    // streaming as-of enrichment, EXACT contract: with every reference
    // arriving before the event stream (micro-batch 1 = orders, 2 =
    // events), the stateful stream must equal the batch asofJoin row for
    // row — matched (event, ref, payload) triples identical, and the
    // stream's -1 rows exactly the events the inner batch join drops
    // streaming count-min sketch: two micro-batches (doc_id parity),
    // complete-mode aggregation; exact cell-for-cell equality with the
    // batch sketch over the same corpus (sums are exact longs)
    // streaming decontamination: the stateless row-local flag path
    // (bench gram hashes as a plan literal) over two micro-batches must
    // flag EXACTLY the docs the batch decontaminate() flags — same
    // xxhash64 over the same normalized gram strings, so equality is
    // hard, not recall-ish
    "stream_decontam" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.QuadStream
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val train = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
      val bench = docs.where(pmod(col("doc_id"), lit(20)) === 0)
      val hashes = QuadStream.benchNgramHashes(bench, "doc_id", "text",
        n = 8)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sdec").toString
      train.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream.schema("doc_id bigint, text string")
        .parquet(s"$tmp/in")
      val q = QuadStream.contaminationFlags(stream, "doc_id", "text",
          hashes, n = 8)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_decontam_sink").start()
      q.processAllAvailable()
      train.where(col("doc_id") % 2 === 1)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      val streamed = s.sql(
        "SELECT id FROM stream_decontam_sink WHERE contaminated")
      val batch = Dedup.decontaminate(train, bench, "doc_id", "text",
        n = 8).select(col("id")).cache()
      val nFlagged = batch.count()
      val diff = streamed.exceptAll(batch).count() +
        batch.exceptAll(streamed).count()
      batch.unpersist()
      Seq(diff == 0 && nFlagged > 0).toDF("stream_decontam_ok")
    }),
    "stream_cms" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.QuadStream
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-scms").toString
      docs.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream.schema("doc_id bigint, text string")
        .parquet(s"$tmp/in")
      val q = QuadStream.cmsStream(stream, "text")
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_cms_sink").start()
      q.processAllAvailable()
      docs.where(col("doc_id") % 2 === 1)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      val streamed = s.sql("SELECT j, c, cnt FROM stream_cms_sink")
      val batch = TextOps.countMinSketch(
        TextOps.wordCounts(docs, "text")).cache()
      val nCells = batch.count()
      val diff = streamed.exceptAll(batch).count() +
        batch.exceptAll(streamed).count()
      batch.unpersist()
      Seq(diff == 0 && nCells > 0).toDF("stream_cms_ok")
    }),
    // streaming Misra-Gries heavy hitters: per-micro-batch MG partials
    // folded across batches with the mergeable-summaries rule
    // (pointwise sum, subtract the (k+1)-th largest, drop ≤0) — the
    // merged summary must satisfy the SAME coverage + undercount-bound
    // guarantee as the batch sketch over the full stream (k=4; n_heavy
    // re-derived relationally by the oracle, exactly like stats_heavy)
    "stream_heavy" -> ((s, d) => {
      import s.implicits._
      val k = 4 // mirrored in the oracle SQL as the literal 5 = k + 1
      val ev = events(s, d).select(col("event_id"), col("event_type"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-shh").toString
      ev.where(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema("event_id bigint, event_type string").parquet(s"$tmp/in")
      var summary = Seq.empty[(String, Long)]
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val part = TextOps.heavyHitters(df, "event_type", k).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toSeq
          summary = TextOps.mgMergeSummaries(summary, part, k)
          ()
        }.start()
      q.processAllAvailable()
      ev.where(col("event_id") % 2 === 1)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = exact.valuesIterator.sum
      val heavy = exact.filter { case (_, c) => c * (k + 1L) > n }
      val mg = summary.toMap
      val coverOk = heavy.keySet.subsetOf(mg.keySet)
      val boundOk = mg.forall { case (v, est) =>
        exact.get(v).exists(c => est <= c && (c - est) * (k + 1L) <= n)
      }
      Seq((coverOk && boundOk, heavy.size.toLong))
        .toDF("heavy_ok", "n_heavy")
    }),
    // streaming HLL: complete-mode per-bucket max over two
    // micro-batches == the batch registers cell-for-cell (register max
    // is mergeable — the stream_cms hard-equality pattern)
    "stream_hll" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.QuadStream
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-shll").toString
      docs.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream.schema("doc_id bigint, text string")
        .parquet(s"$tmp/in")
      val q = QuadStream.hllStream(stream, "text")
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_hll_sink").start()
      q.processAllAvailable()
      docs.where(col("doc_id") % 2 === 1)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      val streamed = s.sql("SELECT bucket, register FROM stream_hll_sink")
      val batch = TextOps.hllRegisters(docs, "text")
        .where(col("register") > 0).cache()
      val nCells = batch.count()
      val diff = streamed.exceptAll(batch).count() +
        batch.exceptAll(streamed).count()
      batch.unpersist()
      Seq(diff == 0 && nCells > 0).toDF("stream_hll_ok")
    }),
    // streaming quantile sketch: the sampled-value histogram in
    // complete mode over two micro-batches must equal the batch
    // histogram cell-for-cell, and the deciles derived from it must
    // equal the batch TextOps.hashSampleQuantiles rows row-for-row
    "stream_quantiles" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.QuadStream
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-squant").toString
      docs.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream.schema("doc_id bigint, text string")
        .parquet(s"$tmp/in")
      val q = QuadStream.quantileSampleStream(stream, "doc_id", "text")
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_quantiles_sink").start()
      q.processAllAvailable()
      docs.where(col("doc_id") % 2 === 1)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      val streamed = s.sql("SELECT v, cnt FROM stream_quantiles_sink")
        .cache()
      val batchHist = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("v"))
        .where(pmod(graft.analytics.Dedup.tokenHash(
          col("doc_id").cast("string")), lit(16L)) === 0)
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      val diff = streamed.exceptAll(batchHist).count() +
        batchHist.exceptAll(streamed).count()
      val cum = streamed.withColumn("cum",
        sum("cnt").over(Window.orderBy("v")))
      val nDf = streamed.agg(coalesce(sum("cnt"), lit(0L)).as("n"))
      val derived = s.range(1, 10).select(col("id").as("decile"))
        .crossJoin(broadcast(nDf))
        .withColumn("rk", expr("(decile * n + 9) div 10"))
        .join(cum, col("cum") >= col("rk"))
        .groupBy("decile", "n").agg(min("v").as("value"))
        .select(col("decile"), col("n").as("n_sample"), col("value"))
      val batchQ = TextOps.hashSampleQuantiles(docs, "doc_id", "text")
      val qdiff = derived.exceptAll(batchQ).count() +
        batchQ.exceptAll(derived).count()
      val nSample = nDf.head.getLong(0)
      streamed.unpersist()
      Seq(diff == 0 && qdiff == 0 && nSample > 0)
        .toDF("stream_quantiles_ok")
    }),
    "stream_enrich" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{EnrichInput, QuadStream}
      val ev = events(s, d).select("event_id", "user_id", "ts")
      val ords = t(s, d, "orders")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-senrich").toString
      ords.select(col("o_custkey").as("key"),
          col("o_orderdate").cast("timestamp").as("ts"),
          lit(0).as("side"), col("o_orderkey").as("row_id"),
          col("o_totalprice").as("payload"))
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema("key bigint, ts timestamp, side int, row_id bigint, payload double")
        .parquet(s"$tmp/in").as[EnrichInput]
      val q = QuadStream.enrichAsofStream(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_enrich_sink").start()
      q.processAllAvailable()
      ev.select(col("user_id").as("key"),
          col("ts").cast("timestamp").as("ts"), lit(1).as("side"),
          col("event_id").as("row_id"), lit(0.0).as("payload"))
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      val got = s.sql("SELECT event_id, ref_id, payload FROM " +
        "stream_enrich_sink WHERE ref_id >= 0")
      val misses = s.sql(
        "SELECT count(*) FROM stream_enrich_sink WHERE ref_id < 0")
        .head.getLong(0)
      val batch = Events.asofJoin(ev, ords, "user_id", "o_custkey", "ts",
          "o_orderdate", "o_orderkey", Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("o_orderkey").as("ref_id"),
          col("o_totalprice").as("payload")).cache()
      val nBatch = batch.count()
      val diff = got.exceptAll(batch).count() + batch.exceptAll(got).count()
      val nEvents = ev.count()
      batch.unpersist()
      Seq(diff == 0 && misses == nEvents - nBatch).toDF("enrich_ok")
    }),
    // streaming sessionization == batch sessionization, row for row:
    // events arrive in two event-time-ordered micro-batches (splitting
    // at the median keeps nothing behind the watermark), a far-future
    // sentinel advances the watermark past every open session's
    // deadline so event-time timeouts flush ALL real sessions, and the
    // flushed (user, session, n_events, span) rows must exactly equal
    // the batch operator's per-session aggregate. Timestamps are
    // second-truncated first so the stream's millisecond gap test and
    // the batch operator's epoch-seconds gap test coincide exactly.
    "stream_sessionize" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{QuadStream, SessionEvent}
      val ev = events(s, d)
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          date_trunc("second", col("ts").cast("timestamp")).as("ts"))
        .cache()
      val bounds = ev.agg(
        expr("approx_percentile(unix_millis(ts), 0.5)"),
        max(unix_millis(col("ts")))).head
      val (medMs, maxMs) = (bounds.getLong(0), bounds.getLong(1))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ssess").toString
      ev.where(unix_millis(col("ts")) <= medMs)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema("event_id bigint, user_id bigint, ts timestamp")
        .parquet(s"$tmp/in").as[SessionEvent]
      val q = QuadStream.sessionizeStream(stream, gapMinutes = 30)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_sessionize_sink").start()
      q.processAllAvailable()
      ev.where(unix_millis(col("ts")) > medMs)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
      Seq((-1L, -1L, new java.sql.Timestamp(maxMs + 100L * 60000L)))
        .toDF("event_id", "user_id", "ts")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable(); q.stop()
      // sessions are identified by (user, first-event ms): the stream's
      // per-user ordinal restarts after an idle timeout evicts the
      // user's state (see SessionRow), so the ordinal is not the
      // cross-engine join key — the start time is
      val streamed = s.sql("SELECT user_id, first_ms, n_events, " +
        "span_sec FROM stream_sessionize_sink WHERE user_id >= 0").cache()
      val batch = Events.sessionize(ev, "user_id", "ts")
        .groupBy(col("user_id"), col("session_id"))
        .agg(unix_millis(min(col("ts"))).as("first_ms"),
          count(lit(1)).as("n_events"),
          floor((unix_millis(max(col("ts"))) -
            unix_millis(min(col("ts")))) / lit(1000L))
            .cast("long").as("span_sec"))
        .drop("session_id").cache()
      val diff = streamed.exceptAll(batch).count() +
        batch.exceptAll(streamed).count()
      val n = batch.count()
      ev.unpersist(); streamed.unpersist(); batch.unpersist()
      Seq((diff == 0L && n > 0, n)).toDF("stream_sessionize_ok",
        "n_sessions")
    }),
    // multimodal image pipeline: deterministic 24-bit BMPs synthesized
    // per doc_id, resized for real (decode -> nearest-neighbor -> re-encode
    // in mapPartitions), features re-extracted; the contract checks every
    // row came back as a valid BMP at the target dims with the exact
    // constant-color channel means preserved by the resample
    "mm_resize" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val media = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val w = 4 + (id % 5).toInt
          val h = 3 + (id % 4).toInt
          val g = (id % 256).toInt // constant green level per image
          val px = Array.tabulate(w * h * 3)(i =>
            if (i % 3 == 1) g.toByte else 0.toByte)
          (id, "image", Multimodal.encodeBmp(w, h, px), g)
        }.toDF("media_id", "kind", "payload", "green")
        .withColumn("meta", struct(
          (lit(4) + pmod(col("media_id"), lit(5))).cast("int").as("width"),
          (lit(3) + pmod(col("media_id"), lit(4))).cast("int").as("height"),
          lit(0).as("sample_rate"), lit(0L).as("duration_ms")))
      val resized = Multimodal.resizeImages(
        media.select("media_id", "kind", "payload", "meta"), 8, 6)
      val feats = Multimodal.extractFeatures(resized)
        .join(media.select(col("media_id"), col("green")), Seq("media_id"))
      val bad = feats.where(col("codec") =!= "bmp" ||
        abs(col("feature")(0) - lit(8 / 4096.0)) > 1e-6 ||
        abs(col("feature")(1) - lit(6 / 4096.0)) > 1e-6 ||
        abs(col("feature")(3) - col("green") / 255.0) > 1e-5 ||
        col("feature")(2) =!= 0.0 || col("feature")(4) =!= 0.0).count()
      val total = feats.count()
      Seq(total == 200 && bad == 0).toDF("contract_ok")
    }),
    // multimodal audio pipeline: per-doc PCM16 square waves encoded as
    // real RIFF/WAVE containers, decoded back by the WAV parser; the
    // contract checks exact RMS == peak == amplitude/32768 and the rate
    // feature for every row (square waves make the RMS integer-exact)
    "mm_audio" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val feats = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val amp = (1000 + (id % 100) * 300).toShort
          val samples = Array.tabulate(160)(i =>
            if ((i / 4) % 2 == 0) amp else (-amp).toShort)
          (id, "audio", Multimodal.encodeWav(8000, samples),
            amp.toInt)
        }.toDF("media_id", "kind", "payload", "amp")
      val decoded = Multimodal
        .extractFeatures(feats.select("media_id", "kind", "payload"))
        .join(feats.select(col("media_id"), col("amp")), Seq("media_id"))
      val bad = decoded.where(col("codec") =!= "wav" ||
        abs(col("feature")(0) - lit(8000f / 48000f)) > 1e-9 ||
        abs(col("feature")(2) - col("amp") / 32768.0) > 1e-6 ||
        col("feature")(2) =!= col("feature")(4)).count()
      val total = decoded.count()
      Seq(total == 200 && bad == 0).toDF("contract_ok")
    }),
    // G.711/AIFF audio decode via javax.sound.sampled: per-doc square
    // waves at amplitudes that ARE exact codec reconstruction levels
    // (amp = alawDecode(alawEncode(raw)) — idempotent by G.711
    // construction), containerized as a-law WAV / µ-law WAV / AIFF by
    // id%3, decoded by the JDK; contract = exact RMS == peak ==
    // level/32768 and the right codec tag on every row
    "mm_alaw" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val feats = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val raw = (1000 + (id % 100) * 300).toShort
          val fam = (id % 3).toInt
          val amp: Short = fam match {
            case 0 => Multimodal.alawDecode(Multimodal.alawEncode(raw))
            case 1 => Multimodal.mulawDecode(Multimodal.mulawEncode(raw))
            case _ => raw
          }
          val samples = Array.tabulate(160)(i =>
            if ((i / 4) % 2 == 0) amp else (-amp).toShort)
          val payload = fam match {
            case 0 => Multimodal.encodeG711Wav(8000, samples, alaw = true)
            case 1 => Multimodal.encodeG711Wav(8000, samples, alaw = false)
            case _ => Multimodal.encodeAiff(8000, samples)
          }
          val tag = fam match {
            case 0 => "alaw"; case 1 => "ulaw"; case _ => "aiff"
          }
          (id, "audio", payload, amp.toInt, tag)
        }.toDF("media_id", "kind", "payload", "amp", "want_codec")
      val decoded = Multimodal
        .extractFeatures(feats.select("media_id", "kind", "payload"))
        .join(feats.select(col("media_id"), col("amp"),
          col("want_codec")), Seq("media_id"))
      val bad = decoded.where(col("codec") =!= col("want_codec") ||
        abs(col("feature")(0) - lit(8000f / 48000f)) > 1e-9 ||
        col("feature")(2) =!= (col("amp") / lit(32768.0))
          .cast("float") ||
        col("feature")(2) =!= col("feature")(4)).count()
      val total = decoded.count()
      Seq(total == 200 && bad == 0).toDF("contract_ok")
    }),
    // image near-dup via 64-bit pHash + banded Hamming join: 200 BMPs in
    // 25 gradient families (8 near-identical variants each, one pixel
    // nudged per variant), exactness contract = the banded pipeline's
    // pair set EQUALS brute force over the same hashes (pigeonhole
    // recall 1, exact verify precision 1), with pairs actually present
    "mm_phash" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val media = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val group = (id % 25).toInt
          val variant = ((id / 25) % 8).toInt
          val w = 32; val h = 32
          val px = Array.tabulate(w * h * 3) { i =>
            val p = i / 3
            val x = p % w; val y = p / w
            val base = (x * (3 + group) + y * (5 + 2 * group)) % 251
            (if (x == variant && y == variant) (base + 40) % 251
             else base).toByte
          }
          (id, "image", Multimodal.encodeBmp(w, h, px))
        }.toDF("media_id", "kind", "payload")
      val hashed = Multimodal.imagePhashes(media).cache()
      val banded = Multimodal.phashPairs(media, maxHamming = 6)
        .select("id_a", "id_b")
      val brute = hashed.select(col("media_id").as("id_a"),
          col("phash").as("ha"))
        .join(hashed.select(col("media_id").as("id_b"),
          col("phash").as("hb")), col("id_a") < col("id_b"))
        .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 6)
        .select("id_a", "id_b")
      val nBrute = brute.count()
      val diff = banded.exceptAll(brute).count() +
        brute.exceptAll(banded).count()
      Seq(hashed.count() == 200 && nBrute > 0 && diff == 0)
        .toDF("contract_ok")
    }),
    // REAL compressed-image decode (JDK javax.imageio — no external
    // codec): 200 deterministic gradient images from doc_ids, encoded
    // as PNG and JPEG by the JDK writers, decoded back by the engine's
    // ImageIO path. Exactness: PNG round-trips pixels BIT-EQUAL to the
    // BMP encoding of the same buffer (→ identical pHash, and the
    // format-preserving resize produces pixel-identical output to the
    // pure-JVM BMP resize); JPEG (q=0.92) decodes with exact dims,
    // mean-abs pixel error ≤ 4/255 and per-channel means within 3/255
    "mm_jpeg" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val checks = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val w = 32; val h = 32
          val g = (id % 23).toInt
          // smooth per-image plane, no mod wrap: JPEG-friendly content
          val px = Array.tabulate(w * h * 3) { i =>
            val p = i / 3; val x = p % w; val y = p / w
            math.min(250, x * 4 + y * 3 + (i % 3) * 9 + g).toByte
          }
          val bmp = Multimodal.encodeBmp(w, h, px)
          val png = Multimodal.encodeImageIo("png", w, h, px)
          val jpg = Multimodal.encodeJpeg(w, h, px)
          val pngLossless = Multimodal.decodeImagePixels(png).exists {
            case (ww, hh, q) =>
              ww == w && hh == h && java.util.Arrays.equals(q, px)
          }
          val hBmp = Multimodal.phashImage(bmp)
          val phashEq = hBmp.isDefined &&
            Multimodal.phashImage(png) == hBmp
          val resizeEq = (for {
            a <- Multimodal.resizeImage(png, 8, 6)
            b <- Multimodal.resizeImage(bmp, 8, 6)
            pa <- Multimodal.decodeImagePixels(a)
            pb <- Multimodal.decodeImagePixels(b)
          } yield pa._1 == pb._1 && pa._2 == pb._2 &&
            java.util.Arrays.equals(pa._3, pb._3)).getOrElse(false)
          val jpgOk = Multimodal.decodeImagePixels(jpg).exists {
            case (ww, hh, q) =>
              ww == w && hh == h && {
                var err = 0L; val cd = Array(0L, 0L, 0L); var i = 0
                while (i < q.length) {
                  val dlt = (q(i) & 0xFF) - (px(i) & 0xFF)
                  err += math.abs(dlt); cd(i % 3) += dlt; i += 1
                }
                err.toDouble / q.length <= 4.0 &&
                  cd.forall(c => math.abs(c.toDouble / (w * h)) <= 3.0)
              }
          }
          (id, pngLossless, phashEq, resizeEq, jpgOk)
        }.toDF("media_id", "png_lossless", "phash_eq", "resize_eq",
          "jpg_ok")
      val n = checks.count()
      val bad = checks.where(!col("png_lossless") || !col("phash_eq") ||
        !col("resize_eq") || !col("jpg_ok")).count()
      Seq(n == 200 && bad == 0).toDF("contract_ok")
    }),
    // video plumbing end-to-end: 100 synthesized GVID containers (12
    // constant-color 8x6 BMP frames each, color a function of
    // (video, frame)), sample every 3rd frame distributed, decode each
    // sampled frame for real — exact frame counts, indexes, and
    // constant-color channel means
    "mm_video" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      def chan(id: Long, f: Int, c: Int): Int =
        ((id * 31 + f * 7 + c * 13) % 251).toInt
      val media = t(s, d, "documents").select(col("doc_id"))
        .limit(100).as[Long].map { id =>
          val frames = (0 until 12).map { f =>
            val px = Array.tabulate(8 * 6 * 3)(i =>
              chan(id, f, i % 3).toByte)
            Multimodal.encodeBmp(8, 6, px)
          }
          (id, "video", Multimodal.encodeGvid(4, frames))
        }.toDF("media_id", "kind", "payload")
      val feats = Multimodal.videoFrameFeatures(media, everyK = 3)
        .as[(Long, Long, Array[Float])].collect()
      val perVideo = feats.groupBy(_._1)
      val countsOk = perVideo.size == 100 &&
        perVideo.values.forall(_.map(_._2).sorted.toSeq == Seq(0L, 3L, 6L, 9L))
      // decodeBmp feature = [w/4096, h/4096, meanR, meanG, meanB, ...];
      // constant-color frames must preserve the exact channel value
      val meansOk = feats.forall { case (id, f, feat) =>
        math.abs(feat(2) - chan(id, f.toInt, 2) / 255.0f) < 1e-6 &&
          math.abs(feat(3) - chan(id, f.toInt, 1) / 255.0f) < 1e-6 &&
          math.abs(feat(4) - chan(id, f.toInt, 0) / 255.0f) < 1e-6 &&
          feat(0) == 8.0f / 4096 && feat(1) == 6.0f / 4096
      }
      Seq(countsOk && meansOk).toDF("video_ok")
    }),
    // audio near-dup end-to-end: 100 synthesized two-tone melodies (25
    // families × 4 renditions: original, gain-scaled, small-noise,
    // both) — the banded-Hamming join over spectral-signature
    // fingerprints must recover every within-family (original,
    // variant) pair and NO cross-family pair. Tones sit at band
    // centers; family f owns the disjoint band pair {3+2f, 56-2f}, so
    // cross-family distance is ≥4 bits while gain changes are EXACT
    // fingerprint matches (both sides of the 20 dB-of-peak comparison
    // scale together) and sub-threshold noise flips ≤1 bit
    "mm_audiodup" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val rate = 8000; val n = 8000
      // contiguous 0..99 index regardless of doc_id values: every
      // (family, rendition) cell is filled exactly once
      val media = t(s, d, "documents").select(col("doc_id")).limit(100)
        .select((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("doc_id")) - 1)
          .cast("long").as("idx"))
        .as[Long].map { id =>
          val fam = (id % 25).toInt; val rend = (id / 25 % 4).toInt
          def bandFreq(b: Int): Double =
            300.0 * math.pow(0.45 * rate / 300.0, b / 63.0)
          val f1 = bandFreq(3 + 2 * fam); val f2 = bandFreq(56 - 2 * fam)
          val gain = if (rend % 2 == 1) 0.6 else 1.0
          val noise = if (rend >= 2) fam + 1 else 0
          val pcm = Array.tabulate(n) { i =>
            val tm = i.toDouble / rate
            val base = 6000 * math.sin(2 * math.Pi * f1 * tm) +
              4000 * math.sin(2 * math.Pi * f2 * tm + fam)
            val nz = if (noise == 0) 0.0
              else 300 * math.sin(2 * math.Pi * (1234.5 + 77 * noise) * tm)
            (gain * (base + nz)).toShort
          }
          (id, fam.toLong, "audio", Multimodal.encodeWav(rate, pcm))
        }.toDF("media_id", "fam", "kind", "payload")
      val nRows = media.count()
      val pairs = Multimodal.audioDupPairs(
        media.select("media_id", "kind", "payload"), maxHamming = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      val famOf = media.select("media_id", "fam").as[(Long, Long)]
        .collect().toMap
      // every pair the join returns is within-family, and every family's
      // original..variant pairs are all found (4 renditions → 6 pairs)
      val allWithin = pairs.forall { case (a, b) => famOf(a) == famOf(b) }
      val found = pairs.map { case (a, b) =>
        (famOf(a), Set(a, b))
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet.size).toMap
      val complete = (0L until 25L).forall(f => found.getOrElse(f, 0) == 6)
      Seq(nRows == 100 && allWithin && complete).toDF("contract_ok")
    }),
    // image augmentation: 200 asymmetric images — flip/rot identities
    // hold BIT-EXACTLY (hflip∘hflip = id, rot90⁴ = id, rot180 =
    // hflip∘vflip), crops return the exact display region, and the
    // distributed explode yields one row per (image, variant)
    "mm_augment" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      def pxOf(b: Array[Byte]) = Multimodal.decodeBmpPixels(b).get._3
      val checks = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val w = 24; val h = 16
          val g = (id % 89).toInt
          val px = Array.tabulate(w * h * 3) { i =>
            val p = i / 3; val x = p % w; val y = p / w
            ((x * (3 + g) + y * (7 + g) + (i % 3) * 11) % 251).toByte
          }
          val img = Multimodal.encodeBmp(w, h, px)
          val hflip2 = Multimodal.flipImage(
            Multimodal.flipImage(img, horizontal = true).get,
            horizontal = true).get
          val rot4 = Iterator.iterate(img)(b =>
            Multimodal.rotate90Image(b).get).drop(4).next()
          val viaFlips = Multimodal.flipImage(
            Multimodal.flipImage(img, horizontal = true).get,
            horizontal = false).get
          val rot2 = Multimodal.rotate90Image(
            Multimodal.rotate90Image(img).get).get
          val cropOk = Multimodal.cropImage(img, 3, 2, 8, 6).exists { c =>
            Multimodal.decodeBmpPixels(c).exists { case (cw, ch, cp) =>
              cw == 8 && ch == 6 && (0 until 6).forall { y =>
                (0 until 8).forall { x =>
                  val sD = ((h - 1 - (2 + y)) * w + (3 + x)) * 3
                  val dD = ((ch - 1 - y) * cw + x) * 3
                  cp(dD) == px(sD) && cp(dD + 1) == px(sD + 1) &&
                    cp(dD + 2) == px(sD + 2)
                }
              }
            }
          }
          val ok = java.util.Arrays.equals(pxOf(hflip2), px) &&
            java.util.Arrays.equals(pxOf(rot4), px) &&
            java.util.Arrays.equals(pxOf(rot2), pxOf(viaFlips)) && cropOk
          (id, "image", img, ok)
        }.toDF("media_id", "kind", "payload", "ok")
      val bad = checks.where(!col("ok")).count()
      val nRows = checks.count()
      // distributed explode: 200 × 3 variants, every payload decodable
      val aug = Multimodal.augmentImages(
        checks.select("media_id", "payload"),
        Seq("hflip", "rot90", "rot270"))
      val augN = aug.count()
      val augDecodable = aug.select("payload").as[Array[Byte]]
        .map(b => Multimodal.decodeBmpPixels(b).isDefined)
        .where(!col("value")).count()
      Seq(nRows == 200 && bad == 0 && augN == 600 && augDecodable == 0)
        .toDF("contract_ok")
    }),
    // audio conditioning: 200 clips across three REAL containers (WAV /
    // IMA ADPCM / FLAC) resample to one rate and normalize to one peak
    // — every output is 16 kHz PCM16 WAV with peak exactly 0.9 FS (±1
    // LSB), and a non-audio row passes through byte-identical
    "mm_condition" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val media = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val rate = 8000
          val f = 300.0 + (id % 40) * 37.0
          val amp = 4000 + (id % 17).toInt * 400
          val pcm = Array.tabulate(rate)(i =>
            (amp * math.sin(2 * math.Pi * f * i / rate)).toShort)
          val payload = (id % 3) match {
            case 0 => Multimodal.encodeWav(rate, pcm)
            case 1 => Multimodal.encodeAdpcmWav(rate, pcm)
            case _ => Multimodal.encodeFlac(rate, pcm)
          }
          (id, "audio", payload)
        }.toDF("media_id", "kind", "payload")
      val cond = Multimodal.conditionAudio(media, 16000, 0.9)
      val okCol = cond.as[(Long, String, Array[Byte])].map { case (_, _, p) =>
        Multimodal.decodeAudioPcm(p).exists { case (r, pcm) =>
          val peak = if (pcm.isEmpty) 0 else pcm.map(s => math.abs(s.toInt)).max
          r == 16000 && pcm.length == 16000 &&
            math.abs(peak - math.rint(0.9 * 32767)) <= 1
        }
      }
      val bad = okCol.where(!col("value")).count()
      val nRows = media.count()
      Seq(nRows == 200 && bad == 0).toDF("contract_ok")
    }),
    // real FLAC (lossless, from the public spec — frames, CRC-8/16,
    // FIXED predictors, Rice residuals): 200 synthesized signals of
    // mixed character encode to FLAC and decode back BIT-EXACTLY
    // (lossless is an equality contract, not an error bound); smooth
    // signals compress below 1 byte/sample; the spectral fingerprint
    // of the FLAC equals the WAV's exactly; the dispatcher tags it
    "mm_flac" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val checks = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val rate = 16000; val n = 6000 + (id % 5).toInt * 997
          val period = 80 + (id % 9).toInt * 24
          val amp = 50 + (id % 13).toInt * 11
          val pcm = Array.tabulate(n) { i =>
            val ph = i % period
            val tri = if (ph < period / 2) ph * 4 - period
                      else 3 * period - ph * 4
            // deterministic per-doc "texture" rides on the triangle so
            // every doc exercises different residual statistics
            val jitter = ((i * 2654435761L + id * 40503L) >>> 49).toInt - 16384
            (tri * amp + jitter / 64).toShort
          }
          val enc = Multimodal.encodeFlac(rate, pcm)
          val lossless = Multimodal.decodeFlac(enc).exists {
            case (r, dec) => r == rate && java.util.Arrays.equals(
              dec.map(_.toInt), pcm.map(_.toInt))
          }
          val fpEq = Multimodal.audioFingerprint(enc) ==
            Multimodal.audioFingerprint(Multimodal.encodeWav(rate, pcm))
          (id, lossless && fpEq && enc.length < n * 2)
        }.toDF("media_id", "ok")
      val nRows = checks.count()
      val bad = checks.where(!col("ok")).count()
      Seq(nRows == 200 && bad == 0).toDF("contract_ok")
    }),
    // video near-dup end-to-end: 20 clip families × 3 renditions (GVID,
    // AVI-DIB with identical frames, AVI-MJPEG lossy re-encode) — the
    // banded-Hamming join over majority-vote frame-pHash fingerprints
    // must recover all 3 within-family pairs per clip and no cross pair
    "mm_videodup" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val media = t(s, d, "documents").select(col("doc_id")).limit(60)
        .select((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("doc_id")) - 1)
          .cast("long").as("idx"))
        .as[Long].map { id =>
          val fam = (id % 20).toInt; val rend = (id / 20 % 3).toInt
          val w = 32; val h = 32
          val frames = (0 until 6).map { f =>
            val seed = fam * 7 + f
            val px = Array.tabulate(w * h * 3) { i =>
              val p = i / 3; val x = p % w; val y = p / w
              ((x * (3 + seed) + y * (5 + 2 * seed)) % 251).toByte
            }
            Multimodal.encodeBmp(w, h, px)
          }
          val payload = rend match {
            case 0 => Multimodal.encodeGvid(12, frames)
            case 1 => Multimodal.encodeAvi(12, frames, mjpeg = false)
            case _ => Multimodal.encodeAvi(12, frames, mjpeg = true)
          }
          (id, fam.toLong, "video", payload)
        }.toDF("media_id", "fam", "kind", "payload")
      val nRows = media.count()
      val pairs = Multimodal.videoDupPairs(
        media.select("media_id", "kind", "payload"), maxHamming = 6)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      val famOf = media.select("media_id", "fam").as[(Long, Long)]
        .collect().toMap
      val allWithin = pairs.forall { case (a, b) => famOf(a) == famOf(b) }
      val found = pairs.map { case (a, b) => (famOf(a), Set(a, b)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet.size).toMap
      val complete = (0L until 20L).forall(f => found.getOrElse(f, 0) == 3)
      Seq(nRows == 60 && allWithin && complete).toDF("contract_ok")
    }),
    // real IMA ADPCM (WAVE format 0x11) round-trip: 200 synthesized
    // triangle-wave signals, encode 4-bit ADPCM, decode — exact sample
    // count (fact chunk), exact per-block header samples, reconstruction
    // RMS error < 5% of signal RMS, and the dispatcher tags the codec
    "mm_adpcm" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val checks = t(s, d, "documents").select(col("doc_id"))
        .limit(200).as[Long].map { id =>
          val n = 1200
          val period = 40 + (id % 7).toInt * 16
          val amp = 60 + (id % 11).toInt * 9
          val pcm = Array.tabulate(n) { i =>
            val ph = i % period
            val tri = if (ph < period / 2) ph * 4 - period
                      else 3 * period - ph * 4
            (tri * amp).toShort
          }
          val enc = Multimodal.encodeAdpcmWav(16000, pcm)
          val ok = Multimodal.decodeAdpcmWav(enc).exists {
            case (rate, dec) =>
              rate == 16000 && dec.length == n && dec(0) == pcm(0) &&
                dec(505) == pcm(505) && {
                  var errSq = 0.0; var sigSq = 0.0; var i = 0
                  while (i < n) {
                    val e = (dec(i) - pcm(i)).toDouble
                    errSq += e * e
                    sigSq += pcm(i).toDouble * pcm(i); i += 1
                  }
                  errSq < sigSq / 400.0 // rmsErr < rmsSig / 20
                }
          }
          val compressed = enc.length < pcm.length // <½ the PCM16 bytes
          (id, ok && compressed)
        }.toDF("media_id", "ok")
      val nRows = checks.count()
      val bad = checks.where(!col("ok")).count()
      Seq(nRows == 200 && bad == 0).toDF("contract_ok")
    }),
    // real RIFF/AVI video: 100 synthesized 6-frame AVIs per coding —
    // uncompressed-DIB frames must round-trip BIT-EXACTLY through the
    // container, MJPEG frames (real per-frame JPEG via ImageIO) within
    // JPEG error; the distributed sampleFrames demux sees exact frame
    // counts on both codings
    "mm_avi" -> ((s, d) => {
      import s.implicits._
      import graft.analytics.Multimodal
      val perDoc = t(s, d, "documents").select(col("doc_id"))
        .limit(100).as[Long].map { id =>
          val w = 16; val h = 12
          val frames = (0 until 6).map { f =>
            val g = ((id * 13 + f * 29) % 97).toInt
            val px = Array.tabulate(w * h * 3) { i =>
              val p = i / 3; val x = p % w; val y = p / w
              math.min(250, x * 5 + y * 4 + (i % 3) * 7 + g).toByte
            }
            Multimodal.encodeBmp(w, h, px)
          }
          val dib = Multimodal.encodeAvi(12, frames, mjpeg = false)
          val mjpg = Multimodal.encodeAvi(12, frames, mjpeg = true)
          val dibOk = Multimodal.decodeAviFrames(dib).exists {
            case (fps, dec) => fps == 12 && dec.length == 6 &&
              dec.zip(frames).forall { case (a, b) =>
                java.util.Arrays.equals(a, b)
              }
          }
          val mjpgOk = Multimodal.decodeAviFrames(mjpg).exists {
            case (fps, dec) => fps == 12 && dec.length == 6 &&
              dec.zip(frames).forall { case (a, b) =>
                (for {
                  pa <- Multimodal.decodeBmpPixels(a)
                  pb <- Multimodal.decodeBmpPixels(b)
                } yield pa._1 == pb._1 && pa._2 == pb._2 && {
                  var err = 0L; var i = 0
                  while (i < pa._3.length) {
                    err += math.abs((pa._3(i) & 0xFF) - (pb._3(i) & 0xFF))
                    i += 1
                  }
                  err.toDouble / pa._3.length <= 4.0
                }).getOrElse(false)
              }
          }
          (id, "video", dib, dibOk && mjpgOk)
        }.toDF("media_id", "kind", "payload", "ok")
      val bad = perDoc.where(!col("ok")).count()
      val nRows = perDoc.count()
      // distributed demux path over the DIB AVIs: every 2nd frame
      val sampled = Multimodal.sampleFrames(
        perDoc.select("media_id", "kind", "payload"), everyK = 2)
      val sampleOk = sampled.groupBy("media_id").count()
        .where(col("count") =!= 3).count() == 0 &&
        sampled.select(countDistinct(col("media_id"))).as[Long].head() == 100
      Seq(nRows == 100 && bad == 0 && sampleOk).toDF("contract_ok")
    }),
    // within-doc repetition ratio (1 - distinct/total word 3-grams)
    "text_repetition" -> ((s, d) =>
      TextOps.repetitionRatios(t(s, d, "documents"), "doc_id", "text", n = 3)),
    // HTML boilerplate stripping over synthetic markup wrapped around
    // the corpus text (the raw corpus has no HTML — wrapping exercises
    // script/style/comment/tag removal and entity decode; both engines
    // build the SAME html string, so parity holds whatever the text is)
    "text_htmlstrip" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextOps.stripHtml(concat(
        lit("<html><head><style>p { color: red; }</style>" +
          "<script type=\"text/js\">var x = 1 < 2;</script></head>" +
          "<body><h1 class=\"t\">"),
        substring(col("text"), 1, 20),
        lit("</h1>\n<p>"), col("text"),
        lit(" &amp;amp; fish &lt;><!-- hidden --></p>" +
          "<br/>&quot;&#39;&nbsp;tail</body></html>")))
        .as("clean"))),
    // PII redaction over text augmented with synthetic email/IP/phone
    // (the corpus itself is clean — augmenting exercises all 3 patterns)
    "text_redact" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextOps.redact(concat(col("text"),
        lit(" contact: user"), col("doc_id"), lit("@example.com or "),
        lit("555-123-4567 at 10.0.0."), pmod(col("doc_id"), lit(256))))
        .as("red"))),
    // concat-and-split sequence packing: md5-ordered sharded token stream,
    // (shard, seq, offset) per doc — all-integer contract
    "text_pack" -> ((s, d) =>
      TextOps.packSequences(t(s, d, "documents"), "doc_id", "text",
        seqLen = 128, nShards = 8)),
    // RAG chunking: 200-char chunks, 40-char overlap
    "text_chunks" -> ((s, d) =>
      TextOps.chunkRows(t(s, d, "documents"), "doc_id", "text",
        size = 200, overlap = 40)),
    // per-doc top-5 tf-idf terms (rational idf: ln is not cross-engine)
    "text_tfidf" -> ((s, d) =>
      TextOps.topTfidfTerms(t(s, d, "documents"), "doc_id", "text", k = 5)),
    // data-card stats per language (exact interpolated percentiles)
    "corpus_stats" -> ((s, d) =>
      TextOps.corpusStats(t(s, d, "documents"), "text", "lang")),
    // deterministic stratified sample: md5-keyed, per-language rates —
    // the same rows keep/drop on any engine (the oracle re-derives them)
    "doc_sample" -> ((s, d) =>
      TextOps.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.2), defaultRate = 0.8).select("doc_id", "lang")),
    // sessionization: split user event streams at >30 min inactivity gaps
    // (lag + running sum over one (user, ts) exchange)
    "q_sessionize" -> ((s, d) =>
      Events.sessionize(events(s, d), "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("session_id"))),
    // per-session features: count, span, exact integer-cents value total
    // (floor(v*100 + 0.5) is engine-independent; double sums are not)
    "q_session_stats" -> ((s, d) =>
      Events.sessionFeatures(
        events(s, d).withColumn("cents",
          floor(col("value") * 100 + 0.5).cast("long")),
        "user_id", "ts", "cents")
        .withColumnRenamed("total_value", "value_cents")),
    // as-of join: newest order at-or-before each event's timestamp per
    // user. Union-and-window plan — ONE key shuffle over |L|+|R| rows,
    // never the (event, earlier-order) candidate-pair blow-up; ties at
    // equal order dates resolved deterministically to the max orderkey
    "q_asof" -> ((s, d) =>
      Events.asofJoin(
        events(s, d).select("event_id", "user_id", "ts"),
        t(s, d, "orders"),
        "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey",
        Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")),
    // degree histogram over the c_nation edge (in-degree of nation nodes
    // = customers per nation, then nodes-per-degree): the graph's
    // degree-structure pass as two map-side-combined hash aggregates
    "graph_degree" -> ((s, d) => {
      val g = graph(s, d)
      GraphAlgos.degreeHistogram(
        g.quads.where(col("p") === QValue.id(iri("c_nation"))), "o")
    }),
    // PageRank (10 iterations, d=0.85) over all five edge predicates of
    // the quadified star graph, verified as a differential contract vs a
    // sequential evaluation of the same recurrence, once per tier: the
    // driver tier (one collect, array passes) and the distributed tier
    // (join+agg rounds, forced past the gate)
    "graph_pagerank" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.pageRankContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // corpus-familiarity LM score: one-pass bigram counts scoring every
    // doc by mean bigram corpus frequency (ONE division of exact BIGINTs)
    "text_lm" -> ((s, d) =>
      TextOps.bigramFamiliarity(t(s, d, "documents"), "doc_id", "text")),
    // DSIR-style importance weights (hashed-unigram target-vs-raw
    // log-likelihood ratio; docs with doc_id%7==0 stand in as the target
    // domain). Differential contract: the distributed weights must be
    // BITWISE equal to a sequential same-order recomputation (position-
    // ordered fold makes the double sum deterministic), n_scored = raw
    // docs with at least one token
    "text_dsir" -> ((s, d) =>
      TextOps.importanceWeightsContract(t(s, d, "documents"), "doc_id",
        "text", pmod(col("doc_id"), lit(7)) === 0)),
    // exact triangle count (degree-ordered orientation, one pivot per
    // triangle) over the star graph enriched with composed c->region /
    // s->region shortcut edges — the raw star is triangle-free by
    // construction, the shortcuts close one triangle per customer and
    // supplier. Counts are node-relabeling-invariant, so the hashed-id
    // engine and the string-keyed oracle must agree exactly
    // weakly connected components over the customer/order edge subset
    // (dropping n_region/n_prev splits the graph into one component per
    // nation: the nation node, its customers, and their orders) —
    // reported as the component-size histogram, which the oracle
    // re-derives relationally
    "graph_wcc" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.componentSizeHistogram(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // incremental WCC: label the customer→nation star first, then fold
    // ALL order→customer edges in through connectedComponentsAppend —
    // the histogram of the incrementally-maintained labels must equal
    // graph_wcc's full-recompute oracle, verbatim (the fold is exact by
    // the min-member-id quotient argument)
    "graph_wcc_incr" -> ((s, d) => {
      val g = graph(s, d)
      def edges(p: String) =
        g.quads.where(col("p") === QValue.id(iri(p)))
          .select(col("s").as("src"), col("o").as("dst"))
      val base = GraphAlgos.connectedComponents(edges("c_nation"),
        "src", "dst")
      GraphAlgos.connectedComponentsAppend(base, edges("o_cust"),
          "src", "dst")
        .groupBy("component").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_components"))
    }),
    // STREAMED incremental WCC: the edge stream arrives as micro-batches
    // (file source; c_nation edges first, o_cust edges appended) and a
    // foreachBatch sink folds each batch into the running labels —
    // batch 1 seeds via connectedComponents, later batches fold via
    // connectedComponentsAppend (exact min-id quotient, so the stream's
    // final labels are VALUE-IDENTICAL to a batch recompute over the
    // whole edge set). Both label frames are self-contained eager
    // checkpoints/local relations, so holding them across micro-batch
    // boundaries is safe. The histogram shares graph_wcc's oracle SQL
    // VERBATIM — the claim IS full-recompute equality, the
    // dedup_clusters_incr pattern applied to streaming graph
    // maintenance.
    "stream_wcc" -> ((s, d) => {
      val g = graph(s, d)
      def edges(p: String) =
        g.quads.where(col("p") === QValue.id(iri(p)))
          .select(col("s").as("src"), col("o").as("dst"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-swcc").toString
      try {
        edges("c_nation").write.mode("overwrite").parquet(s"$tmp/in")
        val stream = s.readStream.schema("src bigint, dst bigint")
          .parquet(s"$tmp/in")
        var labels: DataFrame = null
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            labels =
              if (labels == null)
                GraphAlgos.connectedComponents(batch, "src", "dst")
              else GraphAlgos.connectedComponentsAppend(labels, batch,
                "src", "dst")
            ()
          }.start()
        q.processAllAvailable()
        edges("o_cust").write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable(); q.stop()
        labels.groupBy("component").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1)).as("n_components"))
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tmp))
    }),
    "graph_triangles" -> ((s, d) => {
      val g = graph(s, d)
      def ep(name: String) =
        g.quads.where(col("p") === QValue.id(iri(name)))
          .select(col("s").as("x"), col("o").as("y"))
      def comp(lhs: DataFrame, rhs: DataFrame) =
        lhs.join(rhs.select(col("x").as("m"), col("y").as("z")),
          col("y") === col("m"))
          .select(col("x"), col("z").as("y"))
      val cn = ep("c_nation"); val nr = ep("n_region"); val sn = ep("s_nation")
      val edges = Seq(cn, nr, sn, comp(cn, nr), comp(sn, nr),
        ep("o_cust"), ep("n_prev")).reduce(_ unionByName _)
      // both tiers: the edges sit under the driver gate, so the
      // distributed tier is forced once
      bothTiers("graph_triangles", Dedup.driverCcMaxEdges(s))(gate =>
        GraphAlgos.triangleCount(edges, "x", "y", gate))
    }),
    // BFS shortest-path distances from the max-key nation, walking the
    // n_prev chain (24→23→…→0) plus reversed c_nation (nation→customer)
    // and reversed o_cust (customer→order) edges: distances spread over
    // ~27 levels. Reported as the relabeling-invariant (dist, n_nodes)
    // histogram; the oracle re-derives it with a recursive CTE over the
    // same string-keyed edges
    "graph_bfs" -> ((s, d) => {
      val g = graph(s, d)
      def ep(name: String) = g.quads.where(col("p") === QValue.id(iri(name)))
      val edges = ep("n_prev").select(col("s").as("u"), col("o").as("v"))
        .unionByName(ep("c_nation").select(col("o").as("u"), col("s").as("v")))
        .unionByName(ep("o_cust").select(col("o").as("u"), col("s").as("v")))
      val maxN = t(s, d, "nation").agg(max(col("n_nationkey"))).head.get(0)
      val src = s.range(1)
        .select(lit(QValue.id(iri(s"nation:$maxN"))).as("node"))
      GraphAlgos.bfsDistanceHistogram(edges, "u", "v", src)
    }),
    // harmonic centrality from nations 0..3 over the BFS edge set:
    // EXACT-RATIONAL value-level oracle — every 1/d term enters as the
    // BIGINT lcm(1..40)/d, one final IEEE division; reported as the
    // relabeling-invariant (num, n_nodes, score) histogram
    "graph_harmonic" -> ((s, d) => {
      val g = graph(s, d)
      def ep(name: String) = g.quads.where(col("p") === QValue.id(iri(name)))
      val edges = ep("n_prev").select(col("s").as("u"), col("o").as("v"))
        .unionByName(ep("c_nation").select(col("o").as("u"), col("s").as("v")))
        .unionByName(ep("o_cust").select(col("o").as("u"), col("s").as("v")))
      val src = {
        import s.implicits._
        (0 to 3).map(i => QValue.id(iri(s"nation:$i"))).toDF("node")
      }
      GraphAlgos.harmonicCentrality(edges, "u", "v", src, maxDepth = 40)
        .groupBy("num", "score").agg(count(lit(1)).as("n_nodes"))
        .select(col("num"), col("n_nodes"), col("score"))
    }),
    // HITS hubs/authorities over the full directed star graph, verified
    // as a differential contract vs a sequential evaluation of the same
    // normalized recurrence (same harness pattern as graph_pagerank)
    "graph_hits" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.hitsContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // funnel view→click→purchase: earliest per-user completion of the
    // ordered sequence — ONE (user, ts) exchange + chained windows; the
    // oracle is the naive cubic self-join over the same events
    "q_funnel" -> ((s, d) =>
      Events.funnel(events(s, d), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))),
    // local clustering profile: (degree, triangle-count) → node-count
    // histogram over the triangle-bearing star+shortcut edge set, exact
    // integers (coefficient = 2·tri/(dg·(dg−1)) derivable row-wise)
    "graph_clustering" -> ((s, d) => {
      val g = graph(s, d)
      def ep(name: String) =
        g.quads.where(col("p") === QValue.id(iri(name)))
          .select(col("s").as("x"), col("o").as("y"))
      def comp(lhs: DataFrame, rhs: DataFrame) =
        lhs.join(rhs.select(col("x").as("m"), col("y").as("z")),
          col("y") === col("m"))
          .select(col("x"), col("z").as("y"))
      val cn = ep("c_nation"); val nr = ep("n_region"); val sn = ep("s_nation")
      val edges = Seq(cn, nr, sn, comp(cn, nr), comp(sn, nr),
        ep("o_cust"), ep("n_prev")).reduce(_ unionByName _)
      GraphAlgos.clusteringHistogram(edges, "x", "y")
    }),
    // seeded random-walk corpus (DeepWalk/node2vec input): 3 walks of
    // length 6 from every node, deterministic (hash-ranked neighbor
    // choice). Contract asserts edge-validity of every step, gap-free
    // full-length-or-sink walks, bit-identical regeneration, and
    // actual per-start divergence somewhere in the branching graph
    "graph_walks" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.randomWalksContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst", walksPerNode = 3, walkLen = 6)
    }),
    // synchronous label-propagation communities (min-label tie-break =
    // fully deterministic) over the five-predicate star graph —
    // differential contract vs a sequential evaluation of the same
    // synchronous update; node universe identical to graph_pagerank's
    "graph_lpa" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.lpaContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // minimum spanning forest (distributed Borůvka, (w,a,b)-perturbed
    // order so the forest is unique) over the five-predicate star graph
    // with xxhash-derived weights — differential contract vs sequential
    // Kruskal under the same order; the graph is connected, so the
    // forest has exactly (node count - 1) edges, which the oracle
    // re-derives relationally
    "graph_mst" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.msfContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst"),
            (pmod(xxhash64(col("s"), col("o")), lit(1000003L)) + 1L)
              .as("w")),
        "src", "dst", "w")
    }),
    // weighted shortest paths (distributed Bellman-Ford, early exit) over
    // deterministically weighted star-graph edges: nation chain w=1+(k%3),
    // nation skip-2 w=3 (creates genuinely competing paths), nation→cust
    // w=1+(ck%7), cust→order w=1+(ok%4). String node keys on BOTH engines
    // so (node, dist) compares exactly; the oracle enumerates paths with a
    // recursive CTE (optimal-path prefixes stay < the 100 cap)
    "graph_sssp" -> ((s, d) => {
      val nation = t(s, d, "nation"); val customer = t(s, d, "customer")
      val orders = t(s, d, "orders")
      val nk = col("n_nationkey")
      val chain = nation.where(nk >= 1).select(
        concat(lit("n"), nk.cast("string")).as("u"),
        concat(lit("n"), (nk - 1).cast("string")).as("v"),
        (lit(1L) + (nk % 3).cast("long")).as("w"))
      val skip = nation.where(nk >= 2).select(
        concat(lit("n"), nk.cast("string")).as("u"),
        concat(lit("n"), (nk - 2).cast("string")).as("v"), lit(3L).as("w"))
      val nc = customer.select(
        concat(lit("n"), col("c_nationkey").cast("string")).as("u"),
        concat(lit("c"), col("c_custkey").cast("string")).as("v"),
        (lit(1L) + (col("c_custkey") % 7).cast("long")).as("w"))
      val co = orders.select(
        concat(lit("c"), col("o_custkey").cast("string")).as("u"),
        concat(lit("o"), col("o_orderkey").cast("string")).as("v"),
        (lit(1L) + (col("o_orderkey") % 4).cast("long")).as("w"))
      val edges = Seq(chain, skip, nc, co).reduce(_ unionByName _)
      val maxN = nation.agg(max(nk)).head.get(0)
      val src = s.range(1).select(lit(s"n$maxN").as("node"))
      GraphAlgos.shortestPaths(edges, "u", "v", "w", src)
    }),
    // Z-order clustered layout: orders Z-ordered by (o_custkey,
    // o_totalprice) vs an unclustered same-file-count baseline; a
    // deterministic sweep of narrow 2-D boxes over per-file min/max
    // fences must touch ≤ half the files (in practice ~5-10× fewer) —
    // the Parquet file-skipping contract a 100 TB lake lives on
    "layout_zorder" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_zorder").toString
      Layout.zorderContract(t(s, d, "orders"),
          Seq("o_custkey", "o_totalprice"), dir)
        .select("zorder_ok")
    }),
    // strongly connected components over a directed graph with known
    // condensation: the 5 regions closed into one cycle (one 5-node
    // SCC), customer→region edges (customers reach the cycle, never
    // return), order→customer edges plus a REVERSE customer→order edge
    // for every 10th order (those orders join their customer's SCC;
    // the rest stay singletons). Differential contract: driver Tarjan
    // vs the distributed Orzan-style double-min-label coloring
    // (sccContract forces BOTH tiers); the coloring pays rounds
    // proportional to condensation depth, so the oracle graph is built
    // SHALLOW (depth ~8) while SCC structure stays nontrivial. The
    // oracle re-derives the SCC count relationally from the
    // construction
    "graph_scc" -> ((s, d) => {
      val region = t(s, d, "region"); val customer = t(s, d, "customer")
      val orders = t(s, d, "orders")
      val rk = col("r_regionkey")
      val nReg = region.count()
      val cycle = region.select(
        concat(lit("r"), rk.cast("string")).as("u"),
        concat(lit("r"), ((rk + 1) % nReg).cast("string")).as("v"))
      val cr = customer.select(
        concat(lit("c"), col("c_custkey").cast("string")).as("u"),
        concat(lit("r"), (col("c_nationkey") % nReg).cast("string")).as("v"))
      val oc = orders.select(
        concat(lit("o"), col("o_orderkey").cast("string")).as("u"),
        concat(lit("c"), col("o_custkey").cast("string")).as("v"))
      val co = orders.where(col("o_orderkey") % 10 === 0).select(
        concat(lit("c"), col("o_custkey").cast("string")).as("u"),
        concat(lit("o"), col("o_orderkey").cast("string")).as("v"))
      val edges = Seq(cycle, cr, oc, co).reduce(_ unionByName _)
      GraphAlgos.sccContract(edges, "u", "v")
    }),
    // HyperBall neighborhood function over customer→nation + the n_prev
    // chain (a graph with real distance structure: distances spread to
    // ~26 hops): per-node HLL out-ball sketches, one join + hll_union_agg
    // per round. Contract: every round's estimate within 15% of the
    // exact all-source-BFS N(t), final plateau too (lgK=12 ⇒ ~1.6%
    // expected error; 15% is the flake-proof ceiling)
    "graph_hyperball" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_prev").map(p => QValue.id(iri(p)))
      GraphAlgos.neighborhoodContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // k-truss (k=3: every edge in >=1 triangle after iterative peel)
    // over the same composed triangle-rich edge set as graph_triangles
    // — exact (edge, support) differential contract vs a sequential
    // peel; the oracle recounts the canonical input edges
    "graph_ktruss" -> ((s, d) => {
      val g = graph(s, d)
      def ep(name: String) =
        g.quads.where(col("p") === QValue.id(iri(name)))
          .select(col("s").as("x"), col("o").as("y"))
      def comp(lhs: DataFrame, rhs: DataFrame) =
        lhs.join(rhs.select(col("x").as("m"), col("y").as("z")),
          col("y") === col("m"))
          .select(col("x"), col("z").as("y"))
      val cn = ep("c_nation"); val nr = ep("n_region"); val sn = ep("s_nation")
      val edges = Seq(cn, nr, sn, comp(cn, nr), comp(sn, nr),
        ep("o_cust"), ep("n_prev")).reduce(_ unionByName _)
      GraphAlgos.kTrussContract(edges, "x", "y", k = 3)
    }),
    // seeded label spreading (semi-supervised classification): the 5
    // region nodes seed their own ids as class labels; 30 synchronous
    // majority rounds classify every node of the undirected star graph
    // (max region distance ~27) — exact differential contract vs the
    // sequential reference, labeled-count recomputed by the oracle
    "graph_labelspread" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      val edges = g.quads.where(col("p").isin(preds: _*))
        .select(col("s").as("src"), col("o").as("dst"))
      val seeds = {
        import s.implicits._
        t(s, d, "region").select(col("r_regionkey")).as[Long].collect()
          .toSeq.map(k => { val id = QValue.id(iri(s"region:$k")); (id, id) })
          .toDF("node", "label")
      }
      GraphAlgos.labelSpreadContract(edges, "src", "dst", seeds,
        "node", "label", iterations = 30)
    }),
    // betweenness centrality (Brandes) from 4 deterministic sources:
    // distributed level-synchronous forward/backward sweeps vs exact
    // driver Brandes — differential contract (sigma sums exact, delta
    // sums within 1e-9 relative)
    "graph_betweenness" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.betweennessContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // source-sampled betweenness (Brandes–Pich): limit exactness
    // (nSources ≥ n reproduces exact all-source bc) + bounded aggregate
    // estimation error at k=256 on the customer→nation→region star —
    // the tier that replaces exact O(V·E) Brandes above the size gate
    "graph_betweenness_approx" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev")
        .map(p => QValue.id(iri(p)))
      GraphAlgos.betweennessApproxContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst", nSources = 256, tol = 0.25,
        kLow = 4, kHigh = 16)
    }),
    // Newman modularity of the nation partition over a customer graph
    // (within-nation chain + cross-nation (c+7) mod N shortcut edges):
    // exact BIGINT (e_in, deg_sum) per community, one IEEE division for
    // dq — the oracle recomputes the identical integers relationally
    "graph_modularity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          col("c_nationkey").cast("long").as("comm"))
      val n = c.agg(count(lit(1)).as("n"))
      val chain = c.select(col("node").as("s"),
          lead("node", 1).over(
            Window.partitionBy("comm").orderBy("node")).as("o"))
        .where(col("o").isNotNull)
      val cross = c.crossJoin(broadcast(n))
        .select(col("node").as("s"), ((col("node") + 7L) % col("n")).as("o"))
      GraphAlgos.modularity(chain.unionByName(cross), "s", "o",
        c, "node", "comm")
    }),
    // Louvain community detection on a planted ring partition (10
    // communities x 20 nodes, intra degree 4 vs one bridge): VALUE-LEVEL
    // oracle — recovery of the planted partition is the documented
    // contract, and the expected labeling is a pure formula the oracle
    // recomputes relationally. Driver tier here, forced-distributed
    // tier in graph_louvain_dist — both must land the identical table.
    "graph_louvain" -> ((s, d) =>
      GraphAlgos.louvainPlanted(s, c = 10, sz = 20,
        forceDistributed = false)),
    "graph_louvain_dist" -> ((s, d) =>
      GraphAlgos.louvainPlanted(s, c = 10, sz = 20,
        forceDistributed = true)),
    // Katz centrality (α=1/4, 8 terms) on the customer chain+shortcut
    // graph: every round is EXACT dyadic-integer arithmetic (y = x·4^8),
    // so the oracle unrolls the same 8 rounds relationally and matches
    // the BIGINT walk counts value-for-value; score is one IEEE division
    "graph_katz" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          col("c_nationkey").cast("long").as("comm"))
      val n = c.agg(count(lit(1)).as("n"))
      val chain = c.select(col("node").as("s"),
          lead("node", 1).over(
            Window.partitionBy("comm").orderBy("node")).as("o"))
        .where(col("o").isNotNull)
      val cross = c.crossJoin(broadcast(n))
        .select(col("node").as("s"), ((col("node") + 7L) % col("n")).as("o"))
      GraphAlgos.katzCentrality(chain.unionByName(cross), "s", "o",
        iterations = 8)
    }),
    // Personalized PageRank on the 2-regular shift graph (s→s+1, s→s+7
    // cyclically over the 0-based custkeys), seeds = custkey ≡ 1
    // (mod 97): every round is EXACT dyadic-integer arithmetic
    // (y = x·8^t), so the oracle unrolls the same 8 rounds relationally
    // and matches the BIGINT walk counts value-for-value; score is one
    // IEEE division
    "graph_ppr" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"))
      val n = c.agg(count(lit(1)).as("n"))
      val withN = c.crossJoin(broadcast(n))
      val edges = withN
        .select(col("node").as("s"), ((col("node") + 1L) % col("n")).as("o"))
        .unionByName(withN.select(col("node").as("s"),
          ((col("node") + 7L) % col("n")).as("o")))
      GraphAlgos.pprDyadic(edges, "s", "o",
        c.where(col("node") % 97L === 1L), "node", iterations = 8)
    }),
    // global 4-clique census over n/5 planted 5-cliques (custkey mod
    // n/5 buckets — SIZE-5 groups at every scale factor, so the clique
    // work scales linearly with the table, not combinatorially) + the
    // per-nation customer chain: the oriented triangle-extension count
    // matches DuckDB's explicit 6-edge 4-way self-join value-for-value
    // (plus edge and triangle counts)
    "graph_cliques" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          col("c_nationkey").cast("long").as("comm"))
      val n = c.agg(count(lit(1)).as("n"))
      val bk = c.crossJoin(broadcast(n))
        .select(col("node"), expr("node % (n div 5)").as("b"))
      val planted = bk.as("l")
        .join(bk.as("r"), col("l.b") === col("r.b") &&
          col("l.node") < col("r.node"))
        .select(col("l.node").as("s"), col("r.node").as("o"))
      val chain = c.select(col("node").as("s"),
          lead("node", 1).over(
            Window.partitionBy("comm").orderBy("node")).as("o"))
        .where(col("o").isNotNull)
      GraphAlgos.fourCliqueCount(planted.unionByName(chain), "s", "o")
    }),
    // Directed reciprocity over the per-nation customer chain with
    // every 3rd edge reversed: exact BIGINT edge/mutual counts + one
    // IEEE division — value-level bitwise match
    "graph_reciprocity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          col("c_nationkey").cast("long").as("comm"))
      val chain = c.select(col("node").as("s"),
          lead("node", 1).over(
            Window.partitionBy("comm").orderBy("node")).as("o"))
        .where(col("o").isNotNull)
      val back = chain.where(col("s") % 3L === 0L)
        .select(col("o").as("s"), col("s").as("o"))
      GraphAlgos.reciprocity(chain.unionByName(back), "s", "o")
    }),
    // Degree assortativity of the same harness graph: exact BIGINT
    // moment sums + a fixed IEEE op sequence — value-level bitwise match
    "graph_assortativity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          col("c_nationkey").cast("long").as("comm"))
      val n = c.agg(count(lit(1)).as("n"))
      val chain = c.select(col("node").as("s"),
          lead("node", 1).over(
            Window.partitionBy("comm").orderBy("node")).as("o"))
        .where(col("o").isNotNull)
      val cross = c.crossJoin(broadcast(n))
        .select(col("node").as("s"), ((col("node") + 7L) % col("n")).as("o"))
      GraphAlgos.assortativity(chain.unionByName(cross), "s", "o")
    }),
    // temporal earliest-arrival reachability over the katz harness
    // chain+shortcut graph with deterministic edge timestamps: an edge
    // is traversable only at-or-after the current arrival, so arrivals
    // are minima over nondecreasing-timestamp paths — value-level
    // against a recursive SQL enumeration of feasible (node, time)
    // states
    "graph_temporal" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val c = t(s, d, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          col("c_nationkey").cast("long").as("comm"))
      val n = c.agg(count(lit(1)).as("n"))
      val chain = c.select(col("node").as("s"),
          lead("node", 1).over(
            Window.partitionBy("comm").orderBy("node")).as("o"))
        .where(col("o").isNotNull)
        .select(col("s"), col("o"),
          ((col("s") * 7L + 3L) % 97L).as("t"))
      val cross = c.crossJoin(broadcast(n))
        .select(col("node").as("s"),
          ((col("node") + 7L) % col("n")).as("o"),
          ((col("node") * 13L + 5L) % 97L).as("t"))
      GraphAlgos.earliestArrival(chain.unionByName(cross),
        "s", "o", "t",
        c.where(pmod(col("node"), lit(100L)) === 1L).select("node"))
    }),
    // Luby maximal independent set over the five-predicate star graph:
    // independence + maximality checked relationally engine-side, plus
    // EXACT set equality with a sequential replay of the same
    // xxhash64(node, round) priorities; the oracle pins the node count
    "graph_mis" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.misContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // full core decomposition (staged peel): differential contract vs
    // the sequential peel; the star graph's max coreness is
    // structurally 2 at any SF (orders/customers/suppliers peel at
    // stage 1, the nation chain unravels end-inward at stage 2), so
    // the oracle pins it alongside the node universe
    "graph_coreness" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.coreDecompositionContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // distributed greedy coloring (iterated Luby classes): proper /
    // complete / Delta+1-bounded checked relationally engine-side;
    // the oracle pins the node universe
    "graph_coloring" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.coloringContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst")
    }),
    // Jaccard link prediction over the (part, order) co-occurrence
    // bipartite graph: candidate pairs from the container self-join,
    // exact integer intersection/degree counts, ONE double division —
    // value-level bitwise match against the same SQL
    "graph_linkpred" -> ((s, d) =>
      GraphAlgos.jaccardLinkPred(
        t(s, d, "lineitem")
          .select(col("l_partkey").cast("long").as("part"),
            col("l_orderkey").cast("long").as("ord")),
        "part", "ord", minJaccard = 0.05)),
    // k-core (k=2) of the directed star graph viewed undirected: the
    // order/customer/supplier trees peel away, the nation chain + region
    // attachments survive — differential contract vs a sequential peel
    "graph_kcore" -> ((s, d) => {
      val g = graph(s, d)
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(iri(p)))
      GraphAlgos.kCoreContract(
        g.quads.where(col("p").isin(preds: _*))
          .select(col("s").as("src"), col("o").as("dst")),
        "src", "dst", k = 2)
    }),
    // keyed interval-containment join: events against deterministic 2-day
    // per-order windows laid into the events' January-2024 range (both
    // engines derive the identical intervals). Bucketed equi-join on
    // (user, day) — candidates bounded by genuine time overlap, no
    // per-key cartesian, no post-join dedup needed
    "q_interval" -> ((s, d) => {
      val base = 1704067200L // 2024-01-01T00:00:00Z
      val iv = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        timestamp_seconds(lit(base) + (col("o_orderkey") % 29) * 86400L)
          .as("start_ts"),
        timestamp_seconds(lit(base) + (col("o_orderkey") % 29) * 86400L
          + 2L * 86400L).as("end_ts"))
      Events.intervalJoin(
        events(s, d).select("event_id", "user_id", "ts"), iv,
        "user_id", "o_custkey", "ts", "start_ts", "end_ts",
        Seq("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey")
    }),
    // skip-gram co-occurrence counts (word2vec/GloVe input): pair counts
    // + exact distance-discounted weight (BIGINT multiples of 1/lcm, ONE
    // final division — the bigramFamiliarity float-parity rule)
    "text_skipgrams" -> ((s, d) =>
      TextOps.skipgramCounts(t(s, d, "documents"), "doc_id", "text",
        window = 3)),
    // BM25 top-10 per query term (rational idf — same float-parity rule
    // as text_tfidf: IEEE +,*,/ only, no transcendental functions)
    "text_bm25" -> ((s, d) =>
      TextOps.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join", "hash", "scan"), k = 10)),
    // persisted BM25 search store: write the inverted index (term-bucket
    // partitioned, (term,id)-sorted postings with denormalized doc
    // length), then probe multi-term queries — output must be
    // VALUE-IDENTICAL to a full-corpus BM25 (the store is a serving
    // layout, never a different answer). Per-(query,doc) totals sum the
    // matched term scores in ASCENDING TERM ORDER left-to-right on both
    // engines (sort_array+aggregate here, list_sum(list(… ORDER BY term))
    // in the oracle) — an unordered SUM is partition-order-dependent
    "text_search" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-searchstore").toString
      // the probe output is an eager checkpoint (Dedup.releasing), so
      // the store files are dead once it returns — delete them here or
      // repeated verify sweeps accumulate postings under /tmp
      try {
        TextOps.searchStoreWrite(t(s, d, "documents"), dir, "doc_id",
          "text")
        TextOps.searchStoreProbe(s, dir, Seq(
          1L -> "spark join", 2L -> "hash scan",
          3L -> "spark hash scan join", 4L -> "scan"), k = 10)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir))
    }),
    // hybrid retrieval: RRF fusion of the sparse (BM25 search store) and
    // dense (cosine top-k) rankings. Fusion scores are exact BIGINT
    // multiples of 1/lcm(61..70) — an order-independent integer sum with
    // ONE final double division (a naive Σ 1/(60+r) double sum is
    // union-order-dependent and never hash-stable). Dense query q maps to
    // lexical query_id q+1 so the three queries fuse pairwise.
    "hybrid_search" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-searchstore").toString
      // probe output is self-contained (eager checkpoint) — reclaim the
      // store immediately, same as text_search
      val lex = try {
        TextOps.searchStoreWrite(docs, dir, "doc_id", "text")
        TextOps.searchStoreProbe(s, dir, Seq(
            1L -> "spark join", 2L -> "hash scan", 3L -> "parquet scan"),
            k = 10)
          .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("id"))
      val dense = Similarity
        .batchTopK(emb, emb.where(col("vec_id") < 3), "vec_id",
          "embedding", k = 10)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select((col("query_id") + lit(1L)).as("query_id"), col("id"),
          col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), "query_id", "id", "rank", k = 10)
    }),
    // sketch contracts: HyperLogLog++ distinct tokens within 5% of exact,
    // approx median doc length within 5% of the exact median — the
    // one-pass mergeable summaries a 100 TB profile pass uses instead of
    // exact distinct/sort (both assertions computed engine-side; the
    // oracle records the contract)
    // count-min sketch: depth x width mergeable counter grid over the
    // token stream; contract = one-sided error on head+tail test terms,
    // worst overestimate within 4*N/width; n_tokens crosses engines
    "text_cms" -> ((s, d) =>
      TextOps.cmsContract(t(s, d, "documents"), "text")),
    // deterministic-hash-sample quantile sketch: deciles of token count
    // over the md5-mod-16 document sample; rank selection under the
    // total order (value, doc_id) — both engines pick the identical
    // element, a VALUE-LEVEL quantile oracle
    "text_quantiles" -> ((s, d) =>
      TextOps.hashSampleQuantiles(t(s, d, "documents"), "doc_id", "text")),
    // weighted sampling without replacement (Efraimidis-Spirakis):
    // top-k by ln(u)/w, u hash-derived — deterministic, one global
    // top-k, no full sort; contract checks size/validity/
    // reproducibility and that weighting biases the sampled mean up
    "q_weighted_sample" -> ((s, d) =>
      TextOps.sampleByWeightContract(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100)),
    // blocklist scan: one RE2 alternation automaton over the corpus
    // (linear-time multi-phrase matching); exact value-level oracle
    "text_blocklist" -> ((s, d) =>
      TextOps.blocklistIds(t(s, d, "documents"), "doc_id", "text",
        Seq("slow join", "fast scan", "big query"))),
    // fastText-style linear quality classifier: distributed full-batch
    // logistic GD over md5-hashed bag-of-words (model broadcast as a
    // plan literal, gradient = one aggregate round). Realizable
    // planted-margin contract; the oracle recomputes the md5 feature
    // hashing, planted labeling, and split sizes in SQL
    "text_lr" -> ((s, d) =>
      LinearModel.logRegContract(t(s, d, "documents"), "doc_id", "text")),
    // explicit HyperLogLog on the shared md5 token hash: all 64
    // (bucket, register) cells, the exact-integer harmonic sum, and the
    // raw estimate are VALUE-level reproducible in DuckDB (the simhash
    // trick applied to a cardinality sketch)
    "stats_hll" -> ((s, d) =>
      TextOps.hllSketch(t(s, d, "documents"), "text")),
    // per-key HLL: one sketch row per ISO week of distinct users — the
    // pre-aggregated-sketch shape a 100 TB pipeline stores and merges;
    // harmonic sums, estimates, and the exact distinct counts all
    // value-match the SQL recompute
    "q_distinct_sketch" -> ((s, d) => {
      val ev = events(s, d).where(col("user_id").isNotNull)
        .select(expr("unix_millis(cast(ts as timestamp)) div 1000 div 604800")
          .as("wk"), col("user_id"))
      TextOps.hllByKey(ev, "wk", "user_id")
        .withColumnRenamed("key", "wk")
        .join(ev.groupBy("wk")
          .agg(count_distinct(col("user_id")).as("n_users")), "wk")
    }),
    "stats_sketch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(explode(split(TextOps.normalize(col("text")),
        " ")).as("term")).where(length(col("term")) > 0)
      val Seq(approxD, exactD) = Seq(
        toks.agg(approx_count_distinct(col("term"), 0.01)).head.getLong(0),
        toks.agg(count_distinct(col("term"))).head.getLong(0))
      val lens = docs.select(length(col("text")).cast("double").as("len"))
      val approxM = lens.agg(percentile_approx(col("len"), lit(0.5),
        lit(10000))).head.getDouble(0)
      val exactM = lens.agg(expr("percentile(len, 0.5)")).head.getDouble(0)
      val hllOk = exactD > 0 &&
        math.abs(approxD - exactD).toDouble / exactD <= 0.05
      val qOk = exactM > 0 && math.abs(approxM - exactM) / exactM <= 0.05
      s.range(1).select(lit(hllOk).as("hll_ok"), lit(qOk).as("quantile_ok"))
    }),
    // C4/CCNet-style boilerplate-line scrub: "lines" = 100-char chunks
    // (the corpus is single-line word soup, so the chunker provides the
    // line structure in BOTH engines); any chunk seen in more than one
    // distinct document (planted exact/near duplicates) is dropped from
    // every document and the survivors re-join in order — exact SQL mirror
    "text_linededup" -> ((s, d) => {
      val lines = TextOps.chunkRows(t(s, d, "documents"), "doc_id", "text",
        size = 100)
      TextOps.removeFrequentLines(lines, "doc_id", "chunk_idx", "chunk",
        maxDocs = 1, joinWith = "")
    }),
    // hashing-trick featurizer: 60-bit md5 token hash mod 16, exact tf
    // rows — fixed-dimension text features with no vocabulary pass
    "text_hashvec" -> ((s, d) =>
      TextOps.hashedTf(t(s, d, "documents"), "doc_id", "text", dim = 16)),
    // Misra-Gries heavy hitters over event_type (5 distinct values, k=4
    // forces genuine decrement/merge work; 3 values sit above the
    // guarantee threshold): contract asserts the mergeable-summary
    // guarantee — every value with true count > N/(k+1) is reported, and
    // every estimate undercounts by at most N/(k+1). n_heavy (count of
    // true heavies) is re-derived relationally by the oracle with exact
    // integer arithmetic (c*(k+1) > N)
    "stats_heavy" -> ((s, d) => {
      val k = 4 // mirrored in the oracle SQL as the literal 5 = k + 1
      val ev = events(s, d)
      val mg = TextOps.heavyHitters(ev, "event_type", k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = exact.valuesIterator.sum
      val heavy = exact.filter { case (_, c) => c * (k + 1L) > n }
      val coverOk = heavy.keySet.subsetOf(mg.keySet)
      val boundOk = mg.forall { case (v, est) =>
        exact.get(v).exists(c => est <= c && (c - est) * (k + 1L) <= n)
      }
      s.range(1).select(lit(coverOk && boundOk).as("heavy_ok"),
        lit(heavy.size.toLong).as("n_heavy"))
    }))

  /** DuckDB mirror of Dedup.simhashes: 60-bit md5-derived token hash,
    * per-bit ±1 sums over distinct tokens, then brute-force Hamming pairs.
    * Generated (60 sum terms) but plain ANSI-ish SQL.
    */
  private val simhashOracle: String = {
    val sums = (0 until Dedup.SimhashBits)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val simExpr = (0 until Dedup.SimhashBits)
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS w FROM d),
       |hh AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
       |sums AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS sim FROM sums)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
  }

  /** Word-3-gram shingle list in DuckDB (mirror of Dedup.wordShingles). */
  private val wordShingleCte =
    """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
      |s AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
      |  ELSE list_distinct(list_transform(range(0, len(ws) - 2),
      |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) END AS sh FROM w)""".stripMargin

  /** Full-corpus duplicate clusters in DuckDB (mirror of Dedup.clusters):
    * recursive closure over the exact word-shingle Jaccard pair graph,
    * min member id per component. Shared verbatim by `dedup_clusters`
    * and `dedup_clusters_incr` — the incremental fold's exactness claim
    * IS that it matches the full recompute.
    */
  private lazy val clustersOracleSql: String =
    s"""WITH RECURSIVE ${wordShingleCte.stripPrefix("WITH ")},
       |e0 AS (SELECT a.doc_id AS ea, b.doc_id AS eb FROM s a JOIN s b
       |  ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5),
       |e AS (SELECT ea, eb FROM e0 UNION ALL SELECT eb, ea FROM e0),
       |r(n, m) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.n, e.eb FROM r JOIN e ON r.m = e.ea)
       |SELECT n AS doc_id, min(m) AS cluster FROM r GROUP BY n""".stripMargin

  /** Component-size histogram of the customer→nation / order→customer
    * star graph in DuckDB — components are per-nation stars, so sizes
    * are 1 + customers + their orders. Shared verbatim by `graph_wcc`
    * and `graph_wcc_incr` (the incremental fold's exactness claim IS
    * that it matches the full recompute).
    */
  private lazy val wccHistogramOracleSql: String =
    """WITH ncust AS (SELECT c_nationkey AS nk, count(*) AS n
      |  FROM customer GROUP BY 1),
      |nord AS (SELECT c_nationkey AS nk, count(*) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      |sz AS (SELECT ncust.nk,
      |    1 + ncust.n + coalesce(nord.n, 0) AS csize
      |  FROM ncust LEFT JOIN nord ON ncust.nk = nord.nk)
      |SELECT csize AS size, count(*) AS n_components
      |FROM sz GROUP BY csize""".stripMargin

  /** Char-9-gram shingle list in DuckDB (mirror of Dedup.charShingleRows). */
  private val charShingleCte =
    """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(length(t) - 8, 1) + 1), i -> substr(t, i, 9))) AS sh FROM d)""".stripMargin

  private def jaccardPairSql(cte: String, threshold: Double) =
    s"""$cte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= $threshold""".stripMargin

  private val pipelineOracles: Map[String, String] = Map(
    // exact all-pairs recomputation of the J>=0.5 word-shingle contract
    "dedup_minhash" -> jaccardPairSql(wordShingleCte, 0.5),
    // exact all-pairs recomputation of the J>=0.8 char-9-gram contract
    "dedup_ngram" -> jaccardPairSql(charShingleCte, 0.8),
    // brute-force containment: |A∩B|/|A| over ORDERED pairs (one
    // division of exact integers — the usual float-parity shape)
    "dedup_contain" ->
      s"""$charShingleCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment
         |FROM s a JOIN s b ON a.doc_id <> b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.8""".stripMargin,
    // brute-force Levenshtein<=1 cross join (the engine's deletion-
    // neighborhood join must equal it exactly)
    "dedup_fuzzy" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // brute-force Hamming<=3 over the shared 60-bit simhash
    "dedup_simhash" -> simhashOracle,
    // connected components of the exact pair graph via recursive closure
    "dedup_clusters" -> clustersOracleSql,
    // the incremental fold is VALUE-IDENTICAL to a full re-cluster by
    // construction (labels are min member ids, so contracting corpus
    // endpoints to labels is an exact quotient) — same oracle, verbatim
    "dedup_clusters_incr" -> clustersOracleSql,
    // contract: no-straddle + coverage + fraction band checked
    // engine-side (cluster labels are not SQL-expressible)
    "dedup_holdout" -> "SELECT TRUE AS holdout_ok",
    // exact all-pairs cosine >= 0.25 (double-precision, ids only)
    "emb_neardup" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_inner_product(a.e, b.e) /
        |  (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.25""".stripMargin,
    // semantic dedup clusters: recursive closure over the exact cosine
    // pair graph (mirror of the Spark min-label propagation fixed point)
    "emb_clusters" ->
      """WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |e0 AS (SELECT a.vec_id AS ea, b.vec_id AS eb FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.e, b.e) /
        |    (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.25),
        |e AS (SELECT ea, eb FROM e0 UNION ALL SELECT eb, ea FROM e0),
        |r(n, m) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.n, e.eb FROM r JOIN e ON r.m = e.ea)
        |SELECT n AS vec_id, min(m) AS cluster FROM r GROUP BY n""".stripMargin,
    // cross-corpus pairs: brute-force J>=0.5 between the two slices
    "dedup_cross" ->
      s"""$wordShingleCte
         |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |  CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) / len(list_distinct(b.sh || c.sh)) AS jaccard
         |FROM s b JOIN s c ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) / len(list_distinct(b.sh || c.sh)) >= 0.5""".stripMargin,
    // store probe == in-memory crossPairs, value for value — the same
    // oracle proves the whole store round-trip (write, pruned scan,
    // pruned verify fetch) changes nothing
    "dedup_probe" ->
      s"""$wordShingleCte
         |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |  CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) / len(list_distinct(b.sh || c.sh)) AS jaccard
         |FROM s b JOIN s c ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) / len(list_distinct(b.sh || c.sh)) >= 0.5""".stripMargin,
    // incremental exact dedup: batch fingerprints absent from the corpus
    "dedup_incr" ->
      """WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT b.doc_id FROM f b
        |WHERE b.doc_id % 10 = 0
        |  AND b.fp NOT IN (SELECT fp FROM f
        |                   WHERE doc_id % 10 <> 0 OR doc_id % 20 = 0)""".stripMargin,
    // per-source cap in md5-key order (ordering by the integer key is
    // order-equivalent to Spark's key/2^60 double)
    "q_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,
    "text_bpe" -> "SELECT TRUE AS bpe_ok",
    "q_holdout" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / 1152921504606846976.0 < 0.1
        |       THEN 'holdout' ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "text_gopher" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(CASE WHEN length(t)=0 THEN 0 ELSE len(string_split(t,' ')) END AS BIGINT) AS n_words,
        |  CAST(CASE WHEN length(t)=0 THEN 0 ELSE list_sum(list_transform(string_split(t,' '), x -> length(x))) END AS BIGINT) AS sum_word_len,
        |  CAST(len(list_filter(string_split(t,' '), x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        |  CAST((length(t) - length(replace(t,'#',''))) + (length(t) - length(replace(t,'...','')))/3 AS BIGINT) AS n_symbol,
        |  CAST(CASE WHEN length(t)=0 THEN 0 ELSE len(list_filter(string_split(t,' '),
        |    x -> x IN ('the','be','to','of','and','that','have','with'))) END AS BIGINT) AS n_stop_hits
        |  FROM n)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_symbol, n_stop_hits,
        |  (n_words BETWEEN 10 AND 100000
        |   AND sum_word_len >= n_words*3 AND sum_word_len <= n_words*10
        |   AND n_alpha_words*10 >= n_words*8
        |   AND n_symbol*10 < n_words
        |   AND n_stop_hits >= 2) AS keep
        |FROM f""".stripMargin,
    // the curate() composition, stage for stage: dedup CTE = dedup_exact,
    // quality predicate = text_quality facets, cap = q_source_cap
    "pipeline_curate" ->
      """WITH norm AS (
        |  SELECT doc_id, source, text,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |survivors AS (
        |  SELECT min(doc_id) AS doc_id FROM norm GROUP BY md5(t)),
        |feat AS (
        |  SELECT n.doc_id, n.source,
        |    CASE WHEN length(t)=0 THEN 0
        |         ELSE length(string_split(t, ' ')) END AS n_tokens,
        |    CASE WHEN length(t)=0 THEN 0
        |         ELSE list_max(list_transform(string_split(t, ' '), w -> length(w))) END AS mwl
        |  FROM norm n JOIN survivors s ON n.doc_id = s.doc_id),
        |filt AS (
        |  SELECT doc_id, source, n_tokens FROM feat
        |  WHERE n_tokens BETWEEN 5 AND 100000 AND mwl <= 40)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn
        |  FROM filt)
        |WHERE rn <= 12""".stripMargin,
    // the curateFull() composition end-to-end: the pipeline_curate CTEs
    // with text carried through, the decontam gram semi-join (bench =
    // doc_id%20==0 slice), the cap window over the CLEAN set, then the
    // dedup_clusters recursive closure over the capped docs and the
    // md5-of-cluster sample-key split
    "pipeline_curate_full" -> {
      val gram8 = (1 to 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      val gram3 = (1 to 3).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH RECURSIVE norm AS (
         |  SELECT doc_id, source, text,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
         |  FROM documents WHERE doc_id % 20 <> 0),
         |survivors AS (
         |  SELECT min(doc_id) AS doc_id FROM norm GROUP BY md5(t)),
         |feat AS (
         |  SELECT n.doc_id, n.source, n.t,
         |    CASE WHEN length(t)=0 THEN 0
         |         ELSE length(string_split(t, ' ')) END AS n_tokens,
         |    CASE WHEN length(t)=0 THEN 0
         |         ELSE list_max(list_transform(string_split(t, ' '), w -> length(w))) END AS mwl
         |  FROM norm n JOIN survivors s ON n.doc_id = s.doc_id),
         |filt AS (
         |  SELECT doc_id, source, t, n_tokens, string_split(t, ' ') AS ws
         |  FROM feat
         |  WHERE n_tokens BETWEEN 5 AND 100000 AND mwl <= 40),
         |bnorm AS (
         |  SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
         |  FROM documents WHERE doc_id % 20 = 0),
         |bg AS (
         |  SELECT DISTINCT unnest(CASE WHEN len(ws) < 8
         |    THEN [array_to_string(ws, ' ')]
         |    ELSE list_distinct(list_transform(range(0, len(ws) - 7), i -> $gram8)) END) AS g
         |  FROM (SELECT string_split(t, ' ') AS ws FROM bnorm)),
         |fg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(ws) < 8
         |    THEN [array_to_string(ws, ' ')]
         |    ELSE list_distinct(list_transform(range(0, len(ws) - 7), i -> $gram8)) END) AS g
         |  FROM filt),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM fg WHERE g IN (SELECT g FROM bg)),
         |clean AS (
         |  SELECT * FROM filt
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |capped AS (
         |  SELECT doc_id, source, n_tokens, ws FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source
         |      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn
         |    FROM clean)
         |  WHERE rn <= 12),
         |csh AS (
         |  SELECT doc_id, CASE WHEN len(ws) < 3
         |    THEN [array_to_string(ws, ' ')]
         |    ELSE list_distinct(list_transform(range(0, len(ws) - 2), i -> $gram3)) END AS sh
         |  FROM capped),
         |e0 AS (
         |  SELECT a.doc_id AS ea, b.doc_id AS eb FROM csh a JOIN csh b
         |  ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5),
         |e AS (SELECT ea, eb FROM e0 UNION ALL SELECT eb, ea FROM e0),
         |r(n, m) AS (
         |  SELECT doc_id, doc_id FROM capped
         |  UNION
         |  SELECT r.n, e.eb FROM r JOIN e ON r.m = e.ea),
         |lbl AS (SELECT n AS doc_id, min(m) AS cluster FROM r GROUP BY n)
         |SELECT c.doc_id, c.source, CAST(c.n_tokens AS BIGINT) AS n_tokens,
         |  CASE WHEN CAST(CAST(concat('0x', substr(md5(CAST(l.cluster AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
         |         / 1152921504606846976.0 < 0.1
         |       THEN 'holdout' ELSE 'train' END AS split
         |FROM capped c JOIN lbl l ON c.doc_id = l.doc_id""".stripMargin
    },
    // temperature mixture: integer per-stratum threshold ceil(3*sqrt(n))
    "q_mixture" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |WHERE rn <= ceil(3.0 * sqrt(n))""".stripMargin,
    // exact top-50 word bigram counts (ties broken by gram text)
    "text_ngram_counts" ->
      """WITH d AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |w AS (SELECT string_split(t, ' ') AS ws FROM d),
        |g AS (SELECT unnest(list_transform(range(0, len(ws) - 1),
        |    i -> ws[i+1] || ' ' || ws[i+2])) AS gram FROM w WHERE len(ws) >= 2)
        |SELECT gram, count(*) AS freq FROM g
        |GROUP BY gram ORDER BY freq DESC, gram LIMIT 50""".stripMargin,
    // decontamination: distinct word-8-gram overlap vs the doc_id%20==0
    // benchmark slice (shingle semantics mirror wordShingleRows)
    "decontam" -> {
      val gram8 = (1 to 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
         |s AS (SELECT doc_id, CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
         |  ELSE list_distinct(list_transform(range(0, len(ws) - 7), i -> $gram8)) END AS sh FROM w),
         |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0),
         |be AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0)
         |SELECT doc_id AS id, count(*) AS n_overlap FROM tr
         |WHERE g IN (SELECT g FROM be) GROUP BY doc_id""".stripMargin
    },
    "decontam_report" -> {
      val gram8 = (1 to 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
         |s AS (SELECT doc_id, CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
         |  ELSE list_distinct(list_transform(range(0, len(ws) - 7), i -> $gram8)) END AS sh FROM w),
         |tr AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0),
         |be AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 20 = 0)
         |SELECT doc_id AS id, count(*) AS n_grams,
         |  count(*) FILTER (WHERE g IN (SELECT g FROM tr)) AS n_overlap,
         |  CAST(count(*) FILTER (WHERE g IN (SELECT g FROM tr)) AS DOUBLE)
         |    / count(*) AS frac
         |FROM be GROUP BY doc_id""".stripMargin
    },
    // repetition: 1 - distinct/total word 3-grams (0 for < 3 words)
    "text_repetition" -> {
      val gram3 = (1 to 3).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
         |g AS (SELECT doc_id, ws, list_transform(range(0, len(ws) - 2), i -> $gram3) AS gr FROM w)
         |SELECT doc_id, CASE WHEN len(ws) < 3 THEN 0.0
         |  ELSE 1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / len(gr) END AS rep
         |FROM g""".stripMargin
    },
    // HTML strip: the identical replace chain, step for step — script/
    // style/comment blocks, then tags, then entity decode (literal
    // replace(), &amp; LAST), then whitespace collapse. Every regex uses
    // only Java≡RE2 constructs
    "text_htmlstrip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red; }</style><script type="text/js">var x = 1 < 2;</script></head><body><h1 class="t">'
        |    || substring(text, 1, 20) || '</h1>' || chr(10) || '<p>'
        |    || text ||
        |    ' &amp;amp; fish &lt;><!-- hidden --></p><br/>&quot;&#39;&nbsp;tail</body></html>'
        |      AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        html,
        |        '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM h""".stripMargin,
    // PII scrub: same regex chain, RE2-safe patterns, 'g' for DuckDB's
    // default first-match-only semantics (Spark replaces all by default)
    "text_redact" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or '
        |         || '555-123-4567 at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g') AS red
        |FROM documents""".stripMargin,
    // concat-and-split packing: same md5 order, same per-shard prefix sums
    "text_pack" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS k,
        |    CAST(CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0
        |      ELSE length(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) END AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, k % 8 AS shard, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY k % 8 ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM b)
        |SELECT doc_id, shard, CAST(floor(cum / 128.0) AS BIGINT) AS seq_in_shard,
        |  CAST(cum % 128 AS BIGINT) AS offset FROM c""".stripMargin,
    // data-card stats: quantile_cont mirrors Spark's interpolating
    // percentile (both linear-interpolate the sorted values)
    "corpus_stats" ->
      """WITH d AS (SELECT lang,
        |    CAST(CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0
        |      ELSE length(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) END AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_tok) AS DOUBLE) / count(*) AS mean_tokens,
        |  quantile_cont(n_tok, 0.5) AS p50_tokens,
        |  quantile_cont(n_tok, 0.9) AS p90_tokens
        |FROM d GROUP BY lang""".stripMargin,
    // chunking: same ceil-division chunk count, same substr windows
    "text_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |c AS (SELECT doc_id, text,
        |    CASE WHEN len <= 200 THEN 1
        |      ELSE CAST(ceil((len - 200) / 160.0) AS BIGINT) + 1 END AS n FROM d)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk
        |FROM c, LATERAL unnest(range(0, n)) AS u(i)""".stripMargin,
    // tf-idf: same tf/df aggregates, same (tf*N)/df rational score
    "text_tfidf" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE length(term) > 0 GROUP BY doc_id, term),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS nn FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * n.nn AS DOUBLE) / dfr.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.nn AS DOUBLE) / dfr.df DESC, tf.term) AS rn
        |  FROM tf JOIN dfr USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score FROM s WHERE rn <= 5""".stripMargin,
    // deterministic stratified sample: the 60-bit md5 key in [0,1) travels
    // across engines (floor-exact integer -> nearest-double on both sides)
    "doc_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
        |  / 1152921504606846976.0 < CASE WHEN lang = 'en' THEN 0.2 ELSE 0.8 END""".stripMargin,
    // sessionization: same lag + running-sum construction; floor-epoch
    // seconds on both engines (Spark ts->long cast truncates micros)
    "q_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
        |g AS (SELECT event_id, user_id, ts,
        |    CASE WHEN lag(tss) OVER w IS NULL OR tss - lag(tss) OVER w > 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT event_id, user_id,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM g""".stripMargin,
    "q_session_stats" ->
      """WITH e AS (SELECT event_id, user_id, ts, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
        |g AS (SELECT *, CASE WHEN lag(tss) OVER w IS NULL OR tss - lag(tss) OVER w > 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  max(tss) - min(tss) AS span_sec,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // as-of join: per-event latest order via window-ranked candidates
    // (the oracle may pair-expand; the engine under test must not)
    "q_asof" ->
      """WITH c AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, o_orderkey, o_totalprice
        |FROM c WHERE rn = 1""".stripMargin,
    // degree histogram: customers-per-nation in-degree, nodes per degree
    "graph_degree" ->
      """SELECT degree, count(*) AS n_nodes FROM (
        |  SELECT c_nationkey, count(*) AS degree FROM customer
        |  GROUP BY c_nationkey) t
        |GROUP BY degree""".stripMargin,
    // PageRank differential contract: both tiers (driver arrays and
    // distributed join+agg) vs sequential reference on the same edges;
    // node universe = every row of the five edge-source/target tables
    // (all fks non-null in TPC-H)
    "graph_pagerank" ->
      """SELECT TRUE AS pagerank_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes""".stripMargin,
    // bigram LM familiarity: identical tokenization to text_tokens; the
    // float is one BIGINT/BIGINT division on both engines
    // DSIR contract: bitwise-equality check runs engine-side; the oracle
    // pins the scored-universe size (raw docs with >=1 token)
    "text_dsir" ->
      """SELECT TRUE AS dsir_ok,
        |  CAST((SELECT count(*) FROM documents
        |         WHERE doc_id % 7 <> 0 AND length(trim(text)) > 0)
        |    AS BIGINT) AS n_scored""".stripMargin,
    "text_lm" ->
      """WITH tk AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
        |  FROM documents
        |  WHERE length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) > 0),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bg
        |  FROM tk WHERE len(ts) >= 2),
        |fr AS (SELECT bg, count(*) AS f FROM bg GROUP BY bg)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  count(DISTINCT b.bg) AS n_distinct,
        |  CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS familiarity
        |FROM bg b JOIN fr USING (bg) GROUP BY b.doc_id""".stripMargin,
    // WCC size histogram: each component = a nation + its customers +
    // their orders (all fks verified non-null/valid in the fixture)
    "graph_wcc" -> wccHistogramOracleSql,
    // the incremental fold must reproduce the full recompute's
    // component structure — same oracle, verbatim
    "graph_wcc_incr" -> wccHistogramOracleSql,
    // the streamed fold's exactness claim IS full-recompute equality —
    // identical SQL, identical hash required (stream_wcc runs the same
    // edge set through micro-batched connectedComponentsAppend folds)
    "stream_wcc" -> wccHistogramOracleSql,
    // triangle count: generic 3-way self-join oracle over the same edge
    // list (string node keys; counts are relabeling-invariant)
    "graph_triangles" ->
      """WITH edges AS (
        |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS s,
        |         'n' || CAST(c_nationkey AS VARCHAR) AS o FROM customer
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR) FROM nation
        |  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR)
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR)
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR),
        |         'c' || CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'n' || CAST(n_nationkey - 1 AS VARCHAR)
        |    FROM nation WHERE n_nationkey >= 1),
        |u AS (SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        |  FROM edges WHERE s <> o),
        |t AS (SELECT count(*) AS n_triangles
        |  FROM u e1 JOIN u e2 ON e2.a = e1.b
        |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM u) AS n_edges, n_triangles FROM t""".stripMargin,
    // BFS distance histogram: generic recursive-CTE BFS over the same
    // string-keyed edge list (source = max-key nation; UNION dedups
    // (node, depth) pairs, min(d) per node = hop distance)
    "graph_bfs" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS u,
        |         'n' || CAST(n_nationkey - 1 AS VARCHAR) AS v
        |    FROM nation WHERE n_nationkey >= 1
        |  UNION ALL SELECT 'n' || CAST(c_nationkey AS VARCHAR),
        |         'c' || CAST(c_custkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
        |         'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
        |walk(node, d) AS (
        |  SELECT 'n' || CAST((SELECT max(n_nationkey) FROM nation) AS VARCHAR), 0
        |  UNION
        |  SELECT e.v, w.d + 1 FROM walk w JOIN edges e ON e.u = w.node
        |  WHERE w.d < 64),
        |md AS (SELECT node, min(d) AS dist FROM walk GROUP BY node)
        |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes
        |FROM md GROUP BY dist""".stripMargin,
    // harmonic centrality: exact-rational recomputation — keyed
    // recursive-CTE BFS from the same 4 nation sources, BIGINT
    // lcm(1..40)/d sums, identical single division
    "graph_harmonic" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS u,
        |         'n' || CAST(n_nationkey - 1 AS VARCHAR) AS v
        |    FROM nation WHERE n_nationkey >= 1
        |  UNION ALL SELECT 'n' || CAST(c_nationkey AS VARCHAR),
        |         'c' || CAST(c_custkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
        |         'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
        |walk(s, node, d) AS (
        |  SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'n' || CAST(n_nationkey AS VARCHAR), 0
        |    FROM nation WHERE n_nationkey <= 3
        |  UNION
        |  SELECT w.s, e.v, w.d + 1 FROM walk w JOIN edges e ON e.u = w.node
        |  WHERE w.d < 40),
        |md AS (SELECT s, node, min(d) AS d FROM walk GROUP BY s, node),
        |h AS (SELECT node, CAST(sum(5342931457063200 // d) AS BIGINT) AS num
        |  FROM md WHERE d > 0 GROUP BY node)
        |SELECT num, count(*) AS n_nodes,
        |  CAST(num AS DOUBLE) / 5342931457063200.0 AS score
        |FROM h GROUP BY num""".stripMargin,
    // HITS differential contract: distributed join+agg recurrence vs
    // sequential reference on the same edges (node universe as pagerank)
    "graph_hits" ->
      """SELECT TRUE AS hits_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes""".stripMargin,
    // funnel: naive ordered triple self-join, min completion per user
    "q_funnel" ->
      """SELECT e1.user_id,
        |  CAST(epoch_us(min(e3.ts)) AS BIGINT) AS completed_us
        |FROM events e1
        |JOIN events e2 ON e2.user_id = e1.user_id AND e2.ts > e1.ts
        |JOIN events e3 ON e3.user_id = e2.user_id AND e3.ts > e2.ts
        |WHERE e1.event_type = 'view' AND e2.event_type = 'click'
        |  AND e3.event_type = 'purchase'
        |GROUP BY e1.user_id""".stripMargin,
    // clustering profile: per-node triangle membership over the same
    // string-keyed edges (triangle = {e1.a, e1.b, e2.b}), left-joined
    // onto degrees so triangle-free nodes count at tri = 0
    "graph_clustering" ->
      """WITH edges AS (
        |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS s,
        |         'n' || CAST(c_nationkey AS VARCHAR) AS o FROM customer
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR) FROM nation
        |  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR)
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR)
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR),
        |         'c' || CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'n' || CAST(n_nationkey - 1 AS VARCHAR)
        |    FROM nation WHERE n_nationkey >= 1),
        |u AS (SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        |  FROM edges WHERE s <> o),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
        |  SELECT a AS n FROM u UNION ALL SELECT b FROM u) GROUP BY n),
        |tn AS (SELECT unnest([e1.a, e1.b, e2.b]) AS n
        |  FROM u e1 JOIN u e2 ON e2.a = e1.b
        |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tric AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM tn GROUP BY n)
        |SELECT dg, coalesce(tri, 0) AS tri, count(*) AS n_nodes
        |FROM deg LEFT JOIN tric USING (n)
        |GROUP BY dg, coalesce(tri, 0)""".stripMargin,
    // random-walk corpus contract: engine-side validity/determinism
    // assertions (walks are hash-seeded — no SQL-expressible oracle)
    "graph_walks" -> "SELECT TRUE AS walks_ok",
    // LPA differential contract: same node universe as graph_pagerank
    "graph_lpa" ->
      """SELECT TRUE AS lpa_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes""".stripMargin,
    // MSF differential contract; the connected star graph's spanning
    // forest has node-count - 1 edges
    "graph_mst" ->
      """SELECT TRUE AS msf_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) - 1 AS BIGINT) AS n_edges""".stripMargin,
    // weighted shortest paths: recursive-CTE path enumeration, min per
    // node (the 100 cap only prunes paths already beaten — every optimal
    // path's prefix sums stay below it)
    "graph_sssp" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS u,
        |         'n' || CAST(n_nationkey - 1 AS VARCHAR) AS v,
        |         CAST(1 + n_nationkey % 3 AS BIGINT) AS w
        |    FROM nation WHERE n_nationkey >= 1
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'n' || CAST(n_nationkey - 2 AS VARCHAR), CAST(3 AS BIGINT)
        |    FROM nation WHERE n_nationkey >= 2
        |  UNION ALL SELECT 'n' || CAST(c_nationkey AS VARCHAR),
        |         'c' || CAST(c_custkey AS VARCHAR),
        |         CAST(1 + c_custkey % 7 AS BIGINT) FROM customer
        |  UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR),
        |         'o' || CAST(o_orderkey AS VARCHAR),
        |         CAST(1 + o_orderkey % 4 AS BIGINT) FROM orders),
        |walk(node, dd) AS (
        |  SELECT 'n' || CAST((SELECT max(n_nationkey) FROM nation) AS VARCHAR),
        |         CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.v, w.dd + e.w FROM walk w JOIN edges e ON e.u = w.node
        |  WHERE w.dd < 100)
        |SELECT node, CAST(min(dd) AS BIGINT) AS dist
        |FROM walk GROUP BY node""".stripMargin,
    // k-core differential contract: sequential peel on the collected
    // edges; n_core_nodes = the surviving nation chain + regions
    "graph_kcore" -> "SELECT TRUE AS kcore_ok, CAST((SELECT count(*) FROM nation) + (SELECT count(*) FROM region) AS BIGINT) AS n_core_nodes",
    // layout contract: clustered file fences must beat unclustered
    "layout_zorder" -> "SELECT TRUE AS zorder_ok",
    // HyperBall contract: estimates checked engine-side; the oracle pins
    // the node universe (customers + nations)
    "graph_hyperball" ->
      """SELECT TRUE AS hyperball_ok,
        |  CAST((SELECT count(*) FROM customer)
        |    + (SELECT count(*) FROM nation) AS BIGINT) AS n_nodes""".stripMargin,
    // k-truss: exact-map contract engine-side; the oracle recounts the
    // canonical undirected input edges (same u CTE as graph_triangles)
    "graph_ktruss" ->
      """WITH edges AS (
        |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS s,
        |         'n' || CAST(c_nationkey AS VARCHAR) AS o FROM customer
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR) FROM nation
        |  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR)
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR),
        |         'r' || CAST(n_regionkey AS VARCHAR)
        |    FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR),
        |         'c' || CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR),
        |         'n' || CAST(n_nationkey - 1 AS VARCHAR)
        |    FROM nation WHERE n_nationkey >= 1),
        |u AS (SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        |  FROM edges WHERE s <> o)
        |SELECT TRUE AS ktruss_ok,
        |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_input_edges""".stripMargin,
    // label spreading: exact-map contract engine-side; after 30 rounds
    // every star-graph node is labeled (max region distance ~27), so
    // the oracle recounts the full node universe
    "graph_labelspread" ->
      """SELECT TRUE AS spread_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_labeled""".stripMargin,
    // sampled-betweenness contract: limit exactness + error bound are
    // checked engine-side; the oracle pins the node universe of the
    // customer→nation→region star and the sample size
    "graph_betweenness_approx" ->
      """SELECT TRUE AS approx_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) AS BIGINT) AS n_nodes,
        |  CAST(LEAST(256, (SELECT count(*) FROM customer)
        |    + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region)) AS BIGINT) AS k""".stripMargin,
    // betweenness contract: estimates checked engine-side; the oracle
    // pins the node universe of the five-predicate star graph
    "graph_betweenness" ->
      """SELECT TRUE AS bc_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes,
        |  CAST(4 AS BIGINT) AS n_sources""".stripMargin,
    // Louvain on the planted ring partition: the expected communities
    // are a pure formula of the node id — VALUE-LEVEL row-for-row match
    // for both the driver tier and the forced-distributed tier
    "graph_louvain" ->
      """SELECT CAST(range AS BIGINT) AS node,
        |  CAST(range // 20 * 20 AS BIGINT) AS community
        |FROM range(200)""".stripMargin,
    "graph_louvain_dist" ->
      """SELECT CAST(range AS BIGINT) AS node,
        |  CAST(range // 20 * 20 AS BIGINT) AS community
        |FROM range(200)""".stripMargin,
    // Katz: the 8 exact-dyadic rounds unrolled as chained CTEs — the
    // BIGINT walk counts y = x·4^8 must match value-for-value, and the
    // score is the same single IEEE division in both engines
    "graph_katz" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS comm FROM customer),
        |chain AS (SELECT node AS s, lead(node) OVER
        |    (PARTITION BY comm ORDER BY node) AS o FROM c),
        |cr AS (SELECT node AS s,
        |    (node + 7) % (SELECT count(*) FROM c) AS o FROM c),
        |e AS (SELECT DISTINCT s, o FROM
        |  (SELECT s, o FROM chain WHERE o IS NOT NULL
        |   UNION ALL SELECT s, o FROM cr)),
        |nd AS (SELECT DISTINCT node FROM
        |  (SELECT s AS node FROM e UNION ALL SELECT o FROM e)),
        |x1 AS (SELECT node, CAST(65536 AS BIGINT) AS y FROM nd),
        |x2 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x1 x ON x.node = e.s GROUP BY e.o) i USING (node)),
        |x3 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x2 x ON x.node = e.s GROUP BY e.o) i USING (node)),
        |x4 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x3 x ON x.node = e.s GROUP BY e.o) i USING (node)),
        |x5 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x4 x ON x.node = e.s GROUP BY e.o) i USING (node)),
        |x6 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x5 x ON x.node = e.s GROUP BY e.o) i USING (node)),
        |x7 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x6 x ON x.node = e.s GROUP BY e.o) i USING (node)),
        |x8 AS (SELECT nd.node, CAST(65536 + COALESCE(i.sy, 0) // 4 AS BIGINT) AS y
        |  FROM nd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
        |    FROM e JOIN x7 x ON x.node = e.s GROUP BY e.o) i USING (node))
        |SELECT node, y AS num, CAST(y AS DOUBLE) / 65536.0 AS score
        |FROM x8""".stripMargin,
    // Personalized PageRank: same unrolled-dyadic-rounds pattern as
    // katz — y_{t+1} = 6·8^t·seed + Σ inflow, all BIGINT, one division
    "graph_ppr" -> {
      val rounds = (1 to 8).map { tt =>
        val cst = 6L * (1L << (3 * (tt - 1)))
        s"""x$tt AS (SELECT sd.node, CAST($cst * sd.sf + COALESCE(i.sy, 0) AS BIGINT) AS y
           |  FROM sd LEFT JOIN (SELECT e.o AS node, SUM(x.y) AS sy
           |    FROM e JOIN x${tt - 1} x ON x.node = e.s GROUP BY e.o) i USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
         |n AS (SELECT count(*) AS nn FROM c),
         |e AS (SELECT DISTINCT s, o FROM (
         |  SELECT node AS s, (node + 1) % nn AS o FROM c, n
         |  UNION ALL
         |  SELECT node AS s, (node + 7) % nn AS o FROM c, n)),
         |nd AS (SELECT DISTINCT node FROM
         |  (SELECT s AS node FROM e UNION ALL SELECT o FROM e)),
         |sd AS (SELECT node, CAST(CASE WHEN node % 97 = 1 THEN 1 ELSE 0 END
         |    AS BIGINT) AS sf FROM nd),
         |x0 AS (SELECT node, sf AS y FROM sd),
         |$rounds
         |SELECT node, y AS num, CAST(y AS DOUBLE) / 16777216.0 AS score
         |FROM x8""".stripMargin
    },
    // 4-clique census: canonical a<b edges, triangles as the a<b<c
    // 3-way join, 4-cliques as the explicit 6-edge 4-way join (d > c)
    "graph_cliques" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS comm FROM customer),
        |bk AS (SELECT node, node % ((SELECT count(*) FROM c) // 5) AS b
        |  FROM c),
        |pe AS (SELECT l.node AS s, r.node AS o FROM bk l
        |  JOIN bk r ON l.b = r.b AND l.node < r.node),
        |chain AS (SELECT node AS s, lead(node) OVER
        |    (PARTITION BY comm ORDER BY node) AS o FROM c),
        |e AS (SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b FROM
        |  (SELECT s, o FROM pe
        |   UNION ALL SELECT s, o FROM chain WHERE o IS NOT NULL)
        |  WHERE s <> o),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |c4 AS (SELECT count(*) AS n4 FROM tri t
        |  JOIN e e4 ON e4.a = t.x AND e4.b > t.z
        |  JOIN e e5 ON e5.a = t.y AND e5.b = e4.b
        |  JOIN e e6 ON e6.a = t.z AND e6.b = e4.b)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM tri) AS n_triangles,
        |  (SELECT n4 FROM c4) AS n_4cliques""".stripMargin,
    // Reciprocity: distinct directed edges, mates via the reversed
    // self-join, one IEEE division — bitwise value-level match
    "graph_reciprocity" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS comm FROM customer),
        |chain AS (SELECT node AS s, lead(node) OVER
        |    (PARTITION BY comm ORDER BY node) AS o FROM c),
        |ch AS (SELECT s, o FROM chain WHERE o IS NOT NULL),
        |e AS (SELECT DISTINCT s AS u, o AS v FROM
        |  (SELECT s, o FROM ch
        |   UNION ALL SELECT o AS s, s AS o FROM ch WHERE s % 3 = 0)
        |  WHERE s <> o),
        |m AS (SELECT count(*) AS n_mutual FROM e a
        |  WHERE EXISTS (SELECT 1 FROM e b WHERE b.u = a.v AND b.v = a.u))
        |SELECT (SELECT count(*) FROM e) AS n_edges, n_mutual,
        |  CAST(n_mutual AS DOUBLE) / CAST((SELECT count(*) FROM e) AS DOUBLE) AS r
        |FROM m""".stripMargin,
    // Assortativity: identical harness edges, exact BIGINT moment sums,
    // the same fixed IEEE op sequence for r — bitwise value-level match
    "graph_assortativity" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS comm FROM customer),
        |chain AS (SELECT node AS s, lead(node) OVER
        |    (PARTITION BY comm ORDER BY node) AS o FROM c),
        |cr AS (SELECT node AS s,
        |    (node + 7) % (SELECT count(*) FROM c) AS o FROM c),
        |e0 AS (SELECT s, o FROM chain WHERE o IS NOT NULL
        |  UNION ALL SELECT s, o FROM cr),
        |u AS (SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        |  FROM e0 WHERE s <> o),
        |sym AS (SELECT a AS x, b AS yy FROM u
        |  UNION ALL SELECT b AS x, a AS yy FROM u),
        |deg AS (SELECT x AS n, count(*) AS d FROM sym GROUP BY x),
        |wd AS (SELECT dj.d AS j, dk.d AS k FROM sym
        |  JOIN deg dj ON dj.n = sym.x JOIN deg dk ON dk.n = sym.yy),
        |s AS (SELECT count(*) AS m, CAST(SUM(j * k) AS BIGINT) AS sjk,
        |    CAST(SUM(j) AS BIGINT) AS sj, CAST(SUM(k) AS BIGINT) AS sk,
        |    CAST(SUM(j * j) AS BIGINT) AS sjj,
        |    CAST(SUM(k * k) AS BIGINT) AS skk FROM wd)
        |SELECT m, sjk, sj, sk, sjj, skk,
        |  CAST(m * sjk - sj * sk AS DOUBLE) /
        |    sqrt(CAST(m * sjj - sj * sj AS DOUBLE)
        |      * CAST(m * skk - sk * sk AS DOUBLE)) AS r
        |FROM s""".stripMargin,
    // temporal reachability: recursive enumeration of feasible
    // (node, arrival) states under the nondecreasing-timestamp rule;
    // min per node = the operator's fixed point
    "graph_temporal" ->
      """WITH RECURSIVE c AS (SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS comm FROM customer),
        |chain AS (SELECT node AS s, lead(node) OVER
        |    (PARTITION BY comm ORDER BY node) AS o FROM c),
        |e AS (SELECT s, o, (s * 7 + 3) % 97 AS t FROM chain
        |    WHERE o IS NOT NULL
        |  UNION ALL SELECT node AS s,
        |    (node + 7) % (SELECT count(*) FROM c) AS o,
        |    (node * 13 + 5) % 97 AS t FROM c),
        |r(node, arr) AS (
        |  SELECT node, CAST(0 AS BIGINT) AS arr FROM c WHERE node % 100 = 1
        |  UNION
        |  SELECT e.o, e.t FROM r JOIN e ON e.s = r.node AND e.t >= r.arr)
        |SELECT node, min(arr) AS arrival FROM r GROUP BY node""".stripMargin,
    // Luby MIS: independence/maximality/sequential-replay equality are
    // checked engine-side (relational counts + identical-priority
    // replay); the oracle pins the star graph's node universe
    "graph_mis" ->
      """SELECT TRUE AS mis_independent, TRUE AS mis_maximal,
        |  TRUE AS mis_matches_seq,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes""".stripMargin,
    // core decomposition: differential equality runs engine-side; the
    // node universe and the structural max coreness cross engines
    "graph_coreness" ->
      """SELECT TRUE AS coreness_ok,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes,
        |  CAST(2 AS BIGINT) AS max_coreness""".stripMargin,
    // greedy coloring: validity checks run engine-side; node universe
    // pinned relationally
    "graph_coloring" ->
      """SELECT TRUE AS coloring_proper, TRUE AS coloring_complete,
        |  TRUE AS coloring_bounded,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM nation)
        |    + (SELECT count(*) FROM region) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes""".stripMargin,
    // Jaccard link prediction: same co-occurrence expansion, exact
    // integer counts, one double division — value-level bitwise match
    "graph_linkpred" ->
      """WITH e AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS i,
        |    CAST(l_orderkey AS BIGINT) AS c FROM lineitem),
        |keep AS (SELECT c FROM e GROUP BY c HAVING count(*) <= 1000),
        |ek AS (SELECT e.i, e.c FROM e JOIN keep USING (c)),
        |deg AS (SELECT i, count(*) AS d FROM ek GROUP BY i),
        |ix AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS inter
        |  FROM ek a JOIN ek b ON a.c = b.c AND a.i < b.i GROUP BY 1, 2)
        |SELECT item_a, item_b, inter,
        |  da.d + db.d - inter AS uni,
        |  CAST(inter AS DOUBLE) / (da.d + db.d - inter) AS jaccard
        |FROM ix JOIN deg da ON da.i = item_a JOIN deg db ON db.i = item_b
        |WHERE CAST(inter AS DOUBLE) / (da.d + db.d - inter) >= 0.05""".stripMargin,
    // Newman modularity: identical harness edges (within-nation chain +
    // (c+7) mod N shortcuts), identical exact integers, one IEEE
    // division — value-level match, not a contract
    "graph_modularity" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS comm FROM customer),
        |chain AS (SELECT node AS s, lead(node) OVER
        |    (PARTITION BY comm ORDER BY node) AS o FROM c),
        |cr AS (SELECT node AS s,
        |    (node + 7) % (SELECT count(*) FROM c) AS o FROM c),
        |e0 AS (SELECT s, o FROM chain WHERE o IS NOT NULL
        |  UNION ALL SELECT s, o FROM cr),
        |u AS (SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        |  FROM e0 WHERE s <> o),
        |m AS (SELECT count(*) AS m FROM u),
        |deg AS (SELECT n, count(*) AS d FROM
        |  (SELECT a AS n FROM u UNION ALL SELECT b FROM u) GROUP BY n),
        |ein AS (SELECT ca.comm AS comm, count(*) AS e_in FROM u
        |  JOIN c ca ON u.a = ca.node JOIN c cb ON u.b = cb.node
        |  WHERE ca.comm = cb.comm GROUP BY ca.comm),
        |degc AS (SELECT c.comm, sum(d) AS deg_sum FROM deg
        |  JOIN c ON deg.n = c.node GROUP BY c.comm)
        |SELECT cm.comm AS community, COALESCE(e_in, 0) AS e_in,
        |  CAST(COALESCE(deg_sum, 0) AS BIGINT) AS deg_sum,
        |  CAST(4 * m.m * COALESCE(e_in, 0)
        |      - COALESCE(deg_sum, 0) * COALESCE(deg_sum, 0) AS DOUBLE)
        |    / CAST(4 * m.m * m.m AS DOUBLE) AS dq
        |FROM (SELECT DISTINCT comm FROM c) cm CROSS JOIN m
        |LEFT JOIN ein ON ein.comm = cm.comm
        |LEFT JOIN degc ON degc.comm = cm.comm""".stripMargin,
    // SCC contract: nodes = regions + customers + orders; SCCs = the one
    // region cycle + one per customer (its %10 orders merge in) + one
    // per non-%10 order
    "graph_scc" ->
      """SELECT TRUE AS scc_ok,
        |  CAST((SELECT count(*) FROM region) + (SELECT count(*) FROM customer)
        |    + (SELECT count(*) FROM orders) AS BIGINT) AS n_nodes,
        |  CAST(1 + (SELECT count(*) FROM customer)
        |    + (SELECT count(*) FROM orders WHERE o_orderkey % 10 <> 0)
        |    AS BIGINT) AS n_sccs""".stripMargin,
    // interval-containment join: naive BETWEEN oracle over the same
    // deterministically derived 2-day windows (whole-second bounds, so
    // the engine's epoch-second comparison is exactly equivalent)
    "q_interval" ->
      """WITH iv AS (SELECT o_orderkey, o_custkey,
        |    TIMESTAMP '2024-01-01' + ((o_orderkey % 29) * INTERVAL 1 DAY) AS start_ts,
        |    TIMESTAMP '2024-01-01' + ((o_orderkey % 29) * INTERVAL 1 DAY)
        |      + INTERVAL 2 DAY AS end_ts
        |  FROM orders)
        |SELECT e.event_id, e.user_id, iv.o_orderkey
        |FROM events e JOIN iv ON iv.o_custkey = e.user_id
        |  AND e.ts >= iv.start_ts AND e.ts < iv.end_ts""".stripMargin,
    // skip-grams: positional self-join over ordinal tokens; the weight
    // sums lcm(1..3)/d as BIGINT, one final double division
    "text_skipgrams" ->
      """WITH tx AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |tku AS (SELECT doc_id, unnest(list_transform(
        |      range(1, len(string_split(t, ' ')) + 1),
        |      i -> {'pos': i, 'term': string_split(t, ' ')[i]})) AS s
        |  FROM tx WHERE length(t) > 0),
        |tk AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.term AS term
        |  FROM tku),
        |fwd AS (SELECT a.term AS center, b.term AS context, b.pos - a.pos AS d
        |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos > a.pos
        |    AND b.pos - a.pos <= 3),
        |pairs AS (SELECT center, context, d FROM fwd
        |  UNION ALL SELECT context, center, d FROM fwd)
        |SELECT center, context, count(*) AS n,
        |  CAST(sum(CAST(6 AS BIGINT) // d) AS DOUBLE)
        |    / CAST(6 AS DOUBLE) AS weight
        |FROM pairs GROUP BY center, context""".stripMargin,
    // BM25: identical IEEE op sequence (every literal and intermediate
    // CAST to DOUBLE — DuckDB decimal literals would otherwise run the
    // scoring in DECIMAL arithmetic and break float parity)
    "text_bm25" ->
      """WITH tx AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |dls AS (SELECT doc_id, CAST(CASE WHEN length(t) = 0 THEN 0
        |    ELSE length(string_split(t, ' ')) END AS BIGINT) AS dl FROM tx),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dls),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term
        |  FROM tx WHERE length(t) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
        |  WHERE term IN ('spark', 'join', 'hash', 'scan') GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.term, tf.doc_id,
        |    ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |    * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |        * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |           + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))) AS score
        |  FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id) CROSS JOIN tot)
        |SELECT term, doc_id, rank, score FROM (
        |  SELECT term, doc_id, CAST(row_number() OVER (
        |      PARTITION BY term ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |    score FROM sc) r
        |WHERE rank <= 10""".stripMargin,
    // search store probe == full-corpus BM25, value for value (same
    // per-term formula as text_bm25; per-query totals sum in ascending
    // term order — list_sum of an ORDER BY term list runs the identical
    // left-to-right IEEE additions as the engine's sort_array+aggregate)
    "text_search" ->
      """WITH tx AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |dls AS (SELECT doc_id, CAST(CASE WHEN length(t) = 0 THEN 0
        |    ELSE length(string_split(t, ' ')) END AS BIGINT) AS dl FROM tx),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dls),
        |q AS (SELECT CAST(qid AS BIGINT) AS query_id, term FROM (VALUES
        |    (1, 'spark'), (1, 'join'), (2, 'hash'), (2, 'scan'),
        |    (3, 'spark'), (3, 'hash'), (3, 'scan'), (3, 'join'),
        |    (4, 'scan')) AS v(qid, term)),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term
        |  FROM tx WHERE length(t) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.term, tf.doc_id,
        |    ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |    * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |        * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |           + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))) AS score
        |  FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id) CROSS JOIN tot),
        |qs AS (SELECT q.query_id, sc.doc_id,
        |    list_sum(list(sc.score ORDER BY sc.term)) AS score,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM q JOIN sc USING (term) GROUP BY q.query_id, sc.doc_id)
        |SELECT query_id, doc_id, rank, score, n_terms FROM (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |    score, n_terms FROM qs) r
        |WHERE rank <= 10""".stripMargin,
    // hybrid RRF fusion: lexical rank table = the text_search pipeline
    // (three queries), dense rank table = the sim_batch_topk pipeline
    // (vec_id < 3, shifted +1); fused score = Σ lcm(61..70)//(60+rank),
    // an exact BIGINT sum, ONE double division at the end
    "hybrid_search" ->
      """WITH tx AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |dls AS (SELECT doc_id, CAST(CASE WHEN length(t) = 0 THEN 0
        |    ELSE length(string_split(t, ' ')) END AS BIGINT) AS dl FROM tx),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dls),
        |q AS (SELECT CAST(qid AS BIGINT) AS query_id, term FROM (VALUES
        |    (1, 'spark'), (1, 'join'), (2, 'hash'), (2, 'scan'),
        |    (3, 'parquet'), (3, 'scan')) AS v(qid, term)),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term
        |  FROM tx WHERE length(t) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.term, tf.doc_id,
        |    ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |    * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |        * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |           + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))) AS score
        |  FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id) CROSS JOIN tot),
        |qs AS (SELECT q.query_id, sc.doc_id,
        |    list_sum(list(sc.score ORDER BY sc.term)) AS score
        |  FROM q JOIN sc USING (term) GROUP BY q.query_id, sc.doc_id),
        |lexr AS (SELECT query_id, doc_id AS id, rank FROM (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |    FROM qs) r WHERE rank <= 10),
        |denr AS (SELECT query_id + 1 AS query_id, id, rank FROM (
        |  SELECT p.vec_id AS query_id, c.vec_id AS id,
        |    CAST(row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, p.embedding) DESC,
        |        c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings c JOIN embeddings p
        |    ON p.vec_id < 3 AND c.vec_id <> p.vec_id) d WHERE rank <= 10),
        |u AS (SELECT * FROM lexr UNION ALL SELECT * FROM denr),
        |f AS (SELECT query_id, id, sum(142813628717760 // (60 + rank)) AS num,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM u GROUP BY query_id, id)
        |SELECT query_id, id, rank,
        |  CAST(num AS DOUBLE) / CAST(142813628717760 AS DOUBLE) AS score,
        |  n_sources
        |FROM (SELECT query_id, id, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY num DESC, id) AS BIGINT) AS rank,
        |    num, n_sources FROM f) r
        |WHERE rank <= 10""".stripMargin,
    // sketch contracts are engine-side assertions (approx within 5% of
    // exact); the oracle records the contract
    "stats_sketch" -> "SELECT TRUE AS hll_ok, TRUE AS quantile_ok",
    // explicit HLL: identical md5-derived bucket/ρ split, exact-integer
    // harmonic sum via bit shifts, one double division — all 64 cells
    // value-level bitwise
    "stats_hll" ->
      """WITH tok AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |h AS (SELECT CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
        |  FROM tok WHERE length(term) > 0),
        |br AS (SELECT h % 64 AS bucket, h // 64 AS w FROM h),
        |rho AS (SELECT bucket,
        |    CASE WHEN w = 0 THEN 55
        |      ELSE 55 - length(ltrim(bin(w), '0')) END AS rho FROM br),
        |reg AS (SELECT r.range AS bucket,
        |    COALESCE(max(rho.rho), 0) AS register
        |  FROM range(64) r LEFT JOIN rho ON rho.bucket = r.range
        |  GROUP BY 1),
        |s AS (SELECT CAST(sum(CAST(1 AS BIGINT) <<
        |    CAST(55 - register AS INT)) AS BIGINT) AS s_scaled FROM reg)
        |SELECT bucket, CAST(register AS BIGINT) AS register, s_scaled,
        |  CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |    * CAST(36028797018963968 AS DOUBLE)
        |    / CAST(s_scaled AS DOUBLE) AS estimate
        |FROM reg, s""".stripMargin,
    // per-week HLL over user ids: identical md5/bucket/rho pipeline per
    // key; absent buckets enter the harmonic sum via the
    // (64 - present) * 2^55 correction on both engines
    "q_distinct_sketch" ->
      """WITH u AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
        |    user_id FROM events WHERE user_id IS NOT NULL),
        |h AS (SELECT wk, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM u),
        |br AS (SELECT wk, h % 64 AS bucket, h // 64 AS w FROM h),
        |rho AS (SELECT wk, bucket,
        |    CASE WHEN w = 0 THEN 55
        |      ELSE 55 - length(ltrim(bin(w), '0')) END AS rho FROM br),
        |reg AS (SELECT wk, bucket, max(rho) AS register FROM rho
        |  GROUP BY 1, 2),
        |agg AS (SELECT wk, count(*) AS n_buckets,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - register AS INT))
        |      + (64 - count(*)) * 36028797018963968 AS BIGINT) AS s_scaled
        |  FROM reg GROUP BY wk),
        |ex AS (SELECT wk, count(DISTINCT user_id) AS n_users FROM u
        |  GROUP BY wk)
        |SELECT agg.wk, n_buckets, s_scaled,
        |  CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |    * CAST(36028797018963968 AS DOUBLE)
        |    / CAST(s_scaled AS DOUBLE) AS estimate, n_users
        |FROM agg JOIN ex ON ex.wk = agg.wk""".stripMargin,
    // weighted sampling: guarantees checked engine-side; corpus size
    // crosses engines
    "q_weighted_sample" ->
      """SELECT TRUE AS sample_ok, CAST(100 AS BIGINT) AS k,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs""".stripMargin,
    // blocklist: LIKE-disjunction brute force over the same
    // normalization
    "text_blocklist" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT doc_id FROM n WHERE t LIKE '%slow join%'
        |  OR t LIKE '%fast scan%' OR t LIKE '%big query%'""".stripMargin,
    // classifier accuracy checked engine-side; the oracle recomputes
    // the md5 feature buckets, the parity-planted labels, the margin
    // gap, and the md5 split — so the counts verify the whole
    // featurize→label→split pipeline
    "text_lr" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 64 AS bucket
        |  FROM tok WHERE length(term) > 0),
        |p AS (SELECT doc_id, sum(1 - 2 * (bucket % 2)) AS planted
        |  FROM b GROUP BY doc_id),
        |sel AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < 0.2 AS hold
        |  FROM p WHERE abs(planted) >= 4)
        |SELECT TRUE AS lr_ok,
        |  (SELECT count(*) FROM sel WHERE NOT hold) AS n_train,
        |  (SELECT count(*) FROM sel WHERE hold) AS n_holdout""".stripMargin,
    // count-min guarantees checked engine-side; the oracle recounts the
    // total token stream the sketch summarizes
    "text_cms" ->
      """SELECT TRUE AS cms_lower_ok, TRUE AS cms_over_ok,
        |  (SELECT CAST(sum(CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0
        |    ELSE length(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) END) AS BIGINT)
        |   FROM documents) AS n_tokens""".stripMargin,
    // frequent-line scrub: same 100-char chunk "lines" as text_chunks,
    // boilerplate = chunk md5 in > 1 distinct doc, ordered reassembly
    "text_linededup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |c AS (SELECT doc_id, text,
        |    CASE WHEN len <= 100 THEN 1
        |      ELSE CAST(ceil((len - 100) / 100.0) AS BIGINT) + 1 END AS n FROM d),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS line_no,
        |    substr(text, CAST(i * 100 + 1 AS INT), 100) AS line
        |  FROM c, LATERAL unnest(range(0, n)) AS u(i)),
        |bad AS (SELECT md5(line) AS k FROM l
        |  GROUP BY md5(line) HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT * FROM l WHERE md5(line) NOT IN (SELECT k FROM bad)),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
        |rb AS (SELECT doc_id, string_agg(line, '' ORDER BY line_no) AS text_clean,
        |    count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(rb.text_clean, '') AS text_clean,
        |  t.n_lines, coalesce(rb.n_kept, 0) AS n_kept
        |FROM tot t LEFT JOIN rb USING (doc_id)""".stripMargin,
    // hashing-trick featurizer: identical 60-bit md5 bucket arithmetic
    "text_hashvec" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM d)
        |SELECT doc_id,
        |  CAST(CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 16 AS BIGINT) AS bucket,
        |  count(*) AS tf
        |FROM tok WHERE length(term) > 0 GROUP BY 1, 2""".stripMargin,
    // heavy-hitter guarantee contract; n_heavy = exact count of event
    // types with c*(k+1) > N (k=4)
    "stats_heavy" ->
      """WITH f AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM events)
        |SELECT TRUE AS heavy_ok,
        |  CAST((SELECT count(*) FROM f, n WHERE c * 5 > nn) AS BIGINT) AS n_heavy""".stripMargin,
    // streamed MG summary must cover the same relationally-derived
    // heavy set and respect the undercount bound (k = 4 → literal 5)
    "stream_heavy" ->
      """WITH f AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM events)
        |SELECT TRUE AS heavy_ok,
        |  CAST((SELECT count(*) FROM f, n WHERE c * 5 > nn) AS BIGINT) AS n_heavy""".stripMargin,
    // the ANN contract is recall@10 >= 0.8 against the brute-force oracle
    // (sim_topk verifies the brute-force side row-exactly)
    // contract: battery of shapes agrees between local and distributed
    "g_local_parity" -> "SELECT TRUE AS parity_ok",
    // incremental bucketed-store ingest equals rebuild (set + stats +
    // traversal equality, engine-side assertions)
    "g_store_append" -> "SELECT TRUE AS append_ok",
    // one row per BUILDING customer (multiset: out() multiplies per
    // source), rendered in the payload's display form
    "g_store_ops" ->
      ("SELECT 'nation:' || CAST(c_nationkey AS VARCHAR) AS node " +
        "FROM customer WHERE c_mktsegment = 'BUILDING'"),
    // ancestor closure of the nation subClassOf chain via WITH RECURSIVE
    // (reflexive seed = the asserted rdf:type, the recursion follows the
    // existing nation:k -> nation:k-1 edges); rel = every c_nation edge
    // lifted through the c_nation <= assoc <= rel property hierarchy
    "g_inference" ->
      """WITH RECURSIVE anc(k, a) AS (
        |  SELECT n_nationkey, n_nationkey FROM nation
        |  UNION
        |  SELECT anc.k, n.n_nationkey - 1 FROM anc
        |  JOIN nation n ON n.n_nationkey = anc.a
        |  WHERE n.n_nationkey >= 1)
        |SELECT 'type' AS kind,
        |       'customer:' || CAST(c.c_custkey AS VARCHAR) AS subj,
        |       'nation:' || CAST(anc.a AS VARCHAR) AS obj
        |FROM customer c JOIN anc ON anc.k = c.c_nationkey
        |UNION ALL
        |SELECT 'rel' AS kind,
        |       'customer:' || CAST(c_custkey AS VARCHAR) AS subj,
        |       'nation:' || CAST(c_nationkey AS VARCHAR) AS obj
        |FROM customer""".stripMargin,
    "schema_nested" ->
      """SELECT CAST(c_custkey AS BIGINT) AS cid, c_name AS cname,
        |       n_name AS nation_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "schema_from_path" ->
      """SELECT CAST(c_custkey AS BIGINT) AS pid, c_name AS name,
        |       CAST(c_acctbal AS DOUBLE) AS score
        |FROM customer WHERE c_acctbal > 5000""".stripMargin,
    "sim_ann" -> "SELECT TRUE AS recall_ok",
    // incremental IVF append: exactness contract (planted clones top-1,
    // row-count reconciliation across two append batches)
    "sim_ivf_append" -> "SELECT TRUE AS append_ok",
    // streaming near-dup contract: stateful LSH recovers >=80% of the
    // exact batch J>=0.5 later-pair docs (dedup_minhash verifies the
    // batch side row-exactly on the same corpus)
    "stream_neardup" -> "SELECT TRUE AS recall_ok",
    // streaming as-of == batch asofJoin when references arrive first
    // (exact row-for-row equality, engine-side)
    "stream_enrich" -> "SELECT TRUE AS enrich_ok",
    // streaming sessionize == batch sessionize row-for-row (engine-side
    // equality); the oracle re-derives the session count independently
    // from the same second-truncated gap rule
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS tss
        |  FROM events),
        |g AS (SELECT user_id,
        |    CASE WHEN lag(tss) OVER w IS NULL OR tss - lag(tss) OVER w > 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss))
        |SELECT TRUE AS stream_sessionize_ok,
        |  CAST(sum(brk) AS BIGINT) AS n_sessions FROM g""".stripMargin,
    // streaming CMS == batch CMS cell-for-cell (exact long sums)
    "stream_cms" -> "SELECT TRUE AS stream_cms_ok",
    // streamed flags == batch decontaminate flags, hard equality
    "stream_decontam" -> "SELECT TRUE AS stream_decontam_ok",
    // streaming HLL registers == batch registers cell-for-cell
    "stream_hll" -> "SELECT TRUE AS stream_hll_ok",
    "stream_quantiles" -> "SELECT TRUE AS stream_quantiles_ok",
    // hash-sample quantiles: the oracle recomputes the identical md5
    // sample, the identical (value, doc_id) total order, and the
    // identical ceil-rank selection — value-level decile parity
    "text_quantiles" ->
      """WITH tx AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |sm AS (SELECT doc_id,
        |    CAST(CASE WHEN length(t) = 0 THEN 0
        |      ELSE length(string_split(t, ' ')) END AS BIGINT) AS v
        |  FROM tx
        |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 16 = 0),
        |rk AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn
        |  FROM sm),
        |n AS (SELECT count(*) AS n_sample FROM sm)
        |SELECT CAST(d.d AS BIGINT) AS decile,
        |  CAST(n.n_sample AS BIGINT) AS n_sample, rk.v AS value
        |FROM (SELECT unnest(range(1, 10)) AS d) d CROSS JOIN n
        |JOIN rk ON rk.rn = (d.d * n.n_sample + 9) // 10""".stripMargin,
    // multimodal resize pipeline: exact-contract boolean (decode ->
    // resample -> re-encode round-trip preserves constant-color means)
    "mm_resize" -> "SELECT TRUE AS contract_ok",
    "mm_phash" -> "SELECT TRUE AS contract_ok",
    "mm_jpeg" -> "SELECT TRUE AS contract_ok",
    // video contract: exact sampled-frame counts/indexes + per-frame
    // constant-color channel means through the real BMP decoder
    "mm_video" -> "SELECT TRUE AS video_ok",
    "mm_adpcm" -> "SELECT TRUE AS contract_ok",
    "mm_avi" -> "SELECT TRUE AS contract_ok",
    "mm_audiodup" -> "SELECT TRUE AS contract_ok",
    "mm_videodup" -> "SELECT TRUE AS contract_ok",
    "mm_flac" -> "SELECT TRUE AS contract_ok",
    "mm_augment" -> "SELECT TRUE AS contract_ok",
    "mm_condition" -> "SELECT TRUE AS contract_ok",
    // multimodal audio: RIFF/WAVE encode->decode round-trip exactness
    "mm_audio" -> "SELECT TRUE AS contract_ok",
    "mm_alaw" -> "SELECT TRUE AS contract_ok",
    // IVF contract: mean recall@10 over the probe batch >= 0.6
    // (sim_batch_topk verifies the exact side row-exactly)
    "sim_ivf" -> "SELECT TRUE AS recall_ok",
    "sim_rp" -> "SELECT TRUE AS recall_ok",
    "sim_pca" ->
      """SELECT TRUE AS pca_ok,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vecs""".stripMargin,
    "sim_ivf_q" -> "SELECT TRUE AS recall_ok",
    "sim_ivf_pq" -> "SELECT TRUE AS recall_ok",
    // batched ANN: every probe must recover >= 2 of its exact top-3
    // (sim_batch_topk verifies the exact side row-exactly)
    "sim_batch_ann" -> "SELECT TRUE AS recall_ok",
    // banded near-dup + its clustering verify as contracts (recall vs the
    // in-harness exact ground truth over planted near-duplicates)
    "emb_neardup_ann" -> "SELECT TRUE AS recall_ok",
    "emb_neardup_sem" -> "SELECT TRUE AS recall_ok",
    "emb_clusters_ann" -> "SELECT TRUE AS recall_ok",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))""".stripMargin,
    // exact substring-span dedup, brute force: every 40-gram position,
    // count per gram, all-but-first marked, gaps-and-islands merge —
    // integer/string logic only, so it matches the Spark plan row-exactly
    "dedup_spans" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(u.p AS BIGINT) AS p,
        |         substr(text, CAST(u.p AS INT), 40) AS gram
        |  FROM documents, unnest(range(1, length(text) - 38)) u(p)
        |  WHERE length(text) >= 40
        |),
        |marked AS (
        |  SELECT doc_id, p,
        |         row_number() OVER (PARTITION BY gram
        |                            ORDER BY doc_id, p) AS rn
        |  FROM pos
        |),
        |hits AS (SELECT doc_id, p FROM marked WHERE rn > 1),
        |pe AS (
        |  SELECT doc_id, p,
        |         max(p + 40) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prevEnd
        |  FROM hits
        |),
        |isl AS (
        |  SELECT doc_id, p,
        |         sum(CASE WHEN prevEnd IS NULL OR p > prevEnd
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM pe
        |)
        |SELECT doc_id, min(p) AS s, max(p) + 40 AS e
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    "text_fingerprint" ->
      "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents",
    "text_tokens" ->
      """SELECT doc_id, CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0 THEN 0
        |ELSE length(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) END AS n_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents)
        |SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN length(t)=0 THEN 0 ELSE length(string_split(t,' ')) END AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(replace(replace(replace(text,'.',''),'!',''),'?','')) AS BIGINT) AS n_punct,
        |  CAST(CASE WHEN length(t)=0 THEN 0 ELSE list_max(list_transform(string_split(t,' '), w -> length(w))) END AS BIGINT) AS max_word_len
        |FROM n""".stripMargin,
    "text_vocab_topk" ->
      """WITH tok AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS freq FROM tok WHERE length(token) > 0
        |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin,
    "text_subwords" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |    ELSE length(string_split(t, ' ')) +
        |      list_sum(list_transform(string_split(t, ' '),
        |        w -> greatest(0, (length(w) - 1) // 4))) END AS BIGINT) AS n_subwords
        |FROM n""".stripMargin,
    "text_langid" ->
      """WITH n AS (SELECT doc_id,
        |  ' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' ' AS t FROM documents)
        |SELECT doc_id,
        |  CASE WHEN t LIKE '% der %' OR t LIKE '% und %' OR t LIKE '% nicht %' THEN 'de'
        |       WHEN t LIKE '% le %' OR t LIKE '% la %' OR t LIKE '% et %' THEN 'fr'
        |       WHEN t LIKE '% el %' OR t LIKE '% los %' OR t LIKE '% una %' THEN 'es'
        |       WHEN regexp_matches(t, '[一-鿿]') THEN 'zh'
        |       WHEN t LIKE '% the %' OR t LIKE '% and %' OR t LIKE '% of %' THEN 'en'
        |       ELSE 'unk' END AS lang_pred
        |FROM n""".stripMargin,
    "sim_topk" ->
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
        |SELECT a.vec_id FROM embeddings a, q WHERE a.vec_id <> 0
        |ORDER BY list_cosine_similarity(a.embedding, q.e) DESC, a.vec_id
        |LIMIT 10""".stripMargin,
    "sim_batch_topk" ->
      """SELECT query_id, id FROM (
        |  SELECT p.vec_id AS query_id, c.vec_id AS id,
        |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, p.embedding) DESC, c.vec_id) AS rn
        |  FROM embeddings c JOIN embeddings p
        |    ON p.vec_id < 5 AND c.vec_id <> p.vec_id)
        |WHERE rn <= 3""".stripMargin,
    // hard negatives: rank among candidates with the positives relation
    // (c%7 == q%7) excluded BEFORE ranking — rank included in the value
    // check, so exclusion-then-backfill order must match exactly
    "sim_hardneg" ->
      """SELECT query_id, id, rank FROM (
        |  SELECT p.vec_id AS query_id, c.vec_id AS id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, p.embedding) DESC, c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings c JOIN embeddings p
        |    ON p.vec_id < 4 AND c.vec_id <> p.vec_id
        |   AND c.vec_id % 7 <> p.vec_id % 7)
        |WHERE rank <= 10""".stripMargin,
    // MMR: the greedy is unrolled step by step — s1 = relevance argmax,
    // s2/s3 = argmax of 0.5*rel - 0.5*maxsim with maxsim folded via
    // greatest, ties on ascending id; arithmetic shape mirrors the
    // Column expressions exactly (float-parity selection)
    "sim_mmr" ->
      """WITH pool AS (
        |  SELECT query_id, id, cvec, rel FROM (
        |    SELECT p.vec_id AS query_id, c.vec_id AS id,
        |      c.embedding AS cvec,
        |      list_cosine_similarity(c.embedding, p.embedding) AS rel,
        |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_cosine_similarity(c.embedding, p.embedding) DESC,
        |          c.vec_id) AS rn
        |    FROM embeddings c JOIN embeddings p
        |      ON p.vec_id < 3 AND c.vec_id <> p.vec_id) WHERE rn <= 20),
        |s1 AS (SELECT query_id, id, cvec FROM (
        |    SELECT query_id, id, cvec, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY rel DESC, id) AS rn
        |    FROM pool) WHERE rn = 1),
        |r2 AS (SELECT p.query_id, p.id, p.cvec, p.rel,
        |    list_cosine_similarity(p.cvec, s.cvec) AS ms,
        |    CAST(0.5 AS DOUBLE) * p.rel - CAST(0.5 AS DOUBLE) *
        |      list_cosine_similarity(p.cvec, s.cvec) AS mmr
        |  FROM pool p JOIN s1 s USING (query_id) WHERE p.id <> s.id),
        |s2 AS (SELECT query_id, id, cvec, ms FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, id) AS rn FROM r2) WHERE rn = 1),
        |r3 AS (SELECT p.query_id, p.id,
        |    CAST(0.5 AS DOUBLE) * p.rel - CAST(0.5 AS DOUBLE) *
        |      greatest(p.ms, list_cosine_similarity(p.cvec, s.cvec)) AS mmr
        |  FROM r2 p JOIN s2 s USING (query_id) WHERE p.id <> s.id),
        |s3 AS (SELECT query_id, id FROM (
        |    SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, id) AS rn FROM r3) WHERE rn = 1)
        |SELECT query_id, id, CAST(1 AS BIGINT) AS rank FROM s1
        |UNION ALL SELECT query_id, id, CAST(2 AS BIGINT) AS rank FROM s2
        |UNION ALL SELECT query_id, id, CAST(3 AS BIGINT) AS rank FROM s3""".stripMargin)

  // ==================================================== relational/streaming
  private val relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // wide aggregation (map-side partial agg + one shuffle)
    "q1_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        countDistinct("l_orderkey").as("n_orders"))),
    // selective join + agg (broadcastable dimension side)
    "q3_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
        .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    }),
    // CUBE over (returnflag, linestatus): all four grouping sets in one
    // pass (Spark expands to a single Expand + hash aggregate — one
    // shuffle for every rollup level); grouping_id bit order matches
    // DuckDB's GROUPING(a, b) convention (first column = high bit).
    // Sums stay exact (integral quantities in double) at every level
    "q_cube" -> ((s, d) => t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        sum("l_quantity").cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")),
    // pivot orders by status (fixed value list keeps the plan a single
    // aggregate — no extra distinct-values job); missing cells filled 0
    // so the conditional-count oracle mirrors exactly
    "q_pivot" -> ((s, d) => t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))),
    // semi-structured extraction: pull a typed field out of the JSON
    // props column (schema-on-read — the 100 TB shape for event
    // payloads) and aggregate it; exact integer sums
    "q_json" -> ((s, d) => events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), count(lit(1)).as("n"),
        sum(when(col("k") >= 50L, 1L).otherwise(0L)).as("n_hi"))),
    // tumbling-window aggregation over the event stream table
    "q_window" -> ((s, d) => events(s, d)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))),
    // trailing-24h per-user activity count (RANGE frame over epoch
    // seconds — the rolling-feature window shape; one (user, ts)
    // exchange like sessionize)
    "q_rolling" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("es"))
        .rangeBetween(-86399L, Window.currentRow)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").cast("long").as("es"))
        .withColumn("n_24h", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("n_24h"))
    }),
    // first-order event-type transition counts per user (the Markov
    // behavior model): one (user, ts) exchange + tiny aggregate
    "q_transitions" -> ((s, d) =>
      Events.transitions(events(s, d), "user_id", "ts", "event_type",
        "event_id")),
    // z-score outliers on doc length: moments as exact BIGINT sums
    // (n_chars is integral), mu/sigma/z derived with a FIXED IEEE op
    // sequence both engines reproduce — value-level float oracle
    "q_outliers" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val m = docs.agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast("long")).as("s1"),
        sum(col("n_chars").cast("long") * col("n_chars").cast("long"))
          .as("s2")).head
      val n = m.getLong(0); val s1 = m.getLong(1); val s2 = m.getLong(2)
      val mu = s1.toDouble / n
      val sigma = math.sqrt((s2.toDouble - s1.toDouble * s1 / n) / n)
      docs.select(col("doc_id"),
          ((col("n_chars").cast("double") - lit(mu)) / lit(sigma)).as("z"))
        .where(abs(col("z")) > 1.5)
    }),
    // item-based co-occurrence similarity (collaborative filtering):
    // top-3 co-purchasing customers per customer by shared distinct
    // parts (>=3 shared) — exact value-level oracle; the frequent-item
    // cap (capPerKey) is the documented scale path
    "q_copurchase" -> ((s, d) => {
      val cp = t(s, d, "lineitem")
        .join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      graft.analytics.CoOccur.topCoOccur(cp, "o_custkey", "l_partkey",
        k = 3, minShared = 3L)
    }),
    // cohort retention matrix: first-activity week per user, distinct
    // active users per (cohort, week offset) — exact value-level oracle
    "q_retention" -> ((s, d) =>
      Events.retention(events(s, d), "user_id", "ts")),
    // top-k per group via window function
    "q_topk_users" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = events(s, d).select("event_type", "user_id")
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("n").desc, col("user_id"))
      per.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select("event_type", "user_id", "n", "rk")
    }))

  private val relationalOracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT o_orderpriority, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY o_orderpriority""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1""".stripMargin,
    "q_json" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  COUNT(*) AS n,
        |  COUNT(*) FILTER (CAST(json_extract_string(props, '$.k')
        |    AS BIGINT) >= 50) AS n_hi
        |FROM events GROUP BY 1""".stripMargin,
    "q_window" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rolling" ->
      """SELECT event_id, user_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
        |    RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS n_24h
        |FROM events""".stripMargin,
    "q_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS from_state, nxt AS to_state,
        |  count(*) AS n
        |FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // z-score outliers: moments as exact integers, then the identical
    // IEEE op sequence (multiply, divide, subtract, divide, sqrt)
    "q_outliers" ->
      """WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) AS s1d,
        |    CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
        |      AS DOUBLE) AS s2d
        |  FROM documents),
        |p AS (SELECT s1d / nd AS mu,
        |    sqrt((s2d - s1d * s1d / nd) / nd) AS sigma FROM m)
        |SELECT doc_id, (CAST(n_chars AS DOUBLE) - mu) / sigma AS z
        |FROM documents, p
        |WHERE abs((CAST(n_chars AS DOUBLE) - mu) / sigma) > 1.5""".stripMargin,
    "q_copurchase" ->
      """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |pairs AS (SELECT a.c AS c_a, b.c AS c_b,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sym AS (SELECT c_a, c_b, shared FROM pairs
        |  UNION ALL SELECT c_b, c_a, shared FROM pairs)
        |SELECT c_a, c_b, shared, rk FROM (
        |  SELECT c_a, c_b, shared, ROW_NUMBER() OVER
        |    (PARTITION BY c_a ORDER BY shared DESC, c_b) AS rk FROM sym)
        |WHERE rk <= 3""".stripMargin,
    "q_retention" ->
      """WITH w AS (SELECT user_id AS u, date_trunc('week', ts) AS wk
        |  FROM events),
        |c AS (SELECT u, min(wk) AS cohort_week FROM w GROUP BY u)
        |SELECT cohort_week,
        |  CAST((epoch(wk) - epoch(cohort_week)) // 604800 AS BIGINT)
        |    AS week_offset,
        |  count(DISTINCT w.u) AS n_users
        |FROM w JOIN c ON w.u = c.u
        |GROUP BY 1, 2""".stripMargin,
    "q_topk_users" ->
      """SELECT event_type, user_id, n, rk FROM (
        |  SELECT event_type, user_id, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id) AS rk
        |  FROM events GROUP BY event_type, user_id)
        |WHERE rk <= 3""".stripMargin)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graphQueries ++ pipelineQueries ++ relationalQueries

  def oracleSql: Map[String, String] =
    graphOracles ++ pipelineOracles ++ relationalOracles
}
