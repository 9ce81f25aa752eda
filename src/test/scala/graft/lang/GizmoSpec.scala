package graft.lang

import graft.{TestFixtures, TestSpark}
import graft.core.Graph
import org.scalatest.funsuite.AnyFunSuite

/** The reference's Gizmo corpus (/root/reference/query/gizmo/gizmo_test.go
  * :76-800) over testdata.nq, restricted to the fluent-chain subset (cases
  * that require a real JS VM — functions, emit, arithmetic — are expressed
  * in subset form or skipped).
  */
class GizmoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val session: Gizmo.Session = Gizmo.session(
    Graph.fromNQuads(spark, TestFixtures.data("testdata.nq")).cached())

  def ids(q: String): Seq[String] =
    session.execute(q).flatMap(_.get("id")).sorted

  def tags(q: String, tag: String): Seq[String] =
    session.execute(q).flatMap(_.get(tag)).sorted

  def check(q: String, expect: Seq[String]): Unit =
    assert(ids(q) === expect.sorted)

  def checkTag(q: String, tag: String, expect: Seq[String]): Unit =
    assert(tags(q, tag) === expect.sorted)

  test("get a single vertex") {
    check("""g.V("<alice>").all()""", Seq("<alice>"))
  }
  test("get a single vertex (legacy caps)") {
    check("""g.V("<alice>").All()""", Seq("<alice>"))
  }
  test("graph is an alias for g (gizmo.go:113-114)") {
    check("""graph.Vertex("<alice>").all()""", Seq("<alice>"))
  }
  test("use .getLimit") {
    assert(ids("g.V().getLimit(5)").size === 5)
  }
  test("get a single vertex (IRI)") {
    check("""g.V(iri("alice")).all()""", Seq("<alice>"))
  }
  test("use .out()") {
    check("""g.V("<alice>").out("<follows>").all()""", Seq("<bob>"))
  }
  test("use .out() (IRI)") {
    check("""g.V(iri("alice")).out(iri("follows")).all()""", Seq("<bob>"))
  }
  test("use .out() (any)") {
    check("""g.V("<bob>").out().all()""", Seq("<fred>", "cool_person"))
  }
  test("use .in()") {
    check("""g.V("<bob>").in("<follows>").all()""",
      Seq("<alice>", "<charlie>", "<dani>"))
  }
  test("use .in() with .filter()") {
    check("""g.V("<bob>").in("<follows>").filter(gt(iri("c")),lt(iri("d"))).all()""",
      Seq("<charlie>"))
  }
  test("use .in() with .filter(regex)") {
    check("""g.V("<bob>").in("<follows>").filter(regex("ar?li.*e")).all()""", Nil)
  }
  test("use .in() with .filter(prefix)") {
    check("""g.V("<bob>").in("<follows>").filter(like("al%")).all()""",
      Seq("<alice>"))
  }
  test("use .in() with .filter(wildcard)") {
    check("""g.V("<bob>").in("<follows>").filter(like("a?i%e")).all()""",
      Seq("<alice>"))
  }
  test("use .in() with .filter(regex with IRIs)") {
    check("""g.V("<bob>").in("<follows>").filter(regex("ar?li.*e", true)).all()""",
      Seq("<alice>", "<charlie>"))
  }
  test("use .in() with .filter(regex,gt)") {
    check("""g.V("<bob>").in("<follows>").filter(regex("ar?li.*e", true),gt(iri("c"))).all()""",
      Seq("<charlie>"))
  }
  test("use .both()") {
    check("""g.V("<fred>").both("<follows>").all()""",
      Seq("<bob>", "<greg>", "<emily>"))
  }
  test("use .both() with tag") {
    checkTag("""g.V("<fred>").both(null, "pred").all()""", "pred",
      Seq("<follows>", "<follows>", "<follows>"))
  }
  test("use .tag()-.is()-.back()") {
    check("""g.V("<bob>").in("<follows>").tag("foo").out("<status>").is("cool_person").back("foo").all()""",
      Seq("<dani>"))
  }
  test("separate .tag()-.is()-.back()") {
    check(
      """x = g.V("<charlie>").out("<follows>").tag("foo").out("<status>").is("cool_person").back("foo")
        |x.in("<follows>").is("<dani>").back("foo").all()""".stripMargin,
      Seq("<bob>"))
  }
  test("do multiple .back()") {
    checkTag("""g.V("<emily>").out("<follows>").as("f").out("<follows>").out("<status>").is("cool_person").back("f").in("<follows>").in("<follows>").as("acd").out("<status>").is("cool_person").back("f").all()""",
      "acd", Seq("<dani>"))
  }
  test("use Except to filter out a single vertex") {
    check("""g.V("<alice>", "<bob>").except(g.V("<alice>")).all()""",
      Seq("<bob>"))
  }
  test("use chained Except") {
    check("""g.V("<alice>", "<bob>", "<charlie>").except(g.V("<bob>")).except(g.V("<charlie>")).all()""",
      Seq("<alice>"))
  }
  test("use Unique") {
    check("""g.V("<alice>", "<bob>", "<charlie>").out("<follows>").unique().all()""",
      Seq("<bob>", "<dani>", "<fred>"))
  }
  test("show simple morphism") {
    check(
      """grandfollows = g.M().out("<follows>").out("<follows>")
        |g.V("<charlie>").follow(grandfollows).all()""".stripMargin,
      Seq("<greg>", "<fred>", "<bob>"))
  }
  test("show reverse morphism") {
    check(
      """grandfollows = g.M().out("<follows>").out("<follows>")
        |g.V("<fred>").followR(grandfollows).all()""".stripMargin,
      Seq("<alice>", "<charlie>", "<dani>"))
  }
  test("show simple intersection") {
    check("""g.V("<dani>").out("<follows>").and(g.V("<charlie>").out("<follows>")).all()""",
      Seq("<bob>"))
  }
  test("show simple morphism intersection") {
    check(
      """grandfollows = g.M().out("<follows>").out("<follows>")
        |g.V("<alice>").follow(grandfollows).and(g.V("<charlie>").follow(grandfollows)).all()""".stripMargin,
      Seq("<fred>"))
  }
  test("show double morphism intersection") {
    check(
      """grandfollows = g.M().out("<follows>").out("<follows>")
        |g.V("<emily>").follow(grandfollows).and(g.V("<charlie>").follow(grandfollows)).and(g.V("<bob>").follow(grandfollows)).all()""".stripMargin,
      Seq("<greg>"))
  }
  test("show reverse intersection") {
    check(
      """grandfollows = g.M().out("<follows>").out("<follows>")
        |g.V("<greg>").followR(grandfollows).intersect(g.V("<fred>").followR(grandfollows)).all()""".stripMargin,
      Seq("<charlie>"))
  }
  test("show standard sort of morphism intersection, continue follow") {
    check(
      """gfollowers = g.M().in("<follows>").in("<follows>")
        |a = g.V("<greg>").as("a").out("<status>").is("cool_person").back("a").follow(gfollowers)
        |b = g.V("<bob>").as("a").out("<status>").is("cool_person").back("a").follow(gfollowers)
        |a.intersect(b).all()""".stripMargin,
      Seq("<charlie>"))
  }
  test("test Or()") {
    check("""g.V("<bob>").out("<follows>").or(g.V().has("<status>", "cool_person")).all()""",
      Seq("<fred>", "<bob>", "<greg>", "<dani>"))
  }
  test("show a simple Has") {
    check("""g.V().has("<status>", "cool_person").all()""",
      Seq("<greg>", "<dani>", "<bob>"))
  }
  test("show a simple HasR") {
    check("""g.V().hasR("<status>", "<bob>").all()""", Seq("cool_person"))
  }
  test("show a double Has") {
    check("""g.V().has("<status>", "cool_person").has("<follows>", "<fred>").all()""",
      Seq("<bob>"))
  }
  test("show a Has with filter") {
    check("""g.V().has("<follows>", gt("<f>")).all()""",
      Seq("<bob>", "<dani>", "<emily>", "<fred>"))
  }
  test("use Limit") {
    assert(ids("""g.V().has("<status>", "cool_person").limit(2).all()""").size === 2)
  }
  test("use Skip") {
    assert(ids("""g.V().has("<status>", "cool_person").skip(2).all()""").size === 1)
  }
  test("use Skip and Limit") {
    assert(ids("""g.V().has("<status>", "cool_person").skip(1).limit(1).all()""").size === 1)
  }
  test("show Count") {
    assert(session.execute("""g.V().has("<status>").count()""") ===
      Seq(Map("count" -> "5")))
  }
  test("use Count value (count()+1 arithmetic)") {
    check("""g.emit(g.V().has("<status>").count()+1)""", Seq("6"))
  }
  test("show a simple save") {
    checkTag("""g.V().save("<status>", "somecool").all()""", "somecool",
      Seq("cool_person", "cool_person", "cool_person", "smart_person", "smart_person"))
  }
  test("show a simple save optional") {
    checkTag("""g.V("<bob>","<charlie>").out("<follows>").saveOpt("<status>", "somecool").all()""",
      "somecool", Seq("cool_person", "cool_person"))
  }
  test("save iri no tag") {
    checkTag("""g.V().save(g.IRI("status")).all()""", "<status>",
      Seq("cool_person", "cool_person", "cool_person", "smart_person", "smart_person"))
  }
  test("show a simple saveR") {
    checkTag("""g.V("cool_person").saveR("<status>", "who").all()""", "who",
      Seq("<greg>", "<dani>", "<bob>"))
  }
  test("show an out save") {
    checkTag("""g.V("<dani>").out(null, "pred").all()""", "pred",
      Seq("<follows>", "<follows>", "<status>"))
  }
  test("show a tag list") {
    checkTag("""g.V("<dani>").out(null, ["pred", "foo", "bar"]).all()""", "foo",
      Seq("<follows>", "<follows>", "<status>"))
  }
  test("show a pred list") {
    check("""g.V("<dani>").out(["<follows>", "<status>"]).all()""",
      Seq("<bob>", "<greg>", "cool_person"))
  }
  test("show a predicate path") {
    check("""g.V("<dani>").out(g.V("<follows>"), "pred").all()""",
      Seq("<bob>", "<greg>"))
  }
  test("list all bob's incoming predicates") {
    check("""g.V("<bob>").inPredicates().all()""", Seq("<follows>"))
  }
  test("save all bob's incoming predicates") {
    checkTag("""g.V("<bob>").saveInPredicates("pred").all()""", "pred",
      Seq("<follows>", "<follows>", "<follows>"))
  }
  test("list all labels") {
    check("""g.V().labels().all()""", Seq("<smart_graph>"))
  }
  test("list all in predicates") {
    check("""g.V().inPredicates().all()""", Seq("<are>", "<follows>", "<status>"))
  }
  test("list all out predicates") {
    check("""g.V().outPredicates().all()""", Seq("<are>", "<follows>", "<status>"))
  }
  test("traverse using LabelContext") {
    check("""g.V("<greg>").labelContext("<smart_graph>").out("<status>").all()""",
      Seq("smart_person"))
  }
  test("open and close a LabelContext") {
    check("""g.V().labelContext("<smart_graph>").in("<status>").labelContext(null).in("<follows>").all()""",
      Seq("<dani>", "<fred>"))
  }
  test("roundtrip values") {
    check(
      """v = g.V("<bob>").toValue()
        |s = g.V(v).out("<status>").toValue()
        |g.V(s).all()""".stripMargin,
      Seq("cool_person"))
  }
  test("roundtrip values (tag map)") {
    check(
      """v = g.V("<bob>").tagValue()
        |s = g.V(v.id).out("<status>").tagValue()
        |g.V(s.id).all()""".stripMargin,
      Seq("cool_person"))
  }
  test("unsupported full JS raises a clear error") {
    // the documented error surface: each unsupported form fails loudly
    intercept[Gizmo.GizmoError] {
      session.execute("""return 4""") // return outside a function
    }
    intercept[Gizmo.GizmoError] {
      session.execute("""var x = new Date()""") // new/this/prototypes
    }
  }
  test("previously-unsupported forms now run") {
    check("""var o = {a: 1}; g.emit(o.a)""", Seq("1"))
    check("""var i = 0; i += 1; g.emit(i)""", Seq("1"))
    assert(ids("""for (var i = 0; i < 3; i = i + 1) g.emit(i)""")
      === Seq("0", "1", "2"))
  }

  test("bitwise operators: ToInt32 semantics and JS precedence") {
    check("""g.emit(1 & 2); g.emit(5 & 3); g.emit(5 | 3); g.emit(5 ^ 3)""",
      Seq("0", "1", "7", "6"))
    check("""g.emit(~5); g.emit(1 << 4); g.emit(-16 >> 2); g.emit(-1 >>> 28)""",
      Seq("-6", "16", "-4", "15"))
    // & binds tighter than ^, ^ tighter than |, all below ==
    check("""g.emit(1 | 2 ^ 2 & 3); g.emit(3.9 & 7); g.emit(-3.9 & 7)""",
      Seq("1", "3", "5"))
    // shifts sit between additive and relational: (1+1)<<2, (1<<2)>3
    check("""g.emit(1 + 1 << 2); if (1 << 2 > 3) g.emit("y")""",
      Seq("8", "y"))
  }

  test("closures: capture by reference through the scope chain") {
    // a returned closure keeps its defining frame alive
    check(
      """function makeAdder(n) { return function(x) { return x + n; }; }
        |var add2 = makeAdder(2);
        |g.emit(add2(3)); g.emit(makeAdder(10)(4))""".stripMargin,
      Seq("5", "14"))
    // a closure WRITES the captured variable (shared counter)
    check(
      """function counter() {
        |  var c = 0;
        |  return function() { c = c + 1; return c; };
        |}
        |var next = counter();
        |next(); next();
        |g.emit(next())""".stripMargin,
      Seq("3"))
    // JS var semantics: closures over a var loop variable share ONE cell
    check(
      """var fns = [];
        |for (var i = 0; i < 3; i++) { fns.push(function() { return i; }); }
        |g.emit(fns[0]()); g.emit(fns[2]())""".stripMargin,
      Seq("3", "3"))
  }

  test("closures over loop variables inside forEach callbacks") {
    // the most common real-world idiom the old flat scope rejected:
    // a forEach callback closing over (and mutating) outer state
    check(
      """var seen = [];
        |var n = 0;
        |g.V("<bob>").in("<follows>").forEach(function(d) {
        |  n = n + 1;
        |  seen.push(d.id);
        |});
        |g.emit(n); g.emit(seen.length)""".stripMargin,
      Seq("3", "3"))
  }

  test("try/catch/finally and throw") {
    // a thrown value lands in the catch binding; finally always runs
    check(
      """var log = [];
        |try { throw "boom"; } catch (e) { log.push(e); }
        |finally { log.push("fin"); }
        |g.emit(log.join(","))""".stripMargin,
      Seq("boom,fin"))
    // host errors surface as Error-shaped objects with .message
    check(
      """var msg = "none";
        |try { g.V().nosuchmethod(); } catch (e) { msg = e.message; }
        |g.emit(msg)""".stripMargin,
      Seq("unknown traversal .nosuchmethod"))
    // catch binding is scoped to the catch block; uncaught throws escape
    intercept[Gizmo.GizmoError] {
      session.execute("""try { g.emit(1) } finally { } throw "up"; """)
    }
    // return through finally still returns
    check(
      """function f() { try { return 1; } finally { g.emit("ran"); } }
        |g.emit(f())""".stripMargin,
      Seq("ran", "1"))
  }

  test("break/continue in while, for, for-in; do/while") {
    check(
      """var s = 0;
        |for (var i = 0; i < 10; i++) {
        |  if (i == 3) continue;
        |  if (i == 6) break;
        |  s += i;
        |}
        |g.emit(s); g.emit(i)""".stripMargin, // 0+1+2+4+5 = 12; i stops at 6
      Seq("12", "6"))
    check(
      """var n = 0;
        |while (true) { n++; if (n >= 4) break; }
        |g.emit(n)""".stripMargin,
      Seq("4"))
    check(
      """var seen = [];
        |var a = [10, 11, 12, 13];
        |for (k in a) { if (a[k] == 12) break; seen.push(a[k]); }
        |g.emit(seen.join("-"))""".stripMargin,
      Seq("10-11"))
    check(
      """var n = 0;
        |do { n++; } while (n < 3);
        |var m = 9;
        |do { m++; } while (false);
        |g.emit(n); g.emit(m)""".stripMargin, // body runs at least once
      Seq("3", "10"))
    // break never crosses a function boundary
    intercept[Gizmo.GizmoError] {
      session.execute(
        """var f = function() { break; };
          |while (true) { f(); }""".stripMargin)
    }
    intercept[Gizmo.GizmoError](session.execute("break;"))
  }

  test("switch: strict cases, fall-through, default, break") {
    check(
      """function label(x) {
        |  var r = "";
        |  switch (x) {
        |    case 1: r = "one"; break;
        |    case 2:
        |    case 3: r = "few"; break;
        |    default: r = "many";
        |  }
        |  return r;
        |}
        |g.emit(label(1)); g.emit(label(2)); g.emit(label(3)); g.emit(label(9))""".stripMargin,
      Seq("one", "few", "few", "many"))
    // fall-through without break accumulates; strict equality ("2" != 2)
    check(
      """var log = [];
        |switch (2) {
        |  case "2": log.push("str"); break;
        |  case 2: log.push("a");
        |  default: log.push("b");
        |}
        |g.emit(log.join(","))""".stripMargin,
      Seq("a,b"))
    // continue inside a switch inside a loop applies to the loop
    check(
      """var s = 0;
        |for (var i = 0; i < 5; i++) {
        |  switch (i % 2) {
        |    case 0: continue;
        |    default: s += i;
        |  }
        |}
        |g.emit(s)""".stripMargin, // 1 + 3 = 4
      Seq("4"))
  }

  test("regex literals: RegExp values on the Re2 engine") {
    check("""g.emit(/ab?c/.test("ac")); g.emit(/ab?c/.test("zz"))""",
      Seq("true", "false"))
    check("""var re = /^A[0-9]+$/i; g.emit(re.test("a42"))""", Seq("true"))
    check("""if (/b.b/.test("bob")) g.emit("hit")""", Seq("hit"))
    // division still tokenizes as division in operand position
    check("""var x = 10; g.emit(x / 2 / 5)""", Seq("1"))
  }

  test("general statements: arithmetic, precedence, string concat") {
    check("""g.emit(2 * 3 + 4)""", Seq("10"))
    check("""g.emit(2 + 3 * 4)""", Seq("14"))
    check("""g.emit((2 + 3) * 4)""", Seq("20"))
    check("""g.emit(7 % 3)""", Seq("1"))
    check("""g.emit(10 - 2 - 3)""", Seq("5"))
    check("""g.emit(-3 + 5)""", Seq("2"))
    check("""var n = 2; g.emit("n=" + n)""", Seq("n=2"))
  }

  test("general statements: if/else and comparisons") {
    check("""var x = 3; if (x > 2) { g.emit("big") } else { g.emit("small") }""",
      Seq("big"))
    check("""var x = 1; if (x >= 2) g.emit("big"); else g.emit("small");""",
      Seq("small"))
    check("""if (1 == 1 && 2 != 3) g.emit("and")""", Seq("and"))
    check("""if (1 === 2 || !false) g.emit("or")""", Seq("or"))
    check("""if ("a" < "b") g.emit("lex")""", Seq("lex"))
  }

  test("general statements: while loop with assignment") {
    check(
      """var i = 0
        |var total = 0
        |while (i < 5) { total = total + i; i = i + 1 }
        |g.emit(total)""".stripMargin,
      Seq("10"))
  }

  test("general statements: user-defined functions with return") {
    check(
      """function add(a, b) { return a + b; }
        |g.emit(add(2, 3))""".stripMargin,
      Seq("5"))
    // recursion
    check(
      """function fact(n) { if (n <= 1) { return 1; } return n * fact(n - 1); }
        |g.emit(fact(5))""".stripMargin,
      Seq("120"))
    // functions can run traversals and return results
    check(
      """function followers(x) { return g.V(x).in("<follows>").toArray(); }
        |var arr = followers("<bob>")
        |g.emit(arr.length)""".stripMargin,
      Seq("3"))
  }

  test("general statements: .length on arrays and strings") {
    check("""g.emit([1, 2, 3].length)""", Seq("3"))
    check("""g.emit("hello".length)""", Seq("5"))
  }
  test("show ToArray") {
    check(
      """arr = g.V("<bob>").in("<follows>").toArray()
        |for (i in arr) g.emit(arr[i]);""".stripMargin,
      Seq("<alice>", "<charlie>", "<dani>"))
  }
  test("show ToArray with limit") {
    val got = ids(
      """arr = g.V("<bob>").in("<follows>").toArray(2)
        |for (i in arr) g.emit(arr[i]);""".stripMargin)
    assert(got.size === 2)
    assert(got.toSet.subsetOf(Set("<alice>", "<charlie>", "<dani>")))
  }
  test("for-in over a query result carries the row bindings") {
    // iterating .all()/.tagArray() results must expose each row's values
    // (arr[i].id), not empty maps
    check(
      """arr = g.V("<bob>").in("<follows>").tagArray()
        |for (i in arr) g.emit(arr[i].id);""".stripMargin,
      Seq("<alice>", "<charlie>", "<dani>"))
  }
  test("show ForEach") {
    check(
      """g.V("<bob>").in("<follows>").forEach(function(o){g.emit(o.id)});""",
      Seq("<alice>", "<charlie>", "<dani>"))
  }
  test("show ForEach with limit") {
    val got = ids(
      """g.V("<bob>").in("<follows>").forEach(2, function(o){g.emit(o.id)});""")
    assert(got.size === 2)
    assert(got.toSet.subsetOf(Set("<alice>", "<charlie>", "<dani>")))
  }
  test("clone paths") {
    check(
      """var alice = g.V('<alice>')
        |g.emit(alice.toValue())
        |var out = alice.out('<follows>')
        |g.emit(out.toValue())
        |g.emit(alice.toValue())""".stripMargin,
      Seq("<alice>", "<bob>", "<alice>"))
  }
  test("default namespaces") {
    check(
      """g.addDefaultNamespaces()
        |g.emit(g.IRI('rdf:type'))""".stripMargin,
      Seq("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"))
  }
  test("add namespace") {
    check(
      """g.addNamespace('ex','http://example.net/')
        |g.emit(g.IRI('ex:alice'))""".stripMargin,
      Seq("<http://example.net/alice>"))
  }
  test("recursive follow tag") {
    checkTag(
      """g.V("<charlie>").followRecursive("<follows>", "depth").all();""",
      "depth", Seq("1", "1", "2", "2"))
  }
  test("issue #254: object literals are not vertex args") {
    intercept[Gizmo.GizmoError] {
      session.execute("""g.V({"id":"<alice>"}).all()""")
    }
  }
  test("object literals: emit builds multi-column rows") {
    val rows = session.execute(
      """var n = g.V("<alice>").out("<follows>").toValue();
        |g.emit({who: "alice", follows: n, n: 1 + 1});""".stripMargin)
    assert(rows === Seq(Map("who" -> "alice", "follows" -> "<bob>", "n" -> "2")))
  }
  test("object literals: field get/set, bracket access, for-in keys") {
    val rows = session.execute(
      """var o = {a: 1};
        |o.b = o.a + 1;
        |o["c"] = o["b"] + 1;
        |var keys = "";
        |var total = 0;
        |for (k in o) { keys = keys + k; total += o[k]; }
        |g.emit({keys: keys, total: total});""".stripMargin)
    assert(rows === Seq(Map("keys" -> "abc", "total" -> "6")))
  }
  test("arrays are mutable and shared by reference") {
    val rows = session.execute(
      """var a = [1, 2];
        |var b = a;
        |b.push(3);
        |a[0] = 10;
        |g.emit({len: a.length, first: b[0], joined: a.join("-")});""".stripMargin)
    assert(rows === Seq(Map("len" -> "3", "first" -> "10", "joined" -> "10-2-3")))
  }
  test("array prototype subset") {
    val rows = session.execute(
      """var a = ["x", "y", "z"];
        |var popped = a.pop();
        |var s = a.concat(["w"]).slice(1).join("");
        |g.emit({popped: popped, s: s, has: a.includes("x"), at: a.indexOf("y")});
        |""".stripMargin)
    assert(rows === Seq(Map("popped" -> "z", "s" -> "yw", "has" -> "true", "at" -> "1")))
  }
  test("string prototype subset") {
    val rows = session.execute(
      """var s = "Hello World";
        |g.emit({lo: s.toLowerCase(), i: s.indexOf("World"),
        |        sub: s.substring(0, 5), sl: s.slice(-5),
        |        parts: s.split(" ").length, rep: s.replace("World", "Gizmo"),
        |        sw: s.startsWith("Hell")});""".stripMargin)
    assert(rows === Seq(Map("lo" -> "hello world", "i" -> "6",
      "sub" -> "Hello", "sl" -> "World", "parts" -> "2",
      "rep" -> "Hello Gizmo", "sw" -> "true")))
  }
  test("classic for loop with compound assignment and ++") {
    val rows = session.execute(
      """var sum = 0;
        |for (var i = 0; i < 5; i++) { sum += i; }
        |var prod = 1;
        |for (var j = 1; j <= 4; j += 1) prod *= j;
        |g.emit({sum: sum, prod: prod});""".stripMargin)
    assert(rows === Seq(Map("sum" -> "10", "prod" -> "24")))
  }
  test("Math subset") {
    val rows = session.execute(
      """g.emit({f: Math.floor(2.7), c: Math.ceil(2.1), a: Math.abs(-3),
        |        mx: Math.max(1, 9, 4), p: Math.pow(2, 10)});""".stripMargin)
    assert(rows === Seq(Map("f" -> "2", "c" -> "3", "a" -> "3",
      "mx" -> "9", "p" -> "1024")))
  }
  test("program: count followers into an object, emit sorted summary") {
    val rows = session.execute(
      """var people = g.V("<alice>", "<bob>", "<charlie>").toArray();
        |var rowsOut = [];
        |for (var i = 0; i < people.length; i++) {
        |  var c = g.V(people[i]).in("<follows>").count();
        |  rowsOut.push({person: people[i], followers: c});
        |}
        |for (k in rowsOut) { g.emit(rowsOut[k]); }""".stripMargin)
    assert(rows.length === 3)
    val byPerson = rows.map(r => r("person") -> r("followers")).toMap
    assert(byPerson("<bob>") === "3")
  }
  test("issue #160: object emit inside forEach (gizmo_test.go:791-803), verbatim") {
    import graft.core.{NQuads, QValue}
    val g160 = Graph.fromQuads(spark, Seq(
      ("alice", "follows", "bob"), ("bob", "follows", "alice"),
      ("charlie", "follows", "bob"), ("dani", "follows", "charlie"),
      ("dani", "follows", "alice"), ("alice", "is", "cool"),
      ("bob", "is", "not cool"), ("charlie", "is", "cool"),
      ("danie", "is", "not cool")).map { case (s, p, o) =>
      NQuads.ParsedQuad(QValue.Str(s), QValue.Str(p), QValue.Str(o), None)
    })
    val rows = Gizmo.session(g160).execute(
      """g.V().tag('query').out(raw('follows')).out(raw('follows')).forEach(function (item) {
        |  if (item.id !== item.query) g.emit({ id: item.id });
        |})""".stripMargin, limit = 100)
    assert(rows.flatMap(_.get("id")).sorted === Seq("alice", "bob", "bob"))
  }

  test("runaway recursion raises GizmoError, not a JVM stack overflow") {
    val err = intercept[Gizmo.GizmoError] {
      session.execute("function f(n) { return f(n + 1); } g.emit(f(0));")
    }
    assert(err.getMessage.contains("call stack"))
    // bounded recursion still works
    check("""function fac(n) { if (n <= 1) { return 1; } return n * fac(n - 1); }
            |g.emit(fac(10));""".stripMargin, Seq("3628800"))
  }

  test("still errors: builtins outside the documented subsets") {
    intercept[Gizmo.GizmoError](session.execute("""var s = "a"; s.localeCompare("b");"""))
    intercept[Gizmo.GizmoError](session.execute("var a = [1]; a.flatMap(f);"))
  }
  test("default limit All") {
    assert(session.execute("g.V().all()", limit = 5).size === 5)
  }
  test("find non-existent (forEach)") {
    check("""g.V('<not-existing>').forEach(function(d){ g.emit(d); })""", Nil)
  }
  test("recursive follow") {
    check("""g.V("<charlie>").followRecursive("<follows>").all();""",
      Seq("<bob>", "<dani>", "<fred>", "<greg>"))
  }
  test("recursive follow path") {
    check("""g.V("<charlie>").followRecursive(g.V().out("<follows>")).all();""",
      Seq("<bob>", "<dani>", "<fred>", "<greg>"))
  }
  test("use order") {
    val got = ids("""g.V().order().all()""")
    assert(got.size === 14)
    assert(got.head === "<alice>")
  }
  test("use order tags") {
    checkTag("""g.V("<alice>","<bob>").Tag("target").order().all()""",
      "target", Seq("<alice>", "<bob>"))
  }
  test("use .in() (any)") {
    check("""g.V("<bob>").in().all()""", Seq("<alice>", "<charlie>", "<dani>"))
  }
  test("filter with a wrong type errors") {
    intercept[Gizmo.GizmoError] {
      session.execute("""g.V().filter(/<alice>/).all()""")
    }
  }

  test("value constructors: lang/typed/raw (environ.go:245-256)") {
    check("""g.emit(g.IRI('x')); g.emit(lang('hello','en')); g.emit(typed('5','http://www.w3.org/2001/XMLSchema#integer')); g.emit(raw('<y>'))""",
      Seq("<x>", "hello@en", "5", "<y>"))
  }

  lazy val multiSession: Gizmo.Session = Gizmo.session(
    Graph.fromNQuads(spark,
      TestFixtures.data("testdata_multigraph.nq")).cached())

  test("issue #758: saveOpt respects label context") {
    val got = multiSession.execute(
      """g.V("<greg>").labelContext("<smart_graph>").saveOpt("<status>", "statusTag").all()""")
      .flatMap(_.get("statusTag"))
    assert(got === Seq("smart_person"))
  }
  test("issue #758: saveR respects label context") {
    val got = multiSession.execute(
      """g.V("smart_person").labelContext("<other_graph>").saveR("<status>", "who").all()""")
      .flatMap(_.get("who"))
    assert(got === Seq("<fred>"))
  }

  test("let/const: block scoping, shadowing, var hoists past blocks") {
    // let is scoped to its block; the outer binding is untouched
    check(
      """var x = "outer";
        |{ let x = "inner"; g.emit(x); }
        |g.emit(x)""".stripMargin,
      Seq("inner", "outer"))
    // a let declared in a block is gone after it (reads resolve to nothing)
    intercept[Gizmo.GizmoError] {
      session.execute("""{ let only = 1; } g.emit(only + 1);""")
    }
    // var inside a block hoists to function/global scope (unchanged)
    check("""{ var v = 7; } g.emit(v)""", Seq("7"))
    // multi-declarators and let without initializer
    check(
      """let a = 1, b = 2, c;
        |c = a + b;
        |g.emit(c)""".stripMargin,
      Seq("3"))
    // const reassignment throws; property mutation of a const obj is fine
    val err = intercept[Gizmo.GizmoError] {
      session.execute("const k = 1; k = 2;")
    }
    assert(err.getMessage.contains("constant"))
    intercept[Gizmo.GizmoError](session.execute("const nope;"))
    check(
      """const o = {n: 1};
        |o.n = 5;
        |g.emit(o.n)""".stripMargin,
      Seq("5"))
  }

  test("for (let i ...): fresh per-iteration binding captured by closures") {
    // the classic test: let captures 0,1,2 where var shares one cell
    check(
      """var fns = [];
        |for (let i = 0; i < 3; i++) { fns.push(function() { return i; }); }
        |g.emit(fns[0]()); g.emit(fns[1]()); g.emit(fns[2]())""".stripMargin,
      Seq("0", "1", "2"))
    // for-in with let: per-iteration binding too
    check(
      """var fns = [];
        |var a = ["x", "y"];
        |for (let k in a) { fns.push(function() { return a[k]; }); }
        |g.emit(fns[0]()); g.emit(fns[1]())""".stripMargin,
      Seq("x", "y"))
    // loop variable is not visible after the loop
    intercept[Gizmo.GizmoError] {
      session.execute("""for (let j = 0; j < 2; j++) {} g.emit(j);""")
    }
  }

  test("JSON property: stringify∘parse is identity on random value trees") {
    // random JSON texts generated host-side; the Gizmo program must
    // round-trip each through parse -> stringify byte-identically
    val rnd = new scala.util.Random(20260813)
    def gen(depth: Int): String = {
      // top level: never a bare string — Gizmo string literals starting
      // with '"' parse as N-Quads terms (the "<iri>"/literal convention),
      // which would strip the JSON quotes before parse ever sees them
      val pick =
        if (depth == 0) 4 + rnd.nextInt(2)
        else if (depth >= 3) rnd.nextInt(4) else rnd.nextInt(6)
      pick match {
        case 0 => rnd.nextInt(2000).toString
        case 1 => if (rnd.nextBoolean()) "true" else "false"
        case 2 => "null"
        case 3 =>
          // printable strings incl. escapes the serializer must emit
          val chars = Seq("a", "b", "\\\"", "\\\\", "\\n", "\\t", "x", "7")
          "\"" + Seq.fill(rnd.nextInt(6))(chars(rnd.nextInt(chars.length)))
            .mkString + "\""
        case 4 =>
          "[" + Seq.fill(rnd.nextInt(4))(gen(depth + 1)).mkString(",") + "]"
        case _ =>
          val n = rnd.nextInt(4)
          "{" + (0 until n).map(i => s""""k$i":${gen(depth + 1)}""")
            .mkString(",") + "}"
      }
    }
    (1 to 60).foreach { _ =>
      val doc = gen(0)
      val got = try session.execute(
        s"""g.emit(JSON.stringify(JSON.parse('${doc.replace("\\", "\\\\")
          .replace("'", "\\'")}')) == '${doc.replace("\\", "\\\\")
          .replace("'", "\\'")}' ? "same" : JSON.stringify(JSON.parse('${
          doc.replace("\\", "\\\\").replace("'", "\\'")}')))""")
        .flatMap(_.get("id"))
      catch { case e: Gizmo.GizmoError =>
        fail(s"doc <<$doc>> : ${e.getMessage}") }
      assert(got === Seq("same"), s"round-trip changed: $doc -> $got")
    }
  }

  test("getters and setters: object literals and class accessors") {
    check(
      """var o = {
        |  first: "ada", last: "l",
        |  get full() { return this.first + " " + this.last; },
        |  set full(v) { var parts = v.split(" ");
        |                this.first = parts[0]; this.last = parts[1]; }
        |};
        |g.emit(o.full);
        |o.full = "grace h";
        |g.emit(o.first); g.emit(o.last); g.emit(o.full)""".stripMargin,
      Seq("ada l", "grace", "h", "grace h"))
    // class accessors live on the prototype; getter-only set is a no-op
    check(
      """class Temp {
        |  constructor(c) { this.c = c; }
        |  get f() { return this.c * 9 / 5 + 32; }
        |}
        |var t = new Temp(100);
        |g.emit(t.f);
        |t.f = 0;
        |g.emit(t.f)""".stripMargin,
      Seq("212", "212"))
    // enumeration resolves getters: JSON.stringify / Object.values / emit
    check(
      """var o = {n: 2, get sq() { return this.n * this.n; }};
        |g.emit(JSON.stringify(o));
        |g.emit(Object.values(o).join(","));
        |g.emit(o)""".stripMargin,
      Seq("""{"n":2,"sq":4}""", "2,4")
        // the bare emit(o) produces a row {n: "2", sq: "4"} — covered by
        // the multi-column row below
        )
    // a method literally named get/set still parses as a method
    check(
      """class Bag {
        |  constructor() { this.m = {}; }
        |  get(k) { return this.m[k]; }
        |  set(k, v) { this.m[k] = v; return this; }
        |}
        |var b = new Bag();
        |b.set("x", 7);
        |g.emit(b.get("x"))""".stripMargin,
      Seq("7"))
  }

  test("Map and Set") {
    check(
      """var m = new Map();
        |m.set("a", 1).set("b", 2).set("a", 9);
        |g.emit(m.size); g.emit(m.get("a")); g.emit(m.has("c"));
        |m.delete("b");
        |g.emit(m.size);
        |var fromPairs = new Map([["x", 10], ["y", 20]]);
        |var acc = [];
        |fromPairs.forEach((v, k) => acc.push(k + ":" + v));
        |g.emit(acc.join(","))""".stripMargin,
      Seq("2", "9", "false", "1", "x:10,y:20"))
    // numeric and string keys are distinct (SameValueZero, not coercion)
    check(
      """var m = new Map();
        |m.set(1, "num").set("1", "str");
        |g.emit(m.size); g.emit(m.get(1)); g.emit(m.get("1"))""".stripMargin,
      Seq("2", "num", "str"))
    check(
      """var s = new Set([1, 2, 2, 3]);
        |g.emit(s.size); g.emit(s.has(2));
        |s.add(4); s.delete(1);
        |g.emit([...s].join(","));
        |var uniq = new Set("ababc");
        |g.emit(Array.from(uniq).join(""))""".stripMargin,
      Seq("3", "true", "2,3,4", "abc"))
    // for-of over Set values and Map entries
    check(
      """var total = 0;
        |for (var v of new Set([5, 6])) { total += v; }
        |var parts = [];
        |for (var e of new Map([["k", 7]])) { parts.push(e[0] + "=" + e[1]); }
        |g.emit(total); g.emit(parts.join(","))""".stripMargin,
      Seq("11", "k=7"))
    // a user-defined Map class shadows the builtin
    check(
      """class Map { constructor() { this.custom = true; } }
        |g.emit(new Map().custom)""".stripMargin,
      Seq("true"))
  }

  test("Object.entries and Array.from") {
    check(
      """var o = {a: 1, b: "x"};
        |var parts = Object.entries(o).map(e => e[0] + "=" + e[1]);
        |g.emit(parts.join(","));
        |g.emit(Array.from("abc").join("-"));
        |var copy = Array.from([1, 2]);
        |copy.push(3);
        |g.emit(copy.join(""))""".stripMargin,
      Seq("a=1,b=x", "a-b-c", "123"))
  }

  test("spread syntax: arrays, objects, call arguments") {
    check(
      """var a = [2, 3];
        |g.emit([1, ...a, 4].join(","));
        |g.emit([..."hi"].join("-"));
        |function add3(x, y, z) { return x + y + z; }
        |g.emit(add3(...a, 10));
        |var o = {x: 1, y: 2};
        |var merged = {...o, y: 9, z: 3};
        |g.emit(JSON.stringify(merged));
        |g.emit(Math.max(...[5, 12, 7]))""".stripMargin,
      Seq("1,2,3,4", "h-i", "15", """{"x":1,"y":9,"z":3}""", "12"))
    // spreading a copy does not alias the source array
    check(
      """var src = [1];
        |var copy = [...src];
        |copy.push(2);
        |g.emit(src.length); g.emit(copy.length)""".stripMargin,
      Seq("1", "2"))
    intercept[Gizmo.GizmoError](session.execute("var b = [...5];"))
  }

  test("destructuring declarations") {
    check(
      """var o = {a: 1, b: 2, c: 3};
        |var {a, c: cc} = o;
        |let [x, , z] = [10, 20, 30];
        |const {missing} = o;
        |g.emit(a); g.emit(cc); g.emit(x); g.emit(z);
        |g.emit(missing == null ? "absent" : "present")""".stripMargin,
      Seq("1", "3", "10", "30", "absent"))
    // destructuring a traversal row (tag map) pulls bindings by name
    check(
      """var n = 0;
        |g.V("<bob>").in("<follows>").tag("who").forEach(function(r) {
        |  var {who} = r;
        |  if (who != null) n = n + 1;
        |});
        |g.emit(n)""".stripMargin,
      Seq("3"))
    intercept[Gizmo.GizmoError] {
      session.execute("var {a} = 5;")
    }
  }

  test("for...of iterates values") {
    check(
      """var sum = 0;
        |for (var v of [10, 20, 12]) { sum += v; }
        |var parts = [];
        |for (let ch of "abc") { parts.push(ch); }
        |for (const x of [1, 2, 3]) { if (x == 2) break; }
        |g.emit(sum); g.emit(parts.join("-"))""".stripMargin,
      Seq("42", "a-b-c"))
    // for-of over a traversal result yields rows (tag maps)
    check(
      """var names = [];
        |for (var row of g.V("<bob>").in("<follows>").toArray()) {
        |  names.push(row);
        |}
        |g.emit(names.length)""".stripMargin,
      Seq("3"))
    // objects are not for-of iterable (JS parity)
    intercept[Gizmo.GizmoError] {
      session.execute("for (var x of {a: 1}) { }")
    }
  }

  test("arrow functions and template literals") {
    check(
      """var inc = x => x + 1;
        |var add = (a, b) => a + b;
        |var mk = () => "made";
        |var blk = (n) => { var t = n * 2; return t + 1; };
        |g.emit(inc(4)); g.emit(add(2, 3)); g.emit(mk()); g.emit(blk(10))""".stripMargin,
      Seq("5", "5", "made", "21"))
    // arrows as HOF callbacks, with closures and ternaries inside
    check(
      """var a = [3, 1, 4, 1, 5];
        |g.emit(a.map(x => x * 10).join(","));
        |g.emit(a.filter(x => x % 2 == 1).join(","));
        |g.emit(a.reduce((acc, x) => acc + x, 0));
        |g.emit(a.map(x => x > 2 ? "big" : "small").join(","));
        |var base = 100;
        |g.emit(a.map(x => x + base).join(","))""".stripMargin,
      Seq("30,10,40,10,50", "3,1,1,5", "14", "big,small,big,small,big",
        "103,101,104,101,105"))
    // lexical this: an arrow inside a method sees the method's this
    check(
      """function Box(v) { this.v = v; }
        |Box.prototype.twice = function() {
        |  var f = () => this.v * 2;
        |  return f();
        |};
        |g.emit(new Box(21).twice())""".stripMargin,
      Seq("42"))
    // template literals: interpolation, escapes, nesting in expressions
    check(
      """var who = "world";
        |g.emit(`hello ${who}!`);
        |g.emit(`1+2=${1 + 2}`);
        |g.emit(`${who}`);
        |g.emit(`a${`b${"c"}`}d`);
        |g.emit(`brace ${"}"} ok`)""".stripMargin,
      Seq("hello world!", "1+2=3", "world", "abcd", "brace } ok"))
    // traversal forEach with an arrow callback
    check(
      """var n = 0;
        |g.V("<bob>").in("<follows>").forEach(d => { n = n + 1; });
        |g.emit(n)""".stripMargin,
      Seq("3"))
  }

  test("tagged template calls") {
    // tag receives the cooked strings array plus one arg per hole —
    // including the empty leading/trailing parts JS cooks
    check(
      """function tag(parts, a, b) {
        |  return parts.join("|") + ":" + a + "," + b;
        |}
        |var x = 7;
        |g.emit(tag`L${x}M${x + 1}R`);
        |g.emit(tag`${x}${x}`);
        |var fmt = (parts, v) => parts[0] + "<" + v + ">" + parts[1];
        |g.emit(fmt`v=${x * 2}!`)""".stripMargin,
      Seq("L|M|R:7,8", "||:7,7", "v=<14>!"))
    // keywords before a template are NOT tags; untagged semantics keep
    // working everywhere an expression is expected
    check(
      """function f(s) { return `x${s}`; }
        |g.emit(f("y"));
        |g.emit(typeof `x`);
        |g.emit(`plain ${1 + 1}`)""".stripMargin,
      Seq("xy", "string", "plain 2"))
  }

  test("typeof operator (incl. the null quirk)") {
    check(
      """g.emit(typeof 1);
        |g.emit(typeof "s");
        |g.emit(typeof true);
        |g.emit(typeof null);
        |g.emit(typeof [1]);
        |g.emit(typeof {a: 1});
        |var f = x => x;
        |g.emit(typeof f);
        |g.emit(typeof (1 + 2))""".stripMargin,
      Seq("number", "string", "boolean", "object", "object", "object",
        "function", "number"))
  }

  test("async/await fail with a clear synchronous-engine error") {
    val e1 = intercept[Gizmo.GizmoError] {
      session.execute("async function f() { return 1; } g.emit(1)")
    }
    assert(e1.getMessage.contains("synchronous"))
    val e2 = intercept[Gizmo.GizmoError] {
      session.execute("var p = await g.V().all()")
    }
    assert(e2.getMessage.contains("synchronous"))
    val e3 = intercept[Gizmo.GizmoError] {
      session.execute("var f = async (x) => x + 1; g.emit(1)")
    }
    assert(e3.getMessage.contains("synchronous"))
    // LEGAL identifier uses must stay legal: property names, object
    // keys, and plain variables named async/await carry no async
    // semantics (r11 advice: the old check rejected any occurrence)
    check(
      """var o = {async: 1, await: 2};
        |g.emit(o.async + o.await);
        |var async = 10; var await = 20;
        |g.emit(async + await)""".stripMargin,
      Seq("3", "30"))
  }

  test("Object.fromEntries / Number.is* predicates / String.raw") {
    check(
      """var o = Object.fromEntries([["a", 1], ["b", 2]]);
        |g.emit(o.a + o.b);
        |g.emit(JSON.stringify(
        |  Object.fromEntries(Object.entries({x: 1, y: 2}))));
        |var m = new Map(); m.set("k", 7);
        |g.emit(Object.fromEntries(m).k);
        |g.emit(Number.isInteger(5));
        |g.emit(Number.isInteger(5.5));
        |g.emit(Number.isInteger("5"));
        |g.emit(Number.isSafeInteger(9007199254740991));
        |g.emit(Number.isSafeInteger(9007199254740992));
        |g.emit(Number.isFinite(1 / 0));
        |g.emit(Number.isNaN(0 / 0));
        |g.emit(Number.isNaN("nope"))""".stripMargin,
      Seq("3", "{\"x\":1,\"y\":2}", "7", "true", "false", "false",
        "true", "false", "false", "true", "false"))
    // String.raw: escapes stay UNDECODED in the parts; substitutions
    // interleave rendered. The plain tagged call still cooks.
    check(
      """g.emit(String.raw`a\nb${1 + 1}c\td`);
        |function cooked(parts, x) { return parts[0] + "|" + x; }
        |g.emit(cooked`p\nq${3}`)""".stripMargin,
      Seq("a\\nb2c\\td", "p\nq|3"))
  }

  test("conditional operator: lazy branches, nesting, precedence") {
    check(
      """g.emit(1 < 2 ? "yes" : "no");
        |g.emit(false ? 1 : true ? 2 : 3);
        |var x = 10;
        |g.emit(x > 5 ? x > 8 ? "high" : "mid" : "low");
        |g.emit((x > 5 ? "a" : "b") + (x < 5 ? "c" : "d"))""".stripMargin,
      Seq("yes", "2", "high", "ad"))
    // ONLY the taken branch evaluates (untaken side effects must not run)
    check(
      """var log = [];
        |function hit(tag, v) { log.push(tag); return v; }
        |g.emit(true ? hit("t", 1) : hit("f", 2));
        |g.emit(false ? hit("t2", 3) : hit("f2", 4));
        |g.emit(log.join(","))""".stripMargin,
      Seq("1", "4", "t,f2"))
    // untaken branch may even reference undefined names (never evaluated)
    check("""g.emit(true ? "ok" : nope.bad())""", Seq("ok"))
    // ternary inside object literals and call args
    check(
      """var o = {v: 1 == 1 ? "eq" : "ne"};
        |g.emit(o.v);
        |g.emit([3 > 2 ? "g" : "l", "z"].join("-"))""".stripMargin,
      Seq("eq", "g-z"))
    // string relational comparison feeds sort comparators
    check("""g.emit("apple" < "banana" ? "lt" : "gte")""", Seq("lt"))
  }

  test("string/Math/Object subset extensions") {
    check(
      """var s = "abcabc";
        |g.emit(s.lastIndexOf("b")); g.emit(s.charCodeAt(0));
        |g.emit("ab".repeat(3)); g.emit("5".padStart(3, "0"));
        |g.emit("5".padEnd(3, "x")); g.emit(s.replaceAll("b", "_"));
        |g.emit(String.fromCharCode(72, 105))""".stripMargin,
      Seq("4", "97", "ababab", "005", "5xx", "a_ca_c", "Hi"))
    check(
      """g.emit(Math.trunc(-3.7)); g.emit(Math.sign(-9));
        |g.emit(Math.log2(8)); g.emit(Math.exp(0))""".stripMargin,
      Seq("-3", "-1", "3", "1"))
    check(
      """var t = {a: 1};
        |Object.assign(t, {b: 2}, {a: 3});
        |g.emit(JSON.stringify(t))""".stripMargin,
      Seq("""{"a":3,"b":2}"""))
    intercept[Gizmo.GizmoError](session.execute(""""x".normalize();"""))
  }

  test("array higher-order methods: map/filter/reduce/forEach/sort/find") {
    check(
      """var a = [3, 1, 4, 1, 5, 9, 2, 6];
        |g.emit(a.map(function(x) { return x * 2; }).join(","));
        |g.emit(a.filter(function(x) { return x % 2 == 0; }).join(","));
        |g.emit(a.reduce(function(acc, x) { return acc + x; }, 0));
        |g.emit(a.reduce(function(acc, x) { return acc + x; }));
        |g.emit(a.some(function(x) { return x > 8; }));
        |g.emit(a.every(function(x) { return x > 0; }));
        |g.emit(a.find(function(x) { return x > 4; }));
        |g.emit(a.findIndex(function(x) { return x > 4; }));
        |g.emit(a.findIndex(function(x) { return x > 100; }))""".stripMargin,
      Seq("6,2,8,2,10,18,4,12", "4,2,6", "31", "31", "true", "true",
        "5", "4", "-1"))
    // callback gets (element, index); forEach drives side effects
    check(
      """var seen = [];
        |["a", "b"].forEach(function(v, i) { seen.push(i + ":" + v); });
        |g.emit(seen.join(","))""".stripMargin,
      Seq("0:a,1:b"))
    // sort: comparator + default string sort; in-place, returns the array
    check(
      """var n = [10, 9, 2, 30];
        |g.emit(n.sort(function(a, b) { return a - b; }).join(","));
        |g.emit(n.join(","));
        |g.emit([10, 9, 2, 30].sort().join(","))""".stripMargin,
      Seq("2,9,10,30", "2,9,10,30", "10,2,30,9"))
    // closures over outer state work inside the callbacks
    check(
      """var total = 0;
        |[1, 2, 3].forEach(function(x) { total += x; });
        |g.emit(total);
        |var empty = [];
        |g.emit(empty.every(function(x) { return false; }));
        |g.emit(empty.some(function(x) { return true; }))""".stripMargin,
      Seq("6", "true", "false"))
    intercept[Gizmo.GizmoError] {
      session.execute("[].reduce(function(a, b) { return a; });")
    }
    // unshift mutates in place like push
    check(
      """var u = [2, 3]; u.unshift(0, 1); g.emit(u.join(","))""".stripMargin,
      Seq("0,1,2,3"))
  }

  test("JSON.stringify/parse, Object.keys/values, Array.isArray, conversions") {
    check(
      """var o = {a: 1, b: "x\n", c: [true, null, 2.5], d: {e: 1}};
        |o.fn = function() { return 0; };
        |g.emit(JSON.stringify(o))""".stripMargin,
      Seq("""{"a":1,"b":"x\n","c":[true,null,2.5],"d":{"e":1}}"""))
    check(
      """var v = JSON.parse('{"k": [1, "two", {"three": 3}], "ok": true}');
        |g.emit(v.k[1]); g.emit(v.k[2].three); g.emit(v.ok);
        |g.emit(JSON.stringify(v))""".stripMargin,
      Seq("two", "3", "true", """{"k":[1,"two",{"three":3}],"ok":true}"""))
    // round-trip through parse keeps mutability (reference-shared)
    check(
      """var v = JSON.parse('{"a": [1]}');
        |v.a.push(2);
        |g.emit(JSON.stringify(v))""".stripMargin,
      Seq("""{"a":[1,2]}"""))
    check(
      """var o = {x: 1, y: 2};
        |g.emit(Object.keys(o).join(",")); g.emit(Object.values(o).join("-"));
        |g.emit(Array.isArray([1])); g.emit(Array.isArray("no"))""".stripMargin,
      Seq("x,y", "1-2", "true", "false"))
    check(
      """g.emit(parseInt("42px")); g.emit(parseInt("0x1F"));
        |g.emit(parseInt("-7")); g.emit(isNaN(parseInt("zz")));
        |g.emit(parseFloat("3.5e2suffix")); g.emit(Number("12"));
        |g.emit(String(12) + "!"); g.emit(Boolean("")); g.emit(Boolean(3))""".stripMargin,
      Seq("42", "31", "-7", "true", "350", "12", "12!", "false", "true"))
    // bad JSON fails loudly
    intercept[Gizmo.GizmoError](session.execute("""JSON.parse("{oops}");"""))
  }

  test("new/this: constructor functions and bound methods") {
    // classic pre-class OO: constructor assigns state and methods on this
    check(
      """function Counter(start) {
        |  this.n = start;
        |  this.bump = function(by) { this.n = this.n + by; return this.n; };
        |}
        |var c = new Counter(10);
        |c.bump(1); c.bump(2);
        |g.emit(c.n); g.emit(c.bump(0))""".stripMargin,
      Seq("13", "13"))
    // two instances do not share state
    check(
      """function Box(v) { this.v = v; }
        |var a = new Box("x");
        |var b = new Box("y");
        |g.emit(a.v); g.emit(b.v)""".stripMargin,
      Seq("x", "y"))
    // an object-valued return overrides the fresh `this` (JS semantics)
    check(
      """function F() { this.a = 1; return {b: 2}; }
        |function G() { this.a = 3; return 7; }
        |g.emit(new F().b); g.emit(new G().a)""".stripMargin,
      Seq("2", "3"))
    // method on a plain object literal binds this to the receiver
    check(
      """var o = {n: 5};
        |o.double = function() { return o.n * 2; };
        |o.viaThis = function() { return this.n * 2; };
        |g.emit(o.double()); g.emit(o.viaThis())""".stripMargin,
      Seq("10", "10"))
    // still errors: undefined constructor
    intercept[Gizmo.GizmoError](session.execute("var d = new Date();"))
  }

  test("class declarations desugar to constructor + prototype") {
    check(
      """class Acc {
        |  constructor(start) { this.total = start; }
        |  add(v) { this.total = this.total + v; return this; }
        |  value() { return this.total; }
        |}
        |var a = new Acc(10);
        |a.add(5).add(7);
        |g.emit(a.value());
        |g.emit(new Acc(0).add(1).value())""".stripMargin,
      Seq("22", "1"))
    // default constructor when none declared; methods via prototype
    check(
      """class Greeter { hi(name) { return "hi " + name; } }
        |g.emit(new Greeter().hi("bob"));
        |g.emit(Object.keys(new Greeter()).length)""".stripMargin,
      Seq("hi bob", "0"))
    // extends an undefined parent still fails loudly
    intercept[Gizmo.GizmoError] {
      session.execute("class B extends NotDefined { }")
    }
  }

  test("class extends / super / static") {
    check(
      """class Shape {
        |  constructor(name) { this.name = name; }
        |  describe() { return this.name; }
        |  static kind() { return "shape"; }
        |}
        |class Circle extends Shape {
        |  constructor(r) { super("circle"); this.r = r; }
        |  describe() { return super.describe() + " r=" + this.r; }
        |  area() { return 3 * this.r * this.r; }
        |}
        |var c = new Circle(2);
        |g.emit(c.describe()); g.emit(c.area()); g.emit(c.name);
        |g.emit(Shape.kind()); g.emit(Circle.kind())""".stripMargin,
      Seq("circle r=2", "12", "circle", "shape", "shape"))
    // default derived constructor forwards args to super
    check(
      """class A { constructor(x, y) { this.sum = x + y; } }
        |class B extends A { }
        |g.emit(new B(3, 4).sum)""".stripMargin,
      Seq("7"))
    // inherited methods resolve through the prototype chain
    check(
      """class P { hello() { return "hi"; } }
        |class Q extends P { }
        |g.emit(new Q().hello())""".stripMargin,
      Seq("hi"))
    // super outside a derived member fails loudly
    intercept[Gizmo.GizmoError] {
      session.execute("function f() { return super.x(); } f();")
    }
  }

  test("prototype methods: shared, live, shadowable, non-enumerable link") {
    // methods on F.prototype are found by instances and bind this
    check(
      """function Point(x, y) { this.x = x; this.y = y; }
        |Point.prototype.norm1 = function() {
        |  return Math.abs(this.x) + Math.abs(this.y);
        |};
        |var p = new Point(3, -4);
        |var q = new Point(1, 1);
        |g.emit(p.norm1()); g.emit(q.norm1())""".stripMargin,
      Seq("7", "2"))
    // prototype edits AFTER construction are visible (live chain), and
    // instance properties shadow the prototype
    check(
      """function F() { this.k = 1; }
        |var a = new F();
        |F.prototype.tag = function() { return "proto"; };
        |var viaProto = a.tag();
        |a.tag = function() { return "own"; };
        |g.emit(viaProto); g.emit(a.tag())""".stripMargin,
      Seq("proto", "own"))
    // prototype DATA properties are readable through the chain too
    check(
      """function F() {}
        |F.prototype.kind = "widget";
        |var w = new F();
        |g.emit(w.kind)""".stripMargin,
      Seq("widget"))
    // the __proto__ link and inherited members stay out of enumeration
    check(
      """function F() { this.own = 1; }
        |F.prototype.m = function() { return 0; };
        |var o = new F();
        |g.emit(Object.keys(o).join(","));
        |g.emit(JSON.stringify(o));
        |var seen = [];
        |for (k in o) { seen.push(k); }
        |g.emit(seen.join(","))""".stripMargin,
      Seq("own", """{"own":1}""", "own"))
  }

  test("labeled break/continue") {
    // break out of both loops at once
    check(
      """var hits = [];
        |outer: for (var i = 0; i < 4; i++) {
        |  for (var j = 0; j < 4; j++) {
        |    if (i * j >= 4) break outer;
        |    hits.push(i + "" + j);
        |  }
        |}
        |g.emit(hits.join(","))""".stripMargin,
      Seq("00,01,02,03,10,11,12,13,20,21"))
    // continue the OUTER loop from the inner one
    check(
      """var s = 0;
        |top: for (var i = 0; i < 3; i++) {
        |  for (var j = 0; j < 3; j++) {
        |    if (j > i) continue top;
        |    s = s + 1;
        |  }
        |}
        |g.emit(s)""".stripMargin, // j runs 0..i → 1+2+3
      Seq("6"))
    // break with a label exits a labeled plain block
    check(
      """var log = [];
        |blk: {
        |  log.push("a");
        |  if (log.length == 1) break blk;
        |  log.push("never");
        |}
        |log.push("after");
        |g.emit(log.join(","))""".stripMargin,
      Seq("a,after"))
    // an ident after break that is NOT an active label starts a new
    // statement (tokenizer has no line terminators)
    check(
      """var n = 0;
        |while (true) { break
        |n = 5; }
        |g.emit(n)""".stripMargin,
      Seq("0"))
  }

  test("regex capture groups: exec, match, search, split") {
    // exec: [full, g1, ...] with null for unset groups; null on no match
    check(
      """var m = /(\d{4})-(\d{2})/.exec("on 2026-08-13 we shipped");
        |g.emit(m[0]); g.emit(m[1]); g.emit(m[2]);
        |g.emit(/x(y)?/.exec("xz")[1] === null);
        |g.emit(/nope/.exec("abc") === null)""".stripMargin,
      Seq("2026-08", "2026", "08", "true", "true"))
    // named groups via template expansion come from the same machinery;
    // exec only carries positional entries (JS .groups is documented out)
    check(
      """var m = "a12b345".match(/\d+/g);
        |g.emit(m.length); g.emit(m[0]); g.emit(m[1]);
        |g.emit("a12b".match(/(\d+)/)[1]);
        |g.emit("abc".match(/z/g) === null);
        |g.emit("xaybz".search(/b/)); g.emit("xay".search(/q/))""".stripMargin,
      Seq("2", "12", "345", "12", "true", "3", "-1"))
    check(
      """var parts = "a1b22c".split(/\d+/);
        |g.emit(parts.join("|"));
        |g.emit("a1b2c".split(/(\d)/).join("|"))""".stripMargin,
      Seq("a|b|c", "a|1|b|2|c"))
  }

  test("regex replace: templates, callbacks, global flag") {
    check(
      """g.emit("2026-08-13".replace(/(\d+)-(\d+)-(\d+)/, "$3/$2/$1"));
        |g.emit("a1b2".replace(/\d/, "#"));
        |g.emit("a1b2".replace(/\d/g, "#"));
        |g.emit("ab".replace(/b/, "[$&][$`][$$]"));
        |g.emit("x".replace(/x/, "$99"))""".stripMargin,
      Seq("13/08/2026", "a#b2", "a#b#", "a[b][a][$]", "$99"))
    // callback form gets (match, groups..., offset, whole)
    check(
      """var out = "a1b22".replace(/(\d+)/g, function (m, d, off) {
        |  return "<" + parseInt(d) * 2 + "@" + off + ">";
        |});
        |g.emit(out)""".stripMargin,
      Seq("a<2@1>b<44@3>"))
    // named-group template expansion on the RE2 (?P<name>) form
    check(
      """g.emit("2026-08".replace(/(?P<y>\d{4})-(?P<m>\d{2})/, "$<m> of $<y>"));
        |g.emit("aaa".replaceAll(/a/g, "b"))""".stripMargin,
      Seq("08 of 2026", "bbb"))
    intercept[Gizmo.GizmoError] { // JS TypeError parity
      session.execute(""""aaa".replaceAll(/a/, "b");""")
    }
    // filter(/re/) must STAY an error (gizmo_test.go:195)
    intercept[Gizmo.GizmoError] {
      session.execute("""g.V().filter(/re/).all();""")
    }
  }

  test("malformed escapes and overflowing parseInt stay inside GizmoError") {
    // every interpreter failure must surface as GizmoError (catchable by
    // Gizmo try/catch), never a raw JVM NumberFormatException
    intercept[Gizmo.GizmoError](session.execute("""var s = "\xZZ";"""))
    // (\ u split keeps scalac's own unicode-escape pass out of the way)
    intercept[Gizmo.GizmoError](
      session.execute("var s = \"\\" + "uZZZZ\";"))
    intercept[Gizmo.GizmoError](
      session.execute("""JSON.parse("\"a\\uQQQQb\"");"""))
    // a Gizmo-level catch sees them too
    check(
      """var got = "no";
        |try { JSON.parse("\"\\uXYZW\""); } catch (e) { got = "caught"; }
        |g.emit(got)""".stripMargin,
      Seq("caught"))
    // parseInt beyond Long.MaxValue follows JS into double precision
    check("""g.emit(parseInt("99999999999999999999999") > 1e22)""",
      Seq("true"))
  }

  test("Date: deterministic UTC construction and accessors") {
    // epoch millis, ISO date, ISO date-time (with/without offset), fields
    check("""var d = new Date(0); g.emit(d.getUTCFullYear())""", Seq("1970"))
    check(
      """var d = new Date("2020-03-15T12:34:56.789Z");
        |g.emit(d.getUTCFullYear()); g.emit(d.getUTCMonth());
        |g.emit(d.getUTCDate()); g.emit(d.getUTCHours());
        |g.emit(d.getUTCMinutes()); g.emit(d.getUTCSeconds());
        |g.emit(d.getUTCMilliseconds()); g.emit(d.getUTCDay())""".stripMargin,
      Seq("2020", "2", "15", "12", "34", "56", "789", "0")) // Sunday = 0
    // date-only string = UTC midnight (JS parity); bare date-time = UTC
    // (deliberate divergence: goja would read the host zone)
    check("""g.emit(new Date("2020-03-15").getTime())""", Seq("1584230400000"))
    check("""g.emit(new Date("2020-03-15T00:00:00").getTime())""",
      Seq("1584230400000"))
    // explicit offset is honored
    check("""g.emit(new Date("2020-03-15T02:00:00+02:00").getTime())""",
      Seq("1584230400000"))
    // numeric fields are UTC; month is 0-based (JS)
    check("""g.emit(new Date(2020, 2, 15).getTime())""", Seq("1584230400000"))
    // local-named getters alias UTC; offset is 0 in a UTC-only engine
    check(
      """var d = new Date(2021, 11, 31, 23, 59, 59, 250);
        |g.emit(d.getFullYear()); g.emit(d.getMonth()); g.emit(d.getDate());
        |g.emit(d.getHours()); g.emit(d.getTimezoneOffset())""".stripMargin,
      Seq("2021", "11", "31", "23", "0"))
  }

  test("Date: arithmetic, comparison, rendering, statics") {
    // ToNumber(date) = millis → differences and comparisons just work
    check(
      """var a = new Date("2020-01-01"); var b = new Date("2020-01-02");
        |g.emit(b - a); g.emit(b > a); g.emit(a.valueOf() === 0 + a)""".stripMargin,
      Seq("86400000", "true", "true"))
    check("""g.emit(new Date("2020-03-15T12:00:00Z").toISOString())""",
      Seq("2020-03-15T12:00:00.000Z"))
    // emit / string concat / JSON.stringify all render the ISO form
    check("""g.emit(new Date(86400000))""", Seq("1970-01-02T00:00:00.000Z"))
    check("""g.emit("at " + new Date(0))""",
      Seq("at 1970-01-01T00:00:00.000Z"))
    check("""g.emit(JSON.stringify({t: new Date(0)}))""",
      Seq("{\"t\":\"1970-01-01T00:00:00.000Z\"}"))
    // statics: Date.UTC and Date.parse return millis numbers
    check("""g.emit(Date.UTC(2020, 2, 15))""", Seq("1584230400000"))
    check("""g.emit(Date.parse("2020-03-15T00:00:00Z"))""",
      Seq("1584230400000"))
    // round-trip through a Date copy and through getTime
    check("""g.emit(new Date(new Date(1234)).getTime())""", Seq("1234"))
  }

  test("Date: the non-deterministic surface stays a documented error") {
    intercept[Gizmo.GizmoError](session.execute("var d = new Date();"))
    intercept[Gizmo.GizmoError](session.execute("g.emit(Date.now());"))
    intercept[Gizmo.GizmoError](
      session.execute("""new Date("not a date");"""))
    // catchable inside Gizmo, like every other GizmoError
    check(
      """var got = "no";
        |try { Date.now(); } catch (e) { got = "caught"; }
        |g.emit(got)""".stripMargin,
      Seq("caught"))
  }

  test("generators: next/value/done protocol, laziness, per-instance state") {
    check(
      """function* counter(start) {
        |  var i = start;
        |  while (true) { yield i; i = i + 1; }
        |}
        |var c = counter(10);
        |g.emit(c.next().value);
        |g.emit(c.next().value);
        |var c2 = counter(100);
        |g.emit(c2.next().value);
        |g.emit(c.next().value);
        |g.emit(c.next().done);""".stripMargin,
      Seq("10", "11", "100", "12", "false"))
  }

  test("generators: return value, done protocol, exhausted next") {
    check(
      """function* f() { yield 1; yield 2; return 3; }
        |var it = f();
        |g.emit(it.next().value);
        |g.emit(it.next().value);
        |var r = it.next();
        |g.emit(r.value); g.emit(r.done);
        |g.emit(it.next().done);""".stripMargin,
      Seq("1", "2", "3", "true", "true"))
  }

  test("generators: yield is an expression — next(v) resumes with v") {
    check(
      """function* echo() {
        |  var got = yield "first";
        |  var more = yield got + "!";
        |  yield more * 2;
        |}
        |var e = echo();
        |g.emit(e.next().value);
        |g.emit(e.next("hi").value);
        |g.emit(e.next(21).value);""".stripMargin,
      Seq("first", "hi!", "42"))
  }

  test("generators: for-of pulls lazily, break stops an infinite generator") {
    check(
      """function* nat() { var i = 0; while (true) { yield i; i = i + 1; } }
        |var sum = 0;
        |for (const x of nat()) { if (x > 4) break; sum = sum + x; }
        |g.emit(sum);""".stripMargin,
      Seq("10"))
  }

  test("generators: yield* delegates to generators and arrays") {
    check(
      """function* inner() { yield 2; yield 3; return 99; }
        |function* outer() {
        |  yield 1;
        |  var r = yield* inner(); // evaluates to inner's RETURN value
        |  yield r;
        |  yield* [7, 8];
        |}
        |g.emit(Array.from(outer()).join(","));""".stripMargin,
      Seq("1,2,3,99,7,8"))
  }

  test("generators: gen.return() unwinds through finally") {
    check(
      """function* f2() {
        |  try { yield 1; yield 2; } finally { g.emit("cleanup"); }
        |}
        |var t = f2();
        |g.emit(t.next().value);
        |var r = t.return(42);
        |g.emit(r.value); g.emit(r.done);
        |g.emit(t.next().done);""".stripMargin,
      Seq("1", "cleanup", "42", "true", "true"))
  }

  test("generators: exceptions inside the body surface at next()") {
    check(
      """function* boom() { yield 1; throw "bad"; }
        |var b = boom();
        |g.emit(b.next().value);
        |try { b.next(); } catch (e) { g.emit("caught " + e); }
        |g.emit(b.next().done);""".stripMargin,
      Seq("1", "caught bad", "true"))
  }

  test("generators: anonymous function*, typeof, rendering, traversal mix") {
    check(
      """var mk = function*(p) { yield p; yield g.V(p).out("<follows>").toValue(); };
        |var it2 = mk("<alice>");
        |g.emit(typeof mk);      // "function"
        |g.emit(typeof it2);     // "object"
        |g.emit("" + it2);       // [object Generator]
        |g.emit(it2.next().value);
        |g.emit(it2.next().value);""".stripMargin,
      Seq("function", "object", "[object Generator]", "<alice>", "<bob>"))
  }

  test("generators: gen.throw() materializes at the yield point") {
    // caught inside the body: the generator keeps going
    check(
      """function* g1() {
        |  while (true) {
        |    try { yield "ok"; } catch (e) { yield "saw " + e; }
        |  }
        |}
        |var t = g1();
        |g.emit(t.next().value);
        |g.emit(t.throw("boom").value);
        |g.emit(t.next().value);""".stripMargin,
      Seq("ok", "saw boom", "ok"))
    // uncaught: unwinds to the caller, finally runs, generator is done
    check(
      """function* g2() {
        |  try { yield 1; } finally { g.emit("fin"); }
        |}
        |var u = g2(); u.next();
        |try { u.throw("oops"); } catch (e) { g.emit("caught " + e); }
        |g.emit(u.next().done);""".stripMargin,
      Seq("fin", "caught oops", "true"))
  }

  test("generators: spread into array literals and call arguments") {
    check(
      """function* three() { yield 1; yield 2; yield 3; }
        |var arr = [0, ...three(), 4];
        |g.emit(arr.join(","));
        |g.emit(Math.max(...three()));""".stripMargin,
      Seq("0,1,2,3,4", "3"))
  }

  test("generators: 50 interleaved activations keep independent state") {
    // round-robin across 50 live carrier threads: any cross-activation
    // state bleed (env/fnStack snapshot bugs) breaks the exact sum
    // Σ_j Σ_r (1000j + r) = 1000·1225·5 + 50·10 = 6125500
    check(
      """function* ctr(base) {
        |  var i = 0;
        |  while (true) { yield base + i; i = i + 1; }
        |}
        |var gens = [];
        |for (var i = 0; i < 50; i++) gens.push(ctr(i * 1000));
        |var sum = 0;
        |for (var r = 0; r < 5; r++) {
        |  for (var j = 0; j < 50; j++) sum = sum + gens[j].next().value;
        |}
        |g.emit(sum);""".stripMargin,
      Seq("6125500"))
  }

  test("generators: recursive yield* delegation 30 levels deep") {
    // 31 nested live generators, each suspended inside the next one's
    // yield* — stresses the chained genStep handshake
    check(
      """function* deep(n) {
        |  if (n <= 0) { yield 0; }
        |  else { yield* deep(n - 1); yield n; }
        |}
        |g.emit(Array.from(deep(30)).join(","));""".stripMargin,
      Seq((0 to 30).mkString(",")))
  }

  test("generators: error surface — new, self-resume, yield outside") {
    intercept[Gizmo.GizmoError](session.execute(
      "function* f3() { yield 1; }\nvar x = new f3();"))
    intercept[Gizmo.GizmoError](session.execute(
      """function* f4() { yield f4v.next().value; }
        |var f4v = f4(); f4v.next();""".stripMargin))
    // yield in a NESTED plain function is not generator-yield (JS
    // SyntaxError surface): it falls back to an undefined identifier
    intercept[Gizmo.GizmoError](session.execute(
      """function* f5() { function inner() { return yield 1; } yield inner(); }
        |f5().next();""".stripMargin))
    intercept[Gizmo.GizmoError](session.execute("var z = yield 1;"))
  }
}
