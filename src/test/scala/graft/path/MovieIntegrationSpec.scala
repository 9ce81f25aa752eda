package graft.path

import graft.{TestFixtures, TestSpark}
import graft.core.{Graph, QValue}
import graft.exec.Exec
import org.scalatest.funsuite.AnyFunSuite

/** The reference's golden integration suite over the 471,705-quad
  * 30k-movie dataset (/root/reference/graph/graphtest/integration.go:80-443)
  * — also its benchmark corpus (BASELINE.md). Queries are the Gizmo
  * programs re-expressed in the Path DSL; expected outputs are the inline
  * golden values (the big co-star tag-map list rides in
  * src/test/resources/costar_golden.tsv).
  */
class MovieIntegrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val g: Graph = {
    val t0 = System.nanoTime()
    val gg = Graph.fromNQuads(spark,
      TestFixtures.reference("data/30kmoviedata.nq.gz")).cached()
    val (n, q) = gg.stats
    info(f"load: $n nodes, $q quads in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    gg
  }

  def iri(s: String): QValue = QValue.Iri(s)
  def str(s: String): QValue = QValue.Str(s)

  val name = iri("name")
  val perfActor = iri("/film/performance/actor")
  val perfChar = iri("/film/performance/character")
  val starring = iri("/film/film/starring")

  def filmToActor = Path.morphism().out(starring).out(perfActor)
  def actorToFilm = Path.morphism().in(perfActor).in(starring)
  def getId(n: String) = Path.start(str(n)).in(name)

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    info(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  test("name predicate") {
    val got = timed("name predicate") {
      Exec.run(g, getId("Humphrey Bogart")).values()
    }
    assert(got.map(_.sortKey) === Seq("</en/humphrey_bogart>"))
  }

  test("two large sets with no intersection") {
    val got = timed("two large sets") {
      Exec.run(g, getId("Oliver Hardy").follow(actorToFilm).out(name)
        .and(getId("Mel Blanc").follow(actorToFilm).out(name))).values()
    }
    assert(got.isEmpty)
  }

  test("three huge sets with small intersection") {
    val got = timed("three huge sets") {
      val a = getId("Oliver Hardy").follow(actorToFilm).followReverse(actorToFilm)
      val b = getId("Mel Blanc").follow(actorToFilm).followReverse(actorToFilm)
      val c = getId("Billy Gilbert").follow(actorToFilm).followReverse(actorToFilm)
      Exec.run(g, a.and(b).and(c).unique()).values()
    }
    assert(got.map(_.sortKey).sorted ===
      Seq("</en/billy_gilbert>", "</en/sterling_holloway>"))
  }

  val casablancaCast = Seq("Ingrid Bergman", "Madeleine LeBeau", "Joy Page",
    "Claude Rains", "S.Z. Sakall", "Helmut Dantine", "Conrad Veidt",
    "Paul Henreid", "Peter Lorre", "Sydney Greenstreet", "Leonid Kinskey",
    "Lou Marcelle", "Dooley Wilson", "John Qualen", "Humphrey Bogart")

  test("the helpless checker") {
    val got = timed("helpless checker") {
      Exec.run(g, Path.start().tag("person").in(name).in().in().out(name)
        .is(str("Casablanca"))).tagValues("person")
    }
    assert(got.map(_.sortKey).sorted === casablancaCast.sorted)
  }

  test("helpless checker, negated (films without Ingrid Bergman)") {
    val got = timed("negated films") {
      Exec.run(g, Path.start().tag("person").in(name).in().in().out(name)
        .except(Path.start(str("Ingrid Bergman")).in(name).in().in().out(name))
        .is(str("Casablanca"))).tagValues("person")
    }
    assert(got.isEmpty)
  }

  test("helpless checker, negated (without actors Ingrid Bergman)") {
    val got = timed("negated actors") {
      Exec.run(g, Path.start().tag("person").in(name)
        .except(Path.start(str("Ingrid Bergman")).in(name))
        .in().in().out(name).is(str("Casablanca"))).tagValues("person")
    }
    assert(got.map(_.sortKey).sorted ===
      casablancaCast.filterNot(_ == "Ingrid Bergman").sorted)
  }

  def movie1 = Path.start().has(name, str("The Net"))
  def movie2 = Path.start().has(name, str("Speed"))
  def actor1 = Path.start().has(name, str("Sandra Bullock"))
  def actor2 = Path.start().has(name, str("Keanu Reeves"))
  def m1Actors = movie1.save(name, "movie1").follow(filmToActor)
  def m2Actors = movie2.save(name, "movie2").follow(filmToActor)
  def coStars1 = Path.morphism().in(perfActor).in(starring)
    .save(name, "costar1_movie").follow(filmToActor)
  def coStars2 = Path.morphism().in(perfActor).in(starring)
    .save(name, "costar2_movie").follow(filmToActor)

  test("Net and Speed") {
    val rows = timed("Net and Speed") {
      Exec.run(g, m1Actors.and(m2Actors).out(name)).tagMaps(includeTopLevel = true)
    }
    assert(rows.map(m => (m("id").sortKey, m("movie1").sortKey, m("movie2").sortKey)) ===
      Seq(("Sandra Bullock", "The Net", "Speed")))
  }

  test("Keanu in The Net") {
    val got = timed("Keanu in The Net") {
      Exec.run(g, actor2.and(m1Actors).out(name)).values()
    }
    assert(got.isEmpty)
  }

  test("Keanu in Speed") {
    val rows = timed("Keanu in Speed") {
      Exec.run(g, actor2.and(m2Actors).out(name)).tagMaps(includeTopLevel = true)
    }
    assert(rows.map(m => (m("id").sortKey, m("movie2").sortKey)) ===
      Seq(("Keanu Reeves", "Speed")))
  }

  test("Keanu with other in The Net") {
    val rows = timed("Keanu with other in The Net") {
      Exec.run(g, actor2.follow(coStars1).and(m1Actors).out(name))
        .tagMaps(includeTopLevel = true)
    }
    val got = rows.map(m => (m("id").sortKey, m("movie1").sortKey,
      m("costar1_movie").sortKey)).toSet
    assert(got === Set(
      ("Sandra Bullock", "The Net", "Speed"),
      ("Sandra Bullock", "The Net", "The Lake House")))
  }

  test("Keanu and Bullock with other (166 golden tag-maps)") {
    val rows = timed("Keanu and Bullock with other") {
      Exec.run(g,
        actor1.save(name, "costar1_actor").follow(coStars1)
          .and(actor2.save(name, "costar2_actor").follow(coStars2))
          .out(name)).tagMaps(includeTopLevel = true)
    }
    val got = rows.map(m => (m("id").sortKey, m("costar1_actor").sortKey,
      m("costar1_movie").sortKey, m("costar2_actor").sortKey,
      m("costar2_movie").sortKey))
    val golden = scala.io.Source
      .fromInputStream(getClass.getResourceAsStream("/costar_golden.tsv"))
      .getLines().map { l =>
        val f = l.split('\t'); (f(0), f(1), f(2), f(3), f(4))
      }.toSeq
    assert(got.sorted === golden.sorted)
  }

  test("save a number of predicates around a set of nodes") {
    def b(s: String) = QValue.BNode(s)
    val rows = timed("save predicates") {
      Exec.run(g, Path.start(b("9037"), b("49278"), b("44112"), b("44709"),
        b("43382"))
        .save(perfChar, "char").save(perfActor, "act")
        .saveReverse(starring, "film")).tagMaps(includeTopLevel = true)
    }
    val got = rows.map(m => (m("id").sortKey, m("char").sortKey,
      m("act").sortKey, m("film").sortKey)).toSet
    assert(got === Set(
      ("_:9037", "Rick Blaine", "</en/humphrey_bogart>", "</en/casablanca_1942>"),
      ("_:49278", "Sam Spade", "</en/humphrey_bogart>", "</en/the_maltese_falcon_1941>"),
      ("_:44112", "Philip Marlowe", "</en/humphrey_bogart>", "</en/the_big_sleep_1946>"),
      ("_:44709", "Captain Queeg", "</en/humphrey_bogart>", "</en/the_caine_mutiny_1954>"),
      ("_:43382", "Charlie Allnut", "</en/humphrey_bogart>", "</en/the_african_queen>")))
  }
}
