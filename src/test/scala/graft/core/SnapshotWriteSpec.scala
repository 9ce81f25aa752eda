package graft.core

import graft.TestSpark
import graft.core.NQuads.ParsedQuad
import graft.exec.Exec
import graft.path.Path
import graft.server.HttpApi
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** Writes as base + delta snapshots (`Graph.addQuads`, `deleteQuads`,
  * `Inference.removeNode`) on inline data: the answers of the
  * `union` + `dropDuplicates` rewrite they replace, with stats, the OPS
  * sibling and `pb` kept current and a plan that does not grow.
  */
class SnapshotWriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def iri(s: String) = QValue.Iri(s)
  private def q(s: String, p: String, o: QValue, l: Option[String] = None) =
    ParsedQuad(iri(s), iri(p), o, l.map(iri))

  /** Seeded random quads over a small vocabulary, so writes collide with
    * the base and with each other.
    */
  private def randomQuads(rnd: scala.util.Random, n: Int, vocab: Int): Seq[ParsedQuad] =
    Seq.fill(n) {
      val o: QValue = rnd.nextInt(4) match {
        case 0 => QValue.Str("v" + rnd.nextInt(vocab))
        case 1 => QValue.IntV(rnd.nextInt(vocab).toLong)
        case _ => iri("n" + rnd.nextInt(vocab))
      }
      q("n" + rnd.nextInt(vocab), "p" + rnd.nextInt(4), o,
        if (rnd.nextInt(5) == 0) Some("g" + rnd.nextInt(2)) else None)
    }

  private def keys(df: DataFrame): Seq[Graph.QuadKey] =
    df.select(Graph.QuadCols.map(col): _*).collect().map(Graph.quadKey).toSeq
      .sortBy(_.toString)

  private def nodeRows(g: Graph): Seq[String] =
    g.nodes.select(g.nodes.columns.toIndexedSeq.map(col): _*).collect()
      .map(_.toString).toSeq.sorted

  /** The rewrite `addQuads` replaced: the whole store under union + dedup. */
  private def rewrite(g: Graph, d: Graph): (Seq[Graph.QuadKey], Seq[String]) = {
    val qs = g.quads.select(Graph.QuadCols.map(col): _*)
      .unionByName(d.quads.select(Graph.QuadCols.map(col): _*))
      .dropDuplicates(Graph.QuadCols)
    val ns = g.nodes.unionByName(d.nodes.select(g.nodes.columns.toIndexedSeq.map(col): _*))
      .dropDuplicates("id")
    (keys(qs), nodeRows(Graph(ns, qs)))
  }

  /** A dual-index store with 4 predicate buckets, opened as a server
    * opens it (cached) unless `cache` is off.
    */
  private def store(qs: Seq[ParsedQuad], cache: Boolean = true): Graph = {
    val dir = Files.createTempDirectory("graft-snap").toString
    Graph.fromQuads(spark, qs).write(dir, predicateBuckets = 4, objectIndex = true)
    val g = Graph.read(spark, dir)
    if (cache) g.cached() else g
  }

  private def assertCurrent(g: Graph): Unit = {
    assert(g.predStats === g.withStats().predStats)
    g.quadsOps.foreach(ops => assert(keys(ops) === keys(g.quads)))
  }

  private def films(g: Graph, actor: String): Seq[String] =
    Exec.run(g, Path.start(iri(actor)).in(iri("actor"))).values().map(_.sortKey).sorted

  test("fromQuads builds the dictionary fromQuadDF builds") {
    import spark.implicits._
    val qs = Seq(
      q("a", "num", QValue.FloatV(-0.0)), q("b", "num", QValue.FloatV(0.0)),
      q("c", "num", QValue.FloatV(Double.NaN)), q("d", "num", QValue.FloatV(Double.NaN)),
      q("a", "at", QValue.TimeV(1405974733000000L), Some("g")),
      q("a", "says", QValue.LangStr("hi", "en")), q("a", "says", QValue.Str("hi")))
    val distributed = Graph.fromQuadDF(spark.createDataset(qs.map(Graph.QuadRow(_))).toDF())
    val local = Graph.fromQuads(spark, qs)
    assert(nodeRows(local) === nodeRows(distributed))
    assert(keys(local.quads) === keys(distributed.quads))
  }

  test("addQuads gives the quad and node sets of union + dropDuplicates") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      var g = Graph.fromQuads(spark, randomQuads(rnd, 60, 12).distinct).withStats()
      for (_ <- 1 to 3) {
        val d = Graph.fromQuads(spark, randomQuads(rnd, 25, 16))
        val (wantQuads, wantNodes) = rewrite(g, d)
        g = g.addQuads(d)
        assert(keys(g.quads) === wantQuads, s"seed $seed")
        assert(nodeRows(g) === wantNodes, s"seed $seed")
        assertCurrent(g)
      }
    }
  }

  test("re-adding stored quads and duplicates inside one delta are no-ops") {
    val base = Seq(q("a", "knows", iri("b")), q("b", "knows", iri("c")))
    val g = Graph.fromQuads(spark, base).withStats()
    assert(g.addQuads(Graph.fromQuads(spark, base)) eq g)
    val twice = Seq.fill(2)(q("c", "knows", iri("a")))
    val g2 = g.addQuads(Graph.fromQuads(spark, twice ++ base))
    assert(g2.stats === (4L, 3L))
    assert(g2.addQuads(Graph.fromQuads(spark, twice)) eq g2)
    assertCurrent(g2)
  }

  test("a write leaves duplicates the base already held as they were") {
    // behaviour change: the old rewrite deduplicated the whole store on
    // every write; a write now only touches its own rows
    val dup = q("a", "knows", iri("b"))
    val g = Graph.fromQuads(spark, Seq(dup, dup))
    val g2 = g.addQuads(Graph.fromQuads(spark, Seq(q("b", "knows", iri("c")))))
    assert(g2.quads.count() === 3)
    assert(g2.quads.where(col("s") === QValue.id(iri("a"))).count() === 2)
    // a delete removes, and uncounts, every stored copy
    val g3 = g.withStats().deleteQuads(Graph.fromQuads(spark, Seq(dup)))
    assert(g3.quads.count() === 0)
    assertCurrent(g3)
  }

  test("the existence probe returns only exact matches, every stored copy") {
    // every s, p and o below is among the probed ids, but only two of
    // the eight id combinations are stored keys
    val dup = q("a", "knows", iri("b"))
    val g = Graph.fromQuads(spark, Seq(dup, dup, q("c", "knows", iri("d")),
      q("a", "knows", iri("d")), q("c", "knows", iri("b"))))
    val want = Seq(dup, q("c", "knows", iri("d"))).map(Graph.quadKey)
    assert(g.storedRows(want).sortBy(_.toString) ===
      (want.head +: want).sortBy(_.toString))
  }

  test("writes keep predStats, the OPS sibling and pb on a bucketed store") {
    var g = store(Seq(q("f1", "actor", iri("x")), q("f2", "actor", iri("y")),
      q("f1", "name", QValue.Str("one"))), cache = false)
    assert(g.predicateBuckets === 4 && g.quadsOps.isDefined && g.predStats.isDefined)
    g = g.addQuads(Graph.fromQuads(spark, Seq(q("f3", "actor", iri("x")),
      q("f3", "name", QValue.Str("three")), q("f1", "actor", iri("x")))))
    assert(g.quadsOps.isDefined && g.predicateBuckets === 4)
    assertCurrent(g)
    val pb = g.quads.select(col("p"), col("pb")).collect()
    assert(pb.forall(r => r.getInt(1) == Math.floorMod(r.getLong(0), 4L)))
    assert(films(g, "x") === Seq("<f1>", "<f3>"))
    // a predicate filter still prunes the stored partitions
    val scan = g.quads.where(col("pb") === 1).queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(pb"), scan)
  }

  test("deleteQuads and removeNode keep predStats and the OPS sibling") {
    var g = store(Seq(q("f1", "actor", iri("x")), q("f2", "actor", iri("x")),
      q("f2", "actor", iri("y")), q("f1", "name", QValue.Str("one"))))
    g = g.addQuads(Graph.fromQuads(spark, Seq(q("f3", "actor", iri("y")))))
    g = g.deleteQuads(Graph.fromQuads(spark, Seq(q("f1", "actor", iri("x")),
      q("f3", "actor", iri("y")), q("zz", "actor", iri("x")))))
    assert(g.quadsOps.isDefined)
    assertCurrent(g)
    assert(films(g, "x") === Seq("<f2>") && films(g, "y") === Seq("<f2>"))
    g = Inference.removeNode(g, iri("f2"))
    assert(g.quadsOps.isDefined)
    assertCurrent(g)
    assert(g.stats._2 === 1L && films(g, "y").isEmpty)
    // a later write starts from the edited snapshot
    g = g.addQuads(Graph.fromQuads(spark, Seq(q("f4", "actor", iri("y")))))
    assertCurrent(g)
    assert(films(g, "y") === Seq("<f4>"))
  }

  test("crossing the broadcast threshold folds the delta into a cached base") {
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    val rnd = new scala.util.Random(7)
    var written = randomQuads(rnd, 40, 10).distinct
    var g = Graph.fromQuads(small, written).withStats()
    val folds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // each write and delete mixes new quads with ones written before
    def mixed(n: Int) =
      randomQuads(rnd, n, 30) ++ Seq.fill(n / 2)(written(rnd.nextInt(written.size)))
    for (i <- 1 to 10) {
      // write 9 and delete 10 are larger than the threshold on their own
      val adds = mixed(if (i == 9) 200 else 12)
      val d = Graph.fromQuads(small, adds)
      val del = Graph.fromQuads(small, mixed(if (i == 10) 200 else 6))
      written ++= adds
      val deleted = keys(del.quads).toSet
      if (i < 10) {
        val (added, wantNodes) = rewrite(g, d)
        g = g.addQuads(d).deleteQuads(del)
        assert(keys(g.quads) === added.filterNot(deleted), s"write $i")
        assert(nodeRows(g) === wantNodes, s"write $i")
      } else {
        val want = keys(g.quads).filterNot(deleted)
        g = g.deleteQuads(del)
        assert(keys(g.quads) === want)
      }
      assertCurrent(g)
      val delta = g.delta.get
      assert(delta.bytes <= 4096)
      if (delta.ownsBase && !folds.exists(_ eq delta.base.quads)) {
        folds += delta.base.quads
        assert(delta.base.quads.storageLevel.useMemory)
      }
    }
    assert(folds.size >= 3)
  }

  test("a disabled broadcast threshold does not fold every write") {
    val off = spark.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rnd = new scala.util.Random(3)
    val g0 = Graph.fromQuads(off, randomQuads(rnd, 40, 10)).withStats().cached()
    var g = g0
    for (_ <- 1 to 5) {
      g = g.addQuads(Graph.fromQuads(off, randomQuads(rnd, 20, 30)))
      g = g.deleteQuads(Graph.fromQuads(off, randomQuads(rnd, 5, 10)))
      val delta = g.delta.get
      assert(!delta.ownsBase && (delta.base.quads eq g0.quads))
      assert(!g.quads.storageLevel.useMemory)
    }
    assertCurrent(g)
  }

  test("a fold releases its base across node deletes") {
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    val rnd = new scala.util.Random(11)
    val names = randomQuads(rnd, 40, 10)
    var g = Graph.fromQuads(small, names).withStats()
    def foldedBase = g.delta.filter(_.ownsBase).map(_.base.quads)
    while (foldedBase.isEmpty)
      g = g.addQuads(Graph.fromQuads(small, randomQuads(rnd, 20, 200)))
    val first = foldedBase.get
    assert(first.storageLevel.useMemory)
    g = Inference.removeNode(g, names.head.s)
    assert(g.delta.exists(d => d.ownsBase && (d.base.quads eq first)))
    assertCurrent(g)
    while (foldedBase.forall(_ eq first))
      g = g.addQuads(Graph.fromQuads(small, randomQuads(rnd, 20, 200)))
    assert(!first.storageLevel.useMemory)
    assert(g.nodes.where(col("id") === QValue.id(names.head.s)).isEmpty)
    assertCurrent(g)
  }

  test("the plan of a quad scan has as many nodes after 20 writes as after 1") {
    var g = Graph.fromQuads(spark,
      (1 to 20).map(i => q(s"b$i", "knows", iri("b")))).withStats()
    def size(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case n => n }.size
    def planNodes(g: Graph) =
      (size(g.quads.where(col("p") === QValue.id(iri("knows")))), size(g.nodes))
    var afterOne = (0, 0)
    for (i <- 1 to 20) {
      g = g.addQuads(Graph.fromQuads(spark, Seq(q(s"w$i", "knows", iri("b")))))
      g = g.deleteQuads(Graph.fromQuads(spark, Seq(q(s"b$i", "knows", iri("b")))))
      g = Inference.removeNode(g, iri(s"b$i"))
      if (i == 1) afterOne = planNodes(g)
    }
    assert(planNodes(g) === afterOne)
    assert(keys(g.quads) === keys(Graph.fromQuads(spark,
      (1 to 20).map(i => q(s"w$i", "knows", iri("b")))).quads))
    assertCurrent(g)
  }

  test("deletes and re-adds of base and delta quads compose") {
    val base = Seq(q("a", "knows", iri("b")), q("b", "knows", iri("c")))
    var g = store(base)
    val ab = Graph.fromQuads(spark, base.take(1))
    val ca = Graph.fromQuads(spark, Seq(q("c", "knows", iri("a"))))
    g = g.deleteQuads(ab)
    assert(g.deleteQuads(ab) eq g)
    g = g.addQuads(ca).addQuads(ab) // a deleted base quad comes back
    assertCurrent(g)
    assert(g.stats._2 === 3L)
    g = g.deleteQuads(ca).deleteQuads(ab)
    assertCurrent(g)
    assert(keys(g.quads) === keys(Graph.fromQuads(spark, base.drop(1)).quads))
    assert(g.addQuads(Graph.fromQuads(spark, base.drop(1))) eq g)
  }

  test("HttpApi write -> query -> delete round trip on inline N-Quads") {
    val api = new HttpApi(store(Seq(q("f1", "actor", iri("x")))))
    val port = api.start()
    val client = HttpClient.newHttpClient()
    def post(path: String, body: String): String =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
    try {
      val wrote = post("/api/v2/write", "<f2> <actor> <x> .\n<f2> <name> \"two\" .\n")
      assert(wrote.contains(""""count": 2"""), wrote)
      val got = post("/api/v2/query?lang=gizmo", """g.V("<x>").in("<actor>").all()""")
      assert(got.contains("<f1>") && got.contains("<f2>"), got)
      assertCurrent(api.graph)
      post("/api/v2/delete", "<f1> <actor> <x> .\n")
      assertCurrent(api.graph)
      val left = post("/api/v2/query?lang=gizmo", """g.V("<x>").in("<actor>").all()""")
      assert(left.contains("<f2>") && !left.contains("<f1>"), left)
      post("/api/v2/node/delete", "<f2>")
      assertCurrent(api.graph)
      assert(api.graph.quadsOps.isDefined && api.graph.stats._2 === 0L)
    } finally api.stop()
  }
}
