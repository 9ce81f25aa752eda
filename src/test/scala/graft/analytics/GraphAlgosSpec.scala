package graft.analytics

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

class GraphAlgosSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("degreeHistogram counts nodes per degree") {
    // out-degrees: 1 -> 3 edges, 2 -> 1, 3 -> 1  => histogram {3:1, 1:2}
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val got = GraphAlgos.degreeHistogram(edges, "src")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(3L -> 1L, 1L -> 2L))
  }

  /** The two tiers of a gated operator: the session's driver gate (every
    * graph here sits under it) and a negative gate that forces the
    * distributed tier.
    */
  private lazy val tiers =
    Seq("driver tier" -> Dedup.driverCcMaxEdges(spark), "distributed tier" -> -1L)

  test("pageRank on a known graph matches the analytic fixed point") {
    // A -> B, A -> C, B -> C, C -> A: stationary solution of
    //   rA = .15/3 + .85 rC; rB = .15/3 + .425 rA;
    //   rC = .15/3 + .425 rA + .85 rB
    // => rA = 0.128625/0.33168750 (exact), rB/rC derived
    val rA = 0.128625 / 0.33168750
    val rB = 0.05 + 0.425 * rA
    val rC = 0.0925 + 0.78625 * rA
    // sequential path converges tight (300 iters ~ 1e-15 contraction)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    val local = GraphAlgos.pageRankLocal(edges, iterations = 300)
    assert(math.abs(local(1L) - rA) < 1e-12)
    assert(math.abs(local(2L) - rB) < 1e-12)
    assert(math.abs(local(3L) - rC) < 1e-12)
    // either tier at 50 iterations: contraction ~0.85^50 ~ 3e-4
    for ((tier, gate) <- tiers) withClue(s"$tier: ") {
      val r = GraphAlgos.pageRank(edges.toDF("s", "d"), "s", "d",
        iterations = 50, maxDriverEdges = gate)
        .as[(Long, Double)].collect().toMap
      assert(math.abs(r(1L) - rA) < 1e-3)
      assert(math.abs(r(2L) - rB) < 1e-3)
      assert(math.abs(r(3L) - rC) < 1e-3)
    }
  }

  test("pageRank handles dangling nodes (sink keeps teleport + inflow)") {
    val edges = Seq((1L, 2L)).toDF("s", "d")
    for ((tier, gate) <- tiers) withClue(s"$tier: ") {
      val r = GraphAlgos.pageRank(edges, "s", "d", iterations = 10,
          maxDriverEdges = gate)
        .as[(Long, Double)].collect().toMap
      // node 1: only teleport. node 2: teleport + d * r1 (r1 = 0.075)
      assert(math.abs(r(1L) - 0.075) < 1e-12)
      assert(math.abs(r(2L) - (0.075 + 0.85 * 0.075)) < 1e-12)
    }
  }

  test("distributed pageRank agrees with sequential reference on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val edges = (1 to n * 3).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val local = GraphAlgos.pageRankLocal(edges, iterations = 10)
      for ((tier, gate) <- tiers) withClue(s"$tier: ") {
        val dist = GraphAlgos.pageRank(edges.toDF("s", "d"), "s", "d",
          iterations = 10, maxDriverEdges = gate)
          .as[(Long, Double)].collect().toMap
        assert(dist.keySet === local.keySet)
        for ((v, lr) <- local)
          assert(math.abs(dist(v) - lr) < 1e-9, s"trial $trial node $v")
      }
    }
  }

  test("personalizedPageRank concentrates mass near the source set") {
    // chain 1 -> 2 -> 3 -> 4 with restart at node 1: rank must decay
    // monotonically along the chain; global PR of the same chain ranks
    // node 4 highest (it accumulates), so the orders genuinely differ
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    for ((tier, gate) <- tiers) withClue(s"$tier: ") {
      val ppr = GraphAlgos.personalizedPageRank(edges, "s", "d",
          Seq(1L).toDF("node"), iterations = 30, maxDriverEdges = gate)
        .as[(Long, Double)].collect().toMap
      assert(ppr(1L) > ppr(2L) && ppr(2L) > ppr(3L) && ppr(3L) > ppr(4L))
      // analytic fixed point: r1 = 0.15, r_{k+1} = 0.85 * r_k (chain, one
      // out-edge each; restart mass only at node 1)
      assert(math.abs(ppr(1L) - 0.15) < 1e-9)
      assert(math.abs(ppr(2L) - 0.15 * 0.85) < 1e-9)
      assert(math.abs(ppr(4L) - 0.15 * math.pow(0.85, 3)) < 1e-9)
      val global = GraphAlgos.pageRank(edges, "s", "d", iterations = 30,
          maxDriverEdges = gate)
        .as[(Long, Double)].collect().toMap
      assert(global(4L) > global(1L))
    }
  }

  test("personalizedPageRank rejects a source absent from the graph") {
    val edges = Seq((1L, 2L)).toDF("s", "d")
    for ((tier, gate) <- tiers) withClue(s"$tier: ") {
      intercept[IllegalArgumentException] {
        GraphAlgos.personalizedPageRank(edges, "s", "d",
          Seq(99L).toDF("node"), maxDriverEdges = gate)
      }
    }
  }

  test("pageRank tiers agree on string keys, duplicate edges, a self-loop " +
      "and a null endpoint") {
    // a→b twice (counts twice), c→c, d→null (counts in d's out-degree,
    // its share is lost) and null→a (sends nothing): null is one node of
    // five, so its rank is the bare restart term (1-d)/5
    val edges = Seq[(String, String)](("a", "b"), ("a", "b"), ("b", "c"),
      ("c", "a"), ("c", "c"), ("b", "d"), ("d", null), (null, "a"))
      .toDF("s", "d")
    def both(f: Long => org.apache.spark.sql.DataFrame)
        : Seq[Map[Option[String], Double]] = {
      val Seq(drv, dist) = Seq(Long.MaxValue, -1L).map(f)
      assert(drv.schema("node").dataType === dist.schema("node").dataType)
      Seq(drv, dist).map(_.collect()
        .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap)
    }
    def agree(got: Seq[Map[Option[String], Double]]): Unit = {
      val Seq(drv, dist) = got
      assert(drv.keySet === Set("a", "b", "c", "d").map(Option(_)) + None)
      assert(dist.keySet === drv.keySet)
      for ((v, r) <- drv) assert(math.abs(dist(v) - r) < 1e-9, s"node $v")
    }
    val global = both(g => GraphAlgos.pageRank(edges, "s", "d",
      maxDriverEdges = g))
    agree(global)
    assert(math.abs(global.head(None) - 0.15 / 5) < 1e-12)
    agree(both(g => GraphAlgos.personalizedPageRank(edges, "s", "d",
      Seq[String]("a", null).toDF("node"), maxDriverEdges = g)))
    // the node column is the widened union of src and dst
    val mixed = Seq((1, 2L), (2, 3L), (3, 1L)).toDF("s", "d")
    for (g <- Seq(Long.MaxValue, -1L))
      assert(GraphAlgos.pageRank(mixed, "s", "d", maxDriverEdges = g)
        .schema("node").dataType === org.apache.spark.sql.types.LongType)
  }

  test("pageRank under the driver gate runs at most three Spark jobs") {
    // the gate count, the edge collect and the result's collect; the
    // distributed rounds would add jobs per checkpoint and per round
    val rnd = new scala.util.Random(5)
    val edges = spark.sparkContext.parallelize(
      (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)),
      4).toDF("s", "d")
    assert(graft.TestJobs.count(spark)(
      GraphAlgos.pageRank(edges, "s", "d").collect()) <= 3)
  }

  test("bfsDistances and connectedComponents under the driver gate count " +
      "their edges in one job") {
    // five jobs each, the caller's collect included; a Dataset count as
    // the gate would add a shuffle-stage job to each
    val rnd = new scala.util.Random(7)
    val edges = spark.sparkContext.parallelize(
      (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)),
      4).toDF("s", "d")
    assert(graft.TestJobs.count(spark)(GraphAlgos.bfsDistances(edges, "s", "d",
      Seq(0L).toDF("node")).collect()) <= 5)
    assert(graft.TestJobs.count(spark)(Dedup.componentLabels(
      edges.toDF("id_a", "id_b")).collect()) <= 5)
  }

  test("triangleCount: known graphs") {
    // K4 has 4 triangles, 6 edges; directions/duplicates/self-loops noise
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b))
      .toDF("s", "d")
    val noisy = k4.union(Seq((1L, 1L), (2L, 1L)).toDF("s", "d"))
    for ((tier, gate) <- tiers) withClue(s"$tier: ") {
      val Array(r) = GraphAlgos.triangleCount(noisy, "s", "d", gate).collect()
      assert((r.getLong(0), r.getLong(1)) === ((6L, 4L)))
      // a path graph has none
      val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
      val Array(p) = GraphAlgos.triangleCount(path, "s", "d", gate).collect()
      assert((p.getLong(0), p.getLong(1)) === ((3L, 0L)))
    }
  }

  test("triangleCount matches brute force on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val edges = (1 to n * 4).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val und = edges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val undSet = und.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val brute = (for {
        i <- nodes.indices; j <- i + 1 until nodes.length
        k <- j + 1 until nodes.length
        a = nodes(i); b = nodes(j); c = nodes(k)
        if undSet((a, b)) && undSet((b, c)) && undSet((a, c))
      } yield 1).size.toLong
      for ((tier, gate) <- tiers) withClue(s"$tier: ") {
        val Array(r) = GraphAlgos
          .triangleCount(edges.toDF("s", "d"), "s", "d", gate).collect()
        assert(r.getLong(0) === und.size.toLong, s"trial $trial edges")
        assert(r.getLong(1) === brute, s"trial $trial triangles")
      }
    }
  }

  test("triangleCount tiers agree on string keys with duplicates, reversed " +
      "pairs, self-loops and null endpoints") {
    // a-b-c and b-c-d close two triangles over five edges; the noise
    // rows add nothing
    val edges = Seq[(String, String)](("a", "b"), ("b", "a"), ("a", "b"),
      ("b", "c"), ("c", "a"), ("c", "d"), ("d", "b"), ("d", "d"),
      ("e", null), (null, "a"), (null, null)).toDF("s", "d")
    val got = tiers.map { case (tier, gate) =>
      val df = GraphAlgos.triangleCount(edges, "s", "d", gate)
      tier -> (df.schema, df.collect().toSeq)
    }.toMap
    assert(got("driver tier") === got("distributed tier"))
    assert(got("driver tier")._2 === Seq(Row(5L, 2L)))
  }

  test("triangleCount under the driver gate runs at most three Spark jobs") {
    // the gate count, the edge collect and the result's collect; the
    // distributed tier runs 16 here
    val rnd = new scala.util.Random(9)
    val edges = spark.sparkContext.parallelize(
      (1 to 300).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)),
      4).toDF("s", "d")
    assert(graft.TestJobs.count(spark)(
      GraphAlgos.triangleCount(edges, "s", "d").collect()) <= 3)
  }

  /** Both tiers of `op` on a binary-keyed and a double-keyed graph: the
    * same cycle `a → b → c → a` with a tail `c → d`, where the double
    * graph writes `a` once as 0.0 and once as -0.0. Spark groups and
    * joins both key types by value, -0.0 as 0.0, so the tiers must
    * return the same rows. `op` gets the edges `(s, d, w)`, the source
    * `a` as a `node` column, and the gate.
    */
  private def tiersAgreeOnKeys(
      op: (DataFrame, DataFrame, Long) => DataFrame): Unit = {
    def show(v: Any): String = v match {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case d: Double => f"$d%.9f"
      case v => String.valueOf(v)
    }
    val bin = Seq((Array[Byte](1), Array[Byte](2), 1L),
      (Array[Byte](2), Array[Byte](3), 1L), (Array[Byte](3), Array[Byte](1), 1L),
      (Array[Byte](3), Array[Byte](4), 1L)).toDF("s", "d", "w")
    val dbl = Seq((0.0, 1.0, 1L), (1.0, 2.0, 1L), (2.0, -0.0, 1L),
      (2.0, 3.0, 1L)).toDF("s", "d", "w")
    for ((kind, edges, source) <- Seq(
        ("binary", bin, Seq(Array[Byte](1)).toDF("node")),
        ("double", dbl, Seq(-0.0).toDF("node")))) withClue(s"$kind keys: ") {
      val Seq(drv, dist) = tiers.map { case (_, gate) =>
        op(edges, source, gate).collect().map(_.toSeq.map(show).mkString("|"))
          .sorted.toSeq
      }
      assert(drv === dist)
    }
  }

  test("pageRank tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, _, g) => GraphAlgos.pageRank(e, "s", "d",
      maxDriverEdges = g))
  }

  test("bfsDistances tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, src, g) => GraphAlgos.bfsDistances(e, "s", "d", src,
      maxDriverEdges = g))
  }

  test("shortestPaths tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, src, g) => GraphAlgos.shortestPaths(e, "s", "d", "w",
      src, maxDriverEdges = g))
  }

  test("stronglyConnectedComponents tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, _, g) => GraphAlgos.stronglyConnectedComponents(e,
      "s", "d", maxDriverEdges = g))
  }

  test("betweenness tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, src, g) => GraphAlgos.betweenness(e, "s", "d", src,
      maxDriverEdges = g))
  }

  test("harmonicCentrality tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, src, g) => GraphAlgos.harmonicCentrality(e, "s", "d",
      src, maxDriverEdges = g))
  }

  test("triangleCount tiers agree on binary and double keys") {
    tiersAgreeOnKeys((e, _, g) => GraphAlgos.triangleCount(e, "s", "d", g))
  }

  test("componentSizeHistogram over mixed components") {
    // components: {1,2,3,4} (size 4), {10,11} (size 2), {20,21} (size 2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("s", "d")
    val got = GraphAlgos.componentSizeHistogram(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(4L -> 1L, 2L -> 2L))
    val cc = GraphAlgos.connectedComponents(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(cc(4L) === 1L && cc(11L) === 10L && cc(21L) === 20L)
  }

  test("connectedComponents: null-partner endpoints still get a row") {
    // 30's only edges have a null partner → self-labeled singleton;
    // 2 also has a null-partner row but keeps its real component label
    val edges = Seq(
      (Option(1L), Option(2L)), (Option(2L), Option(3L)),
      (Option(30L), None), (None, Option(30L)), (Option(2L), None),
      (None, None)).toDF("s", "d")
    val cc = GraphAlgos.connectedComponents(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 30L -> 30L))
  }

  test("pageRankContract returns a single true row") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val rows = GraphAlgos.pageRankContract(edges, "s", "d").collect()
    assert(rows.length === 1)
    assert(rows(0).getBoolean(0))
    assert(rows(0).getLong(1) === 3L)
  }

  test("bfsDistances: min hop count, unreachable nodes absent") {
    // 1->2->3->4 chain, shortcut 1->3, island 9->10; source {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
      .toDF("s", "d")
    val got = GraphAlgos.bfsDistances(edges, "s", "d", Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("bfsDistances: multi-source takes the minimum, cycles terminate") {
    // cycle 1->2->3->1 plus 3->4; sources {1, 4}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    val got = GraphAlgos.bfsDistances(edges, "s", "d",
        Seq(1L, 4L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsDistances respects maxDepth") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val got = GraphAlgos.bfsDistances(edges, "s", "d", Seq(1L).toDF("node"),
        maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsDistanceHistogram counts nodes per level") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 5L)).toDF("s", "d")
    val got = GraphAlgos
      .bfsDistanceHistogram(edges, "s", "d", Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 1L, 1L -> 2L, 2L -> 2L))
  }

  test("bfsDistances: driver and distributed tiers agree on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 16
      val edges = (1 to 60).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong)).filter(e => e._1 != e._2).distinct
        .toDF("s", "d")
      val src = Seq(0L, 3L).toDF("node")
      val driver = GraphAlgos.bfsDistances(edges, "s", "d", src)
        .as[(Long, Long)].collect().toMap
      val dist = GraphAlgos
        .bfsDistances(edges, "s", "d", src, maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(driver === dist, s"trial $trial")
    }
  }

  test("bfsDistances driver tier preserves string node keys") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"))
      .toDF("s", "d")
    val got = GraphAlgos.bfsDistances(edges, "s", "d", Seq("a").toDF("node"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("shortestPaths: driver and distributed tiers agree on random graphs") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 14
      val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1).toLong))
        .filter(e => e._1 != e._2).distinct.toDF("s", "d", "w")
      val src = Seq(0L, 1L).toDF("node")
      val driver = GraphAlgos.shortestPaths(edges, "s", "d", "w", src)
        .as[(Long, Long)].collect().toMap
      val dist = GraphAlgos
        .shortestPaths(edges, "s", "d", "w", src, maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(driver === dist, s"trial $trial")
    }
  }

  test("shortestPaths driver tier preserves string node keys") {
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L))
      .toDF("s", "d", "w")
    val got = GraphAlgos
      .shortestPaths(edges, "s", "d", "w", Seq("a").toDF("node"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("scc: two cycles joined by a one-way bridge stay separate") {
    // cycle {1,2,3}, cycle {7,8}, bridge 3->7, pendant 7->9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (8L, 7L),
      (3L, 7L), (7L, 9L)).toDF("s", "d")
    val got = GraphAlgos.stronglyConnectedComponents(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      9L -> 9L))
  }

  test("scc: driver Tarjan and distributed coloring agree on random graphs") {
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 4) {
      val n = 12
      // dense enough that nontrivial SCCs appear
      val edges = (1 to 40).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong)).filter(e => e._1 != e._2).distinct
        .toDF("s", "d")
      val tarjan = GraphAlgos.stronglyConnectedComponents(edges, "s", "d")
        .as[(Long, Long)].collect().toMap
      val coloring = GraphAlgos
        .stronglyConnectedComponents(edges, "s", "d", maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(tarjan === coloring, s"trial $trial")
    }
  }

  test("scc: acyclic graph is all singletons; string keys preserved") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("s", "d")
    val got = GraphAlgos.stronglyConnectedComponents(edges, "s", "d")
      .as[(String, String)].collect().toMap
    assert(got === Map("a" -> "a", "b" -> "b", "c" -> "c"))
    val dist = GraphAlgos
      .stronglyConnectedComponents(edges, "s", "d", maxDriverEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(dist === got)
  }

  test("scc: trim-vanished middle node is still labeled (isolated-node trap)") {
    // 1→2→3: the trim round peels 1 (no in) and 3 (no out) TOGETHER, so
    // node 2 loses both its edges in one round and leaves the edge set
    // without ever being degree-classified — the vanish-labeling must
    // still emit it as a singleton. The attached 2-cycle keeps the
    // coloring peel exercised after the trim stalls.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 4L))
      .toDF("s", "d")
    val exp = Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 4L)
    val dist = GraphAlgos
      .stronglyConnectedComponents(edges, "s", "d", maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist === exp)
  }

  test("scc: duplicate edge rows change nothing (gated wrapper distinct)") {
    // the r13 wrapper skips its up-front distinct when the sketch says
    // the edge list is near-duplicate-free — both tiers must therefore
    // be exact under duplicate rows. Feed each edge 1-3 times (ratio
    // ~2x ALSO exercises the distinct branch on the same graph via the
    // tripled copy below).
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 7L), (7L, 8L),
      (8L, 7L), (7L, 9L))
    val exp = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      9L -> 9L)
    for (copies <- Seq(1, 3)) {
      val edges = base.flatMap(e => Seq.fill(copies)(e)).toDF("s", "d")
      val got = GraphAlgos.stronglyConnectedComponents(edges, "s", "d")
        .as[(Long, Long)].collect().toMap
      assert(got === exp, s"driver tier, copies=$copies")
      val dist = GraphAlgos
        .stronglyConnectedComponents(edges, "s", "d", maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(dist === exp, s"distributed tier, copies=$copies")
    }
  }

  test("scc: deep path feeding a cycle (driver recursion safety)") {
    // path 100->99->...->1 -> cycle {1, 0}: Tarjan must not recurse on
    // the JVM stack; the whole path is singletons, {0,1} one SCC
    val path = (1 to 100).map(k => (k.toLong, k.toLong - 1L))
    val edges = (path ++ Seq((0L, 1L))).toDF("s", "d")
    val got = GraphAlgos.stronglyConnectedComponents(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === 0L && got(1L) === 0L)
    assert((2L to 100L).forall(k => got(k) === k))
  }

  test("neighborhoodFunction: exact on a tiny chain (sparse HLL regime)") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = GraphAlgos.neighborhoodFunction(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    // B(·,0)=3 singletons; t=1 adds 1→2, 2→3; t=2 adds 1→3
    assert(got === Map(0L -> 3L, 1L -> 5L, 2L -> 6L))
  }

  test("neighborhoodContract holds on random graphs") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 2) {
      val n = 30
      val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong)).filter(e => e._1 != e._2).distinct
        .toDF("s", "d")
      val r = GraphAlgos.neighborhoodContract(edges, "s", "d").collect()(0)
      assert(r.getBoolean(0), s"trial $trial")
    }
  }

  test("sccContract returns a single true row") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("s", "d")
    val r = GraphAlgos.sccContract(edges, "s", "d").collect()
    assert(r.length === 1 && r(0).getBoolean(0))
    assert(r(0).getLong(1) === 4L && r(0).getLong(2) === 2L)
  }

  test("hitsLocal: star graph concentrates authority on the hub target") {
    // 1,2,3 all point at 4; 4 points nowhere: auth(4)=1, hubs equal
    val local = GraphAlgos.hitsLocal(Seq((1L, 4L), (2L, 4L), (3L, 4L)))
    assert(math.abs(local(4L)._2 - 1.0) < 1e-12)
    assert(math.abs(local(1L)._1 - 1.0 / math.sqrt(3)) < 1e-12)
    assert(local(4L)._1 === 0.0 && local(1L)._2 === 0.0)
  }

  test("betweennessApprox: limit exactness, determinism across tiers, error") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("s", "d")
    val nodes = edges.select(col("s").as("node"))
      .unionByName(edges.select(col("d").as("node"))).distinct()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val exact = toMap(GraphAlgos.betweenness(edges, "s", "d", nodes))
    for (k <- Seq(10, 20, 30)) {
      val est = toMap(GraphAlgos.betweennessApprox(edges, "s", "d", k))
      val total = exact.values.sum
      val abs = exact.map { case (n, a) =>
        math.abs(est.getOrElse(n, 0.0) - a) }.sum
      info(f"k=$k aggregate relErr=${abs / total}%.4f")
    }
    // deterministic hash sampling → the distributed tier runs the SAME
    // sources as the driver tier, so the two agree to float tolerance
    val drv = toMap(GraphAlgos.betweennessApprox(edges, "s", "d", 12))
    val dist = toMap(GraphAlgos.betweennessApprox(edges, "s", "d", 12,
      maxDriverEdges = 0L))
    assert(drv.keySet === dist.keySet)
    drv.foreach { case (n, a) =>
      assert(math.abs(dist(n) - a) <= 1e-9 * math.max(1.0, math.abs(a)),
        s"node $n")
    }
    val row = GraphAlgos.betweennessApproxContract(edges, "s", "d",
      nSources = 30, tol = 0.5).collect()(0)
    assert(row.getBoolean(0), row.toString)
  }

  test("betweennessApproxContract is false, not an error, on a " +
      "zero-betweenness graph") {
    import spark.implicits._
    // disjoint single edges: no node is interior to any shortest path,
    // so every exact bc is 0 — the aggregate-error denominator would be
    // 0/0 without the totalExact > 0 guard, and the convergence sweep
    // must be skipped (it's gated on errOk) rather than divide by zero
    val e = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("s", "d")
    val row = GraphAlgos.betweennessApproxContract(e, "s", "d",
      nSources = 2, tol = 0.5, kLow = 1, kHigh = 2).collect()(0)
    assert(!row.getBoolean(0))
    assert(row.getLong(1) === 6L)
  }

  test("hits rejects iterations < 1") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("s", "d")
    intercept[IllegalArgumentException](GraphAlgos.hits(e, "s", "d", 0))
  }

  test("hits distributed agrees with the sequential reference") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }.distinct
    val local = GraphAlgos.hitsLocal(edges, iterations = 8)
    val dist = GraphAlgos.hits(edges.toDF("s", "d"), "s", "d",
        iterations = 8)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(dist.keySet === local.keySet)
    local.foreach { case (v, (lh, la)) =>
      assert(math.abs(dist(v)._1 - lh) < 1e-9, s"hub of $v")
      assert(math.abs(dist(v)._2 - la) < 1e-9, s"auth of $v")
    }
  }

  test("shortestPaths: weighted relaxation beats fewer-hop paths") {
    // 1->2 w1, 2->3 w1 (total 2) vs direct 1->3 w5; 3->4 w10; island 9
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (3L, 4L, 10L),
      (9L, 10L, 1L)).toDF("s", "d", "w")
    val got = GraphAlgos.shortestPaths(edges, "s", "d", "w",
        Seq(1L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 12L))
  }

  test("shortestPaths matches local Dijkstra on random weighted graphs") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 14
      val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1).toLong))
        .filter(e => e._1 != e._2).distinct
      val sources = Seq(0L, 1L)
      // local Dijkstra (multi-source)
      val adj = edges.groupBy(_._1)
        .map { case (k, v) => k -> v.map(e => (e._2, e._3)) }
      val distL = scala.collection.mutable.Map(sources.map(_ -> 0L): _*)
      val pq = scala.collection.mutable.PriorityQueue(
        sources.map(s => (0L, s)): _*)(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (dd, u) = pq.dequeue()
        if (dd == distL(u)) adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (distL.get(v).forall(_ > dd + w)) {
            distL(v) = dd + w; pq.enqueue((dd + w, v))
          }
        }
      }
      val got = GraphAlgos.shortestPaths(edges.toDF("s", "d", "w"), "s",
          "d", "w", sources.toDF("node"))
        .as[(Long, Long)].collect().toMap
      assert(got === distL.toMap, s"trial $trial")
    }
  }

  test("kCore peels trees, keeps the cycle; degrees are within-core") {
    // triangle 1-2-3 plus pendant 3-4 and path 4-5: 2-core = the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val got = GraphAlgos.kCore(edges, "s", "d", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3 peels everything (no 4-clique-ish structure)
    assert(GraphAlgos.kCore(edges, "s", "d", k = 3).count() === 0L)
  }

  test("kCore cascade: removing a node unravels a dependent chain") {
    // 4-cycle with a chord has a 2-core; attaching a long chain does not
    // change it, and the chain peels over multiple rounds
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val chain = (10L to 14L).sliding(2).map(p => (p(0), p(1))).toSeq :+
      ((4L, 10L))
    val got = GraphAlgos.kCore((cyc ++ chain).toDF("s", "d"), "s", "d", 2)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
  }

  test("kCoreContract matches on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val edges = (1 to 60).map(_ =>
        (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
      val rows = GraphAlgos.kCoreContract(edges.toDF("s", "d"), "s", "d",
        k = 3).collect()
      assert(rows(0).getBoolean(0), s"trial $trial")
    }
  }

  test("minimumSpanningForest picks the light cycle edges") {
    // square 1-2-3-4 with weights 1,2,3,4: MST drops the heaviest edge
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (4L, 1L, 4L))
      .toDF("s", "d", "w")
    val got = GraphAlgos.minimumSpanningForest(edges, "s", "d", "w")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
  }

  test("minimumSpanningForest spans each component separately") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 2L),
      (10L, 11L, 7L)).toDF("s", "d", "w")
    val got = GraphAlgos.minimumSpanningForest(edges, "s", "d", "w")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 7L)))
  }

  test("msfContract matches Kruskal on random graphs with weight ties") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val edges = (1 to 80).map(_ => (rnd.nextInt(18).toLong,
        rnd.nextInt(18).toLong, (rnd.nextInt(5) + 1).toLong))
        .filter(e => e._1 != e._2)
      val rows = GraphAlgos.msfContract(edges.toDF("s", "d", "w"),
        "s", "d", "w").collect()
      assert(rows(0).getBoolean(0), s"trial $trial")
    }
  }

  test("clusteringHistogram: triangle membership per (degree, count)") {
    // triangle 1-2-3 plus pendant 3-4: degrees 2,2,3,1; triangles 1,1,1,0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    val got = GraphAlgos.clusteringHistogram(edges, "s", "d")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map((2L, 1L) -> 2L, (3L, 1L) -> 1L, (1L, 0L) -> 1L))
  }

  test("clusteringHistogram matches brute force on random graphs") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 2) {
      val edges = (1 to 70).map(_ =>
        (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
        .filter(e => e._1 != e._2)
      val und = edges.map(e =>
        (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val undSet = und.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
      val deg = nodes.map(n =>
        n -> und.count(e => e._1 == n || e._2 == n)).toMap
      val tri = nodes.map { n =>
        n -> (for {
          (a, b) <- und
          if a != n && b != n
          if undSet((math.min(a, n), math.max(a, n))) &&
            undSet((math.min(b, n), math.max(b, n)))
        } yield 1).size
      }.toMap
      val expected = nodes.groupBy(n => (deg(n).toLong, tri(n).toLong))
        .map { case (k, v) => k -> v.size.toLong }
      val got = GraphAlgos.clusteringHistogram(edges.toDF("s", "d"), "s", "d")
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("randomWalks: every step follows an edge, stops at sinks") {
    // 1 -> {2, 3}; 2 -> 4; 3 -> 4; 4 is a sink
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val got = GraphAlgos.randomWalks(edges, "s", "d", walksPerNode = 4,
        walkLen = 5)
      .as[(Long, Long, Long, Long)].collect()
    val es = Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    got.groupBy(r => (r._1, r._2)).values.foreach { steps =>
      val seq = steps.toSeq.sortBy(_._3)
      assert(seq.head._4 === seq.head._1)         // step 0 = start
      seq.map(_._4).sliding(2).foreach(p =>
        if (p.length == 2) assert(es((p(0), p(1)))))
      assert(seq.last._4 === 4L || seq.length === 6) // sink or full length
    }
    // walks from 1 take 3 steps (1 -> x -> 4 stop); from 4, just step 0
    val from4 = got.filter(_._1 == 4L)
    assert(from4.length === 4 && from4.forall(_._3 == 0L))
    assert(got.filter(r => r._1 == 1L && r._2 == 0L).length === 3)
  }

  test("randomWalks is deterministic and walks diverge somewhere") {
    val rnd = new scala.util.Random(37)
    val edges = (1 to 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("s", "d")
    val rows = GraphAlgos.randomWalksContract(edges, "s", "d").collect()
    assert(rows.length === 1 && rows(0).getBoolean(0))
  }

  test("hitsContract returns a single true row") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val rows = GraphAlgos.hitsContract(edges, "s", "d").collect()
    assert(rows.length === 1)
    assert(rows(0).getBoolean(0))
    assert(rows(0).getLong(1) === 3L)
  }

  test("labelPropagation separates two triangles joined by a bridge") {
    // triangle {1,2,3} - bridge 3-4 - triangle {4,5,6}: each triangle
    // converges to its min node id; the bridge endpoints stay with the
    // majority (their two triangle neighbors outvote the single bridge)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("s", "d")
    val got = GraphAlgos.labelPropagation(edges, "s", "d", iterations = 8)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(1L) !== got(4L))
  }

  test("labelPropagation matches the sequential reference exactly") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 80).map(_ =>
      (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
      .filter(e => e._1 != e._2).distinct
    val df = edges.toDF("s", "d")
    val dist = GraphAlgos.labelPropagation(df, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(dist === GraphAlgos.lpaLocal(edges))
  }

  test("lpa is deterministic on an oscillating bipartite structure") {
    // a 4-cycle is bipartite: synchronous LPA oscillates, but fixed
    // rounds + min-label ties make the result reproducible
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val a = GraphAlgos.labelPropagation(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    val b = GraphAlgos.labelPropagation(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a === GraphAlgos.lpaLocal(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))))
  }

  test("lpaContract returns true with the node-universe count") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("s", "d")
    val rows = GraphAlgos.lpaContract(edges, "s", "d").collect()
    assert(rows.length === 1 && rows(0).getBoolean(0))
  }

  test("betweenness: chain and diamond, exact driver values") {
    // directed chain 1->2->3->4, all nodes as sources:
    // bc(2) = paths 1->3,1->4 = 2; bc(3) = 1->4,2->4 = 2; ends 0
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val all = Seq(1L, 2L, 3L, 4L).toDF("node")
    val got = GraphAlgos.betweenness(chain, "s", "d", all)
      .as[(Long, Double)].collect().toMap
    assert(got === Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0))
    // diamond 1->{2,3}->4: two shortest 1->4 paths, each middle carries
    // half a dependency
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val got2 = GraphAlgos.betweenness(diamond, "s", "d",
      Seq(1L).toDF("node")).as[(Long, Double)].collect().toMap
    assert(got2 === Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.5, 4L -> 0.0))
    // distributed tier (maxDriverEdges = 0) must agree exactly here
    val dist = GraphAlgos.betweenness(chain, "s", "d", all,
      maxDriverEdges = 0L).as[(Long, Double)].collect().toMap
    assert(dist === got)
  }

  test("betweenness driver tier preserves string node keys") {
    val long = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val byLong = GraphAlgos.betweenness(long.toDF("s", "d"), "s", "d",
        Seq(1L, 2L).toDF("node")).as[(Long, Double)].collect()
      .map { case (n, bc) => s"n$n" -> bc }.toMap
    val df = GraphAlgos.betweenness(
      long.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"), "s", "d",
      Seq("n1", "n2").toDF("node"))
    assert(df.schema("node").dataType === org.apache.spark.sql.types.StringType)
    assert(df.as[(String, Double)].collect().toMap === byLong)
  }

  test("betweennessContract holds on random graphs") {
    val rnd = new scala.util.Random(41)
    val edges = (1 to 160).map(_ =>
      (rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("s", "d")
    val r = GraphAlgos.betweennessContract(edges, "s", "d").collect()(0)
    assert(r.getBoolean(0), s"contract failed: ${r.toSeq}")
  }

  test("kTruss: peeling cascade on a known graph") {
    // K4 on {1,2,3,4} (every edge support 2) plus a pendant triangle
    // {4,5,6} and a dangling edge (6,7). k=4 demands support >= 2:
    // the pendant triangle's edges have support 1 -> peeled; K4 stays.
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("s", "d")
    val t4 = GraphAlgos.kTruss(edges, "s", "d", k = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(t4 === Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L))
    // k=3 keeps both triangles, drops only the dangling edge
    val t3 = GraphAlgos.kTruss(edges, "s", "d", k = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(t3.keySet.size === 9 && !t3.contains((6L, 7L)))
    assert(t3((4L, 5L)) === 1L && t3((1L, 2L)) === 2L)
  }

  test("kTrussContract holds on random graphs") {
    val rnd = new scala.util.Random(73)
    val edges = (1 to 140).map(_ =>
      (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("s", "d")
    for (k <- Seq(3, 4)) {
      val r = GraphAlgos.kTrussContract(edges, "s", "d", k).collect()(0)
      assert(r.getBoolean(0), s"k=$k contract failed: ${r.toSeq}")
    }
  }

  test("labelSpread: seeds clamp, majority spreads, ties take min") {
    // path 10 - 1 - 2 - 3 - 20 with seeds 10->100, 20->200. Round 2:
    // node 2 ties {100, 200} -> min = 100. Round 3: node 3 then ties
    // {2:100, 20:200} -> min = 100 too — the min tie-break cascades
    // down the path (deterministic, matches the sequential reference).
    val edges = Seq((10L, 1L), (1L, 2L), (2L, 3L), (3L, 20L)).toDF("s", "d")
    val seeds = Seq((10L, 100L), (20L, 200L)).toDF("n", "l")
    val got = GraphAlgos.labelSpread(edges, "s", "d", seeds, "n", "l",
      iterations = 10).as[(Long, Long)].collect().toMap
    assert(got(10L) === 100L && got(20L) === 200L) // clamped
    assert(got(1L) === 100L && got(2L) === 100L && got(3L) === 100L)
    assert(got === GraphAlgos.labelSpreadLocal(
      Seq((10L, 1L), (1L, 2L), (2L, 3L), (3L, 20L)),
      Map(10L -> 100L, 20L -> 200L), 10))
    // unambiguous majority: a clique around seed 300 overrides one
    // distant competing label edge
    val e2 = Seq((30L, 5L), (31L, 5L), (32L, 5L), (20L, 5L)).toDF("s", "d")
    val s2 = Seq((30L, 300L), (31L, 300L), (32L, 300L), (20L, 200L))
      .toDF("n", "l")
    val g2 = GraphAlgos.labelSpread(e2, "s", "d", s2, "n", "l",
      iterations = 3).as[(Long, Long)].collect().toMap
    assert(g2(5L) === 300L) // majority 3 vs 1 beats the min tie-break
  }

  test("labelSpreadContract holds on random seeded graphs") {
    val rnd = new scala.util.Random(59)
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("s", "d")
    val seeds = Seq((0L, 7L), (1L, 9L), (2L, 7L)).toDF("n", "l")
    val r = GraphAlgos.labelSpreadContract(edges, "s", "d", seeds,
      "n", "l").collect()(0)
    assert(r.getBoolean(0), s"contract failed: ${r.toSeq}")
  }

  test("harmonicCentrality: exact rational sums on a known graph") {
    // chain 1->2->3->4 with sources {1,2}: d(1,2)=1 d(1,3)=2 d(1,4)=3;
    // d(2,3)=1 d(2,4)=2. H(2)=1, H(3)=1/2+1=3/2, H(4)=1/3+1/2=5/6,
    // H(1) absent (never reached, sources score only as targets)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val src = Seq(1L, 2L).toDF("node")
    val lcm = GraphAlgos.lcmUpTo(40)
    val got = GraphAlgos.harmonicCentrality(edges, "s", "d", src)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(2L, 3L, 4L))
    assert(got(2L) === ((lcm, 1.0)))
    assert(got(3L) === ((lcm / 2 + lcm, (lcm / 2 + lcm).toDouble / lcm)))
    assert(got(4L) === ((lcm / 3 + lcm / 2,
      (lcm / 3 + lcm / 2).toDouble / lcm)))
    // distributed tier agrees exactly (integer sums are order-free)
    val dist = GraphAlgos.harmonicCentrality(edges, "s", "d", src,
      maxDriverEdges = 0L).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dist === got)
  }

  test("harmonicCentrality driver tier preserves string node keys") {
    val long = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L))
    val byLong = GraphAlgos.harmonicCentrality(long.toDF("s", "d"), "s", "d",
        Seq(1L, 2L).toDF("node")).as[(Long, Long, Double)].collect()
      .map { case (n, num, score) => s"n$n" -> ((num, score)) }.toMap
    val df = GraphAlgos.harmonicCentrality(
      long.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"), "s", "d",
      Seq("n1", "n2").toDF("node"))
    assert(df.schema("node").dataType === org.apache.spark.sql.types.StringType)
    assert(df.as[(String, Long, Double)].collect()
      .map { case (n, num, score) => n -> ((num, score)) }.toMap === byLong)
  }

  test("modularity matches the pairwise definition on random graphs") {
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 4) {
      val edges = (1 to 80).map(_ =>
        (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter(e => e._1 != e._2).distinct
      val mem = (0L until 16L).map(v => (v, v % 3)).toMap
      val got = GraphAlgos.modularity(edges.toDF("s", "d"),
          "s", "d", mem.toSeq.toDF("n", "c"), "n", "c")
        .as[(Long, Long, Long, Double)].collect()
      // brute force: Q = (1/2m) Σ_ij (A_ij − k_i k_j / 2m) δ(c_i, c_j)
      val und = edges.map(e => (math.min(e._1, e._2),
        math.max(e._1, e._2))).distinct
      val m = und.size.toDouble
      val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (k, v) => k -> v.size.toDouble }
      val nodes = deg.keySet.toSeq
      val qBrute = (for {
        i <- nodes; j <- nodes if mem(i) == mem(j)
        aij = if (i != j &&
          und.contains((math.min(i, j), math.max(i, j)))) 1.0 else 0.0
      } yield aij - deg(i) * deg(j) / (2 * m)).sum / (2 * m)
      assert(math.abs(got.map(_._4).sum - qBrute) < 1e-12,
        s"trial $trial: Q=${got.map(_._4).sum} brute=$qBrute")
    }
  }

  test("harmonicCentrality matches brute-force BFS on random graphs") {
    val rnd = new scala.util.Random(53)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = Seq(0L, 1L, 2L)
    val got = GraphAlgos.harmonicCentrality(edges.toDF("s", "d"),
        "s", "d", sources.toDF("node"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    // brute per-source BFS
    val adj = edges.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).distinct
    }
    val lcm = GraphAlgos.lcmUpTo(40)
    val expect = scala.collection.mutable.Map.empty[Long, Long]
    sources.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      var frontier = List(s)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(u =>
          adj.getOrElse(u, Nil).filter(v =>
            !dist.contains(v) && { dist(v) = dist(u) + 1; true }))
      }
      dist.foreach { case (v, d) =>
        if (d > 0) expect(v) = expect.getOrElse(v, 0L) + lcm / d
      }
    }
    assert(got === expect.toMap)
  }

  test("modularity: two triangles + bridge, exact integers and dq") {
    // triangle {1,2,3}, triangle {4,5,6}, bridge 3-4 => m=7; each
    // triangle community: e_in=3, deg_sum=7, dq=(4*7*3-49)/196=35/196.
    // Edges fed with duplicates and reversed orientation to exercise
    // canonicalization; node 7 is an edge-free community scoring 0.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 5L),
      (5L, 6L), (6L, 4L), (3L, 4L), (4L, 3L), (1L, 1L)).toDF("s", "d")
    val mem = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L), (7L, 30L)).toDF("n", "c")
    val got = GraphAlgos.modularity(edges, "s", "d", mem, "n", "c")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) === ((3L, 7L, 35.0 / 196.0)))
    assert(got(20L) === ((3L, 7L, 35.0 / 196.0)))
    assert(got(30L) === ((0L, 0L, 0.0)))
    // Q for this partition = 70/196
    assert(math.abs(got.values.map(_._3).sum - 70.0 / 196.0) < 1e-15)
  }

  test("louvain: two cliques and a bridge, driver tier") {
    // K4 {0..3} + K4 {10..13} joined by one bridge: the unambiguous
    // two-community optimum, labels = min member ids
    val k4a = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- i + 1 to 13L) yield (i, j)
    val edges = (k4a ++ k4b ++ Seq((3L, 10L))).toDF("s", "d")
    val got = GraphAlgos.louvain(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert((0L to 3L).forall(got(_) == 0L))
    assert((10L to 13L).forall(got(_) == 10L))
  }

  test("louvain recovers a planted ring partition on both tiers") {
    // 10 communities x 20 nodes (ring + chords, single bridges):
    // intra degree 4 vs one external edge — both tiers must recover
    // the planted partition exactly, labeled by each ring's minimum
    for (forceDistributed <- Seq(false, true)) {
      val got = GraphAlgos.louvainPlanted(spark, c = 10, sz = 20,
          forceDistributed).as[(Long, Long)].collect().toMap
      val expect = (0L until 200L).map(i => i -> (i / 20L) * 20L).toMap
      assert(got === expect, s"forceDistributed=$forceDistributed")
    }
  }

  test("louvain distributed tier folds to the driver once contracted") {
    // forced-distributed level 0 (maxDriverEdges = -1), but the fold
    // gate is wide open: after the first contraction the ~10-supernode
    // community graph collects and the sequential core finishes the
    // remaining levels — the result must still be the exact planted
    // partition (same as the pure tiers)
    val c = 10; val sz = 20
    val edges = (0 until c).flatMap { ci =>
      val base = ci.toLong * sz
      val ring = (0 until sz).map(i => (base + i, base + (i + 1) % sz))
      val chords = (0 until sz).map(i => (base + i, base + (i + 2) % sz))
      val bridge = if (ci + 1 < c)
        Seq((base + sz - 1, base + sz)) else Seq.empty
      ring ++ chords ++ bridge
    }.toDF("src", "dst")
    val got = GraphAlgos.louvain(edges, "src", "dst",
        maxDriverEdges = -1L, driverFoldEdges = Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val expect = (0L until (c * sz).toLong)
      .map(i => i -> (i / sz) * sz).toMap
    assert(got === expect)
  }

  test("louvain time-box returns a valid prefix partition") {
    // forced-distributed with an already-expired budget: no level runs,
    // so the prefix partition is the identity (every edge-incident node
    // its own community) — degraded but valid, never an error. With a
    // generous budget the same call recovers the planted partition,
    // pinning that the box is inert when time remains.
    val c = 6; val sz = 10
    val edges = (0 until c).flatMap { ci =>
      val base = ci.toLong * sz
      val ring = (0 until sz).map(i => (base + i, base + (i + 1) % sz))
      val chords = (0 until sz).map(i => (base + i, base + (i + 2) % sz))
      val bridge = if (ci + 1 < c)
        Seq((base + sz - 1, base + sz)) else Seq.empty
      ring ++ chords ++ bridge
    }.toDF("src", "dst")
    val n = (c * sz).toLong
    val capped = GraphAlgos.louvain(edges, "src", "dst",
        maxDriverEdges = -1L, driverFoldEdges = -1L, timeBoxSec = 1e-9)
      .as[(Long, Long)].collect().toMap
    assert(capped === (0L until n).map(i => i -> i).toMap)
    val roomy = GraphAlgos.louvain(edges, "src", "dst",
        maxDriverEdges = -1L, driverFoldEdges = -1L, timeBoxSec = 3600.0)
      .as[(Long, Long)].collect().toMap
    assert(roomy === (0L until n).map(i => i -> (i / sz) * sz).toMap)
  }

  test("katz: exact dyadic walk counts on a 3-node chain") {
    // 1 -> 2 -> 3, alpha = 1/4, T = 8:
    //   x(1) = 1, x(2) = 1 + 1/4, x(3) = 1 + (1 + 1/4)/4 = 1 + 5/16
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = GraphAlgos.katzCentrality(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val scale = 65536L
    assert(got(1L) === ((scale, 1.0)))
    assert(got(2L) === ((scale + scale / 4, 1.25)))
    assert(got(3L) === ((scale + scale * 5 / 16, 1.3125)))
  }

  test("katz: star center accumulates leaf walks exactly") {
    // 5 leaves -> center: x(center) = 1 + 5/4, leaves stay 1; a second
    // round adds nothing (leaves have no in-edges)
    val edges = (1L to 5L).map(i => (i, 100L)).toDF("s", "d")
    val got = GraphAlgos.katzCentrality(edges, "s", "d", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(100L) === 2.25)
    (1L to 5L).foreach(i => assert(got(i) === 1.0))
    intercept[IllegalArgumentException] {
      GraphAlgos.katzCentrality(edges, "s", "d", iterations = 0)
    }
  }

  test("assortativity: exact moments and r on a known graph") {
    // path 1-2-3-4 plus edge 3-5: degrees 1,2,3,1,1 — disassortative
    // (high-degree 3 attaches to leaves). Verify against a direct
    // computation of the same formula.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L)).toDF("s", "d")
    val r = GraphAlgos.assortativity(edges, "s", "d").head()
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L, 5L -> 1L)
    val dir = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .map { case (a, b) => (deg(a), deg(b)) }
    val m = dir.size.toLong
    val sjk = dir.map { case (j, k) => j * k }.sum
    val sj = dir.map(_._1).sum; val sk = dir.map(_._2).sum
    val sjj = dir.map { case (j, _) => j * j }.sum
    val skk = dir.map { case (_, k) => k * k }.sum
    assert(r.getLong(0) === m && r.getLong(1) === sjk)
    val expect = (m * sjk - sj * sk).toDouble /
      math.sqrt(((m * sjj - sj * sj).toDouble *
        (m * skk - sk * sk).toDouble))
    assert(r.getDouble(6) === expect)
    assert(expect < 0.0) // leaves-on-hub graph is disassortative
  }

  test("assortativity: NaN on a degree-regular graph") {
    // a 4-cycle is 2-regular: zero degree variance, r undefined
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val r = GraphAlgos.assortativity(edges, "s", "d").head()
    assert(r.getDouble(6).isNaN)
  }

  test("reciprocity: exact counts on known digraphs") {
    // 1⇄2 plus 2→3 and 3⇄4: 4 of 5 directed edges have a mate
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("s", "d")
    val r = GraphAlgos.reciprocity(edges, "s", "d").head
    assert((r.getLong(0), r.getLong(1)) === ((5L, 4L)))
    assert(r.getDouble(2) === 0.8)
    val dag = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val r2 = GraphAlgos.reciprocity(dag, "s", "d").head
    assert((r2.getLong(0), r2.getLong(1), r2.getDouble(2)) ===
      ((2L, 0L, 0.0)))
  }

  test("pprDyadic: exact dyadic counts on a 2-regular shift graph") {
    // independent sequential evaluation of the same scaled recurrence
    // y_{t+1}(v) = 6·8^t·e_S(v) + Σ_{u→v} y_t(u) over the 8-node
    // (i→i+1, i→i+3 mod 8) shift graph, seeds {0, 4}
    val n = 8; val T = 8
    val adj = (0 until n).map(i => Seq((i + 1) % n, (i + 3) % n))
    val edges = (0 until n)
      .flatMap(i => adj(i).map(j => (i.toLong, j.toLong)))
      .toDF("s", "d")
    val seeds = Seq(0L, 4L).toDF("node")
    var y = Array.tabulate(n)(i => if (i == 0 || i == 4) 1L else 0L)
    var scale = 1L
    for (_ <- 1 to T) {
      val ny = Array.fill(n)(0L)
      for (u <- 0 until n; v <- adj(u)) ny(v) += y(u)
      for (v <- 0 until n if v == 0 || v == 4) ny(v) += 6L * scale
      y = ny; scale *= 8L
    }
    val got = GraphAlgos.pprDyadic(edges, "s", "d", seeds, "node")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.size === n)
    (0 until n).foreach { v =>
      assert(got(v.toLong)._1 === y(v), s"num at $v")
      assert(got(v.toLong)._2 === y(v).toDouble / scale.toDouble)
    }
    // mass check: Σx_t = |S| exactly every round on a sink-free
    // uniform-out-degree graph (the recurrence preserves seed mass),
    // and the per-node divisions by 8^8 are exact in IEEE
    val total = got.valuesIterator.map(_._2).sum
    assert(total === 2.0)
  }

  test("pprDyadic rejects non-regular out-degrees") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    intercept[IllegalArgumentException] {
      GraphAlgos.pprDyadic(edges, "s", "d", Seq(1L).toDF("node"), "node")
    }
  }

  test("fourCliqueCount: K5 plus pendant; overlapping K4s; triangle-free") {
    val k5 = for { a <- 1 to 5; b <- (a + 1) to 5 }
      yield (a.toLong, b.toLong)
    val r = GraphAlgos.fourCliqueCount(
      (k5 :+ (5L, 6L)).toDF("src", "dst"), "src", "dst").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((11L, 10L, 5L)))
    // two K4s sharing triangle {1,2,3}: 9 edges, 7 triangles, 2 cliques
    val twoK4 = (for { a <- Seq(1L, 2L, 3L); b <- Seq(4L, 5L) }
      yield (a, b)) ++ Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val r2 = GraphAlgos.fourCliqueCount(
      twoK4.toDF("src", "dst"), "src", "dst").head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((9L, 7L, 2L)))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r3 = GraphAlgos.fourCliqueCount(path, "src", "dst").head
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) === ((3L, 0L, 0L)))
  }

  test("pprDyadic differential on random 2-regular shift graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 5 + rnd.nextInt(30)
      val s1 = 1 + rnd.nextInt(n - 1)
      val s2p = 1 + rnd.nextInt(n - 1)
      val s2 = if (s2p == s1) (s1 % (n - 1)) + 1 else s2p
      val adj = (0 until n).map(i => Seq((i + s1) % n, (i + s2) % n))
      val edges = (0 until n)
        .flatMap(i => adj(i).map(j => (i.toLong, j.toLong)))
        .toDF("s", "d")
      val seedIds = (0 until n).filter(_ % 7 == 0).map(_.toLong)
      val T = 6
      var y = Array.tabulate(n)(i => if (i % 7 == 0) 1L else 0L)
      var scale = 1L
      for (_ <- 1 to T) {
        val ny = Array.fill(n)(0L)
        for (u <- 0 until n; v <- adj(u)) ny(v) += y(u)
        seedIds.foreach(v => ny(v.toInt) += 6L * scale)
        y = ny; scale *= 8L
      }
      val got = GraphAlgos.pprDyadic(edges, "s", "d",
          seedIds.toDF("node"), "node", iterations = T)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === n, s"n=$n s1=$s1 s2=$s2")
      (0 until n).foreach(v =>
        assert(got(v.toLong) === y(v), s"n=$n s1=$s1 s2=$s2 node=$v"))
    }
  }

  test("fourCliqueCount differential vs brute force on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 12
      val und = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.4
      } yield (a, b)).toSet
      val bruteTri = (for {
        a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n
        if und((a, b)) && und((a, c)) && und((b, c))
      } yield 1).size.toLong
      val brute4 = (for {
        a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n
        d <- (c + 1) until n
        if und((a, b)) && und((a, c)) && und((a, d)) &&
          und((b, c)) && und((b, d)) && und((c, d))
      } yield 1).size.toLong
      val r = GraphAlgos.fourCliqueCount(
        und.toSeq.map { case (a, b) => (a.toLong, b.toLong) }
          .toDF("src", "dst"), "src", "dst").head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
        ((und.size.toLong, bruteTri, brute4)))
    }
  }

  test("louvain partition scores at least the LPA partition on random graphs") {
    // Louvain optimizes modularity directly — on random two-block
    // graphs its Q must not lose to the label-propagation heuristic
    val rnd = new scala.util.Random(1234)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = (for {
        i <- 0 until n; j <- i + 1 until n
        sameBlock = (i < n / 2) == (j < n / 2)
        p = if (sameBlock) 0.25 else 0.02
        if rnd.nextDouble() < p
      } yield (i.toLong, j.toLong)).toDF("s", "d")
      def q(mem: org.apache.spark.sql.DataFrame) =
        GraphAlgos.modularity(edges, "s", "d", mem, "node", "community")
          .agg(org.apache.spark.sql.functions.sum("dq"))
          .head().getDouble(0)
      val lou = GraphAlgos.louvain(edges, "s", "d")
      val lpa = GraphAlgos.labelPropagation(edges, "s", "d")
        .withColumnRenamed("label", "community")
      assert(q(lou) >= q(lpa) - 1e-12)
    }
  }

  test("maximalIndependentSet: independent, maximal, matches replay") {
    // random graphs exercise the isolated-mid-loop case (a node whose
    // whole neighborhood is removed before it wins must still enter)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (for {
        i <- 0 until n; j <- i + 1 until n
        if rnd.nextDouble() < 0.1
      } yield (i.toLong, j.toLong)).toDF("s", "d")
      val r = GraphAlgos.misContract(edges, "s", "d").head()
      assert(r.getBoolean(0), s"trial $trial: not independent")
      assert(r.getBoolean(1), s"trial $trial: not maximal")
      assert(r.getBoolean(2), s"trial $trial: differs from replay")
      assert(r.getLong(3) > 0)
    }
    // a path graph: any MIS of 1-2-3 has size 1 or 2 and never {1,2}
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val mis = GraphAlgos.maximalIndependentSet(path, "s", "d")
      .where(org.apache.spark.sql.functions.col("in_mis"))
      .as[(Long, Boolean)].collect().map(_._1).toSet
    assert(mis == Set(2L) || mis == Set(1L, 3L))
  }

  test("coreDecomposition: known corenesses; matches sequential peel") {
    // K4 with a pendant tail: clique nodes coreness 3, tail nodes 1
    val k4tail = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val got = GraphAlgos.coreDecomposition(k4tail, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L))
    // random graphs: exact map equality with the sequential peel
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 2) {
      val edges = (for {
        i <- 0 until 30; j <- i + 1 until 30
        if rnd.nextDouble() < 0.12
      } yield (i.toLong, j.toLong)).toDF("s", "d")
      val r = GraphAlgos.coreDecompositionContract(edges, "s", "d").head()
      assert(r.getBoolean(0))
    }
  }

  test("greedyColoring: proper, complete, Delta+1-bounded") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 2) {
      val n = 25
      val edges = (for {
        i <- 0 until n; j <- i + 1 until n
        if rnd.nextDouble() < 0.15
      } yield (i.toLong, j.toLong)).toDF("s", "d")
      val r = GraphAlgos.coloringContract(edges, "s", "d").head()
      assert(r.getBoolean(0), s"trial $trial: monochrome edge")
      assert(r.getBoolean(1), s"trial $trial: not a complete coloring")
      assert(r.getBoolean(2), s"trial $trial: > maxdeg+1 colors")
    }
    // a triangle needs exactly 3 colors
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    val colors = GraphAlgos.greedyColoring(k3, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(colors.keySet === Set(1L, 2L, 3L))
    assert(colors.values.toSet.size === 3)
  }

  test("earliestArrival: distributed equals temporal Dijkstra") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 25
      val edges = (for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.12
      } yield (i.toLong, j.toLong, rnd.nextInt(20).toLong)).toSeq
      val got = GraphAlgos.earliestArrival(edges.toDF("s", "d", "t"),
          "s", "d", "t", Seq(0L).toDF("node"))
        .as[(Long, Long)].collect().toMap
      val want = GraphAlgos.earliestArrivalLocal(edges, Seq(0L))
      assert(got === want)
    }
    // a decreasing-timestamp chain is NOT traversable past the drop
    val chain = Seq((1L, 2L, 5L), (2L, 3L, 4L), (3L, 4L, 9L))
      .toDF("s", "d", "t")
    val arr = GraphAlgos.earliestArrival(chain, "s", "d", "t",
      Seq(1L).toDF("node")).as[(Long, Long)].collect().toMap
    assert(arr === Map(1L -> 0L, 2L -> 5L))
  }

  test("jaccardLinkPred: exact counts, threshold, hub-container cap") {
    // items 1,2 share both containers {10, 20} (jaccard 1.0);
    // item 3 shares only 20 with them: deg(3)=2 => jaccard 1/3
    val e = Seq((1L, 10L), (2L, 10L), (1L, 20L), (2L, 20L),
      (3L, 20L), (3L, 30L)).toDF("item", "cont")
    val got = GraphAlgos.jaccardLinkPred(e, "item", "cont",
      minJaccard = 0.3).as[(Long, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got((1L, 2L)) === ((2L, 2L, 1.0)))
    assert(got((1L, 3L)) === ((1L, 3L, 1.0 / 3.0)))
    assert(got((2L, 3L)) === ((1L, 3L, 1.0 / 3.0)))
    assert(got.size === 3)
    // capping at degree 2 drops container 20 entirely: items 1,2 still
    // share {10}; 3 keeps only {30} and pairs with nobody
    val capped = GraphAlgos.jaccardLinkPred(e, "item", "cont",
      minJaccard = 0.0, maxContainerDegree = 2)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(capped === Map((1L, 2L) -> 1.0))
  }
}
