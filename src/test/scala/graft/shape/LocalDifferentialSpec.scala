package graft.shape

import graft.TestSpark
import graft.core.{Graph, NQuads, QValue}
import graft.exec.{Exec, LocalResults, SparkResults}
import graft.path.Path
import graft.shape.ValueFilter._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Seeded random differential between the two engines: the same Shape
  * evaluated by LocalEval (driver-local index) and by Lower (DataFrame
  * plan) must produce identical value/tag-map multisets. This is the
  * blanket guard for the "two implementations, one semantics" contract —
  * the golden corpus pins known cases, this sweeps the composition space.
  */
class LocalDifferentialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def iri(s: String): QValue = QValue.Iri(s)
  val nodeNames: Seq[String] = ('a' to 'j').map(_.toString)
  val predNames = Seq("p1", "p2", "p3")

  def randomQuad(rnd: Random): NQuads.ParsedQuad =
    NQuads.ParsedQuad(
      iri(nodeNames(rnd.nextInt(nodeNames.size))),
      iri(predNames(rnd.nextInt(predNames.size))),
      iri(nodeNames(rnd.nextInt(nodeNames.size))),
      if (rnd.nextInt(4) == 0) Some(iri("g" + rnd.nextInt(2))) else None)

  def randomGraph(rnd: Random): Graph = {
    val n = 8 + rnd.nextInt(25)
    Graph.fromQuads(spark, (0 until n).map(_ => randomQuad(rnd)).distinct)
  }

  def randomStart(rnd: Random): Path =
    if (rnd.nextBoolean()) Path.start()
    else Path.start(iri(nodeNames(rnd.nextInt(nodeNames.size))))

  def pred(rnd: Random): QValue = iri(predNames(rnd.nextInt(predNames.size)))

  /** One random traversal op; sub-paths recurse with a smaller budget. */
  def extend(rnd: Random, p: Path, budget: Int): Path = {
    def sub: Path = {
      val s = randomStart(rnd)
      (0 until (1 + rnd.nextInt(2))).foldLeft(s)((acc, _) =>
        extend(rnd, acc, 0))
    }
    rnd.nextInt(14) match {
      case 0 => p.out(pred(rnd))
      case 1 => p.in(pred(rnd))
      case 2 => p.both(pred(rnd))
      case 3 => p.out()
      case 4 => p.has(pred(rnd), iri(nodeNames(rnd.nextInt(nodeNames.size))))
      case 5 if budget > 0 => p.and(sub)
      case 6 if budget > 0 => p.or(sub)
      case 7 if budget > 0 => p.except(sub)
      case 8 => p.unique()
      case 9 => p.tag("t" + rnd.nextInt(2))
      case 10 => p.save(pred(rnd), "sv" + rnd.nextInt(2))
      case 11 => p.filter(Comparison(GT, iri(nodeNames(rnd.nextInt(nodeNames.size)))))
      case 12 if budget > 0 => p.optional(Path.morphism().out(pred(rnd)).tag("op"))
      case 13 if budget > 0 =>
        p.followRecursive(Path.morphism().out(pred(rnd)), 1 + rnd.nextInt(4))
      case _ => p.out(pred(rnd))
    }
  }

  def randomPath(rnd: Random): Path = {
    val ops = 1 + rnd.nextInt(5)
    (0 until ops).foldLeft(randomStart(rnd))((p, _) => extend(rnd, p, 1))
  }

  private def valueKey(vs: Seq[QValue]): Seq[String] = vs.map(_.nquads).sorted

  private def mapKey(ms: Seq[Map[String, QValue]]): Seq[String] =
    ms.map(m => m.toSeq.map { case (k, v) => k + "=" + v.nquads }
      .sorted.mkString(";")).sorted

  test("random graphs × random paths: local ≡ distributed") {
    var localRuns = 0
    (1 to 12).foreach { seed =>
      val rnd = new Random(seed)
      val g = randomGraph(rnd).cached()
      (1 to 6).foreach { _ =>
        val p = randomPath(rnd)
        val shape = p.shape()
        LocalEval.tryRun(g.interactive(), shape) match {
          case None => () // unsupported construct: distributed-only, fine
          case Some(localRes) =>
            localRuns += 1
            val local = new LocalResults(g, localRes)
            val dist = new SparkResults(g, Exec.lower(g, shape))
            withClue(s"seed=$seed path=$p: ") {
              assert(valueKey(local.values()) === valueKey(dist.values()))
              assert(mapKey(local.tagMaps()) === mapKey(dist.tagMaps()))
              assert(mapKey(local.tagMaps(includeTopLevel = true)) ===
                mapKey(dist.tagMaps(includeTopLevel = true)))
              assert(local.count() === dist.count())
            }
        }
      }
      g.nodes.unpersist(); g.quads.unpersist()
    }
    assert(localRuns > 40, s"only $localRuns local runs — generator too narrow")
  }

  /** An index's quads as a sorted multiset, and its dictionary. */
  private def contents(idx: LocalGraphIndex) = {
    assert(idx.nodeIds.distinct.length === idx.nodeIds.length)
    (idx.allQuads.toSeq.map(q => idx.row(q).mkString(",")).sorted,
      idx.nodeIds.map(id => id -> idx.node(id)).toMap)
  }

  test("an index overlaid across writes, deletes and node removals ≡ a fresh " +
      "build ≡ distributed, across folds, with no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a small broadcast threshold folds the delta every few writes
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", "300")
    val sc = spark.sparkContext
    val tag = "local-overlay-check"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    def jobsIn[T](f: => T): (T, Int) = {
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.set(0)
      sc.addJobTag(tag)
      val out = try f finally sc.removeJobTag(tag)
      org.apache.spark.TestListenerBus.drain(sc)
      (out, jobs.get)
    }
    sc.addSparkListener(listener)
    var folds = 0
    var localRuns = 0
    try (1 to 3).foreach { seed =>
      val rnd = new Random(100 + seed)
      val distinct = (0 until 12 + rnd.nextInt(12)).map(_ => randomQuad(rnd)).distinct
      // duplicate base rows: a write or delete must keep or drop every copy
      val base = distinct ++ distinct.take(3)
      var g = Graph.fromQuads(small, base).withStats().cached().interactive()
      assert(LocalGraphIndex.forGraph(g, g.interactiveMaxQuads).isDefined)
      var deleted = Seq.empty[NQuads.ParsedQuad]
      (1 to 10).foreach { step =>
        val fresh = (0 until 1 + rnd.nextInt(4)).map(_ => randomQuad(rnd))
        g = rnd.nextInt(5) match {
          case 0 | 1 => // new quads, and some deleted earlier added back
            g.addQuads(Graph.fromQuads(small,
              fresh ++ rnd.shuffle(deleted).take(2)))
          case 2 | 3 =>
            val gone = rnd.shuffle(base ++ fresh).take(3)
            deleted ++= gone
            g.deleteQuads(Graph.fromQuads(small, gone))
          case _ =>
            g.removeNode(graft.core.QValue.id(iri(nodeNames(rnd.nextInt(nodeNames.size)))))
        }
        if (g.quads.storageLevel.useMemory) folds += 1
        withClue(s"seed=$seed step=$step: ") {
          val (overlaid, n) = jobsIn(LocalGraphIndex.forGraph(g, g.interactiveMaxQuads).get)
          assert(n === 0, "deriving a snapshot's index ran a Spark job")
          val built = LocalGraphIndex.build(g)
          assert(contents(overlaid) === contents(built))
          assert(overlaid.nQuads === g.quads.count())
          (1 to 3).foreach { _ =>
            val p = randomPath(rnd)
            val shape = p.shape()
            (LocalEval.run(overlaid, shape), LocalEval.run(built, shape)) match {
              case (Some(o), Some(b)) =>
                localRuns += 1
                val (lo, lb) = (new LocalResults(g, o), new LocalResults(g, b))
                val dist = new SparkResults(g, Exec.lower(g, shape))
                withClue(s"path=$p: ") {
                  assert(mapKey(lo.tagMaps(includeTopLevel = true)) ===
                    mapKey(lb.tagMaps(includeTopLevel = true)))
                  assert(mapKey(lo.tagMaps(includeTopLevel = true)) ===
                    mapKey(dist.tagMaps(includeTopLevel = true)))
                  assert(valueKey(lo.values()) === valueKey(dist.values()))
                }
              case (o, b) => assert(o.isEmpty && b.isEmpty)
            }
          }
        }
      }
    } finally sc.removeSparkListener(listener)
    assert(folds >= 2, "no sequence folded its delta")
    assert(localRuns > 40, s"only $localRuns local runs")
  }

  test("count shapes agree") {
    val rnd = new Random(99)
    val g = randomGraph(rnd).cached()
    (1 to 5).foreach { _ =>
      val p = randomPath(rnd).count()
      val shape = p.shape()
      LocalEval.tryRun(g.interactive(), shape).foreach { localRes =>
        val local = new LocalResults(g, localRes)
        val dist = new SparkResults(g, Exec.lower(g, shape))
        assert(valueKey(local.values()) === valueKey(dist.values()))
      }
    }
    g.nodes.unpersist(); g.quads.unpersist()
  }
}
