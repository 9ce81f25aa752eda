package graft.server

import graft.TestSpark
import graft.core.{Graph, QValue}
import graft.core.NQuads.ParsedQuad
import graft.lang.QuerySession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The /api/v2 server under concurrent requests, on inline data: reads
  * on snapshots beside serialized writes (with and without folds), the
  * query deadline, per-request job tags, error statuses and shutdown.
  */
class HttpConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .timeout(java.time.Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def gizmo(port: Int, q: String) = post(port, "/api/v2/query?lang=gizmo", q)

  /** The `"id"` values of a `{"result": [...]}` response. */
  private def ids(body: String): Set[String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(body) \ "result" match {
      case JArray(rows) => rows.flatMap(r => (r \ "id") match {
        case JString(s) => Some(s); case _ => None }).toSet
      case _ => Set.empty
    }
  }

  private def iri(s: String) = QValue.Iri(s)
  private def edge(s: String, p: String, o: String) = ParsedQuad(iri(s), iri(p), iri(o), None)
  private def nq(q: ParsedQuad) = s"${q.s.nquads} ${q.p.nquads} ${q.o.nquads} ."

  /** Opened as a server opens a store: stats, cached. */
  private def open(s: SparkSession, qs: Seq[ParsedQuad]): Graph =
    Graph.fromQuads(s, qs).withStats().cached()

  /** [[open]] with a local-index cap below its quad count, which `HttpApi`
    * keeps: every query takes the distributed path, so these tests see
    * its Spark jobs (cancel, 503, job tags).
    */
  private def distributed(s: SparkSession, qs: Seq[ParsedQuad]): Graph =
    open(s, qs).interactive(1)

  /** Counts the jobs started under `port`'s request tags. */
  private final class ServerJobs(port: Int) extends SparkListener {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .exists(_.split(",").exists(_.startsWith(s"graft-http-$port-"))))
        started.incrementAndGet()
    /** Jobs started while `f` ran (the listener bus drained around it). */
    def during[T](f: => T): (T, Int) = {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      started.set(0)
      val out = f
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      (out, started.get)
    }
  }

  private def waitFor(what: String, within: FiniteDuration = 10.seconds)(p: => Boolean): Unit = {
    val until = System.nanoTime() + within.toNanos
    while (!p) {
      assert(System.nanoTime() < until, s"timed out waiting for $what")
      Thread.sleep(50)
    }
  }

  private val Hub = """g.V("<hub>").in("<rel>").all()"""

  /** 4 readers loop `Hub` while one writer posts 20 writes (each also
    * tagging its subject with `filler` literals) and 5 deletes. Every
    * status is 200; every read equals the answer after some prefix of the
    * writes, never an earlier one than the reader saw before; the store
    * ends with base + writes − deletes quads and current stats. Returns
    * the number of writes that folded the delta into a cached base.
    */
  private def readersBesideWriter(s: SparkSession): Int = {
    val base = (0 until 10).map(i => edge(s"b$i", "rel", "hub"))
    val filler = 8
    val ops: Seq[(String, Seq[ParsedQuad])] = {
      val dels = Iterator("b0", "w1", "b1", "w5", "b2")
      (0 until 20).flatMap { i =>
        val w = "/api/v2/write" -> (edge(s"w$i", "rel", "hub") +:
          (0 until filler).map(k => ParsedQuad(iri(s"w$i"), iri("tag"),
            QValue.Str(s"t${i}_$k"), None)))
        if (i % 4 == 3) Seq(w, "/api/v2/delete" -> Seq(edge(dels.next(), "rel", "hub")))
        else Seq(w)
      }
    }
    val states = ops.scanLeft(base.map(_.s.sortKey).toSet) { case (st, (path, qs)) =>
      val subs = qs.filter(_.p == iri("rel")).map(_.s.sortKey)
      if (path.endsWith("write")) st ++ subs else st -- subs
    }
    assert(states.distinct.size === states.size)
    val api = new HttpApi(open(s, base))
    val port = api.start()
    try {
      @volatile var writing = true
      val pool = Executors.newFixedThreadPool(4)
      val readers = (0 until 4).map { _ =>
        pool.submit { () =>
          val seen = Seq.newBuilder[(Int, Int)]
          def read(): Unit = {
            val (st, body) = gizmo(port, Hub)
            seen += st -> (if (st == 200) states.indexOf(ids(body)) else -1)
          }
          while (writing) read()
          read() // after the last write
          seen.result()
        }
      }
      var folds = 0
      try for ((path, qs) <- ops) {
        val (st, body) = post(port, path, qs.map(nq).mkString("\n"))
        assert(st === 200, body)
        if (api.graph.quads.storageLevel.useMemory) folds += 1
      } finally writing = false
      val reads = readers.map(_.get())
      pool.shutdown()
      for (seen <- reads) {
        assert(seen.nonEmpty && seen.forall(_._1 == 200), seen)
        val at = seen.map(_._2)
        assert(at.forall(_ >= 0), s"a read matched no prefix of the writes: $at")
        assert(at === at.sorted, s"a reader went back to an earlier snapshot: $at")
        assert(at.last === states.size - 1, s"a read after the last write missed it: $at")
      }
      val g = api.graph
      assert(g.stats._2 === base.size + 20 * (1 + filler) - 5)
      assert(g.quads.count() === base.size + 20 * (1 + filler) - 5)
      assert(g.predStats === g.withStats().predStats)
      assert(ids(gizmo(port, Hub)._2) === states.last)
      folds
    } finally api.stop()
  }

  test("4 readers beside a writer each see a growing prefix of the writes") {
    assert(readersBesideWriter(spark) === 0)
  }

  test("reads beside writes that fold the delta into a new cached base") {
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    assert(readersBesideWriter(small) >= 2)
  }

  test("concurrent writers lose no update") {
    val base = (0 until 5).map(i => edge(s"b$i", "rel", "hub"))
    val api = new HttpApi(open(spark, base))
    val port = api.start()
    try {
      val pool = Executors.newFixedThreadPool(4)
      val statuses = (0 until 4).map { t =>
        pool.submit { () =>
          (0 until 5).map(i => post(port, "/api/v2/write", nq(edge(s"c${t}_$i", "rel", "hub"))))
        }
      }.flatMap(_.get())
      pool.shutdown()
      assert(statuses.forall(_._1 == 200), statuses)
      val g = api.graph
      assert(g.quads.count() === 25)
      assert(g.predStats === g.withStats().predStats)
      assert(ids(gizmo(port, Hub)._2).size === 25)
    } finally api.stop()
  }

  test("a read on a snapshot whose folded base a later fold released answers right") {
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    val api = new HttpApi(open(small, Seq(edge("b0", "rel", "hub"))))
    val port = api.start()
    try {
      var i = 0
      def write(): Unit = {
        val body = (edge(s"w$i", "rel", "hub") +: (0 until 8).map(k =>
          ParsedQuad(iri(s"w$i"), iri("tag"), QValue.Str(s"t${i}_$k"), None))).map(nq)
        assert(post(port, "/api/v2/write", body.mkString("\n"))._1 === 200)
        i += 1
      }
      def folded = api.graph.quads.storageLevel.useMemory
      do write() while (!folded)
      val old = api.graph
      def answer(g: Graph) =
        ids(QuerySession.toJson(Map("result" -> QuerySession.execute(g, "gizmo", Hub))))
      val want = answer(old)
      assert(want.size === i + 1)
      do write() while (!folded)
      assert(!old.quads.storageLevel.useMemory, "the later fold kept the earlier base")
      assert(answer(old) === want)
      assert(ids(gizmo(port, Hub)._2).size === i + 1)
    } finally api.stop()
  }

  /** A 2000-hop chain and a query that walks all of it, one hop per
    * round of Spark jobs: it runs far longer than any deadline here.
    */
  private lazy val chain = (0 until 2000).map(i => edge(s"c$i", "next", s"c${i + 1}"))
  private val Walk = """g.V("<c0>").followRecursive(g.M().out("<next>"), 5000).all()"""

  test("a read and a write are answered while a slow read runs") {
    val api = new HttpApi(distributed(spark, chain), 10.seconds)
    val port = api.start()
    try {
      val slow = new java.util.concurrent.FutureTask(() => gizmo(port, Walk))
      new Thread(slow).start()
      waitFor("the slow read's jobs")(!spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      val (st, body) = gizmo(port, """g.V("<c0>").out("<next>").all()""")
      assert(st === 200 && ids(body) === Set("<c1>"), body)
      assert(post(port, "/api/v2/write", "<c0> <next> <x> .")._1 === 200)
      assert(ids(gizmo(port, """g.V("<c0>").out("<next>").all()""")._2) === Set("<c1>", "<x>"))
      assert(!slow.isDone, "the slow read ended before the fast requests")
      assert(slow.get()._1 === 503)
    } finally api.stop()
  }

  test("stop() cancels the jobs of a request still running after its wait") {
    val api = new HttpApi(distributed(spark, chain))
    val port = api.start()
    val slow = new java.util.concurrent.FutureTask(() => scala.util.Try(gizmo(port, Walk)))
    new Thread(slow).start()
    waitFor("the slow read's jobs")(!spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    val t0 = System.nanoTime()
    api.stop()
    assert((System.nanoTime() - t0).nanos < 30.seconds)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith(s"graft-http-$port-")))
    waitFor("no active jobs")(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(slow.get().isFailure, "the client of a stopped server got an answer")
  }

  test("a query past its deadline answers 503, its jobs are cancelled and the next query runs") {
    val deadline = 1.second
    val api = new HttpApi(distributed(spark, chain), deadline)
    val port = api.start()
    try {
      val t0 = System.nanoTime()
      val (st, body) = gizmo(port, Walk)
      val took = (System.nanoTime() - t0).nanos
      assert(st === 503, body)
      assert(body.contains("\"error\"") && body.contains("deadline"), body)
      assert(took < deadline + 5.seconds, took)
      waitFor("no active jobs")(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      val (st2, next) = gizmo(port, """g.V("<c0>").out("<next>").all()""")
      assert(st2 === 200 && ids(next) === Set("<c1>"), next)
    } finally api.stop()
  }

  test("each request runs under its own job tag") {
    val tags = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")).filter(_.startsWith("graft-http-")))
    }
    val api = new HttpApi(distributed(spark, (0 until 5).map(i => edge(s"b$i", "rel", "hub"))))
    val port = api.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      // more requests than pool threads, so threads are reused
      val n = 3 * spark.sparkContext.defaultParallelism
      for (_ <- 0 until n) assert(gizmo(port, Hub)._1 === 200)
      waitFor("the jobs of every request")(tags.asScala.flatten.toSet.size >= n)
      val byJob = tags.asScala.toSeq.filter(_.nonEmpty)
      assert(byJob.forall(_.size == 1), s"a job carried another request's tag: $byJob")
      assert(byJob.flatten.toSet.size === n)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      api.stop()
    }
  }

  test("a served read on a small store starts no Spark job, after writes too") {
    val api = new HttpApi(open(spark, (0 until 5).map(i => edge(s"b$i", "rel", "hub"))))
    val port = api.start()
    val jobs = new ServerJobs(port)
    spark.sparkContext.addSparkListener(jobs)
    try {
      assert(gizmo(port, Hub)._1 === 200) // builds the index
      val (reads, n) = jobs.during((0 until 8).map(_ => gizmo(port, Hub)))
      assert(reads.forall(r => r._1 == 200 && ids(r._2).size == 5), reads)
      assert(n === 0, "an idle read ran a Spark job")
      assert(post(port, "/api/v2/write", nq(edge("w0", "rel", "hub")))._1 === 200)
      assert(post(port, "/api/v2/delete", nq(edge("b0", "rel", "hub")))._1 === 200)
      val ((st, body), m) = jobs.during(gizmo(port, Hub))
      assert(st === 200 && ids(body) === (1 until 5).map(i => s"<b$i>").toSet + "<w0>", body)
      assert(m === 0, "a read after writes ran a Spark job")
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      api.stop()
    }
  }

  test("a slow local query past its deadline answers 503 and the next query runs") {
    // every step of the walk intersects with all 5000 hops: quadratic
    // work on the driver, no Spark job to cancel
    val long = (0 until 5000).map(i => edge(s"c$i", "next", s"c${i + 1}"))
    val deadline = 1.second
    val api = new HttpApi(open(spark, long), deadline)
    val port = api.start()
    val jobs = new ServerJobs(port)
    spark.sparkContext.addSparkListener(jobs)
    try {
      assert(gizmo(port, """g.V("<c0>").out("<next>").all()""")._1 === 200)
      val t0 = System.nanoTime()
      val ((st, body), n) = jobs.during(gizmo(port, """g.V("<c0>").followRecursive(""" +
        """g.M().out("<next>").and(g.V().out("<next>")), 6000).all()"""))
      val took = (System.nanoTime() - t0).nanos
      assert(st === 503, body)
      assert(body.contains("deadline"), body)
      assert(n === 0, "the slow query ran on the distributed path")
      assert(took < deadline + 5.seconds, took)
      val (st2, next) = gizmo(port, """g.V("<c0>").out("<next>").all()""")
      assert(st2 === 200 && ids(next) === Set("<c1>"), next)
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      api.stop()
    }
  }

  test("job-less Gizmo loops past their deadline answer 503 and free the pool") {
    val deadline = 1.second
    val api = new HttpApi(open(spark, Seq(edge("b0", "rel", "hub"))), deadline)
    val port = api.start()
    try {
      assert(gizmo(port, Hub)._1 === 200) // builds the index
      // one looping request per pool thread
      val n = spark.sparkContext.defaultParallelism
      val pool = Executors.newFixedThreadPool(n)
      // every outer iteration does work, so the interpreter's cap of
      // 1 000 000 iterations per loop is hours away
      val inner = "for (var i = 0; i < 100; i++) {}"
      val loops = Seq(s"while (true) { $inner }", s"do { $inner } while (true)",
        "for (;;) { var k = 0; while (k < 100) { k++ } }",
        s"for (var x of [1, 2]) { while (true) { $inner } }")
      val answers = (0 until n).map(k => pool.submit(() => gizmo(port, loops(k % loops.size))))
        .map(_.get())
      pool.shutdown()
      for ((st, body) <- answers) assert(st === 503 && body.contains("deadline"), body)
      val t0 = System.nanoTime()
      assert(gizmo(port, Hub)._1 === 200)
      assert((System.nanoTime() - t0).nanos < 5.seconds)
    } finally api.stop()
  }

  test("a malformed Gizmo query answers 400") {
    val api = new HttpApi(open(spark, Seq(edge("b0", "rel", "hub"))))
    val port = api.start()
    try {
      val (st, body) = gizmo(port, """g.V("<b0>").out(""")
      assert(st === 400, body)
      assert(body.contains("\"error\""), body)
      assert(gizmo(port, Hub)._1 === 200)
    } finally api.stop()
  }

  test("stop() leaves no pool thread alive") {
    val api = new HttpApi(open(spark, Seq(edge("b0", "rel", "hub"))))
    val port = api.start()
    val prefix = s"graft-http-$port-"
    def live = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(prefix))
    for (_ <- 0 until 8) assert(gizmo(port, Hub)._1 === 200)
    assert(live.nonEmpty)
    api.stop()
    assert(live.isEmpty, live.map(_.getName))
  }
}
