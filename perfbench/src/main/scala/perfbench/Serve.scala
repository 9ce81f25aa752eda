package perfbench

import graft.core.{Graph, NQuads, QValue}
import graft.exec.SparkResults
import graft.lang.QuerySession
import graft.path.Path
import graft.server.HttpApi
import graft.shape.{Lower, Shape}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import scala.collection.mutable

/** One Gizmo request, the generator's answer, and (for the read set) its
  * Path-DSL twin.
  */
final case class Query(template: String, gizmo: String, expected: Set[String],
                       twin: Option[() => Path] = None)

/** The run's Gizmo request set: every template at each of `Quantiles` of
  * the Zipf request distribution over actors (the same skew as the actor
  * degrees), so each set holds a popular, a middling and a rare actor per
  * template. Quantiles map to fixed actor ranks; the seed draws the corpus
  * and the co-stars paired with them. A fixed set replayed in whole passes
  * keeps every run's query difficulty the same.
  */
final class QuerySet(c: MovieCorpus, seed: Long) {
  val Quantiles = Seq(0.25, 0.5, 0.75)
  private val rnd = new SplittableRandom(seed * 31 + 7)
  private val M = s"""m = g.M().in("${Movie.Actor}").in("${Movie.Starring}"); """
  private def iri(s: String) = QValue.Iri(s.stripPrefix("<").stripSuffix(">"))
  private def a2f = Path.morphism().in(iri(Movie.Actor)).in(iri(Movie.Starring))
  private def v(a: Int) = s"""g.V("${Movie.actor(a)}")"""
  private def start(a: Int) = Path.start(iri(Movie.actor(a)))
  private def filmSet(fs: Iterable[Int]) = fs.iterator.map(Movie.film).toSet
  /** The first actor at or after the quantile's rank that has a film. */
  private def actorAt(q: Double): Int = {
    var a = Zipf.rankAt(c.actors, q)
    while (c.filmsOf(a).isEmpty) a += 1
    a
  }
  private def costarOf(a: Int): Int = {
    val fs = c.filmsOf(a); val cast = c.cast(fs(rnd.nextInt(fs.length)))
    cast(rnd.nextInt(cast.length))
  }

  val queries: Seq[Query] = Quantiles.flatMap { qu =>
    val a = actorAt(qu)
    val b = costarOf(a)
    val d = costarOf(b)
    def co(x: Int) = s"${v(x)}.follow(m).followR(m)"
    def coP(x: Int) = start(x).follow(a2f).followReverse(a2f)
    Seq(
      Query("point", s"""${v(a)}.out("<name>").all()""", Set(s"Actor $a"),
        Some(() => start(a).out(iri("<name>")))),
      Query("films", s"""$M${v(a)}.follow(m).all()""", filmSet(c.filmsOf(a)),
        Some(() => start(a).follow(a2f))),
      Query("two_sets", s"""$M${v(a)}.follow(m).and(${v(b)}.follow(m)).all()""",
        filmSet(c.filmsOf(a).toSet.intersect(c.filmsOf(b).toSet)),
        Some(() => start(a).follow(a2f).and(start(b).follow(a2f)))),
      Query("three_huge", s"""$M${co(a)}.and(${co(b)}).and(${co(d)}).unique().all()""",
        c.costars(a).intersect(c.costars(b)).intersect(c.costars(d)).map(Movie.actor),
        Some(() => coP(a).and(coP(b)).and(coP(d)).unique())))
  }
}

/** Closed-loop HTTP client for the engine's /api/v2 endpoints. */
final class ApiClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private def post(path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  def query(gizmo: String): (Int, String) = post("/api/v2/query?lang=gizmo", gizmo)
  def write(nquads: String): (Int, String) = post("/api/v2/write", nquads)
}

/** serve: a store opened exactly as `Cli http -d` opens it, behind an
  * in-process `HttpApi` on loopback, driven by closed-loop clients in this
  * process.
  */
object Serve {
  /** ~75 k quads (about a sixth of the reference's 30k-movie file), so
    * the whole store fits in Spark's cache.
    */
  val Films = 3000
  val Buckets = 16
  val SetupReps = 3
  /** Writes per write script, each followed by two reads. */
  val Writes = 2

  /** The `"id"` values of a `{"result": [...]}` response. */
  def ids(body: String): Set[String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(body) \ "result" match {
      case JArray(rows) => rows.flatMap(r => (r \ "id") match {
        case JString(s) => Some(s); case _ => None }).toSet
      case _ => Set.empty
    }
  }

  final class Served(val corpus: MovieCorpus, val store: String) {
    var graph: Graph = _
    var api: HttpApi = _
    var client: ApiClient = _
    /** (Re)start the server on `g`, as a freshly opened store. */
    def start(g: Graph): Unit = {
      stop(); graph = g; api = new HttpApi(g); client = new ApiClient(api.start(0))
    }
    def stop(): Unit = if (api != null) api.stop()
  }

  /** One HTTP query, checked; returns its latency in ms. */
  private def timedQuery(ctx: Ctx, s: Served, q: Query): Double = {
    val ((st, body), ms) = Stats.time(s.client.query(q.gizmo))
    ctx.synchronized {
      ctx.check(st == 200, s"${q.template}: HTTP $st ${body.take(200)}") &&
        ctx.check(ids(body) == q.expected, s"${q.template}: wrong answer for ${q.gizmo}")
    }
    ms
  }

  /** Generate the corpus and load it into a 16-bucket dual-index store,
    * then open it the way `Cli http -d` does — `Graph.read(store).cached()`
    * behind an in-process `HttpApi` — and answer one request of each
    * template. The open step runs `SetupReps` times; `setup_s` is their
    * median.
    */
  def open(ctx: Ctx, set: QuerySet, corpus: MovieCorpus): Served = {
    val nq = new java.io.File(ctx.dir("input"), "movies.nq")
    val store = new java.io.File(ctx.work, "store").getAbsolutePath
    val (_, prepMs) = Stats.time {
      corpus.write(nq)
      Graph.fromNQuads(ctx.spark, nq.getAbsolutePath).write(store, Buckets, objectIndex = true)
    }
    ctx.named("prep_s", prepMs / 1e3, "s")
    ctx.named("corpus_quads", corpus.quadCount.toDouble, "quads")
    ctx.log(f"store built: ${corpus.quadCount} quads, input sha256 ${Digest.sha256(nq)}")
    val s = new Served(corpus, store)
    val times = (1 to SetupReps).map { rep =>
      if (s.graph != null) {
        s.stop()
        (Seq(s.graph.nodes, s.graph.quads) ++ s.graph.quadsOps).foreach(_.unpersist(true))
      }
      Stats.time {
        val (g, readMs) = Stats.time(Graph.read(ctx.spark, store).cached())
        if (rep == SetupReps) ctx.layer("core.read_ms", readMs, "ms")
        val quads = g.stats._2
        ctx.check(quads == corpus.quadCount,
          s"store holds $quads quads, generator wrote ${corpus.quadCount}")
        s.start(g)
        set.queries.groupBy(_.template).values.map(_.head).foreach(timedQuery(ctx, s, _))
      }._2
    }
    ctx.e2e("setup_s", Stats.median(times) / 1e3, "s")
    ctx.log("store opened " + times.map(t => f"${t / 1e3}%.2f s").mkString(", "))
    s
  }

  /** Traced twin of one request: the same query through each layer's
    * public entry point in-process, each call in its own span.
    */
  private def twin(ctx: Ctx, g: Graph, q: Query, req: Long): Unit = {
    val t = ctx.tracer
    val res = t.span("lang.execute", req)(QuerySession.execute(g, "gizmo", q.gizmo))
    t.span("exec.json", req)(QuerySession.toJson(Map("result" -> res)))
    // Gizmo's `.all()` runs the path tagged "id" and collects tag maps
    val shape = t.span("shape.build", req)(Shape.optimize(q.twin.get().tag("id").shape()))
    val df = t.span("shape.lower", req)(new Lower(g).nodes(shape))
    val rows = t.span("exec.collect", req)(new SparkResults(g, df).tagMaps())
    ctx.check(rows.flatMap(_.get("id")).map(_.sortKey).toSet == q.expected,
      s"${q.template}: Path twin disagrees")
  }

  /** One client replaying the query set in whole passes until `until` (at
    * least one pass). Returns each pass's request latencies in ms.
    */
  private def passes(ctx: Ctx, s: Served, set: QuerySet, until: Long,
                     traced: Boolean): Seq[Seq[Double]] = {
    val out = mutable.ArrayBuffer.empty[Seq[Double]]
    while (System.nanoTime() < until || out.isEmpty) out += set.queries.map { q =>
      if (traced) {
        val req = ctx.tracer.request()
        ctx.tracer.span("read_request", req) {
          val ms = ctx.tracer.span("server.http", req)(timedQuery(ctx, s, q))
          twin(ctx, s.graph, q, req)
          ms
        }
      } else timedQuery(ctx, s, q)
    }
    out.toSeq
  }

  /** `clients` closed-loop clients; client k replays its share of the
    * query set (the `size / clients` queries from position k · size /
    * clients) in whole shares until `until`, at least once. Returns the
    * latencies and completed requests per second.
    */
  private def concurrent(ctx: Ctx, s: Served, set: QuerySet, clients: Int, until: Long)
      : (Seq[Double], Double) = {
    val n = set.queries.size
    val share = math.max(1, n / clients)
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      val fs = (0 until clients).map { k =>
        pool.submit { () =>
          val lat = mutable.ArrayBuffer.empty[Double]
          do for (i <- 0 until share)
            lat += timedQuery(ctx, s, set.queries((k * n / clients + i) % n))
          while (System.nanoTime() < until)
          lat.toSeq
        }
      }
      val lat = fs.flatMap(_.get())
      (lat, lat.size / ((System.nanoTime() - t0) / 1e9))
    } finally pool.shutdown()
  }

  /** One write script on a freshly started server over the store as
    * opened: `Writes` writes of 50 new quads (5 new films starring existing
    * actors), each followed by two reads that must see them. Restarting
    * every script keeps the number of writes each read sits behind fixed,
    * so every script has the same latency profile. Returns the read and
    * the write latencies.
    */
  private def writeScript(ctx: Ctx, s: Served, base: Graph): (Seq[Double], Seq[Double]) = {
    val t = ctx.tracer
    val zipf = new Zipf(s.corpus.actors, new SplittableRandom(ctx.seed * 17 + 3))
    val reads = mutable.ArrayBuffer.empty[Double]
    val writes = mutable.ArrayBuffer.empty[Double]
    s.start(base)
    var twinG = base
    val added = mutable.Map.empty[Int, Set[String]].withDefaultValue(Set.empty)
    for (w <- 0 until Writes) {
      val films = (0 until 5).map { k =>
        val iri = Movie.newFilm(s"w$w", k)
        val cast = Iterator.continually(zipf.next()).distinct.take(3).toSeq
        (iri, cast, Movie.filmQuads(iri, cast, s"w${w}f$k"))
      }
      val body = films.flatMap(_._3).mkString("\n")
      val req = t.request()
      t.span("write_request", req) {
        val ((st, resp), ms) = t.span("server.write", req)(Stats.time(s.client.write(body)))
        ctx.check(st == 200 && resp.contains("\"count\": 50"), s"write: HTTP $st $resp")
        writes += ms
        if (t.enabled) twinG = t.span("core.add_quads", req)(twinG.addQuads(
          Graph.fromQuads(ctx.spark, body.linesIterator.flatMap(NQuads.parseLine).toSeq)))
        s.graph = s.api.graph
        for ((iri, cast, _) <- films; a <- cast) added(a) += iri
        val (iri, cast, _) = films(w % films.size)
        def filmsOf(a: Int) =
          s.corpus.filmsOf(a).iterator.map(Movie.film).toSet ++ added(a)
        val m = s"""m = g.M().in("${Movie.Actor}").in("${Movie.Starring}"); """
        val qs = Seq(
          Query("films", s"""${m}g.V("${Movie.actor(cast(0))}").follow(m).all()""",
            filmsOf(cast(0))),
          Query("two_sets", s"""${m}g.V("${Movie.actor(cast(1))}").follow(m)""" +
            s""".and(g.V("${Movie.actor(cast(2))}").follow(m)).all()""",
            filmsOf(cast(1)).intersect(filmsOf(cast(2)))))
        for (q <- qs) {
          ctx.check(q.expected.contains(iri), s"generator: $iri missing from expected")
          reads += t.span("server.http", req)(timedQuery(ctx, s, q))
          if (t.enabled) {
            val res = t.span("lang.execute", req)(
              QuerySession.execute(s.graph, "gizmo", q.gizmo))
            t.span("exec.json", req)(QuerySession.toJson(Map("result" -> res)))
          }
        }
      }
    }
    (reads.toSeq, writes.toSeq)
  }

  private def mean(xs: Seq[Double]) = xs.sum / xs.size

  /** serve: 35 % of the run for (1) one closed-loop client reading the
    * idle store, 35 % for (2) `cores` closed-loop clients reading it, and
    * 30 % for (3) write scripts — writes beside the reads that follow
    * them. Phases (1) and (3) run whole passes and scripts, at least one.
    */
  def run(ctx: Ctx): Unit = {
    val corpus = new MovieCorpus(ctx.seed, Films)
    val set = new QuerySet(corpus, ctx.seed)
    val s = open(ctx, set, corpus)
    val base = s.graph
    try {
      val pct = ctx.seconds * 10000000L
      val one = passes(ctx, s, set, System.nanoTime() + 35 * pct, traced = false)
      ctx.log(s"1 client: ${one.size} passes")
      val (many, qps) = concurrent(ctx, s, set, ctx.cores, System.nanoTime() + 35 * pct)
      ctx.log(s"${ctx.cores} clients: ${many.size} reads")
      val scripts = mutable.ArrayBuffer.empty[(Seq[Double], Seq[Double])]
      val until = System.nanoTime() + 30 * pct
      while (System.nanoTime() < until || scripts.isEmpty) scripts += writeScript(ctx, s, base)
      ctx.log(s"${scripts.size} write scripts")
      val reads = scripts.flatMap(_._1).toSeq
      val writes = scripts.flatMap(_._2).toSeq
      val idleMs = Stats.median(one.map(mean))
      val afterWritesMs = Stats.median(scripts.map(x => mean(x._1)).toSeq)
      ctx.e2e("primary_ms", idleMs, "ms")
      ctx.e2e("secondary_ms", afterWritesMs, "ms")
      ctx.e2e("throughput_per_s", qps, "1/s")
      val all = one.flatten
      ctx.named("read_mean_ms", idleMs, "ms")
      ctx.named("read_p50_ms", Stats.median(all), "ms")
      ctx.named("read_p90_ms", Stats.quantile(all, 0.9), "ms")
      ctx.named("read_samples", all.size, "count")
      for ((tpl, xs) <- set.queries.zipWithIndex.groupBy(_._1.template))
        ctx.named(s"read_p50_ms.$tpl", Stats.median(one.flatMap(p => xs.map(x => p(x._2)))), "ms")
      ctx.named("read_qps", qps, "queries/s")
      ctx.named("read_p50_ms_at_cores_clients", Stats.median(many), "ms")
      ctx.named("read_after_writes_mean_ms", afterWritesMs, "ms")
      ctx.named("read_after_writes_p50_ms", Stats.median(reads), "ms")
      ctx.named("read_after_writes_p90_ms", Stats.quantile(reads, 0.9), "ms")
      ctx.named("read_after_writes_samples", reads.size, "count")
      ctx.named("write_p50_ms", Stats.median(writes), "ms")
      ctx.named("write_p90_ms", Stats.quantile(writes, 0.9), "ms")
      ctx.named("write_samples", writes.size, "count")
      if (ctx.trace) {
        ctx.layer("server.queue_ms", Stats.median(many) - Stats.median(all), "ms")
        s.start(base)
        val (tr, (twr, _)) = Layers.phase(ctx) {
          val tr = passes(ctx, s, set, System.nanoTime(), traced = true)
          (tr, writeScript(ctx, s, base))
        }
        Layers.query(ctx, set.queries.map(_.expected.size), mean(tr.head), idleMs)
        Layers.writes(ctx, twr, afterWritesMs)
      }
    } finally s.stop()
  }
}
