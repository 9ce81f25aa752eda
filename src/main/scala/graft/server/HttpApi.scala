package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{Deadline, Formats, Graph, Inference, NQuads}
import graft.lang.QuerySession
import graft.lang.QuerySession.{Collation, Options}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutorService,
  Executors, ScheduledThreadPoolExecutor}
import java.util.concurrent.TimeUnit.MILLISECONDS
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** HTTP /api/v2 façade (/root/reference/server/http/api_v2.go:120-144):
  * query, write, delete, node/delete, read, formats — on the JDK's
  * built-in HttpServer, no extra dependency. The store is a snapshot
  * `Graph` reference; writes swap the snapshot (the engine's ApplyDeltas
  * semantics), reads/queries run against whatever snapshot they start
  * with.
  *
  * Requests run on a fixed pool of `defaultParallelism` daemon threads
  * (`local[N]` → N), as the reference serves each request on its own
  * goroutine. A read takes the `@volatile` snapshot once and runs beside
  * other reads and writes; it never waits for a lock. Writes, deletes and
  * node deletes do their read-modify-write of the snapshot under one
  * private writer lock, so two concurrent writes cannot lose one. A read
  * on an older snapshot whose cached base a later write's fold released
  * recomputes that base from its lineage.
  *
  * Reads are served from the driver-local index (graft.shape.LocalEval,
  * the reference memstore's role) with no Spark job: a graph handed in
  * without a cap (`interactiveMaxQuads == 0`) gets the session's,
  * `LocalGraphIndex.maxQuads`. A snapshot a write made indexes as its
  * base's index plus an overlay of its delta, so a read after a write
  * does not collect the store again. Stores above the cap, and shapes
  * the index does not evaluate, take the distributed path.
  *
  * Each request runs under its own Spark job tag. Past `deadline` (the
  * reference's 300 s query ceiling by default) a scheduled canceller
  * cancels the tag's jobs, again every `CancelRetry` while the request
  * still runs, so a query between two jobs is caught at its next one.
  * It also sets the request's [[graft.core.Deadline]] flag, which the
  * local index and the Gizmo interpreter's loops poll, since they run no
  * job to cancel. Either way the client gets 503 with `{"error": ...}`
  * and the pool thread is free; pool threads are never interrupted.
  *
  * Every write path (N-Quads, JSON quad-lines, Turtle/TriG, JSON-LD) goes
  * through `Graph.addQuads`: the snapshot is the store as opened (its
  * cached base) plus one small driver-side delta per table holding every
  * quad and node written since, so a query after a write plans and runs
  * like one on the idle store — OPS sibling, predicate stats and `pb`
  * pruning included. A write costs filtered probes of the base plus work
  * proportional to its body; once the delta outgrows
  * `spark.sql.autoBroadcastJoinThreshold` it folds into a newly cached
  * base. A delete of base quads joins the delta too: one anti-join of
  * each quad ordering against a small local relation. A node delete
  * collects that node's quads with one filtered scan and deletes them
  * the same way, with the node's dictionary row.
  *
  * Response shapes mirror the reference: `{"result": ...}` on success,
  * `{"error": msg}` with a 4xx/5xx status on failure; write/delete report
  * `"Successfully wrote/deleted N quads."` with a count.
  */
final class HttpApi(initial: Graph, deadline: FiniteDuration = HttpApi.QueryDeadline) {
  import HttpApi._
  private val spark = initial.spark
  @volatile private var g: Graph =
    if (initial.interactiveMaxQuads == 0) initial.interactive() else initial
  private val writer = new Object
  private var server: HttpServer = _
  private var pool: ExecutorService = _
  private var canceller: ScheduledThreadPoolExecutor = _
  private val threads = new ConcurrentLinkedQueue[Thread]()
  private val running = ConcurrentHashMap.newKeySet[String]()
  private val reqCounter = new java.util.concurrent.atomic.AtomicLong(0)

  def graph: Graph = g

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    val prefix = s"graft-http-${server.getAddress.getPort}"
    def daemon(name: String, r: Runnable): Thread = {
      val t = new Thread(r, name)
      t.setDaemon(true)
      threads.add(t)
      t
    }
    val n = new AtomicInteger(0)
    pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
      r => daemon(s"$prefix-${n.incrementAndGet()}", r))
    canceller = new ScheduledThreadPoolExecutor(1, r => daemon(s"$prefix-deadline", r))
    // a finished request's deadline task leaves the queue at once, instead
    // of staying queued (and reachable) for the whole deadline
    canceller.setRemoveOnCancelPolicy(true)
    server.createContext("/api/v2/query", handler(serveQuery))
    server.createContext("/api/v2/write", handler(serveWrite))
    server.createContext("/api/v2/delete", handler(serveDelete))
    server.createContext("/api/v2/node/delete", handler(serveNodeDelete))
    server.createContext("/api/v2/read", streamHandler(serveRead))
    server.createContext("/api/v2/formats", handler(serveFormats))
    server.createContext("/gephi/gs", handler(serveGephi))
    // query sandbox (reference serves its SPA at "/"; ours is one
    // self-contained page — see WebUi). "/" is the catch-all context, so
    // anything unmatched 404s there instead of silently serving HTML.
    server.createContext("/ui", handler(_ => (200, "text/html", WebUi.html)))
    server.createContext("/", handler { ex =>
      if (ex.getRequestURI.getPath == "/") (200, "text/html", WebUi.html)
      else (404, "application/json",
        QuerySession.toJson(Map("error" -> "not found")))
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Close the listener and its connections, then give running handlers
    * `StopWait` to finish; past it their jobs are cancelled, every
    * `CancelRetry`, for up to another `StopWait`. Returns once every pool
    * thread has exited or that time has passed.
    */
  def stop(): Unit = if (server != null) {
    server.stop(0)
    pool.shutdown()
    val until = System.nanoTime() + 2 * StopWait.toNanos
    if (!pool.awaitTermination(StopWait.toMillis, MILLISECONDS))
      while (!pool.awaitTermination(CancelRetry.toMillis, MILLISECONDS) &&
          System.nanoTime() < until)
        running.forEach(tag => spark.sparkContext.cancelJobsWithTag(tag, "server stopped"))
    canceller.shutdownNow()
    threads.forEach(_.join(math.max(1L, (until - System.nanoTime()) / 1000000L)))
    threads.clear()
    server = null
  }

  // ------------------------------------------------------------ plumbing
  /** Swap the snapshot for `f` of it under the writer lock. */
  private def update(f: Graph => Graph): Unit = writer.synchronized { g = f(g) }

  /** Run `f` under this request's job tag, with the deadline armed;
    * `f` gets the flag the canceller sets once the deadline has passed,
    * and the exchange is closed after it whatever happens.
    */
  private def tagged(ex: HttpExchange)(f: AtomicBoolean => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"${Thread.currentThread().getName}-r${reqCounter.incrementAndGet()}"
    val expired = new AtomicBoolean(false)
    val cancel = canceller.scheduleAtFixedRate({ () =>
      expired.set(true)
      sc.cancelJobsWithTag(tag, s"query exceeded its deadline of $deadline")
    }, deadline.toMillis, CancelRetry.toMillis, MILLISECONDS)
    running.add(tag)
    sc.addJobTag(tag)
    try Deadline.within(expired)(f(expired))
    finally {
      sc.removeJobTag(tag)
      cancel.cancel(false)
      running.remove(tag)
      ex.close()
    }
  }

  /** 503 once the deadline has passed, else 400 naming the exception. */
  private def failure(e: Throwable, expired: Boolean): (Int, String, String) =
    if (expired) (503, "application/json", QuerySession.toJson(Map("error" ->
      s"query exceeded its deadline of $deadline")))
    else (400, "application/json", QuerySession.toJson(Map("error" ->
      (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)))))

  private def respond(ex: HttpExchange, r: (Int, String, String)): Unit = {
    val (status, contentType, body) = r
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def handler(f: HttpExchange => (Int, String, String))
      : com.sun.net.httpserver.HttpHandler = ex => tagged(ex) { expired =>
    respond(ex, try f(ex) catch { case NonFatal(e) => failure(e, expired.get) })
  }

  /** Like `handler`, but the route may answer with a chunked body: it
    * returns either a buffered error triple or (contentType, writeFn);
    * writeFn streams into the response writer while Spark's
    * toLocalIterator pulls partitions, so an export of the whole store
    * never materializes in driver memory (reference api_v2.go streams
    * quad-by-quad the same way). A length of 0 in sendResponseHeaders
    * selects chunked transfer encoding.
    */
  private def streamHandler(
      f: HttpExchange => Either[(Int, String, String), (String, java.io.Writer => Unit)])
      : com.sun.net.httpserver.HttpHandler = ex => tagged(ex) { expired =>
    (try f(ex) catch { case NonFatal(e) => Left(failure(e, expired.get)) }) match {
      case Left(r) => respond(ex, r)
      case Right((contentType, writeFn)) =>
        ex.getResponseHeaders.set("Content-Type", contentType)
        ex.sendResponseHeaders(200, 0L) // 0 = chunked
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8), 1 << 16)
        // past this point the status line is gone — a mid-stream failure
        // (the deadline included) can only truncate the body (inherent to
        // chunked transfer)
        try writeFn(w) finally {
          try w.flush() catch { case NonFatal(_) => () }
        }
    }
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def params(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split('&').filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k ->
          java.net.URLDecoder.decode(v, UTF_8))
        case Array(k) => Some(k -> "")
        case _        => None
      }
    }.toMap
  }

  private def ok(result: Any): (Int, String, String) =
    (200, "application/json", QuerySession.toJson(Map("result" -> result)))

  // ------------------------------------------------------------ handlers
  /** POST/GET /api/v2/query?lang=gizmo[&limit=N] — body is the query. */
  private def serveQuery(ex: HttpExchange): (Int, String, String) = {
    val ps = params(ex)
    val lang = ps.getOrElse("lang", "gizmo")
    val query =
      if (ex.getRequestMethod == "GET") ps.getOrElse("qu", "")
      else body(ex)
    val limit = ps.get("limit").map(_.toInt).getOrElse(-1)
    val res = QuerySession.execute(g, lang, query,
      Options(limit = limit, collation = Collation.JSON))
    ok(res)
  }

  /** POST /api/v2/write — quads appended to the store. N-Quads by
    * default; `Content-Type: application/json` (or a JSON body) parses
    * the JSON quad-lines format; `application/ld+json` parses a JSON-LD
    * document.
    */
  private def serveWrite(ex: HttpExchange): (Int, String, String) = {
    val b = body(ex)
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val quads: Seq[NQuads.ParsedQuad] =
      if (ct.contains("ld+json"))
        return { // JSON-LD: parse document, merge as a graph
          val root = org.json4s.jackson.JsonMethods.parse(b).values
            .asInstanceOf[Map[String, Any]]
          val delta = Formats.readJsonLdRoot(spark, root)
          val n = delta.quads.count()
          update(_.addQuads(delta))
          (200, "application/json",
            s"""{"result": "Successfully wrote $n quads.", "count": $n}""")
        }
      else if (ct.contains("text/turtle") || ct.contains("application/trig"))
        // per-request bnode salt: _:b0 in two POST bodies are distinct
        // documents per RDF scoping, matching Turtle.read's per-file salt
        graft.core.Turtle.parse(b, bnodeSalt = java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(b).toLong & 0xFFFFFFFFL) +
          "r" + reqCounter.incrementAndGet())
      else if (ct.contains("application/json") || b.trim.headOption.contains('{'))
        b.linesIterator.map(_.trim).filter(_.nonEmpty).flatMap { line =>
          val m = org.json4s.jackson.JsonMethods.parse(line).values
            .asInstanceOf[Map[String, Any]]
          def term(k: String) = m.get(k)
            .map(v => NQuads.parseTermOrString(String.valueOf(v)))
          for (s <- term("subject"); p <- term("predicate"); o <- term("object"))
            yield NQuads.ParsedQuad(s, p, o, term("label"))
        }.toSeq
      else b.linesIterator.flatMap(NQuads.parseLine).toSeq
    update(_.addQuads(Graph.fromQuads(spark, quads)))
    (200, "application/json",
      s"""{"result": "Successfully wrote ${quads.size} quads.", "count": ${quads.size}}""")
  }

  /** POST /api/v2/delete — N-Quads body removed from the store. */
  private def serveDelete(ex: HttpExchange): (Int, String, String) = {
    val quads = body(ex).linesIterator.flatMap(NQuads.parseLine).toSeq
    update(_.deleteQuads(Graph.fromQuads(spark, quads)))
    (200, "application/json",
      s"""{"result": "Successfully deleted ${quads.size} quads.", "count": ${quads.size}}""")
  }

  /** POST /api/v2/node/delete — one N-Quads term; removes the node and
    * every quad touching it (writer/single.go RemoveNode).
    */
  private def serveNodeDelete(ex: HttpExchange): (Int, String, String) = {
    val v = NQuads.parseTermOrString(body(ex).trim)
    update(Inference.removeNode(_, v))
    (200, "application/json",
      """{"result": "Successfully deleted 1 nodes.", "count": 1}""")
  }

  /** GET/POST /api/v2/read[?sub=&pred=&obj=&label=][&format=nquads|json|
    * jsonld|graphml|gml] — serialized stream of the (optionally filtered)
    * store. Serialization is distributed; the driver streams lines out as
    * a chunked response, never holding the whole export in memory.
    */
  private def serveRead(ex: HttpExchange)
      : Either[(Int, String, String), (String, java.io.Writer => Unit)] = {
    import graft.core.QValue
    import org.apache.spark.sql.functions.col
    val ps = params(ex)
    var sub = g
    def term(s: String): QValue = NQuads.parseTermOrString(s)
    def filter(param: String, c: String): Unit = ps.get(param).filter(_.nonEmpty)
      .foreach { s =>
        sub = sub.copy(quads =
          sub.quads.where(col(c) === QValue.id(term(s))))
      }
    filter("sub", "s"); filter("pred", "p"); filter("obj", "o")
    filter("label", "l")
    val format = ps.getOrElse("format", "nquads")
    val fmt = Formats.byName(format).filter(_.write).getOrElse(
      return Left((400, "application/json",
        s"""{"error": "format is not supported for reading data: $format"}""")))
    def lineStream(df: org.apache.spark.sql.DataFrame)(w: java.io.Writer): Unit =
      df.toLocalIterator().forEachRemaining { r =>
        w.write(r.getString(0)); w.write('\n')
      }
    format match {
      case "nquads"   => Right((fmt.mime.head, lineStream(Formats.nquadLines(sub))))
      case "ntriples" => Right((fmt.mime.head, lineStream(Formats.ntripleLines(sub))))
      case "turtle"   => Right((fmt.mime.head, lineStream(Formats.ntripleLines(sub))))
      case "trig"     => Right((fmt.mime.head, lineStream(Formats.trigLines(sub))))
      case "json"   => Right((fmt.mime.head, lineStream(Formats.jsonQuadLines(sub))))
      case "jsonld" => Right((fmt.mime.head, w => Formats.writeJsonLd(sub, w)))
      case "graphml" => Right((fmt.mime.head, w => Formats.writeGraphml(sub, w)))
      case "gml"     => Right((fmt.mime.head, w => Formats.writeGml(sub, w)))
      case "dot"     => Right((fmt.mime.head, w => Formats.writeDot(sub, w)))
      case other =>
        Left((400, "application/json",
          s"""{"error": "format is not servable over HTTP: $other"}"""))
    }
  }

  /** GET /gephi/gs[?limit=N] — Gephi GraphStream events
    * (/root/reference/internal/gephi/stream.go): one JSON event per line,
    * `an` (add node) for every value then `ae` (add edge) per quad.
    * Node positions are hash-derived (deterministic), like the reference's
    * random layout seeds.
    */
  private def serveGephi(ex: HttpExchange): (Int, String, String) = {
    import org.apache.spark.sql.functions.col
    val limit = params(ex).get("limit").map(_.toInt).getOrElse(10000)
    val snap = g
    val sb = new StringBuilder
    def esc(s: String) = QuerySession.toJson(s)
    graft.core.Formats.nodeTerms(snap).limit(limit).toLocalIterator()
      .forEachRemaining { r =>
        val id = r.getLong(0)
        val x = (id % 1000L) / 5.0 - 100.0
        val y = ((id >> 10) % 1000L) / 5.0 - 100.0
        sb.append(s"""{"an":{"n$id":{"label":${esc(r.getString(1))},"size":20,"x":$x,"y":$y}}}""")
          .append("\r\n")
      }
    var i = 0
    snap.quads.select(col("s"), col("p"), col("o")).limit(limit)
      .toLocalIterator().forEachRemaining { r =>
        sb.append(s"""{"ae":{"e$i":{"source":"n${r.getLong(0)}","target":"n${r.getLong(2)}","pred":"p${r.getLong(1)}","directed":true}}}""")
          .append("\r\n")
        i += 1
      }
    (200, "application/stream+json", sb.toString)
  }

  /** GET /api/v2/formats — the format registry. */
  private def serveFormats(ex: HttpExchange): (Int, String, String) =
    (200, "application/json", QuerySession.toJson(Formats.registry.map(f =>
      Map("id" -> f.id, "read" -> f.read, "write" -> f.write,
        "mime" -> f.mime))))
}

object HttpApi {
  /** The reference's query ceiling (BASELINE.md): a request still running
    * after it has its Spark jobs cancelled and answers 503.
    */
  val QueryDeadline: FiniteDuration = 300.seconds
  /** How often the canceller repeats for a request past its deadline. */
  private val CancelRetry = 100.millis
  /** How long `stop()` waits for running handlers, and then for threads. */
  private val StopWait = 10.seconds
}
