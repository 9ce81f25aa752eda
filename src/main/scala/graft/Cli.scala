package graft

import graft.core.{Formats, Graph, Pquads, Turtle}
import org.apache.spark.sql.SparkSession

/** The reference's CLI verbs over the existing machinery
  * (/root/reference/cmd/cayley/command/database.go:88,143 for load/dump,
  * http.go for the server, repl.go for the shell):
  *
  *   runMain graft.Cli load -i <file> [-f <format>] -d <storeDir>
  *   runMain graft.Cli dump -d <storeDir> -o <file> [-f <format>]
  *   runMain graft.Cli convert -i <in> [-f <inFormat>] -o <out> [-t <outFormat>]
  *   runMain graft.Cli http -d <storeDir> [--port <n>]
  *   runMain graft.Cli repl -d <storeDir> [--lang <gizmo|mql|sexp|graphql|linkedql>]
  *   runMain graft.Cli version
  *
  * `-d` is the Parquet store directory (the one backend, SURVEY §7.3);
  * load materializes the input into it (predicate-bucketed, stats
  * persisted), dump serializes it to any writable registry format, and
  * convert transcodes a file without a store (convert.go).
  * Formats infer from the file extension when `-f` (or `-t`) is absent
  * (`.nq[.gz]`=nquads, `.json`=json, `.jsonld`=jsonld, `.pq[.gz]`=pq,
  * `.graphml`=graphml, `.gml`=gml).
  */
object Cli {
  /** The local session every entry point runs on: `cpus` cores and
    * shuffle partitions, UTC, no UI, WARN logging, and collects capped at
    * a quarter of the driver heap (`spark.driver.maxResultSize`, which
    * also caps the store the driver-local index takes).
    */
  private[graft] def spark(cpus: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize",
        s"${(Runtime.getRuntime.maxMemory / 4) >> 20}m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def flag(args: Array[String], name: String): Option[String] =
    args.indexOf(name) match {
      case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
      case _ => None
    }

  /** Infer a registry format id from a path. */
  private[graft] def formatOf(path: String): String = {
    val p = if (path.endsWith(".gz")) path.dropRight(3) else path
    p.substring(p.lastIndexOf('.') + 1) match {
      case "nq"         => "nquads"
      case "nt"         => "ntriples"
      case "ttl"        => "turtle"
      case "trig"       => "trig"
      case "dot" | "gv" => "dot"
      case "json"       => "json"
      case "jsonld"     => "jsonld"
      case "pq"         => "pq"
      case "graphml"    => "graphml"
      case "gml"        => "gml"
      case "parquet"    => "parquet"
      case other        => other
    }
  }

  private def readAs(s: SparkSession, in: String, fmt: String): Graph =
    fmt match {
      case "nquads" | "ntriples" => Graph.fromNQuads(s, in)
      case "turtle" | "trig"     => Turtle.read(s, in)
      case "json"    => Formats.readJsonLines(s, in)
      case "jsonld"  => Formats.readJsonLd(s, in)
      case "graphml" => Formats.readGraphml(s, in)
      case "gml"     => Formats.readGml(s, in)
      case "pq"      => Pquads.readFile(s, in)
      case "parquet" => Graph.read(s, in)
      case other     => sys.error(s"unreadable format: $other")
    }

  private def writeAs(g: Graph, out: String, fmt: String): Unit = fmt match {
    case "nquads"   => Formats.writeNQuads(g, out)
    case "ntriples" => Formats.writeNTriples(g, out)
    case "turtle"   => Turtle.writeTurtle(g, out)
    case "trig"     => Turtle.writeTrig(g, out)
    case "json"     => Formats.writeJsonLines(g, out)
    case "pq"       => Pquads.writeFile(g, out)
    case "parquet"  => g.write(out)
    case "jsonld" | "graphml" | "gml" | "dot" =>
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(out))
      try fmt match {
        case "jsonld"  => Formats.writeJsonLd(g, w)
        case "graphml" => Formats.writeGraphml(g, w)
        case "gml"     => Formats.writeGml(g, w)
        case "dot"     => Formats.writeDot(g, w)
      } finally w.close()
    case other => sys.error(s"unwritable format: $other")
  }

  /** `load` verb body (session-injected so specs can drive it). */
  private[graft] def runLoad(s: SparkSession, rest: Array[String]): String = {
    val in = flag(rest, "-i").getOrElse(sys.error("load: -i <file> required"))
    val store = flag(rest, "-d").getOrElse(sys.error("load: -d <storeDir> required"))
    val fmt = flag(rest, "-f").getOrElse(formatOf(in))
    val g = readAs(s, in, fmt)
    g.write(store, predicateBuckets = 8)
    val (n, q) = Graph.read(s, store).stats
    s"loaded $in ($fmt) into $store: $n nodes, $q quads"
  }

  /** `dump` verb body (session-injected so specs can drive it). */
  private[graft] def runDump(s: SparkSession, rest: Array[String]): String = {
    val store = flag(rest, "-d").getOrElse(sys.error("dump: -d <storeDir> required"))
    val out = flag(rest, "-o").getOrElse(sys.error("dump: -o <file> required"))
    val fmt = flag(rest, "-f").getOrElse(formatOf(out))
    val g = Graph.read(s, store)
    writeAs(g, out, fmt)
    val (n, q) = g.stats
    s"dumped $store to $out ($fmt): $n nodes, $q quads"
  }

  /** `convert` verb body (session-injected so specs can drive it). */
  private[graft] def runConvert(s: SparkSession, rest: Array[String]): String = {
    val in = flag(rest, "-i").getOrElse(sys.error("convert: -i <file> required"))
    val out = flag(rest, "-o").getOrElse(sys.error("convert: -o <file> required"))
    val inFmt = flag(rest, "-f").getOrElse(formatOf(in))
    val outFmt = flag(rest, "-t").getOrElse(formatOf(out))
    val g = readAs(s, in, inFmt)
    writeAs(g, out, outFmt)
    val (n, q) = g.stats
    s"converted $in ($inFmt) to $out ($outFmt): $n nodes, $q quads"
  }

  /** REPL loop (streams injected so specs can drive it): one query per
    * line through QuerySession's REPL collation; `:lang <name>` switches
    * language, `:exit`/EOF quits.
    */
  private[graft] def runRepl(g: Graph, lang0: String,
                             in: java.io.BufferedReader,
                             out: java.io.PrintStream): Unit = {
    var lang = lang0
    out.println(s"graft repl ($lang); :lang <name> switches, :exit quits")
    var done = false
    while (!done) {
      out.print(s"$lang> "); out.flush()
      val line = in.readLine()
      if (line == null || line.trim == ":exit") done = true
      else if (line.trim.isEmpty) ()
      else if (line.trim.startsWith(":lang")) {
        lang = line.trim.split("\\s+").lift(1).getOrElse("gizmo")
      } else {
        try {
          val res = graft.lang.QuerySession.execute(g, lang, line,
            graft.lang.QuerySession.Options(
              collation = graft.lang.QuerySession.Collation.REPL))
          res match {
            case rows: Seq[_] => rows.foreach(r => out.println(r))
            case other        => out.println(other)
          }
        } catch {
          case e: Exception => out.println(s"error: ${e.getMessage}")
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Cli <load|dump|convert|http|repl|version> [options]")
    val verb = args.head
    val rest = args.tail
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    verb match {
      case "version" =>
        println("graft 0.4 (spark " + org.apache.spark.SPARK_VERSION + ")")

      case "load" =>
        val s = spark(cpus)
        println(runLoad(s, rest))
        s.stop()

      case "dump" =>
        val s = spark(cpus)
        println(runDump(s, rest))
        s.stop()

      case "convert" =>
        val s = spark(cpus)
        println(runConvert(s, rest))
        s.stop()

      case "http" =>
        val store = flag(rest, "-d").getOrElse(sys.error("http: -d <storeDir> required"))
        val port = flag(rest, "--port").map(_.toInt).getOrElse(64210)
        val s = spark(cpus)
        val api = new graft.server.HttpApi(Graph.read(s, store).cached())
        val bound = api.start(port)
        println(s"listening on :$bound (/api/v2/query, /api/v2/read, ...)")
        // serve until killed
        Thread.currentThread().join()

      case "repl" =>
        val store = flag(rest, "-d").getOrElse(sys.error("repl: -d <storeDir> required"))
        val lang = flag(rest, "--lang").getOrElse("gizmo")
        val s = spark(cpus)
        val g = Graph.read(s, store).cached().interactive()
        g.stats // materialize before the first prompt
        runRepl(g, lang,
          new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
          Console.out)
        s.stop()

      case other =>
        sys.error(s"unknown verb: $other (load|dump|convert|http|repl|version)")
    }
  }
}
