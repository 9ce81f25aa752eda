package perfbench

import graft.core.Graph
import java.io.File
import scala.collection.mutable

/** The inputs of one batch cycle, written under the run's input directory,
  * with the generator's answers.
  */
final class BatchData(ctx: Ctx, seed: Long, films: Int, families: Int, appends: Int,
                      name: String) {
  private val in = ctx.dir("input")
  val corpus = new MovieCorpus(seed, films)
  val nq = new File(in, s"$name.nq")
  corpus.write(nq)
  val deltas: Seq[Store.Delta] =
    (0 until appends).map(k => Store.writeDelta(corpus, in, name, k, seed))
  val dup = new DupCorpus(seed, families)
  val docs = new File(in, s"$name-docs.tsv")
  dup.write(docs)
  val truth = new Analytics.Truth(corpus)
  def finalQuads: Long = corpus.quadCount + deltas.map(_.fresh).sum
}

/** batch: one cycle loads the movie corpus from N-Quads text
  * (`Graph.fromNQuads` → dual-index bucketed `Graph.write`), reopens it
  * with `Graph.read` + stats and no cache, derives film→actor and co-star
  * edges from the stored quads, runs one analytics round on them and on
  * the text corpus, then makes `Appends` calls of `Graph.append`, each a
  * seeded delta of about 1 % of the corpus, and reopens the store again.
  * Cycles repeat into a fresh store directory until the run's time is up.
  *
  * A warm-up cycle on a 1/20-size corpus first compiles every plan the
  * timed cycles run (JIT and Spark code generation), so timed cycles
  * measure the engine's work and not the compiler's. At this size one
  * cycle outlasts the run's seconds, so a run measures one cycle.
  */
object Batch {
  /** ~37 k quads (~2 MB of text), 500 text families. */
  val Films = 1500
  val Families = 500
  val Buckets = 16
  val Appends = 3
  val SetupReps = 3

  final case class Cycle(ingestMs: Double, round: Analytics.Round, appendMs: Seq[Double],
                         bytes: Long, files: Long)

  def cycle(ctx: Ctx, d: BatchData, dir: File, traced: Boolean): Cycle = {
    val t = ctx.tracer
    val spark = ctx.spark
    Store.delete(dir)
    val path = dir.getAbsolutePath
    def reopen(what: String, quads: Long, nodes: Long): Unit = {
      val (n, q) = t.span("core.read")(Graph.read(spark, path).stats)
      ctx.check(q == quads && n == nodes,
        s"$what: store holds $q quads / $n nodes, expected $quads / $nodes")
    }
    // the traced cycle also times a parse-only pass; the ingest it
    // reports is the same fromNQuads + write as an untraced cycle
    if (traced)
      t.span("core.parse")(Graph.fromNQuads(spark, d.nq.getAbsolutePath).quads.count())
    val ingestMs = Stats.time(t.span("core.write")(Graph.fromNQuads(spark,
      d.nq.getAbsolutePath).write(path, Buckets, objectIndex = true)))._2
    reopen("after write", d.corpus.quadCount, Store.nodeCount(d.corpus))
    val in = t.span("analytics.inputs")(Analytics.inputs(ctx, path, d.docs))
    ctx.check(in.filmActor.count() == d.truth.edges && in.costar.count() == d.truth.costarEdges,
      "edge tables derived from the store disagree with the generator")
    val round = try Analytics.round(ctx, in, d.truth, d.dup, traced) finally in.release()
    val appendMs = d.deltas.map { x =>
      Stats.time(t.span("core.append")(
        Graph.append(spark, path, Graph.fromNQuads(spark, x.file.getAbsolutePath))))._2
    }
    reopen(s"after ${d.deltas.size} appends", d.finalQuads,
      Store.nodeCount(d.corpus) + d.deltas.map(_.freshNodes).sum)
    val (bytes, files) = Store.du(dir)
    Cycle(ingestMs, round, appendMs, bytes, files)
  }

  def run(ctx: Ctx): Unit = {
    val d = new BatchData(ctx, ctx.seed, Films, Families, Appends, "main")
    ctx.named("corpus_quads", d.corpus.quadCount.toDouble, "quads")
    ctx.named("corpus_bytes", d.nq.length().toDouble, "B")
    ctx.named("film_actor_edges", d.truth.edges.toDouble, "edges")
    ctx.named("costar_edges", d.truth.costarEdges.toDouble, "edges")
    ctx.named("docs", d.dup.texts.length.toDouble, "docs")
    ctx.log(s"inputs sha256: movies ${Digest.sha256(d.nq)}, docs ${Digest.sha256(d.docs)}")
    val warm = new BatchData(ctx, ctx.seed + 1, Films / 20, Families / 20, 1, "warm")
    ctx.named("warmup_s",
      Stats.time(cycle(ctx, warm, new File(ctx.work, "store"), traced = false))._2 / 1e3, "s")
    ctx.log("warm-up cycle done")

    val until = ctx.deadline()
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val store = new File(ctx.work, "store")
    while (System.nanoTime() < until || cycles.isEmpty) {
      cycles += cycle(ctx, d, store, traced = false)
      val c = cycles.last
      ctx.log(f"cycle: ingest ${c.ingestMs / 1e3}%.2f s, analytics ${c.round.totalMs / 1e3}%.2f s, " +
        "appends " + c.appendMs.map(a => f"${a / 1e3}%.2f s").mkString(", "))
    }
    // set-up: reopen the stored graph and derive the analytics inputs, the
    // step a batch job pays before its first operator; `setup_s` is the
    // median of `SetupReps` opens
    val setups = (1 to SetupReps).map { _ =>
      Stats.time {
        val q = Graph.read(ctx.spark, store.getAbsolutePath).stats._2
        ctx.check(q == d.finalQuads, s"store holds $q quads, expected ${d.finalQuads}")
        Analytics.inputs(ctx, store.getAbsolutePath, d.docs).release()
      }._2
    }
    ctx.e2e("setup_s", Stats.median(setups) / 1e3, "s")
    ctx.log("set-up " + setups.map(t => f"${t / 1e3}%.2f s").mkString(", "))
    val ingest = Stats.median(cycles.map(x => d.corpus.quadCount / (x.ingestMs / 1e3)).toSeq)
    val append = Stats.median(cycles.flatMap(_.appendMs).toSeq)
    val round = Stats.median(cycles.map(_.round.totalMs).toSeq)
    ctx.e2e("primary_ms", append, "ms")
    ctx.e2e("secondary_ms", round, "ms")
    ctx.e2e("throughput_per_s", ingest, "1/s")
    ctx.named("ingest_quads_per_s", ingest, "quads/s")
    ctx.named("append_p50_ms", append, "ms")
    ctx.named("append_quads_per_s",
      d.deltas.map(_.quads).sum.toDouble / d.deltas.size / (append / 1e3), "quads/s")
    ctx.named("store_bytes_per_quad", cycles.last.bytes.toDouble / d.finalQuads, "B/quad")
    def medS(f: Analytics.Round => Double) = Stats.median(cycles.map(c => f(c.round)).toSeq) / 1e3
    ctx.named("pagerank_s", medS(_.pagerankMs), "s")
    ctx.named("wcc_s", medS(_.wccMs), "s")
    ctx.named("triangles_s", medS(_.trianglesMs), "s")
    ctx.named("dedup_s", medS(_.dedupMs), "s")
    ctx.named("cycles", cycles.size, "count")

    if (ctx.trace) {
      // the measured cycle ran cold; the overhead base is a warm untraced
      // cycle, the same state the traced cycle runs in
      val w = cycle(ctx, d, store, traced = false)
      val x = Layers.phase(ctx)(ctx.tracer.span("cycle")(cycle(ctx, d, store, traced = true)))
      val t = ctx.tracer
      def med(n: String) = Stats.median(t.byName(n).map(_.ms))
      def ms(n: String) = t.byName(n).map(_.ms).sum
      ctx.layer("core.parse_ms", med("core.parse"), "ms")
      ctx.layer("core.write_ms", med("core.write"), "ms")
      ctx.layer("core.append_ms", med("core.append"), "ms")
      ctx.layer("core.read_ms", med("core.read"), "ms")
      ctx.layer("core.append_scan_bytes",
        t.byName("core.append").map(_.counters.inputBytes.toDouble).sum / Appends, "B")
      ctx.layer("core.bytes_written_per_input_byte",
        x.bytes.toDouble / (d.nq.length() + d.deltas.map(_.file.length()).sum), "ratio")
      ctx.layer("core.files_written", x.files.toDouble, "count")
      ctx.layer("analytics.pagerank_ms", ms("analytics.pagerank"), "ms")
      ctx.layer("analytics.pagerank.iter_ms",
        (ms("analytics.pagerank") - ms("analytics.pagerank_short")) / (Analytics.Iterations - 2),
        "ms")
      ctx.layer("analytics.wcc_ms", ms("analytics.wcc"), "ms")
      ctx.layer("analytics.triangles_ms", ms("analytics.triangles"), "ms")
      ctx.layer("analytics.dedup_ms", ms("analytics.dedup"), "ms")
      val work = t.spans.filter(s => s.parent != 0L && s.name != "analytics.pagerank_short")
      Layers.spark(ctx, work, work.size, d.finalQuads.toDouble)
      Layers.catalyst(ctx, work)
      Layers.overhead(ctx, "primary_ms", Stats.median(x.appendMs), Stats.median(w.appendMs))
      Layers.overhead(ctx, "secondary_ms", x.round.totalMs, w.round.totalMs)
      Layers.overhead(ctx, "throughput_per_s",
        d.corpus.quadCount / (x.ingestMs / 1e3), d.corpus.quadCount / (w.ingestMs / 1e3))
    }
  }
}
