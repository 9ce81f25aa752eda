package perfbench

import graft.analytics.{Dedup, GraphAlgos}
import graft.core.{Graph, QValue}
import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The analytics side of the batch workload: `GraphAlgos.pageRank`
  * (10 iterations) and `connectedComponents` on film→actor edges,
  * `triangleCount` on co-star edges, and `Dedup.clusters` on a
  * near-duplicate text corpus, each checked against the generator.
  */
object Analytics {
  val Iterations = 10
  val Damping = 0.85

  /** The generator's answers for one movie corpus. */
  final class Truth(c: MovieCorpus) {
    /** Edge nodes: films 0..F-1, then actors F+a for actors with a film. */
    val nodes: Int = c.films + c.filmsOf.count(_.nonEmpty)
    val edges: Long = c.cast.map(_.length.toLong).sum
    /** Total rank after `Iterations` rounds of the documented recurrence
      * (dangling mass is not redistributed); films have no in-edges and
      * actors no out-edges, so only film rank flows.
      */
    val rankMass: Double = {
      var film = 1.0 / nodes
      var mass = 1.0
      for (_ <- 1 to Iterations) {
        mass = (1 - Damping) + Damping * film * c.films
        film = (1 - Damping) / nodes
      }
      mass
    }
    val components: Long = {
      val parent = Array.tabulate(c.films + c.actors)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      for (f <- c.cast.indices; a <- c.cast(f)) parent(find(f)) = find(c.films + a)
      (0 until c.films + c.actors).filter(x => x < c.films || c.filmsOf(x - c.films).nonEmpty)
        .map(find).distinct.size.toLong
    }
    val costar: Array[Array[Int]] = {
      val adj = Array.fill(c.actors)(mutable.Set.empty[Int])
      for (cast <- c.cast; a <- cast; b <- cast if a != b) adj(a) += b
      adj.map(_.toArray.sorted)
    }
    val costarEdges: Long = costar.map(_.length.toLong).sum / 2
    val triangles: Long = {
      var n = 0L
      for (u <- costar.indices; v <- costar(u) if v > u) {
        val nu = costar(u); val nv = costar(v)
        var i = 0; var j = 0
        while (i < nu.length && j < nv.length) {
          if (nu(i) < nv(j)) i += 1
          else if (nu(i) > nv(j)) j += 1
          else { if (nu(i) > v) n += 1; i += 1; j += 1 }
        }
      }
      n
    }
  }

  final class Inputs(val filmActor: DataFrame, val costar: DataFrame, val docs: DataFrame) {
    def release(): Unit = Seq(filmActor, costar, docs).foreach(_.unpersist(true))
  }

  /** film→actor edges and co-star edges from the stored graph's quads,
    * and the text corpus, each cached and counted.
    */
  def inputs(ctx: Ctx, store: String, docsFile: File): Inputs = {
    val q = Graph.read(ctx.spark, store).quads
    def pred(p: String) =
      q.where(col("p") === lit(QValue.id(QValue.Iri(p.stripPrefix("<").stripSuffix(">")))))
    val fa = pred(Movie.Starring).select(col("s").as("film"), col("o").as("perf"))
      .join(pred(Movie.Actor).select(col("s").as("perf"), col("o").as("actor")), "perf")
      .select(col("film").as("src"), col("actor").as("dst")).cache()
    val a = fa.select(col("src").as("film"), col("dst").as("x"))
    val b = fa.select(col("src").as("film"), col("dst").as("y"))
    val co = a.join(b, "film").where(col("x") < col("y"))
      .select(col("x").as("src"), col("y").as("dst")).distinct().cache()
    val docs = ctx.spark.read.option("sep", "\t").schema("id LONG, text STRING")
      .csv(docsFile.getAbsolutePath).cache()
    fa.count(); co.count(); docs.count()
    new Inputs(fa, co, docs)
  }

  final case class Round(pagerankMs: Double, wccMs: Double, trianglesMs: Double,
                         dedupMs: Double) {
    def totalMs: Double = pagerankMs + wccMs + trianglesMs + dedupMs
  }

  def round(ctx: Ctx, in: Inputs, truth: Truth, dup: DupCorpus, traced: Boolean): Round = {
    val t = ctx.tracer
    if (traced) t.span("analytics.pagerank_short")(
      GraphAlgos.pageRank(in.filmActor, "src", "dst", 2, Damping).collect())
    val (pr, prMs) = Stats.time(t.span("analytics.pagerank")(
      GraphAlgos.pageRank(in.filmActor, "src", "dst", Iterations, Damping)
        .agg(count(lit(1)), sum(col("rank"))).collect().head))
    ctx.check(pr.getLong(0) == truth.nodes && math.abs(pr.getDouble(1) - truth.rankMass) < 1e-6,
      s"pagerank: ${pr.getLong(0)} nodes, mass ${pr.getDouble(1)}; " +
        s"expected ${truth.nodes}, ${truth.rankMass}")
    val (cc, ccMs) = Stats.time(t.span("analytics.wcc")(
      GraphAlgos.connectedComponents(in.filmActor, "src", "dst")
        .agg(countDistinct(col("component")), count(lit(1))).collect().head))
    ctx.check(cc.getLong(0) == truth.components && cc.getLong(1) == truth.nodes,
      s"wcc: ${cc.getLong(0)} components over ${cc.getLong(1)} nodes; " +
        s"expected ${truth.components} over ${truth.nodes}")
    val (tri, triMs) = Stats.time(t.span("analytics.triangles")(
      GraphAlgos.triangleCount(in.costar, "src", "dst").collect().head))
    ctx.check(tri.getLong(0) == truth.costarEdges && tri.getLong(1) == truth.triangles,
      s"triangles: ${tri.getLong(1)} over ${tri.getLong(0)} edges; " +
        s"expected ${truth.triangles} over ${truth.costarEdges}")
    val (cl, dedupMs) = Stats.time(t.span("analytics.dedup")(
      Dedup.clusters(in.docs, "id", "text").collect()))
    val byCluster = cl.groupBy(_.getLong(1)).values.map(_.map(r => dup.family(r.getLong(0).toInt)).toSet)
    val families = dup.family.distinct.length
    ctx.check(cl.length == dup.texts.length && byCluster.forall(_.size == 1) &&
      byCluster.size == families,
      s"dedup: ${byCluster.size} clusters over ${cl.length} docs; " +
        s"expected $families families over ${dup.texts.length}")
    Round(prMs, ccMs, triMs, dedupMs)
  }

}
