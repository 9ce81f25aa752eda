package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Temporary harness: time the forced-distributed Louvain tier and
  * report round/level counts (set GRAFT_LOUVAIN_DEBUG=1). Not part of
  * the suite. Modes:
  *   runMain graft.analytics.LouvainDebug [c] [sz]    planted instance
  *   runMain graft.analytics.LouvainDebug movie <sfDir>   real graph
  */
object LouvainDebug {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[16]")
      .appName("louvain-debug")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("bench")) {
      // replicate the Bench xN movie synthesis: IRI-remapped copies
      // with SHARED literals (hub nodes joining the copies)
      val mult = if (args.length > 1) args(1).toInt else 10
      import graft.core.{Graph, NQuads, QValue}
      import graft.core.NQuads.ParsedQuad
      import spark.implicits._
      def remap(v: QValue, k: Int): QValue = v match {
        case QValue.Iri(s)   => QValue.Iri(s + "/x" + k)
        case QValue.BNode(s) => QValue.BNode(s + "x" + k)
        case other           => other
      }
      val dir = s"/tmp/louvain_movie_x$mult"
      spark.read
        .textFile(graft.TestFixtures.reference("data/30kmoviedata.nq.gz"))
        .repartition(16)
        .flatMap { l =>
          NQuads.parseLine(l).toSeq.flatMap { q =>
            (0 until mult).map { k =>
              if (k == 0) NQuads.serialize(q)
              else NQuads.serialize(
                ParsedQuad(remap(q.s, k), q.p, remap(q.o, k), q.l))
            }
          }
        }.write.mode("overwrite").text(dir)
      val g = Graph.fromNQuads(spark, dir).cached()
      g.stats
      val eAll = g.quads.select(col("s").as("src"), col("o").as("dst"))
      val t0 = System.nanoTime()
      val n = GraphAlgos.louvain(eAll, "src", "dst",
        maxRounds = 10, maxLevels = 5, maxDriverEdges = 0L).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"bench-movie louvain x$mult: $n nodes, $secs%.1f s")
    } else if (args.headOption.contains("movie")) {
      val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      val copies = if (args.length > 2) args(2).toInt else 1
      import graft.core.QValue
      import org.apache.spark.sql.functions.{lit, xxhash64}
      val preds = Seq("c_nation", "n_region", "n_prev", "s_nation",
        "o_cust").map(p => QValue.id(QValue.Iri(p)))
      val e1 = graft.SparkEntry.graph(spark, sfDir).quads
        .where(col("p").isin(preds: _*))
        .select(col("s").as("src"), col("o").as("dst"))
      val edges = (0 until copies).map(i =>
        e1.select(xxhash64(col("src"), lit(i)).as("src"),
          xxhash64(col("dst"), lit(i)).as("dst")))
        .reduce(_ unionByName _)
      val t0 = System.nanoTime()
      val n = GraphAlgos.louvain(edges, "src", "dst",
        maxRounds = 10, maxLevels = 5, maxDriverEdges = 0L).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"movie louvain x$copies: $n nodes, $secs%.1f s")
    } else {
      val c = if (args.length > 0) args(0).toInt else 10
      val sz = if (args.length > 1) args(1).toInt else 20
      val t0 = System.nanoTime()
      val got = GraphAlgos.louvainPlanted(spark, c = c, sz = sz,
        forceDistributed = true).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val secs = (System.nanoTime() - t0) / 1e9
      val expect = (0L until (c.toLong * sz))
        .map(i => i -> (i / sz) * sz).toMap
      val wrong = expect.count { case (n, e) => got.get(n) != Some(e) }
      println(f"c=$c sz=$sz secs=$secs%.1f nodes=${got.size} wrong=$wrong")
      if (wrong > 0) {
        val byComm = got.groupBy(_._2).map { case (cc, xs) =>
          cc -> xs.keys.toSeq.sorted }
        byComm.toSeq.sortBy(_._1).foreach { case (cc, ns) =>
          println(s"  comm $cc: ${ns.take(30).mkString(",")}") }
      }
    }
    spark.stop()
  }
}
