package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** The store side of the batch workload: seeded append deltas, the
  * generator's expected store sizes, and disk accounting.
  */
object Store {
  /** Expected dictionary size: actor and film IRIs and their names, one
    * performance bnode and one character literal per cast slot, and the
    * four predicates.
    */
  def nodeCount(c: MovieCorpus): Long =
    2L * c.actors + 2L * c.films + 2L * c.cast.map(_.length.toLong).sum + 4

  final case class Delta(file: File, quads: Long, fresh: Long, freshNodes: Long)

  def writeDelta(c: MovieCorpus, dir: File, name: String, k: Int, seed: Long): Delta = {
    val rnd = new SplittableRandom(seed * 131 + k)
    val zipf = new Zipf(c.actors, rnd)
    val target = c.quadCount / 100
    val lines = mutable.ArrayBuffer.empty[String]
    var films = 0
    while (lines.size < target * 9 / 10) {
      val iri = Movie.newFilm(s"d$k", films)
      val cast = Iterator.continually(zipf.next()).distinct.take(3).toSeq
      lines ++= Movie.filmQuads(iri, cast, s"d${k}f$films")
      films += 1
    }
    val fresh = lines.size.toLong
    val dup = Iterator.continually(rnd.nextInt(c.actors)).distinct
      .take((target / 10).toInt).map(a => s"""${Movie.actor(a)} <name> "Actor $a" .""")
    lines ++= dup
    val f = new File(dir, s"${name}_delta_$k.nq")
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
    // per new film: its IRI and name, and per cast slot a bnode and a role
    Delta(f, lines.size.toLong, fresh, films * (2L + 2 * 3))
  }

  def du(f: File): (Long, Long) =
    if (f.isDirectory) f.listFiles().map(du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".parquet")) (f.length(), 1L)
    else (f.length(), 0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }
}
