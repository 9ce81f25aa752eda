package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded movie corpus in the shape of the reference's 30k-movie file:
  * film –starring→ performance bnode –actor→ actor, performance
  * –character→ literal, and a `<name>` literal on every film and actor.
  * Actor degree is Zipf-skewed (weight 1/(rank+10)), so a few actors star
  * in hundreds of films and most in a handful. The generator keeps the
  * cast lists as ground truth; the engine sees only the N-Quads text.
  * The same (seed, films) always yields byte-identical text.
  */
final class MovieCorpus(seed: Long, val films: Int) {
  val actors: Int = math.max(50, films * 5 / 4)
  /** cast(f) = distinct actor ids of film f, 3 to 12 of them. */
  val cast: Array[Array[Int]] = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(actors, rnd)
    Array.tabulate(films) { _ =>
      val n = 3 + rnd.nextInt(10)
      val s = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (s.size < n) s += zipf.next()
      s.toArray
    }
  }
  lazy val filmsOf: Array[Array[Int]] = {
    val b = Array.fill(actors)(Array.newBuilder[Int])
    for (f <- cast.indices; a <- cast(f)) b(a) += f
    b.map(_.result())
  }
  def quadCount: Long = films.toLong + actors + cast.map(_.length * 3L).sum

  /** Co-stars of `a`: every actor sharing a film with it, `a` included
    * when it has a film (the `follow(m).followR(m)` result).
    */
  def costars(a: Int): Set[Int] = filmsOf(a).iterator.flatMap(cast(_)).toSet

  def write(file: File): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), UTF_8), 1 << 16)
    try {
      for (a <- 0 until actors)
        w.write(s"${Movie.actor(a)} <name> \"Actor $a\" .\n")
      for (f <- 0 until films) {
        w.write(s"${Movie.film(f)} <name> \"Film $f\" .\n")
        for ((a, k) <- cast(f).zipWithIndex) {
          val p = s"_:p${f}_$k"
          w.write(s"${Movie.film(f)} ${Movie.Starring} $p .\n")
          w.write(s"$p ${Movie.Actor} ${Movie.actor(a)} .\n")
          w.write(s"$p ${Movie.Character} \"Character ${f}_$k\" .\n")
        }
      }
    } finally w.close()
  }
}

object Movie {
  val Starring = "</film/film/starring>"
  val Actor = "</film/performance/actor>"
  val Character = "</film/performance/character>"
  def actor(a: Int): String = s"</en/actor_$a>"
  def film(f: Int): String = s"</en/film_$f>"
  /** Films added after the base corpus (writes, append deltas) get their
    * own IRI space so they never collide with generated films.
    */
  def newFilm(tag: String, f: Int): String = s"</en/new_${tag}_$f>"

  /** N-Quads of one new film with the given cast. */
  def filmQuads(iri: String, castIds: Seq[Int], bnodeTag: String): Seq[String] =
    s"""$iri <name> "New $bnodeTag" .""" +: castIds.zipWithIndex.flatMap {
      case (a, k) =>
        val p = s"_:n${bnodeTag}_$k"
        Seq(s"$iri $Starring $p .", s"$p $Actor ${actor(a)} .",
          s"""$p $Character "Role ${bnodeTag}_$k" .""")
    }
}

object Digest {
  /** SHA-256 of a file, hex: the same seed must give the same digest. */
  def sha256(f: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(java.nio.file.Files.readAllBytes(f.toPath))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Zipf-Mandelbrot sampler over [0, n): P(r) ∝ 1/(r + 10). */
final class Zipf(n: Int, rnd: SplittableRandom) {
  private val cdf = Zipf.cdf(n)
  def next(): Int = Zipf.at(cdf, rnd.nextDouble())
}

object Zipf {
  def cdf(n: Int): Array[Double] = {
    var acc = 0.0
    val c = Array.tabulate(n) { r => acc += 1.0 / (r + 10); acc }
    c.map(_ / acc)
  }
  private def at(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
  /** The rank at quantile `q` of the distribution over [0, n). */
  def rankAt(n: Int, q: Double): Int = at(cdf(n), q)
}

/** Seeded near-duplicate text corpus: `families` base documents of random
  * pseudo-words, each followed by 0-3 edited copies that substitute 2
  * words (word-3-shingle Jaccard to the base stays above 0.6, far above
  * the 0.5 clustering threshold, while unrelated documents share almost
  * no shingles). `family(i)` is the ground-truth cluster of document i.
  */
final class DupCorpus(seed: Long, families: Int) {
  private val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val vocab: Array[String] = Array.fill(4000) {
    val len = 4 + rnd.nextInt(5)
    new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
  }
  val (texts: Array[String], family: Array[Int]) = {
    val t = Array.newBuilder[String]; val fam = Array.newBuilder[Int]
    for (f <- 0 until families) {
      val base = Array.fill(40 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
      t += base.mkString(" "); fam += f
      for (_ <- 0 until rnd.nextInt(4)) {
        val copy = base.clone()
        for (_ <- 0 until 2) copy(rnd.nextInt(copy.length)) = vocab(rnd.nextInt(vocab.length))
        t += copy.mkString(" "); fam += f
      }
    }
    (t.result(), fam.result())
  }

  def write(file: File): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), UTF_8), 1 << 16)
    try texts.zipWithIndex.foreach { case (s, i) => w.write(s"$i\t$s\n") }
    finally w.close()
  }
}
