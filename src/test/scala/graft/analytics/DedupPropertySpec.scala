package graft.analytics

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property checks for the EXACTNESS claims of the near-dup operators:
  * the distributed LSH/banding/prefix pipelines must equal the brute-force
  * driver-side answer on random corpora (the oracle contract, as laws).
  */
class DedupPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta")

  private val genDocs: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(6, 14)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(2, 10)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def forAllSampled(f: Seq[(Long, String)] => Unit): Unit =
    (1 to 6).foreach { i =>
      genDocs(Gen.Parameters.default, Seed(i.toLong)).foreach { docs =>
        withClue(s"seed=$i docs=$docs: ")(f(docs))
      }
    }

  private def normalize(t: String): String =
    t.toLowerCase.replaceAll("\\s+", " ").trim

  private def wordShingles(t: String, n: Int = 3): Set[String] = {
    val toks = normalize(t).split(" ", -1).toSeq
    if (toks.size < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  private def charShingles(t: String, n: Int = 5): Set[String] = {
    val s = normalize(t)
    if (s.length <= n) Set(s.take(n))
    else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet ++
      (if (s.length >= n) Set.empty[String] else Set(s))
  }

  private def jac(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  private def brutePairs(docs: Seq[(Long, String)], t: Double,
                         sh: String => Set[String]): Set[(Long, Long)] =
    (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      if jac(sh(ta), sh(tb)) >= t
    } yield (a, b)).toSet

  test("law: minhashPairs equals brute-force word-shingle Jaccard") {
    forAllSampled { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === brutePairs(docs, 0.5, wordShingles(_)))
    }
  }

  test("law: jaccardJoin (prefix filter) equals brute-force char-gram Jaccard") {
    forAllSampled { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.jaccardJoin(df, "doc_id", "text", threshold = 0.6)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === brutePairs(docs, 0.6, charShingles(_)))
    }
  }

  private def simhash60(t: String): Long = {
    val toks = normalize(t).split(" ", -1).distinct
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = toks.map { w =>
      val hex = md.digest(w.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until 60).map { b =>
      val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
      if (s > 0) 1L << b else 0L
    }.reduce(_ | _)
  }

  test("law: simhashPairs equals brute-force Hamming over the 60-bit hash") {
    forAllSampled { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sims = docs.map { case (id, t) => id -> simhash60(t) }.toMap
      val expect = (for {
        (a, _) <- docs; (b, _) <- docs if a < b
        if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
      } yield (a, b)).toSet
      assert(got === expect)
    }
  }

  /** The two tiers of [[Dedup.clusters]]: the session's driver gate
    * (every corpus here sits under it) and a negative gate that forces
    * the distributed tier.
    */
  private lazy val tiers =
    Seq("driver tier" -> Dedup.driverDedupMaxRows(spark), "distributed tier" -> -1L)

  test("law: clusters equal union-find over brute-force pairs") {
    forAllSampled { docs =>
      val df = docs.toDF("doc_id", "text")
      // union-find
      val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      brutePairs(docs, 0.5, wordShingles(_)).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = docs.map(d => d._1 -> find(d._1)).toMap
      for ((tier, gate) <- tiers) withClue(s"$tier: ") {
        val got = Dedup.clusters(df, "doc_id", "text", threshold = 0.5,
            maxDriverRows = gate)
          .as[(Long, Long)].collect().toMap
        assert(got === expect)
      }
    }
  }

  test("driver minhash signatures equal minhashSignatures") {
    forAllSampled { docs =>
      val df = docs.toDF("doc_id", "text")
      val sig = Dedup.minhashSignatures(df, "doc_id", "text")
        .as[(Long, Seq[Long])].collect().toMap
      val sets = Dedup.docSets(Dedup.wordShingleRows(df, "doc_id", "text")
        .select("id", "h").collect())
      val got = sets.ids.indices.map(d =>
        sets.ids(d) -> (0 until 64).map(sets.minHash(d, _))).toMap
      assert(got === sig)
    }
  }

  test("clusters tiers agree on 2 000 identical docs beside singletons") {
    // one candidate group of 2 000 at every slot: the driver tier unites
    // it at the first slot and skips its pairs from then on
    val dup = (0 until 2000).map(i => (i.toLong, "the same five words here"))
    val single = (0 until 20).map(i =>
      (10000L + i, s"singleton $i with words ${i * 7} of its own"))
    val df = (dup ++ single).toDF("doc_id", "text")
    val Seq(drv, dist) = tiers.map { case (_, gate) =>
      Dedup.clusters(df, "doc_id", "text", maxDriverRows = gate)
        .as[(Long, Long)].collect().toMap
    }
    assert(drv === dist)
    assert(drv.size === 2020)
    assert((0L until 2000L).forall(drv(_) == 0L))
    assert(single.forall { case (id, _) => drv(id) == id })
  }

  test("clusters under the driver gate runs at most five Spark jobs") {
    // the gate count, the shingle collect, the label broadcast, the
    // result's checkpoint and the caller's collect; the distributed tier
    // runs 19
    val docs = (0 until 60).map(i =>
      (i.toLong, s"doc ${i % 20} shares these words with its twins")).toDF("doc_id", "text")
    assert(graft.TestJobs.count(spark)(
      Dedup.clusters(docs, "doc_id", "text").collect()) <= 5)
  }

  test("law: distributed CC tier (shortcutting) equals the driver tier") {
    // force the distributed branch with maxDriverEdges = -1; include a
    // long path (deep component — exercises pointer doubling), a clique,
    // and singletons
    val pairs = ((0L until 40L).map(i => (i, i + 1)) ++ // path 0..40
      Seq((100L, 101L), (100L, 102L), (101L, 102L)) ++  // triangle
      Seq((200L, 201L))).toDF("id_a", "id_b")
    val ids = ((0L to 40L) ++ (100L to 102L) ++
      (200L to 202L)).toDF("id")
    val dist = Dedup.connectedComponents(pairs, ids, maxDriverEdges = -1)
      .as[(Long, Long)].collect().toMap
    // maxDriverForest = -1 keeps the pointer-doubling resolve covered
    // (the default gate routes node-sized forests to the driver resolve)
    val distDoubling = Dedup.connectedComponents(pairs, ids,
        maxDriverEdges = -1, maxDriverForest = -1)
      .as[(Long, Long)].collect().toMap
    val drv = Dedup.connectedComponents(pairs, ids)
      .as[(Long, Long)].collect().toMap
    assert(dist === drv)
    assert(distDoubling === drv)
    assert((0L to 40L).forall(i => dist(i) == 0L))
    assert((100L to 102L).forall(i => dist(i) == 100L))
    assert(dist(200L) == 200L && dist(201L) == 200L && dist(202L) == 202L)
  }

  test("law: clustersAppend equals a full re-cluster on random corpora") {
    forAllSampled { docs =>
      val df = docs.toDF("doc_id", "text")
      val corpus = df.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = df.where(pmod(col("doc_id"), lit(3)) === 0)
      for ((tier, gate) <- tiers) withClue(s"$tier: ") {
        val lbl = Dedup.clusters(corpus, "doc_id", "text", threshold = 0.5,
          maxDriverRows = gate)
        val incr = Dedup.clustersAppend(corpus, lbl, batch, "doc_id", "text",
            threshold = 0.5)
          .as[(Long, Long)].collect().toMap
        val full = Dedup.clusters(df, "doc_id", "text", threshold = 0.5,
            maxDriverRows = gate)
          .as[(Long, Long)].collect().toMap
        assert(incr === full)
      }
    }
  }

  test("law: componentLabels covers every endpoint, both tiers, random graphs") {
    // random multigraphs WITH self-loops and duplicate/reversed edges:
    // the distributed contraction tier must equal the driver union-find
    // AND a brute-force reference over the full endpoint set — this is
    // the isolated-node-trap guard for CC (a self-loop-only node never
    // enters the mate forest; a node whose neighbors all mate away must
    // still be labeled through the par side of the forest)
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val pairs0 = (0 until (n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) // self-loops likely
      }
      val pairs = (pairs0 ++ pairs0.take(5).map(_.swap))
        .toDF("id_a", "id_b")
      val dist = Dedup.componentLabels(pairs, maxDriverEdges = -1)
        .as[(Long, Long)].collect().toMap
      val distDoubling = Dedup.componentLabels(pairs,
          maxDriverEdges = -1, maxDriverForest = -1)
        .as[(Long, Long)].collect().toMap
      assert(distDoubling === dist, s"trial $trial: doubling vs driver-resolve")
      val drv = Dedup.componentLabels(pairs)
        .as[(Long, Long)].collect().toMap
      // some contraction levels, then a residual of at most 8 edges in the
      // driver union-find, resolved on the driver and by doubling
      val residual = Dedup.componentLabels(pairs, maxDriverEdges = 8)
        .as[(Long, Long)].collect().toMap
      val residualDoubling = Dedup.componentLabels(pairs,
          maxDriverEdges = 8, maxDriverForest = -1)
        .as[(Long, Long)].collect().toMap
      // brute force over endpoints
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val endpoints = scala.collection.mutable.Set[Long]()
      pairs0.foreach { case (a, b) =>
        endpoints += a; endpoints += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = endpoints.map(id => id -> find(id)).toMap
      withClue(s"trial=$trial distributed: ")(assert(dist === expect))
      withClue(s"trial=$trial driver: ")(assert(drv === expect))
      withClue(s"trial=$trial residual: ")(assert(residual === expect))
      withClue(s"trial=$trial residual doubling: ")(assert(residualDoubling === expect))
    }
  }

  test("componentLabels destroys its label broadcasts") {
    // the driver arrays behind the labels are broadcast; once the labels
    // are checkpointed nothing reads them, so repeated calls (a batch
    // job's every cycle) must not pile them up on the driver
    val pairs = ((0L until 40L).map(i => (i, i + 1)) :+ ((100L, 101L)))
      .toDF("id_a", "id_b")
    def held(): Int = org.apache.spark.TestBroadcasts.held {
      case (_: Array[Long], _: Array[Long]) | (_: Array[Long]) => true
      case _ => false
    }
    val before = held()
    (1 to 3).foreach { _ =>
      assert(Dedup.componentLabels(pairs).count() === 43)
      assert(Dedup.componentLabels(pairs, maxDriverEdges = -1).count() === 43)
    }
    // destroy() removes the blocks asynchronously
    val deadline = System.nanoTime() + 10000000000L
    while (held() > before && System.nanoTime() < deadline) Thread.sleep(50)
    assert(held() === before)
  }

  test("releasing frees a held checkpoint's blocks") {
    val sc = spark.sparkContext
    val held = spark.range(50).toDF("id").localCheckpoint(true)
    val rddId = held.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(sc.getPersistentRDDs.contains(rddId))
    val out = Dedup.releasing(held.select((col("id") * 2).as("x")), Seq(held))
    assert(!sc.getPersistentRDDs.contains(rddId))
    assert(out.count() === 50)
  }

  test("pair operators leave no cached table behind across fresh corpora") {
    // minhashPairs (under clusters' distributed tier), crossPairs and
    // simhashPairs each cache a table their result reads; the result is
    // checkpointed and the table released, and clusters' driver tier
    // caches nothing, so a batch job's every new corpus adds nothing
    def cached() = org.apache.spark.sql.TestCacheEntries.count(spark)
    val before = cached()
    (1 to 3).foreach { k =>
      def corpus(from: Long) = (0 until 12).map(i => (from + i,
        s"alpha beta gamma ${i % 3} delta corpus $k eps")).toDF("doc_id", "text")
      val docs = corpus(0L)
      for ((tier, gate) <- tiers) withClue(s"$tier: ") {
        assert(Dedup.clusters(docs, "doc_id", "text", maxDriverRows = gate)
          .count() === 12)
      }
      assert(Dedup.crossPairs(docs, corpus(100L), "doc_id", "text").count() > 0)
      assert(Dedup.simhashPairs(docs, "doc_id", "text").count() > 0)
    }
    assert(cached() === before)
  }

  test("law: componentLabelsAppend equals a full recompute on random splits") {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      val n = 25 + rnd.nextInt(30)
      val all = (0 until (n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, (n + rnd.nextInt(n)).toLong)
      } ++ (0 until n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }
      // split so the appended batch introduces brand-new nodes (ids >= n
      // appear only on the appended side in some trials) AND merges
      // existing components
      val (oldE, newE) = all.splitAt(all.size / 2)
      val oldDf = oldE.toDF("id_a", "id_b")
      val newDf = newE.toDF("id_a", "id_b")
      val base = Dedup.componentLabels(oldDf)
      val incr = Dedup.componentLabelsAppend(base, newDf)
        .as[(Long, Long)].collect().toMap
      val full = Dedup.componentLabels(all.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      withClue(s"trial=$trial: ")(assert(incr === full))
    }
  }

  test("law: delta CC converges on a 3000-node chain inside the cap") {
    // a deep path is the adversarial case for DELTA min-label: without
    // the fresh-pointer→stale-pointee doubling join, rounds degrade to
    // O(diameter) and the 50-round cap throws. Edges are reversed so
    // the min label (0) sits at one end and must cross the whole chain.
    val n = 3000L
    val pairs = (1L until n).map(i => (i, i - 1)).toDF("id_a", "id_b")
    val ids = (0L until n).toDF("id")
    val got = Dedup.connectedComponents(pairs, ids, maxDriverEdges = -1)
      .as[(Long, Long)].collect().toMap
    assert(got.size === n.toInt && got.values.forall(_ == 0L))
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("law: editDistancePairs equals brute-force Levenshtein (k=1,2)") {
    // random short strings over a tiny alphabet with planted mutations,
    // so distances 0, 1, 2 and >2 all occur
    val rnd = new scala.util.Random(7)
    def mutate(s: String): String = {
      val i = rnd.nextInt(math.max(s.length, 1))
      rnd.nextInt(3) match {
        case 0 if s.nonEmpty => s.updated(i, ('a' + rnd.nextInt(4)).toChar)
        case 1 => s.substring(0, i) + ('a' + rnd.nextInt(4)).toChar +
          s.substring(i)
        case _ if s.nonEmpty => s.substring(0, i) + s.substring(
          math.min(i + 1, s.length))
        case _ => s
      }
    }
    val base = (0 until 25).map(_ =>
      (0 until 3 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(4)).toChar)
        .mkString)
    val strs = (base ++ base.map(mutate) ++ base.map(s => mutate(mutate(s))))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = k)
        .as[(Long, Long, Long)].collect().toSet
      val expect = (for {
        (ia, sa) <- strs; (ib, sb) <- strs
        if ia < ib
        d = lev(sa, sb) if d <= k
      } yield (ia, ib, d.toLong)).toSet
      assert(got === expect, s"k=$k")
    }
  }
}
