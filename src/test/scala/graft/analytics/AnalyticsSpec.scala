package graft.analytics

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank again"), // near-dup of 0
    (2L, "completely different content about database systems and query engines"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "Der schnelle braune Fuchs springt und der Hund schläft nicht gern")
  ).toDF("doc_id", "text")

  test("stripHtml removes blocks/tags, decodes entities once, collapses ws") {
    import org.apache.spark.sql.functions.{col, lit}
    val got = Seq(
      "<html><head><style>p{x}</style><script>if (1<2) alert('&')</script>" +
        "</head><body> <h1 class=\"t\">Hi</h1>\n\n<p>a &amp;amp; b " +
        "&lt;tag&gt; &quot;q&#39;&nbsp;</p><!-- no --><br/>end </body>",
      "plain text, no markup",
      "").toDF("h")
      .select(graft.analytics.TextOps.stripHtml(col("h")).as("c"))
      .as[String].collect().toSeq
    assert(got(0) === "Hi a &amp; b <tag> \"q' end")
    assert(got(1) === "plain text, no markup")
    assert(got(2) === "")
  }

  test("exact dedup keeps one id per identical canonical text") {
    val kept = Dedup.exact(docs, "doc_id", "text").select("doc_id")
      .as[Long].collect().toSet
    assert(kept === Set(0L, 1L, 2L, 4L)) // 3 collapses into 0
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 3L)) || pairs.contains((1L, 3L))) // exact dups always pair
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash jaccard is exact: 1.0 for identical docs") {
    val j = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9)
      .where(col("id_a") === 0 && col("id_b") === 3)
      .select("jaccard").as[Double].collect()
    assert(j.length === 1 && j.head === 1.0)
  }

  test("jaccardJoin (prefix filter) equals brute-force all-pairs Jaccard") {
    val t = 0.4
    val got = Dedup.jaccardJoin(docs, "doc_id", "text", threshold = t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force with the same shingle contract
    val all = docs.as[(Long, String)].collect()
    val sh = all.map { case (id, _) =>
      id -> docs.where(col("doc_id") === id)
        .select(Dedup.shingles(col("text"))).as[Seq[String]].head().toSet
    }.toMap
    val expect = (for {
      (a, _) <- all; (b, _) <- all if a < b
      j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      if j >= t
    } yield (a, b)).toSet
    assert(got === expect)
    assert(expect.nonEmpty) // the fixture has near-dups above threshold
  }

  test("crossPairs: batch near-dups against the corpus, no corpus self-pairs") {
    val corpus = docs.where(col("doc_id") =!= 1L)
    val batch = docs.where(col("doc_id") === 1L)
    val pairs = Dedup.crossPairs(corpus, batch, "doc_id", "text",
      threshold = 0.5).select("batch_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    // doc 1 is a near-dup of 0 and 3 (identical texts) and nothing else
    assert(pairs === Set((1L, 0L), (1L, 3L)))
  }

  test("newDocs: bloom-prefiltered incremental dedup is exact") {
    val corpus = docs.where(col("doc_id") < 3L)
    val batch = docs // 0,1,2 are already in corpus; 3's TEXT equals 0's
    val fresh = Dedup.newDocs(corpus, batch, "doc_id", "text")
      .as[Long].collect().toSet
    assert(fresh === Set(4L)) // 3 is a dup by fingerprint, 4 is new
  }

  test("capPerKey keeps at most n per stratum, deterministically") {
    val df = Seq.tabulate(20)(i => (i.toLong, if (i < 15) "a" else "b"))
      .toDF("id", "k")
    val kept = TextOps.capPerKey(df, "id", "k", cap = 4)
    val byK = kept.groupBy("k").count().as[(String, Long)].collect().toMap
    assert(byK("a") === 4L && byK("b") === 4L)
    // deterministic: same result on re-run
    val again = TextOps.capPerKey(df, "id", "k", cap = 4)
      .select("id").as[Long].collect().toSet
    assert(again === kept.select("id").as[Long].collect().toSet)
  }

  test("mixtureSample keeps ceil(scale*sqrt(n)) per stratum") {
    val df = Seq.tabulate(120)(i =>
      (i.toLong, if (i < 100) "big" else "small")).toDF("id", "k")
    val kept = TextOps.mixtureSample(df, "id", "k", scale = 1.5)
      .groupBy("k").count().as[(String, Long)].collect().toMap
    assert(kept("big") === 15L) // ceil(1.5*10)
    assert(kept("small") === math.ceil(1.5 * math.sqrt(20.0)).toLong)
  }

  test("topNgrams: exact bigram counts, short docs contribute nothing") {
    val df = Seq("a b a b", "a b", "x").toDF("text")
    val got = TextOps.topNgrams(df, "text", n = 2, k = 10)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a b" -> 3L, "b a" -> 1L)) // "x" has no bigram
  }

  /** The two tiers of [[Dedup.clusters]]: the session's driver gate and
    * a negative gate that forces the distributed tier.
    */
  private lazy val clusterTiers =
    Seq("driver tier" -> Dedup.driverDedupMaxRows(spark), "distributed tier" -> -1L)

  test("clusters: connected components over near-dup pairs") {
    for ((tier, gate) <- clusterTiers) withClue(s"$tier: ") {
      val cl = Dedup.clusters(docs, "doc_id", "text", threshold = 0.5,
          maxDriverRows = gate)
        .as[(Long, Long)].collect().toMap
      // 0, 1, 3 are one near-dup component labeled by its min id
      assert(cl(0L) === 0L && cl(1L) === 0L && cl(3L) === 0L)
      assert(cl(2L) === 2L && cl(4L) === 4L) // singletons label themselves
      assert(cl.size === 5)
    }
  }

  test("clusterHoldout: near-dup cluster members share a side, split is total") {
    for ((tier, gate) <- clusterTiers) withClue(s"$tier: ") {
      val split = Dedup.clusterHoldout(docs, "doc_id", "text",
        holdoutFraction = 0.5, threshold = 0.5, maxDriverRows = gate)
        .as[(Long, Long, String)].collect()
      assert(split.length === 5) // every document, exactly once
      val side = split.map(r => r._1 -> r._3).toMap
      // 0, 1, 3 are one near-dup cluster: they MUST land on the same side
      assert(side(0L) === side(1L) && side(0L) === side(3L))
      // side is a pure function of the cluster label (determinism)
      val again = Dedup.clusterHoldout(docs, "doc_id", "text",
        holdoutFraction = 0.5, threshold = 0.5, maxDriverRows = gate)
        .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
      assert(side === again)
      // and it matches the md5 sample-key rule on the cluster label
      val keyed = split.map { case (id, cl, s) =>
        val key = spark.range(1)
          .select(TextOps.sampleKey(org.apache.spark.sql.functions.lit(cl)))
          .head().getDouble(0)
        (s == "holdout") === (key < 0.5)
      }
      assert(keyed.forall(identity))
    }
  }

  test("contaminationReport: exact per-benchmark overlap fractions") {
    val train = Seq((1L, "a b c d e"), (2L, "x y z w q"))
      .toDF("doc_id", "text")
    val bench = Seq((10L, "a b c d f"), (11L, "p q r s t"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, bench, "doc_id", "text",
        n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // bench 10's 3-grams {a b c, b c d, c d f}: first two are in train
    assert(got(10L) === ((3L, 2L, 2.0 / 3.0)))
    // bench 11 shares nothing — present with an explicit zero row
    assert(got(11L) === ((3L, 0L, 0.0)))
  }

  test("ngram jaccard: exact dup 1.0, near-dup high, unrelated low") {
    val pairs = Seq((0L, 3L), (0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 3L)) === 1.0)
    assert(out((0L, 1L)) > 0.7)
    assert(out((0L, 2L)) < 0.2)
  }

  test("simhash: identical docs share hash; near-dups within small hamming") {
    val sh = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(3L))
    val hamming01 = java.lang.Long.bitCount(sh(0L) ^ sh(1L))
    val hamming02 = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming01 < hamming02)
  }

  test("simhashPairs surfaces exact dup at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 3L)))
  }

  test("cosine: orthogonal is 0, identical is 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(top.head._1 === 2L && math.abs(top.head._2 - 1.0) < 1e-12)
    assert(top.last._1 === 1L && math.abs(top.last._2) < 1e-12)
  }

  test("hardNegatives excludes positives BEFORE ranking and backfills") {
    // cosine to probe 0 strictly decreasing in id: 1 > 2 > 3 > 4 > 5
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(1.0f, 0.3f)),
      (3L, Array(1.0f, 0.6f)),
      (4L, Array(1.0f, 1.0f)),
      (5L, Array(0.3f, 1.0f))).toDF("vec_id", "embedding")
    val probes = emb.where(col("vec_id") === 0L)
    // positives at ranks 1 and 3 of the full pool: the negative top-3
    // must be (2, 4, 5) at ranks 1..3 — exclusion pulls rank 4 and 5 in
    val pos = Seq((0L, 1L), (0L, 3L)).toDF("q", "c")
    val got = Similarity.hardNegatives(emb, probes, pos, "vec_id",
        "embedding", "q", "c", k = 3)
      .select("query_id", "id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(_._3)
    assert(got.map(t => (t._2, t._3)).toSeq ===
      Seq((2L, 1L), (4L, 2L), (5L, 3L)))
    // empty positives ⇒ identical id set to batchTopK
    val none = Seq.empty[(Long, Long)].toDF("q", "c")
    val all = Similarity.hardNegatives(emb, probes, none, "vec_id",
        "embedding", "q", "c", k = 3)
      .select("id").as[Long].collect().toSet
    val bt = Similarity.batchTopK(emb, probes, "vec_id", "embedding", 3)
      .select("id").as[Long].collect().toSet
    assert(all === bt)
  }

  test("mmrRerank diversifies: near-duplicate of the top pick is demoted") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),  // query
      (1L, Array(0.99f, 0.1f)), // top relevance
      (2L, Array(0.98f, 0.12f)), // near-duplicate of 1 (sim ~0.9998)
      (3L, Array(0.8f, -0.5f))  // diverse, lower relevance
    ).toDF("vec_id", "embedding")
    val probes = emb.where(col("vec_id") === 0L)
    // plain top-2 is (1, 2); MMR at λ=0.5 demotes the near-dup:
    // 0.5·rel(2) − 0.5·sim(2,1) ≈ −0.004 < 0.5·rel(3) − 0.5·sim(3,1) ≈ 0.029
    val got = Similarity.mmrRerank(emb, probes, "vec_id", "embedding",
        k = 2, poolN = 3)
      .orderBy("rank").select("id", "rank").as[(Long, Long)]
      .collect().toSeq
    assert(got === Seq((1L, 1L), (3L, 2L)))
    // λ = 1 degenerates to plain relevance order
    val plain = Similarity.mmrRerank(emb, probes, "vec_id", "embedding",
        k = 2, poolN = 3, lambda = 1.0)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(plain === Seq(1L, 2L))
  }

  test("lsh buckets put identical-direction vectors together") {
    val emb = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(2.0f)), // same direction as 0
      (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val b = emb.select(col("vec_id"),
        Similarity.signBucketExpr(col("embedding"), 8, 6).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) === b(1L))
    assert(b(0L) !== b(2L))
  }

  test("SignBucket: interpreted eval equals codegen; planeOffset varies band") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 32L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val emb = vecs.toDF("vec_id", "embedding")
    // codegen path (whole-stage)
    val fromDf = emb.select(col("vec_id"),
        Similarity.signBucketExpr(col("embedding"), 16, 10).as("b0"),
        Similarity.signBucketExpr(col("embedding"), 16, 10, 10).as("b1"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // interpreted path (direct Expression.eval)
    vecs.foreach { case (id, v) =>
      val litArr = Literal.create(v, ArrayType(FloatType))
      val b0 = graft.functions.SignBucket(litArr, 16, 10, 0).eval(null)
      val b1 = graft.functions.SignBucket(litArr, 16, 10, 10).eval(null)
      assert((b0, b1) === fromDf(id), s"interpreted/codegen mismatch for $id")
    }
    // bands are genuinely independent plane families
    assert(vecs.exists { case (id, _) => fromDf(id)._1 !== fromDf(id)._2 })
  }

  test("banded near-dup pairs: finds planted near-dups, exact precision") {
    val rnd = new scala.util.Random(3)
    val base = (0L until 60L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    // plant a near-dup of every 10th vector: tiny relative perturbation
    val planted = base.collect { case (i, v) if i % 10 == 0 =>
      (i + 1000L, v.map(x => x * (1.0f + (rnd.nextFloat() - 0.5f) * 0.1f)))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val ann = Similarity.cosineNearDupPairsBanded(emb, "vec_id", "embedding",
        dim = 32, threshold = 0.9, bands = 8, bitsPerBand = 12)
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding",
        threshold = 0.9).as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "ground truth must be non-vacuous")
    // precision is exact by construction; recall: planted pairs at
    // cos≈0.999 have per-band collision ~0.97^12, miss < 1e-4
    assert(ann.subsetOf(exact))
    assert(ann === exact, s"missed pairs: ${exact -- ann}")
  }

  test("DSIR importance weights rank target-like docs above off-domain") {
    // target domain: fruit vocabulary; raw pool: 2 fruity docs, 2 automotive
    val docs = Seq(
      (1L, "apple banana cherry apple", true),
      (2L, "banana cherry apple banana cherry", true),
      (10L, "apple banana apple cherry", false),
      (11L, "banana apple", false),
      (20L, "engine piston gasket turbo", false),
      (21L, "camshaft piston engine", false)
    ).toDF("doc_id", "text", "tgt")
    val w = TextOps.importanceWeights(docs, "doc_id", "text", col("tgt"))
      .as[(Long, Double)].collect().toMap
    assert(w.keySet === Set(10L, 11L, 20L, 21L))
    // per-token average keeps length from dominating the comparison
    val counts = Map(10L -> 4, 11L -> 2, 20L -> 4, 21L -> 3)
    assert(Seq(10L, 11L).map(i => w(i) / counts(i)).min >
      Seq(20L, 21L).map(i => w(i) / counts(i)).max)
    val c = TextOps.importanceWeightsContract(docs, "doc_id", "text",
      col("tgt")).collect()(0)
    assert(c.getBoolean(0) && c.getLong(1) === 4L)
  }

  test("SemDeDup cell near-dup pairs: planted clones found, exact precision") {
    val rnd = new scala.util.Random(13)
    val base = (0L until 60L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val planted = base.collect { case (i, v) if i % 10 == 0 =>
      (i + 1000L, v.map(x => x * (1.0f + (rnd.nextFloat() - 0.5f) * 0.1f)))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val sem = Similarity.cosineNearDupPairsCells(emb, "vec_id", "embedding",
        threshold = 0.9, nCells = 4)
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding",
        threshold = 0.9).as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "ground truth must be non-vacuous")
    // verify stage makes precision exact; clones at cos≈0.999 share the
    // argmax cell unless the base vector sits on a Voronoi boundary
    assert(sem.subsetOf(exact))
    assert(sem.size * 10 >= exact.size * 8, s"recall too low: $sem vs $exact")
  }

  test("lshBatchTopK honors the full requested probe radius") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val probes = emb.where(col("vec_id") < 3)
    val exact = Similarity.batchTopK(emb, probes, "vec_id", "embedding", k = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // probe = bits ⇒ every bucket within Hamming-6 of 6-bit codes = ALL
    // buckets ⇒ the ANN result must equal the exact batch top-k
    val full = Similarity.lshBatchTopK(emb, probes, "vec_id", "embedding",
      dim = 8, k = 2, bits = 6, probe = 6)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(full === exact)
  }

  test("ivf cells separate opposite directions; co-direction shares a cell") {
    val emb = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(2.0f)), // same direction as 0
      (2L, Array.fill(8)(-1.0f)),
      (3L, Array.fill(8)(-0.5f))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 2)
    val cell = emb.select(col("vec_id"),
        Similarity.cellExpr(col("embedding"), cents).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cell(0L) === cell(1L))
    assert(cell(2L) === cell(3L))
    assert(cell(0L) !== cell(2L))
  }

  test("ivfBatchTopK with nprobe = nCells equals the exact batch top-k") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 40L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val probes = emb.where(col("vec_id") < 3)
    val exact = Similarity.batchTopK(emb, probes, "vec_id", "embedding", k = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // probing every cell ⇒ full scan ⇒ must equal exact
    val full = Similarity.ivfBatchTopK(emb, probes, "vec_id", "embedding",
      k = 2, nCells = 4, nprobe = 4)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // mean-recall contract harness agrees at full scan
    val ok = Similarity.ivfMeanRecallAtK(emb, probes, "vec_id", "embedding",
      k = 2, minMeanRecall = 1.0, nCells = 4, nprobe = 4)
      .head.getBoolean(0)
    assert(ok)
  }

  test("ivf store: partition-pruned probes equal exact at full scan") {
    val rnd = new scala.util.Random(13)
    val emb = (0L until 60L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.ivfWrite(emb, dir, "vec_id", "embedding", nCells = 4)
    val probes = emb.where(col("vec_id") < 3)
    // full scan (nprobe = nCells) must equal the exact batch top-k
    val full = Similarity.ivfStoreTopK(spark, dir, probes, "vec_id",
      "embedding", k = 2, nprobe = 4)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = Similarity.batchTopK(emb, probes, "vec_id", "embedding", k = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // pruned probe: the store scan must carry cell partition filters
    val pruned = Similarity.ivfStoreTopK(spark, dir, probes, "vec_id",
      "embedding", k = 2, nprobe = 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell") ||
      plan.contains("PartitionFilters: [isnotnull(cell") ||
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty,
      s"expected cell partition pruning:\n$plan")
  }

  test("curate plan: four exchanges (fingerprint agg, survivor join, 2-phase cap)") {
    val corpus = (0L until 100L)
      .map(i => (i, s"src${i % 4}", s"document number $i with some distinct tokens here"))
      .toDF("doc_id", "source", "text")
    val plan = Curate.curate(corpus, "doc_id", "text", "source",
        perSourceCap = 5)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges:\n$plan")
    // the cap is two windows: salted pre-cap then the exact per-key pass
    // (skew-safe — no single-task sort of a hot source)
    assert("Window".r.findAllIn(plan).length >= 2, plan)
  }

  test("capPerKey: two-phase result equals the single-window definition") {
    val df = (0L until 500L)
      .map(i => (i, s"k${i % 3}")).toDF("id", "key")
    val got = TextOps.capPerKey(df, "id", "key", 7)
      .as[(Long, String)].collect().toSet
    // reference: single window, same total order
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key")
      .orderBy(TextOps.sampleKey(col("id")), col("id"))
    val expect = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 7).drop("rn")
      .as[(Long, String)].collect().toSet
    assert(got === expect)
    assert(got.groupBy(_._2).forall(_._2.size == 7))
  }

  test("mixtureSample: skew-safe salted form equals the single-window form") {
    val df = (0L until 600L)
      .map(i => (i, if (i < 500) "hot" else s"k${i % 4}"))
      .toDF("id", "key")
    val single = TextOps.mixtureSample(df, "id", "key", scale = 1.5)
      .as[(Long, String)].collect().toSet
    val salted = TextOps.mixtureSample(df, "id", "key", scale = 1.5,
        salts = 16)
      .as[(Long, String)].collect().toSet
    assert(salted === single)
    // sqrt cap actually bit: hot keeps ceil(1.5*sqrt(500)) = 34 of 500
    assert(single.count(_._2 == "hot") === 34)
  }

  test("gopher rules: facets count exactly, gate cross-multiplies") {
    val good = ("the quick brown fox and the lazy dog have fun with " +
      "words that keep being ordinary prose sentences all day") // 20 words
    val rows = Seq(
      (0L, good),
      (1L, "short text"), // under min words
      (2L, ("# " * 12) + good), // symbol ratio too high
      (3L, Seq.fill(12)("12345 67890").mkString(" ")) // no alpha, no stopwords
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextOps.gopherOk(col("text"), minWords = 10).as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out === Map(0L -> true, 1L -> false, 2L -> false, 3L -> false))
    val f = rows.where(col("doc_id") === 0)
      .select(TextOps.gopherFacets(col("text"))
        .map { case (n, c) => c.as(n) }: _*).head
    assert(f.getLong(0) === 20)           // n_words
    assert(f.getLong(2) === 20)           // every word has an alpha char
    assert(f.getLong(3) === 0)            // no symbols
    assert(f.getLong(4) >= 4)             // the, and, the, have, with...
  }

  test("bpe: frequent words collapse to one token; segmentation lossless") {
    val corpus = (1 to 50).map(i => (i.toLong, "hello world and hello again"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(corpus, "text", numMerges = 30)
    assert(merges.nonEmpty)
    // determinism: identical retrain
    assert(merges === Bpe.train(corpus, "text", numMerges = 30))
    // the most frequent word ends up a single symbol
    val hello = Bpe.segmentWord("hello", merges)
    assert(hello === Seq("hello" + Bpe.EndOfWord))
    // a never-seen word degrades to finer pieces, never fails
    val unseen = Bpe.segmentWord("zzz", merges)
    assert(unseen.mkString("") === "zzz" + Bpe.EndOfWord)
    // corpus segmentation round-trips the normalized text
    val seg = Bpe.segment(corpus, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(seg(1L).mkString("").replace(Bpe.EndOfWord, " ").trim
      === "hello world and hello again")
    // merge loop recount semantics: counts below 2 stop training
    val tiny = Bpe.trainFromCounts(Seq(("ab", 1L)), numMerges = 10)
    assert(tiny.isEmpty)
  }

  test("curate: dedup survivor, quality gate and cap compose; card sums") {
    val corpus = Seq(
      (0L, "web", "the quick brown fox jumps over the lazy dog today"),
      (1L, "web", "the quick brown fox jumps over the lazy dog today"), // exact dup of 0
      (2L, "web", "tiny"), // fails min-token gate
      (3L, "web", "a perfectly reasonable document with enough distinct tokens"),
      (4L, "books", "another acceptable document that clears every quality gate"),
      (5L, "books", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa single giant word here") // fails word-len gate
    ).toDF("doc_id", "source", "text")
    val out = Curate.curate(corpus, "doc_id", "text", "source",
      minTokens = 5, maxTokens = 100, maxWordLen = 40, perSourceCap = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._1).toSet === Set(0L, 3L, 4L)) // 1 deduped, 2+5 gated
    val card = Curate.dataCard(
      Curate.curate(corpus, "doc_id", "text", "source", minTokens = 5,
        maxTokens = 100, maxWordLen = 40))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(card("web")._1 === 2 && card("books")._1 === 1)
    assert(card("books")._2 === 8) // token mass of doc 4
    // cap binds: per-source cap of 1 keeps exactly one doc per source
    val capped = Curate.curate(corpus, "doc_id", "text", "source",
      minTokens = 5, maxTokens = 100, maxWordLen = 40, perSourceCap = 1)
      .collect()
    assert(capped.length === 2)
  }

  test("int8 quantization: bounded dot error, exact on axis vectors") {
    import graft.functions.Int8Vec
    val rnd = new scala.util.Random(17)
    (1 to 200).foreach { _ =>
      val a = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val b = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val exact = a.zip(b).map { case (x, y) => x * y }.sum
      val approx = Int8Vec.dotQuantized(
        Int8Vec.quantizeArray(a), Int8Vec.quantizeArray(b))
      // per-element error <= scale/2 = maxAbs/254; for unit-range dims the
      // accumulated error stays well under 2% of the vector magnitude
      assert(math.abs(approx - exact) <= 0.02 * 64 / 8,
        s"dot error too large: exact=$exact approx=$approx")
    }
    // codes hit the grid exactly: max-magnitude elements are lossless
    val axis = Array(0.0, -1.0, 0.5, 0.0)
    val selfDot = Int8Vec.dotQuantized(Int8Vec.quantizeArray(axis),
      Int8Vec.quantizeArray(axis))
    assert(math.abs(selfDot - 1.25) < 0.005)
    // zero vector: scale 0, dot 0
    assert(Int8Vec.dotQuantized(
      Int8Vec.quantizeArray(Array(0.0, 0.0)),
      Int8Vec.quantizeArray(Array(1.0, 1.0))) === 0.0)
  }

  test("quantized ivf store: recall, rerank exactness, float column unread") {
    val rnd = new scala.util.Random(19)
    val emb = (0L until 60L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfq").toString
    Similarity.ivfWriteQuantized(emb, dir, "vec_id", "embedding", nCells = 4)
    val probes = emb.where(col("vec_id") < 3)
    // full scan + generous rerank: quantization can only reorder the
    // shortlist, so the exact rerank must reproduce the exact top-k
    val full = Similarity.ivfStoreTopKQuantized(spark, dir, probes,
      "vec_id", "embedding", k = 2, nprobe = 4, rerank = 30)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = Similarity.batchTopK(emb, probes, "vec_id", "embedding", k = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // the approximate scoring scan must not read the float32 vector
    // column (collectGate = 0 forces the big-batch plan so the scoring
    // scan is visible in the returned plan; the serving path executes
    // the SAME cand plan eagerly)
    val pruned = Similarity.ivfStoreTopKQuantized(spark, dir, probes,
      "vec_id", "embedding", k = 2, nprobe = 1, collectGate = 0)
    val plan = pruned.queryExecution.executedPlan.toString
    val scanSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(scanSchemas.exists(s => s.contains("q8") && !s.contains("v:")),
      s"expected an int8-only scan schema:\n$plan")
    // serving path (default gate): the rerank read must carry a pushed
    // literal id filter so the range-laid store row-group-skips to the
    // shortlist instead of re-reading every probed-cell vector
    val served = Similarity.ivfStoreTopKQuantized(spark, dir, probes,
      "vec_id", "embedding", k = 2, nprobe = 1)
    val sPlan = served.queryExecution.executedPlan.toString
    assert(sPlan.contains("In(id") || sPlan.contains("EqualTo(id"),
      s"expected a pushed id filter on the rerank scan:\n$sPlan")
    assert(served.select("query_id", "id").as[(Long, Long)].collect()
      .toSet === pruned.select("query_id", "id").as[(Long, Long)]
      .collect().toSet)
    // end-to-end contract harness through a fresh store
    val dir2 = java.nio.file.Files.createTempDirectory("ivfq2").toString
    val ok = Similarity.ivfQuantizedMeanRecallAtK(emb, probes, "vec_id",
      "embedding", k = 2, minMeanRecall = 1.0, dir = dir2, nCells = 4,
      nprobe = 4, rerank = 30).head.getBoolean(0)
    assert(ok)
  }

  test("substring-span dedup matches brute force; clip reassembles") {
    // reference implementation of the documented semantics: mark every
    // non-first occurrence of each L-gram, merge [p, p+L) per doc
    def brute(corpus: Seq[(Long, String)], L: Int): Set[(Long, Long, Long)] = {
      val occ = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      for ((id, t) <- corpus; p <- 1 to t.length - L + 1)
        occ.getOrElseUpdate(t.substring(p - 1, p - 1 + L),
          scala.collection.mutable.ArrayBuffer.empty) += ((id, p.toLong))
      val marked = occ.values.filter(_.length > 1)
        .flatMap(_.sortBy(x => (x._1, x._2)).drop(1)).toSeq
      val out = Set.newBuilder[(Long, Long, Long)]
      for ((id, ps0) <- marked.groupBy(_._1)) {
        val ps = ps0.map(_._2).distinct.sorted
        var s = ps.head; var e = ps.head + L
        for (p <- ps.tail) {
          if (p > e) { out += ((id, s, e)); s = p; e = p + L }
          else e = math.max(e, p + L)
        }
        out += ((id, s, e))
      }
      out.result()
    }
    val rnd = new scala.util.Random(11)
    def words(n: Int) =
      Seq.fill(n)("w" + rnd.nextInt(400)).mkString(" ")
    val shared = words(12) // ~60 chars, repeated across docs
    val selfRep = words(10)
    val corpus = Seq(
      0L -> s"${words(8)} $shared ${words(8)}",
      1L -> s"${words(5)} $shared ${words(11)}",
      2L -> s"$selfRep ${words(6)} $selfRep",   // within-doc repeat
      3L -> words(30),                          // clean
      4L -> s"${words(8)} $shared ${words(3)}") // third copy
    val df = corpus.toDF("doc_id", "text")
    val L = 40
    val got = Dedup.duplicateSpans(df, "doc_id", "text", minLen = L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute(corpus, L))
    // clip: docs without spans unchanged; removed chars = sum of span
    // widths; spans really are gone from their docs
    val clipped = Dedup.clipDuplicateSpans(df, "doc_id", "text", minLen = L)
      .as[(Long, String)].collect().toMap
    val spansBy = got.groupBy(_._1)
    for ((id, t) <- corpus) {
      val sp = spansBy.getOrElse(id, Set.empty).toSeq.sortBy(_._2)
      val expect = {
        val sb = new StringBuilder; var cur = 1L
        for ((_, s, e) <- sp) {
          sb ++= t.substring(cur.toInt - 1, s.toInt - 1); cur = e
        }
        sb ++= t.substring(cur.toInt - 1)
        sb.toString
      }
      assert(clipped(id) === expect, s"doc $id")
    }
    // the first occurrence survives, so the shared string still exists
    assert(clipped.values.count(_.contains(shared)) >= 1)
    assert(clipped(3L) === corpus.toMap.apply(3L))
  }

  test("pq codec: exact on centroids, bounded ADC error, byte layout") {
    import graft.functions.PqVec
    val rnd = new scala.util.Random(7)
    val samples = Array.fill(512)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val books = PqVec.train(samples, m = 4, k0 = 16)
    assert(books.subDim === 4 && books.flat.length === 4 * 16 * 4)
    // a vector assembled FROM centroids round-trips with zero ADC error
    val ideal = Array.tabulate(16) { d =>
      val j = d / 4
      books.flat((j * 16 + 3) * 4 + (d % 4)) // centroid 3 of each subspace
    }
    val code = PqVec.encodeFlat(ideal, books.flat, 4, 16)
    assert(code.length === 4)
    val q = Array.fill(16)(rnd.nextDouble() * 2 - 1)
    val lutArr = PqVec.lut(q, books)
    val adc = (0 until 4).map(j => lutArr(j * 16 + (code(j) & 0xff))).sum
    val exact = (0 until 16).map(d => q(d) * ideal(d)).sum
    assert(math.abs(adc - exact) < 1e-9)
    // arbitrary vectors: ADC approximates the true dot within the
    // quantization radius (loose sanity bound, not a tight guarantee)
    val errs = samples.take(64).map { v =>
      val c = PqVec.encodeFlat(v, books.flat, 4, 16)
      val a = (0 until 4).map(j => lutArr(j * 16 + (c(j) & 0xff))).sum
      val e = (0 until 16).map(d => q(d) * v(d)).sum
      math.abs(a - e)
    }
    assert(errs.sum / errs.length < 1.0, s"mean ADC error ${errs.sum / 64}")
  }

  test("ivf-pq store: recall, rerank exactness, only code bytes scanned") {
    val rnd = new scala.util.Random(23)
    val emb = (0L until 60L)
      .map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.ivfWritePq(emb, dir, "vec_id", "embedding", nCells = 4,
      m = 4, kCodes = 32)
    val probes = emb.where(col("vec_id") < 3)
    // full scan + generous rerank: PQ can only reorder the shortlist, so
    // the exact rerank must reproduce the exact top-k
    val full = Similarity.ivfStoreTopKPq(spark, dir, probes,
      "vec_id", "embedding", k = 2, nprobe = 4, rerank = 30)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = Similarity.batchTopK(emb, probes, "vec_id", "embedding", k = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // the ADC scan must read neither the float32 vectors nor an int8 copy
    val pruned = Similarity.ivfStoreTopKPq(spark, dir, probes,
      "vec_id", "embedding", k = 2, nprobe = 1)
    val plan = pruned.queryExecution.executedPlan.toString
    val scanSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(scanSchemas.exists(s => s.contains("pq") && !s.contains("v:")),
      s"expected a code-bytes-only scan schema:\n$plan")
    // end-to-end contract harness through a fresh store
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq2").toString
    val ok = Similarity.ivfPqMeanRecallAtK(emb, probes, "vec_id",
      "embedding", k = 2, minMeanRecall = 1.0, dir = dir2, nCells = 4,
      m = 4, nprobe = 4, rerank = 30).head.getBoolean(0)
    assert(ok)
  }

  test("text ops: tokens, langid, fingerprint, quality") {
    val r = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("nt"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.fingerprint(col("text")).as("fp")).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getString(2), x.getString(3)))).toMap
    assert(r(0L)._1 === 14)
    assert(r(0L)._2 === "en")
    assert(r(4L)._2 === "de")
    assert(r(0L)._3 === r(3L)._3) // same canonical text, same fingerprint
    assert(r(0L)._3 !== r(1L)._3)
  }

  test("corrupt WAV payloads are rejected, not looped over or thrown") {
    def riff(chunks: Array[Byte]*): Array[Byte] = {
      val body = chunks.flatten.toArray
      val bb = java.nio.ByteBuffer.allocate(12 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(4 + body.length)
      bb.put("WAVE".getBytes); bb.put(body)
      bb.array()
    }
    def chunk(id: String, sz: Int, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes); bb.putInt(sz); bb.put(payload)
      bb.array()
    }
    // negative chunk size: would advance 0 bytes per iteration (hang)
    assert(Multimodal.decodeWav(
      riff(chunk("junk", -8, Array.fill[Byte](36)(0)))) === None)
    // declared size past the end of the buffer
    assert(Multimodal.decodeWav(
      riff(chunk("data", 1 << 20, Array.fill[Byte](36)(0)))) === None)
    // truncated fmt chunk (claims 8 bytes — too short for the PCM header)
    assert(Multimodal.decodeWav(
      riff(chunk("fmt ", 8, Array.fill[Byte](8)(1)),
        chunk("pad!", 28, Array.fill[Byte](28)(0)))) === None)
  }

  test("G.711 tables: codes round-trip; JDK decode agrees exactly") {
    // encode(decode(code)) == code for every a-law code, and every µ-law
    // code except 0x7F (µ-law's negative zero normalizes to 0xFF)
    (0 until 256).foreach { c =>
      assert(Multimodal.alawEncode(Multimodal.alawDecode(c.toByte))
        === c.toByte, s"alaw code $c")
      if (c != 0x7F)
        assert(Multimodal.mulawEncode(Multimodal.mulawDecode(c.toByte))
          === c.toByte, s"ulaw code $c")
    }
    // JDK javax.sound decode of our G.711 WAV containers reproduces the
    // canonical reconstruction levels EXACTLY: a square wave at a level
    // that IS a codec output level has RMS == peak == that level
    for ((alaw, tag, code) <- Seq((true, "alaw", 0xAA.toByte),
      (false, "ulaw", 0x9D.toByte))) {
      val amp: Short =
        if (alaw) Multimodal.alawDecode(code) else Multimodal.mulawDecode(code)
      assert(amp > 0)
      val samples = Array.tabulate(160)(i =>
        if ((i / 4) % 2 == 0) amp else (-amp).toShort)
      val bytes = Multimodal.encodeG711Wav(8000, samples, alaw)
      val Some((gotTag, f)) = Multimodal.decodeAudioJdk(bytes)
      assert(gotTag === tag)
      assert(math.abs(f(0) - 8000f / 48000f) < 1e-9)
      assert(f(2) === amp / 32768.0f, s"$tag rms")   // exact
      assert(f(4) === amp / 32768.0f, s"$tag peak")  // exact
    }
    // AIFF (big-endian PCM16) decodes exactly too
    val amp: Short = 5000
    val samples = Array.tabulate(160)(i =>
      if ((i / 4) % 2 == 0) amp else (-amp).toShort)
    val Some((t2, f2)) =
      Multimodal.decodeAudioJdk(Multimodal.encodeAiff(8000, samples))
    assert(t2 === "aiff")
    assert(f2(2) === amp / 32768.0f && f2(4) === amp / 32768.0f)
    // non-audio bytes never reach the JDK parser
    assert(Multimodal.decodeAudioJdk("FORMless junk bytes".getBytes) === None)
    // dispatch: extractFeatures tags the three container families
    val media = Seq(
      (1L, "audio", Multimodal.encodeG711Wav(8000, samples, alaw = true)),
      (2L, "audio", Multimodal.encodeG711Wav(8000, samples, alaw = false)),
      (3L, "audio", Multimodal.encodeAiff(8000, samples)),
      (4L, "audio", Multimodal.encodeWav(8000, samples)))
      .toDF("media_id", "kind", "payload")
    val tags = Multimodal.extractFeatures(media).collect()
      .map(m => m.media_id -> m.codec).toMap
    assert(tags === Map(1L -> "alaw", 2L -> "ulaw", 3L -> "aiff",
      4L -> "wav"))
  }

  test("quality gate rejects short docs") {
    val short = Seq((9L, "tiny doc")).toDF("doc_id", "text")
    assert(short.select(TextOps.qualityOk(col("text"))).as[Boolean].head() === false)
    assert(docs.where(col("doc_id") === 0)
      .select(TextOps.qualityOk(col("text"))).as[Boolean].head() === true)
  }

  private def gradBmp(seed: Int, nudge: Int): Array[Byte] = {
    val w = 32; val h = 32
    val px = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      val base = (x * (3 + seed) + y * (5 + 2 * seed)) % 251
      (if (nudge >= 0 && x == nudge && y == nudge) (base + 40) % 251
       else base).toByte
    }
    Multimodal.encodeBmp(w, h, px)
  }

  test("pHash: identical BMPs collide, one-pixel nudges stay near") {
    def ph(b: Array[Byte]): Long = Multimodal.phashImage(b).get
    assert(ph(gradBmp(1, -1)) === ph(gradBmp(1, -1)))
    (0 until 8).foreach { n =>
      val d = java.lang.Long.bitCount(ph(gradBmp(1, -1)) ^ ph(gradBmp(1, n)))
      assert(d <= 6, s"nudge $n drifted $d bits")
    }
    // non-image payloads yield no hash (stub boundary, not a fake hash)
    assert(Multimodal.phashImage("not an image".getBytes) === None)
  }

  test("ImageIO: PNG round-trips losslessly; JPEG decodes close; resize") {
    val w = 32; val h = 24
    val px = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      math.min(250, x * 4 + y * 3 + (i % 3) * 9).toByte
    }
    val bmp = Multimodal.encodeBmp(w, h, px)
    val png = Multimodal.encodeImageIo("png", w, h, px)
    val jpg = Multimodal.encodeJpeg(w, h, px)
    assert(Multimodal.imageIoTag(png) === Some("png"))
    assert(Multimodal.imageIoTag(jpg) === Some("jpeg"))
    // PNG: bit-exact pixel round trip -> identical pHash to the BMP form
    val (pw, ph2, ppx) = Multimodal.decodeImagePixels(png).get
    assert((pw, ph2) === (w, h))
    assert(java.util.Arrays.equals(ppx, px))
    assert(Multimodal.phashImage(png) === Multimodal.phashImage(bmp))
    // JPEG: exact dims, decoded pixels near the source
    val (jw, jh, jpx) = Multimodal.decodeImagePixels(jpg).get
    assert((jw, jh) === (w, h))
    val meanErr = jpx.indices.map(i =>
      math.abs((jpx(i) & 0xFF) - (px(i) & 0xFF))).sum.toDouble / jpx.length
    assert(meanErr <= 4.0, s"jpeg mean abs err $meanErr")
    // format-preserving resize: PNG resize == BMP resize, pixel-equal
    val rp = Multimodal.decodeImagePixels(
      Multimodal.resizeImage(png, 8, 6).get).get
    val rb = Multimodal.decodeImagePixels(
      Multimodal.resizeImage(bmp, 8, 6).get).get
    assert(rp._1 === 8 && rp._2 === 6)
    assert(java.util.Arrays.equals(rp._3, rb._3))
    // resized JPEG re-encodes as JPEG, resized PNG as PNG
    assert(Multimodal.imageIoTag(
      Multimodal.resizeImage(jpg, 8, 6).get) === Some("jpeg"))
    assert(Multimodal.imageIoTag(
      Multimodal.resizeImage(png, 8, 6).get) === Some("png"))
    // extractFeatures tags the codec and carries real channel means
    val media = Seq((1L, "image", png), (2L, "image", jpg),
      (3L, "image", bmp)).toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).codec === "png")
    assert(feats(2L).codec === "jpeg")
    assert(feats(3L).codec === "bmp")
    // png features must equal bmp features exactly (same pixels)
    assert(feats(1L).feature.toSeq === feats(3L).feature.toSeq)
  }

  test("phashPairs: banded Hamming join equals brute force over hashes") {
    val rnd = new scala.util.Random(42)
    val media = (0 until 60).map { i =>
      (i.toLong, "image",
        gradBmp(i % 8, if (rnd.nextBoolean()) rnd.nextInt(8) else -1))
    }.toDF("media_id", "kind", "payload")
    val hs = Multimodal.imagePhashes(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hs.size === 60)
    val banded = Multimodal.phashPairs(media, maxHamming = 6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      a <- hs.keys; b <- hs.keys
      if a < b && java.lang.Long.bitCount(hs(a) ^ hs(b)) <= 6
    } yield (a, b)).toSet
    assert(brute.nonEmpty) // planted same-family variants must pair up
    assert(banded === brute)
  }

  test("GVID codec round-trips frames; corrupt containers are rejected") {
    val frames = (0 until 5).map(i => gradBmp(i, -1))
    val enc = Multimodal.encodeGvid(24, frames)
    val Some((fps, dec)) = Multimodal.decodeGvid(enc)
    assert(fps === 24 && dec.length === 5)
    dec.zip(frames).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    assert(Multimodal.decodeGvid("nope".getBytes) === None)
    // truncated frame-length header / oversized frame length
    assert(Multimodal.decodeGvid(enc.take(13)) === None)
    val bad = enc.clone(); bad(12) = 0x7F.toByte; bad(15) = 0x7F.toByte
    assert(Multimodal.decodeGvid(bad) === None)
  }

  test("sampleFrames explodes every k-th frame; non-video rows drop") {
    val vid = Multimodal.encodeGvid(4, (0 until 7).map(i => gradBmp(i, -1)))
    val media = Seq(
      (1L, "video", vid), (2L, "video", "mp4-ish".getBytes),
      (3L, "image", gradBmp(0, -1))
    ).toDF("media_id", "kind", "payload")
    val got = Multimodal.sampleFrames(media, everyK = 3)
      .select("media_id", "frame_idx").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 0L), (1L, 3L), (1L, 6L)))
    val feats = Multimodal.videoFrameFeatures(media, everyK = 3)
      .as[(Long, Long, Array[Float])].collect()
    assert(feats.length === 3 && feats.forall(_._3.length === 8))
  }

  test("IMA ADPCM: block-exact structure, bounded error, corrupt reject") {
    // smooth triangle wave — integer-exact input, ADPCM tracks it closely
    val n = 1600
    val pcm = Array.tabulate(n) { i =>
      val period = 160; val ph = i % period
      val tri = if (ph < period / 2) ph * 4 - period else 3 * period - ph * 4
      (tri * 80).toShort
    }
    val enc = Multimodal.encodeAdpcmWav(8000, pcm)
    val Some((rate, dec)) = Multimodal.decodeAdpcmWav(enc)
    assert(rate === 8000)
    assert(dec.length === n) // fact chunk trims block padding exactly
    // each block's first output sample is the header predictor verbatim
    assert(dec(0) === pcm(0) && dec(505) === pcm(505) &&
      dec(1010) === pcm(1010))
    // deterministic decode + bounded reconstruction error (4-bit lossy)
    val Some((_, dec2)) = Multimodal.decodeAdpcmWav(enc)
    assert(dec.toSeq === dec2.toSeq)
    val rmsErr = math.sqrt(pcm.indices.map { i =>
      val d = (dec(i) - pcm(i)).toDouble; d * d
    }.sum / n)
    val rmsSig = math.sqrt(pcm.map(s => s.toDouble * s).sum / n)
    assert(rmsErr < rmsSig / 20, s"rmsErr=$rmsErr rmsSig=$rmsSig")
    // >2:1 compression vs the 2-byte-per-sample PCM16 form (4:1 on the
    // data chunk; headers and the 4-byte block headers eat the rest)
    assert(enc.length < pcm.length)
    // dispatcher tags it; a PCM16 wav of the decode has the same RMS
    val media = Seq((1L, "audio", enc)).toDF("media_id", "kind", "payload")
    val m = Multimodal.extractFeatures(media).collect().head
    assert(m.codec === "adpcm")
    assert(math.abs(m.feature(1) - n.toFloat / 8000) < 1e-6) // exact seconds
    // corrupt containers are rejected, never looped or overread
    assert(Multimodal.decodeAdpcmWav("RIFFxxxxWAVE".getBytes) === None)
    val bad = enc.clone() // flip the fmt tag (le16 at offset 20) off 0x11
    bad(20) = 1.toByte; bad(21) = 1.toByte
    assert(Multimodal.decodeAdpcmWav(bad) === None)
    assert(Multimodal.decodeAdpcmWav(enc.take(40)) === None)
  }

  test("AVI: DIB frames round-trip losslessly; MJPEG decodes close") {
    val frames = (0 until 5).map(i => gradBmp(i, -1))
    // uncompressed DIB coding: decoded frames are bit-identical BMPs
    val dib = Multimodal.encodeAvi(12, frames, mjpeg = false)
    val Some((fps1, dec1)) = Multimodal.decodeAviFrames(dib)
    assert(fps1 === 12 && dec1.length === 5)
    dec1.zip(frames).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // MJPEG coding: real per-frame JPEG via ImageIO — dims exact, pixels
    // within JPEG error
    val mjpg = Multimodal.encodeAvi(12, frames, mjpeg = true)
    val Some((fps2, dec2)) = Multimodal.decodeAviFrames(mjpg)
    assert(fps2 === 12 && dec2.length === 5)
    dec2.zip(frames).foreach { case (a, b) =>
      val Some((wa, ha, pa)) = Multimodal.decodeBmpPixels(a)
      val Some((wb, hb, pb)) = Multimodal.decodeBmpPixels(b)
      assert(wa === wb && ha === hb)
      val meanAbs = pa.indices.map(i =>
        math.abs((pa(i) & 0xFF) - (pb(i) & 0xFF))).sum.toDouble / pa.length
      assert(meanAbs <= 4.0, s"mjpeg meanAbs=$meanAbs")
    }
    // sampleFrames demuxes AVI exactly like GVID (frames are plain BMPs)
    val media = Seq((7L, "video", dib)).toDF("media_id", "kind", "payload")
    val got = Multimodal.sampleFrames(media, everyK = 2)
      .select("media_id", "frame_idx").as[(Long, Long)].collect().toSet
    assert(got === Set((7L, 0L), (7L, 2L), (7L, 4L)))
    // rejects non-AVI RIFF and truncated/corrupt containers
    assert(Multimodal.decodeAviFrames("RIFF1234WAVE".getBytes) === None)
    assert(Multimodal.decodeAviFrames(dib.take(64)) === None)
  }

  test("audio fingerprint: gain-invariant, noise-robust, melody-sensitive") {
    val rate = 8000; val n = 8000
    // tones placed AT band centers: family f is the band pair
    // {3+2f, 56-2f} — every family's pair is disjoint from every
    // other's (f+g = 26.5 has no integer solution), so cross-family
    // Hamming is ≥ 4 while within-family variants measure 0
    def bandFreq(b: Int): Double = 300.0 * math.pow(0.45 * rate / 300.0, b / 63.0)
    def melody(fam: Int, noise: Int, gain: Double): Array[Byte] = {
      val f1 = bandFreq(3 + 2 * fam); val f2 = bandFreq(56 - 2 * fam)
      val pcm = Array.tabulate(n) { i =>
        val t = i.toDouble / rate
        val base = 6000 * math.sin(2 * math.Pi * f1 * t) +
          4000 * math.sin(2 * math.Pi * f2 * t + fam)
        val nz = if (noise == 0) 0.0
          else 300 * math.sin(2 * math.Pi * (1234.5 + 77 * noise) * t + noise)
        (gain * (base + nz)).toShort
      }
      Multimodal.encodeWav(rate, pcm)
    }
    def fp(b: Array[Byte]): Long = Multimodal.audioFingerprint(b).get
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // identical bytes → identical fingerprint; gain changes → exact
    // (both sides of the 20 dB-of-peak comparison scale together)
    assert(fp(melody(1, 0, 1.0)) === fp(melody(1, 0, 1.0)))
    assert(fp(melody(1, 0, 1.0)) === fp(melody(1, 0, 0.5)))
    assert(fp(melody(1, 0, 1.0)) === fp(melody(1, 0, 0.6)))
    // additive noise >20 dB below the tones → ≤1 bit; other melodies ≥4
    (0 until 4).foreach { fam =>
      val base = fp(melody(fam, 0, 1.0))
      assert(ham(base, fp(melody(fam, 3, 1.0))) <= 1,
        s"fam $fam noisy too far: ${ham(base, fp(melody(fam, 3, 1.0)))}")
      ((fam + 1) until 4).foreach { other =>
        assert(ham(base, fp(melody(other, 0, 1.0))) >= 4,
          s"fams $fam/$other too close")
      }
    }
    // the ADPCM round-trip (real lossy codec, noise ~26 dB down and
    // broadband) leaves the fingerprint near-dup-close
    val wav = melody(2, 0, 1.0)
    val Some((_, pcm)) = Multimodal.decodeAudioPcm(wav)
    val viaAdpcm = Multimodal.encodeAdpcmWav(rate, pcm)
    assert(ham(fp(wav), fp(viaAdpcm)) <= 2)
    // non-audio / too-short payloads produce no fingerprint
    assert(Multimodal.audioFingerprint("not audio".getBytes) === None)
    assert(Multimodal.audioFingerprint(
      Multimodal.encodeWav(rate, new Array[Short](100))) === None)
    // end-to-end near-dup pairs: 12 originals + noisy gain-scaled twins
    // — the banded join must recover every planted (orig, twin) pair
    // and no cross-family pair
    val media = (0 until 12).flatMap { k =>
      Seq((k.toLong, "audio", melody(k, 0, 1.0 - 0.02 * k)),
        (k + 100L, "audio", melody(k, k + 1, 0.7)))
    }.toDF("media_id", "kind", "payload")
    val pairs = Multimodal.audioDupPairs(media, maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 12).foreach { k =>
      assert(pairs.contains((k.toLong, k + 100L)) ||
        pairs.contains((k + 100L, k.toLong)), s"missing twin pair $k")
    }
    pairs.foreach { case (a, b) =>
      assert(a % 100 === b % 100, s"cross-family pair ($a,$b)")
    }
  }

  test("image augment: algebraic identities exact; crop regions exact") {
    val img = gradBmp(3, 5) // asymmetric content (nudged pixel)
    def px(b: Array[Byte]) = Multimodal.decodeBmpPixels(b).get
    // involutions: flip twice = identity, rot90 four times = identity
    val hh = Multimodal.flipImage(
      Multimodal.flipImage(img, horizontal = true).get, horizontal = true).get
    assert(px(hh)._3.toSeq === px(img)._3.toSeq)
    val vv = Multimodal.flipImage(
      Multimodal.flipImage(img, horizontal = false).get, horizontal = false).get
    assert(px(vv)._3.toSeq === px(img)._3.toSeq)
    val r4 = Iterator.iterate(img)(b => Multimodal.rotate90Image(b).get)
      .drop(4).next()
    assert(px(r4)._3.toSeq === px(img)._3.toSeq)
    // rot90 swaps dims; crop pulls the exact display region
    val r1 = Multimodal.rotate90Image(img).get
    assert(px(r1)._1 === 32 && px(r1)._2 === 32) // square here; use crop:
    val crop = Multimodal.cropImage(img, 4, 6, 10, 8).get
    val (cw, ch, cp) = px(crop)
    assert(cw === 10 && ch === 8)
    val (w, rows, ip) = px(img)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 10) {
        val sD = ((rows - 1 - (6 + y)) * w + (4 + x)) * 3
        val dD = ((ch - 1 - y) * cw + x) * 3
        assert(cp(dD) === ip(sD) && cp(dD + 1) === ip(sD + 1) &&
          cp(dD + 2) === ip(sD + 2), s"crop mismatch at ($x,$y)")
        x += 1
      }
      y += 1
    }
    // out-of-bounds crop and non-images reject
    assert(Multimodal.cropImage(img, 30, 30, 10, 10) === None)
    assert(Multimodal.flipImage("junk".getBytes, horizontal = true) === None)
    // distributed explode: 3 images × 3 variants, non-images drop
    val media = Seq((1L, gradBmp(1, -1)), (2L, gradBmp(2, -1)),
      (3L, "nope".getBytes), (4L, gradBmp(4, -1)))
      .toDF("media_id", "payload")
    val aug = Multimodal.augmentImages(media, Seq("hflip", "rot90", "rot180"))
      .select("media_id", "variant").as[(Long, String)].collect()
    assert(aug.length === 9 && !aug.exists(_._1 == 3L))
    intercept[IllegalArgumentException] {
      Multimodal.augmentImages(media, Seq("sepia"))
    }
  }

  test("audio conditioning: resample preserves tones; normalize exact peak") {
    // a band-limited tone resampled 8k->16k matches the directly
    // synthesized 16k tone (away from the edges, where the kernel is
    // one-sided)
    def tone(rate: Int, f: Double, amp: Double): Array[Short] =
      Array.tabulate(rate)(i =>
        (amp * math.sin(2 * math.Pi * f * i / rate)).toShort)
    val up = Multimodal.resamplePcm(tone(8000, 440.0, 12000), 8000, 16000)
    val ref = tone(16000, 440.0, 12000)
    assert(up.length === 16000)
    val errRms = math.sqrt((200 until 15800).map { i =>
      val d = (up(i) - ref(i)).toDouble; d * d
    }.sum / 15600)
    assert(errRms < 120.0, s"resample rms err $errRms") // ~40 dB down
    // downsample 16k->8k of an in-band tone
    val down = Multimodal.resamplePcm(tone(16000, 440.0, 12000), 16000, 8000)
    val ref8 = tone(8000, 440.0, 12000)
    val errDown = math.sqrt((100 until 7900).map { i =>
      val d = (down(i) - ref8(i)).toDouble; d * d
    }.sum / 7800)
    assert(errDown < 150.0, s"downsample rms err $errDown")
    // same-rate resample is the identity
    assert(Multimodal.resamplePcm(ref8, 8000, 8000).toSeq === ref8.toSeq)
    // peak normalization hits the target exactly
    val norm = Multimodal.normalizePcm(tone(8000, 440.0, 5000), 0.9)
    val peak = norm.map(s => math.abs(s.toInt)).max
    assert(math.abs(peak - math.rint(0.9 * 32767)) <= 1, s"peak $peak")
    assert(Multimodal.normalizePcm(new Array[Short](100)).forall(_ == 0))
    // end-to-end: mixed containers (ADPCM + FLAC + WAV) all condition
    // to the same rate/peak; non-audio passes through untouched
    val pcm = tone(8000, 523.25, 9000)
    val media = Seq(
      (1L, "audio", Multimodal.encodeWav(8000, pcm)),
      (2L, "audio", Multimodal.encodeAdpcmWav(8000, pcm)),
      (3L, "audio", Multimodal.encodeFlac(8000, pcm)),
      (4L, "image", gradBmp(0, -1)))
      .toDF("media_id", "kind", "payload")
    val cond = Multimodal.conditionAudio(media, 16000, 0.9)
      .as[(Long, String, Array[Byte])].collect()
      .map(r => r._1 -> r._3).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      val Some((r, p)) = Multimodal.decodeAudioPcm(cond(id))
      assert(r === 16000, s"row $id rate")
      val pk = p.map(s => math.abs(s.toInt)).max
      assert(math.abs(pk - math.rint(0.9 * 32767)) <= 1, s"row $id peak $pk")
    }
    assert(cond(4L).toSeq === gradBmp(0, -1).toSeq) // untouched
  }

  test("FLAC: bit-exact lossless round-trip; CRCs verified; compression") {
    val rate = 16000
    // several block-spanning signals with different predictor sweet
    // spots: smooth triangle (order 2-3), constant (order 0/constant),
    // noisy (order 0/verbatim-ish), and a length that is NOT a multiple
    // of the 4096 block size (exercises the short last frame)
    val rnd = new scala.util.Random(7)
    val signals = Seq(
      Array.tabulate(10000) { i =>
        val ph = i % 160
        ((if (ph < 80) ph * 4 - 160 else 480 - ph * 4) * 90).toShort
      },
      Array.fill[Short](5000)(1234),
      Array.tabulate(9001)(_ => (rnd.nextInt(65536) - 32768).toShort),
      Array.tabulate(4096)(i => (2000 * math.sin(i / 20.0)).toShort),
      Array.empty[Short])
    signals.zipWithIndex.foreach { case (pcm, k) =>
      val enc = Multimodal.encodeFlac(rate, pcm)
      val Some((r, dec)) = Multimodal.decodeFlac(enc)
      assert(r === rate, s"signal $k rate")
      assert(dec.toSeq === pcm.toSeq, s"signal $k not lossless")
    }
    // smooth content compresses well below PCM16 size
    val smooth = signals.head
    assert(Multimodal.encodeFlac(rate, smooth).length < smooth.length,
      "triangle should compress < 1 byte/sample")
    // corrupting a data byte breaks a CRC → decode rejects
    val enc = Multimodal.encodeFlac(rate, smooth)
    val bad = enc.clone(); bad(enc.length / 2) = (bad(enc.length / 2) ^ 0x40).toByte
    assert(Multimodal.decodeFlac(bad) === None)
    assert(Multimodal.decodeFlac("not flac".getBytes) === None)
    // dispatcher tags it; cross-codec fingerprint EXACT equality with
    // the same samples as WAV (lossless ⇒ identical spectra)
    val media = Seq((1L, "audio", enc)).toDF("media_id", "kind", "payload")
    assert(Multimodal.extractFeatures(media).collect().head.codec === "flac")
    val wav = Multimodal.encodeWav(rate, smooth)
    assert(Multimodal.audioFingerprint(enc) === Multimodal.audioFingerprint(wav))
  }

  test("video fingerprint: re-encodes collide, distinct clips diverge") {
    def clip(seed: Int): IndexedSeq[Array[Byte]] =
      (0 until 6).map(f => gradBmp(seed * 7 + f, -1))
    def fp(b: Array[Byte]): Long = Multimodal.videoFingerprint(b).get
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val frames = clip(1)
    val gvid = Multimodal.encodeGvid(12, frames)
    val dib = Multimodal.encodeAvi(12, frames, mjpeg = false)
    val mjpg = Multimodal.encodeAvi(12, frames, mjpeg = true)
    // same frames in different containers → identical fingerprint;
    // MJPEG re-encode (lossy) → pHash-close per frame, majority absorbs
    assert(fp(gvid) === fp(dib))
    assert(ham(fp(gvid), fp(mjpg)) <= 6, s"mjpeg ${ham(fp(gvid), fp(mjpg))}")
    // distinct clips diverge (pHash families are far apart)
    (2 to 4).foreach { s =>
      val other = Multimodal.encodeGvid(12, clip(s))
      assert(ham(fp(gvid), fp(other)) > 12, s"clip $s too close")
    }
    // undecodable → None
    assert(Multimodal.videoFingerprint("not video".getBytes) === None)
    // end-to-end: 8 clips × (GVID, DIB, MJPEG) — the banded join must
    // recover all 3 within-clip pairs per family and nothing cross
    val media = (0 until 8).flatMap { k =>
      val fs = clip(k + 10)
      Seq((k * 10L, "video", Multimodal.encodeGvid(12, fs)),
        (k * 10 + 1L, "video", Multimodal.encodeAvi(12, fs, mjpeg = false)),
        (k * 10 + 2L, "video", Multimodal.encodeAvi(12, fs, mjpeg = true)))
    }.toDF("media_id", "kind", "payload")
    val pairs = Multimodal.videoDupPairs(media, maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 8).foreach { k =>
      val ids = Set(k * 10L, k * 10 + 1L, k * 10 + 2L)
      val within = pairs.filter(p => ids(p._1) && ids(p._2))
      assert(within.size === 3, s"family $k pairs: $within")
    }
    pairs.foreach { case (a, b) =>
      assert(a / 10 === b / 10, s"cross-clip pair ($a,$b)")
    }
  }

  test("ivfAppendQuantized: append equals union store; finds new vectors") {
    import org.apache.commons.io.FileUtils
    val rnd = new scala.util.Random(31)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val base = mk(0 until 40)
    val dir1 = java.nio.file.Files.createTempDirectory("ivfapp1").toString
    Similarity.ivfWriteQuantized(base, dir1, "vec_id", "embedding", nCells = 4)
    // identical starting store (byte copy — no reliance on kmeans
    // determinism across training runs)
    val dir2 = dir1 + "_copy"
    FileUtils.copyDirectory(new java.io.File(dir1), new java.io.File(dir2))
    // batchA wholesale into dir1; the same rows in two batches into dir2
    // (id 129 is an exact clone of id 120 — probing one must return the
    // other first, proving appended rows are retrievable)
    val extraRows = (100 until 129).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val extra = (extraRows :+ (129L, extraRows(20)._2.clone()))
      .toDF("vec_id", "embedding")
    Similarity.ivfAppendQuantized(extra, dir1, "vec_id", "embedding")
    Similarity.ivfAppendQuantized(extra.where(col("vec_id") < 115), dir2,
      "vec_id", "embedding")
    Similarity.ivfAppendQuantized(extra.where(col("vec_id") >= 115), dir2,
      "vec_id", "embedding")
    val probes = base.where(col("vec_id") < 3)
      .union(extra.where(col("vec_id") === 120L))
    def probe(dir: String) = Similarity.ivfStoreTopKQuantized(spark, dir,
        probes, "vec_id", "embedding", k = 3, nprobe = 4, rerank = 20)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val p1 = probe(dir1); val p2 = probe(dir2)
    assert(p1 === p2) // batch split must not change any result
    // an appended vector probing for its appended exact clone (self-
    // matches are excluded by the probe by design) must rank it first
    val self = Similarity.ivfStoreTopKQuantized(spark, dir1,
        extra.where(col("vec_id") === 120L), "vec_id", "embedding",
        k = 1, nprobe = 4, rerank = 20)
      .select("id").as[Long].collect().toSeq
    assert(self === Seq(129L))
    // and the probe matches exact brute force over the full union
    val exact = Similarity.batchTopK(base.union(extra), probes,
        "vec_id", "embedding", k = 3)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(p1 === exact)
    FileUtils.deleteQuietly(new java.io.File(dir1))
    FileUtils.deleteQuietly(new java.io.File(dir2))
  }

  test("bigramFamiliarity scores by mean corpus bigram frequency") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"),           // bigrams: "the cat", "cat sat"
      (2L, "the cat ran"),           // "the cat", "cat ran"
      (3L, "zq xv"),                 // "zq xv" — unique, familiarity 1
      (4L, "solo"),                  // < 2 tokens: dropped
      (5L, "")                       // blank: dropped
    ).toDF("doc_id", "text")
    val got = TextOps.bigramFamiliarity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "the cat" occurs twice corpus-wide; "cat sat"/"cat ran" once each
    assert(got(1L) === ((2L, 2L, (2.0 + 1.0) / 2)))
    assert(got(2L) === ((2L, 2L, (2.0 + 1.0) / 2)))
    assert(got(3L) === ((1L, 1L, 1.0)))
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("bigramFamiliarity counts repeated bigrams per occurrence") {
    import spark.implicits._
    val docs = Seq((1L, "go go go")).toDF("doc_id", "text")
    // bigrams: "go go" x2 -> freq("go go") = 2, sum = 4, n = 2
    val got = TextOps.bigramFamiliarity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().head
    assert(got === ((1L, 2L, 1L, 2.0)))
  }

  test("bm25TopK matches a hand-computed score and ranks by it") {
    import spark.implicits._
    // corpus: N=3, dl = 3,2,4, avgdl = 3.0; term "cat": df=2,
    // tf(d1)=1, tf(d3)=2; term "dog": df=1, tf(d2)=1
    val docs = Seq(
      (1L, "the cat sat"), (2L, "a dog"), (3L, "cat cat mat hat")
    ).toDF("doc_id", "text")
    def score(tf: Double, df: Double, dl: Double): Double = {
      val n = 3.0; val k1 = 1.2; val b = 0.75; val avgdl = 3.0
      ((n - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1.0)) /
        (tf + k1 * (1.0 - b + b * (dl / avgdl)))
    }
    val got = TextOps.bm25TopK(docs, "doc_id", "text", Seq("cat", "dog"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet === Set(("cat", 1L), ("cat", 3L), ("dog", 2L)))
    assert(math.abs(got(("cat", 3L))._2 - score(2, 2, 4)) < 1e-12)
    assert(math.abs(got(("cat", 1L))._2 - score(1, 2, 3)) < 1e-12)
    assert(math.abs(got(("dog", 2L))._2 - score(1, 1, 2)) < 1e-12)
    // tf=2 beats tf=1 for "cat" despite the longer doc
    assert(got(("cat", 3L))._1 === 1L && got(("cat", 1L))._1 === 2L)
  }

  test("skipgramCounts: symmetric window pairs with exact 1/d weights") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val got = TextOps.skipgramCounts(docs, "doc_id", "text", window = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // forward pairs (d<=2): (a,b,1) (a,c,2) (b,c,1) (b,a,2) (c,a,1)
    assert(got === Map(
      ("a", "b") -> ((2L, 1.5)), ("b", "a") -> ((2L, 1.5)),
      ("a", "c") -> ((2L, 1.5)), ("c", "a") -> ((2L, 1.5)),
      ("b", "c") -> ((1L, 1.0)), ("c", "b") -> ((1L, 1.0))))
  }

  test("skipgramCounts spans docs independently and skips blanks") {
    import spark.implicits._
    val docs = Seq((1L, "x y"), (2L, "y x"), (3L, ""), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.skipgramCounts(docs, "doc_id", "text", window = 3)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // (x,y) once per doc 1 and doc 2 (symmetrized), never across docs
    assert(got === Map(("x", "y") -> ((2L, 2.0)), ("y", "x") -> ((2L, 2.0))))
  }

  test("bm25TopK caps at k and breaks score ties by ascending doc id") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, "same text here"))
      .toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, "doc_id", "text", Seq("same"), k = 5)
      .as[(String, Long, Long, Double)].collect().sortBy(_._3)
    assert(got.length === 5)
    assert(got.map(_._2).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("dedupLines drops only boilerplate lines and keeps order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cookie banner\nreal content one\nfooter"),
      (2L, "cookie banner\nreal content two\nfooter"),
      (3L, "cookie banner\nunique text\nmore unique"),
      (4L, "all original\nnothing shared")
    ).toDF("doc_id", "text")
    val got = TextOps.dedupLines(docs, "doc_id", "text", maxDocs = 1)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "cookie banner" (3 docs) and "footer" (2 docs) are boilerplate
    assert(got(1L) === (("real content one", 3L, 1L)))
    assert(got(2L) === (("real content two", 3L, 1L)))
    assert(got(3L) === (("unique text\nmore unique", 3L, 2L)))
    assert(got(4L) === (("all original\nnothing shared", 2L, 2L)))
  }

  test("dedupLines keeps fully-scrubbed docs with empty text") {
    import spark.implicits._
    val docs = Seq((1L, "same\nsame2"), (2L, "same\nsame2"))
      .toDF("doc_id", "text")
    val got = TextOps.dedupLines(docs, "doc_id", "text", maxDocs = 1)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got === Set((1L, "", 2L, 0L), (2L, "", 2L, 0L)))
  }

  test("removeFrequentLines counts DISTINCT docs, not occurrences") {
    import spark.implicits._
    // the line repeats 3 times but inside ONE doc — never boilerplate
    val lines = Seq((1L, 0L, "x"), (1L, 1L, "x"), (1L, 2L, "x"))
      .toDF("doc_id", "line_no", "line")
    val got = TextOps.removeFrequentLines(lines, "doc_id", "line_no",
        "line", maxDocs = 1)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got === Set((1L, "x\nx\nx", 3L, 3L)))
  }

  test("hashedTf buckets are stable and tf sums to the token count") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, ""), (3L, "a")).toDF("doc_id", "text")
    val rows = TextOps.hashedTf(docs, "doc_id", "text", dim = 16)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall(r => r._2 >= 0 && r._2 < 16))
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perDoc === Map(1L -> 4L, 3L -> 1L)) // blank doc has no rows
    // same token -> same bucket on both docs
    val bucketOfA1 = rows.filter(r => r._1 == 3L).head._2
    assert(rows.filter(r => r._1 == 1L).map(_._2).contains(bucketOfA1))
  }

  test("hashedTfVectors densifies to dim with zeros for empty buckets") {
    import spark.implicits._
    val docs = Seq((1L, "a b a")).toDF("doc_id", "text")
    val vec = TextOps.hashedTfVectors(docs, "doc_id", "text", dim = 8)
      .as[(Long, Seq[Long])].collect().head._2
    assert(vec.length === 8)
    assert(vec.sum === 3L) // total tf preserved
    assert(vec.count(_ > 0) <= 2) // at most 2 distinct buckets
    // dense form agrees with the exploded form bucket by bucket
    val exploded = TextOps.hashedTf(docs, "doc_id", "text", dim = 8)
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    vec.zipWithIndex.foreach { case (tf, b) =>
      assert(tf === exploded.getOrElse(b.toLong, 0L))
    }
  }

  test("heavyHitters guarantee holds on a skewed random stream") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // zipf-ish: value v chosen with weight ~ 1/(v+1)
    val vals = (1 to 20000).map { _ =>
      val r = rnd.nextDouble()
      val v = math.min((1.0 / (1.0 - r * 0.999) - 1.0).toInt, 200)
      s"v$v"
    }
    val df = vals.toDF("v").repartition(8)
    val k = 10
    val mg = TextOps.heavyHitters(df, "v", k).as[(String, Long)]
      .collect().toMap
    assert(mg.size <= k)
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = vals.size.toLong
    val heavies = exact.filter { case (_, c) => c * (k + 1L) > n }
    assert(heavies.nonEmpty) // the test must exercise the guarantee
    heavies.keySet.foreach(h => assert(mg.contains(h), s"missing heavy $h"))
    mg.foreach { case (v, est) =>
      val c = exact(v)
      assert(est <= c && (c - est) * (k + 1L) <= n,
        s"estimate bound violated for $v: est=$est true=$c")
    }
  }

  test("heavyHitters on fewer than k distinct values is exact") {
    import spark.implicits._
    val df = (Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(3)("c"))
      .toDF("v").repartition(4)
    val mg = TextOps.heavyHitters(df, "v", k = 8).as[(String, Long)]
      .collect().toMap
    assert(mg === Map("a" -> 30L, "b" -> 20L, "c" -> 3L))
  }

  test("heavyHitters of an empty input is empty") {
    import spark.implicits._
    val df = Seq.empty[String].toDF("v")
    assert(TextOps.heavyHitters(df, "v", k = 4).count() === 0L)
  }

  test("mgMergeSummaries: compression rule and merged guarantee") {
    // summed: x5 y4 z4 w2 at k=2 → cut = 3rd largest (4): x→1, rest drop
    val merged = TextOps.mgMergeSummaries(
      Seq("x" -> 5L, "y" -> 3L), Seq("z" -> 4L, "w" -> 2L, "y" -> 1L), 2)
    assert(merged === Seq("x" -> 1L))
    // ≤ k entries after merge: no compression, exact pointwise sum
    assert(TextOps.mgMergeSummaries(Seq("a" -> 2L), Seq("a" -> 3L), 2)
      === Seq("a" -> 5L))
    // merged guarantee over a split stream: per-half MG summaries
    // merged must keep the additive bound of the concatenation
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(400)(s"v${rnd.nextInt(12)}") ++
      Seq.fill(300)("hot") ++ Seq.fill(200)("warm")
    val (h1, h2) = vals.splitAt(vals.size / 2)
    val k = 4
    def mg(xs: Seq[String]) =
      TextOps.heavyHitters(xs.toDF("v"), "v", k).as[(String, Long)]
        .collect().toSeq
    val m = TextOps.mgMergeSummaries(mg(h1), mg(h2), k).toMap
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = vals.size.toLong
    exact.foreach { case (v, c) =>
      if (c * (k + 1L) > n) assert(m.contains(v), s"missing heavy $v")
    }
    m.foreach { case (v, est) =>
      val c = exact(v)
      assert(est <= c && (c - est) * (k + 1L) <= n, s"bound at $v")
    }
  }

  test("countMinSketch: one-sided error, exact without collisions") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb aa cc"), (2L, "aa dd dd ee"),
      (3L, "aa bb ff")).toDF("id", "text")
    val wc = TextOps.wordCounts(docs, "text")
    val exact = wc.as[(String, Long)].collect().toMap
    assert(exact === Map("aa" -> 4L, "bb" -> 2L, "cc" -> 1L, "dd" -> 2L,
      "ee" -> 1L, "ff" -> 1L))
    // wide sketch: 6 terms over 4x4096 cells collide nowhere, so every
    // estimate is exact
    val wide = TextOps.countMinSketch(wc, depth = 4, width = 4096)
    val estWide = TextOps.cmsEstimates(wide, wc, "term", 4, 4096)
      .as[(String, Long)].collect().toMap
    assert(estWide === exact)
    // brutal 2-cell width forces collisions: the one-sided guarantee
    // (est >= true) must still hold for every term
    val tiny = TextOps.countMinSketch(wc, depth = 3, width = 2)
    val estTiny = TextOps.cmsEstimates(tiny, wc, "term", 3, 2)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (t, c) => assert(estTiny(t) >= c, t) }
    // sketches merge by cell-wise addition: sketch(a ++ b) ==
    // cellwise-sum(sketch(a), sketch(b))
    val (h, t2) = (docs.where($"id" <= 1), docs.where($"id" > 1))
    val merged = TextOps.countMinSketch(TextOps.wordCounts(h, "text"), 3, 8)
      .unionByName(TextOps.countMinSketch(TextOps.wordCounts(t2, "text"), 3, 8))
      .groupBy("j", "c").agg(sum("cnt").as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = TextOps.countMinSketch(wc, 3, 8)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === whole)
  }

  test("cmsContract returns true on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (1 to 200).map(i => (i.toLong,
      (0 until 30).map(_ => s"w${rnd.nextInt(300)}").mkString(" ")))
      .toDF("id", "text")
    val r = TextOps.cmsContract(docs, "text").collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getLong(2) === 6000L)
  }

  test("minhash store: probe equals crossPairs; append visible; mh pushed") {
    import spark.implicits._
    val mk = (i: Long, t: String) => (i, t)
    val corpus = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog again and again"),
      mk(2L, "completely different content about spark catalyst planning"),
      mk(3L, "a third document with its own unrelated words entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      mk(101L, "the quick brown fox jumps over the lazy dog again and again"),
      mk(102L, "nothing in common with anything stored at all whatsoever"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("mhstore").toString
    Dedup.minhashStoreWrite(corpus, dir, "doc_id", "text")
    val probe = Dedup.minhashStoreProbe(spark, dir, batch,
      "doc_id", "text")
    val exact = Dedup.crossPairs(corpus, batch, "doc_id", "text")
    assert(probe.exceptAll(exact).count() == 0 &&
      exact.exceptAll(probe).count() == 0)
    assert(probe.count() == 1) // only the planted near-dup pair
    // the literal path pushes the mh point lookups into the parquet scan
    val postings = spark.read.parquet(s"$dir/postings")
      .where(col("mh").isin(1L, 2L, 3L))
    val scanText = postings.queryExecution.executedPlan.toString
    assert(scanText.contains("PushedFilters") &&
      scanText.contains("In(mh"), scanText.take(500))
    // append a new near-dup of doc 3; a fresh probe must see it
    Dedup.minhashStoreAppend(
      Seq(mk(4L, "a third document with its own unrelated words entirely"))
        .toDF("doc_id", "text"), dir, "doc_id", "text")
    val probe2 = Dedup.minhashStoreProbe(spark, dir,
      Seq(mk(103L, "a third document with its own unrelated words entirely"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(probe2.select("corpus_id").as[Long].collect().toSet
      === Set(3L, 4L))
    // the big-batch fallback path returns the same rows
    val probeJoin = Dedup.minhashStoreProbe(spark, dir, batch,
      "doc_id", "text", maxLiteralProbes = 0)
    val probeLit = Dedup.minhashStoreProbe(spark, dir, batch,
      "doc_id", "text")
    assert(probeJoin.exceptAll(probeLit).count() == 0 &&
      probeLit.exceptAll(probeJoin).count() == 0)
  }

  test("hashSampleQuantiles: deciles equal the sequential computation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1 to 500).map(i => (i.toLong,
      (0 until 1 + rnd.nextInt(40)).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextOps.hashSampleQuantiles(docs, "doc_id", "text", denom = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // sequential reference: same md5 sample, same (v, id) order, same
    // ceil-rank selection
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15), 16)
    val lens = docs.as[(Long, String)].collect()
      .filter { case (id, _) => h60(id.toString) % 4 == 0 }
      .map { case (id, t) => (t.split(" ").length.toLong, id) }
      .sorted
    val n = lens.length.toLong
    assert(n > 50) // the 1/4 sample actually sampled
    val expect = (1L to 9L).map(d =>
      (d, n, lens(((d * n + 9) / 10).toInt - 1)._1))
    assert(got.toSeq === expect)
    // sample sizes are what 1/denom predicts, coarsely
    val n16 = TextOps.hashSampleQuantiles(docs, "doc_id", "text")
      .head.getLong(1)
    assert(n16 > 10 && n16 < 70)
  }

  test("topCoOccur: shared-item ranking, symmetric, capped variant") {
    import spark.implicits._
    import graft.analytics.CoOccur
    // u1/u2 share {a,b,c}; u1/u3 share {a,b}; u2/u3 share {a,b};
    // u4 shares only {a} with everyone (below minShared)
    val rows = Seq(
      ("u1", "a"), ("u1", "b"), ("u1", "c"), ("u1", "c"), // dup collapses
      ("u2", "a"), ("u2", "b"), ("u2", "c"),
      ("u3", "a"), ("u3", "b"),
      ("u4", "a")).toDF("u", "i")
    val got = CoOccur.topCoOccur(rows, "u", "i", k = 2, minShared = 2L)
      .as[(String, String, Long, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    assert(got(("u1", 1)) === (("u2", 3L))) // strongest first
    assert(got(("u1", 2)) === (("u3", 2L)))
    assert(got(("u2", 1)) === (("u1", 3L)))
    assert(got(("u3", 1)) === (("u1", 2L))) // tie with u2 -> min partner
    assert(got(("u3", 2)) === (("u2", 2L)))
    assert(!got.keySet.exists(_._1 == "u4"))
    // capping each item at 2 entities prunes pairs deterministically:
    // result is still a subset of the uncapped pair structure
    val capped = CoOccur.topCoOccur(rows, "u", "i", k = 2,
      minShared = 1L, maxPerItem = 2)
      .as[(String, String, Long, Int)].collect()
    capped.foreach { case (a, b, shared, _) =>
      assert(shared >= 1L && a != b)
    }
  }

  test("sampleByWeight: deterministic, biased toward heavy weights") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, 1.0), (3L, 1.0), (4L, 0.0))
      .toDF("id", "w")
    // zero-weight rows never sampled; k > eligible returns all eligible
    val all = TextOps.sampleByWeight(df, "id", "w", k = 10)
      .select("id").as[Long].collect().toSet
    assert(all === Set(1L, 2L, 3L))
    // k=1 across 100 salts: P(pick heavy) = 10/12, expect ~83 hits
    val hits = (0 until 100).count { s =>
      TextOps.sampleByWeight(df, "id", "w", k = 1, salt = s"s$s")
        .select("id").as[Long].head() == 1L
    }
    assert(hits >= 65 && hits <= 97, s"heavy item sampled $hits/100")
    // same salt -> same draw
    val a = TextOps.sampleByWeight(df, "id", "w", 2, "z").select("id")
      .as[Long].collect().toSet
    val b = TextOps.sampleByWeight(df, "id", "w", 2, "z").select("id")
      .as[Long].collect().toSet
    assert(a === b)
  }

  test("blocklistIds matches literal phrases, escaping metacharacters") {
    import spark.implicits._
    val docs = Seq((1L, "the (a+b) formula"), (2L, "clean doc"),
      (3L, "contains SLOW  Join here")).toDF("doc_id", "text")
    val hits = TextOps.blocklistIds(docs, "doc_id", "text",
      Seq("(a+b)", "slow join")).as[Long].collect().toSet
    // normalization lowercases and squeezes whitespace before the scan;
    // regex metacharacters in phrases stay literal
    assert(hits === Set(1L, 3L))
  }

  test("randomProject: JL sign projection bounds inner-product error") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 64; val outDim = 16
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val df = vecs.toDF("id", "v")
    val proj = Similarity.randomProject(df, "id", "v", dim, outDim)
      .as[(Long, Array[Double])].collect().toMap
    val r = Similarity.projectionMatrix(dim, outDim)
    // distributed projection == driver matrix multiply (same literals)
    vecs.foreach { case (id, v) =>
      val expect = r.map(row => row.zip(v).map(p => p._1 * p._2).sum)
      proj(id).zip(expect).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9)
      }
    }
    // JL guarantee, empirically with this fixed seed: the error std is
    // |x||y|/sqrt(outDim) — demand the MEAN normalized error near its
    // expectation (~0.8/sqrt(k)) and the max within the 5-sigma tail
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val errs = for ((ia, va) <- vecs; (ib, vb) <- vecs if ia < ib) yield {
      val ipTrue = va.zip(vb).map(p => p._1 * p._2).sum
      val ipProj = proj(ia).zip(proj(ib)).map(p => p._1 * p._2).sum
      math.abs(ipProj - ipTrue) / (norm(va) * norm(vb))
    }
    val k = math.sqrt(outDim.toDouble)
    assert(errs.sum / errs.size <= 1.5 / k)
    assert(errs.max <= 5.0 / k)
  }

  test("principalComponents recovers a planted dominant direction") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 16
    // isotropic noise + a 5x-stretched planted axis u
    val u = {
      val x = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(x.map(a => a * a).sum); x.map(_ / n)
    }
    val vecs = (0 until 300).map { i =>
      val g = Array.fill(dim)(rnd.nextGaussian())
      val a = 5.0 * rnd.nextGaussian()
      (i.toLong, (0 until dim).map(j => (g(j) + a * u(j)).toFloat).toArray)
    }
    val df = vecs.toDF("id", "v").cache()
    val comps = Similarity.principalComponents(df, "id", "v", dim,
      nComponents = 2, iters = 30)
    val cos = math.abs(comps(0).zip(u).map(t => t._1 * t._2).sum)
    assert(cos > 0.99, s"top component misaligned: cos=$cos")
    // orthonormal rows
    comps.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9)
    }
    assert(math.abs(comps(0).zip(comps(1)).map(t => t._1 * t._2).sum) < 1e-6)
    // contract harness agrees
    val r = Similarity.pcaContract(df, "id", "v", dim).collect()(0)
    assert(r.getBoolean(0) && r.getLong(1) === 300L)
  }

  test("rpMeanRecallAtK holds on clustered synthetic embeddings") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val dim = 64
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("id", "v")
    val ok = Similarity.rpMeanRecallAtK(df, df.where(col("id") < 8),
      "id", "v", dim, k = 10, minMeanRecall = 0.8)
      .head.getBoolean(0)
    assert(ok)
  }

  test("trainLogReg learns a planted separator (realizable case)") {
    import spark.implicits._
    // 2-feature AND-ish target: y = [x0 - x1 > 0]; rows in hashedTf shape
    val rnd = new scala.util.Random(5)
    val docs = (1 to 300).map { i =>
      val a = rnd.nextInt(6).toLong; val b = rnd.nextInt(6).toLong
      (i.toLong, a, b, if (a - b > 0) 1.0 else 0.0)
    }
    val rows = docs.flatMap { case (id, a, b, _) =>
      Seq((id, 0L, a), (id, 1L, b)).filter(_._3 > 0)
    }.toDF("id", "bucket", "tf")
    val labels = docs.map(d => (d._1, d._4)).toDF("id", "y")
    val w = LinearModel.trainLogReg(rows, labels, dim = 2, iters = 120,
      lr = 1.0)
    val acc = LinearModel.predict(rows, w).join(labels, "id")
      .agg(avg(when(col("pred") === (col("y") > 0.5), 1.0).otherwise(0.0)))
      .head.getDouble(0)
    assert(acc >= 0.95, s"train accuracy $acc, w=${w.toSeq}")
  }

  test("logRegContract returns true on a word-salad corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val docs = (1 to 400).map(i => (i.toLong,
      (0 until 40).map(_ => s"w${rnd.nextInt(150)}").mkString(" ")))
      .toDF("doc_id", "text")
    val r = LinearModel.logRegContract(docs, "doc_id", "text").collect()(0)
    assert(r.getBoolean(0), s"contract failed: ${r.toSeq}")
    // 154 of the 400 docs fall inside the planted margin gap
    assert(r.getLong(1) === 192L && r.getLong(2) === 54L)
  }

  test("containmentJoin finds near-subsets that Jaccard misses") {
    import spark.implicits._
    val small = "the quick brown fox jumps over the lazy dog"
    val big = small + " " + (1 to 40)
      .map(i => s"filler sentence number $i with extra words").mkString(" ")
    val docs = Seq((1L, small), (2L, big),
      (3L, "totally unrelated content about spark plans and shuffles"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, "doc_id", "text",
        threshold = 0.8, shingleN = 9)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // 1 is fully inside 2 (containment ~1.0); the reverse direction and
    // every pair with 3 are far below threshold; Jaccard(1,2) is tiny
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) >= 0.95)
    val jac = Dedup.jaccardJoin(docs, "doc_id", "text",
      threshold = 0.5, shingleN = 9)
    assert(jac.count() === 0)
  }

  test("hllSketch: estimate within HLL error; registers merge by max") {
    import spark.implicits._
    // 5000 distinct tokens spread over 500 docs; duplicates must not
    // move any register (cardinality sketch, not a frequency sketch)
    val docs = (0 until 500).map(i => (i.toLong,
      (0 until 10).map(j => s"tok${i * 10 + j}").mkString(" ") +
        " common repeated words"))
      .toDF("doc_id", "text")
    val sk = TextOps.hllSketch(docs, "text").cache()
    assert(sk.count() === 64)
    val est = sk.select("estimate").head.getDouble(0)
    val exact = 5003.0 // 5000 + common, repeated, words
    // m=64 gives sigma ~ 1.04/8 = 13%; 3 sigma ~ 40%
    assert(math.abs(est - exact) / exact < 0.4, s"estimate $est")
    // register merge = max: sketch(A union B) == cellwise max
    val a = docs.where(col("doc_id") < 250)
    val b = docs.where(col("doc_id") >= 250)
    val merged = TextOps.hllRegisters(a, "text")
      .withColumnRenamed("register", "ra")
      .join(TextOps.hllRegisters(b, "text")
        .withColumnRenamed("register", "rb"), "bucket")
      .select(col("bucket"), greatest(col("ra"), col("rb")).as("register"))
    val whole = TextOps.hllRegisters(docs, "text")
    assert(merged.exceptAll(whole).count() == 0 &&
      whole.exceptAll(merged).count() == 0)
    sk.unpersist()
  }
}
