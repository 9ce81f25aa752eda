package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import graft.core.Graph.cacheOnce

/** Deduplication for large text corpora. Four tiers, cheapest first:
  * exact (hash group-by), SimHash (bitwise near-dup), MinHash+LSH
  * (Jaccard near-dup), embedding-cosine (semantic near-dup in
  * Similarity.scala). All signature computation is per-row column
  * expressions (codegen'd, embarrassingly parallel); only bucket joins
  * shuffle — and they shuffle signatures (bytes), never documents. At
  * 100 TB that means one wide scan + a shuffle of ~1% of the input width.
  *
  * Every near-dup operator here ends in an EXACT verification stage, so the
  * output is a deterministic, SQL-expressible contract (the DuckDB oracle
  * recomputes it brute-force): LSH only generates candidates, it never
  * decides membership.
  */
object Dedup {
  /** Hash-partition docs by id BEFORE an explode, with an explicit
    * partition count: the pre-explode row count is small (often one input
    * split), so without this the explode AND every per-id aggregate after
    * it run serialized — and an explicit count is required because AQE
    * happily coalesces a column-only repartition of a few MB of docs back
    * into one partition, re-serializing the ~100× larger exploded stream.
    * Per-id aggregates/dedups downstream reuse this partitioning with no
    * shuffle of the exploded rows.
    *
    * Worth it for the BIG explodes (char shingles ~300 rows/doc, token
    * rows); measured NOT worth it for word shingles (~50 rows/doc), where
    * the extra stage costs more than the small post-explode shuffle it
    * saves — wordShingleRows deliberately skips it.
    */
  private def byId(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col("id"))
  /** Exact dedup: canonical-form fingerprint, keep lowest id per group.
    * One hash-aggregate shuffle; with AQE skew handling for pathological
    * duplicate counts.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(idCol).as(idCol))

  /** Character n-gram shingles of the canonical text (distinct). */
  def shingles(text: Column, n: Int = 5): Column = {
    val t = TextOps.normalize(text)
    array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => t.substr(i, lit(n))))
  }

  /** Word n-gram shingles of the canonical text (distinct); texts shorter
    * than n words collapse to one whole-text shingle. Cuts shingle-row
    * volume ~5× vs character shingles at the same dedup quality for prose.
    */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = split(TextOps.normalize(text), " ")
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  /** Word-shingle rows `(id, h)` — one row per shingle occurrence, shingle
    * identity as its xxhash64. Built entirely from codegen'd expressions:
    * explode a position sequence, then `concat_ws` over `element_at`s —
    * no higher-order functions (Catalyst evaluates HOF lambdas interpreted,
    * which is the difference between ~1 s and ~6 s at 5k docs and a stall
    * at scale). Duplicates are kept (min-agg and collect_set don't care).
    */
  def wordShingleRows(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val toks = split(TextOps.normalize(col(textCol)), " ")
    df.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - n, lit(0))))
          .as("i"))
      .select(col("id"), xxhash64(
        when(size(col("toks")) < n, array_join(col("toks"), " "))
          .otherwise(concat_ws(" ",
            (0 until n).map(j => element_at(col("toks"), col("i") + (j + 1))): _*)))
        .as("h"))
  }

  /** Char-n-gram rows `(id, h)`, same codegen-only construction. */
  def charShingleRows(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5): DataFrame = {
    val t = TextOps.normalize(col(textCol))
    byId(df.select(col(idCol).as("id"), t.as("t")))
      .select(col("id"), col("t"),
        explode(sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))))
          .as("i"))
      .select(col("id"), xxhash64(col("t").substr(col("i"), lit(n))).as("h"))
  }

  /** Distinct hashed shingle set per doc, SORTED:
    * `(id, sh: array<long>, sz)` — sorted so the verification stage can
    * use the two-pointer [[graft.functions.SortedArrayIntersectCount]].
    */
  def shingleSets(rows: DataFrame): DataFrame =
    rows.groupBy("id").agg(array_sort(collect_set(col("h"))).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("sz"))

  /** MinHash signatures `(id, sig: array<long>[k])`: ONE hash-aggregate
    * with k codegen'd `min(xxhash64(h, i))` buffers over the shingle rows.
    * One shuffle, map-side combined.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, shingleN: Int = 3): DataFrame =
    signaturesFromRows(wordShingleRows(df, idCol, textCol, shingleN), k)

  private def signaturesFromRows(rows: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    rows.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Near-dup pairs via MinHash LSH + exact-Jaccard verification. The LSH
    * stage uses one row per band (b = k, r = 1): docs sharing ANY of the k
    * minhash values become candidates, so a pair with true Jaccard j is
    * missed with probability (1−j)^k — at the default (j ≥ 0.5, k = 64)
    * that is < 6e−20, i.e. the output equals the exact all-pairs answer,
    * which is what the oracle recomputes. The verify stage is O(candidate
    * pairs) and decides membership by EXACT word-shingle Jaccard.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, k: Int = 64,
                   shingleN: Int = 3): DataFrame = {
    // one shingle scan feeds both the signature aggregate and the
    // verification sets — materialize it once
    val rows = cacheOnce(wordShingleRows(df, idCol, textCol, shingleN))
    // NOT cached: the self-join consumes `mh` twice, but re-running the
    // signature aggregate from the cached shingle rows measures faster
    // than materializing + re-reading a cache of the posexploded table
    val mh = signaturesFromRows(rows, k)
      .select(col("id"), posexplode(col("sig")).as(Seq("pos", "mh")))
    val cand = mh.alias("l").join(mh.alias("r"),
        col("l.pos") === col("r.pos") && col("l.mh") === col("r.mh") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    releasing(jaccardVerify(cand, shingleSets(rows))
      .where(col("jaccard") >= threshold), Seq(rows))
  }

  /** Exact Jaccard for a candidate pair set (the verification stage after
    * any LSH; O(pairs)). `sets` is a [[shingleSets]] table; sizes are
    * computed on hashed shingle sets, so each pair costs two long-array
    * set operations in codegen, not string hashing. (A 64-bit shingle-hash
    * collision could perturb a size by 1 — probability ~|shingles|²/2⁶⁴,
    * irrelevant next to the thresholds in use.)
    */
  def jaccardVerify(pairs: DataFrame, sets: DataFrame): DataFrame = {
    // The set side is |docs| rows; the pair stream can be much larger, so
    // hint the dimension side broadcast. MEASURED at x100 (500 k docs,
    // ~600 MB of set arrays): forced broadcast 21-31 s end-to-end vs
    // 72-78 s letting AQE pick (it shuffles the much larger candidate
    // stream instead) — the hint stays unconditional; only past executor
    // memory would a deployment drop it.
    val sh = broadcast(sets)
    pairs.select("id_a", "id_b")
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "id_b")
      // |A∪B| = |A|+|B|−|A∩B|; the intersect count is a codegen'd
      // two-pointer merge — one O(|A|+|B|) pass per pair, no hashing
      .withColumn("inter", graft.functions.SortedArrayIntersectCount(
        col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
  }

  /** Exact character-n-gram Jaccard for a candidate pair set. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        pairs: DataFrame, shingleN: Int = 3): DataFrame =
    jaccardVerify(pairs, shingleSets(charShingleRows(df, idCol, textCol, shingleN)))

  /** EXACT set-similarity self-join (prefix-filter / PPJoin-lite): all
    * pairs with character-shingle Jaccard ≥ threshold, no approximation.
    * A pair with J ≥ t must share a shingle within each side's first
    * `|S| − ⌈t·|S|⌉ + 1` shingles under any global total order; ordering
    * by ascending document frequency makes those prefix shingles the
    * rarest, so the inverted-index join on prefix shingles stays near-
    * linear. A length filter (t·|A| ≤ |B| ≤ |A|/t) prunes the rest.
    * This is the scale path for exact dedup: shuffle = prefix postings,
    * verify = O(true candidates).
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double, shingleN: Int = 5): DataFrame = {
    // One aggregate builds the per-doc sorted distinct shingle array
    // (charShingleRows pre-partitioned by id ⇒ the collect_set groupBy is
    // shuffle-free); every downstream consumer — posting rows with sizes
    // attached, doc frequencies, the verify stage — derives from this one
    // cached table, replacing the dropDuplicates shuffle + sizes groupBy +
    // join + second shingle aggregation of the naive plan. The global
    // order stays ASCENDING DOC FREQUENCY: prefix shingles are then the
    // rarest, which is what keeps the inverted-index join near-linear
    // (measured 18× fewer candidate pairs than hash-order prefixes here).
    val sets = shingleSets(charShingleRows(df, idCol, textCol, shingleN))
      .cache()
    val rows = sets.select(col("id"), col("sz"), explode(col("sh")).as("h"))
    val freq = rows.groupBy("h").agg(count(lit(1)).as("df"))
    // cache: BOTH sides of the self-join below consume `prefix`, and
    // Catalyst does not dedup identical subplans across join sides — an
    // uncached prefix recomputes the freq join + window per side
    val prefix = rows.join(freq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
      .where(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select("id", "h", "sz", "rn")
      .cache()
    // Positional filter (PPJoin): a match at prefix ranks (rnA, rnB) can
    // contribute at most 1 + min(szA−rnA, szB−rnB) to the overlap, which
    // must reach ⌈t/(1+t)·(szA+szB)⌉ for J ≥ t — prunes pairs whose only
    // shared prefix shingles sit too deep to ever meet the threshold.
    val cand = prefix.alias("l").join(prefix.alias("r"),
        col("l.h") === col("r.h") && col("l.id") < col("r.id") &&
          col("l.sz") * threshold <= col("r.sz") &&
          col("r.sz") * threshold <= col("l.sz") &&
          lit(1) + least(col("l.sz") - col("l.rn"), col("r.sz") - col("r.rn"))
            >= ceil((col("l.sz") + col("r.sz")) * (threshold / (1 + threshold))))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    jaccardVerify(cand, sets)
      .where(col("jaccard") >= threshold)
  }

  /** EXACT containment self-join: all ORDERED pairs (a, b), a ≠ b, with
    * C(a→b) = |Sₐ∩S_b| / |Sₐ| ≥ threshold — "a is a near-subset of b",
    * the asymmetric cousin of [[jaccardJoin]] that catches quotes and
    * boilerplate inclusion where a tiny document inside a huge one has
    * low Jaccard (so MinHash bands structurally miss it). Prefix filter
    * applies to the CONTAINED side only: a qualifying pair must share a
    * shingle within a's first |Sₐ| − ⌈t·|Sₐ|⌉ + 1 rarest shingles, but b
    * is unconstrained beyond |S_b| ≥ t·|Sₐ|, so the index join is
    * a-prefix postings × FULL postings (still near-linear under the
    * ascending-document-frequency order; a corpus whose rarest prefix
    * shingles are boilerplate-common is the skew case to watch).
    * Verify is the same exact sorted-intersect count, one division.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleN: Int = 5): DataFrame = {
    val sets = shingleSets(charShingleRows(df, idCol, textCol, shingleN))
      .cache()
    // the exploded postings feed three scans (document-frequency agg,
    // the prefix window's join side, the full-postings join side) but
    // re-explode from the CACHED sets each time — measured a wash vs
    // caching the postings (sf0.1, 4 samples each: 3.2 s cached vs
    // 3.5 s recomputed, overlapping ranges), and the postings cache
    // costs corpus-scale memory while the re-explode is one codegen'd
    // pass over cached arrays; recompute wins the memory story
    val rows = sets.select(col("id"), col("sz"), explode(col("sh")).as("h"))
    val freq = rows.groupBy("h").agg(count(lit(1)).as("df"))
    val prefix = rows.join(freq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
      .where(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id").as("id_a"), col("h"), col("sz").as("sz_a"))
    val cand = prefix.join(
        rows.select(col("id").as("id_b"), col("h"), col("sz").as("sz_b")),
        Seq("h"))
      .where(col("id_a") =!= col("id_b") &&
        col("sz_b") >= col("sz_a") * threshold)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val out = cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sza")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", graft.functions.SortedArrayIntersectCount(
        col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("sza")).as("containment"))
      .where(col("containment") >= threshold)
    val res = checkpointCapped(out)
    sets.unpersist()
    res
  }

  /** Duplicate clusters from near-dup pairs: the connected components of
    * the [[minhashPairs]] graph. Returns (id, cluster) for EVERY
    * document, singletons labeling themselves — the canonical-pick stage
    * of a dedup pipeline keeps `min(id) == id` rows.
    *
    * Two tiers, same answer (differential-tested across the gate). A
    * corpus of at most `maxDriverRows` word-shingle rows (the session's
    * gate, [[driverDedupMaxRows]]) collects its rows ONCE and clusters
    * on the driver ([[clustersDriver]]): the same LSH candidates, the
    * same exact Jaccard verify, one union-find. Above it, `minhashPairs`
    * runs distributed and [[connectedComponents]] labels its pairs (one
    * driver union-find while the pairs fit the CC gate, random-mate
    * contraction above it). A negative gate forces the distributed tier.
    */
  def clusters(df: DataFrame, idCol: String, textCol: String,
               threshold: Double = 0.5,
               maxDriverRows: Long = driverDedupMaxRows()): DataFrame = {
    val ids = df.select(col(idCol).as("id"))
    val rows = wordShingleRows(df, idCol, textCol)
    // one job: a Dataset count adds a shuffle-stage job under AQE
    val labels =
      if (rows.rdd.count() <= maxDriverRows) clustersDriver(rows, ids, threshold)
      else connectedComponents(minhashPairs(df, idCol, textCol, threshold)
        .select(col("id_a"), col("id_b")), ids)
    labels.select(col("id").as(idCol), col("cluster"))
  }

  /** Each document's distinct word-shingle hashes, sorted: document `d`
    * has id `ids(d)` and the set `sh(off(d) until off(d + 1))`.
    */
  private[analytics] final class DocSets(val ids: Array[Long],
                                         off: Array[Int], sh: Array[Long]) {
    /** Minhash slot `i` of document `d`, as [[minhashSignatures]]
      * computes it: the minimum over its shingles of Spark's
      * `xxhash64(h, i)` (seed 42, the long `h` hashed, then the int `i`).
      */
    def minHash(d: Int, i: Int): Long = {
      var m = Long.MaxValue
      for (j <- off(d) until off(d + 1)) {
        val v = XXH64.hashInt(i, XXH64.hashLong(sh(j), 42L))
        if (v < m) m = v
      }
      m
    }

    /** Exact Jaccard of documents `a` and `b`, computed as
      * [[jaccardVerify]] does: a two-pointer intersect count over the
      * sorted sets, then `inter / (|A| + |B| − inter)`.
      */
    def jaccard(a: Int, b: Int): Double = {
      var i = off(a); var j = off(b); var inter = 0
      while (i < off(a + 1) && j < off(b + 1)) {
        if (sh(i) < sh(j)) i += 1
        else if (sh(i) > sh(j)) j += 1
        else { inter += 1; i += 1; j += 1 }
      }
      inter.toDouble / (off(a + 1) - off(a) + off(b + 1) - off(b) - inter)
    }
  }

  /** [[DocSets]] from collected `(id, h)` shingle rows. A row with a
    * null id joins no document, as a null id never pairs in
    * [[minhashPairs]]' join.
    */
  private[analytics] def docSets(rows: Array[org.apache.spark.sql.Row]): DocSets = {
    val index = new graft.LongLongMap()
    val docOf = rows.map(r =>
      if (r.isNullAt(0)) -1
      else {
        val id = r.getLong(0)
        val d = index.getOrElse(id, index.size.toLong).toInt
        if (d == index.size) index.put(id, d)
        d
      })
    val ids = new Array[Long](index.size)
    val off = new Array[Int](ids.length + 1)
    docOf.foreach(d => if (d >= 0) off(d + 1) += 1)
    for (d <- ids.indices) off(d + 1) += off(d)
    val sh = new Array[Long](off(ids.length))
    val fill = off.clone()
    for (j <- rows.indices; d = docOf(j) if d >= 0) {
      ids(d) = rows(j).getLong(0); sh(fill(d)) = rows(j).getLong(1); fill(d) += 1
    }
    // sort each document's hashes and drop repeats, compacting in place
    var m = 0
    for (d <- ids.indices) {
      java.util.Arrays.sort(sh, off(d), off(d + 1))
      val from = m
      for (j <- off(d) until off(d + 1))
        if (j == off(d) || sh(j) != sh(j - 1)) { sh(m) = sh(j); m += 1 }
      off(d) = from
    }
    off(ids.length) = m
    new DocSets(ids, off, java.util.Arrays.copyOf(sh, m))
  }

  /** Driver tier of [[clusters]]: the word-shingle rows collect once
    * into [[DocSets]], then each of the k = 64 minhash slots of
    * [[minhashPairs]] groups the documents by their value there. Every
    * pair inside a group is a candidate, exactly as in the distributed
    * band join; a candidate whose ends already share a union-find root
    * is skipped, and any other is verified by exact Jaccard and, at
    * `threshold` or above, united. No candidate set is held, so the
    * driver holds the rows, the sets and the union-find whatever the
    * group sizes. The labels leave through [[connectedComponents]]'
    * tail: a driver-built table, left-joined to every row of `ids`.
    */
  private def clustersDriver(rows: DataFrame, ids: DataFrame,
                             threshold: Double): DataFrame = {
    val docs = docSets(rows.select(col("id"), col("h")).collect())
    val n = docs.ids.length
    val uf = new MinUnionFind
    val sig = new Array[Long](n)
    // each group is a chain: next(d) is the previous document with d's value
    val next = new Array[Int](n)
    val members = new Array[Int](n)
    val roots = new Array[Long](n)
    for (i <- 0 until 64) {
      val last = new graft.LongLongMap(n)
      for (d <- 0 until n) {
        sig(d) = docs.minHash(d, i)
        next(d) = last.getOrElse(sig(d), -1L).toInt
        last.put(sig(d), d)
      }
      for (d <- 0 until n if next(d) >= 0 && last.getOrElse(sig(d), -1L) == d) {
        var m = 0
        var x = d
        while (x >= 0) {
          members(m) = x; roots(m) = uf.find(docs.ids(x)); m += 1; x = next(x)
        }
        var a = 0
        while (a < m) {
          var b = a + 1
          while (b < m) {
            if (roots(a) != roots(b) &&
                docs.jaccard(members(a), members(b)) >= threshold) {
              val (ra, rb) = (roots(a), roots(b))
              uf.union(docs.ids(members(a)), docs.ids(members(b)))
              for (c <- 0 until m)
                if (roots(c) == ra || roots(c) == rb) roots(c) = math.min(ra, rb)
            }
            b += 1
          }
          a += 1
        }
      }
    }
    val tail = new LabelTail(ids.sparkSession)
    val (labels, small) = tail.labels(uf)
    tail.done(labelEvery(ids)(labels, small))
  }

  /** Leakage-controlled train/holdout split: the side is a pure function
    * of each document's DUPLICATE-CLUSTER label, not its id, so
    * near-duplicate documents always land on the SAME side. A plain
    * id-hash split (TextOps.holdoutSplit) puts ~holdoutFraction of every
    * dup cluster's members in the holdout — paraphrases of training
    * documents leak into evaluation, the exact contamination the split
    * exists to prevent. Clusters come from [[clusters]] (banded
    * candidates + exact verify + connected components); the side comes
    * from the same md5 sample key the plain split uses, applied to the
    * cluster label (min member id), so the assignment is deterministic,
    * engine-independent, and stable under corpus growth as long as a
    * cluster's minimum id is stable. `maxDriverRows` is [[clusters]]'
    * gate. Returns (idCol, cluster, split).
    */
  def clusterHoldout(df: DataFrame, idCol: String, textCol: String,
                     holdoutFraction: Double, threshold: Double = 0.5,
                     maxDriverRows: Long = driverDedupMaxRows())
      : DataFrame = {
    val lbl = clusters(df, idCol, textCol, threshold, maxDriverRows)
    val key = TextOps.sampleKey(col("cluster"))
    lbl.select(col(idCol), col("cluster"),
      when(key < holdoutFraction, lit("holdout"))
        .otherwise(lit("train")).as("split"))
  }

  /** Driver heap one pair costs in the driver tier of connected
    * components at its high point (the collected rows beside the
    * union-find), and the serialized task results it adds to the
    * collect. Measured by collecting 2 M pairs over 4 M random ids (two
    * new ids per pair, the worst case) into the union-find, `local[4]`
    * on a 4-core machine: 103 B of rows and 72 B of union-find per pair
    * in heap after GC, 19.7 B of task results per pair.
    */
  val HeapBytesPerPair: Long = 175L
  val CollectBytesPerPair: Long = 20L

  /** The same for one mate-forest row in the driver forest resolve,
    * where each level's mate rows are collected and dropped in turn, so
    * the high point is the union-find beside the label arrays and their
    * broadcast: 161 B per row on the same measurement (at most two ids
    * per row, like a pair). A mate map broadcast to the relabel joins
    * costs less per row (67 B of hashed relation, its collected rows and
    * one serialized copy), so its broadcast reads the same gate.
    */
  val HeapBytesPerForestRow: Long = 161L
  val CollectBytesPerForestRow: Long = 20L

  /** Edge gate for the driver tier of connected components
    * ([[componentLabels]]): pair sets up to it are collected once into
    * the driver union-find; above it random-mate contraction shrinks the
    * edge list level by level until the residual fits. From the session
    * ([[graft.DriverMemory]]).
    */
  def driverCcMaxEdges(spark: SparkSession = SparkSession.active): Long =
    graft.DriverMemory.rows(spark, HeapBytesPerPair, CollectBytesPerPair)

  /** Row gate for the driver forest resolve and for broadcasting a
    * level's mate map: the forest holds at most one row per ever-tailed
    * node (a node is tailed at most once), so it is node-sized, not
    * edge-sized. From the session ([[graft.DriverMemory]]).
    */
  def driverCcMaxForest(spark: SparkSession = SparkSession.active): Long =
    graft.DriverMemory.rows(spark, HeapBytesPerForestRow, CollectBytesPerForestRow)

  /** Driver heap one word-shingle row costs in the driver tier of
    * [[clusters]] at its high point (the collected rows beside the
    * document sets being built), and the serialized task results it adds
    * to the collect. Measured on the worst case, one shingle per doc:
    * 2 M one-word docs in identical pairs (so every id enters the
    * union-find), k = 64, `local[4]` on a 4-core machine. In heap after
    * GC: 180 B per row with the rows and the sets both held, 21 B once
    * only the sets are, 130 B at the first slot with every id in the
    * union-find; 9.9 B of task results per row.
    */
  val HeapBytesPerShingleRow: Long = 180L
  val CollectBytesPerShingleRow: Long = 10L

  /** Row gate for the driver tier of [[clusters]]: corpora of up to this
    * many word-shingle rows collect them once and cluster on the driver.
    * From the session ([[graft.DriverMemory]]).
    */
  def driverDedupMaxRows(spark: SparkSession = SparkSession.active): Long =
    graft.DriverMemory.rows(spark, HeapBytesPerShingleRow,
      CollectBytesPerShingleRow)

  /** Block-manager hygiene for iterative operators: eagerly checkpoint
    * `result` so it is self-contained, then unpersist every `held`
    * intermediate (loop-invariant checkpointed inputs, superseded
    * round checkpoints, cached edge copies). `localCheckpoint` blocks
    * are only reclaimed by the ContextCleaner on driver GC — far too
    * late under memory pressure: two back-to-back x100 pageRank calls
    * OOM a 16 g heap because the block manager still pins the first
    * call's ~3.4 GB edge checkpoint while the second builds its own.
    * Ordering matters: the result is materialized BEFORE anything is
    * dropped, so releasing inputs can never invalidate it.
    */
  private[analytics] def releasing(result: DataFrame,
                                   held: Seq[DataFrame]): DataFrame = {
    val out = checkpointCapped(result)
    held.foreach(releaseBlocks)
    out
  }

  /** Eager localCheckpoint with stats hygiene: Spark 4 carries the
    * origin plan's size estimate through the checkpoint
    * (`LogicalRDD.originStats`), and loops whose round plan joins the
    * previous round's checkpoint k>1 times compound that estimate by
    * ×k per round — by round ~15 Catalyst grinds minutes per plan
    * multiplying million-bit BigIntegers (see
    * graftbridge.CheckpointBridge). The clamp only engages above
    * Long.MaxValue, where broadcast is already off the table, so it is
    * pure protection — estimates that still fit keep driving broadcast
    * decisions.
    */
  private[analytics] def checkpointCapped(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .clampCheckpointStats(df.localCheckpoint(true))

  private[analytics] def checkpointCapped(
      df: DataFrame,
      level: org.apache.spark.storage.StorageLevel): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .clampCheckpointStats(df.localCheckpoint(true, level))

  /** Free a frame's storage now: its CacheManager entry (`.cache()`d
    * frames) and, when the frame IS a checkpoint (its plan is exactly
    * the `LogicalRDD` node), the underlying RDD's block-manager blocks
    * — `Dataset.unpersist` alone is a no-op for `localCheckpoint`
    * frames because their blocks belong to the RDD, which the
    * CacheManager never sees. Deliberately NOT a plan-tree walk: a
    * derived frame's leaves may be checkpoints the CALLER still owns
    * (releasing them through a borrowed reference broke SCC's outer
    * loop). Only call on frames nothing will read again: a released
    * checkpoint cannot be recomputed (its lineage was truncated), which
    * is why its blocks go through `CheckpointBridge.releaseCheckpoint`
    * rather than `RDD.unpersist` and its WARN saying so.
    */
  private[analytics] def releaseBlocks(df: DataFrame): Unit = {
    try df.unpersist(false) catch { case _: Throwable => () }
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .releaseCheckpoint(lr.rdd)
      case _ => ()
    } catch { case _: Throwable => () }
  }

  /** Connected components of an undirected pair graph `(id_a, id_b)`:
    * `(id, cluster)` for every id in `ids`, cluster = min id in the
    * component; ids with no pair label themselves. Tiers as in
    * [[componentLabels]].
    */
  def connectedComponents(pairs: DataFrame, ids: DataFrame,
                          maxDriverEdges: Long = driverCcMaxEdges(),
                          maxDriverForest: Long = driverCcMaxForest())
      : DataFrame =
    withLabels(pairs, maxDriverEdges, maxDriverForest)(labelEvery(ids))

  /** The `finish` of [[connectedComponents]]: a row for every id in
    * `ids`, an id with no label labeling itself.
    */
  private def labelEvery(ids: DataFrame)(labels: DataFrame,
                                         small: Boolean): DataFrame =
    ids.join(if (small) broadcast(labels) else labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))

  /** Component labels for every node that APPEARS in `pairs` (either
    * endpoint, self-loops included) — the natural contract for graph
    * callers, without materializing a separate id universe (the
    * union+distinct over 2|E| endpoint rows plus the re-join cost more
    * than the whole labeling tail at 47 M edges). Cluster = min id in the
    * component.
    *
    * Pair sets up to `maxDriverEdges` ([[driverCcMaxEdges]]) take ONE
    * collect into a driver union-find: a Spark round costs ~100 ms of
    * scheduling, a million-edge union-find less than one round. Above
    * it, random-mate contraction shrinks the edge list until the
    * residual fits that gate; the residual and the per-level mate maps
    * then resolve in the same union-find when the forest fits
    * `maxDriverForest` ([[driverCcMaxForest]]), and by distributed
    * pointer doubling otherwise. A negative gate forces the tier above
    * it.
    */
  def componentLabels(pairs: DataFrame,
                      maxDriverEdges: Long = driverCcMaxEdges(),
                      maxDriverForest: Long = driverCcMaxForest()): DataFrame =
    withLabels(pairs, maxDriverEdges, maxDriverForest)((labels, _) => labels)

  /** Incremental component maintenance: fold NEW pairs into an existing
    * min-id labeling without touching the old edge set. Exact by the
    * same quotient argument as [[clustersAppend]]: a component label IS
    * the minimum member id, so contracting every already-labeled
    * endpoint to its label preserves connectivity exactly, and the min
    * over each merged component's {old cluster minima ∪ new node ids}
    * is the true member minimum. `oldLabels` must be a valid min-id
    * labeling ([[componentLabels]] / [[connectedComponents]] output).
    * Returns (id, cluster) for every old id and every new-pair endpoint
    * — value-identical to recomputing over the union of both edge sets.
    */
  def componentLabelsAppend(oldLabels: DataFrame, pairs: DataFrame,
                            maxDriverEdges: Long = driverCcMaxEdges())
      : DataFrame = {
    val lbl = oldLabels.select(col("id"), col("cluster"))
    val contracted = pairs.select(col("id_a"), col("id_b"))
      .join(lbl.select(col("id").as("id_a"), col("cluster").as("ca")),
        Seq("id_a"), "left")
      .join(lbl.select(col("id").as("id_b"), col("cluster").as("cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
    val merged = componentLabels(contracted, maxDriverEdges)
    val remap = merged.select(col("id").as("cluster"),
      col("cluster").as("nc"))
    val out = lbl.join(remap, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("nc"), col("cluster")).as("cluster"))
      .unionByName(merged.join(lbl, Seq("id"), "left_anti"))
    releasing(out, Seq(merged))
  }

  /** Min-root union-find over long ids in a primitive map: union puts
    * the larger root under the smaller, so every root is its component's
    * minimum id, and find compresses the path it walks. Every id passed
    * to [[union]] is kept, a self-loop's too.
    */
  private final class MinUnionFind {
    private val parent = new graft.LongLongMap()

    def size: Int = parent.size

    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrElse(r, r)
      while (p != r) { r = p; p = parent.getOrElse(r, r) }
      var c = x
      while (c != r) { val nx = parent.getOrElse(c, c); parent.put(c, r); c = nx }
      r
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(a)
      val rb = find(b)
      val r = math.min(ra, rb)
      parent.put(ra, r)
      parent.put(rb, r)
    }

    /** Every id, and beside it its component's minimum id. */
    def labels: (Array[Long], Array[Long]) = {
      val ids = parent.keys
      val mins = new Array[Long](ids.length)
      var i = 0
      while (i < ids.length) { mins(i) = find(ids(i)); i += 1 }
      (ids, mins)
    }
  }

  /** The end every label engine here shares: labels built on the
    * driver leave as a table ([[fromDriver]]), the caller's `finish`
    * reads them, and [[done]] checkpoints that result before it releases
    * every `held` intermediate and label broadcast.
    */
  private final class LabelTail(spark: SparkSession) {
    val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    private val broadcasts =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.broadcast.Broadcast[_]]()

    /** `(id, cluster)` rows from two driver arrays: one broadcast holds
      * them once (closure capture would ship them once per task), and
      * rows are built inside tasks, never as a boxed driver array.
      */
    def fromDriver(ids: Array[Long], vs: Array[Long]): DataFrame = {
      import spark.implicits._
      val bc = spark.sparkContext.broadcast((ids, vs))
      broadcasts += bc
      val total = ids.length
      val parts = spark.sessionState.conf.numShufflePartitions
      spark.sparkContext.parallelize(0 until parts, parts)
        .flatMap { p =>
          val (is, xs) = bc.value
          val lo = (p.toLong * total / parts).toInt
          val hi = ((p + 1).toLong * total / parts).toInt
          (lo until hi).iterator.map(k => (is(k), xs(k)))
        }
        .toDF("id", "cluster")
    }

    /** A union-find's labels as a table, and whether a join may
      * broadcast it (24 B per two-long UnsafeRow).
      */
    def labels(uf: MinUnionFind): (DataFrame, Boolean) = {
      val (ids, mins) = uf.labels
      (fromDriver(ids, mins),
        24L * ids.length <= spark.sessionState.conf.autoBroadcastJoinThreshold)
    }

    def done(result: DataFrame): DataFrame = {
      val out = releasing(result, held.toSeq)
      broadcasts.foreach(_.destroy())
      out
    }
  }

  /** The engine of [[connectedComponents]] and [[componentLabels]]:
    * labels `(id, cluster)` for every endpoint of `pairs` go to `finish`,
    * whose result is checkpointed before every intermediate (checkpoints
    * and the label broadcasts) is released. `finish`'s flag says the
    * labels are a driver-built table small enough for a join to
    * broadcast: Catalyst cannot estimate an RDD-backed frame, and a hint
    * on a frame that no join reads is dropped with a warning.
    */
  private def withLabels(pairs: DataFrame, maxDriverEdges: Long,
                         maxDriverForest: Long)
                        (finish: (DataFrame, Boolean) => DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val tail = new LabelTail(spark)
    val held = tail.held
    val pr = pairs.select(col("id_a"), col("id_b")).localCheckpoint().cappedStats
    // one job: a Dataset count adds a shuffle-stage job under AQE
    val nPairs = pr.rdd.count()
    held += pr
    // RANDOM-MATE CONTRACTION (the classic PRAM random-mating CC, the
    // same family as the MapReduce algorithms of Kiveris et al. 2014):
    // each level flips a deterministic per-(node, level) coin; every TAIL
    // node with at least one HEAD neighbor merges into its minimum head
    // neighbor. Heads never merge in the same level, so each mate map is
    // a depth-1 star and contracting the edge list through it is exact.
    // A constant expected fraction of live nodes merges per level, so the
    // edge list SHRINKS GEOMETRICALLY and total work is O(|E|) edge-rows
    // across all levels — unlike label propagation, whose every round
    // re-offers labels through the FULL edge list (measured at 47 M
    // edges: the delta min-label loop ran 6 rounds with ~17 M changed
    // labels each, 203 s). Per-level edge/mate checkpoints stay
    // deserialized (no per-scan decode).
    val ckLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // no up-front distinct: level 0's contraction ends in one anyway
    // (mate selection is a min — duplicates can't change it), so the
    // initial full-width dedup shuffle would be paid twice. Level 0
    // reads this as three narrow scans of the already-checkpointed
    // pair list; eCount starts as the (possibly duplicate-inflated)
    // pair count, which only ever delays the driver gate by a level.
    var e = pr.where(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
    var eCount = nPairs
    val mates = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var mateRowsSum = 0L
    // mate-side broadcast gate for the relabel joins: the mate map is
    // node-sized (≤ half the live nodes) while e is edge-sized, so
    // TH/HT/TT joining e against a broadcast mate leaves the whole edge
    // list unshuffled and unsorted — the only per-level exchange left is
    // the contraction distinct; above it the sort-merge path returns
    val mateBcMax = driverCcMaxForest(spark)
    // once a level runs, the pair checkpoint is read by level 0 only —
    // materialize the (near-empty) self-loop id set as soon as level 0
    // completes and release the pair blocks, so later levels don't run
    // under |E| rows of dead block pressure
    var selfIds: Option[DataFrame] = None
    var level = 0
    while (eCount > 0 && (maxDriverEdges < 0 || eCount > maxDriverEdges)) {
      // an unlucky level (every live edge monochromatic) merges nothing
      // and simply re-flips — 64 consecutive failures has probability
      // ~2^-64 on any graph with an edge; reaching the cap means the coin
      // stream is broken, not the graph
      if (level >= 64) throw new IllegalStateException(
        s"connectedComponents: no contraction fixed point after $level levels")
      def isHead(c: Column): Column =
        xxhash64(c, lit(level)).bitwiseAND(lit(1L)) === lit(1L)
      val sym = e.select(col("a").as("id"), col("b").as("nb"))
        .unionByName(e.select(col("b").as("id"), col("a").as("nb")))
      val mate = sym.where(!isHead(col("id")) && isHead(col("nb")))
        .groupBy("id").agg(min("nb").as("par"))
        .localCheckpoint(true, ckLevel).cappedStats
      held += mate
      mates += mate
      val mateCount = mate.count()
      mateRowsSum += mateCount
      // only TAIL endpoints can appear in the mate map, and the coin is
      // row-local — splitting the relabel by coin pattern keeps head
      // endpoints out of the joins entirely, halving the shuffled edge
      // volume (expected: 1/4 of edges skip both joins, 1/2 join once,
      // 1/4 join twice — one |e| of join traffic, not two)
      val bcMate = mateCount <= mateBcMax
      def hinted(m: DataFrame): DataFrame = if (bcMate) broadcast(m) else m
      val mA = hinted(mate.select(col("id").as("a"), col("par").as("pa")))
      val mB = hinted(mate.select(col("id").as("b"), col("par").as("pb")))
      val hh = e.where(isHead(col("a")) && isHead(col("b")))
        .select(col("a").as("x"), col("b").as("y"))
      val th = e.where(!isHead(col("a")) && isHead(col("b")))
        .join(mA, Seq("a"), "left")
        .select(coalesce(col("pa"), col("a")).as("x"),
          col("b").as("y"))
      val ht = e.where(isHead(col("a")) && !isHead(col("b")))
        .join(mB, Seq("b"), "left")
        .select(col("a").as("x"),
          coalesce(col("pb"), col("b")).as("y"))
      val tt = e.where(!isHead(col("a")) && !isHead(col("b")))
        .join(mA, Seq("a"), "left").join(mB, Seq("b"), "left")
        .select(coalesce(col("pa"), col("a")).as("x"),
          coalesce(col("pb"), col("b")).as("y"))
      val e2 = hh.unionByName(th).unionByName(ht).unionByName(tt)
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct()
        .localCheckpoint(true, ckLevel).cappedStats
      held += e2
      // superseded level checkpoint: release in-loop (e2 is already
      // materialized — holding every level's edges to end-of-call is the
      // keyed-frontier OOM trap)
      releaseBlocks(e)
      e = e2
      val eNext = e.count()
      if (level == 0) {
        selfIds = Some(pr.where(col("id_a") === col("id_b"))
          .select(col("id_a").as("id")).distinct()
          .localCheckpoint().cappedStats)
        held += selfIds.get
        releaseBlocks(pr)
      }
      eCount = eNext
      level += 1
    }
    // the residual graph fits the driver gate: one collect into the
    // union-find — the pair rows themselves when no level ran (their
    // self-loops label their own ids there)
    val uf = new MinUnionFind
    (if (mates.isEmpty) pr else e).collect().foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) uf.union(row.getLong(0), row.getLong(1))
    }
    val (labels, small) = if (mates.isEmpty ||
        (maxDriverForest >= 0 && mateRowsSum + uf.size <= maxDriverForest)) {
      // DRIVER FOREST RESOLVE: the mate forest is node-sized while the
      // graph is edge-sized — at 47 M edges the forest is ~21 M rows, and
      // the distributed tail it replaces (pointer-doubling self-join
      // rounds + a min-relabel aggregate and join, each a full-forest
      // shuffle) measured ~41 s at x100. Every member of a ≥2-node
      // component is a tailed id, a par or a residual endpoint, so the
      // union-find's ids are the endpoint set and its roots the minima.
      mates.foreach { m =>
        // collect(), not toLocalIterator(): the iterator fetches
        // partitions ONE JOB AT A TIME (measured ~30 s of the resolve at
        // 21 M rows); collect decodes all partitions in parallel and the
        // transient Row array is bounded by the largest mate
        m.collect().foreach(r => uf.union(r.getLong(0), r.getLong(1)))
        releaseBlocks(m)
      }
      tail.labels(uf)
    } else {
      // resolve the cross-stage forest (mate maps + the residual's
      // non-root ids under their roots): depth ≤ stages (stage maps have
      // disjoint domains — a node is tailed at most once, ever — and
      // within a stage depth is 1), one doubling join at least halves
      // the remaining depth, so ceil(log2 stages) rounds always suffice;
      // a round that made no hops proves the previous one was already
      // resolved and exits early. (A static-forest pointer WALK was
      // measured SLOWER at 47 M edges, 36 vs 23 s: hub graphs chain
      // stages routinely, so the walk's pending set stays large for
      // ~stages rounds while doubling needs only log of that.)
      val (ids, mins) = uf.labels
      val tailed = ids.indices.filter(k => ids(k) != mins(k)).toArray
      val residual =
        if (tailed.isEmpty) None
        else Some(tail.fromDriver(tailed.map(ids), tailed.map(mins))
          .select(col("id"), col("cluster").as("par")))
      val stages = mates.size + residual.size
      var fp = (mates ++ residual).reduce(_ unionByName _)
        .localCheckpoint(true, ckLevel).cappedStats
      held += fp
      mates.foreach(releaseBlocks)
      var dRounds = 0
      var hopped = true
      while (hopped && (1L << dRounds) < stages) {
        val next = fp.as("x")
          .join(fp.select(col("id").as("pid"), col("par").as("ppar")),
            col("x.par") === col("pid"), "left")
          .select(col("x.id").as("id"),
            coalesce(col("ppar"), col("x.par")).as("par"),
            col("ppar").isNotNull.as("__hop"))
          .localCheckpoint(true, ckLevel).cappedStats
        held += next
        releaseBlocks(fp)
        dRounds += 1
        // the emptiness probe only matters if it could stop an upcoming
        // round — on the final statically-bounded round it would be a
        // pure full-scan tax
        hopped = if ((1L << dRounds) < stages)
          next.where(col("__hop")).head(1).nonEmpty
        else true
        fp = next.select("id", "par")
      }
      // relabel roots to component minima: the root of a mate forest is
      // an arbitrary survivor, not the min id. Every member of a ≥2-node
      // component appears in the forest (as a tailed id, a residual id
      // or a par value), so the min aggregate sees the true minimum.
      val roots = fp.select(col("par").as("id"), col("par").as("root")).distinct()
      val f = fp.select(col("id"), col("par").as("root"))
        .unionByName(roots)
        .localCheckpoint(true, ckLevel).cappedStats
      held += f
      val minm = f.groupBy("root").agg(min("id").as("cluster"))
      (f.join(minm, Seq("root")).select(col("id"), col("cluster")), false)
    }
    // once a level ran, nodes whose every edge is a self-loop never
    // entered the mate forest (the isolated-node trap) — append them as
    // their own cluster so the endpoint contract holds
    val all = selfIds.fold(labels)(s => labels.unionByName(
      s.join(if (small) broadcast(labels) else labels, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster"))))
    tail.done(finish(all, small && selfIds.isEmpty))
  }

  /** Cross-corpus near-dup (incremental-ingest dedup): for each document in
    * `batch`, the documents in `corpus` with word-shingle Jaccard ≥
    * threshold — dedup a new snapshot against the existing corpus WITHOUT
    * re-pairing the corpus against itself. The MinHash band join runs batch
    * × corpus only (the corpus side never self-joins), so ingesting 1% new
    * data costs ~1% of a full-corpus dedup. Same exact contract as
    * [[minhashPairs]]: bands generate candidates (miss prob (1−j)^k), exact
    * Jaccard decides membership. Returns (batch_id, corpus_id, jaccard).
    */
  def crossPairs(corpus: DataFrame, batch: DataFrame, idCol: String,
                 textCol: String, threshold: Double = 0.5, k: Int = 64,
                 shingleN: Int = 3): DataFrame = {
    val cRows = cacheOnce(wordShingleRows(corpus, idCol, textCol, shingleN))
    val bRows = cacheOnce(wordShingleRows(batch, idCol, textCol, shingleN))
    def posting(rows: DataFrame) = signaturesFromRows(rows, k)
      .select(col("id"), posexplode(col("sig")).as(Seq("pos", "mh")))
    // no l.id < r.id: the sides are distinct corpora, every (batch, corpus)
    // match is wanted exactly once
    val cand = posting(bRows).alias("l").join(posting(cRows).alias("r"),
        col("l.pos") === col("r.pos") && col("l.mh") === col("r.mh"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    releasing(jaccardVerify(cand, shingleSets(bRows.unionByName(cRows)))
      .where(col("jaccard") >= threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        col("jaccard")), Seq(cRows, bRows))
  }

  /** Incremental duplicate-CLUSTER maintenance: fold a new `batch` into
    * an already-clustered corpus's labels without re-pairing the corpus
    * against itself. The result is VALUE-IDENTICAL to re-running
    * [[clusters]] over `corpus ∪ batch` (the oracle recomputes exactly
    * that), but the LSH work is batch×corpus + batch×batch only — at a
    * deployment, ingesting 1% new data costs ~1% of a full re-cluster.
    *
    * Why exactness survives the shortcut: an existing cluster label IS
    * the minimum member id, so contracting every corpus endpoint to its
    * label is an exact quotient of the old duplicate graph (corpus-
    * corpus connectivity is already fully encoded in the labels and new
    * documents can only ADD edges). Components of {contracted cross
    * pairs ∪ within-batch pairs} therefore merge old clusters and batch
    * docs precisely as the full pair graph would, and the min over each
    * merged component's {batch ids ∪ old cluster minima} is the true
    * member minimum.
    *
    * `corpusLabels` must be [[clusters]]' output over `corpus` with the
    * SAME (threshold, k, shingleN), and batch ids must be disjoint from
    * corpus ids (the usual ingest contract — reused ids would alias
    * contracted endpoints). Returns (idCol, cluster) covering every
    * corpus and batch document.
    */
  def clustersAppend(corpus: DataFrame, corpusLabels: DataFrame,
                     batch: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.5, k: Int = 64,
                     shingleN: Int = 3): DataFrame = {
    val lbl = corpusLabels.select(col(idCol).as("id"), col("cluster"))
    val cross = crossPairs(corpus, batch, idCol, textCol, threshold, k,
        shingleN)
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id"))
      .join(lbl, Seq("id"))
      .select(col("id_a"), col("cluster").as("id_b"))
    val within = minhashPairs(batch, idCol, textCol, threshold, k, shingleN)
      .select(col("id_a"), col("id_b"))
    val batchIds = batch.select(col(idCol).as("id"))
    // endpoint labels cover exactly the paired batch docs and the
    // touched old clusters; batch singletons fall through the left join
    // below, untouched clusters through the remap's left join
    val merged = componentLabels(cross.unionByName(within))
    val remap = merged.select(col("id").as("cluster"),
      col("cluster").as("nc"))
    val out = lbl.join(remap, Seq("cluster"), "left")
      .select(col("id").as(idCol),
        coalesce(col("nc"), col("cluster")).as("cluster"))
      .unionByName(batchIds.join(merged, Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("cluster"), col("id")).as("cluster")))
    releasing(out, Seq(merged))
  }

  /** Persist a corpus's MinHash-LSH index as a Parquet near-dup store —
    * the serving layout for "is this document a near-dup of anything in
    * 100 TB" without scanning the corpus per probe. Layout:
    *  - `postings/pos=<band>/`: (mh, id) rows partitioned by band and
    *    SORTED by minhash value, so a probe's point lookups become
    *    Parquet row-group skips via the min/max stats (the finer-grained
    *    sibling of the IVF store's `cell IN` partition pruning);
    *  - `sets/`: the exact word-shingle sets the verify stage needs,
    *    range-partitioned and sorted by id so candidate fetches prune
    *    row groups the same way;
    *  - `minhash_meta.json`: (k, shingleN) so probes hash identically.
    */
  def minhashStoreWrite(df: DataFrame, dir: String, idCol: String,
                        textCol: String, k: Int = 64,
                        shingleN: Int = 3): Unit = {
    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val rows = cacheOnce(wordShingleRows(df, idCol, textCol, shingleN))
    signaturesFromRows(rows, k)
      .select(col("id"), posexplode(col("sig")).as(Seq("pos", "mh")))
      .repartition(numParts, col("pos"))
      .sortWithinPartitions("pos", "mh")
      .write.mode("overwrite").partitionBy("pos")
      .parquet(s"$dir/postings")
    // persist before the range exchange: the sampler would run the
    // shingle-set aggregation (a full shuffle) twice otherwise
    val sets = shingleSets(rows).persist()
    try {
      sets.repartitionByRange(numParts, col("id"))
        .sortWithinPartitions("id")
        .write.mode("overwrite").parquet(s"$dir/sets")
    } finally sets.unpersist()
    rows.unpersist()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/minhash_meta.json"),
      s"""{"k":$k,"shingleN":$shingleN}""".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
  }

  private def minhashStoreMeta(dir: String): (Int, Int) = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/minhash_meta.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def f(key: String): Int =
      ("\"" + key + "\":(\\d+)").r.findFirstMatchIn(json).get.group(1).toInt
    (f("k"), f("shingleN"))
  }

  /** Append a document batch to a [[minhashStoreWrite]] store: postings
    * land in the existing band directories, sets append alongside. Only
    * the new rows are written; a probe after the append sees exactly
    * what a fresh write of the union would serve.
    */
  def minhashStoreAppend(df: DataFrame, dir: String, idCol: String,
                         textCol: String): Unit = {
    val (k, shingleN) = minhashStoreMeta(dir)
    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val rows = cacheOnce(wordShingleRows(df, idCol, textCol, shingleN))
    signaturesFromRows(rows, k)
      .select(col("id"), posexplode(col("sig")).as(Seq("pos", "mh")))
      .repartition(numParts, col("pos"))
      .sortWithinPartitions("pos", "mh")
      .write.mode("append").partitionBy("pos").parquet(s"$dir/postings")
    val sets = shingleSets(rows).persist()
    try {
      sets.repartitionByRange(numParts, col("id"))
        .sortWithinPartitions("id")
        .write.mode("append").parquet(s"$dir/sets")
    } finally sets.unpersist()
    rows.unpersist()
  }

  /** Near-dup probe of a document batch against a [[minhashStoreWrite]]
    * store: returns (batch_id, corpus_id, jaccard ≥ threshold), exactly
    * [[crossPairs]] of (stored corpus, batch) — the store is candidate
    * generation ONLY; membership is decided by the same exact
    * shingle-Jaccard verify, so the output is value-identical to the
    * in-memory path (the invariant every dedup oracle depends on).
    *
    * For batches of ≤ `maxLiteralProbes` documents the k·|batch|
    * minhash values are collected driver-side and pushed as a LITERAL
    * `mh IN (…)` scan predicate, and the verify fetch pushes the
    * candidate ids the same way — with the store's sorted layout both
    * scans read only the row groups whose [min,max] straddle a probed
    * value. Larger batches fall back to shuffle joins over the same
    * store. Batch and store id spaces are assumed disjoint (same
    * contract as [[crossPairs]]).
    */
  def minhashStoreProbe(spark: org.apache.spark.sql.SparkSession,
                        dir: String, probes: DataFrame, idCol: String,
                        textCol: String, threshold: Double = 0.5,
                        maxLiteralProbes: Int = 256): DataFrame = {
    import spark.implicits._
    val (k, shingleN) = minhashStoreMeta(dir)
    val pRows = cacheOnce(wordShingleRows(probes, idCol, textCol, shingleN))
    val pSets = shingleSets(pRows)
    val postings = spark.read.parquet(s"$dir/postings")
    val sets = spark.read.parquet(s"$dir/sets")
    val nProbe = pRows.select("id").distinct().count()
    val pSig = signaturesFromRows(pRows, k)
      .select(col("id").as("id_a"),
        posexplode(col("sig")).as(Seq("pos", "mh")))
    val candPairs =
      if (nProbe > 0 && nProbe <= maxLiteralProbes) {
        // k·|batch| minhash longs to the driver, pushed as a literal
        // scan predicate; the probe relation itself stays distributed
        // (broadcast) so probe id types are never assumed
        val mhSet = pSig.select("mh").distinct()
          .collect().map(_.getLong(0)).toSeq
        postings.where(col("mh").isin(mhSet: _*))
          .join(broadcast(pSig), Seq("pos", "mh"))
          .select(col("id_a"), col("id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
      } else {
        postings.join(pSig, Seq("pos", "mh"))
          .select(col("id_a"), col("id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
      }
    // verify fetch: literal-pushed when the candidate id set is small
    // (the common serving case — a bounded flat cap, NOT scaled by the
    // batch size: a duplicate-heavy corpus can fan one probe out to
    // ~10^6 candidates, and a million-literal In() grinds Catalyst far
    // harder than the join it replaces), a plain join otherwise
    val cand = candPairs.localCheckpoint(true).cappedStats
    val candIds = cand.select(col("id_b")).distinct()
    val nCand = candIds.count()
    val storedSets =
      if (nCand == 0) sets.limit(0)
      else if (nProbe <= maxLiteralProbes && nCand <= 16384L) {
        val ids = candIds.collect().map(_.get(0)).toSeq
        sets.where(col("id").isin(ids: _*))
      } else sets.join(candIds.select(col("id_b").as("id")), "id")
    val pSide = pSets.select(col("id").as("id_a"),
      col("sh").as("sh_a"), col("sz").as("sz_a"))
    val out = cand
      .join(if (nProbe <= maxLiteralProbes) broadcast(pSide) else pSide,
        "id_a")
      .join(storedSets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", graft.functions.SortedArrayIntersectCount(
        col("sh_a"), col("sh_b")))
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
    val res = out.localCheckpoint(true).cappedStats
    pRows.unpersist()
    releaseBlocks(cand)
    res
  }

  /** Incremental exact dedup: batch documents whose canonical fingerprint
    * does NOT already occur in the corpus. A Bloom filter over corpus
    * fingerprints (one aggregate pass, result broadcast inside the
    * predicate closure) prefilters the batch: rows failing the filter are
    * definitely new and skip the join entirely; only true dups plus the
    * ~fpp false-positive sliver join against the corpus for the exact
    * decision. At 100 TB this turns the anti-join shuffle from |batch|
    * rows into |dups| + fpp·|batch| rows while the output stays EXACT —
    * the Bloom stage can only send extra rows to the verify join, never
    * drop a new document. Returns the batch id column.
    */
  def newDocs(corpus: DataFrame, batch: DataFrame, idCol: String,
              textCol: String, expectedItems: Long = 0L,
              fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val cfp = corpus.select(TextOps.fingerprint(col(textCol)).as("fp"))
    // n: caller/stats-provided, else a fixed over-estimate — over-sizing
    // costs bits (~1.2 MB/M items at 1% fpp), an extra corpus COUNT pass
    // costs a full scan. Never count here.
    val n = if (expectedItems > 0) expectedItems else 4000000L
    // optimal bits for the requested fpp: m = −n·ln(p)/ln²2 (the 2-arg
    // constructor would take the session's fixed numBits default, which at
    // n=4M is ~2 bits/item ≈ useless)
    val numBits = math.ceil(-n * math.log(fpp) /
      (math.log(2.0) * math.log(2.0))).toLong
    // one corpus pass: bloom_filter_agg over the fingerprint hash, handed
    // to might_contain as a SCALAR SUBQUERY (the shape Spark's own
    // InjectRuntimeFilter builds) — the subquery executes once, its binary
    // result folds into the batch filters, and no driver-held-filter UDF
    // or extra COUNT pass exists anywhere in the plan
    val bloomDF = cfp.agg(ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("fp"))),
        org.apache.spark.sql.catalyst.expressions.Literal(n),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression()).as("bloom"))
    def mightContain(v: Column): Column =
      ColumnBridge.column(BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
          bloomDF.queryExecution.analyzed, Seq.empty,
          org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId,
          Seq.empty, None, None, None),
        ColumnBridge.expression(xxhash64(v))))
    val b = batch.select(col(idCol),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val definitelyNew = b.where(!mightContain(col("fp")))
    val maybeDup = b.where(mightContain(col("fp")))
      .join(cfp, Seq("fp"), "left_anti") // exact verify of the FP sliver
    definitelyNew.unionByName(maybeDup).select(idCol)
  }

  /** Decontamination: training documents that share any word n-gram with a
    * held-out benchmark corpus (the standard eval-leak gate before
    * training). Both sides reduce to hashed shingle rows; the check is one
    * distinct semi-join on the shingle hash — the benchmark side is tiny
    * and broadcast, the training side never shuffles its text. Returns
    * `(id, n_overlap)` with the count of DISTINCT contaminated shingles
    * per flagged doc (n_overlap > 0 only; clean docs are absent).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    val trainSh = wordShingleRows(train, idCol, textCol, n)
      .dropDuplicates("id", "h")
    val benchSh = wordShingleRows(bench, idCol, textCol, n)
      .select(col("h")).distinct()
    trainSh.join(broadcast(benchSh), Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Flag-only variant of [[decontaminate]]: just the contaminated ids,
    * no per-doc overlap counts. Skips the corpus-sized
    * dropDuplicates(id, h) shuffle the counting contract needs — the
    * semi-join runs directly on the raw gram stream and only the
    * matched sliver (≤ |bench grams| × dup factor) reaches the
    * distinct. Use this in pipelines that DROP flagged docs
    * (x10 pipeline_curate_full: 15.6 s → measured again after this
    * split — the dedup shuffle was most of the decontam stage).
    */
  def decontaminateIds(train: DataFrame, bench: DataFrame, idCol: String,
                       textCol: String, n: Int = 8): DataFrame = {
    val benchSh = wordShingleRows(bench, idCol, textCol, n)
      .select(col("h")).distinct()
    wordShingleRows(train, idCol, textCol, n)
      .join(broadcast(benchSh), Seq("h"), "left_semi")
      .select("id").distinct()
  }

  /** Benchmark-side contamination report — the reverse direction of
    * [[decontaminate]]: for every BENCHMARK document, how much of it
    * already appears in the training corpus, as (id, n_grams, n_overlap,
    * frac) over its DISTINCT word n-grams. decontaminate() decides which
    * TRAIN docs to drop; this decides which EVAL items are compromised
    * (the per-example contamination figure eval suites publish). `frac`
    * is one IEEE division of two exact integer counts — the standard
    * cross-engine determinism contract.
    *
    * Scale shape: the training corpus is scanned ONCE against the
    * broadcast benchmark gram set and never shuffles anything
    * train-sized — only the matched gram sliver (≤ |bench grams|)
    * distincts; both per-doc aggregates run on the tiny bench side.
    */
  def contaminationReport(train: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val benchSh = wordShingleRows(bench, idCol, textCol, n)
      .dropDuplicates("id", "h")
    val benchGrams = benchSh.select(col("h")).distinct()
    val hit = wordShingleRows(train, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("h"), "left_semi")
      .select(col("h")).distinct()
    val overlaps = benchSh.join(broadcast(hit), Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    benchSh.groupBy("id").agg(count(lit(1)).as("n_grams"))
      .join(overlaps, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_grams")).as("frac"))
  }

  /** Span-level EXACT substring dedup (the operation popularized by
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022: remove repeated >=L-char substrings from the corpus,
    * keeping one copy). Deterministic semantics, mirrored exactly by the
    * SQL oracle:
    *
    *   1. every L-char gram position whose gram occurs >=2 times in the
    *      corpus (any doc, including the same one) is a duplicate
    *      candidate;
    *   2. the globally-FIRST occurrence of each gram — minimal (doc, p)
    *      lexicographically — is kept; only later occurrences are marked;
    *   3. marked positions merge into maximal per-doc spans `[s, e)` over
    *      1-based char positions (overlapping/adjacent spans coalesce).
    *
    * Scale shape: the full position stream shuffles only 8-byte xxhash64
    * keys (map-side partial aggregation; never the grams) to find
    * repeated hashes; only the candidate sliver — positions whose HASH
    * repeats — re-groups by the gram string for the exact verify, so a
    * hash collision can cost work but can never mark a non-duplicate.
    * The reference algorithm is a suffix array on a single machine; the
    * Spark-native analog is this fixed-L gram pass, whose candidate
    * generation is one partial-agg shuffle at any corpus size. Returns
    * `(id, s, e)` merged spans.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 40): DataFrame = {
    val L = minLen
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .where(length(col("text")) >= L)
    // (id, p, h): one row per char position, but the hash of every
    // L-gram window comes from ONE rolling pass over the text
    // (graft.functions.RollingHash — O(chars), not O(chars·L)); the gram
    // string itself is never materialized on this full-width path
    def hashed = base
      .select(col("id"),
        posexplode(graft.functions.RollingHash(col("text"), L))
          .as(Seq("p0", "h")))
      .select(col("id"), (col("p0") + 1).cast("long").as("p"), col("h"))
    // phase 1: hashes that repeat (8 bytes/position through the shuffle,
    // partial-agg combines within partitions first)
    val dupH = hashed.select(col("h"))
      .groupBy("h").agg(count(lit(1)).as("c")).where(col("c") > 1)
      .select("h")
    // phase 2: exact verify on the candidate sliver only — join the
    // surviving positions back to their documents, materialize the gram
    // string for just those rows, keep every occurrence but the first
    val cand = hashed.join(dupH, Seq("h"), "left_semi")
      .join(base, Seq("id"))
      .select(col("id"), col("p"),
        substr(col("text"), col("p").cast("int"), lit(L)).as("gram"))
    // rn > 1 alone is the exact dup test: a position is marked iff an
    // occurrence of the SAME gram string precedes it in (id, p) order —
    // false hash-bucket members each get rn = 1 and drop out, so no
    // separate per-gram count pass is needed
    val marked = cand
      .withColumn("rn", row_number().over(
        Window.partitionBy("gram").orderBy(col("id"), col("p"))))
      .where(col("rn") > 1)
      .select(col("id"), col("p"))
    // phase 3: merge overlapping/adjacent [p, p+L) intervals per doc
    // (gaps-and-islands over one (id) exchange)
    val wPrev = Window.partitionBy("id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("id").orderBy("p")
    marked
      .withColumn("prevEnd", max(col("p") + L).over(wPrev))
      .withColumn("isNew",
        when(col("prevEnd").isNull || col("p") > col("prevEnd"), 1)
          .otherwise(0))
      .withColumn("island", sum("isNew").over(wRun))
      .groupBy(col("id"), col("island"))
      .agg(min("p").as("s"), (max(col("p")) + L).as("e"))
      .select(col("id"), col("s"), col("e"))
  }

  /** Apply [[duplicateSpans]]: clip the marked spans out of each
    * document, returning `(id, text)` with every duplicated span removed
    * (first occurrences survive, so every distinct >=L-gram still exists
    * somewhere in the output). The reassembly walks each doc's sorted
    * span list once with an `aggregate` HOF — interpreted, but once per
    * row, not per pair.
    */
  def clipDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                         minLen: Int = 40): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, minLen)
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("spans"))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(spans, Seq("id"), "left")
      .withColumn("text",
        when(col("spans").isNull, col("text")).otherwise(expr(
          """aggregate(spans,
            |  named_struct('cur', CAST(1 AS BIGINT), 'acc', ''),
            |  (st, sp) -> named_struct(
            |    'cur', sp.e,
            |    'acc', concat(st.acc, substr(text, st.cur, sp.s - st.cur))),
            |  st -> concat(st.acc, substr(text, st.cur, length(text))))"""
            .stripMargin)))
      .select(col("id"), col("text"))
  }

  /** 60-bit token hash shared with the SQL oracle contract: the first 15
    * hex chars of md5 parsed as an integer — reproducible in any engine
    * with a standard md5 (`conv(substr(md5(w),1,15),16,10)` here,
    * `CAST('0x'||substr(md5(w),1,15) AS BIGINT)` in DuckDB). 60 bits keeps
    * the value positive in a signed 64-bit integer on both sides.
    */
  val SimhashBits = 60
  def tokenHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash over distinct tokens, via explode + group-by (each
    * token hashed once; 60 conditional-sum aggregates with map-side
    * combine). Bit b is set iff Σ_tokens (±1 by bit b of the token hash)
    * is positive.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = byId(df.select(col(idCol).as("id"),
        array_distinct(split(TextOps.normalize(col(textCol)), " ")).as("toks")))
      .select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"), tokenHash(col("tok")).as("h"))
    val sums = (0 until SimhashBits).map(b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b"))
    tok.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until SimhashBits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sim"))
  }

  /** SimHash near-dup pairs, EXACT for the given radius: the 60 bits are
    * split into `maxHamming + 1` bands, so by pigeonhole any pair within
    * Hamming distance maxHamming shares at least one full band — banding
    * is a no-false-negative candidate generator and `bit_count(xor)`
    * decides membership. Bands shrink as the radius grows (radius 3 →
    * 4×15-bit bands, 2^15 buckets; the O(n²/buckets) within-bucket work is
    * the scale cost of a larger radius).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingBandPairs(
      simhashes(df, idCol, textCol).select(col("id"), col("sim").as("h")),
      SimhashBits, maxHamming)

  /** Banded Hamming self-join over a `bits`-wide hash table `(id, h)` —
    * the pigeonhole machinery shared by [[simhashPairs]] (60-bit text
    * simhash) and [[Multimodal.phashPairs]] (64-bit image pHash): split
    * the hash into `maxHamming + 1` bands so any pair within the radius
    * agrees exactly on at least one band, equi-join on (band, key), then
    * verify with an exact bit_count — bands are candidate generators
    * ONLY, membership is always the exact test, so the result equals
    * brute force by construction. The verify runs BEFORE the dedup
    * shuffle so only true pairs (≤ bands copies each) get shuffled.
    */
  private[graft] def hammingBandPairs(hashed: DataFrame, bits: Int,
                                      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    // band j covers bits [j*bits/bands, (j+1)*bits/bands) — plan-time
    // constants; a full-width band masks with -1 (1L<<64 wraps)
    val bandKeys = array((0 until bands).map { j =>
      val start = j * bits / bands
      val width = (j + 1) * bits / bands - start
      val mask = if (width >= 64) lit(-1L) else lit((1L << width) - 1)
      shiftrightunsigned(col("h"), start).bitwiseAND(mask)
    }: _*)
    // cache: both sides of the band-bucket self-join — uncached, the
    // hash computation (token explode + bit sums, or an image decode)
    // would run twice
    val banded = cacheOnce(hashed.select(col("id"), col("h"),
      posexplode(bandKeys).as(Seq("bandIdx", "bandKey"))))
    releasing(banded.alias("l").join(banded.alias("r"),
        col("l.bandIdx") === col("r.bandIdx") &&
          col("l.bandKey") === col("r.bandKey") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.h").bitwiseXOR(col("r.h"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b"), Seq(banded))
  }

  /** All single-character deletions of `s` (row-local HOF — fine once per
    * row, never in per-pair work). Empty strings have no deletions.
    */
  private def deleteOne(s: Column): Column =
    when(length(s) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))

  /** EXACT edit-distance self-join (fuzzy dedup / record linkage): all
    * pairs with Levenshtein distance ≤ `maxDist` over a short-string
    * column (names, titles, URLs). Candidate generation is the
    * deletion-neighborhood (SymSpell) construction: if lev(s,t) ≤ k then
    * deleting the ≤k characters each side contributes to an optimal
    * alignment leaves a COMMON string, so `deletes≤k(s) ∩ deletes≤k(t)`
    * is non-empty — an equi-join on hashed deletion variants is a
    * no-false-negative candidate generator (L+1 variants per row at k=1,
    * O(L²) at k=2; strings are short by contract). Membership is decided
    * by the exact banded `levenshtein(l, r, threshold)` BEFORE the pair
    * dedup shuffle, so only true pairs (≤ shared-variant-count copies
    * each) get shuffled — same shape as [[hammingBandPairs]]. At scale
    * the variant join shuffles ~L×|rows| short hashes; variant-bucket
    * sizes are data-dependent (a hot bucket means many strings within
    * distance 2k of each other — already a near-duplicate cluster), and
    * the standard salting/cap patterns apply if a corpus concentrates.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist
    * (0 = exact duplicates under distinct ids). Equals brute force by
    * construction; the DuckDB oracle recomputes it as a cross join.
    * Reference has no analog (closest: property-value exact match,
    * graph/memstore/quadstore.go); this is the data-cleaning tier of the
    * pipeline ops.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, "maxDist must be 1 or 2")
    val s = col("s")
    val lvl1 = deleteOne(s)
    val variants = maxDist match {
      case 1 => array_distinct(concat(array(s), lvl1))
      case _ => array_distinct(concat(array(s), lvl1,
        flatten(transform(lvl1, v => deleteOne(v)))))
    }
    // materialize once: both sides of the variant self-join — otherwise
    // the variant explode runs twice (same rule as the banded joins
    // above). localCheckpoint, not cache: the returned plan stays lazy
    // over it, and checkpoint blocks are ContextCleaner-tracked (freed
    // when unreachable) where a .cache() would pin the variant table in
    // the CacheManager for the life of the session
    val rows = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .where(col("s").isNotNull)
      .select(col("id"), col("s"), explode(variants).as("v"))
      .select(col("id"), col("s"), xxhash64(col("v")).as("vh"))
      .localCheckpoint(true).cappedStats
    rows.alias("l").join(rows.alias("r"),
        col("l.vh") === col("r.vh") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.EditDistanceLe(col("l.s"), col("r.s"), maxDist)
          .cast("long").as("dist"))
      .where(col("dist") >= 0)
      .dropDuplicates("id_a", "id_b")
  }
}
