package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Graph.cacheOnce

/** Similarity search over an embedding column (`array<float>`).
  * Baseline: brute-force cosine top-k (one scan, map-side only until the
  * final top-k reduce). Scale path: LSH sign-bucketing (random-hyperplane)
  * so each probe touches one bucket — the IVF idea with hash-derived,
  * data-independent "centroids", which keeps bucketing a pure column
  * expression (no training job, deterministic across runs).
  */
object Similarity {
  /** Σ aᵢbᵢ — the native codegen'd [[graft.functions.ArrayDot]] expression
    * (tight loop in whole-stage codegen AND inside join-condition
    * predicates; left-to-right double accumulation, bitwise equal to a
    * sequential SQL dot product).
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k for one query id: broadcast the single query
    * row, scan once, global top-k (Spark's TakeOrdered — no full sort).
    */
  def bruteTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    emb.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs top-k per probe row against a (small, broadcastable) probe
    * set: the batched form used to attach nearest neighbors to a stream of
    * queries. One scan of the corpus per batch.
    */
  def batchTopK(emb: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = emb.alias("c").crossJoin(broadcast(probes.alias("p")))
      .where(col("c." + idCol) =!= col("p." + idCol))
      .select(col("p." + idCol).as("query_id"), col("c." + idCol).as("id"),
        cosine(col("c." + vecCol), col("p." + vecCol)).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    joined.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .drop("rn")
  }

  /** Bits for a target mean bucket occupancy: bits ≈ log2(n/target),
    * clamped to [0, 20]. Derive from a cheap count (or a known corpus
    * size) instead of fixing bits at the call site — a fixed `bits` makes
    * within-bucket work O(n²/2^bits), which silently degrades as the
    * corpus grows.
    */
  def autoBits(n: Long, targetBucket: Int = 256): Int =
    math.max(0, math.min(20,
      math.ceil(math.log(math.max(n, 1).toDouble / targetBucket) /
        math.log(2.0)).toInt))

  /** LSH-bucketed ANN with multi-probe: probe every bucket within Hamming
    * distance `probe` of the query's bucket (probe=1 → bits+1 buckets),
    * trading a small scan multiplier for recall. `bits < 0` derives bits
    * from the corpus size (one count job). Recall < 1 by construction —
    * verify with recall@k against [[bruteTopK]].
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
              queryId: Long, k: Int, bits: Int = -1,
              probe: Int = 1): DataFrame = {
    val b = if (bits >= 0) bits else autoBits(emb.count())
    val withBucket = emb.withColumn("bucket",
      signBucketExpr(col(vecCol), dim, b))
    val q = withBucket.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), col("bucket").as("qbucket"))
    // single broadcast row → the non-equi bucket predicate is a cheap
    // broadcast-nested-loop filter, still one scan of the corpus
    withBucket.join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probe)
      .where(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batched LSH ANN for probe sets too large to broadcast-cross-join:
    * both sides bucket with the same hyperplanes, the PROBE side explodes
    * into its own bucket plus every Hamming-1 neighbor bucket (multi-probe
    * as rows, so the candidate join is an EQUI-join on the bucket — never
    * a quadratic non-equi join), then exact cosine + per-probe window
    * top-k. `probe` is the full Hamming radius: every bucket within
    * distance `probe` is visited, Σ_{i≤probe} C(bits,i) equi-lookups of
    * ~n/2^bits rows per probe row.
    */
  def lshBatchTopK(emb: DataFrame, probes: DataFrame, idCol: String,
                   vecCol: String, dim: Int, k: Int,
                   bits: Int = -1, probe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = if (bits >= 0) bits else autoBits(emb.count())
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      signBucketExpr(col(vecCol), dim, b).as("bucket"))
    // all XOR masks with popcount ≤ probe — the caller's requested radius,
    // not a silent radius-1 fallback
    val flips: Seq[Column] =
      (0 to math.min(math.max(probe, 0), b)).flatMap(d =>
        (0 until b).combinations(d).map(c =>
          lit(c.foldLeft(0L)((m, j) => m | (1L << j)))))
    val probeExp = probes.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"),
        signBucketExpr(col(vecCol), dim, b).as("qbucket"))
      .select(col("query_id"), col("qv"),
        explode(array(flips.map(f => col("qbucket").bitwiseXOR(f)): _*))
          .as("bucket"))
    val cand = corpus.join(probeExp, Seq("bucket"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("v"), col("qv")).as("score"))
      .dropDuplicates("query_id", "id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .drop("rn")
  }

  /** Recall@k of the LSH path against the exact brute-force top-k — the
    * verification harness for the approximate operator (its oracle-able
    * contract is `recall ≥ minRecall`, not row equality).
    */
  def lshRecallAtK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                   queryId: Long, k: Int, minRecall: Double,
                   bits: Int = -1, probe: Int = 1): DataFrame = {
    val ann = lshTopK(emb, idCol, vecCol, dim, queryId, k, bits, probe)
      .select(col(idCol))
    val exact = bruteTopK(emb, idCol, vecCol, queryId, k).select(col(idCol))
    ann.join(exact, idCol)
      .agg((count(lit(1)).cast("double") / k >= minRecall).as("recall_ok"))
  }

  /** Random-hyperplane sign bucket: bit j = sign(Σᵢ rᵢⱼ·embᵢ) with
    * rᵢⱼ ∈ {−1,+1} derived from a hash of (j,i) — deterministic,
    * data-independent (no training job). Evaluated by the native codegen
    * [[graft.functions.SignBucket]] expression (bits×dim fused loop; the
    * earlier `aggregate(zip_with(...))` column form was interpreted and
    * needed compensating caches whenever bucketing fed a join).
    * `planeOffset` selects an independent hyperplane band (band k of
    * b bits passes k·b) for OR-amplified banded blocking.
    */
  def signBucketExpr(vec: Column, dim: Int, bits: Int,
                     planeOffset: Int = 0): Column =
    graft.functions.SignBucket(vec, dim, bits, planeOffset)

  // ------------------------------------------------------------ IVF ANN
  // The trained-centroid counterpart to the sign-LSH path: fit a few
  // spherical-k-means centroids, assign every vector to its nearest cell
  // (inverted file), and answer a query by scanning only the nprobe cells
  // nearest to it. Trades a small training job for data-adaptive buckets —
  // on clustered corpora the same scan fraction buys far more recall than
  // data-independent hyperplanes. At store scale the fit runs on a sample
  // and the corpus is WRITTEN partitioned by cell id, so a probe is
  // partition pruning, not a filter scan.

  private def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Spherical k-means centroids (unit vectors), a few Lloyd iterations.
    * Deterministic seeding: the `nCells` vectors with the smallest id
    * hashes. Each iteration is one scan (nearest-centroid assignment as a
    * codegen'd expression) + one dim-wide average aggregate; only the
    * nCells×dim centroid matrix ever reaches the driver. Cells that go
    * empty keep their previous centroid.
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, iters: Int = 3): Array[Array[Double]] = {
    val init = emb
      .select(col(vecCol).as("v"), xxhash64(col(idCol)).as("o"))
      .orderBy("o").limit(nCells)
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var cents = init.map(unitVec)
    val dim = cents.headOption.map(_.length).getOrElse(0)
    var it = 0
    while (it < iters && dim > 0) {
      val avgs = (0 until dim)
        .map(i => avg(element_at(col("v"), i + 1)).as(s"c$i"))
      val rows = emb
        .select(cellExpr(col(vecCol), cents).as("cell"), col(vecCol).as("v"))
        .groupBy("cell").agg(avgs.head, avgs.tail: _*)
        .collect()
      val next = cents.clone()
      rows.foreach { r =>
        next(r.getInt(0)) =
          unitVec((0 until dim).map(i => r.getDouble(i + 1)).toArray)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Nearest-centroid cell id (0-based): argmax over cells of
    * dot(vec, unit centroid) — |vec| is cell-invariant, so no per-row
    * normalization. The centroid matrix folds into literal arrays at plan
    * time; per row this is nCells codegen'd dot loops, no UDF. Ties break
    * to the lowest cell id (array_position returns the first match).
    */
  def cellExpr(vec: Column, cents: Array[Array[Double]]): Column = {
    val dots = array(cents.toIndexedSeq.map(c => dot(vec, typedLit(c.toSeq))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Batched IVF ANN: corpus assigned to cells once; each probe joins its
    * `nprobe` best cells (probe×centroid is a broadcast of nCells rows,
    * then a broadcast equi-join on cell — the corpus never shuffles), then
    * exact cosine + per-probe top-k. Scan fraction ≈ nprobe/nCells.
    */
  def ivfBatchTopK(emb: DataFrame, probes: DataFrame, idCol: String,
                   vecCol: String, k: Int, nCells: Int = 16,
                   nprobe: Int = 4, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(emb, idCol, vecCol, nCells, iters)
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      cellExpr(col(vecCol), cents).as("cell"))
    val centDF = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
    val pw = Window.partitionBy("query_id")
      .orderBy(col("cscore").desc, col("cell"))
    val probeCells = probes
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centDF))
      .withColumn("cscore", dot(col("qv"), col("cvec")))
      .withColumn("rn", row_number().over(pw)).where(col("rn") <= nprobe)
      .select("query_id", "qv", "cell")
    val cand = corpus.join(broadcast(probeCells), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("v"), col("qv")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .drop("rn")
  }

  /** Persist an IVF index as a cell-partitioned Parquet store: vectors
    * land in `cell=<i>/` directories and the centroid matrix in a JSON
    * sidecar. This is THE 100 TB layout: a probe's candidate read becomes
    * static partition pruning (only nprobe/nCells of the files are even
    * listed), not a filter over a full scan.
    */
  def ivfWrite(emb: DataFrame, dir: String, idCol: String, vecCol: String,
               nCells: Int = 16, iters: Int = 3): Unit = {
    val cents = ivfCentroids(emb, idCol, vecCol, nCells, iters)
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        cellExpr(col(vecCol), cents).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    val json = cents.map(_.mkString("[", ",", "]"))
      .mkString("{\"centroids\":[", ",", "]}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/ivf_meta.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load the centroid sidecar of an [[ivfWrite]] store. */
  def ivfReadCentroids(dir: String): Array[Array[Double]] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/ivf_meta.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    "\\[([^\\[\\]]*)\\]".r.findAllMatchIn(json)
      .map(_.group(1).split(',').map(_.trim.toDouble)).toArray
  }

  /** Batched top-k over an [[ivfWrite]] store. The probe batch picks its
    * nprobe cells driver-side from the sidecar (nCells dot products per
    * probe — no cluster job), so the scan carries a LITERAL `cell IN (…)`
    * predicate and Parquet partition pruning skips every other cell's
    * files before a byte is read.
    */
  def ivfStoreTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                   probes: DataFrame, idCol: String, vecCol: String,
                   k: Int, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = ivfReadCentroids(dir)
    val pb = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        posexplode(array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
          dot(col(vecCol), typedLit(c.toSeq))
        }: _*)).as(Seq("cell", "cscore")))
    val pw = Window.partitionBy("query_id")
      .orderBy(col("cscore").desc, col("cell"))
    // tiny probe side (probes × nprobe rows), broadcast-only: collect once
    // and rebuild a local relation — the literal cell set for partition
    // pruning falls out of the same collect, and nothing stays cached.
    val pcPlan = pb
      .withColumn("rn", row_number().over(pw)).where(col("rn") <= nprobe)
      .select("query_id", "qv", "cell")
    val pcRows = pcPlan.collect()
    val probeCells = spark.createDataFrame(
      java.util.Arrays.asList(pcRows: _*), pcPlan.schema)
    val cells = pcRows.map(_.getInt(2)).distinct.toSeq
    val corpus = spark.read.parquet(s"$dir/vectors")
      .where(col("cell").isin(cells: _*))
    val cand = corpus.join(broadcast(probeCells), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("v"), col("qv")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .drop("rn")
  }

  /** Quantized IVF store: same cell-partitioned layout as [[ivfWrite]],
    * plus an int8-quantized copy of each vector (`q8`, 8-byte scale +
    * 1 byte/dim — see [[graft.functions.Int8Vec]]) and its precomputed
    * norm. The probe scan reads ONLY (cell, id, q8, norm) — Parquet
    * column pruning never touches the float32 column — so the candidate
    * scan moves ~4× fewer vector bytes; the full-precision column is
    * read once more for the tiny rerank set. At 100 TB of embeddings
    * that byte ratio, not compute, is the probe cost.
    */
  def ivfWriteQuantized(emb: DataFrame, dir: String, idCol: String,
                        vecCol: String, nCells: Int = 16,
                        iters: Int = 3): Unit = {
    val cents = ivfCentroids(emb, idCol, vecCol, nCells, iters)
    // range-partition by (cell, id) and sort within: each output file
    // then covers a narrow id slice of its cell, so the rerank pass's
    // literal `id IN (…)` pushdown (see [[ivfStoreTopKQuantized]])
    // skips whole row groups via min/max stats instead of re-reading
    // every float32 vector in the probed cells.
    // PERSIST before the range exchange: RangePartitioner samples its
    // child to pick bounds, which would evaluate the quantize +
    // nCells-dot cell assignment over the whole input TWICE (measured:
    // x100 write 66.8 s un-persisted vs ~35 s — the sampling pass costs
    // as much as the real one on expression-heavy projections)
    val proj = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        graft.functions.Int8Vec.quantize(col(vecCol)).as("q8"),
        sqrt(dot(col(vecCol), col(vecCol))).as("norm"),
        cellExpr(col(vecCol), cents).as("cell"))
      .persist()
    try {
      proj.repartitionByRange(col("cell"), col("id"))
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    } finally proj.unpersist()
    val json = cents.map(_.mkString("[", ",", "]"))
      .mkString("{\"centroids\":[", ",", "]}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/ivf_meta.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Incrementally append vectors to an existing [[ivfWriteQuantized]]
    * store WITHOUT retraining: new rows are assigned to the persisted
    * centroids, quantized identically, and appended to their cell
    * partitions. A probe after the append returns exactly what a probe
    * of a store that had held the union all along returns (same
    * centroids ⇒ same cell assignment and quantization; top-k is scan-
    * order-independent) — AnalyticsSpec pins this equivalence. This is
    * the daily-ingest path at scale: no rebuild or re-shuffle of old
    * data, just new files inside touched cell directories. Retraining
    * (a full [[ivfWriteQuantized]] rewrite) is the caller's call, when
    * drift degrades cell balance.
    */
  def ivfAppendQuantized(newVecs: DataFrame, dir: String, idCol: String,
                         vecCol: String): Unit = {
    val cents = ivfReadCentroids(dir)
    // id-sorted within the appended files too, so their row-group stats
    // prune like the originals' (no global shuffle — ingest stays cheap)
    newVecs.select(col(idCol).as("id"), col(vecCol).as("v"),
        graft.functions.Int8Vec.quantize(col(vecCol)).as("q8"),
        sqrt(dot(col(vecCol), col(vecCol))).as("norm"),
        cellExpr(col(vecCol), cents).as("cell"))
      .sortWithinPartitions("cell", "id")
      .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** Batched top-k over an [[ivfWriteQuantized]] store: partition-pruned
    * int8 scan scores `rerank·k` candidates per probe approximately
    * (integer dot × scales), then ONE exact-cosine rescore pass over the
    * candidate sliver picks the final k. Approximation error only
    * reorders the approximate shortlist — anything the int8 scan ranks
    * within rerank·k of the top survives to exact scoring.
    */
  def ivfStoreTopKQuantized(spark: org.apache.spark.sql.SparkSession,
                            dir: String, probes: DataFrame, idCol: String,
                            vecCol: String, k: Int, nprobe: Int = 4,
                            rerank: Int = 4,
                            collectGate: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = ivfReadCentroids(dir)
    val pb = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        posexplode(array(cents.toIndexedSeq.map { c =>
          dot(col(vecCol), typedLit(c.toSeq))
        }: _*)).as(Seq("cell", "cscore")))
    val pw = Window.partitionBy("query_id")
      .orderBy(col("cscore").desc, col("cell"))
    // The probe side is tiny by construction (probes × nprobe rows) and is
    // only ever broadcast — collect it ONCE and rebuild a local relation:
    // the cell list for partition pruning falls out of the same collect
    // (one job, nothing left cached on the cluster).
    val pcPlan = pb
      .withColumn("rn", row_number().over(pw)).where(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"),
        graft.functions.Int8Vec.quantize(col("qv")).as("p8"),
        sqrt(dot(col("qv"), col("qv"))).as("pnorm"), col("cell"))
    val pcRows = pcPlan.collect()
    val probeCells = spark.createDataFrame(
      java.util.Arrays.asList(pcRows: _*), pcPlan.schema)
    val cells = pcRows.map(_.getInt(4)).distinct.toSeq
    // approximate scoring scan: int8 codes + norm only, float32 unread.
    // Zero-norm rows (scale 0) score -1, not NaN: NaN would sort ABOVE
    // every real score under a descending sort and crowd the shortlist.
    val corpusQ = spark.read.parquet(s"$dir/vectors")
      .where(col("cell").isin(cells: _*))
      .select(col("cell"), col("id"), col("q8"), col("norm"))
    val aw = Window.partitionBy("query_id")
      .orderBy(col("ascore").desc, col("id"))
    val cand = corpusQ.join(broadcast(probeCells), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), col("cell"), col("qv"),
        col("norm"), col("pnorm"),
        when(col("norm") * col("pnorm") === 0, lit(-1.0))
          .otherwise(graft.functions.Int8Vec.dot8(col("q8"), col("p8")) /
            (col("norm") * col("pnorm"))).as("ascore"))
      .withColumn("rn", row_number().over(aw))
      .where(col("rn") <= k.toLong * rerank)
      .drop("rn", "ascore")
    // exact rerank: second pruned read, full vectors for the sliver only;
    // norms ride along from the store/probe (same sqrt(dot(v,v)) floats),
    // with the same zero-norm guard.
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    def rescore(full: DataFrame, candSide: DataFrame): DataFrame =
      full.join(broadcast(candSide), Seq("cell", "id"))
        .select(col("query_id"), col("id"),
          when(col("norm") * col("pnorm") === 0, lit(-1.0))
            .otherwise(dot(col("v"), col("qv")) /
              (col("norm") * col("pnorm"))).as("score"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .drop("rn")
    if (pcRows.length <= collectGate) {
      // serving-sized probe batches: collect the shortlist (≤ probes ×
      // nprobe × k·rerank rows — the approximate scan runs exactly once
      // either way; here its output becomes a local relation instead of
      // a broadcast subquery) and push the candidate ids as a LITERAL
      // `id IN` filter into the full-precision read. With the store
      // range-laid on (cell, id) the row-group stats skip everything
      // but the sliver — without this the rerank re-read every float32
      // vector in the probed cells and dominated single-probe latency
      // at large corpus sizes (driver r11: x100 probe1 3.9 s vs x10
      // 0.87 — corpus-proportional, i.e. not serving-grade).
      val candRows = cand.collect()
      if (candRows.isEmpty)
        return spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              pcPlan.schema("query_id").dataType),
            org.apache.spark.sql.types.StructField("id",
              pcPlan.schema("query_id").dataType),
            org.apache.spark.sql.types.StructField("score",
              org.apache.spark.sql.types.DoubleType))))
      val candLocal = spark.createDataFrame(
        java.util.Arrays.asList(candRows: _*), cand.schema)
      val candIds = candRows.map(_.get(1)).distinct.toSeq
      val full = spark.read.parquet(s"$dir/vectors")
        .where(col("cell").isin(cells: _*) && col("id").isin(candIds: _*))
        .select(col("cell"), col("id"), col("v"))
      rescore(full, candLocal)
    } else {
      val full = spark.read.parquet(s"$dir/vectors")
        .where(col("cell").isin(cells: _*))
        .select(col("cell"), col("id"), col("v"))
      rescore(full, cand)
    }
  }

  /** Contract for the quantized store path: mean recall@k over the probe
    * batch vs the exact batch top-k (same anchoring as
    * [[ivfMeanRecallAtK]]), end-to-end through a real on-disk store.
    */
  def ivfQuantizedMeanRecallAtK(emb0: DataFrame, probes: DataFrame,
                                idCol: String, vecCol: String, k: Int,
                                minMeanRecall: Double, dir: String,
                                nCells: Int = 16, nprobe: Int = 4,
                                rerank: Int = 4): DataFrame = {
    val emb = cacheOnce(emb0)
    ivfWriteQuantized(emb, dir, idCol, vecCol, nCells)
    val spark = emb.sparkSession
    val ann = ivfStoreTopKQuantized(spark, dir, probes, idCol, vecCol, k,
        nprobe, rerank)
      .select("query_id", "id")
    val exact = batchTopK(emb, probes, idCol, vecCol, k)
      .select("query_id", "id")
    val hits = ann.join(exact, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    probes.select(col(idCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .agg(((avg(coalesce(col("hits"), lit(0L))) / k) >= minMeanRecall)
        .as("recall_ok"))
  }

  /** Exactness contract for [[ivfAppendQuantized]]: build the store on a
    * base slice, append the rest PLUS an exact clone of each probe
    * (id + 20M) in TWO batches, then require (a) every probe's top-1 is
    * its appended clone (cosine 1.0 must beat everything, and self-
    * matches are excluded by the probe, so only the appended row can
    * supply it) and (b) the store's row count equals base + appended.
    * Returns one row `(append_ok)`.
    */
  def ivfAppendContract(emb0: DataFrame, idCol: String, vecCol: String,
                        dir: String, nProbes: Int = 10,
                        nCells: Int = 16): DataFrame = {
    val emb = emb0.select(col(idCol).as("id"), col(vecCol).as("v")).cache()
    val base = emb.where(pmod(col("id"), lit(2)) === 0)
    val rest = emb.where(pmod(col("id"), lit(2)) === 1)
    val probes = base.where(col("id") < nProbes * 2)
    val clones = probes.select((col("id") + 20000000L).as("id"), col("v"))
    ivfWriteQuantized(base, dir, "id", "v", nCells)
    ivfAppendQuantized(rest, dir, "id", "v")
    ivfAppendQuantized(clones, dir, "id", "v")
    val spark = emb.sparkSession
    val top1 = ivfStoreTopKQuantized(spark, dir, probes, "id", "v",
        k = 1, nprobe = nCells, rerank = 8)
      .select(col("query_id"), col("id"))
    val allFound = top1
      .agg((count(lit(1)) === probes.count() &&
        sum(when(col("id") === col("query_id") + 20000000L, 1L)
          .otherwise(0L)) === probes.count()).as("clones_first"))
    val stored = spark.read.parquet(s"$dir/vectors").count()
    val expected = base.count() + rest.count() + clones.count()
    allFound.select((col("clones_first") && lit(stored == expected))
      .as("append_ok"))
  }

  // ------------------------------------------------------------- IVF-PQ

  /** Product-quantized IVF store (IVFADC, Jégou et al. TPAMI 2011): same
    * cell-partitioned layout, but the scoring copy of each vector is `m`
    * PQ code BYTES (8 for dim 64 — 32× below float32, 9× below the int8
    * layout) plus the precomputed norm. At 100 TB of embeddings the
    * probe sweep is byte-bound: this is the difference between reading
    * ~25 TB (float) / ~6 TB (int8) and ~1 TB per full-corpus sweep.
    * Codebooks train driver-side on a bounded sample (standard PQ
    * recipe — they are m·k·subDim doubles, generalize from a sample, and
    * a distributed k-means over all rows would add jobs for no recall).
    */
  def ivfWritePq(emb: DataFrame, dir: String, idCol: String,
                 vecCol: String, nCells: Int = 16, m: Int = 8,
                 kCodes: Int = 256, iters: Int = 3,
                 sampleN: Int = 16384): Unit = {
    import graft.functions.PqVec
    val cents = ivfCentroids(emb, idCol, vecCol, nCells, iters)
    val sample = emb.select(col(vecCol)).limit(sampleN).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray)
    val books = PqVec.train(sample, m, kCodes)
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        PqVec.encode(col(vecCol), books).as("pq"),
        sqrt(dot(col(vecCol), col(vecCol))).as("norm"),
        cellExpr(col(vecCol), cents).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    val json = cents.map(_.mkString("[", ",", "]"))
      .mkString("{\"centroids\":[", ",", "]}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/ivf_meta.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // PQ sidecar: shape + ONE flat centroid array (regex-parseable like
    // the ivf sidecar)
    val pqJson = s"""{"m":${books.m},"k":${books.k},""" +
      s""""subDim":${books.subDim},""" +
      books.flat.mkString("\"flat\":[", ",", "]}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/pq_meta.json"),
      pqJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load the PQ codebook sidecar of an [[ivfWritePq]] store. */
  def ivfReadPqBooks(dir: String): graft.functions.PqVec.Books = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/pq_meta.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def intOf(key: String): Int =
      ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(json).get
        .group(1).toInt
    val flat = "\\[([^\\[\\]]*)\\]".r.findFirstMatchIn(json).get
      .group(1).split(',').map(_.trim.toDouble)
    graft.functions.PqVec.Books(intOf("m"), intOf("k"), intOf("subDim"), flat)
  }

  /** Batched top-k over an [[ivfWritePq]] store: the partition-pruned
    * candidate scan reads ONLY (cell, id, pq, norm) — m code bytes per
    * row — and scores by ADC table lookup (the probe's m×k lut is
    * computed once driver-side and broadcast as a column). The exact
    * rerank then reads full vectors for the k·rerank sliver, exactly
    * like the int8 path — PQ only ever reorders the shortlist.
    */
  def ivfStoreTopKPq(spark: org.apache.spark.sql.SparkSession,
                     dir: String, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int, nprobe: Int = 4,
                     rerank: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PqVec
    val cents = ivfReadCentroids(dir)
    val books = ivfReadPqBooks(dir)
    val pb = probes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        posexplode(array(cents.toIndexedSeq.map { c =>
          dot(col(vecCol), typedLit(c.toSeq))
        }: _*)).as(Seq("cell", "cscore")))
    val pw = Window.partitionBy("query_id")
      .orderBy(col("cscore").desc, col("cell"))
    val pcPlan = pb
      .withColumn("rn", row_number().over(pw)).where(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"),
        sqrt(dot(col("qv"), col("qv"))).as("pnorm"), col("cell"))
    // tiny by construction (probes × nprobe rows): collect once, attach
    // each probe's ADC lut driver-side, rebuild a local relation
    val pcRows = pcPlan.collect()
    val withLut = pcRows.map { r =>
      val q = r.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray
      org.apache.spark.sql.Row.fromSeq(
        r.toSeq :+ (PqVec.lut(q, books).toSeq: Seq[Double]))
    }
    val probeCells = spark.createDataFrame(
      java.util.Arrays.asList(withLut: _*),
      pcPlan.schema.add("lut", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
    val cells = pcRows.map(_.getInt(3)).distinct.toSeq
    // ADC scan: code bytes + norm only; float32 never read here
    val corpusQ = spark.read.parquet(s"$dir/vectors")
      .where(col("cell").isin(cells: _*))
      .select(col("cell"), col("id"), col("pq"), col("norm"))
    val aw = Window.partitionBy("query_id")
      .orderBy(col("ascore").desc, col("id"))
    val cand = corpusQ.join(broadcast(probeCells), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), col("cell"), col("qv"),
        col("norm"), col("pnorm"),
        when(col("norm") * col("pnorm") === 0, lit(-1.0))
          .otherwise(PqVec.adc(col("pq"), col("lut")) /
            (col("norm") * col("pnorm"))).as("ascore"))
      .withColumn("rn", row_number().over(aw))
      .where(col("rn") <= k.toLong * rerank)
      .drop("rn", "ascore")
    val full = spark.read.parquet(s"$dir/vectors")
      .where(col("cell").isin(cells: _*))
      .select(col("cell"), col("id"), col("v"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    full.join(broadcast(cand), Seq("cell", "id"))
      .select(col("query_id"), col("id"),
        when(col("norm") * col("pnorm") === 0, lit(-1.0))
          .otherwise(dot(col("v"), col("qv")) /
            (col("norm") * col("pnorm"))).as("score"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .drop("rn")
  }

  /** Contract for the IVF-PQ store path: mean recall@k vs the exact
    * batch top-k, end-to-end through a real on-disk store (same
    * anchoring as [[ivfQuantizedMeanRecallAtK]]).
    */
  def ivfPqMeanRecallAtK(emb0: DataFrame, probes: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         minMeanRecall: Double, dir: String,
                         nCells: Int = 16, m: Int = 8, nprobe: Int = 4,
                         rerank: Int = 8): DataFrame = {
    val emb = cacheOnce(emb0)
    ivfWritePq(emb, dir, idCol, vecCol, nCells, m)
    val spark = emb.sparkSession
    val ann = ivfStoreTopKPq(spark, dir, probes, idCol, vecCol, k,
        nprobe, rerank)
      .select("query_id", "id")
    val exact = batchTopK(emb, probes, idCol, vecCol, k)
      .select("query_id", "id")
    val hits = ann.join(exact, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    probes.select(col(idCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .agg(((avg(coalesce(col("hits"), lit(0L))) / k) >= minMeanRecall)
        .as("recall_ok"))
  }

  /** IVF verification contract: MEAN recall@k over the probe batch vs the
    * exact batch top-k (anchored on the probe set — a probe with zero
    * recovered neighbors counts 0, it does not drop out). Mean rather than
    * min because single-query recall on weakly-clustered corpora is
    * volatile; the batch mean is the quantity IVF actually trades against
    * its scan fraction.
    */
  def ivfMeanRecallAtK(emb0: DataFrame, probes: DataFrame, idCol: String,
                       vecCol: String, k: Int, minMeanRecall: Double,
                       nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    // the harness scans the corpus ~6× (centroid fit iterations, cell
    // assignment, exact batch top-k) — cache it once
    val emb = cacheOnce(emb0)
    val ann = ivfBatchTopK(emb, probes, idCol, vecCol, k, nCells, nprobe)
      .select("query_id", "id")
    val exact = batchTopK(emb, probes, idCol, vecCol, k)
      .select("query_id", "id")
    val hits = ann.join(exact, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    probes.select(col(idCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .agg(((avg(coalesce(col("hits"), lit(0L))) / k) >= minMeanRecall)
        .as("recall_ok"))
  }

  /** Embedding-cosine near-duplicate pairs, approximate: bucket, pair
    * within bucket, verify with exact cosine ≥ threshold. `bits < 0`
    * derives bits from the corpus size. Same-bucket blocking has false
    * negatives (a near-dup pair can straddle a hyperplane) — use
    * [[cosineNearDupPairsExact]] when the output must be the exact answer.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, threshold: Double,
                         bits: Int = -1): DataFrame = {
    val bb = if (bits >= 0) bits else autoBits(emb.count())
    // no cache: SignBucket is codegen'd, so recomputing the bucket on each
    // join side is cheaper than a cache round-trip (the old HOF form needed
    // the cache to avoid double interpreted evaluation)
    val b = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      signBucketExpr(col(vecCol), dim, bb).as("bucket"))
    val l = b.alias("l")
    val r = b.alias("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        cosine(col("l.v"), col("r.v")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Banded (OR-amplified) sign-LSH near-duplicate pairs: each vector
    * buckets under `bands` INDEPENDENT hyperplane bands of `bitsPerBand`
    * bits; candidates are same-(band,bucket) pairs; membership is decided
    * by an exact cosine ≥ threshold verify — so precision is exact and the
    * only approximation is missed pairs. A pair with cosine c collides in
    * one band with probability p^b (p = 1 − arccos(c)/π), so its miss
    * probability is (1 − p^b)^R — e.g. c = 0.95 with b = 12, R = 8 misses
    * 6×10⁻³; c = 0.996 misses 5×10⁻⁵. Unrelated pairs (c ≈ 0) collide with
    * p ≈ 2⁻ᵇ per band, so candidate volume is ~R·n²/2ᵇ — the shuffle key is
    * (band, bucket) and nothing is quadratic in the plan (equi-join, never
    * a cartesian). This is the default near-dup path at scale;
    * [[cosineNearDupPairsExact]] remains the small-corpus/oracle anchor.
    *
    * Reference counterpart: none (the reference has no embedding ops);
    * the banding mirrors Dedup.minhash's LSH-band + exact-verify contract.
    */
  def cosineNearDupPairsBanded(emb: DataFrame, idCol: String,
                               vecCol: String, dim: Int, threshold: Double,
                               bands: Int = 8,
                               bitsPerBand: Int = 12): DataFrame = {
    val buckets = array((0 until bands).map(k =>
      signBucketExpr(col(vecCol), dim, bitsPerBand, k * bitsPerBand)): _*)
    val b = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        posexplode(buckets).as(Seq("band", "bucket")))
    val l = b.alias("l")
    val r = b.alias("r")
    // exact-cosine verify BEFORE the pair dedup, so the dedup exchange
    // carries only true pairs (ids), never the candidate volume
    l.join(r, col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .where(cosine(col("l.v"), col("r.v")) >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** EXACT embedding-cosine near-duplicate pairs: all-pairs self-join with
    * id_a < id_b. Cosine admits no sound metric blocking (it is norm-
    * invariant), so the exact contract is quadratic by nature; the join is
    * a block-partitioned cartesian (Spark shuffles both sides into block
    * pairs, each task a dense dot-product loop in codegen). For corpora
    * where n² is unpayable, [[cosineNearDupPairs]] is the approximate
    * path. Output: (id_a, id_b) — ids only, so the oracle comparison never
    * rides on float formatting.
    */
  /** SemDeDup-style semantic near-duplicate pairs: spherical k-means
    * clusters are the candidate generator (pairs are only compared
    * within a cell), exact cosine is the verdict — the published
    * semantic-dedup recipe for web-scale corpora (cluster embeddings,
    * dedup within clusters), and the natural alternative to the
    * data-independent sign-LSH bands of [[cosineNearDupPairsBanded]]:
    * trained cells follow the data's density, so a corpus with strong
    * cluster structure gets tighter candidate sets from the same
    * number of buckets. Same plan skeleton and guarantees — equi-join
    * on cell, verify-before-dedup, zero false positives, no cartesian;
    * recall is bounded by cell assignment (boundary pairs can split),
    * which the `emb_neardup_sem` contract measures against the exact
    * pair set. Cell count should scale ~√n so cells stay
    * broadcast-join-sized at 100 TB (the centroid matrix is nCells×dim
    * driver-held literals, same as the IVF store).
    */
  def cosineNearDupPairsCells(emb: DataFrame, idCol: String,
                              vecCol: String, threshold: Double,
                              nCells: Int = 16,
                              iters: Int = 3): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, nCells, iters)
    val b = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      cellExpr(col(vecCol), cents).as("cell")).cache()
    b.alias("l").join(b.alias("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .where(cosine(col("l.v"), col("r.v")) >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
  }

  def cosineNearDupPairsExact(emb: DataFrame, idCol: String, vecCol: String,
                              threshold: Double): DataFrame = {
    // norms once per row (cached so the optimizer cannot inline them back
    // into the per-pair join condition); per pair only the codegen'd dot
    // loop + one division — identical arithmetic to dot(a,b)/(‖a‖·‖b‖),
    // the oracle's formula
    val b = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("n")).cache()
    b.alias("l").join(b.alias("r"), col("l.id") < col("r.id"))
      .where(dot(col("l.v"), col("r.v")) / (col("l.n") * col("r.n"))
        >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
  }

  /** ±1/√k Johnson–Lindenstrauss projection matrix (outDim × dim),
    * deterministic in `seed` — the Achlioptas construction: sign
    * matrices satisfy the JL inner-product guarantee with the same
    * ε ~ 1/√outDim as Gaussians, and fold into the plan as literals.
    */
  def projectionMatrix(dim: Int, outDim: Int,
                       seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(outDim)(Array.fill(dim)(
      (if (rnd.nextBoolean()) 1.0 else -1.0) / math.sqrt(outDim.toDouble)))
  }

  /** Random-projection dimensionality reduction: `(id, pvec)` with
    * pvec = R·v for the [[projectionMatrix]] R. Each output coordinate
    * is one codegen'd [[dot]] against a literal row — outDim tight
    * loops per input row, no shuffle, no driver data. The embedding-
    * pipeline compression step: at 100 TB a 64→16 projection cuts every
    * downstream scan/shuffle of the vector column 4×, with ~1/√16
    * inner-product distortion.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    val r = projectionMatrix(dim, outDim, seed)
    emb.select(col(idCol),
      array(r.map(row => dot(col(vecCol), lit(row))): _*).as("pvec"))
  }

  /** Batched top-k with a random-projection prefilter: score ALL pairs
    * on the `outDim`-wide projections (4× fewer flops/bytes per pair at
    * 64→16), keep `cand` candidates per probe, exact-cosine rerank only
    * those. The original vectors ride the same rows, so the rerank is a
    * window over the candidate set — no second corpus scan. Recall < 1
    * by construction; verify with [[rpMeanRecallAtK]].
    */
  def rpBatchTopK(emb: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, dim: Int, k: Int, outDim: Int = 16,
                  cand: Int = 40, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = projectionMatrix(dim, outDim, seed)
    def proj(v: Column) = array(r.map(row => dot(v, lit(row))): _*)
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      proj(col(vecCol)).as("pv"))
    val probesP = probes.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), proj(col(vecCol)).as("qpv"))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("pscore").desc, col("id"))
    val we = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    corpus.crossJoin(broadcast(probesP))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), col("v"), col("qv"),
        cosine(col("pv"), col("qpv")).as("pscore"))
      .withColumn("prn", row_number().over(wp)).where(col("prn") <= cand)
      .select(col("query_id"), col("id"),
        cosine(col("v"), col("qv")).as("score"))
      .withColumn("rn", row_number().over(we)).where(col("rn") <= k)
      .drop("rn")
  }

  /** Top principal components of the embedding cloud via distributed
    * power iteration with deflation — the PCA/whitening step of an
    * embedding pipeline, computed WITHOUT materializing the covariance:
    * each iteration evaluates C·w = (Σ_x x·(xᵀw) − μ·Σ_x xᵀw)/n in one
    * aggregate job (w and μ fold into the plan as literals; `dim` sum
    * buffers + one scalar, map-side combined), so the data is scanned
    * `iters × nComponents` times and nothing quadratic in `dim` ever
    * shuffles. Deflation subtracts already-found directions from w
    * after every multiply (driver-side, dim-sized vectors). Returns
    * orthonormal rows, largest component first.
    *
    * Convergence is spectrum-dependent (flat spectra converge in
    * Rayleigh quotient long before the vector settles) — the contract
    * below therefore checks the Rayleigh quotient, not the direction.
    */
  def principalComponents(emb: DataFrame, idCol: String, vecCol: String,
                          dim: Int, nComponents: Int = 2,
                          iters: Int = 20,
                          seed: Long = 42L): Array[Array[Double]] = {
    val n = math.max(emb.count(), 1L).toDouble
    val v = col(vecCol)
    val mean = emb.agg(array((0 until dim).map(i =>
        avg(element_at(v, i + 1))): _*).as("mu"))
      .head.getSeq[Double](0).toArray
    val rnd = new scala.util.Random(seed)
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def orthonormalize(w: Array[Double]): Array[Double] = {
      comps.foreach { c =>
        val p = w.zip(c).map(t => t._1 * t._2).sum
        (0 until dim).foreach(i => w(i) -= p * c(i))
      }
      val nm = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / math.max(nm, 1e-300))
    }
    (0 until nComponents).foreach { _ =>
      var w = orthonormalize(Array.fill(dim)(rnd.nextGaussian()))
      (0 until iters).foreach { _ =>
        val muDotW = mean.zip(w).map(t => t._1 * t._2).sum
        val d = dot(v, lit(w)) - lit(muDotW)
        val row = emb.agg(
            array((0 until dim).map(i =>
              sum(element_at(v, i + 1) * d)): _*).as("s1"),
            sum(d).as("s0"))
          .head
        val s1 = row.getSeq[Double](0).toArray
        val s0 = row.getDouble(1)
        w = orthonormalize((0 until dim).map(i =>
          (s1(i) - mean(i) * s0) / n).toArray)
      }
      comps += w
    }
    comps.toArray
  }

  /** Rayleigh quotient wᵀCw of a unit direction under the mean-centered
    * covariance — one aggregate job, same algebra as the power step.
    */
  def rayleigh(emb: DataFrame, vecCol: String, dim: Int,
               w: Array[Double]): Double = {
    val n = math.max(emb.count(), 1L).toDouble
    val v = col(vecCol)
    val mean = emb.agg(array((0 until dim).map(i =>
        avg(element_at(v, i + 1))): _*))
      .head.getSeq[Double](0).toArray
    val muDotW = mean.zip(w).map(t => t._1 * t._2).sum
    val d = dot(v, lit(w)) - lit(muDotW)
    emb.agg(sum(d * d)).head.getDouble(0) / n
  }

  /** Contract harness for the driver oracle: the distributed top
    * component's Rayleigh quotient must reach ≥`minRatio` of the true
    * λ_max (driver Jacobi eigensolve of the collected covariance — the
    * oracle side only), and the returned rows must be orthonormal.
    * One row `(pca_ok, n_vecs)`.
    */
  def pcaContract(emb0: DataFrame, idCol: String, vecCol: String,
                  dim: Int, minRatio: Double = 0.95): DataFrame = {
    val spark = emb0.sparkSession
    val emb = cacheOnce(emb0)
    val comps = principalComponents(emb, idCol, vecCol, dim,
      nComponents = 2, iters = 30)
    val orthoOk = {
      val dots = for (a <- comps; b <- comps) yield a.zip(b).map(t =>
        t._1 * t._2).sum
      val eye = (for (i <- comps.indices; j <- comps.indices)
        yield if (i == j) 1.0 else 0.0)
      dots.zip(eye).forall(t => math.abs(t._1 - t._2) < 1e-6)
    }
    val vecs = emb.select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length
    val mu = (0 until dim).map(i => vecs.map(_(i)).sum / n).toArray
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      vecs.map(x => (x(i) - mu(i)) * (x(j) - mu(j))).sum / n
    }
    val lMax = jacobiMaxEigen(cov)
    val r = rayleigh(emb, vecCol, dim, comps(0))
    spark.range(1).select(
      lit(orthoOk && r >= minRatio * lMax).as("pca_ok"),
      lit(n.toLong).as("n_vecs"))
  }

  /** Largest eigenvalue of a small symmetric matrix by cyclic Jacobi
    * rotations (driver-side oracle reference; O(dim³) per sweep).
    */
  private[analytics] def jacobiMaxEigen(m0: Array[Array[Double]]): Double = {
    val dim = m0.length
    val m = m0.map(_.clone())
    (0 until 30).foreach { _ =>
      for (p <- 0 until dim; q <- p + 1 until dim if math.abs(m(p)(q)) > 1e-12) {
        val theta = 0.5 * math.atan2(2.0 * m(p)(q), m(q)(q) - m(p)(p))
        val c = math.cos(theta); val s = math.sin(theta)
        (0 until dim).foreach { k =>
          val mkp = m(k)(p); val mkq = m(k)(q)
          m(k)(p) = c * mkp - s * mkq
          m(k)(q) = s * mkp + c * mkq
        }
        (0 until dim).foreach { k =>
          val mpk = m(p)(k); val mqk = m(q)(k)
          m(p)(k) = c * mpk - s * mqk
          m(q)(k) = s * mpk + c * mqk
        }
      }
    }
    (0 until dim).map(i => m(i)(i)).max
  }

  /** Recall contract for the projection prefilter, same harness shape
    * as [[ivfMeanRecallAtK]].
    */
  def rpMeanRecallAtK(emb0: DataFrame, probes: DataFrame, idCol: String,
                      vecCol: String, dim: Int, k: Int,
                      minMeanRecall: Double, outDim: Int = 16,
                      cand: Int = 40): DataFrame = {
    val emb = cacheOnce(emb0)
    val ann = rpBatchTopK(emb, probes, idCol, vecCol, dim, k, outDim, cand)
      .select("query_id", "id")
    val exact = batchTopK(emb, probes, idCol, vecCol, k)
      .select("query_id", "id")
    val hits = ann.join(exact, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    probes.select(col(idCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .agg(((avg(coalesce(col("hits"), lit(0L))) / k) >= minMeanRecall)
        .as("recall_ok"))
  }

  /** Hard-negative mining for contrastive / retrieval training: for each
    * probe, the top-k highest-cosine candidates that are NOT known
    * positives (and not the probe itself) — the near-misses a trainer
    * wants as in-batch negatives, mined exactly. `positives` is the
    * labeled (query, candidate) relation to exclude; exclusion happens
    * BEFORE rank selection (anti-join), so the k survivors are the true
    * top-k of the negative pool, not a post-filtered top-k' of the full
    * pool — a positive sitting at rank 1 must pull the k+1-th candidate
    * in, never shorten the list.
    *
    * Scale shape: one corpus scan per probe batch (probes broadcast,
    * same as [[batchTopK]]); the positives anti-join side carries NO
    * broadcast hint — per-query label sets are usually small and AQE
    * broadcasts them from its own measured size, but a corpus-scale
    * label relation (weak supervision can label |corpus|-many pairs)
    * must be allowed to shuffle rather than OOM the driver on a forced
    * broadcast (the jaccardVerify rule: force a hint only where the
    * optimizer's estimate was MEASURED wrong).
    */
  def hardNegatives(emb: DataFrame, probes: DataFrame,
                    positives: DataFrame, idCol: String, vecCol: String,
                    queryCol: String, posCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = emb.alias("c").crossJoin(broadcast(probes.alias("p")))
      .where(col("c." + idCol) =!= col("p." + idCol))
      .select(col("p." + idCol).as("query_id"), col("c." + idCol).as("id"),
        cosine(col("c." + vecCol), col("p." + vecCol)).as("score"))
    val pos = positives.select(col(queryCol).as("query_id"),
      col(posCol).as("id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    scored.join(pos, Seq("query_id", "id"), "left_anti")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * from each probe's cosine top-`poolN` candidate pool, greedily pick
    * `k` results maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)
    * — the diversity-aware cut a retrieval pipeline serves instead of a
    * raw top-k full of near-duplicates. Ties break on ascending id; the
    * first pick is the plain relevance argmax.
    *
    * Fully declarative unrolled greedy: one corpus scan builds the pool
    * (probes broadcast, same shape as [[batchTopK]]), checkpointed at
    * Q×poolN rows; each of the k steps is then one window + one join
    * over that tiny table, with the running max-similarity folded in via
    * `greatest` — no per-group imperative code, and every step's
    * arithmetic (λ·rel − (1−λ)·maxsim, left-to-right) is mirrored
    * exactly by the unrolled SQL oracle, so the selection is
    * float-parity reproducible across engines.
    *
    * Output: (query_id, id, rank) with rank = selection step 1..k.
    */
  def mmrRerank(emb: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, k: Int, poolN: Int = 20,
                lambda: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && poolN >= k, "mmrRerank: need poolN >= k >= 1")
    val wRel = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("id"))
    val pool0 = emb.alias("c").crossJoin(broadcast(probes.alias("p")))
      .where(col("c." + idCol) =!= col("p." + idCol))
      .select(col("p." + idCol).as("query_id"), col("c." + idCol).as("id"),
        cosine(col("c." + vecCol), col("p." + vecCol)).as("rel"),
        col("c." + vecCol).as("cvec"))
      .withColumn("rn", row_number().over(wRel)).where(col("rn") <= poolN)
      .drop("rn")
    // the greedy steps re-derive their input plan per step — checkpoint
    // the pool so the corpus scan runs ONCE and the k-step unrolling
    // works over a Q×poolN-row table
    val pool = Dedup.checkpointCapped(pool0)
    val sel1 = pool
      .withColumn("rn", row_number().over(wRel)).where(col("rn") === 1)
      .select(col("query_id"), col("id").as("sel_id"),
        col("cvec").as("svec"))
    var out = sel1.select(col("query_id"), col("sel_id").as("id"),
      lit(1L).as("rank"))
    var remaining = pool.join(sel1, "query_id")
      .where(col("id") =!= col("sel_id"))
      .select(col("query_id"), col("id"), col("rel"), col("cvec"),
        cosine(col("cvec"), col("svec")).as("maxsim"))
    val wMmr = Window.partitionBy("query_id")
      .orderBy(col("mmr").desc, col("id"))
    for (step <- 2 to k) {
      val scored = remaining.withColumn("mmr",
        lit(lambda) * col("rel") - lit(1.0d - lambda) * col("maxsim"))
      val sel = scored
        .withColumn("rn", row_number().over(wMmr)).where(col("rn") === 1)
        .select(col("query_id"), col("id").as("sel_id"),
          col("cvec").as("svec"))
      out = out.unionByName(sel.select(col("query_id"),
        col("sel_id").as("id"), lit(step.toLong).as("rank")))
      if (step < k)
        remaining = remaining.join(sel, "query_id")
          .where(col("id") =!= col("sel_id"))
          .select(col("query_id"), col("id"), col("rel"), col("cvec"),
            greatest(col("maxsim"),
              cosine(col("cvec"), col("svec"))).as("maxsim"))
    }
    // self-contained Q×k-row result; the pool checkpoint is released
    Dedup.releasing(out, Seq(pool))
  }

  /** Reciprocal-rank fusion of N rankings — the hybrid-retrieval join of
    * the sparse (BM25 search store) and dense (IVF store) serving paths:
    * RRF(d) = Σ_sources 1/(rrfK + rank_source(d)), re-ranked per query.
    *
    * Exactness: each reciprocal is an exact BIGINT multiple of 1/L where
    * L = lcm(rrfK+1 … rrfK+maxRank), so the fusion score is an exact
    * integer sum (order-independent — a naive double Σ 1/(60+r) would be
    * union-order-dependent and never hash-stable) with ONE final double
    * division, the same float-parity rule as skipgram weights. Requires
    * L to fit a BIGINT: rrfK=60 admits maxRank ≤ 10 (L ≈ 1.4e14); raise
    * rrfK proportionally for deeper lists.
    *
    * Plan shape: union of the (already small, per-query top-k) ranking
    * tables, ONE hash aggregate on (query, id), one per-query top-k
    * window — no joins, so fusing S sources over Q queries is
    * O(S·Q·maxRank) rows end-to-end regardless of corpus size.
    * Final ties rank by ascending id.
    *
    * Inputs: each ranking as (queryCol, idCol, rankCol) with rank ≥ 1;
    * rows with rank > maxRank are ignored. Output:
    * (query, id, rank, score, n_sources).
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, k: Int = 10, rrfK: Int = 60,
              maxRank: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    require(rrfK >= 0 && maxRank >= 1, "rrfFuse: bad rrfK/maxRank")
    val lcm = (rrfK + 1 to rrfK + maxRank).foldLeft(BigInt(1))((a, b) =>
      a / a.gcd(BigInt(b)) * b)
    require(lcm.isValidLong,
      s"rrfFuse: lcm($rrfK+1..$rrfK+$maxRank) overflows BIGINT — " +
        "raise rrfK or lower maxRank")
    val l = lcm.toLong
    // per-source dedupe (best rank wins): a source frame carrying
    // duplicate (query, id) rows would otherwise inflate both the
    // reciprocal sum and n_sources — each source contributes at most
    // one reciprocal per (query, id). Frames are per-query top-k sized,
    // so the extra aggregate is negligible.
    val parts = rankings.map(_.select(
      col(queryCol).as("query"), col(idCol).as("id"),
      col(rankCol).cast("long").as("rank"))
      .where(col("rank") >= 1 && col("rank") <= maxRank)
      .groupBy("query", "id").agg(min("rank").as("rank")))
    val unioned = parts.reduce(_ unionByName _)
    // lcm is divisible by every (rrfK + rank), so DIV is exact
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query")
      .orderBy(col("num").desc, col("id"))
    unioned
      .select(col("query"), col("id"),
        expr(s"$l DIV (${rrfK.toLong} + rank)").as("rw"))
      .groupBy("query", "id")
      .agg(sum("rw").as("num"), count(lit(1)).as("n_sources"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query").as(queryCol), col("id").as(idCol), col("rank"),
        (col("num").cast("double") / lit(l.toDouble)).as("score"),
        col("n_sources"))
  }
}
