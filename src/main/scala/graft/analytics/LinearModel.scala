package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed training of linear text classifiers — the fastText-style
  * quality/domain filter tier of a pretraining pipeline (a logistic
  * model over hashed bag-of-words features is the published recipe for
  * both the GPT-3/WebText quality filter and CCNet-style domain
  * filters). The reference engine has no learning layer; this is a
  * pipeline operator, not a traversal.
  *
  * Design for scale: the model (dim+1 doubles) lives on the driver and
  * folds into the plan as an array literal each round; the DATA never
  * leaves the cluster. One full-batch gradient round = one job over the
  * cached sparse feature rows — a per-doc margin aggregate, a join back
  * for the per-doc residual, and a per-bucket gradient aggregate
  * (map-side combined; collects ≤ dim+1 doubles). That is the classic
  * "broadcast the model, aggregate the gradient" loop: at 100 TB the
  * per-round cost is two shuffles of (id|bucket, double) rows,
  * independent of model placement, and rounds are fixed (no driver-side
  * data iteration).
  */
object LinearModel {

  /** Sparse feature rows with the bias channel attached: `(id, y, bi,
    * x)` where bi 0 is the intercept (x = 1) and bucket b maps to
    * bi = b + 1.
    */
  private def withBias(rows: DataFrame, labels: DataFrame): DataFrame =
    rows.select(col("id"), (col("bucket") + 1L).as("bi"),
        col("tf").cast("double").as("x"))
      .unionByName(labels.select(col("id"), lit(0L).as("bi"),
        lit(1.0).as("x")))
      .join(labels, "id")

  /** Full-batch gradient descent for L2-regularized logistic regression
    * over sparse hashed features.
    *
    * @param rows   sparse features `(id, bucket, tf)` ([[TextOps.hashedTf]] shape)
    * @param labels `(id, y)` with y ∈ {0.0, 1.0}
    * @param dim    feature dimension (buckets are 0 until dim)
    * @return (weights of size dim+1, index 0 = intercept)
    */
  def trainLogReg(rows: DataFrame, labels: DataFrame, dim: Int,
                  iters: Int = 40, lr: Double = 1.0,
                  l2: Double = 0.0): Array[Double] = {
    // cache the feature rows hash-laid-out on id: the margin aggregate
    // (grouping subsumes id) and the residual join then run exchange-
    // free, leaving ONE shuffle per round (the per-bucket gradient).
    // MEMORY_AND_DISK (not _SER): measured isolated at x100 (500 k docs,
    // 32 M feature rows) it wins 18.9/12.7 s vs 21.5/13.7 s — the SQL
    // cache is columnar compressed either way, and the serialized level
    // adds per-round decode CPU to the 10 gradient scans
    // materialize the labels ONCE before building the plan: `labels`
    // appears three times below (the bias union branch, the data join,
    // and the count) and callers typically derive it from the same
    // featurization as `rows` — without this the cache-fill job runs
    // the whole featurize pipeline three times over (r11 driver-record
    // diagnosis for x100_text_lr: 151 s vs a 32-43 s builder range).
    // The table is one row per labeled doc — checkpointing it is cheap.
    val lbl = Dedup.checkpointCapped(labels.select(col("id"), col("y")))
    val data = withBias(rows, lbl)
      .repartition(rows.sparkSession.sessionState.conf
        .numShufflePartitions, col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = math.max(lbl.count(), 1L).toDouble
    // per-round watchdog on big corpora (mirrors louvain's): one stderr
    // line per GD round with round seconds, gradient norm, RSS and
    // block-store footprint — enough to attribute a slow official-record
    // entry to cache eviction / disk pressure from the log alone
    val watch = n >= 100000.0
    val spark = rows.sparkSession
    val w = Array.fill(dim + 1)(0.0)
    (0 until iters).foreach { it =>
      val t0 = System.nanoTime()
      val wLit = lit(w)
      // per-doc margin (bias rides along as bucket 0), then residual
      // g = sigmoid(m) − y, then per-bucket gradient — ONE job
      val margins = data.groupBy("id", "y")
        .agg(sum(col("x") * element_at(wLit, col("bi").cast("int") + 1))
          .as("m"))
      val resid = margins.select(col("id"),
        (lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("y")).as("g"))
      val grads = data.select(col("id"), col("bi"), col("x"))
        .join(resid, "id")
        .groupBy("bi").agg(sum(col("x") * col("g")).as("gb"))
        .collect().map(r => r.getLong(0).toInt -> r.getDouble(1))
      grads.foreach { case (bi, gb) =>
        val reg = if (bi == 0) 0.0 else l2 * w(bi)
        w(bi) -= lr * (gb / n + reg)
      }
      if (watch) {
        val gn = math.sqrt(grads.map { case (_, gb) =>
          (gb / n) * (gb / n) }.sum)
        val infos = spark.sparkContext.getRDDStorageInfo
        System.err.println(f"lr round=$it " +
          f"roundSecs=${(System.nanoTime() - t0) / 1e9}%.1f " +
          f"gradNorm=$gn%.2e rss_mb=${GraphAlgos.procRssMb} " +
          f"blocks=${infos.map(_.numCachedPartitions).sum} " +
          f"block_mem_mb=${infos.map(_.memSize).sum / (1L << 20)} " +
          f"block_disk_mb=${infos.map(_.diskSize).sum / (1L << 20)}")
      }
    }
    // blocking: the caller may re-run training immediately — a
    // lazily-dropped 32 M-row cache otherwise overlaps the next run's
    // fresh cache under memory pressure
    data.unpersist(blocking = true)
    Dedup.releaseBlocks(lbl)
    w
  }

  /** Margins and predictions for a trained model over sparse feature
    * rows: `(id, margin, pred)` with pred = margin > 0.
    */
  def predict(rows: DataFrame, w: Array[Double]): DataFrame = {
    val wLit = lit(w)
    rows.select(col("id"), (col("bucket") + 1L).as("bi"),
        col("tf").cast("double").as("x"))
      .groupBy("id")
      .agg((sum(col("x") * element_at(wLit, col("bi").cast("int") + 1))
        + lit(w(0))).as("margin"))
      .select(col("id"), col("margin"), (col("margin") > 0).as("pred"))
  }

  /** Contract harness for the driver oracle: plant a hidden ±1 weight
    * vector over the hashed feature space (sign = bucket parity, so the
    * whole labeling pipeline — normalize, md5-bucket, planted margin —
    * is recomputable in ANSI SQL), label each document by the sign of
    * its planted margin and DROP documents with |margin| < `gap`
    * (margin-separable by construction — the realizable-case sanity
    * check any trainer must pass; without a margin the near-boundary
    * docs are information-theoretically hard and the bound would be
    * flaky). Train on the deterministic md5-keyed ~80% split; demand
    * ≥`minAcc` accuracy on BOTH splits. The split sizes cross engines:
    * the oracle recounts them from the same md5 rules. One row
    * `(lr_ok, n_train, n_holdout)`.
    */
  def logRegContract(docs: DataFrame, idCol: String, textCol: String,
                     dim: Int = 64, iters: Int = 80, lr: Double = 2.0,
                     holdoutFraction: Double = 0.2, gap: Long = 4L,
                     minAcc: Double = 0.9): DataFrame = {
    val spark = docs.sparkSession
    val rows = TextOps.hashedTf(docs, idCol, textCol, dim)
      .select(col(idCol).as("id"), col("bucket"), col("tf"))
      .cache()
    // hidden separator: s_b = ±1 by bucket parity (SQL-reproducible);
    // y = [Σ tf·s > 0], docs inside the margin gap excluded
    val sign = lit(1L) - lit(2L) * (col("bucket") % 2L)
    val labels = rows.groupBy("id")
      .agg(sum(col("tf") * sign).as("planted"))
      .where(abs(col("planted")) >= gap)
      .select(col("id"),
        when(col("planted") > 0, lit(1.0)).otherwise(lit(0.0)).as("y"))
      .withColumn("hold",
        conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
          .cast("long") / lit(1152921504606846976.0) <
          lit(holdoutFraction))
      .cache()
    val train = labels.where(!col("hold")).select("id", "y")
    val w = trainLogReg(rows.join(train.select("id"), "id"), train, dim,
      iters, lr)
    val acc = predict(rows, w)
      .join(labels, "id")
      .groupBy("hold")
      .agg(avg(when(col("pred") === (col("y") > 0.5), 1.0).otherwise(0.0))
        .as("acc"), count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap
    rows.unpersist(); labels.unpersist() // collected above — done with both
    val (trainAcc, nTrain) = acc.getOrElse(false, (0.0, 0L))
    val (holdAcc, nHold) = acc.getOrElse(true, (0.0, 0L))
    spark.range(1).select(
      lit(trainAcc >= minAcc && holdAcc >= minAcc).as("lr_ok"),
      lit(nTrain).as("n_train"), lit(nHold).as("n_holdout"))
  }
}
