package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-call training-data curation: the composition a pretraining data
  * team actually runs, built from the engine's exact, engine-portable
  * stages so the whole pipeline is oracle-checkable end-to-end (every
  * key is md5-derived, every threshold integer — no float normalizers,
  * no ingestion-order dependence).
  *
  * Stage order follows the usual cost gradient — cheap row-local gates
  * before shuffling stages:
  *   1. exact dedup (canonical-form md5 fingerprint, min-id survivor;
  *      one hash-aggregate shuffle),
  *   2. quality gate (token-count bounds + max word length; row-local),
  *   3. per-source cap in deterministic md5-sample order (one window
  *      exchange on source; the Common-Crawl-style per-domain cap).
  *
  * Four shuffles total at any scale: fingerprint aggregate, survivor
  * join (both on doc identity — co-partitioned), and the two-phase
  * source cap (salted pre-cap + exact window — skew-safe: the heaviest
  * task is bounded by max-source/32 even when one source holds half the
  * corpus, see [[TextOps.capPerKey]]). The near-dup stages
  * (minhash/simhash/embedding) are deliberately NOT folded in here:
  * they are candidate-generating and corpus-dependent — chain
  * [[Dedup.minhashPairs]]/[[Dedup.clusters]] on the curated output when
  * wanted.
  */
object Curate {

  /** Returns the curated set as `(doc_id, source, n_tokens)`. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             sourceCol: String, minTokens: Int = 5,
             maxTokens: Int = 100000, maxWordLen: Int = 40,
             perSourceCap: Int = Int.MaxValue): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"), col(textCol).as("text"))
    val survivors = Dedup.exact(base, "doc_id", "text").select("doc_id")
    val kept = base.join(survivors, Seq("doc_id"))
      .where(TextOps.qualityOk(col("text"), minTokens, maxTokens, maxWordLen))
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    if (perSourceCap == Int.MaxValue) kept
    else TextOps.capPerKey(kept, "doc_id", "source", perSourceCap)
  }

  /** [[curate]] extended with the two train/eval-hygiene stages — the
    * whole LLM-data path in one call, still exact and oracle-checkable
    * end-to-end:
    *   4. decontamination (when `bench` is set): after the quality gate
    *      and BEFORE the cap, drop every candidate doc sharing ANY
    *      distinct word `decontamN`-gram with the benchmark corpus
    *      ([[Dedup.decontaminate]]'s broadcast semi-join), so the cap
    *      back-fills with clean documents instead of shipping holes;
    *   5. leakage-controlled split (when `holdoutFraction` > 0): on the
    *      final kept set, near-dup cluster labels
    *      ([[Dedup.clusterHoldout]]) decide the side — near-duplicate
    *      documents never straddle train/holdout, the contamination a
    *      plain id-hash split creates by construction.
    *
    * Returns `(doc_id, source, n_tokens)` plus a `split` column when
    * `holdoutFraction` > 0. Scale shape: stages 1-4 add one broadcast
    * semi-join to [[curate]]'s four exchanges (the benchmark side is
    * tiny by definition); stage 5 runs the banded-candidates + exact-
    * verify cluster engine over the CAPPED set only.
    *
    * NOTE: the returned plan references an internal `persist()` of the
    * input (evaluated once — see the inline comment), which stays a
    * live cache entry until eviction or `spark.catalog.clearCache()`.
    * Callers invoking curateFull in a loop or a long-lived session
    * should clear the cache between invocations.
    */
  def curateFull(docs: DataFrame, idCol: String, textCol: String,
                 sourceCol: String, minTokens: Int = 5,
                 maxTokens: Int = 100000, maxWordLen: Int = 40,
                 perSourceCap: Int = Int.MaxValue,
                 bench: Option[DataFrame] = None, decontamN: Int = 8,
                 holdoutFraction: Double = 0.0,
                 neardupThreshold: Double = 0.5): DataFrame = {
    // base feeds THREE consumers in the one returned plan (the exact-dedup
    // aggregate, the survivor join's row side, and the decontamination
    // gram stream) and Catalyst does not dedup identical subplans —
    // without a persist the caller's input pipeline is evaluated three
    // times per action (four with `bench` derived from the same source).
    // When the input is anything more expensive than a materialized
    // parquet scan (a union, a decoded/transformed view), that multiple
    // IS the pipeline's cost (measured x100 on a 100-way
    // translated-union corpus: 118-190 s in-record vs ~23 s with the
    // input evaluated once). The cache stays referenced by the returned
    // plan, like `capped` below; it is evictable and per-invocation.
    val base = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"), col(textCol).as("text")).persist()
    val survivors = Dedup.exact(base, "doc_id", "text").select("doc_id")
    val kept0 = base.join(survivors, Seq("doc_id"))
      .where(TextOps.qualityOk(col("text"), minTokens, maxTokens,
        maxWordLen))
    // flags derive from the RAW docs, not the dedup/quality output: the
    // flag set is content-per-doc, the anti-join only ever removes rows
    // kept0 kept anyway, and flagging from `base` keeps the expensive
    // dedup-shuffle lineage out of a second evaluation path
    val kept = bench match {
      case Some(b) =>
        val flagged = Dedup
          .decontaminateIds(base, b, "doc_id", "text", decontamN)
          .select(col("id").as("doc_id"))
        kept0.join(flagged, Seq("doc_id"), "left_anti")
      case None => kept0
    }
    val withTok = kept.select(col("doc_id"), col("source"), col("text"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val capped0 =
      if (perSourceCap == Int.MaxValue) withTok
      else TextOps.capPerKey(withTok, "doc_id", "source", perSourceCap)
    if (holdoutFraction <= 0.0)
      capped0.select("doc_id", "source", "n_tokens")
    else {
      // the capped set is consumed twice (output join + the holdout
      // cluster engine) and is SMALL by construction (≤ sources × cap
      // rows) — cache it so the corpus-sized prefix runs once
      val capped = capped0.cache()
      val split = Dedup.clusterHoldout(
        capped.select("doc_id", "text"), "doc_id", "text",
        holdoutFraction, neardupThreshold)
      capped.join(split.select("doc_id", "split"), Seq("doc_id"))
        .select("doc_id", "source", "n_tokens", "split")
    }
  }

  /** Per-source data card for a [[curate]] output: docs kept and token
    * mass per source (the numbers a mixture config is written against).
    */
  def dataCard(curated: DataFrame): DataFrame =
    curated.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
}
