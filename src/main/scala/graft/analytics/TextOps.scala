package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for training-data curation at scale. All are
  * pure column expressions (whole-stage codegen, no UDFs) and each has an
  * exact ANSI-SQL mirror used by the DuckDB oracle — determinism is part of
  * the contract (same input → same score on any engine).
  */
object TextOps {
  /** Canonical text form: lowercase, whitespace collapsed, trimmed. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace token count; 0 for blank text. */
  def tokenCount(text: Column): Column = {
    val t = normalize(text)
    when(length(t) === 0, lit(0)).otherwise(size(split(t, " ")))
  }

  /** A BPE-ish subword proxy: tokens plus one extra unit per 4 chars of
    * long words (approximates byte-pair splits of rare words without a
    * vocab; deterministic and SQL-mirrorable).
    */
  def subwordCount(text: Column): Column = {
    val t = normalize(text)
    when(length(t) === 0, lit(0)).otherwise(
      size(split(t, " ")) +
        aggregate(split(t, " "), lit(0), (acc, w) =>
          acc + greatest(lit(0), floor((length(w) - 1) / 4).cast("int"))))
  }

  /** Stopword-marker language guess. The fixed marker list keeps it a
    * CASE-chain any SQL engine can mirror; real corpora would swap in a
    * larger n-gram table (same plan shape: scan + case, no shuffle).
    */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), normalize(text), lit(" "))
    when(t.contains(" der ") || t.contains(" und ") || t.contains(" nicht "), "de")
      .when(t.contains(" le ") || t.contains(" la ") || t.contains(" et "), "fr")
      .when(t.contains(" el ") || t.contains(" los ") || t.contains(" una "), "es")
      .when(t.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(t.contains(" the ") || t.contains(" and ") || t.contains(" of "), "en")
      .otherwise("unk")
  }

  /** Punctuation count (sentence-ending marks). */
  def punctCount(text: Column): Column =
    length(text) - length(translate(text, ".!?", ""))

  /** Integer-only quality facets (hash-stable across engines):
    * n_chars, n_tokens, n_punct, max_word_len.
    */
  def qualityFacets(text: Column): Seq[(String, Column)] = {
    val t = normalize(text)
    Seq(
      "n_chars" -> length(t).cast("long"),
      "n_tokens" -> tokenCount(text).cast("long"),
      "n_punct" -> punctCount(text).cast("long"),
      "max_word_len" ->
        when(length(t) === 0, lit(0L))
          .otherwise(array_max(transform(split(t, " "), w => length(w))).cast("long")))
  }

  /** Gopher-rule quality facets (Rae et al. 2021 §A1.1, the canonical
    * pretraining document gates), as exact integer/rational columns so
    * any engine computes the identical values — ratios are given as
    * (numerator, denominator) pairs, never floats, to keep cross-engine
    * hash parity. Pure per-row expressions: one scan, no shuffle, at any
    * corpus size.
    *
    *  - `n_words`, `mean_word_len_num`/`n_words` = mean word length
    *  - `n_alpha_words`: words containing at least one a–z char
    *  - `n_symbol`: '#' and "..." occurrences (symbol-to-word ratio)
    *  - `n_stop_hits`: occurrences of the 8 Gopher stopwords
    *    (the/be/to/of/and/that/have/with)
    */
  def gopherFacets(text: Column): Seq[(String, Column)] = {
    val t = normalize(text)
    val words = split(t, " ")
    val nWords = when(length(t) === 0, lit(0)).otherwise(size(words))
    def occurrences(needle: String): Column =
      when(length(t) === 0, lit(0)).otherwise(
        ((length(t) - length(regexp_replace(t,
          java.util.regex.Pattern.quote(needle), ""))) / needle.length)
          .cast("long"))
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => size(filter(words, x => x === w)))
      .reduce(_ + _)
    Seq(
      "n_words" -> nWords.cast("long"),
      "sum_word_len" -> when(length(t) === 0, lit(0L))
        .otherwise(aggregate(words, lit(0), (acc, w) => acc + length(w))
          .cast("long")),
      "n_alpha_words" -> size(filter(words, w => w.rlike("[a-z]")))
        .cast("long"),
      "n_symbol" -> (occurrences("#") + occurrences("...")),
      "n_stop_hits" -> when(length(t) === 0, lit(0L))
        .otherwise(stopHits.cast("long")))
  }

  /** The Gopher keep-gate over [[gopherFacets]] (word-count window,
    * mean word length window, ≥80 % alphabetic words, symbol ratio < 0.1,
    * ≥2 stopword hits) — ratio comparisons cross-multiplied so the gate
    * is pure integer arithmetic.
    */
  def gopherOk(text: Column, minWords: Int = 50, maxWords: Int = 100000,
               minMeanWordLen: Int = 3, maxMeanWordLen: Int = 10): Column = {
    val f = gopherFacets(text).toMap
    val n = f("n_words")
    n.between(minWords, maxWords) &&
      (f("sum_word_len") >= n * minMeanWordLen) &&
      (f("sum_word_len") <= n * maxMeanWordLen) &&
      (f("n_alpha_words") * 10 >= n * 8) &&
      (f("n_symbol") * 10 < n) &&
      (f("n_stop_hits") >= 2)
  }

  /** Quality gate: token count and word-shape bounds — the usual cheap
    * pre-filter before expensive dedup/embedding stages.
    */
  def qualityOk(text: Column, minTokens: Int = 5, maxTokens: Int = 100000,
                maxWordLen: Int = 40): Column = {
    val t = normalize(text)
    val nTok = tokenCount(text)
    nTok.between(minTokens, maxTokens) &&
      array_max(transform(split(t, " "), w => length(w))) <= maxWordLen
  }

  /** Content fingerprint: md5 of the canonical form — identical in any
    * engine with a standard md5, so exact-dedup keys travel across systems.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Corpus token frequencies: explode canonical tokens, one map-side-
    * combined aggregate — the vocabulary-building pass of a tokenizer
    * pipeline (at 100 TB: one scan, shuffle of |vocab| partial counts).
    */
  def tokenFrequencies(df: org.apache.spark.sql.DataFrame,
                       textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(split(normalize(col(textCol)), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))

  /** Top-k vocabulary by frequency (ties broken by token: deterministic —
    * Spark plans this as TakeOrdered, no full sort).
    */
  def topTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                k: Int): org.apache.spark.sql.DataFrame =
    tokenFrequencies(df, textCol)
      .orderBy(col("freq").desc, col("token")).limit(k)

  /** Within-document repetition: 1 − distinct/total word n-grams (the
    * Gopher/C4-style boilerplate signal — templated or looping text scores
    * high). Returned as a ratio of two integer counts so the float is one
    * division on both engines. Texts shorter than n words score 0 (their
    * single whole-text shingle gives 1 − 1/1).
    *
    * Computed over [[Dedup.wordShingleRows]] — explode + one count/
    * count-distinct aggregate, all codegen'd — NOT as a per-row
    * `transform(...)` expression: Catalyst evaluates higher-order-function
    * lambdas interpreted, which measured ~10× slower on the same corpus.
    */
  def repetitionRatios(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame =
    Dedup.wordShingleRows(df, idCol, textCol, n)
      .groupBy("id")
      .agg(count(lit(1)).as("total"), count_distinct(col("h")).as("dist"))
      .select(col("id").as(idCol),
        (lit(1.0d) - col("dist").cast("double") / col("total").cast("double"))
          .as("rep"))

  /** Data-card corpus statistics per stratum (language/source): doc
    * count, token totals, mean and exact interpolated p50/p90 token
    * counts — the summary table every dataset release ships. One
    * map-side-combined aggregate; the exact percentiles sort only within
    * each stratum's aggregation buffer (at 100 TB swap in approx
    * percentile sketches — same plan shape).
    */
  def corpusStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                  stratumCol: String): org.apache.spark.sql.DataFrame = {
    val nTok = tokenCount(col(textCol)).cast("long")
    df.select(col(stratumCol), nTok.as("n_tok"))
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_tok")).cast("double") / count(lit(1))).as("mean_tokens"),
        percentile(col("n_tok"), lit(0.5)).as("p50_tokens"),
        percentile(col("n_tok"), lit(0.9)).as("p90_tokens"))
  }

  /** Fixed-size overlapping chunks — the RAG/window-embedding splitter.
    * Char-based: chunk i covers [i·stride, i·stride + size); the last
    * chunk may be short; texts ≤ size yield one chunk. Codegen explode of
    * a position sequence (no HOF lambda), mirrored exactly in SQL.
    * Returns (id, chunk_idx, chunk).
    */
  def chunkRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, size: Int,
                overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    val len = length(col(textCol)).cast("long")
    val n = when(len <= size, lit(1L)).otherwise(
      ceil((len - size) / lit(stride.toDouble)).cast("long") + 1L)
    df.select(col(idCol), col(textCol).as("__t"),
        explode(sequence(lit(0L), n - 1L)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        col("__t").substr((col("chunk_idx") * stride + 1).cast("int"),
          lit(size)).as("chunk"))
  }

  /** Per-doc top-k terms by tf·idf. The idf is the RATIONAL form
    * `N / df(term)` rather than `ln(N/df)`: a log's last-ulp differs
    * across libm builds and would break cross-engine hash equality, while
    * `(tf·N)/df` is two exact integer products and ONE IEEE division —
    * identical on any engine, and rank-equivalent to the log form for a
    * fixed corpus. Two aggregates + a window; every shuffle key is
    * (doc) or (term) — the natural 100 TB partitioning.
    */
  def topTfidfTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol),
        explode(split(normalize(col(textCol)), " ")).as("term"))
      .where(length(col("term")) > 0)
    val tf = tok.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col(idCol), col("term"), col("score"))
  }

  /** PII redaction: emails, long digit runs (phone-like), and IPv4
    * literals replaced by typed placeholders — the scrub pass before a
    * corpus leaves curation. One codegen'd regexp_replace chain per row;
    * the patterns avoid backreferences/lookaround so the Java and RE2
    * dialects (Spark vs DuckDB/the reference) agree, which makes the op
    * oracle-exact. Order matters and is part of the contract: emails
    * first (an email contains no spaces, a phone pattern could eat its
    * digits), then IPs, then phones.
    */
  /** HTML → text boilerplate stripping, the first step of every
    * web-corpus (CommonCrawl-style) ingestion pipeline: drop
    * script/style/comment blocks, drop all tags, decode the common
    * entities (one pass, `&amp;` decoded LAST so `&amp;lt;` cooks to
    * `&lt;`, the standard single-pass rule), collapse whitespace. All
    * codegen'd column functions (regexp_replace / replace / trim — no
    * UDF); every pattern uses only constructs with identical semantics
    * in Java regex and RE2 (`(?s)`, non-greedy `.*?`, `[^>]*`, `\s+`),
    * so a DuckDB oracle mirrors it replace-for-replace. (`\s` differs
    * on `\x0B` between the engines — vertical tabs are out of contract.)
    */
  def stripHtml(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) =>
        replace(acc, lit(k), lit(v)) // literal, not regex — exact parity
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def redact(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email, "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d() -]{6,}\\d", "<PHONE>")
  }

  /** Concat-and-split sequence packing — the GPT-style pretraining layout:
    * documents stream into fixed `seqLen`-token sequences, split wherever
    * the budget lands. Deterministic global order via the md5 sample key;
    * the stream is SHARDED (md5 % nShards) so every window runs per-shard
    * in parallel — a single global cumulative sum would serialize 100 TB
    * through one partition, per-shard streams are how packing actually
    * runs at scale. Returns (id, shard, seq_in_shard, offset): doc starts
    * at `offset` tokens into sequence `seq_in_shard` of its shard.
    */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, seqLen: Int,
                    nShards: Int = 16): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val base = df.select(col(idCol), (key % nShards).as("shard"), key.as("k"),
      tokenCount(col(textCol)).cast("long").as("n_tok"))
    val w = Window.partitionBy("shard").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("cum", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col(idCol), col("shard"),
        floor(col("cum") / lit(seqLen)).cast("long").as("seq_in_shard"),
        (col("cum") % seqLen).as("offset"))
  }

  /** Deterministic sampling key in [0, 1): a 60-bit md5-derived hash of the
    * id's decimal string — reproducible in ANY engine with a standard md5
    * (NOT xxhash/rand, which don't travel). Stratified sampling is
    * `sampleKey(id) < rate(stratum)`; the same doc keeps or drops on every
    * engine, every run, any partitioning.
    */
  def sampleKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("double") /
      lit((1L << 60).toDouble)

  /** Deterministic per-stratum cap: keep at most `cap` rows per value of
    * `keyCol`, chosen in md5-sample-key order (the Common-Crawl-style
    * per-domain cap that stops one giant domain dominating the corpus).
    * The kept set is engine- and run-independent because the order is
    * [[sampleKey]], not ingestion order.
    *
    * SKEW-SAFE BY CONSTRUCTION: a window partitioned only by `keyCol`
    * would sort a 50%-hot stratum in ONE task (AQE cannot split window
    * groups). Instead the cap runs two-phase: rows first split into
    * `salts` deterministic buckets per key (xxhash64 of the id) and take
    * the per-bucket top-`cap` — the global top-`cap` in a total order is
    * always a subset of the union of per-bucket top-`cap`s — then the
    * exact window runs over at most `salts·cap` rows per key. The
    * heaviest task is bounded by max-stratum/salts regardless of key
    * distribution; both phases keep the same total order (sampleKey,
    * id), so the result is bit-identical to the single-window form.
    */
  def capPerKey(df: org.apache.spark.sql.DataFrame, idCol: String,
                keyCol: String, cap: Int,
                salts: Int = 32): org.apache.spark.sql.DataFrame = {
    val order = Seq(sampleKey(col(idCol)), col(idCol))
    val w1 = Window
      .partitionBy(col(keyCol), pmod(xxhash64(col(idCol)), lit(salts)))
      .orderBy(order: _*)
    val pruned = df.withColumn("__rn1", row_number().over(w1))
      .where(col("__rn1") <= cap).drop("__rn1")
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    pruned.withColumn("rn", row_number().over(w))
      .where(col("rn") <= cap).drop("rn")
  }

  /** Temperature-style mixture sampling: per stratum keep
    * ⌈scale · √count⌉ rows (deterministic md5-key order). Down-weights
    * huge strata toward √-proportional representation — the α=0.5
    * temperature reweighting of pretraining mixtures — with an INTEGER
    * per-stratum threshold, so the kept set is reproducible bit-for-bit on
    * any engine (no cross-stratum float normalizer whose summation order
    * could differ). Same single-exchange window plan as [[capPerKey]].
    */
  def mixtureSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                    keyCol: String, scale: Double,
                    salts: Int = 0): org.apache.spark.sql.DataFrame = {
    if (salts <= 0) { // single-exchange plan: right call for uniform strata
      val part = Window.partitionBy(keyCol)
      val w = part.orderBy(sampleKey(col(idCol)), col(idCol))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n_key", count(lit(1)).over(part))
        .where(col("rn") <= ceil(lit(scale) * sqrt(col("n_key"))))
        .drop("rn", "n_key")
    } else {
      // skew-safe opt-in (same selection, more exchanges): per-key counts
      // via hash aggregate, then the two-phase salted cap of
      // [[capPerKey]] with the per-key sqrt threshold. Use when one
      // stratum dominates the corpus — the single-window form sorts the
      // whole hot stratum in ONE task.
      val counts = df.groupBy(keyCol).agg(count(lit(1)).as("__nk"))
      val capExpr = ceil(lit(scale) * sqrt(col("__nk")))
      val order = Seq(sampleKey(col(idCol)), col(idCol))
      val w1 = Window
        .partitionBy(col(keyCol), pmod(xxhash64(col(idCol)), lit(salts)))
        .orderBy(order: _*)
      val w = Window.partitionBy(keyCol).orderBy(order: _*)
      df.join(counts, Seq(keyCol))
        .withColumn("__rn1", row_number().over(w1))
        .where(col("__rn1") <= capExpr)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= capExpr)
        .select(df.columns.toIndexedSeq.map(col): _*) // join put keyCol first
    }
  }

  /** Language-model count table: the k most frequent word n-grams with
    * exact counts (ties broken by gram text). Documents shorter than n
    * words contribute nothing. Codegen-only construction (explode a
    * position sequence + concat_ws — no interpreted HOF lambdas), one
    * map-side-combined aggregate, TakeOrdered for the top-k.
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
                n: Int = 2, k: Int = 50): org.apache.spark.sql.DataFrame = {
    val toks = split(normalize(col(textCol)), " ")
    df.select(toks.as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(concat_ws(" ",
        (0 until n).map(j => element_at(col("toks"), col("i") + (j + 1))): _*)
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram")).limit(k)
  }

  /** Deterministic stratified sample: per-stratum keep rates (e.g. keep
    * 10% of English, 100% of rare languages). Plans as scan + filter — no
    * shuffle, no RNG state; at 100 TB the sample IS the pushed-down
    * filter. Strata absent from `rates` use `defaultRate`.
    */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                       stratumCol: String, rates: Map[String, Double],
                       defaultRate: Double): org.apache.spark.sql.DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    df.where(sampleKey(col(idCol)) < rate)
  }

  /** Deterministic train/holdout split: a row lands in the holdout iff
    * its md5 [[sampleKey]] falls below `holdoutFraction`. The assignment
    * is a pure function of the id — stable across engines, runs,
    * repartitions, and INCREMENTAL ingests (a document added next month
    * lands on the same side it would have landed today, so the holdout
    * never leaks into training as the corpus grows). Plans as scan +
    * filter, no shuffle; both sides are pushdown-able predicates.
    */
  def holdoutSplit(df: org.apache.spark.sql.DataFrame, idCol: String,
                   holdoutFraction: Double)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val k = sampleKey(col(idCol))
    (df.where(k >= holdoutFraction), df.where(k < holdoutFraction))
  }

  /** Corpus-familiarity language-model score: train word-bigram counts on
    * the corpus in one pass, then score every document by the average
    * corpus frequency of its own bigrams — the count-based analog of a
    * perplexity filter (boilerplate and templated text score high;
    * gibberish, OCR noise, and wrong-language fragments score near 1, the
    * self-count floor). Documents with fewer than two tokens are dropped
    * (they have no bigrams to score).
    *
    * Output: (id, n_bigrams, n_distinct, familiarity) where familiarity =
    * Σ freq(bigram) / n_bigrams. Both aggregate sums are exact BIGINTs;
    * the float is ONE division of two exact integers — the same
    * cross-engine determinism contract as Jaccard and repetition scores.
    *
    * Scale shape: explode bigrams (row-local zip of adjacent tokens),
    * count global frequencies (map-side-combined hash aggregate, |vocab²∩|
    * keys), hash-join each doc's bigrams back to the counts, re-aggregate
    * per doc. Three exchanges, all on hashed keys; no window, no sort, no
    * driver state — at 100 TB the frequency table is itself distributed
    * (never broadcast or collected).
    */
  def bigramFamiliarity(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = split(normalize(col(textCol)), " ")
    val bigrams = df
      .where(length(normalize(col(textCol))) > 0 && size(toks) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val freq = bigrams.groupBy("bg").agg(count(lit(1)).as("f"))
    bigrams.join(freq, "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count_distinct(col("bg")).as("n_distinct"),
        (sum(col("f")).cast("double") / count(lit(1)).cast("double"))
          .as("familiarity"))
  }

  /** BM25 lexical retrieval: top-`k` documents per query term — the
    * sparse-retrieval half of a RAG/eval pipeline next to the dense ANN
    * operators (Similarity.scala). Rational-idf variant for cross-engine
    * float parity (the same reason topTfidfTerms avoids `ln`: transcendental
    * libm results differ between engines, IEEE +,*,/ do not):
    * {{{
    *   idf(t)      = (N - df(t) + 0.5) / (df(t) + 0.5)
    *   score(d, t) = idf(t) * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl))
    * }}}
    * `avgdl` averages over the WHOLE corpus (one tiny scalar aggregate,
    * plan-folded as a literal); tf/df touch only rows containing a query
    * term, so the per-term work is an `isin` filter pushed to the token
    * explode, one (doc, term) hash aggregate, a broadcast of the |Q|-row
    * df table, and a per-term top-k window — no corpus-wide shuffle
    * beyond the tf aggregate. Ranking ties break on ascending doc id.
    */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val dls = df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("dl"))
    val tot = dls.agg(count(lit(1)).as("n"), sum("dl").as("s")).head
    val nDocs = tot.getLong(0)
    require(nDocs > 0, "bm25TopK: empty corpus")
    val avgdl = tot.getLong(1).toDouble / nDocs.toDouble
    val q = queryTerms.map(_.toLowerCase)
    val tf = df
      .select(col(idCol), explode(split(normalize(col(textCol)), " ")).as("term"))
      .where(col("term").isin(q: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // literal structure mirrors the oracle SQL token for token so both
    // engines run the identical IEEE op sequence
    val tfD = col("tf").cast("double"); val dfD = col("df").cast("double")
    val scored = tf.join(broadcast(dfreq), "term")
      .join(dls, idCol)
      .withColumn("score",
        ((lit(nDocs).cast("double") - dfD + lit(0.5)) / (dfD + lit(0.5))) *
          (tfD * (lit(k1) + lit(1.0))) /
          (tfD + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("dl").cast("double") / lit(avgdl)))))
    val w = Window.partitionBy("term")
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("term"), col(idCol), col("rank"), col("score"))
  }

  /** Skip-gram / co-occurrence pair counts — the word2vec/GloVe input
    * stage: for every ordered token pair (center, context) within
    * `window` positions of each other (distance >= 1), the corpus-wide
    * pair count and the GloVe-style distance-discounted weight
    * Σ 1/distance. The weight is accumulated EXACTLY: 1/d for
    * d <= window is summed as integer multiples of 1/L (L = lcm(1..window)),
    * so the aggregate is a BIGINT sum with ONE final double division —
    * float-parity across engines by the same rule as bigramFamiliarity
    * (a naive sum(1.0/d) is partition-order-dependent and never
    * hash-stable). Plan: one token explode, `window` self-equi-joins
    * collapsed into a single join on (doc, position+offset) via an
    * offset explode — all hash joins on integers, one final aggregate.
    */
  def skipgramCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     window: Int = 3): org.apache.spark.sql.DataFrame = {
    require(window >= 1, "skipgramCounts: window must be >= 1")
    val lcm = (1 to window).foldLeft(1L)((a, b) =>
      a / BigInt(a).gcd(BigInt(b)).toLong * b)
    val toks = df
      .select(col(idCol).as("__doc"),
        posexplode(split(normalize(col(textCol)), " ")))
      .where(length(col("col")) > 0)
      .select(col("__doc"), col("pos"), col("col").as("term"))
    val ctx = toks
      .withColumn("d", explode(array((1 to window).map(lit): _*)))
      .select(col("__doc"), col("term").as("center"),
        (col("pos") + col("d")).as("cpos"), col("d"))
    // context at pos+d pairs with the center both forward and backward;
    // emitting (center, right-neighbor) and (right-neighbor, center)
    // from one join covers every ordered pair exactly once
    val joined = ctx.join(toks.select(col("__doc"),
        col("pos").as("cpos"), col("term").as("context")),
      Seq("__doc", "cpos"))
    val pairs = joined.select(col("center"), col("context"), col("d"))
      .unionByName(joined.select(col("context").as("center"),
        col("center").as("context"), col("d")))
    // Spark's `/` on longs yields DOUBLE; d divides lcm exactly, so the
    // cast back to long is lossless and the aggregate stays an exact
    // BIGINT sum (order-independent), mirroring the oracle's // division
    pairs.groupBy("center", "context")
      .agg(count(lit(1)).as("n"),
        sum((lit(lcm) / col("d").cast("long")).cast("long")).as("wnum"))
      .select(col("center"), col("context"), col("n"),
        (col("wnum").cast("double") / lit(lcm.toDouble)).as("weight"))
  }

  /** C4/CCNet-style boilerplate-line removal over a normalized
    * `(id, line_no, line)` relation: a line whose corpus-wide DISTINCT-
    * document frequency exceeds `maxDocs` (navigation bars, cookie
    * banners, license headers) is dropped from EVERY document, and each
    * document's surviving lines are re-joined in order. Returns
    * `(id, text_clean, n_lines, n_kept)` — one row per input document,
    * including fully-scrubbed ones (`text_clean = ""`).
    *
    * Plan shape at 100 TB: one (line-md5) aggregate for the document
    * frequencies (two-phase distinct — partials combine map-side), the
    * boilerplate key set is tiny by definition (only lines repeated
    * across > maxDocs docs) so the removal anti-join broadcasts, and the
    * rebuild is ONE (id) shuffle with an in-row sort — no window, no
    * self-join. Line identity is md5 of the raw line, so the pass
    * reproduces bit-identically on any engine (the oracle re-derives it
    * relationally in DuckDB).
    */
  def removeFrequentLines(lines: org.apache.spark.sql.DataFrame,
                          idCol: String, lineNoCol: String, lineCol: String,
                          maxDocs: Long,
                          joinWith: String = "\n"): org.apache.spark.sql.DataFrame = {
    require(maxDocs >= 1, "removeFrequentLines: maxDocs must be >= 1")
    val key = md5(col(lineCol))
    val boiler = lines.groupBy(key.as("__k"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") > maxDocs)
      .select("__k")
    val kept = lines.join(broadcast(boiler), key === col("__k"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(lineNoCol).as("n"),
              col(lineCol).as("l")))),
            x => x.getField("l")),
          joinWith).as("text_clean"))
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Delimiter convenience over [[removeFrequentLines]]: split `textCol`
    * on the literal `delim` (default newline) into the (id, line_no,
    * line) relation and run the frequent-line scrub.
    */
  def dedupLines(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, maxDocs: Long,
                 delim: String = "\n"): org.apache.spark.sql.DataFrame = {
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))))
      .select(col(idCol), col("pos").as("line_no"), col("col").as("line"))
    removeFrequentLines(lines, idCol, "line_no", "line", maxDocs, delim)
  }

  /** Feature-hashed term-frequency rows `(id, bucket, tf)`: every
    * canonical token maps to `pmod(md5-60bit, dim)` — the hashing-trick
    * featurizer that turns raw text into fixed-dimension count vectors
    * with NO vocabulary pass (the property that matters at 100 TB: no
    * driver-side dictionary, no second scan; one explode + one
    * map-side-combined aggregate). The 60-bit md5 prefix is the same
    * cross-engine-stable hash the simhash oracle uses, so the bucketing
    * reproduces exactly in any engine with a standard md5.
    */
  def hashedTf(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim >= 2, "hashedTf: dim must be >= 2")
    df.select(col(idCol),
        explode(split(normalize(col(textCol)), " ")).as("term"))
      .where(length(col("term")) > 0)
      .select(col(idCol),
        pmod(conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Dense form of [[hashedTf]]: `(id, vec)` with `vec(b)` = tf of hash
    * bucket b (0 for empty buckets) — the input shape the similarity/ANN
    * tier consumes. One extra (id) aggregate over the exploded rows; the
    * in-row densify runs once per document.
    */
  def hashedTfVectors(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    val m = map_from_entries(collect_list(struct(col("bucket"), col("tf"))))
    hashedTf(df, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(transform(sequence(lit(0L), lit(dim - 1L)),
        b => coalesce(element_at(m, b), lit(0L))).as("vec"))
  }

  /** Misra–Gries heavy-hitters summary over a string column: one pass,
    * one k-entry counter map per partition, partial summaries merged
    * pairwise (classic mergeable-summary algebra) — the head-of-the-
    * distribution profile that replaces a full groupBy+sort when only
    * frequent values matter. Guarantees (for N total non-null rows):
    * every value with true count > N/(k+1) IS in the output, and each
    * reported estimate undercounts its true frequency by at most
    * N/(k+1). The surviving SET depends only on the data (not partition
    * order) for values above the guarantee threshold; below it,
    * membership is best-effort — contracts must assert the guarantee,
    * not the exact tail. Returns (value, est_count).
    */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, valueCol: String,
                   k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "heavyHitters: k must be >= 1")
    val spark = df.sparkSession
    import scala.collection.mutable
    def addOne(m: mutable.LinkedHashMap[String, Long], v: String): Unit =
      m.get(v) match {
        case Some(c) => m.update(v, c + 1L)
        case None =>
          if (m.size < k) m.update(v, 1L)
          else {
            // decrement-all step: drop zeros; O(k) amortized over >= k rows
            val dead = mutable.ArrayBuffer.empty[String]
            m.keysIterator.foreach { key =>
              val c = m(key) - 1L
              if (c <= 0L) dead += key else m.update(key, c)
            }
            dead.foreach(m.remove)
          }
      }
    def merge(a: mutable.LinkedHashMap[String, Long],
              b: mutable.LinkedHashMap[String, Long]): mutable.LinkedHashMap[String, Long] = {
      b.foreach { case (v, c) =>
        a.update(v, a.getOrElse(v, 0L) + c)
      }
      if (a.size > k) {
        // subtract the (k+1)-th largest count from everything, drop <= 0:
        // the summary shrinks back to <= k entries and the total error
        // stays additive across merges
        val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
        val dead = mutable.ArrayBuffer.empty[String]
        a.keysIterator.foreach { key =>
          val c = a(key) - cut
          if (c <= 0L) dead += key else a.update(key, c)
        }
        dead.foreach(a.remove)
      }
      a
    }
    val partials = df.select(col(valueCol).cast("string").as("v"))
      .where(col("v").isNotNull)
      .rdd.mapPartitions { it =>
        val m = mutable.LinkedHashMap.empty[String, Long]
        it.foreach(r => addOne(m, r.getString(0)))
        Iterator.single(m)
      }
    val summary =
      if (partials.isEmpty()) mutable.LinkedHashMap.empty[String, Long]
      else partials.treeReduce(merge)
    spark.createDataFrame(summary.toSeq.map(p => (p._1, p._2)))
      .toDF("value", "est_count")
  }

  /** Merge two Misra-Gries summaries built at the same `k` (Agarwal et
    * al. 2012, "Mergeable Summaries"): pointwise-sum the counts, then
    * subtract the (k+1)-th largest count from every entry and drop the
    * non-positive ones — the result is a valid MG summary of the
    * concatenated input with the same additive error bound N/(k+1)
    * over the COMBINED length. Driver-side helper (summaries are ≤ k
    * entries) — the cross-micro-batch fold for streaming heavy hitters.
    */
  private[graft] def mgMergeSummaries(a: Seq[(String, Long)],
                                      b: Seq[(String, Long)],
                                      k: Int): Seq[(String, Long)] = {
    require(k >= 1, "mgMergeSummaries: k must be >= 1")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    (a.iterator ++ b.iterator).foreach { case (v, c) =>
      m.update(v, m.getOrElse(v, 0L) + c)
    }
    if (m.size > k) {
      val cut = m.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      m.filterInPlace((_, c) => c - cut > 0L)
        .mapValuesInPlace((_, c) => c - cut)
    }
    m.toSeq
  }

  /** DSIR-style importance weights for data selection: score every raw
    * document by the log-likelihood ratio of its hashed-unigram bag
    * under a target-domain language model vs the raw-corpus model,
    * add-one smoothed over `buckets` hashed features:
    * {{{
    *   w(doc) = Σ_tokens  ln (cT(h)+1)/(NT+B)  −  ln (cR(h)+1)/(NR+B)
    * }}}
    * High-weight documents look like the target domain — sampling by
    * these weights is the published importance-resampling recipe for
    * pretraining-data selection. Feature hashing bounds both models at
    * `buckets` longs regardless of corpus size (they broadcast as one
    * count table); the per-token ratio precomputes into that table, so
    * scoring is explode → broadcast-join → per-doc sum.
    *
    * Determinism: double addition is non-associative, so the per-doc
    * sum is NOT left to shuffle order — each document re-assembles its
    * token ratios in position order (`sort_array` of (pos, llr)) and
    * folds them left-to-right with a row-local `aggregate`, making the
    * result bit-stable and bitwise comparable to any same-order
    * reference (the [[importanceWeightsContract]] oracle). The fold is
    * interpreted, but runs once per document, not per pair.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column,
                        buckets: Int = 1 << 16): DataFrame = {
    val toks = df.select(col(idCol).as("id"), isTarget.as("tgt"),
        posexplode(split(normalize(col(textCol)), " ")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
      .withColumn("h", pmod(xxhash64(col("w")), lit(buckets.toLong)))
      .localCheckpoint().cappedStats
    val counts = toks.groupBy("h").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
    val totals = counts.agg(sum("ct"), sum("cr")).head
    val nT = totals.getLong(0); val nR = totals.getLong(1)
    val b = buckets.toLong
    // per-feature llr folds the totals in once; ln((ct+1)/(NT+B)) −
    // ln((cr+1)/(NR+B)) computed as two ln calls in a FIXED shape so a
    // reference implementation can reproduce it bitwise
    val llrTab = counts.select(col("h"),
      (log((col("ct") + 1L).cast("double") / lit((nT + b).toDouble)) -
        log((col("cr") + 1L).cast("double") / lit((nR + b).toDouble)))
        .as("llr"))
    toks.where(!col("tgt"))
      .join(broadcast(llrTab), "h")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("pos"), col("llr"))))
        .as("seq"))
      .select(col("id"),
        aggregate(col("seq"), lit(0.0d), (acc, x) =>
          acc + x.getField("llr")).as("weight"))
  }

  /** Contract harness for the driver oracle: the distributed weights
    * must be BITWISE equal to a sequential recomputation of the same
    * formula in the same order (same JVM ln, same position-ordered
    * fold — determinism is part of the contract), and the top-scoring
    * raw document must actually look like the target domain. One row
    * `(dsir_ok, n_scored)`; the collects are the oracle side only.
    */
  def importanceWeightsContract(df: DataFrame, idCol: String,
                                textCol: String, isTarget: Column,
                                buckets: Int = 1 << 16): DataFrame = {
    val spark = df.sparkSession
    val dist = importanceWeights(df, idCol, textCol, isTarget, buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = df.select(col(idCol).cast("long"), col(textCol),
        isTarget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("\\s+", " ").trim
        .split(" ").toSeq.filter(_.nonEmpty)
    def h(w: String): Long = {
      val x = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(w),
          org.apache.spark.sql.types.StringType, 42L)
      ((x % buckets) + buckets) % buckets
    }
    val ct = new java.util.HashMap[Long, Long]()
    val cr = new java.util.HashMap[Long, Long]()
    rows.foreach { case (_, t, tgt) =>
      toks(t).foreach { w =>
        val m = if (tgt) ct else cr
        m.merge(h(w), 1L, _ + _)
      }
    }
    import scala.jdk.CollectionConverters._
    val nT = ct.values.asScala.map(_.toLong).sum
    val nR = cr.values.asScala.map(_.toLong).sum
    val b = buckets.toLong
    val local = rows.collect { case (id, t, false) if toks(t).nonEmpty =>
      id -> toks(t).map { w =>
        val k = h(w)
        math.log((ct.getOrDefault(k, 0L) + 1L).toDouble / (nT + b)) -
          math.log((cr.getOrDefault(k, 0L) + 1L).toDouble / (nR + b))
      }.foldLeft(0.0d)(_ + _)
    }.toMap
    val same = dist == local
    spark.range(1).select(lit(same).as("dsir_ok"),
      lit(local.size.toLong).as("n_scored"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * the top-k rows by key = ln(u)/w with u ∈ (0, 1] hash-derived from
    * (id, salt) — drawing the top-k under this key is provably
    * identical in distribution to sequential weighted sampling without
    * replacement, which makes it the one-pass importance-resampling
    * primitive that pairs with [[importanceWeights]]-style scores.
    * Deterministic in `salt` (re-evaluation returns the same rows —
    * required for cached-plan correctness); rows with non-positive
    * weight are excluded. Plan: per-row key + global top-k
    * (TakeOrdered — per-partition heaps then a k-row merge, no full
    * sort shuffle, the only scalable shape for k ≪ N).
    */
  def sampleByWeight(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, "sampleByWeight: k must be >= 1")
    // u in (0, 1]: 60-bit md5 fraction, nudged off zero so ln is finite
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
        lit(salt))), 1, 15), 16, 10).cast("double") + lit(1.0)) /
      lit((1L << 60).toDouble)
    df.where(col(weightCol) > 0)
      .withColumn("__wk", log(u) / col(weightCol))
      .orderBy(col("__wk").desc, col(idCol))
      .limit(k)
      .drop("__wk")
  }

  /** Contract harness for the driver oracle: the sample has exactly
    * min(k, eligible) rows, every id is a valid corpus id, the draw is
    * reproducible, and weighting BITES — the sampled mean weight
    * exceeds the corpus mean (deterministic here: fixed salt, fixed
    * corpus). One row `(sample_ok, k, n_docs)`; n_docs crosses engines.
    */
  def sampleByWeightContract(df: DataFrame, idCol: String,
                             weightCol: String, k: Int,
                             salt: String = "s1"): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"),
      col(weightCol).cast("double").as("w")).cache()
    val n = base.count()
    val eligible = base.where(col("w") > 0).count()
    def draw() = sampleByWeight(base, "id", "w", k, salt)
    val s1 = draw().select(col("id")).collect().map(_.get(0)).toSet
    val s2 = draw().select(col("id")).collect().map(_.get(0)).toSet
    val valid = base.select("id").collect().map(_.get(0)).toSet
    val st = base.where(col("w") > 0)
      .agg(avg("w"), min("w"), max("w")).head
    val meanAll = st.getDouble(0)
    // the mean-bias check is only meaningful when the sample is a
    // PROPER subset (k < eligible) and the weights actually vary —
    // sample == corpus or constant weights make the means equal by
    // construction, not a weighting failure
    val biasCheckable = eligible > k && st.getDouble(1) < st.getDouble(2)
    val meanSample = draw().agg(avg("w")).head.getDouble(0)
    val ok = s1 == s2 && s1.size == math.min(k.toLong, eligible).toInt &&
      s1.subsetOf(valid) && (!biasCheckable || meanSample > meanAll)
    base.unpersist()
    spark.range(1).select(lit(ok).as("sample_ok"), lit(k.toLong).as("k"),
      lit(n).as("n_docs"))
  }

  /** Blocklist scan: ids of documents whose normalized text contains
    * ANY of the literal phrases — the banned-phrase / contamination-
    * string filter of a curation pipeline. All phrases compile into ONE
    * RE2 alternation, so the scan is a single linear-time automaton pass
    * per document (the Aho-Corasick role; RE2's Pike VM gives the same
    * no-backtracking guarantee for any phrase count), not |phrases|
    * separate `contains` passes. Metacharacters in phrases are escaped —
    * inputs are literals by contract.
    */
  def blocklistIds(df: DataFrame, idCol: String, textCol: String,
                   phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklistIds: empty phrase list")
    val pat = phrases.map(_.flatMap {
      case c if "\\.+*?()|[]{}^$".contains(c) => s"\\$c"
      case c => c.toString
    }).mkString("(", "|", ")")
    df.select(col(idCol), normalize(col(textCol)).as("t"))
      .where(graft.functions.Re2Match(col("t"), pat))
      .select(col(idCol))
  }

  /** Count-min sketch over the corpus token stream: `depth × width`
    * counters, cell (j, c) = Σ counts of terms with
    * `xxhash64(term, j) mod width == c`. The mergeable point-frequency
    * summary that complements [[heavyHitters]] (which keeps only the
    * head): ANY term's frequency is answerable from `depth·width` longs,
    * with one-sided error — `est ≥ true` always, and
    * `est ≤ true + e·N/width` per row with probability `1 − e^{-depth}`.
    * Cost: the word-count pre-aggregate (map-side combined — the ONLY
    * shuffle proportional to the vocabulary) plus a `depth × vocab` →
    * `depth × width` aggregate of longs; at 100 TB the sketch is still
    * KBs and merges across corpora by cell-wise addition.
    */
  def countMinSketch(wordCounts: DataFrame, depth: Int = 4,
                     width: Int = 2048): DataFrame =
    wordCounts.select(col("cnt"),
        posexplode(array((0 until depth).map(j =>
          pmod(xxhash64(col("term"), lit(j)), lit(width.toLong))): _*))
          .as(Seq("j", "c")))
      .groupBy("j", "c").agg(sum("cnt").as("cnt"))

  /** Point-frequency estimates from a [[countMinSketch]]: per queried
    * term, min over the depth rows of its cell counters (absent cell =
    * 0). Broadcast-joins the tiny sketch against the query terms.
    */
  def cmsEstimates(sketch: DataFrame, words: DataFrame, wordCol: String,
                   depth: Int, width: Int): DataFrame =
    words.select(col(wordCol).as("term"))
      .select(col("term"), posexplode(array((0 until depth).map(j =>
        pmod(xxhash64(col("term"), lit(j)), lit(width.toLong))): _*))
        .as(Seq("j", "c")))
      .join(broadcast(sketch), Seq("j", "c"), "left")
      .groupBy("term").agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** `(term, cnt)` exact word counts of the normalized token stream —
    * the shared input of [[countMinSketch]] and its verification.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(normalize(col(textCol)), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Contract harness for the driver oracle: on the head-20 + tail-10
    * test terms, every estimate is ≥ the exact count (the structural
    * one-sided guarantee) and the worst overestimate stays within
    * 4·N/width — double the expected collision mass, deterministic here
    * because the hash functions are fixed. `n_tokens` crosses engines
    * (the oracle recounts it in SQL).
    */
  def cmsContract(df: DataFrame, textCol: String, depth: Int = 4,
                  width: Int = 2048): DataFrame = {
    val spark = df.sparkSession
    val wc = wordCounts(df, textCol).cache()
    val sketch = countMinSketch(wc, depth, width)
    val n = wc.agg(coalesce(sum("cnt"), lit(0L))).head.getLong(0)
    val test = wc.orderBy(col("cnt").desc, col("term")).limit(20)
      .unionByName(wc.orderBy(col("cnt").asc, col("term")).limit(10))
      .dropDuplicates("term")
    val joined = test
      .join(cmsEstimates(sketch, test, "term", depth, width), "term")
      .agg(coalesce(sum(when(col("est") < col("cnt"), 1L).otherwise(0L)),
        lit(0L)).as("bad"),
        coalesce(max(col("est") - col("cnt")), lit(0L)).as("maxOver"))
      .head
    val bound = math.max(1L, math.ceil(4.0 * n / width).toLong)
    spark.range(1).select(lit(joined.getLong(0) == 0L).as("cms_lower_ok"),
      lit(joined.getLong(1) <= bound).as("cms_over_ok"),
      lit(n).as("n_tokens"))
  }

  /** Deterministic-hash-sample quantile sketch: deciles of the
    * per-document token count, computed over the sample of documents
    * whose 60-bit md5 id hash ([[Dedup.tokenHash]], the SQL-mirrorable
    * one) is ≡ 0 mod `denom` — a 1/denom Bernoulli sample that is
    * REPRODUCIBLE in any engine with a standard md5, order-independent,
    * and mergeable across corpora (a union's sample is the union of
    * samples), unlike a seeded random sample. Decile d is the element
    * at 1-indexed rank ⌈d·n/10⌉ of the sample under the TOTAL order
    * (value, doc_id), so both engines select the identical element —
    * a value-level oracle, where true quantile sketches (GK/KLL) could
    * only offer rank-error contracts. By DKW, a sample of n gives
    * rank error ≤ √(ln(2/δ)/2n) wrt the corpus with prob 1−δ — size
    * `denom` to the corpus (1e8 docs / denom 4096 → n≈24k, ε≈0.9%).
    *
    * Scale shape: the corpus-sized work is one row-local projection +
    * filter (pushed to the scan); only the SAMPLE is sorted (the single
    * global-window task is n rows by construction — that is the point
    * of the sketch). The streaming twin
    * [[graft.streaming.QuadStream.quantileSampleStream]] keeps the
    * (value → count) histogram of the same sample, which determines the
    * identical deciles — exact batch equality, the CMS pattern.
    */
  def hashSampleQuantiles(df: DataFrame, idCol: String, textCol: String,
                          denom: Int = 16): DataFrame = {
    require(denom >= 1, s"hashSampleQuantiles: denom must be >= 1, got $denom")
    val spark = df.sparkSession
    val samp = df.select(col(idCol).cast("long").as("doc_id"),
        tokenCount(col(textCol)).cast("long").as("v"))
      .where(pmod(Dedup.tokenHash(col("doc_id").cast("string")),
        lit(denom.toLong)) === 0)
    val ranked = samp.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("doc_id"))))
    val nDf = samp.agg(count(lit(1)).as("n_sample"))
    spark.range(1, 10).select(col("id").as("decile"))
      .crossJoin(broadcast(nDf))
      .withColumn("rn", expr("(decile * n_sample + 9) div 10"))
      .join(ranked, "rn")
      .select(col("decile"), col("n_sample"), col("v").as("value"))
  }

  /** HyperLogLog registers over a text column's token stream (Flajolet
    * et al. 2007), m = 64 buckets, built on the shared 60-bit md5 token
    * hash ([[Dedup.tokenHash]]) so every cell is VALUE-reproducible in
    * any engine with a standard md5: bucket = low 6 bits, ρ = leading-
    * zero rank of the remaining 54 bits (55 − bit-length, 55 for w = 0),
    * register = max ρ per bucket. One map-side-combined aggregate over
    * the exploded tokens — the sketch is 64 longs regardless of corpus
    * size, and max() is mergeable, so the same cells stream as a
    * complete-mode aggregation ([[graft.streaming.QuadStream.hllStream]])
    * with hard cell-for-cell equality. Empty buckets surface as
    * register = 0 via a range(64) left join.
    */
  val HllBuckets = 64
  def hllRegisters(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val rho = hllBucketRho(df, textCol)
      .groupBy("bucket").agg(max("rho").as("register"))
    spark.range(HllBuckets).select(col("id").as("bucket"))
      .join(rho, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("register"), lit(0L)).as("register"))
  }

  private[graft] def hllBucketRho(df: DataFrame, textCol: String)
      : DataFrame = {
    val h = Dedup.tokenHash(col("term"))
    df.select(explode(split(normalize(col(textCol)), " ")).as("term"))
      .where(length(col("term")) > 0)
      .select(pmod(h, lit(64L)).as("bucket"),
        shiftrightunsigned(h, 6).as("w"))
      .select(col("bucket"),
        when(col("w") === 0L, lit(55L))
          .otherwise(lit(55L) -
            length(conv(col("w").cast("string"), 10, 2))).as("rho"))
  }

  /** Per-key HLL: one 64-register sketch per value of `keyCol` over the
    * hashed `valueCol` — the shape a 100 TB pipeline actually stores
    * (per-partition sketch rows merged at query time; max is the merge).
    * Returns per key the exact-integer harmonic sum (absent buckets
    * contribute their 2^55 term via the (64 − present) correction, so
    * the sum never needs the dense register vector) and the raw
    * estimate. All integers except the one final division.
    */
  def hllByKey(df: DataFrame, keyCol: String, valueCol: String)
      : DataFrame = {
    val h = Dedup.tokenHash(col(valueCol).cast("string"))
    df.where(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), pmod(h, lit(64L)).as("bucket"),
        shiftrightunsigned(h, 6).as("w"))
      .select(col("key"), col("bucket"),
        when(col("w") === 0L, lit(55L))
          .otherwise(lit(55L) -
            length(conv(col("w").cast("string"), 10, 2))).as("rho"))
      .groupBy("key", "bucket").agg(max("rho").as("register"))
      .groupBy("key").agg(
        count(lit(1)).as("n_buckets"),
        (sum(expr(
          "shiftleft(cast(1 as bigint), cast(55 - register as int))")) +
          (lit(64L) - count(lit(1))) * lit(36028797018963968L))
          .as("s_scaled"))
      .select(col("key"), col("n_buckets"), col("s_scaled"),
        (lit(0.709d) * lit(4096.0d) * lit(36028797018963968.0d) /
          col("s_scaled").cast("double")).as("estimate"))
  }

  /** Full HLL sketch rows: each of the 64 (bucket, register) cells plus
    * the exact-integer harmonic sum S = Σ 2^(55−register) (≤ 64·2^55,
    * comfortably a BIGINT — the sum the float 2^−register form would
    * make order-dependent) and the raw HLL estimate α₆₄·m²·2^55 / S,
    * one double division off the exact integers on both engines.
    */
  def hllSketch(df: DataFrame, textCol: String): DataFrame = {
    // checkpoint the 64-row register table so the corpus-scale token
    // explode runs ONCE — regs feeds both crossJoin sides and Catalyst
    // does not dedup identical subplans
    val regs = Dedup.checkpointCapped(hllRegisters(df, textCol))
    val s = regs.agg(sum(expr(
      "shiftleft(cast(1 as bigint), cast(55 - register as int))"))
      .as("s_scaled"))
    regs.crossJoin(broadcast(s))
      .select(col("bucket"), col("register"), col("s_scaled"),
        (lit(0.709d) * lit(4096.0d) * lit(36028797018963968.0d) /
          col("s_scaled").cast("double")).as("estimate"))
  }

  // ---------------------------------------------------------------------
  // Persisted full-text search store (inverted index + BM25 serving path)

  /** Persist a corpus's inverted index as a Parquet BM25 search store —
    * the lexical-retrieval serving layout for "top-k documents for this
    * query over 100 TB" without a corpus scan per query. The sibling of
    * the MinHash near-dup store ([[Dedup.minhashStoreWrite]]) and the IVF
    * vector store, completing the retrieval triple (near-dup / dense /
    * sparse). Layout:
    *  - `postings/pb=<bucket>/`: one row per (term, doc) —
    *    (term, id, tf, dl) with the doc length DENORMALIZED into the
    *    posting so scoring never fetches a second table. Rows are
    *    directory-partitioned by `pb = pmod(xxhash64(term), buckets)`
    *    (static partition pruning on probe) and RANGE-partitioned +
    *    sorted by (term, id) within files, so a literal `term IN (…)`
    *    probe skips row groups via the Parquet min/max stats — the
    *    text analog of the near-dup store's sorted-minhash skip.
    *  - `search_meta.json`: (n, sumdl, buckets). N and Σdl live in meta,
    *    df(t) is DERIVED at probe time by counting the term's postings
    *    (rows the scorer reads anyway), so appends stay exact: after
    *    [[searchStoreAppend]] every BM25 statistic equals a fresh write
    *    of the union.
    */
  def searchStoreWrite(df: DataFrame, dir: String, idCol: String,
                       textCol: String, buckets: Int = 32): Unit = {
    require(buckets >= 1, "searchStoreWrite: buckets must be >= 1")
    writeSearchPostings(df, dir, idCol, textCol, buckets, append = false)
    // a full write is the documented recovery from a crashed append: its
    // overwrite postings + fresh meta make the store consistent, so the
    // dirty marker (if any) clears here — AFTER meta, so a crash during
    // the rebuild leaves the store still marked dirty
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/append_in_progress"))
  }

  /** Append a document batch to a [[searchStoreWrite]] store. New
    * postings land in the existing bucket directories; meta's (n, Σdl)
    * accumulate. Because df(t) is derived from postings at probe time
    * and dl rides each posting row, a probe after the append is
    * VALUE-IDENTICAL to a probe of a fresh write of the union — the
    * incremental-ingest contract the near-dup and IVF stores make.
    * Batch and store doc ids are assumed disjoint.
    */
  def searchStoreAppend(df: DataFrame, dir: String, idCol: String,
                        textCol: String): Unit = {
    val (n0, s0, buckets) = searchStoreMeta(dir)
    // dirty marker: postings land before meta, and a failure between the
    // two would leave a store whose probes silently score with stale
    // (n, sumdl). The marker makes that state LOUD — searchStoreMeta
    // refuses to read while it exists — and the meta write itself goes
    // through a temp file + atomic rename so a torn meta can't be seen.
    val dirty = java.nio.file.Paths.get(s"$dir/append_in_progress")
    java.nio.file.Files.write(dirty, Array.emptyByteArray)
    val (n1, s1) =
      writeSearchPostings(df, dir, idCol, textCol, buckets, append = true)
    writeSearchMeta(dir, n0 + n1, s0 + s1, buckets)
    java.nio.file.Files.deleteIfExists(dirty)
  }

  private def writeSearchPostings(df: DataFrame, dir: String, idCol: String,
                                  textCol: String, buckets: Int,
                                  append: Boolean): (Long, Long) = {
    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val dls = df.select(col(idCol).as("id"),
      tokenCount(col(textCol)).cast("long").as("dl"))
    // corpus stats BEFORE any write into dir (the recache-by-path trap:
    // a post-write evaluation of a plan reading dir would see new files)
    val tot = dls.agg(count(lit(1)).as("n"), sum("dl").as("s")).head
    val n = tot.getLong(0)
    val sumdl = if (n == 0 || tot.isNullAt(1)) 0L else tot.getLong(1)
    val tf = df
      .select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // range-partition by the SORT key, not by pb: hash-by-bucket sorts
    // collapse into one giant task under power-law term skew (the
    // GraphStore 127.8 s lesson); partitionBy then fans each task's
    // rows into its pb directories.
    // PERSIST before the range exchange: RangePartitioner samples its
    // child, which would run the tokenize/explode/groupBy posting
    // pipeline (including its shuffle) twice (the ivf_q_write lesson)
    val posting = tf.join(dls, "id")
      .withColumn("pb",
        pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))
      .select(col("pb"), col("term"), col("id"), col("tf"), col("dl"))
      .persist()
    try {
      posting.repartitionByRange(numParts, col("term"), col("id"))
        .sortWithinPartitions("term", "id")
        .write.mode(if (append) "append" else "overwrite")
        .partitionBy("pb").parquet(s"$dir/postings")
    } finally posting.unpersist()
    if (!append) writeSearchMeta(dir, n, sumdl, buckets)
    (n, sumdl)
  }

  private def writeSearchMeta(dir: String, n: Long, sumdl: Long,
                              buckets: Int): Unit = {
    // temp file + atomic rename: a reader never sees a torn meta
    val tmp = java.nio.file.Paths.get(s"$dir/.search_meta.json.tmp")
    java.nio.file.Files.write(tmp,
      s"""{"n":$n,"sumdl":$sumdl,"buckets":$buckets}""".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(s"$dir/search_meta.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def searchStoreMeta(dir: String): (Long, Long, Int) = {
    require(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/append_in_progress")),
      s"search store $dir has a half-applied append (append_in_progress " +
        "marker present) — its meta is stale and committed postings may " +
        "double-count if the append is retried; rebuild the store with " +
        "searchStoreWrite (a full write restores consistency and clears " +
        "this marker)")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/search_meta.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def f(key: String): Long =
      ("\"" + key + "\":(-?\\d+)").r.findFirstMatchIn(json).get.group(1).toLong
    (f("n"), f("sumdl"), f("buckets").toInt)
  }

  /** BM25 top-`k` per query against a [[searchStoreWrite]] store:
    * (query_id, doc_id, rank, score, n_terms). Query texts tokenize with
    * the corpus normalizer (distinct terms — standard probabilistic-BM25
    * query form, matching [[bm25TopK]]'s per-term scoring exactly), the
    * probe pushes `pb IN` static partition pruning plus a literal
    * `term IN (…)` row-group skip into the postings scan, and the scan
    * is checkpointed so df-derivation and scoring read it once. Work is
    * proportional to Σ df(term) over the query terms — never the corpus.
    *
    * Float parity: each (term, doc) score is the [[bm25TopK]] rational-idf
    * expression token for token; the per-(query, doc) total sums the
    * matched term scores in ASCENDING TERM ORDER, left to right
    * (sort_array + aggregate here; `list_sum(list(score ORDER BY term))`
    * in the oracle) — an unordered SUM would be partition-order-dependent
    * and never hash-stable. Ties rank by ascending doc id.
    */
  def searchStoreProbe(spark: org.apache.spark.sql.SparkSession,
                       dir: String, queries: Seq[(Long, String)],
                       k: Int = 10, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "searchStoreProbe: no queries")
    val (n, sumdl, buckets) = searchStoreMeta(dir)
    require(n > 0, "searchStoreProbe: empty store")
    val avgdl = sumdl.toDouble / n.toDouble
    val qterms: Seq[(Long, String)] = queries.flatMap { case (qid, qt) =>
      qt.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct
        .map(qid -> _)
    }
    require(qterms.nonEmpty, "searchStoreProbe: queries have no terms")
    val terms = qterms.map(_._2).distinct
    // pb literals via a one-row-per-term job so the driver never
    // re-implements xxhash64 (must match the write's hash bit for bit)
    val pbs = terms.toDS().select(
      pmod(xxhash64(col("value")), lit(buckets.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val scan = spark.read.parquet(s"$dir/postings")
      .where(col("pb").isin(pbs: _*) && col("term").isin(terms: _*))
      .select("term", "id", "tf", "dl")
    // one pruned read feeds both df-derivation and scoring
    val hits = Dedup.checkpointCapped(scan)
    val dfq = hits.groupBy("term").agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double"); val dfD = col("df").cast("double")
    val scored = hits.join(broadcast(dfq), "term")
      .withColumn("score",
        ((lit(n).cast("double") - dfD + lit(0.5)) / (dfD + lit(0.5))) *
          (tfD * (lit(k1) + lit(1.0))) /
          (tfD + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("dl").cast("double") / lit(avgdl)))))
    val qdf = qterms.toDF("query_id", "term")
    val summed = scored.join(broadcast(qdf), "term")
      .groupBy(col("query_id"), col("id"))
      .agg(
        aggregate(sort_array(collect_list(struct(col("term"), col("score")))),
          lit(0.0), (acc, x) => acc + x.getField("score")).as("score"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id"))
    val out = summed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("id").as("doc_id"), col("rank"),
        col("score"), col("n_terms"))
    Dedup.releasing(out, Seq(hits))
  }
}
