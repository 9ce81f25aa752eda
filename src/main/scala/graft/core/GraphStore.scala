package graft.core

import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The engine's storage layout: two DataFrames mirroring the reference's
  * two global collections (all-nodes / all-quads,
  * /root/reference/graph/quadstore.go:102-106), dictionary-encoded like its
  * kv backend (/root/reference/graph/proto/primitive.proto:21-29) but with
  * content-hash ids (the sql/nosql backends' `refs.ValueHash`,
  * /root/reference/graph/refs/refs.go:55-70) so that value→id resolution is
  * pure computation.
  *
  *  - `nodes(id, kind, s, i, d, b, t, lang, dt, sk)`: the dictionary; `sk`
  *    is the precomputed sort key (`quad.Value.String()` form).
  *  - `quads(s, p, o, l)`: four long ids; `l` null for unlabeled quads.
  *
  * Every traversal is an equi-join / literal filter on longs. A stored
  * quads table is partitioned by a predicate bucket (`pb = pmod(p, N)`)
  * so predicate-constrained scans prune files: the kv backend's SP/OPS
  * composite indexes (the reference's graph/kv/indexing.go:62-71) become
  * partition pruning plus Parquet min/max on s/o. The nodes dictionary
  * is ~|distinct values| and joins broadcast per-predicate slices.
  */
final case class Graph(nodes: DataFrame, quads: DataFrame,
                       predicateBuckets: Int = 0,
                       predStats: Option[Map[Long, Long]] = None,
                       interactiveMaxQuads: Long = 0L,
                       quadsOps: Option[DataFrame] = None,
                       private[graft] val delta: Option[Graph.Delta] = None) {
  def spark: SparkSession = nodes.sparkSession

  def cached(): Graph = copy(nodes = Graph.cacheOnce(nodes),
    quads = Graph.cacheOnce(quads), quadsOps = quadsOps.map(Graph.cacheOnce))

  /** Serve queries on this graph from the driver-local index
    * (graft.shape.LocalEval) — the reference memstore's role — when the
    * quad count is under `maxQuads`; above it they take the distributed
    * path. `HttpApi` (and so `Cli http` and `Cli repl`) sets this on the
    * store it serves; the default cap comes from the session
    * (`LocalGraphIndex.maxQuads`), so at warehouse scale the gate never
    * opens. A snapshot a write made keeps the cap and indexes as its
    * base's index plus an overlay of its delta; no Spark job.
    */
  def interactive(maxQuads: Long = graft.shape.LocalGraphIndex.maxQuads(spark)): Graph =
    copy(interactiveMaxQuads = maxQuads)

  /** (node count, quad count). Every quad has a predicate, so when the
    * per-predicate stats are materialized their sum IS the quad count —
    * one fewer pass over the quads table.
    */
  def stats: (Long, Long) =
    (nodes.count(), predStats.map(_.values.sum).getOrElse(quads.count()))

  /** Materialize per-predicate quad counts (the reference's QuadIndexer
    * stats, shape.go:694-726): one small aggregate (predicates are
    * low-cardinality), letting the planner fold a zero-count predicate
    * constraint to the empty relation without scanning. At store scale
    * these numbers come from Parquet footers / a stats table written at
    * load time; here one job on the (usually cached) quads table.
    */
  def withStats(): Graph = copy(predStats = Some(Graph.countByP(quads)))

  /** Persist as Parquet. `predicateBuckets > 0` writes quads partitioned by
    * `pb = pmod(p, buckets)`: a query constraining `p` reads only the
    * matching partition directories (the lowering adds the `pb` filter
    * whenever it has a literal predicate set, so pruning is static, not
    * even dynamic).
    *
    * `objectIndex = true` writes the reference's dual-index layout
    * (`DefaultQuadIndexes = [SP, OPS]`, graph/kv/indexing.go:62-71) as
    * two Parquet orderings: the primary sorted by (p, s) within each
    * predicate bucket — forward hops with literal subjects skip row
    * groups on s min/max — and a `quads_ops` sibling with the SAME rows
    * sorted by (p, o), so reverse hops with literal objects prune the
    * way forward ones do. Readers pick the sibling up through
    * `graft_meta.json`, and the lowering scans whichever ordering matches
    * the hop's literal side.
    */
  def write(dir: String, predicateBuckets: Int = 0,
            objectIndex: Boolean = false): Unit = {
    nodes.write.mode("overwrite").parquet(s"$dir/nodes")
    Graph.writeQuads(quads, dir, predicateBuckets, objectIndex, SaveMode.Overwrite)
    if (!objectIndex) {
      // a prior objectIndex=true write may have left a sibling: readers
      // are meta-gated so it's dead weight, but it silently doubles the
      // store footprint — remove it
      val stale = new java.io.File(s"$dir/quads_ops")
      if (stale.exists())
        org.apache.commons.io.FileUtils.deleteQuietly(stale)
    }
    // persist per-predicate counts with the store (the QuadIndexer stats
    // table): readers get plan-time size folding without running a job.
    // Count from the files just written, not the input plan — when the
    // quads DataFrame is an expensive uncached pipeline (bulk load), a
    // second full evaluation would double the load cost.
    Graph.writeMeta(dir, predicateBuckets, objectIndex, predStats.getOrElse(
      Graph.countByP(nodes.sparkSession.read.parquet(s"$dir/quads"))))
  }

  /** Delta application (the reference's `ApplyDeltas`,
    * graph/quadwriter.go:49-56, which updates the live SP and OPS
    * indexes and their stats): returns a new snapshot, cost
    * O(delta), in the same shape as a freshly opened store — `quadsOps`
    * and `predStats` stay current and `pb` is derived for the new rows.
    *
    * A snapshot is `base ∪ delta`: `base` is the graph as it was last
    * cached; the delta — every quad and dictionary row written since, and
    * the base quads and nodes deleted since — is kept on the driver and
    * rebuilt on each write as one small local relation per table, so plan
    * depth does not grow with the number of writes. A write:
    *  1. deduplicates `g2` on its own and drops what the delta already
    *     holds (driver sets);
    *  2. probes the base dictionary for the remaining ids: one filtered,
    *     non-shuffling scan (`id isin`);
    *  3. probes the base quads only for the quads whose every term the
    *     base dictionary holds (a quad the base stores has all its terms
    *     there, so writes of new entities skip this probe): see
    *     [[storedRows]].
    *
    * Fold rule: once the delta outgrows the session's
    * `spark.sql.autoBroadcastJoinThreshold` (Spark's default when the
    * threshold is disabled), the snapshot is cached and materialized as
    * the new base (a base an earlier fold made is released).
    *
    * Unlike a `union` + `dropDuplicates` over the whole store, a write
    * never touches rows already in the base — duplicate quads the base
    * held before the write stay as they were.
    */
  def addQuads(g2: Graph): Graph = {
    val d = openDelta
    val (e, fresh) = adding(d, g2)
    if (e eq d) this else advance(e, fresh, 1L)
  }

  /** The existence decision of [[addQuads]], steps 1-3: `d` extended by
    * the quads and dictionary rows of `g2` that this snapshot lacks,
    * beside those quads; `d` itself when it lacks none. Both tables of
    * `g2` are collected on the driver.
    */
  private def adding(d: Graph.Delta, g2: Graph): (Graph.Delta, Seq[Graph.QuadKey]) = {
    val b = d.base
    // a quad or node deleted since the base was cached is fresh again:
    // the delta adds it back rather than undoing the deletion
    val (deleted, unknown) = Graph.keysOf(g2).filterNot(d.quads).partition(d.gone)
    val candNodes = g2.nodes.select(b.nodes.columns.toIndexedSeq.map(col): _*)
      .collect().iterator.map(r => r.getLong(0) -> r)
      .filterNot(kv => d.nodes.contains(kv._1)).toMap
    val probe = candNodes.keys.filterNot(d.goneNodes).toSeq
    val inBaseDict = if (probe.isEmpty) Set.empty[Long] else
      b.nodes.where(col("id").isin(probe: _*)).select("id")
        .collect().map(_.getLong(0)).toSet
    val freshNodes = candNodes -- inBaseDict
    def maybeInBase(id: Long) = !d.nodes.contains(id) && !freshNodes.contains(id)
    val inBase = b.storedRows(unknown.filter { case (s, p, o, l) =>
      maybeInBase(s) && maybeInBase(p) && maybeInBase(o) && l.forall(maybeInBase)
    }).toSet
    val fresh = deleted ++ unknown.filterNot(inBase)
    if (fresh.isEmpty && freshNodes.isEmpty) (d, Nil)
    else (d.copy(quads = d.quads ++ fresh, nodes = d.nodes ++ freshNodes), fresh)
  }

  /** Remove the quads of `g2` from this snapshot, from both orderings
    * (`quads` and `quadsOps`). Quads the delta added leave it; base quads,
    * found with the probe `addQuads` uses, join the delta as deletions
    * (an anti-join of the base against one small local relation).
    * `predStats` drop by the deleted rows, every stored copy counted.
    */
  def deleteQuads(g2: Graph): Graph = {
    val d = openDelta
    val (added, rest) = Graph.keysOf(g2).partition(d.quads)
    drop(d, added, d.base.storedRows(rest.filterNot(d.gone)), None)
  }

  /** RemoveNode (writer/single.go:84-114, which removes the node's quads
    * one by one): drop the dictionary row of `id` and every quad
    * referencing it. One filtered scan of this snapshot collects those
    * quads on the driver; they and the node join the delta as deletions,
    * so `quadsOps`, `predStats` and `pb` stay current as for
    * [[deleteQuads]].
    */
  def removeNode(id: Long): Graph = {
    val d = openDelta
    val touches = col("s") === id || col("p") === id || col("o") === id ||
      col("l") <=> lit(id)
    val (added, based) = quads.where(touches).select(Graph.QuadCols.map(col): _*)
      .collect().toSeq.map(Graph.quadKey).partition(d.quads)
    drop(d, added, based, Some(id))
  }

  /** `d` less the `added` quads it holds, the base quad `rows` (every
    * stored copy) and the node `id`.
    */
  private def drop(d: Graph.Delta, added: Seq[Graph.QuadKey],
                   rows: Seq[Graph.QuadKey], id: Option[Long]): Graph =
    if (added.isEmpty && rows.isEmpty &&
        id.forall(i => d.goneNodes(i) && !d.nodes.contains(i))) this
    else advance(d.copy(quads = d.quads -- added, gone = d.gone ++ rows,
      nodes = d.nodes -- id, goneNodes = d.goneNodes ++ id), added ++ rows, -1L)

  /** The snapshot of `d`, with `changed` quads moving the stats by `sign`;
    * folded when the delta outgrew the broadcast threshold.
    */
  private def advance(d: Graph.Delta, changed: Iterable[Graph.QuadKey],
                      sign: Long): Graph = {
    val g = d.snapshot(interactiveMaxQuads,
      predStats.map(Graph.plus(_, Graph.predCounts(changed), sign)))
    if (g.delta.exists(_.bytes > threshold)) g.fold(g.delta) else g
  }

  /** The session's broadcast threshold, or Spark's default when it is
    * disabled (`-1`): a disabled threshold turns broadcast joins off, not
    * incremental writes.
    */
  private def threshold: Long = {
    val t = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (t > 0) t
    else org.apache.spark.sql.internal.SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
      .defaultValue.get
  }

  /** The delta this snapshot sits on, unless a `copy` replaced a table
    * the delta built.
    */
  private[graft] def liveDelta: Option[Graph.Delta] =
    delta.filter(_.tables.corresponds(Seq(nodes, quads) ++ quadsOps)(_ eq _))

  /** [[liveDelta]], or an empty delta over this graph. */
  private def openDelta: Graph.Delta = liveDelta
    .getOrElse {
      val base = copy(quads = shaped(quads), quadsOps = quadsOps.map(shaped),
        delta = None)
      Graph.Delta(base, ownsBase = false)
    }

  /** `q` restricted to the quad columns, with `pb` when the graph is
    * bucketed (derived if `q` lacks it).
    */
  private def shaped(q: DataFrame): DataFrame = {
    val cols = Graph.QuadCols ++
      (if (predicateBuckets > 0 && q.columns.contains("pb")) Seq("pb") else Nil)
    val kept = if (q.columns.toSeq == cols) q else q.select(cols.map(col): _*)
    if (predicateBuckets > 0 && !q.columns.contains("pb"))
      kept.withColumn("pb", pmod(col("p"), lit(predicateBuckets.toLong)))
    else kept
  }

  /** Every row of this graph's quads that matches one of `keys`, with
    * duplicates. One filtered scan — `s`, `p` and `o` each `isin` the
    * keys' ids, plus `pb` on a bucketed store — semi-joined with the keys
    * as a broadcast local relation, so only exact matches reach the
    * driver. No shuffle; the result is bounded by the stored copies of
    * the keys.
    */
  private[core] def storedRows(keys: Seq[Graph.QuadKey]): Seq[Graph.QuadKey] =
    if (keys.isEmpty) Nil else {
      def in(c: String, ids: Seq[Long]) = col(c).isin(ids.distinct: _*)
      val hit = in("s", keys.map(_._1)) && in("p", keys.map(_._2)) &&
        in("o", keys.map(_._3))
      val pruned = if (predicateBuckets > 0 && quads.columns.contains("pb"))
        hit && in("pb", keys.map(k => Math.floorMod(k._2, predicateBuckets.toLong)))
      else hit
      val want = broadcast(Graph.localQuads(spark, keys.distinct, Graph.QuadSchema))
      Graph.semi(quads.where(pruned), want, "left_semi")
        .select(Graph.QuadCols.map(col): _*).collect().toSeq.map(Graph.quadKey)
    }

  /** This snapshot cached and materialized as a new base with an empty
    * delta. The base `prior` sits on is released when an earlier fold
    * made it: a snapshot still holding it recomputes from its lineage.
    * The new delta keeps `prior` (without its own), so a driver-local
    * index of the old base compacts into the new base's index.
    */
  private def fold(prior: Option[Graph.Delta]): Graph = {
    val g = copy(delta = None).cached()
    val tables = Seq(g.nodes, g.quads) ++ g.quadsOps
    tables.foreach(_.count())
    prior.filter(_.ownsBase).foreach(p =>
      (Seq(p.base.nodes, p.base.quads) ++ p.base.quadsOps).foreach(_.unpersist()))
    g.copy(delta = Some(Graph.Delta(g, ownsBase = true, tables = tables,
      prior = prior.map(_.copy(prior = None)))))
  }
}

object Graph {
  import NQuads.ParsedQuad

  /** `df` cached, unless an equal plan already is: Spark would keep the
    * one entry and only log a warning.
    */
  private[graft] def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.cache() else df

  /** Spark-encodable quad of flat value rows; `lbl` null when unlabeled. */
  final case class QuadRow(sub: QV, pred: QV, obj: QV, lbl: QV)

  object QuadRow {
    def apply(q: ParsedQuad): QuadRow =
      QuadRow(QV(q.s), QV(q.p), QV(q.o), q.l.map(QV(_)).orNull)
  }

  private def idOf(c: String): org.apache.spark.sql.Column =
    Values.idCol(col(c))

  /** A quad's ids `(s, p, o, l)`, as the driver holds them. */
  type QuadKey = (Long, Long, Long, Option[Long])

  private[core] val QuadCols: Seq[String] = Seq("s", "p", "o", "l")

  private val QuadSchema = StructType(Seq("s", "p", "o").map(
    StructField(_, LongType, nullable = false)) :+ StructField("l", LongType))

  private[core] def quadKey(r: Row): QuadKey =
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))

  private[core] def quadKey(q: ParsedQuad): QuadKey =
    (QValue.id(q.s), QValue.id(q.p), QValue.id(q.o), q.l.map(QValue.id))

  /** The writes since `base` was cached (see [[Graph.addQuads]]), on the
    * driver: `quads` added (absent from the visible base), `gone` base
    * quads deleted, dictionary rows added (by id) and base `goneNodes`
    * deleted. `tables` are the snapshot's nodes, quads and OPS DataFrames
    * built from it, so a graph whose tables are not those no longer sits
    * on this delta; `bytes` is Spark's size estimate of its local
    * relations. After a fold, `prior` is the delta the folded snapshot
    * sat on (its old base plus the writes the fold absorbed).
    */
  private[graft] final case class Delta(base: Graph, ownsBase: Boolean,
      quads: Set[QuadKey] = Set.empty, gone: Set[QuadKey] = Set.empty,
      nodes: Map[Long, Row] = Map.empty, goneNodes: Set[Long] = Set.empty,
      tables: Seq[DataFrame] = Nil, bytes: Long = 0L,
      prior: Option[Delta] = None) {
    def isEmpty: Boolean =
      quads.isEmpty && gone.isEmpty && nodes.isEmpty && goneNodes.isEmpty

    /** `(base ▷ gone) ∪ delta`, one local relation per table; the base
      * dictionary filtered by `goneNodes`.
      */
    def snapshot(interactiveMaxQuads: Long, stats: Option[Map[Long, Long]]): Graph = {
      val spark = base.spark
      val buckets = base.predicateBuckets
      val added = localQuads(spark, quads, base.quads.schema, buckets)
      // broadcast even when the session disables it: the base never shuffles
      val deleted = broadcast(localQuads(spark, gone, QuadSchema))
      val n = spark.createDataFrame(nodes.values.toSeq.asJava, base.nodes.schema)
      def live(q: DataFrame) = (if (gone.isEmpty) q else semi(q, deleted, "left_anti"))
        .unionByName(if (q.schema == base.quads.schema) added
          else localQuads(spark, quads, q.schema, buckets))
      val kept = if (goneNodes.isEmpty) base.nodes
        else base.nodes.where(!col("id").isin(goneNodes.toSeq: _*))
      val out = Graph(kept.unionByName(n), live(base.quads), buckets,
        stats, interactiveMaxQuads, base.quadsOps.map(live))
      out.copy(delta = Some(copy(tables = Seq(out.nodes, out.quads) ++ out.quadsOps,
        bytes = Seq(added, deleted, n)
          .map(_.queryExecution.analyzed.stats.sizeInBytes).sum.toLong +
          8L * goneNodes.size)))
    }
  }

  private def keysOf(g: Graph): Seq[QuadKey] =
    g.quads.select(QuadCols.map(col): _*).collect().iterator.map(quadKey)
      .toSeq.distinct

  /** `keys` as a local relation of `schema` (`pb` derived from `p`). */
  private def localQuads(spark: SparkSession, keys: Iterable[QuadKey],
                         schema: StructType, buckets: Int = 0): DataFrame = {
    val rows = keys.iterator.map { case (s, p, o, l) =>
      Row.fromSeq(schema.fields.toSeq.map(f => f.name match {
        case "s" => s
        case "p" => p
        case "o" => o
        case "l" => l.map(Long.box).orNull
        case "pb" =>
          val b = Math.floorMod(p, buckets.toLong)
          if (f.dataType == IntegerType) b.toInt else b
      }))
    }.toSeq
    spark.createDataFrame(rows.asJava, schema)
  }

  private def predCounts(keys: Iterable[QuadKey]): Map[Long, Long] =
    keys.groupMapReduce(_._2)(_ => 1L)(_ + _)

  private def countByP(quads: DataFrame): Map[Long, Long] =
    quads.groupBy("p").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `st` moved by `sign` × `counts`; predicates left at zero drop out,
    * as `withStats()` never lists them.
    */
  private def plus(st: Map[Long, Long], counts: Map[Long, Long],
                   sign: Long): Map[Long, Long] =
    counts.foldLeft(st) { case (m, (p, n)) =>
      val v = m.getOrElse(p, 0L) + sign * n
      if (v > 0) m.updated(p, v) else m - p
    }

  /** `q` semi- or anti-joined with the quads of `other` on (s, p, o) and
    * null-safe `l`.
    */
  private def semi(q: DataFrame, other: DataFrame, how: String): DataFrame = {
    val r = other.select(QuadCols.map(c => col(c).as("__" + c)): _*)
    q.join(r, QuadCols.map(c =>
      if (c == "l") col(c) <=> col("__l") else col(c) === col("__" + c))
      .reduce(_ && _), how)
  }

  /** Build the two tables from a DataFrame with struct columns
    * (sub, pred, obj, lbl). One shuffle total (nodes dedup); quads need
    * none. The dictionary is built by exploding the four positions in a
    * single pass over the input — not four unioned re-reads.
    */
  def fromQuadDF(raw: DataFrame): Graph = {
    // dedup BEFORE computing the sort key: `sk` is a wide string-format
    // CASE expression, so evaluate it once per distinct node (|dictionary|
    // rows), not once per value occurrence (4×|quads| rows) — and keep the
    // pre-shuffle rows narrow. Dedup on the VALUE FIELDS, not the id: the
    // id is a pure function of the value, and a keys-only group-by plans
    // as a HashAggregate, where dropDuplicates("id") would need first()
    // carry-along buffers and degrade to a double SortAggregate.
    val values = raw
      .select(explode(array(col("sub"), col("pred"), col("obj"), col("lbl")))
        .as("v"))
      .where(col("v").isNotNull)
      .select(col("v.*"))
      .dropDuplicates()
    Graph(dictionary(values), quadIds(raw))
  }

  /** The quads table of (sub, pred, obj, lbl) struct rows. */
  private def quadIds(raw: DataFrame): DataFrame = raw.select(
    idOf("sub").as("s"), idOf("pred").as("p"), idOf("obj").as("o"),
    when(col("lbl").isNull, lit(null).cast(LongType))
      .otherwise(idOf("lbl")).as("l"))

  /** The nodes table of distinct flat value rows. */
  private def dictionary(values: DataFrame): DataFrame =
    values.select((Values.idColOfFields(col).as("id") +:
      Values.fieldNames.map(col)) :+ Values.sortKeyCol(col).as("sk"): _*)

  /** A graph of driver-side quads. Both tables are local relations, so
    * collecting either (as a write does) runs no Spark job: quad ids come
    * from `QValue.id` (pinned to Spark's `xxhash64` by XXH64ParitySpec),
    * and the dictionary is deduplicated here rather than by
    * `fromQuadDF`'s aggregate. Values dedup by node id, a pure function of
    * the value that, like Spark's grouping, equates 0.0 with -0.0 and
    * every NaN; the kept row carries the value Spark's grouping outputs.
    */
  def fromQuads(spark: SparkSession, qs: Seq[ParsedQuad]): Graph = {
    val values = qs.iterator
      .flatMap(q => Iterator(q.s, q.p, q.o) ++ q.l).distinctBy(QValue.id)
      .map(v => QV(v match {
        case QValue.FloatV(d) if d == 0.0 || d.isNaN =>
          QValue.FloatV(if (d.isNaN) Double.NaN else 0.0)
        case other => other
      })).toSeq
    Graph(dictionary(spark.createDataset(values)(QVEncoder).toDF()),
      localQuads(spark, qs.map(quadKey), QuadSchema))
  }

  // derived once: reflecting a product encoder costs more than a write's
  // whole local plan
  private lazy val QVEncoder = Encoders.product[QV]

  /** N-Quads reader: distributed line parse (gz/bz2 auto-decompressed by
    * the text source, like the reference's decompressor,
    * /root/reference/internal/decompressor).
    */
  def fromNQuads(spark: SparkSession, path: String): Graph = {
    import spark.implicits._
    // gzip input is non-splittable: without an explicit repartition the
    // whole parse AND the cached quads land on ONE partition, serializing
    // every later scan. Repartition proportionally to input size (~32 MB
    // of compressed text per partition, min 8) — a fixed large count
    // measured SLOWER here: task overhead dominates small cached graphs.
    // LARGE uncompressed text is SPLITTABLE: the file source already
    // yields maxPartitionBytes-sized splits, so a repartition would only
    // add a full shuffle of the raw text before parsing — skip it. Small
    // uncompressed inputs still repartition: file packing can collapse
    // them to a couple of partitions, serializing the parse AND the
    // cached quads exactly like the gz case.
    val lines = spark.read.textFile(path)
    val compressed = lines.inputFiles.exists(f =>
      f.endsWith(".gz") || f.endsWith(".bz2"))
    val totalBytes = lines.inputFiles.map { f =>
      try new java.io.File(new java.net.URI(f)).length() catch {
        case _: Exception => 0L }
    }.sum
    val nPart = math.max(8, (totalBytes / (32L << 20)).toInt)
    val naturallySplit = !compressed && totalBytes >= (64L << 20)
    val rows = (if (naturallySplit) lines else lines.repartition(nPart))
      .flatMap(l => NQuads.parseLine(l).map(QuadRow(_)))
    fromQuadDF(rows.toDF())
  }

  /** Incremental store ingest: add the quads of `delta` that the store at
    * `dir` lacks, leaving every existing data file untouched — the
    * reference's `ApplyDeltas` (graph/quadwriter.go:49-56) persisted.
    *
    * The store is opened and `delta` goes through the existence decision
    * of [[Graph.addQuads]]: deduplicated, its dictionary probed against
    * the stored one, and only quads whose every term is stored probed
    * against the stored quads ([[Graph.storedRows]], a pruned scan with
    * no shuffle). The quads it adds are written in the store's layout
    * ([[writeQuads]]: one file per touched bucket and ordering), its new
    * dictionary rows are appended to `nodes`, and `graft_meta.json`'s
    * `predStats` move by the added quads (a store written without stats
    * gets one recount from its files). Every decision is taken before the
    * first file is written. Readers see the new files on their next
    * [[read]].
    *
    * Both tables of `delta` are collected on the driver, as every server
    * write is; a delta above `spark.driver.maxResultSize` fails before
    * anything is written.
    *
    * Contract (FormatsSpec, the `g_store_append` oracle entry):
    * write(half1) + append(half2) holds the same quads, nodes and
    * predStats as write(half1 ∪ half2).
    */
  def append(spark: SparkSession, dir: String, delta: Graph): Unit = {
    val stored = read(spark, dir)
    val (d, added) = stored.adding(stored.openDelta, delta)
    val buckets = stored.predicateBuckets
    val ops = stored.quadsOps.isDefined
    // one task per table, so one new file per touched bucket and ordering
    if (added.nonEmpty) writeQuads(localQuads(spark, added, QuadSchema).coalesce(1),
      dir, buckets, ops, SaveMode.Append)
    if (d.nodes.nonEmpty)
      spark.createDataFrame(d.nodes.values.toSeq.asJava, stored.nodes.schema)
        .coalesce(1).write.mode("append").parquet(s"$dir/nodes")
    writeMeta(dir, buckets, ops, stored.predStats.fold(
      countByP(spark.read.parquet(s"$dir/quads")))(plus(_, predCounts(added), 1L)))
  }

  /** The quads `q` written under `dir` in `mode`, in the store's layout:
    * `quads`, and with `objectIndex` its `quads_ops` sibling, partitioned
    * by `pb` when `buckets > 0`. With `objectIndex` the files of each
    * ordering are sorted by `(pb, p, s)` or `(pb, p, o)`.
    *
    * Overwritten, `q` is a whole store. It is range-partitioned over the
    * full sort key into at least one slice per bucket, not hashed by
    * bucket: predicates are power-law skewed, and hashing by bucket alone
    * collapsed the 47 M-quad dual-index write into one giant task
    * (127.8 s), where range slices are equal. The sibling reads back the
    * files just written, so an expensive input plan evaluates once (range
    * sampling still re-evaluates a slice of it). Appended, `q` is a
    * driver-sized delta, sorted in the partitions it comes in and read
    * twice.
    */
  private def writeQuads(q: DataFrame, dir: String, buckets: Int,
                         objectIndex: Boolean, mode: SaveMode): Unit = {
    val whole = mode == SaveMode.Overwrite
    val slices = math.max(q.sparkSession.sessionState.conf.numShufflePartitions, buckets)
    val keyed = if (buckets > 0) q.withColumn("pb", pmod(col("p"), lit(buckets))) else q
    def save(df: DataFrame, key: String, name: String): Unit = {
      val order = ((if (buckets > 0) Seq("pb") else Nil) ++ Seq("p", key)).map(col)
      val laid = if (!objectIndex) df
        else (if (whole) df.repartitionByRange(slices, order: _*) else df)
          .sortWithinPartitions(order: _*)
      val w = laid.write.mode(mode)
      (if (buckets > 0) w.partitionBy("pb") else w).parquet(s"$dir/$name")
    }
    save(keyed, "s", "quads")
    if (objectIndex)
      save(if (whole) q.sparkSession.read.parquet(s"$dir/quads") else keyed, "o", "quads_ops")
  }

  /** `graft_meta.json`, written to a sibling file and moved over the old
    * one in one atomic rename: a killed write leaves the old meta or the
    * new one, never a truncated one (truncated `predStats` would fold a
    * live predicate to the empty relation).
    */
  private def writeMeta(dir: String, buckets: Int, objectIndex: Boolean,
                        stats: Map[Long, Long]): Unit = {
    val statsJson = stats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val meta = java.nio.file.Paths.get(dir, "graft_meta.json")
    val tmp = java.nio.file.Paths.get(dir, "graft_meta.json.tmp")
    java.nio.file.Files.writeString(tmp, s"""{"predicateBuckets":$buckets,""" +
      s""""opsIndex":$objectIndex,"predStats":$statsJson}""")
    java.nio.file.Files.move(tmp, meta, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def read(spark: SparkSession, dir: String): Graph = {
    val metaPath = java.nio.file.Paths.get(s"$dir/graft_meta.json")
    val (buckets, stats, ops) =
      if (java.nio.file.Files.exists(metaPath)) {
        val m = java.nio.file.Files.readString(metaPath)
        val b = "\"predicateBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(m)
          .map(_.group(1).toInt).getOrElse(0)
        val st = "\"predStats\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(m)
          .map(_.group(1)).filter(_.nonEmpty).map { body =>
            body.split(',').map { kv =>
              val Array(k, v) = kv.split(':')
              k.trim.stripPrefix("\"").stripSuffix("\"").toLong -> v.trim.toLong
            }.toMap
          }
        val o = "\"opsIndex\"\\s*:\\s*true".r.findFirstIn(m).isDefined
        (b, st, o)
      } else (0, None, false)
    Graph(spark.read.parquet(s"$dir/nodes"),
      spark.read.parquet(s"$dir/quads"), buckets, stats,
      quadsOps =
        if (ops) Some(spark.read.parquet(s"$dir/quads_ops")) else None)
  }

  /** Deterministically quad-ify a relational table: each row becomes
    * `(<table:pk>, <column>, typedValue)` triples. Gives graph-parity tests
    * and the DuckDB oracle a shared, SQL-expressible ground truth.
    */
  def quadifyTable(df: DataFrame, table: String, pkCol: String,
                   label: Option[String] = None): DataFrame = {
    def qv(kind: Int, s: org.apache.spark.sql.Column = lit(null).cast(StringType),
           i: org.apache.spark.sql.Column = lit(null).cast(LongType),
           d: org.apache.spark.sql.Column = lit(null).cast(DoubleType),
           b: org.apache.spark.sql.Column = lit(null).cast(BooleanType),
           t: org.apache.spark.sql.Column = lit(null).cast(LongType),
           lang: org.apache.spark.sql.Column = lit(null).cast(StringType),
           dt: org.apache.spark.sql.Column = lit(null).cast(StringType)) =
      struct(lit(kind).as("kind"), s.as("s"), i.as("i"), d.as("d"), b.as("b"),
        t.as("t"), lang.as("lang"), dt.as("dt"))

    val lbl = label match {
      case Some(l) => qv(Kind.Iri, s = lit(l))
      case None    => lit(null).cast(Values.structType)
    }
    // Stage the subject struct ONCE per row in a projection below the
    // explode: referencing a named column keeps the generated code linear
    // in the column count — inlining `subj` into every array element made
    // Janino compile (and evaluate) the same concat/struct tree per
    // attribute, a measurable slice of bulk-load time on wide tables.
    val staged = df.select((col("*") +: Seq(
      qv(Kind.Iri, s = concat(lit(table + ":"), col(pkCol).cast(StringType)))
        .as("__subj"), lbl.as("__lbl"))): _*)
    // one scan: explode an array of per-column quad structs per row
    val quadStructs = df.schema.fields.filter(_.name != pkCol).map { f =>
      val c = col(f.name)
      val obj = f.dataType match {
        case StringType => qv(Kind.Str, s = c)
        case LongType | IntegerType | ShortType =>
          qv(Kind.IntK, i = c.cast(LongType))
        case DoubleType | FloatType => qv(Kind.FloatK, d = c.cast(DoubleType))
        case BooleanType => qv(Kind.BoolK, b = c)
        case TimestampType => qv(Kind.TimeK, t = unix_micros(c))
        case DateType =>
          qv(Kind.TimeK, t = unix_micros(c.cast(TimestampType)))
        case other =>
          qv(Kind.Str, s = c.cast(StringType))
      }
      when(c.isNotNull, struct(col("__subj").as("sub"),
        qv(Kind.Iri, s = lit(f.name)).as("pred"), obj.as("obj"),
        col("__lbl").as("lbl")))
    }
    staged.select(explode(array(quadStructs.toIndexedSeq: _*)).as("q"))
      .where(col("q").isNotNull)
      .select(col("q.sub").as("sub"), col("q.pred").as("pred"),
        col("q.obj").as("obj"), col("q.lbl").as("lbl"))
  }

  /** Quadify foreign-key edges: `(<table:pk>, <edgeName>, <refTable:fk>)`. */
  def quadifyEdge(df: DataFrame, table: String, pkCol: String,
                  edgeName: String, refTable: String, fkCol: String): DataFrame = {
    def iri(c: org.apache.spark.sql.Column) =
      struct(lit(Kind.Iri).as("kind"), c.as("s"),
        lit(null).cast(LongType).as("i"), lit(null).cast(DoubleType).as("d"),
        lit(null).cast(BooleanType).as("b"), lit(null).cast(LongType).as("t"),
        lit(null).cast(StringType).as("lang"), lit(null).cast(StringType).as("dt"))
    df.where(col(fkCol).isNotNull).select(
      iri(concat(lit(table + ":"), col(pkCol).cast(StringType))).as("sub"),
      iri(lit(edgeName)).as("pred"),
      iri(concat(lit(refTable + ":"), col(fkCol).cast(StringType))).as("obj"),
      lit(null).cast(Values.structType).as("lbl"))
  }
}
