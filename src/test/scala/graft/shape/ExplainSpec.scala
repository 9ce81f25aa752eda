package graft.shape

import graft.{TestFixtures, TestSpark}
import graft.core.{Graph, QValue}
import graft.exec.Exec
import graft.path.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Plan-shape assertions — the 100 TB story is only real if the physical
  * plan shows it: literal predicate filters must reach the Parquet scan
  * (PushedFilters) and bucketed stores must prune partitions statically
  * (PartitionFilters on pb). These tests read the executed plan, not just
  * results.
  */
class ExplainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val dir: String = {
    val g = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val d = Files.createTempDirectory("graft-store").toString
    g.write(d, predicateBuckets = 8)
    d
  }

  test("predicate-constrained scan prunes pb partitions and pushes p filter") {
    val g = Graph.read(spark, dir)
    val df = Exec.lower(g,
      Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")).shape())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(pb"),
      s"no partition filter in plan:\n$plan")
    assert(plan.contains("EqualTo(p,"), s"no pushed predicate filter:\n$plan")
    assert(plan.contains("EqualTo(o,"), s"no pushed object filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<s:bigint,p:bigint,o:bigint>"),
      s"column pruning missing (pb/l should not be read):\n$plan")
    // correctness unchanged through the bucketed store
    val got = Exec.run(g, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
  }

  test("dual-index store: reverse-literal hops scan the OPS sibling") {
    val g0 = Graph.fromNQuads(spark, TestFixtures.data("testdata.nq"))
    val d = Files.createTempDirectory("graft-store-ops").toString
    g0.write(d, predicateBuckets = 8, objectIndex = true)
    val g = Graph.read(spark, d)
    assert(g.quadsOps.nonEmpty, "meta should carry opsIndex=true")
    // reverse hop rooted at a literal object → the scan must read the
    // (p, o)-sorted quads_ops files with the o filter pushed
    val rev = Exec.lower(g,
      Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")).shape())
    val revPlan = rev.queryExecution.executedPlan.toString
    assert(revPlan.contains("quads_ops"), s"reverse scan not on ops:\n$revPlan")
    assert(revPlan.contains("EqualTo(o,"), s"no pushed o filter:\n$revPlan")
    assert(revPlan.contains("PartitionFilters: [isnotnull(pb"),
      s"ops scan lost pb pruning:\n$revPlan")
    // forward hop rooted at a literal subject → stays on the primary
    val fwd = Exec.lower(g,
      Path.start(QValue.Iri("bob")).out(QValue.Iri("follows")).shape())
    val fwdPlan = fwd.queryExecution.executedPlan.toString
    assert(!fwdPlan.contains("quads_ops"), s"forward scan on ops:\n$fwdPlan")
    assert(fwdPlan.contains("EqualTo(s,"), s"no pushed s filter:\n$fwdPlan")
    // correctness identical through either layout
    val got = Exec.run(g,
      Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(got === Seq("<alice>", "<charlie>", "<dani>"))
    val gotF = Exec.run(g,
      Path.start(QValue.Iri("bob")).out(QValue.Iri("follows")))
      .values().map(_.sortKey).sorted
    assert(gotF === Seq("<fred>"))
  }

  test("stats persist with the store: a read graph folds without a job") {
    val g = Graph.read(spark, dir)
    assert(g.predStats.nonEmpty, "written store should carry predicate stats")
    assert(g.predStats.get.values.sum === 15)
  }

  test("stats folding: unknown predicate collapses to an empty relation") {
    val g = Graph.read(spark, dir).withStats()
    val df = Exec.lower(g,
      Path.start().out(QValue.Iri("no_such_predicate")).shape())
    // QuadIndexer size==0 rewrite (shape.go:694-726): the whole plan folds
    // to an empty LocalRelation — no scan, no join
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LocalRelation <empty>"), opt)
    assert(!opt.contains("Join"), opt)
    assert(df.isEmpty)
    // without stats the plan keeps the scan (sanity: the rewrite is the
    // stats' doing, not a constant-folding accident)
    val df2 = Exec.lower(Graph.read(spark, dir).copy(predStats = None),
      Path.start().out(QValue.Iri("no_such_predicate")).shape())
    assert(df2.queryExecution.optimizedPlan.toString.contains("Relation"))
    assert(df2.isEmpty)
  }

  test("stats-small quad sets get a broadcast hint (Materialize<100 analog)") {
    val g = Graph.read(spark, dir).withStats()
    // "follows" has 8 quads (<100): the hop join must be broadcast
    val df = Exec.lower(g,
      Path.start(QValue.Iri("bob")).in(QValue.Iri("follows")).shape())
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      || !df.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    assert(df.count() === 3)
  }

  test("FilterQuads convenience builds the quad pattern") {
    import graft.shape.Shape
    val g = Graph.read(spark, dir)
    val df = new Lower(g).quads(Shape.filterQuads(
      s = Seq(QValue.Iri("bob")), p = Seq(QValue.Iri("follows"))))
    assert(df.count() === 1) // bob follows fred
  }

  test("analytics plans: partial aggregation and broadcast verify joins") {
    import graft.analytics.Dedup
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val docs = (0L to 50L).map(i => (i, s"doc number $i words words"))
      .toDF("doc_id", "text")
    // minhash signatures: ONE hash-aggregate with map-side partial agg
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val sigPlan = sig.queryExecution.executedPlan.toString
    assert(sigPlan.contains("HashAggregate"), sigPlan)
    assert(!sigPlan.toLowerCase.contains("nestedloop"), sigPlan)
    // the verify stage joins the (small) set side broadcast — never a
    // shuffle of the pair stream against arrays
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val ver = Dedup.jaccardVerify(pairs,
      Dedup.shingleSets(Dedup.wordShingleRows(docs, "doc_id", "text", 3)))
    val verPlan = ver.queryExecution.executedPlan.toString
    assert(verPlan.contains("BroadcastHashJoin"), verPlan)
    assert(verPlan.contains("sorted_array_intersect_count"), verPlan)
  }

  test("sessionize is ONE exchange end-to-end; features reuse it") {
    import graft.analytics.Events
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val ev = (0L to 50L).map(i =>
        (i, i % 5, new java.sql.Timestamp(1700000000000L + i * 60000L)))
      .toDF("event_id", "user_id", "ts")
    // lag and the running sum share the same (user, ts) window spec — the
    // plan must sort+shuffle once, not once per window function
    val plan = Events.sessionize(ev, "user_id", "ts")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"sessionize should shuffle exactly once:\n$plan")
    // per-session aggregation adds at most the (user, session) agg shuffle
    val fplan = Events.sessionFeatures(ev, "user_id", "ts", "event_id")
      .queryExecution.executedPlan.toString
    val fex = "Exchange hashpartitioning".r.findAllIn(fplan).length
    assert(fex <= 2, s"unexpected shuffle count $fex:\n$fplan")
  }

  test("fuzzy-dedup and co-occurrence plans stay equi-join only") {
    // both operators are candidate-generation joins that MUST stay
    // hash-equi-joins — a Catalyst change degrading them to a nested-
    // loop/cartesian would be quadratic at scale
    import graft.analytics.{CoOccur, Dedup}
    val spark2 = spark
    import spark2.implicits._
    val names = (0L until 200L).map(i => (i, f"name$i%04d")).toDF("id", "s")
    val p1 = Dedup.editDistancePairs(names, "id", "s")
      .queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"), p1)
    assert(p1.contains("edit_distance_le"), p1) // banded verify in-plan
    val baskets = (0L until 300L).map(i => (i % 60, i % 25))
      .toDF("c", "p")
    val p2 = CoOccur.topCoOccur(baskets, "c", "p", k = 3)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2)
  }

  test("cache preserves hash partitioning; localCheckpoint does NOT (AQE)") {
    // The iterative-loop layout rule (pageRank/HITS/CC/SCC/LR) depends
    // on which materialization keeps a repartition(n, key)'s layout
    // visible to later joins. Under AQE, localCheckpoint captures
    // UnknownPartitioning (the adaptive plan's partitioning is unknown
    // at checkpoint-capture time), so a join after it re-shuffles;
    // CACHE (InMemoryRelation) keeps the partitioning and the join adds
    // NO exchange. This pin documents both facts — if a Spark upgrade
    // flips either, the loop layouts should be revisited.
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // force a shuffle join: a broadcast would show zero exchanges
    // without exercising the property under test
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val n = spark.sessionState.conf.numShufflePartitions
      val big = (0L until 5000L).map(i => (i % 500, i)).toDF("u", "v")
        .repartition(n, col("u")).cache()
      val small = (0L until 500L).map(i => (i, i * 2.0)).toDF("node", "r")
        .repartition(n, col("node")).cache()
      big.count(); small.count()
      val joined = big.join(small, big("u") === small("node"))
      val plan = joined.queryExecution.executedPlan.toString
      // the cached relations' STORED build plans legitimately contain
      // the repartition exchanges; the regression to catch is an
      // Exchange re-inserted between the join and a cache scan — in
      // tree print order that is an Exchange line directly above an
      // InMemoryTableScan line
      val lines = plan.linesIterator.toVector
      val reShuffled = lines.zipWithIndex.exists { case (l, i) =>
        l.contains("InMemoryTableScan") && i > 0 &&
          lines(i - 1).contains("Exchange")
      }
      assert(!reShuffled,
        s"co-partitioned cached join re-shuffled a cache scan:\n$plan")
      assert(joined.count() === 5000L)
      big.unpersist(); small.unpersist()
      // the localCheckpoint counterpart DOES re-shuffle today
      val bigC = (0L until 5000L).map(i => (i % 500, i)).toDF("u", "v")
        .repartition(n, col("u")).localCheckpoint(true)
      val smallC = (0L until 500L).map(i => (i, i * 2.0)).toDF("node", "r")
        .repartition(n, col("node")).localCheckpoint(true)
      val planC = bigC.join(smallC, bigC("u") === smallC("node"))
        .queryExecution.executedPlan.toString
      val exC = "Exchange hashpartitioning".r.findAllIn(planC).length
      assert(exC > 0,
        "localCheckpoint now preserves partitioning — switch the loop " +
          s"layouts back to checkpoint-based co-location:\n$planC")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("decontaminate: benchmark side broadcasts, train side never shuffles text") {
    import graft.analytics.Dedup
    val spark2 = spark
    import spark2.implicits._
    val docs = (0L to 50L).map(i => (i, s"doc number $i words and words again here"))
      .toDF("doc_id", "text")
    val plan = Dedup.decontaminate(
        docs.where(org.apache.spark.sql.functions.col("doc_id") > 5),
        docs.where(org.apache.spark.sql.functions.col("doc_id") <= 5),
        "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"), s"expected broadcast semi-join:\n$plan")
  }

  test("banded near-dup: equi-join on (band,bucket), never a cartesian") {
    import graft.analytics.Similarity
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(5)
    val emb = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.cosineNearDupPairsBanded(emb, "vec_id", "embedding",
        dim = 16, threshold = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"banded path must not be quadratic:\n$plan")
    assert(!plan.toLowerCase.contains("nestedloop"),
      s"banded path must not nested-loop:\n$plan")
    // the candidate join IS an equi-join keyed on the band bucket
    assert(plan.contains("graft_sign_bucket"), plan)
    // contrast: the exact path is the cartesian (documented anchor)
    val exactPlan = Similarity.cosineNearDupPairsExact(emb, "vec_id",
        "embedding", threshold = 0.9)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("CartesianProduct") ||
      exactPlan.toLowerCase.contains("nestedloop"), exactPlan)
  }

  /** The executed plan of every action `run` starts (checkpoints
    * included), AQE off so each prints once and final.
    */
  private def executedPlans(run: => Unit): String = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(l)
    try {
      run
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(l)
      spark.conf.set("spark.sql.adaptive.enabled", saved)
    }
    String.join("\n", plans)
  }

  private def count(plan: String, re: String) = re.r.findAllIn(plan).length

  test("triangle family: equi-joins only, one 1-row cross join in " +
      "triangleCount") {
    import graft.analytics.GraphAlgos
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(13)
    val edges = (1 to 200).map(_ => (rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong)).toDF("s", "d")
    val nonEqui = "CartesianProduct|NestedLoopJoin"
    val equi = "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    val tc = executedPlans(GraphAlgos.triangleCount(edges, "s", "d",
      maxDriverEdges = -1L))
    assert(count(tc, nonEqui) === 1,
      s"only the 1-row x 1-row count join may be non-equi:\n$tc")
    assert(count(tc, equi) >= 4, tc) // 2 orientation + wedge + close
    val ch = executedPlans(GraphAlgos.clusteringHistogram(edges, "s", "d"))
    assert(count(ch, nonEqui) === 0, s"non-equi join in:\n$ch")
    assert(count(ch, equi) >= 5, ch) // ... + the degree join
  }

  test("modularity and assortativity scan the edges once") {
    import graft.analytics.GraphAlgos
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val spark2 = spark
    import spark2.implicits._
    val edges = spark.range(0, 200, 1, 2).select(
      pmod(hash(col("id")), lit(30L)).as("s"),
      pmod(hash(col("id") * 7), lit(30L)).as("d"))
    val mem = (0L until 30L).map(n => (n, n % 4)).toDF("n", "c")
    // one scan of the edges: the canonical edge set's checkpoint
    def edgeScans(plan: String) = count(plan, "Range \\(0, 200, ")
    val mod = executedPlans(
      GraphAlgos.modularity(edges, "s", "d", mem, "n", "c").collect())
    assert(edgeScans(mod) === 1, mod)
    val ass = executedPlans(GraphAlgos.assortativity(edges, "s", "d").collect())
    assert(edgeScans(ass) === 1, ass)
  }

  test("whole-stage codegen covers the traversal join pipeline") {
    val g = Graph.read(spark, dir)
    val df = Exec.lower(g, Path.start(QValue.Iri("bob")).in(QValue.Iri("follows"))
      .out(QValue.Iri("status")).shape())
    df.collect() // finalize the AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).nonEmpty,
      s"no whole-stage-codegen span:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast join for the small side:\n$plan")
    // no Exchange needed for a literal-filtered single-table traversal
    // chain beyond the join itself — count the shuffles to catch plan
    // regressions (broadcast joins expected at this size).
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges <= 2, s"unexpected shuffle count $exchanges:\n$plan")
  }

  test("AQE splits the skewed 2-hop join under a super-predicate") {
    // a 2-hop whose frontier concentrates on 10 hot join keys (the
    // SURVEY §7.4 super-predicate risk). With thresholds scaled to the
    // test corpus, AQE's skew-join mitigation must actually fire — at
    // 100 TB this (with production thresholds) is the engine's answer
    // to hot-key joins, so the plan marker is pinned here.
    val confs = Seq(
      // force a sort-merge join (a broadcast join has no shuffle to skew)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val tmp = Files.createTempDirectory("graft-skew").toString
      spark.range(200000).selectExpr(
          "concat('<s', id, '> <hot> <c', id % 10, '> .') AS value")
        .union(spark.range(500).selectExpr(
          "concat('<c', id % 10, '> <info> <leaf', id, '> .') AS value"))
        .write.mode("overwrite").text(tmp)
      val g = Graph.fromNQuads(spark, tmp).cached()
      g.stats
      val df = Exec.lower(g, Path.start()
        .out(QValue.Iri("hot")).out(QValue.Iri("info")).shape())
      // drive THIS QueryExecution so its adaptive plan finalizes
      // (df.count() would execute a separate one)
      val qe = df.queryExecution
      val n = qe.toRdd.count()
      assert(n === 200000L * 50) // 200k frontier rows × 50 leaves per hot key
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join mitigation did not fire:\n$plan")
      g.nodes.unpersist(); g.quads.unpersist()
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
