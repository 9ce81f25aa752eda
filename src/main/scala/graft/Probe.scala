package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Ad-hoc measurement harness (not part of the library surface).
  * Targets the heavy iterative graph operators at the xN movie scales.
  * Caches the dictionary-encoded edge list as parquet so re-probes skip
  * the synthesis+load. Usage:
  * `runMain graft.Probe [wcc|louvain|scc|minhash|clusters|fuzzy] [mult]`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val op = args.headOption.getOrElse("wcc")
    val mult = args.drop(1).headOption.map(_.toInt)
      .getOrElse(if (op == "louvain") 10 else 100)
    // SPARK_GRAFT_CPUS honored like Bench (core-scaling probes); same
    // memoryMapThreshold as Bench so probe and record runs agree
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.storage.memoryMapThreshold", "512m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val edgePath = s"/tmp/cc_edges_x$mult.parquet"
    if (!new java.io.File(edgePath).exists()) {
      import graft.core.{Graph, NQuads, QValue}
      import NQuads.ParsedQuad
      import spark.implicits._
      val movieDir = "/tmp/graft_movie_probe"
      def remap(v: QValue, k: Int): QValue = v match {
        case QValue.Iri(s)   => QValue.Iri(s + "/x" + k)
        case QValue.BNode(s) => QValue.BNode(s + "x" + k)
        case other           => other
      }
      timed("synth") {
        spark.read.textFile("/root/reference/data/30kmoviedata.nq.gz")
          .repartition(16)
          .flatMap { l =>
            NQuads.parseLine(l).toSeq.flatMap { q =>
              (0 until mult).map { k =>
                if (k == 0) NQuads.serialize(q)
                else NQuads.serialize(
                  ParsedQuad(remap(q.s, k), q.p, remap(q.o, k), q.l))
              }
            }
          }.write.mode("overwrite").text(movieDir)
      }
      timed("load+save-edges") {
        val g = Graph.fromNQuads(spark, movieDir)
        g.quads.select(col("s").as("src"), col("o").as("dst"))
          .write.mode("overwrite").parquet(edgePath)
      }
    }
    val eAll = spark.read.parquet(edgePath)
    println(s"edges: ${eAll.count()}")
    op match {
      case "wcc" =>
        timed("wcc") {
          graft.analytics.GraphAlgos.connectedComponents(eAll, "src", "dst")
            .write.mode("overwrite").format("noop").save()
        }
      case "louvain" =>
        val labels = timed("louvain") {
          val l = graft.analytics.GraphAlgos.louvain(eAll, "src", "dst",
            maxRounds = 10, maxLevels = 5, maxDriverEdges = 0L,
            driverFoldEdges = sys.env.get("GRAFT_LOUVAIN_FOLD")
              .map(_.toLong)
              .getOrElse(graft.analytics.Dedup.DriverCcMaxEdges))
          l.write.mode("overwrite").format("noop").save()
          l
        }
        // quality check for floor/fold experiments: global modularity Q
        val q = graft.analytics.GraphAlgos
          .modularity(eAll, "src", "dst", labels, "node", "community")
          .agg(sum("dq")).head().getDouble(0)
        println(f"PROBE louvain-modularity: $q%.4f")
      case "scc" =>
        timed("scc") {
          graft.analytics.GraphAlgos.stronglyConnectedComponents(
              eAll, "src", "dst", maxDriverEdges = 0L)
            .write.mode("overwrite").format("noop").save()
        }
      case "pagerank" =>
        // the xN_graph_pagerank bench shape: 5 iterations, noop sink
        (1 to 2).foreach { i =>
          timed(s"pagerank-$i") {
            graft.analytics.GraphAlgos.pageRank(eAll, "src", "dst",
                iterations = 5)
              .write.mode("overwrite").format("noop").save()
          }
          spark.sharedState.cacheManager.clearCache()
        }
      case "ccl0" =>
        // decompose the CC contraction level-0 pipeline on the xN movie
        // edges: mate build, relabel joins (SMJ vs broadcast), the
        // union-distinct, and the checkpoint — each fully evaluated via
        // the noop sink so the shares are attributable
        import org.apache.spark.sql.{Column, DataFrame}
        def noop(df: DataFrame): Unit =
          df.write.mode("overwrite").format("noop").save()
        val pr = eAll.select(col("src").as("id_a"), col("dst").as("id_b"))
          .localCheckpoint()
        println(s"pr rows: ${pr.count()}")
        val e = pr.where(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("a"),
            greatest(col("id_a"), col("id_b")).as("b"))
        def isHead(c: Column): Column =
          xxhash64(c, lit(0)).bitwiseAND(lit(1L)) === lit(1L)
        timed("scan-e") { noop(e) }
        val sym = e.select(col("a").as("id"), col("b").as("nb"))
          .unionByName(e.select(col("b").as("id"), col("a").as("nb")))
        val mate = timed("mate-checkpoint") {
          val m = sym.where(!isHead(col("id")) && isHead(col("nb")))
            .groupBy("id").agg(min("nb").as("par")).localCheckpoint()
          println(s"mate rows: ${m.count()}"); m
        }
        def union(mA: DataFrame, mB: DataFrame): DataFrame = {
          val hh = e.where(isHead(col("a")) && isHead(col("b")))
            .select(col("a").as("x"), col("b").as("y"))
          val th = e.where(!isHead(col("a")) && isHead(col("b")))
            .join(mA, Seq("a"), "left")
            .select(coalesce(col("pa"), col("a")).as("x"), col("b").as("y"))
          val ht = e.where(isHead(col("a")) && !isHead(col("b")))
            .join(mB, Seq("b"), "left")
            .select(col("a").as("x"), coalesce(col("pb"), col("b")).as("y"))
          val tt = e.where(!isHead(col("a")) && !isHead(col("b")))
            .join(mA, Seq("a"), "left").join(mB, Seq("b"), "left")
            .select(coalesce(col("pa"), col("a")).as("x"),
              coalesce(col("pb"), col("b")).as("y"))
          hh.unionByName(th).unionByName(ht).unionByName(tt)
        }
        def canon(u: DataFrame): DataFrame = u.where(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
        val mAp = mate.select(col("id").as("a"), col("par").as("pa"))
        val mBp = mate.select(col("id").as("b"), col("par").as("pb"))
        (1 to 2).foreach { i =>
          timed(s"union-smj-$i") { noop(canon(union(mAp, mBp))) }
          timed(s"union-bhj-$i") {
            noop(canon(union(broadcast(mAp), broadcast(mBp))))
          }
          timed(s"distinct-smj-$i") { noop(canon(union(mAp, mBp)).distinct()) }
          timed(s"distinct-bhj-$i") {
            noop(canon(union(broadcast(mAp), broadcast(mBp))).distinct())
          }
        }
        // single sample (a dead 37.6 M-row checkpoint would pressure a
        // second iteration — the block-pressure lesson)
        timed("ckpt-bhj") {
          val c = canon(union(broadcast(mAp), broadcast(mBp))).distinct()
            .localCheckpoint()
          println(s"e2 rows: ${c.count()}")
        }
      case "dupratio" =>
        // duplicate-(src,dst) ratio of the movie edge list — sizes the
        // SCC wrapper's up-front distinct (multi-edges: same s,o pair
        // under different predicates)
        val n = eAll.count()
        val d = timed("distinct") { eAll.distinct().count() }
        println(f"PROBE dupratio: total=$n distinct=$d " +
          f"ratio=${n.toDouble / d}%.3f")
      case "minhash" | "clusters" | "clusters_incr" | "text_lr" | "search" =>
        // xN documents corpus, same affine-permutation synthesis as Bench
        val docPath = s"/tmp/mh_docs_x$mult.parquet"
        if (!new java.io.File(docPath).exists()) {
          val alpha = "abcdefghijklmnopqrstuvwxyz"
          def affineTo(kk: Int): String = {
            val as = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
            val a = as((kk / 26) % as.length); val b = kk % 26
            (0 until 26).map(i => alpha((a * i + b) % 26)).mkString
          }
          val doc = spark.read
            .parquet("/root/testdata/sf0.1/documents.parquet")
            .select("doc_id", "text")
          timed("synth-docs") {
            (0 until mult).map { kk =>
              doc.select(
                (col("doc_id") + lit(kk * 100000000L)).as("doc_id"),
                translate(col("text"), alpha + alpha.toUpperCase,
                  affineTo(kk) + affineTo(kk).toUpperCase).as("text"))
            }.reduce(_ union _)
              .write.mode("overwrite").parquet(docPath)
          }
        }
        val docs = spark.read.parquet(docPath)
        println(s"docs: ${docs.count()}")
        op match {
          case "minhash" | "clusters" =>
            val sets = graft.analytics.Dedup.shingleSets(
              graft.analytics.Dedup.wordShingleRows(docs, "doc_id", "text", 3))
            println(s"sets-estimate-bytes: " +
              s"${sets.queryExecution.optimizedPlan.stats.sizeInBytes}")
            (1 to 2).foreach { i =>
              if (op == "minhash") timed(s"minhashPairs-$i") {
                graft.analytics.Dedup.minhashPairs(docs, "doc_id", "text", 0.5)
                  .write.mode("overwrite").format("noop").save()
              }
              else timed(s"clusters-$i") {
                graft.analytics.Dedup.clusters(docs, "doc_id", "text", 0.5)
                  .write.mode("overwrite").format("noop").save()
              }
              spark.sharedState.cacheManager.clearCache()
            }
          case "clusters_incr" =>
            // the bench entry's shape: fold ONE base-corpus batch (copy 0)
            // into pre-clustered copies 1..N-1; corpus labels untimed
            val batch0 = docs.where(col("doc_id") < 100000000L)
            val corpus0 = docs.where(col("doc_id") >= 100000000L)
            val lbl = graft.analytics.Dedup.clusters(corpus0, "doc_id",
              "text", threshold = 0.5)
            (1 to 2).foreach { i =>
              timed(s"clustersAppend-$i") {
                graft.analytics.Dedup.clustersAppend(corpus0, lbl, batch0,
                    "doc_id", "text", threshold = 0.5)
                  .write.mode("overwrite").format("noop").save()
              }
              spark.sharedState.cacheManager.clearCache()
            }
          case "search" =>
            // the bench entry's shape: timed index write, then a 16-query
            // probe (probe cost must track Σ df over the query terms)
            import graft.analytics.TextOps
            val storeDir = s"/tmp/graft_probe_searchstore_x$mult"
            val probes: Seq[(Long, String)] = Seq(
              "spark join", "hash scan", "parquet shuffle",
              "broadcast join hash", "query engine", "scan filter",
              "spark sql", "join order", "sort merge", "group by",
              "window function", "table scan", "hash aggregate",
              "shuffle partition", "column prune", "filter pushdown")
              .zipWithIndex.map { case (q, i) => (i + 1).toLong -> q }
            (1 to 2).foreach { i =>
              timed(s"search-write-$i") {
                TextOps.searchStoreWrite(docs, storeDir, "doc_id", "text")
              }
              timed(s"search-probe-$i") {
                TextOps.searchStoreProbe(spark, storeDir, probes, k = 10)
                  .write.mode("overwrite").format("noop").save()
              }
              spark.sharedState.cacheManager.clearCache()
            }
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(storeDir))
          case _ => // text_lr — the bench entry's 10-round loop + predict
            import graft.analytics.{LinearModel, TextOps}
            (1 to 2).foreach { i =>
              timed(s"text_lr-$i") {
                // featurize once, like the bench entry (r12)
                val rows = TextOps.hashedTf(docs, "doc_id", "text", 64)
                  .select(col("doc_id").as("id"), col("bucket"), col("tf"))
                  .persist()
                try {
                  val sign = lit(1L) - lit(2L) * (col("bucket") % 2L)
                  val labels = rows.groupBy("id")
                    .agg(when(sum(col("tf") * sign) > 0, lit(1.0))
                      .otherwise(lit(0.0)).as("y"))
                  val w = LinearModel.trainLogReg(rows, labels, 64,
                    iters = 10, lr = 1.0)
                  LinearModel.predict(rows, w)
                    .write.mode("overwrite").format("noop").save()
                } finally rows.unpersist(blocking = true)
              }
              spark.sharedState.cacheManager.clearCache()
            }
        }
      case "store" =>
        // dual-index store write at xN movie scale (times the
        // (p,s)-sorted primary + (p,o)-sorted OPS sibling)
        import graft.core.{Graph, NQuads, QValue}
        import NQuads.ParsedQuad
        import spark.implicits._
        val movieDir = s"/tmp/graft_movie_probe_x$mult"
        if (!new java.io.File(movieDir).exists()) {
          def remap(v: QValue, k: Int): QValue = v match {
            case QValue.Iri(s)   => QValue.Iri(s + "/x" + k)
            case QValue.BNode(s) => QValue.BNode(s + "x" + k)
            case other           => other
          }
          timed("synth") {
            spark.read.textFile("/root/reference/data/30kmoviedata.nq.gz")
              .repartition(16)
              .flatMap { l =>
                NQuads.parseLine(l).toSeq.flatMap { q =>
                  (0 until mult).map { k =>
                    if (k == 0) NQuads.serialize(q)
                    else NQuads.serialize(
                      ParsedQuad(remap(q.s, k), q.p, remap(q.o, k), q.l))
                  }
                }
              }.write.mode("overwrite").text(movieDir)
          }
        }
        val g = Graph.fromNQuads(spark, movieDir).cached()
        timed("load")(g.stats)
        val outDir = s"/tmp/graft_probe_store_x$mult"
        (1 to 2).foreach { i =>
          timed(s"store-write-$i") {
            g.write(outDir, predicateBuckets = 16, objectIndex = true)
          }
        }
        // incremental ingest against the freshly-written store: one more
        // remapped copy, pre-materialized like the bench entry.
        locally {
          def remapA(v: QValue, k: Int): QValue = v match {
            case QValue.Iri(s)   => QValue.Iri(s + "/x" + k)
            case QValue.BNode(s) => QValue.BNode(s + "x" + k)
            case other           => other
          }
          val deltaDir = s"/tmp/graft_probe_delta_x$mult"
          spark.read.textFile("/root/reference/data/30kmoviedata.nq.gz")
            .repartition(16)
            .flatMap { l =>
              NQuads.parseLine(l).toSeq.map(q => NQuads.serialize(
                ParsedQuad(remapA(q.s, mult), q.p, remapA(q.o, mult), q.l)))
            }.write.mode("overwrite").text(deltaDir)
          val delta = Graph.fromNQuads(spark, deltaDir).cached()
          delta.stats
          timed("store-append") {
            Graph.append(spark, outDir, delta)
          }
          delta.nodes.unpersist(); delta.quads.unpersist()
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(deltaDir))
        }
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(outDir))
      case "curate" =>
        // the xN_pipeline_curate_full bench shape: docs WITH source,
        // 19/20 as training corpus, 1/20 as the benchmark set, cap 12,
        // holdout 0.1 — plus a per-stage breakdown of the same inputs.
        // ONE lazy-union builder serves both the parquet materialization
        // and the lazy-input runs, so the two corpora can't drift.
        def lazyDocsSrc(): org.apache.spark.sql.DataFrame = {
          val alpha = "abcdefghijklmnopqrstuvwxyz"
          def affineTo(kk: Int): String = {
            val as = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
            val a = as((kk / 26) % as.length); val b = kk % 26
            (0 until 26).map(i => alpha((a * i + b) % 26)).mkString
          }
          val doc = spark.read
            .parquet("/root/testdata/sf0.1/documents.parquet")
            .select("doc_id", "source", "text")
          (0 until mult).map { kk =>
            val to = affineTo(kk)
            doc.select(
              (col("doc_id") + lit(kk * 100000000L)).as("doc_id"),
              concat_ws("_", col("source"), lit(kk)).as("source"),
              translate(col("text"), alpha + alpha.toUpperCase,
                to + to.toUpperCase).as("text"))
          }.reduce(_ union _)
        }
        val docPathS = s"/tmp/mh_docs_src_x$mult.parquet"
        if (!new java.io.File(docPathS).exists()) {
          timed("synth-docs-src") {
            lazyDocsSrc().write.mode("overwrite").parquet(docPathS)
          }
        }
        val all = spark.read.parquet(docPathS)
        println(s"docs: ${all.count()}")
        val corpus = all.where(pmod(col("doc_id"), lit(20)) =!= 0)
        val benchSet = all.where(pmod(col("doc_id"), lit(20)) === 0)
        def noopW(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.mode("overwrite").format("noop").save()
        (1 to 2).foreach { i =>
          timed(s"curate-full-$i") {
            noopW(graft.analytics.Curate.curateFull(corpus, "doc_id",
              "text", "source", perSourceCap = 12, bench = Some(benchSet),
              holdoutFraction = 0.1))
          }
          spark.sharedState.cacheManager.clearCache()
        }
        // the bench entry's ACTUAL input shape: the LAZY 100-way
        // translated union (re-evaluated on every scan of the plan) —
        // times the input-pipeline multiple that the materialized runs
        // above don't see
        locally {
          val lazyAll = lazyDocsSrc()
          (1 to 2).foreach { i =>
            timed(s"curate-full-lazy-$i") {
              noopW(graft.analytics.Curate.curateFull(
                lazyAll.where(pmod(col("doc_id"), lit(20)) =!= 0),
                "doc_id", "text", "source", perSourceCap = 12,
                bench = Some(
                  lazyAll.where(pmod(col("doc_id"), lit(20)) === 0)),
                holdoutFraction = 0.1))
            }
            spark.sharedState.cacheManager.clearCache()
          }
        }
        if (!sys.env.contains("GRAFT_CURATE_STAGES")) { spark.stop(); return }
        // stage breakdown (each stage standalone, cache cleared between)
        import graft.analytics.{Dedup, TextOps}
        val base = corpus.select(col("doc_id"), col("source"), col("text"))
        timed("stage-exact") {
          noopW(Dedup.exact(base, "doc_id", "text").select("doc_id"))
        }
        spark.sharedState.cacheManager.clearCache()
        timed("stage-quality") {
          noopW(base.where(TextOps.qualityOk(col("text"), 5, 100000, 40))
            .select("doc_id"))
        }
        spark.sharedState.cacheManager.clearCache()
        timed("stage-decontam") {
          noopW(Dedup.decontaminateIds(base, benchSet, "doc_id", "text", 8)
            .select(col("id").as("doc_id")))
        }
        spark.sharedState.cacheManager.clearCache()
        locally {
          val survivors = Dedup.exact(base, "doc_id", "text")
            .select("doc_id")
          val kept0 = base.join(survivors, Seq("doc_id"))
            .where(TextOps.qualityOk(col("text"), 5, 100000, 40))
          val flagged = Dedup
            .decontaminateIds(base, benchSet, "doc_id", "text", 8)
            .select(col("id").as("doc_id"))
          val kept = kept0.join(flagged, Seq("doc_id"), "left_anti")
          val withTok = kept.select(col("doc_id"), col("source"),
            col("text"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
          timed("stage-cap-from-scratch") {
            noopW(TextOps.capPerKey(withTok, "doc_id", "source", 12))
          }
          spark.sharedState.cacheManager.clearCache()
          val capped = TextOps.capPerKey(withTok, "doc_id", "source", 12)
            .cache()
          capped.count()
          timed("stage-holdout-on-capped") {
            noopW(Dedup.clusterHoldout(capped.select("doc_id", "text"),
              "doc_id", "text", 0.1, 0.5))
          }
          capped.unpersist(true)
        }
      case "fuzzy" =>
        // same per-copy prefix-code name synthesis as the bench entry
        val cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
          .select(col("c_custkey"), col("c_name"))
        val codes = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg",
          "hh", "ii", "jj")
        val namesX = (0 until mult).map(k =>
          cust.select((col("c_custkey") + lit(k * 100000000L)).as("id"),
            concat(lit(codes(k % codes.length).toString +
              (k / codes.length) + (k / codes.length)),
              col("c_name")).as("nm")))
          .reduce(_ union _)
        (1 to 2).foreach { i =>
          timed(s"fuzzy-$i") {
            graft.analytics.Dedup.editDistancePairs(namesX, "id", "nm")
              .write.mode("overwrite").format("noop").save()
          }
          spark.sharedState.cacheManager.clearCache()
        }
      case other => sys.error(s"unknown probe op: $other")
    }
    spark.stop()
  }
}
