package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Scale soak: run candidate-generating gates at two scale points and
  * report (rows, seconds, shuffle records/bytes) so SCALE_NOTES can show
  * measured growth: `Test/runMain graft.tools.ScaleSoak <dir> <gate> [gate…]`.
  *
  * For the pair/candidate gates the OUTPUT relation *is* the candidate
  * set (post banding/cap/blocking), so its row count against a 10×
  * input is exactly the sub-quadratic claim under test. Count executes
  * the full plan (joins and aggregations can't be pruned below a
  * count); each gate runs twice and reports the warm pass. Shuffle
  * write records/bytes (from stage-completion metrics, warm pass) are
  * the INTERNAL work carrier — a gate whose output stays linear while
  * its shuffle volume goes quadratic is still a scale bug, and only the
  * shuffle column shows it.
  */
object ScaleSoak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleSoak <sfDir> <gate…>")
    val dir = args(0)
    val spark = graft.GateSession()
    spark.sparkContext.setLogLevel("ERROR")
    val shufRecs = new AtomicLong(0L)
    val shufBytes = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // probe_embedding_sized: the gate's fixed planes=4 is the sf-scale
    // deterministic choice; the documented scale rule is planesFor —
    // this probe applies it (target bucket 128) so the soak measures
    // the rule, not the gate constant.
    // probe_graph_*_rel: the graph gates derive their co-purchase edges
    // with ABSOLUTE minSupport=2 — at 10× traffic over the fixed part
    // catalog that threshold stops filtering (the mine_frequent_pairs
    // 335× lesson) and the graph itself densifies. The scale-robust
    // derivation is the relative threshold ("co-occurs in ≥ frac of
    // baskets"): frac=1e-5 reproduces threshold 2 at sf0.1 exactly, so
    // the sf0.1 probe row equals the gate's graph while the 10× row
    // measures the OPERATOR at 10× input instead of the threshold bug.
    import org.apache.spark.sql.functions.col
    def relEdges() = graft.operators.MarketBasket
      .frequentPairsRelative(
        spark.read.parquet(s"$dir/lineitem.parquet"),
        "l_orderkey", "l_partkey", minSupportFrac = 1e-5)
      .select(col("a"), col("b")).localCheckpoint()
    // the raw gates' absolute-threshold derivation — DENSIFIES at 10×
    def denseEdges() = graft.operators.MarketBasket
      .frequentPairs(spark.read.parquet(s"$dir/lineitem.parquet"),
        "l_orderkey", "l_partkey", minSupport = 2)
      .select(col("a"), col("b")).localCheckpoint()
    // synthetic power-law stand-in: hub 0 — leaves 1..20000, plus a
    // path 1-2-…-1000 (hub+path wedges close ~999 triangles)
    def starEdges() = {
      import org.apache.spark.sql.functions.lit
      val hub = spark.range(1, 20001).select(lit(0L).as("a"), col("id").as("b"))
      val path = spark.range(1, 1000).select(col("id").as("a"), (col("id") + 1).as("b"))
      hub.unionAll(path).localCheckpoint()
    }
    def run(name: String): org.apache.spark.sql.DataFrame = name match {
      case "probe_embedding_sized" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val planes = graft.operators.Dedup.planesFor(e.count(),
          targetBucketSize = 128)
        println(s"PROBE probe_embedding_sized planes=$planes dir=$dir")
        graft.operators.Dedup.embeddingNearDupPairs(e, "embedding",
          "vec_id", minCosine = 0.2, planes = planes, seed = 7, dims = 64)
      // probe_dbscan_sized / probe_semantic_sized: cluster_dbscan and
      // dedup_semantic bucket their quadratic stage into a FIXED number
      // of cells (planes=6 RHP buckets; per-label centroids) — at 10×
      // corpus the occupancy grows 10× and within-cell pair work ~100×
      // (measured via the shuffle column). The documented cure is the
      // planesFor rule: cells sized FROM n so occupancy stays ~constant.
      // These probes apply it (the gate constants stay oracle-stable).
      case "probe_dbscan_sized" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val planes = graft.operators.Dedup.planesFor(e.count(),
          targetBucketSize = 128)
        println(s"PROBE probe_dbscan_sized planes=$planes dir=$dir")
        graft.operators.Dedup.embeddingNearDupPairsMultiTable(e,
          "embedding", "vec_id", minCosine = 0.2, planes = planes,
          seeds = Seq(7, 21), dims = 64)
      // probe_dbscan_adaptive: the ANSWER-bounding knob measured —
      // planesFor bounds candidates, tauForNeighbors bounds the ε-graph
      // itself (fixed τ=0.2 measured 12/15/30 edges/vector across the
      // decades: a semantics-level quadratic). With τ derived from the
      // corpus the edges/vector column should hold ~targetNeighbors at
      // every decade, making the dbscan tail edge-linear.
      case "probe_dbscan_adaptive" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val planes = graft.operators.Dedup.planesFor(e.count(),
          targetBucketSize = 128)
        val tau = graft.operators.Dedup.tauForNeighbors(e, "embedding",
          "vec_id", targetNeighbors = 12, dims = 64)
        println(s"PROBE probe_dbscan_adaptive planes=$planes tau=$tau dir=$dir")
        graft.operators.Dedup.embeddingNearDupPairsMultiTable(e,
          "embedding", "vec_id", minCosine = tau, planes = planes,
          seeds = Seq(7, 21), dims = 64)
      // probe_dbscan_occ_ab: the LAST dbscan lever A/B'd — planesFor's
      // occupancy target controls the τ-INDEPENDENT candidate stage
      // (the bucket join emits co-bucket pairs before any filter; 86M
      // shuffle recs at 100× under target=128). Smaller target → more
      // planes → smaller buckets → fewer candidate pairs, at a recall
      // price the panel census measures (exact τ-pairs over the 500
      // smallest ids vs the candidates that survive). τ is derived once
      // (tauForNeighbors) and shared across arms so the A/B isolates
      // the candidate knob.
      case "probe_dbscan_occ_ab" =>
        import org.apache.spark.sql.functions.{broadcast => bcast,
          explode => fexplode, array => farr, struct => fstruct,
          lit => flit, round => frnd}
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .localCheckpoint()
        val n = e.count()
        val tau = graft.operators.Dedup.tauForNeighbors(e, "embedding",
          "vec_id", targetNeighbors = 12, dims = 64)
        val panel = e.orderBy(col("vec_id")).limit(500)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val truth = panel
          .select(col("vec_id").as("a"), col("embedding").as("va_"))
          .crossJoin(bcast(panel
            .select(col("vec_id").as("b"), col("embedding").as("vb_"))))
          .where(col("a") < col("b"))
          .where(frnd(graft.functions.VectorFunctions.cosine(
            col("va_"), col("vb_"), 64), 6) >= tau)
          .select(col("a"), col("b")).localCheckpoint()
        val nTruth = truth.count()
        // arms: occupancy target × table count. Per-table pair-collide
        // probability is (1-θ/π)^planes, so recall at DEEPER codes must
        // be bought with tables — the A/B measures both axes so the
        // knee is a (target, tables) point, not a target alone.
        val allSeeds = Seq(7, 21, 35, 49, 63, 77, 91, 105)
        for ((target, nTables) <- Seq((2048L, 2), (512L, 2), (512L, 4),
            (128L, 2), (128L, 8))) try {
          val planes = graft.operators.Dedup.planesFor(n,
            targetBucketSize = target)
          // candidate stage ONLY: the co-bucket join before the τ
          // filter, exactly embeddingNearDupPairsMultiTable's cand step
          val seeds = allSeeds.take(nTables)
          val tables = e
            .withColumn("sb", fexplode(farr(seeds.map(sd =>
              fstruct(flit(sd).as("seed"),
                graft.functions.VectorFunctions.rhpBucket(
                  col("embedding"), planes, sd, 64).as("bucket"))): _*)))
            .select(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"),
              col("vec_id"))
          val cand = tables.select(col("seed"), col("bucket"),
              col("vec_id").as("a"))
            .join(tables.select(col("seed"), col("bucket"),
              col("vec_id").as("b")), Seq("seed", "bucket"))
            .where(col("a") < col("b"))
            .select(col("a"), col("b")).distinct()
          var bestSec = Double.MaxValue
          var bestR = -1L
          var candRows = 0L
          for (_ <- 1 to 2) {
            Thread.sleep(300)
            shufRecs.set(0L)
            val t0 = System.nanoTime()
            candRows = cand.count()
            val sec = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300)
            if (sec < bestSec) { bestSec = sec; bestR = shufRecs.get() }
          }
          val pairs = graft.operators.Dedup.embeddingNearDupPairsMultiTable(
            e, "embedding", "vec_id", minCosine = tau, planes = planes,
            seeds = seeds, dims = 64).select(col("a"), col("b"))
          val hit = pairs.join(truth, Seq("a", "b")).count()
          println(f"PROBE probe_dbscan_occ_ab target=$target " +
            f"tables=$nTables planes=$planes " +
            f"tau=$tau%.6f cand=$candRows sec=$bestSec%.2f " +
            f"shuffle_recs=$bestR panelHit=$hit panelTruth=$nTruth " +
            f"recall=${if (nTruth == 0) 1.0 else hit.toDouble / nTruth}%.4f " +
            s"dir=$dir")
        } catch {
          case ex: Throwable => println(
            s"PROBE probe_dbscan_occ_ab target=$target tables=$nTables " +
              s"ERROR ${ex.getClass.getSimpleName}: " +
              s"${Option(ex.getMessage).getOrElse("").take(300)} dir=$dir")
        }
        e.limit(1)
      // probe_knn_descent_ladder: the NN-Descent recall ladder at scale
      // (gate-form: bucketed seed recall0 vs 2-round descent recall2,
      // exact truth over the 500-id panel — panel×n, linear)
      case "probe_knn_descent_ladder" =>
        val df = graft.SparkEntry
          .queries("search_knn_graph_descent_recall")(spark, dir)
        df.collect().foreach(r => println(
          s"PROBE probe_knn_descent_ladder n_exact=${r.getLong(0)} " +
            s"hit0=${r.getLong(1)} hit2=${r.getLong(2)} " +
            s"recall0=${r.getDouble(3)} recall2=${r.getDouble(4)} dir=$dir"))
        df
      case "probe_semantic_sized" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val planes = graft.operators.Dedup.planesFor(e.count(),
          targetBucketSize = 128)
        println(s"PROBE probe_semantic_sized planes=$planes dir=$dir")
        graft.operators.Dedup.embeddingNearDupPairs(e, "embedding",
          "vec_id", minCosine = 0.3, planes = planes, seed = 7, dims = 64)
      // probe_semantic_kmeans: BALANCED cells (pickCentroids + one Lloyd
      // round, k = n/128) instead of RHP buckets — closes SCALE_NOTES'
      // "occupancy-targeted, not guaranteed" caveat empirically. The
      // trade under test: balanced occupancy kills the in-cell skew
      // constant, but assignment is n·k cosines = n²/target — the
      // quadratic moves from the pair stage to the assign stage unless
      // centroid lookup is itself sublinear (centroid-ANN, not shipped).
      case "probe_semantic_kmeans" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val k = math.max(2L, e.count() / 128L).toInt
        println(s"PROBE probe_semantic_kmeans k=$k dir=$dir")
        val c = graft.operators.Similarity.kmeansRefine(e, "embedding",
          "vec_id", graft.operators.Similarity.pickCentroids(
            e, "embedding", "vec_id", k), iters = 1)
        val assigned = graft.operators.Similarity.ivfAssign(
          e, "embedding", "vec_id", c)
        val l = assigned.select(col("cell"), col("vec_id").as("a"),
          col("embedding").as("va_"))
        val r = assigned.select(col("cell"), col("vec_id").as("b"),
          col("embedding").as("vb_"))
        l.join(r, "cell").where(col("a") < col("b"))
          .where(graft.functions.VectorFunctions.cosine(
            col("va_"), col("vb_"), 64) >= 0.3)
          .select(col("a"), col("b"))
      // probe_semantic_kmeans_ann: probe_semantic_kmeans with the
      // assign stage routed through the RHP-bucketed centroid lookup
      // (Similarity.ivfAssignAnn) — probes/vector ≈ seeds·k/2^planes
      // stays ~constant when planes is planesFor-sized FROM k, so the
      // balanced-cells corner is linear end-to-end (assign AND pairs);
      // closes SCALE_NOTES r10's "quadratic moves to the assign stage"
      // caveat. Recall vs exact assign measured by the _recall probe.
      case "probe_semantic_kmeans_ann" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val k = math.max(2L, e.count() / 128L).toInt
        val cents = graft.operators.Similarity.kmeansRefine(e, "embedding",
          "vec_id", graft.operators.Similarity.pickCentroids(
            e, "embedding", "vec_id", k), iters = 1)
        val planes = graft.operators.Dedup.planesFor(cents.size.toLong,
          targetBucketSize = 16)
        println(s"PROBE probe_semantic_kmeans_ann k=${cents.size} " +
          s"planes=$planes dir=$dir")
        val assigned = graft.operators.Similarity.ivfAssignAnn(
          e, "embedding", "vec_id", cents, planes, Seq(7, 21))
        val l = assigned.select(col("cell"), col("vec_id").as("a"),
          col("embedding").as("va_"))
        val r = assigned.select(col("cell"), col("vec_id").as("b"),
          col("embedding").as("vb_"))
        l.join(r, "cell").where(col("a") < col("b"))
          .where(graft.functions.VectorFunctions.cosine(
            col("va_"), col("vb_"), 64) >= 0.3)
          .select(col("a"), col("b"))
      // probe_kmeans_assign_ab: the ASSIGN stage isolated — the probe
      // totals are dominated by the shared exact Lloyd refine pass
      // (training cost, amortized in production where centroids are a
      // stored model artifact); this A/B times exact n·k assign vs the
      // bucketed lookup over the SAME centroids, nothing else.
      case "probe_kmeans_assign_ab" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .localCheckpoint()
        val k = math.max(2L, e.count() / 128L).toInt
        val cents = graft.operators.Similarity.kmeansRefine(e, "embedding",
          "vec_id", graft.operators.Similarity.pickCentroids(
            e, "embedding", "vec_id", k), iters = 1)
        val planes = graft.operators.Dedup.planesFor(cents.size.toLong,
          targetBucketSize = 16)
        def time(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
          var best = Double.MaxValue
          for (_ <- 1 to 2) {
            val t0 = System.nanoTime()
            df.count()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"PROBE probe_kmeans_assign_ab $label sec=$best%.2f " +
            s"k=${cents.size} planes=$planes dir=$dir")
        }
        time("exact", graft.operators.Similarity.ivfAssign(
          e, "embedding", "vec_id", cents))
        time("ann", graft.operators.Similarity.ivfAssignAnn(
          e, "embedding", "vec_id", cents, planes, Seq(7, 21)))
        e.limit(1)
      // probe_kmeans_train_ab: the TRAINING pass isolated (the r11
      // SCALE_NOTES closer named it the one remaining exact n·k stage):
      // one Lloyd round, exact assign vs bucketed-lookup assign over
      // the same pickCentroids init. Prints wall for each arm plus the
      // centroid drift (per-cell cosine between the two refined sets,
      // min/mean) so the speed/fidelity trade is measured, not asserted.
      case "probe_kmeans_train_ab" =>
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .localCheckpoint()
        val k = math.max(2L, e.count() / 128L).toInt
        val init = graft.operators.Similarity.pickCentroids(
          e, "embedding", "vec_id", k)
        val planes = graft.operators.Dedup.planesFor(init.size.toLong,
          targetBucketSize = 16)
        def timeTrain(label: String,
            f: () => Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
          var best = Double.MaxValue
          var out: Seq[(Int, Seq[Double])] = Nil
          for (_ <- 1 to 2) {
            val t0 = System.nanoTime()
            out = f()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"PROBE probe_kmeans_train_ab $label sec=$best%.2f " +
            s"k=${init.size} planes=$planes dir=$dir")
          out
        }
        val ex = timeTrain("exact", () => graft.operators.Similarity
          .kmeansRefine(e, "embedding", "vec_id", init))
        val an = timeTrain("ann", () => graft.operators.Similarity
          .kmeansRefineAnn(e, "embedding", "vec_id", init, planes, Seq(7, 21)))
        val exm = ex.toMap
        val drifts = an.flatMap { case (cell, v) =>
          exm.get(cell).map { u =>
            val dot = u.zip(v).map { case (a, b) => a * b }.sum
            val nu = math.sqrt(u.map(x => x * x).sum)
            val nv = math.sqrt(v.map(x => x * x).sum)
            if (nu == 0 || nv == 0) 1.0 else dot / (nu * nv)
          }
        }
        println(f"PROBE probe_kmeans_train_ab drift cells=${drifts.size} " +
          f"minCos=${drifts.min}%.4f meanCos=${drifts.sum / drifts.size}%.4f " +
          s"dir=$dir")
        e.limit(1)
      // probe_kmeans_ann_recall: agreement census of ANN assign vs the
      // exact n·k assign — run at the two smaller decades only (at 100×
      // the exact side IS the quadratic being avoided).
      case "probe_kmeans_ann_recall" =>
        import org.apache.spark.sql.functions.{count => cnt, lit => l2,
          sum => fsum, when => fwhen}
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val k = math.max(2L, e.count() / 128L).toInt
        val cents = graft.operators.Similarity.kmeansRefine(e, "embedding",
          "vec_id", graft.operators.Similarity.pickCentroids(
            e, "embedding", "vec_id", k), iters = 1)
        val planes = graft.operators.Dedup.planesFor(cents.size.toLong,
          targetBucketSize = 16)
        val exact = graft.operators.Similarity.ivfAssign(
          e, "embedding", "vec_id", cents)
          .select(col("vec_id"), col("cell").as("cell_exact"))
          .localCheckpoint()
        // recall/cost curve: 2 and 4 hash tables, Hamming-1 multi-probe
        // in both — probes/vector = tables·(planes+1)·k/2^planes
        var last: org.apache.spark.sql.DataFrame = null
        Seq(Seq(7, 21), Seq(7, 21, 35, 49)).foreach { seeds =>
          val ann = graft.operators.Similarity.ivfAssignAnn(
            e, "embedding", "vec_id", cents, planes, seeds)
            .select(col("vec_id"), col("cell").as("cell_ann"))
          val census = exact.join(ann, "vec_id")
            .agg(cnt(l2(1)).as("n"),
              fsum(fwhen(col("cell_exact") === col("cell_ann"), 1L)
                .otherwise(0L)).as("agree"))
          census.collect().foreach(row => println(
            s"PROBE probe_kmeans_ann_recall n=${row.getLong(0)} " +
              s"agree=${row.getLong(1)} " +
              f"recall=${row.getLong(1).toDouble / row.getLong(0)}%.4f " +
              s"k=${cents.size} planes=$planes tables=${seeds.size} dir=$dir"))
          last = census
        }
        last
      // probe_er_prefix_blocked: er_scored_pairs' natural
      // nation×segment key has a FIXED 125-block space, so in-block
      // pairs grow quadratically (51.7× at 10× — SCALE_NOTES r10). The
      // cure is EXTENDING the key with a name-prefix sub-key sized by
      // prefixLenFor: true matches share their leading characters, so
      // they stay co-blocked while occupancy drops 10× per character.
      case "probe_er_prefix_blocked" =>
        val c = spark.read.parquet(s"$dir/customer.parquet")
        val len = graft.operators.EntityResolution.prefixLenFor(
          c.count(), naturalBlocks = 125L)
        println(s"PROBE probe_er_prefix_blocked prefixLen=$len dir=$dir")
        // the 9-digit number starts at char 10 of "Customer#%09d"; the
        // lpad ZEROS carry no entropy, so the prefix is taken from the
        // significant digits (first probe run took len chars of "0" and
        // discriminated nothing — kept as a lesson: prefix blocking
        // keys on the most-significant VARYING characters)
        import org.apache.spark.sql.functions.{lit => flit, substring => fsub, regexp_replace}
        val keyed =
          if (len == 0) c.withColumn("pfx", flit(""))
          else c.withColumn("pfx",
            fsub(regexp_replace(fsub(col("c_name"), 10, 9), "^0+", ""),
              1, len))
        graft.operators.EntityResolution.scoredPairs(keyed, "c_custkey",
          "c_name", Seq("c_nationkey", "c_mktsegment", "pfx"),
          minSim = 0.97)
      // probe_truss_star_{oriented,unoriented}: the skew case the
      // orientation exists for — a hub of degree 20k plus a 1k-edge
      // path (so some triangles exist via hub+path wedges). The
      // unoriented two-hop join fans the hub out as deg(hub)² ≈ 4×10⁸
      // wedge rows; orientation points every hub edge AT the hub
      // (leaves have the smaller degree), so no wedge is ever centered
      // on it and total wedge work is Σ outdeg² ≈ 2 per leaf.
      case "probe_truss_star_oriented" =>
        graft.operators.Graph.kTrussPeel(starEdges(), k = 3, rounds = 1)
      case "probe_truss_star_unoriented" =>
        import org.apache.spark.sql.functions.{count => cnt, lit => l}
        def support(g: org.apache.spark.sql.DataFrame) = {
          val adj = g.select(col("a").as("s_"), col("b").as("d_"))
            .unionAll(g.select(col("b").as("s_"), col("a").as("d_")))
          g.join(adj.select(col("s_").as("a"), col("d_").as("w_")), "a")
            .join(adj.select(col("s_").as("b"), col("d_").as("w_")),
              Seq("b", "w_"))
            .groupBy(col("a"), col("b"))
            .agg(cnt(l(1)).as("support"))
        }
        val e1 = support(starEdges()).where(col("support") >= 1)
          .select(col("a"), col("b")).localCheckpoint()
        support(e1)
      // probe_truss_support_{oriented,unoriented}: ONE support pass over
      // the DENSIFIED minSupport=2 graph (the raw gates' derivation at
      // 10× — avg degree ~1.2k), comparing the r10 degree-ordered
      // triangle enumeration against the r9 unoriented two-hop join.
      // Orientation bounds wedge fan-out at Σ outdeg² = O(E^1.5); the
      // unoriented join fans out Σ_e deg(a) — hub-quadratic.
      case "probe_truss_support_oriented" =>
        graft.operators.Graph.kTrussPeel(denseEdges(), k = 3, rounds = 1)
      case "probe_truss_support_unoriented" =>
        // same peel shape as kTrussPeel(k=3, rounds=1): support, filter,
        // support — with the r9 unoriented two-hop support join
        import org.apache.spark.sql.functions.{count => cnt, lit => l}
        def support(g: org.apache.spark.sql.DataFrame) = {
          val adj = g.select(col("a").as("s_"), col("b").as("d_"))
            .unionAll(g.select(col("b").as("s_"), col("a").as("d_")))
          g.join(adj.select(col("s_").as("a"), col("d_").as("w_")), "a")
            .join(adj.select(col("s_").as("b"), col("d_").as("w_")),
              Seq("b", "w_"))
            .groupBy(col("a"), col("b"))
            .agg(cnt(l(1)).as("support"))
        }
        val e1 = support(denseEdges()).where(col("support") >= 1)
          .select(col("a"), col("b")).localCheckpoint()
        support(e1)
      case "probe_graph_edges_rel" => relEdges()
      case "probe_ktruss_rel" =>
        graft.operators.Graph.kTrussPeel(relEdges(), k = 3, rounds = 3)
      case "probe_kcore_rel" =>
        graft.operators.Graph.kCorePeel(relEdges(), k = 3, rounds = 3)
      case "probe_pagerank_rel" =>
        graft.operators.Graph.pageRank(relEdges(), rounds = 3)
      case "probe_communities_rel" =>
        graft.operators.Graph.labelCommunities(relEdges(), rounds = 3)
      case "probe_bfs_rel" =>
        val edges = relEdges()
        val nodes = edges.select(col("a").as("node"))
          .unionAll(edges.select(col("b").as("node"))).distinct()
        graft.operators.Graph.bfsDistances(edges,
          nodes.where(col("node") % 50 === 0), rounds = 3)
      case n => graft.SparkEntry.queries(n)(spark, dir)
    }
    for (name <- args.drop(1)) {
      try {
        var rows = 0L
        var best = Double.MaxValue
        var bestRecs = -1L
        var bestBytes = -1L
        for (_ <- 1 to 2) {
          // listener events are async (listenerBus is private[spark]):
          // a short sleep drains them — soak-grade precision is enough
          Thread.sleep(300)
          shufRecs.set(0L); shufBytes.set(0L)
          val t0 = System.nanoTime()
          rows = run(name).count()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          if (sec < best) {
            best = sec
            bestRecs = shufRecs.get(); bestBytes = shufBytes.get()
          }
        }
        println(f"SOAK $name rows=$rows sec=$best%.2f " +
          f"shuffle_recs=$bestRecs shuffle_mb=${bestBytes / 1e6}%.1f dir=$dir")
      } catch {
        case e: Throwable =>
          println(s"SOAK $name ERROR ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)} dir=$dir")
      }
    }
    spark.stop()
  }
}
