package graft

import org.apache.spark.sql.functions._

/** Plan-shape regressions for the scale-critical physical properties of
  * the newest operators — asserted in CI, not just in the manual
  * `graft.tools.Explain*` audit mains:
  *
  *  - SQ8 search: top-k must be TakeOrderedAndProject and the search must
  *    add no exchange of its own (the one in the gate is the bench
  *    inputs' spread repartition)
  *  - vocabulary: top-k must be TakeOrderedAndProject (no global sort of
  *    the term table)
  *  - anomaly: exactly one scan of raw events (one rollup feeds both the
  *    current value and the trailing baseline)
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The final adaptive plan after one execution: query stages that
    * reuse an earlier stage show as `ReusedExchange` only here. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def count(p: String, pat: String): Int =
    p.linesIterator.count(_.contains(pat))

  test("search_sq8: TakeOrdered top-k, no shuffle beyond the input spread") {
    val p = plan("search_sq8")
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(800))
    assert(count(p, "Exchange") <= 1, p.take(800))
  }

  test("text_vocabulary: top-k is TakeOrderedAndProject, single scan") {
    val p = plan("text_vocabulary")
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(800))
    assert(count(p, "Scan parquet") == 1, p.take(800))
  }

  test("events_anomaly: exactly one raw-events scan") {
    val p = plan("events_anomaly")
    assert(count(p, "Scan parquet") == 1, p.take(800))
  }

  test("search_label_centroids: one scan, combiner-heavy aggregate only") {
    val p = plan("search_label_centroids")
    assert(count(p, "Scan parquet") == 1, p.take(800))
    assert(count(p, "HashAggregate") >= 2, p.take(800)) // partial + final
  }

  test("search_sparse_cosine: postings built once, read by norms + both join sides, no cartesian") {
    val p = finalPlan("search_sparse_cosine")
    assert(count(p, "CartesianProduct") == 0, p.take(3000))
    // tokenize → explode runs once: the norms and both join sides read
    // one postings exchange, two of them as a reuse of the first
    assert(count(p, "Generate explode") == 1, p.take(3000))
    assert(count(p, "ReusedExchange") >= 2, p.take(3000))
  }

  test("text_cooccurrence / text_bigram_lm: no self-join — zero joins at all") {
    for (n <- Seq("text_cooccurrence", "text_bigram_lm")) {
      val p = plan(n)
      assert(count(p, "Join") == 0, s"$n:\n${p.take(800)}")
      assert(count(p, "TakeOrderedAndProject") == 1, s"$n:\n${p.take(800)}")
    }
  }

  test("profile_columns: distinct Expand feeds hash aggregation, never a sort") {
    val p = plan("profile_columns")
    // the 4.2 s regression shape was Expand → Sort[..., gid] →
    // SortAggregate; keyless min/max SortAggregates (no sort needed) are
    // fine and expected
    assert(count(p, "Expand") == 1, p.take(1200))
    assert(!p.linesIterator.exists(l => l.contains("Sort [") && l.contains("gid#")),
      p.take(1200))
  }

  test("profile_drift: per-side counts in ONE tagged aggregation (no histogram join)") {
    val p = plan("profile_drift")
    assert(count(p, "Join") == 0, p.take(800))
  }

  test("store_scd2: one exchange on the key, windows share its sort") {
    val p = plan("store_scd2")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1200))
  }

  test("events_transitions: single scan, one window partitioning") {
    val p = plan("events_transitions")
    assert(count(p, "Scan parquet") == 1, p.take(800))
    assert(count(p, "Window") == 1, p.take(800))
  }

  test("search_silhouette: centroid join is broadcast, never shuffled") {
    val p = plan("search_silhouette")
    assert(count(p, "BroadcastNestedLoopJoin") + count(p, "BroadcastHashJoin") >= 1,
      p.take(1200))
    assert(count(p, "SortMergeJoin") == 0, p.take(1200))
  }

  test("q7_volume_shipping: dims broadcast, at most one data-scale join, no cartesian") {
    val p = plan("q7_volume_shipping")
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(1500))
    assert(count(p, "SortMergeJoin") <= 1, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
  }

  test("hard negatives / label propagation: query batch broadcast, corpus streams once") {
    for (n <- Seq("search_hard_negatives", "search_label_propagation")) {
      val p = plan(n)
      assert(count(p, "BroadcastNestedLoopJoin") >= 1, s"$n:\n${p.take(1200)}")
      assert(count(p, "CartesianProduct") == 0, s"$n:\n${p.take(1200)}")
    }
  }

  test("events_top_paths: one scan, one window, rank-limit pushed below it") {
    val p = plan("events_top_paths")
    assert(count(p, "Scan parquet") == 1, p.take(800))
    assert(count(p, "Window [") == 1, p.take(800))
    // rn <= 3 prunes BEFORE the full window via WindowGroupLimit
    // (partial map-side + final) — the rank-pushdown that matters at scale
    assert(count(p, "WindowGroupLimit") == 2, p.take(800))
  }

  test("mem_provenance_path: exactly maxDepth static self-joins, no recursion") {
    val p = plan("mem_provenance_path")
    assert(count(p, "Join") == 4, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
  }

  test("q8_market_share: all dims broadcast, one data-scale join at most") {
    val p = plan("q8_market_share")
    assert(count(p, "BroadcastHashJoin") >= 4, p.take(1500))
    assert(count(p, "SortMergeJoin") <= 1, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
  }

  test("pipeline_dedup_split: the composed chain adds no cartesian or extra shuffle layer") {
    val p = plan("pipeline_dedup_split")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
  }

  test("q2_min_cost_supplier: correlated min DECORRELATED to an aggregate join, dims broadcast") {
    val p = plan("q2_min_cost_supplier")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // supplier/nation/region/part all broadcast; no data-scale broadcast
    assert(count(p, "BroadcastHashJoin") >= 4, p.take(1500))
    // the correlated subquery must be a join against a per-part MIN
    // aggregate, not a per-row re-execution
    assert(p.contains("min(ps_supplycost)"), p.take(1500))
    assert(count(p, "SortMergeJoin") <= 2, p.take(1500))
    // part filter reaches the scan
    assert(p.contains("EqualTo(p_type,LARGE)"), p.take(1500))
  }

  test("q9_product_profit: part filter broadcast-prunes BOTH fact inputs at the scan") {
    val p = plan("q9_product_profit")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // the p_name predicate is pushed into a parquet scan and the pruned
    // part keys broadcast into lineitem AND the derived supply relation
    assert(count(p, "StringContains(p_name,red)") >= 1, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(1500))
    // exactly one data-scale shuffle join: lineitem ⋈ supply on (part, supp)
    assert(count(p, "SortMergeJoin") <= 2, p.take(1500))
  }

  test("q18_large_volume: the HAVING-filtered order list broadcasts into both fact sides") {
    val p = plan("q18_large_volume")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(1500))
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(1500)) // limit 100 never global-sorts
  }

  test("q19_disjunctive: part-only disjunction reaches the part scan as pushed filters") {
    val p = plan("q19_disjunctive")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // the (brand, size) alternatives prune the part scan pre-join
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#1)"), p.take(2000))
    assert(count(p, "BroadcastHashJoin") == 1, p.take(1500))
    // Catalyst derives the quantity-only projection of the disjunction
    // and pushes it into the LINEITEM scan too — pin that
    assert(p.contains("(l_quantity"), p.take(2000))
    // single-row agg: only the broadcast + the final single-partition
    // exchange; no data-scale hash shuffle
    assert(count(p, "Exchange hashpartitioning") == 0, p.take(1500))
  }

  test("text_winnow_fp: one doc-key window is the only exchange shape; no join") {
    val p = plan("text_winnow_fp")
    assert(count(p, "Window") >= 1, p.take(1200))
    assert(count(p, "Join") == 0, p.take(1200))
    assert(count(p, "Exchange hashpartitioning") <= 2, p.take(1200)) // window key + distinct
  }

  test("dedup_chunks: keeper pick is an aggregate argmin — no window, no data-scale sort") {
    val p = plan("dedup_chunks")
    assert(count(p, "Window") == 0, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // reassembly sort happens inside collected row lists (sort_array),
    // never as a physical Sort below the final output ordering
    assert(count(p, "Sort ") <= 3, p.take(1500))
  }

  test("mem_search_hybrid_bm25: reattach reads the MATERIALIZED store pruned to id+payload") {
    // production path (r5 verdict item #3): the final plan must read the
    // X33 parquet store — never re-derive memories from events — with the
    // reattach scan pruned to (memory_id, tool) and the fused scores a
    // bounded local relation broadcast into it
    val p = plan("mem_search_hybrid_bm25")
    assert(!p.contains("events.parquet"), p.take(1500))
    val storeScan = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("graft_hybrid_store"))
    assert(storeScan.isDefined, p.take(1500))
    assert(storeScan.get.contains("memory_id#") && storeScan.get.contains("tool#"),
      storeScan.get.take(300))
    assert(!storeScan.get.contains("content#") && !storeScan.get.contains("embedding#"),
      storeScan.get.take(300))
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(1500))
  }

  test("text_fingerprint: normalize+md5 chain evaluated once per row, not twice") {
    // the r5 regression: fingerprint64 recomputed the whole interpreted
    // md5/regex chain instead of reading the materialized fingerprint
    // column. CollapseProject must not re-inline it (it is non-cheap and
    // referenced twice), so exactly one md5 call survives in the plan.
    val p = plan("text_fingerprint")
    val md5s = "md5\\(".r.findAllIn(p).length
    assert(md5s == 1, s"expected 1 md5 call, got $md5s:\n${p.take(1200)}")
  }

  test("q4_order_priority: ONE LeftSemi join carries the correlated EXISTS") {
    val p = plan("q4_order_priority")
    assert(count(p, "LeftSemi") == 1, p.take(1200))
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
  }

  test("q10_returned_items: top-20 is TakeOrderedAndProject, no cartesian") {
    val p = plan("q10_returned_items")
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
  }

  test("q15_top_supplier: the revenue view is cached once, read by join AND max subquery") {
    val p = plan("q15_top_supplier")
    assert(count(p, "InMemoryTableScan") >= 2, p.take(1500))
  }

  test("q17_small_quantity: part-filtered lines cached once; stats rejoin broadcasts") {
    val p = plan("q17_small_quantity")
    assert(count(p, "InMemoryTableScan") >= 2, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(1500))
  }

  test("q21_waiting_suppliers: semi + anti double correlation over ONE cached late set") {
    val p = plan("q21_waiting_suppliers")
    assert(count(p, "LeftSemi") == 1, p.take(2000))
    assert(count(p, "LeftAnti") == 1, p.take(2000))
    assert(count(p, "InMemoryTableScan") >= 2, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("dedup_ssjoin_prefix: checkpointed sets feed postings + both verification sides, no cartesian") {
    val p = plan("dedup_ssjoin_prefix")
    // the sets are built once, by the checkpoint; the plan only reads them
    assert(count(p, "Scan ExistingRDD") >= 3, p.take(2000))
    assert(count(p, "Scan parquet") == 0, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("graph_link_predict: adjacency anti join present, degrees broadcast, no cartesian") {
    val p = plan("graph_link_predict")
    assert(count(p, "LeftAnti") == 1, p.take(2000))
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("mine_frequent_pairs: metric attach joins are broadcast, pair join is the only data-scale join") {
    val p = plan("mine_frequent_pairs")
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(2000))
    assert(count(p, "SortMergeJoin") <= 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("er_scored_pairs: jaro_winkler evaluates inside whole-stage codegen on the block join") {
    val p = plan("er_scored_pairs")
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
    assert(p.contains("jaro_winkler"), p.take(2000))
  }

  test("dedup_substring_spans: ONE corpus scan (window count, not count+join-back), no cartesian") {
    val p = plan("dedup_substring_spans")
    assert(count(p, "Scan parquet") == 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("search_hamming_recall: shortlist is TakeOrdered, rerank side broadcast") {
    val p = plan("search_hamming_recall")
    assert(count(p, "TakeOrderedAndProject") >= 2, p.take(2000)) // shortlist + final k
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("search_maxsim: query side broadcast, combiner-heavy max, no sort-merge join") {
    val p = plan("search_maxsim")
    assert(count(p, "BroadcastNestedLoopJoin") + count(p, "BroadcastHashJoin") >= 1,
      p.take(2000))
    assert(count(p, "SortMergeJoin") == 0, p.take(2000))
    assert(count(p, "HashAggregate") >= 2, p.take(2000))
  }

  test("text_distinctive_terms: one explode-count pass feeds every total") {
    val p = plan("text_distinctive_terms")
    assert(count(p, "Scan parquet") == 1, p.take(2000))
    assert(count(p, "Generate") == 1, p.take(2000))
  }

  test("sample_importance_dsir: bucket stats broadcast back onto the feature stream") {
    val p = plan("sample_importance_dsir")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("profile_embedding_cov: moments reduced in one pass, result is a model-size local relation") {
    val p = plan("profile_embedding_cov")
    // the d(d+1)/2 moment table collects once (centroidsFromLong bound);
    // the returned frame must be local — re-planned joins over the
    // expensive expansion were the regression this pins against
    assert(count(p, "LocalTableScan") == 1, p.take(2000))
    assert(count(p, "Join") == 0, p.take(2000))
  }

  test("search_phrase: phrase table broadcast, postings never cartesian") {
    val p = plan("search_phrase")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
    assert(count(p, "SortMergeJoin") == 0, p.take(2000))
  }

  test("profile_hll_audit: registers reduce combiner-heavy, single events scan pair") {
    val p = plan("profile_hll_audit")
    // build + exact NDV each scan once; no join strategy surprises
    assert(count(p, "Scan parquet") == 2, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("profile_bloom_audit: set-bit relation broadcasts to the probe side") {
    val p = plan("profile_bloom_audit")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("graph_pagerank: checkpointed rounds keep the plan flat (no 2^R blowup)") {
    val p = plan("graph_pagerank")
    // the final round's plan reads the round-2 checkpoint, not the whole
    // lineage: exactly one checkpointed scan on each join branch
    assert(count(p, "Scan ExistingRDD") >= 1, p.take(2000))
    assert(count(p, "Scan parquet") == 0, p.take(2000))
  }

  test("profile_join_cardinality: counts join, rows never do") {
    val p = plan("profile_join_cardinality")
    // both inputs reduce to per-key counts BEFORE any join: the partial
    // aggregates sit under the join, and the total broadcasts back
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(2000))
  }

  test("search_nsw: checkpointed traversal, top-k TakeOrdered, no cartesian") {
    val p = plan("search_nsw")
    // final top-k reads the checkpointed visited relation; the graph
    // build's fan-out never reaches the serving plan
    assert(count(p, "TakeOrderedAndProject") == 1, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
    assert(count(p, "Scan ExistingRDD") >= 1, p.take(2000))
  }

  test("graph_bfs_distances: frontier rounds checkpointed — no parquet in the final plan") {
    val p = plan("graph_bfs_distances")
    assert(count(p, "Scan parquet") == 0, p.take(2000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("profile_numeric_corr: ONE scan feeds every pair's moments") {
    val p = plan("profile_numeric_corr")
    // the k(k+1)/2 moment cells come from a single pass (checkpointed
    // one-row relation fans out to the per-pair rows)
    assert(count(p, "Scan parquet") == 0, p.take(2000)) // checkpointed agg
    assert(count(p, "Scan ExistingRDD") >= 1, p.take(2000))
  }

  test("events_cusum / profile_ks_drift: series checkpointed — raw rows scanned once") {
    for (n <- Seq("events_cusum", "profile_ks_drift")) {
      val p = plan(n)
      // the grain-reducing aggregate is checkpointed at the fan-out
      // point (totals + cumsum + argmax all read it), so the final plan
      // reads the tiny series relation and raw events never re-scan
      assert(count(p, "Scan parquet") == 0, s"$n:\n${p.take(2000)}")
      assert(count(p, "Scan ExistingRDD") >= 1, s"$n:\n${p.take(2000)}")
      assert(count(p, "CartesianProduct") == 0, s"$n:\n${p.take(2000)}")
    }
  }

  test("events_twap: one scan, lead window under one combiner aggregate") {
    val p = plan("events_twap")
    assert(count(p, "Scan parquet") == 1, p.take(2000))
    assert(count(p, "HashAggregate") >= 2, p.take(2000)) // partial + final
  }

  test("store_dpp_join: the fact scan carries a dynamic pruning expression") {
    val p = plan("store_dpp_join")
    // the qualifying types are only known at runtime, so the partitioned
    // fact scan must be pruned by the DPP subquery, not a static filter
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(3000))
    assert(count(p, "CartesianProduct") == 0, p.take(2000))
  }

  test("runtime bloom filter: the probe side carries bloom_filter_agg under gate confs") {
    // the gate materializes under these confs and restores them; here we
    // pin the plan shape it materializes WITH
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val tKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val (prevB, prevT) = (spark.conf.get(bKey), spark.conf.get(tKey))
    spark.conf.set(bKey, "-1"); spark.conf.set(tKey, "0")
    try {
      val o = Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val j = Tables.lineitem(spark, sf)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg"), p.take(3000))
    } finally { spark.conf.set(bKey, prevB); spark.conf.set(tKey, prevT) }
  }

  test("er multipass + phonetic: sub-keys are JOIN keys, zero cartesians") {
    def cartesians(p: String): Int = p.linesIterator.count(l =>
      l.contains("CartesianProduct") || l.contains("BroadcastNestedLoop"))
    // sf0.01, not the spec default: at sf0.001 the 150-customer corpus
    // derives prefix length 0, and Catalyst correctly constant-folds
    // the empty sub-key out of the join — the assertion needs the
    // scale where the occupancy rule ENGAGES
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
        .queryExecution.executedPlan.toString
    val multi = plan("er_multipass_blocked")
    assert(multi.linesIterator.exists(l => l.contains("Join") && l.contains("pfx")),
      multi.take(800))
    assert(multi.linesIterator.exists(l => l.contains("Join") && l.contains("sfx")),
      multi.take(800))
    assert(cartesians(multi) == 0)
    val phon = plan("er_phonetic_blocked")
    assert(phon.linesIterator.exists(l => l.contains("Join") && l.contains("pkey")),
      phon.take(800))
    assert(cartesians(phon) == 0)
  }

  test("multimodal_phash_near_dup: banded (band, bv) join, never all-pairs") {
    val p = plan("multimodal_phash_near_dup")
    assert(p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("band") && l.contains("bv")), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
  }

  test("ivfAssignAnn: centroid lookup is a broadcast hash join on (seed, bucket)") {
    import spark.implicits._
    val vecs = (0L until 32L)
      .map(i => (i, Seq.tabulate(8)(j => ((i + j) % 5 - 2).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1.0, 0, 0, 0, 0, 0, 0, 0)),
      (1, Seq(0.0, 1.0, 0, 0, 0, 0, 0, 0)))
    val p = operators.Similarity.ivfAssignAnn(vecs, "embedding", "vec_id",
      cents, planes = 3, seeds = Seq(7, 21))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("seed") && l.contains("bucket")), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("er_scored_pairs: the sized prefix sub-key is a JOIN key at sf0.01") {
    // at sf0.001 prefixLenFor derives 0 and the constant pfx folds out of
    // the join — assert at the scale where the rule ENGAGES (len 1)
    val p = SparkEntry.queries("er_scored_pairs")(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("pfx")),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("mutualKnnPairsBucketed: every stage keyed, no cartesian anywhere") {
    import spark.implicits._
    val vecs = (0L until 64L)
      .map(i => (i, Seq.tabulate(8)(j => ((i + j) % 5 - 2).toFloat)))
      .toDF("vec_id", "embedding")
    val p = operators.Similarity.mutualKnnPairsBucketed(vecs, "embedding",
      "vec_id", k = 4, minCosine = 0.1, planes = 3, seeds = Seq(7, 21),
      dims = 8).queryExecution.executedPlan.toString
    // candidate join on (seed, bucket); mutual join on (q, b); top-k is
    // one window — the ONLY data-scale shuffles; never an all-pairs plan
    assert(p.linesIterator.exists(l => l.contains("Join") &&
      l.contains("seed") && l.contains("bucket")), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
  }

  test("dedup_decontaminate_bloom: native codegen probe, no lambda UDF in the plan") {
    val p = plan("dedup_decontaminate_bloom")
    // the prefilter is BloomMightContainLong — whole-stage codegen keeps
    // the scan→explode→probe→count pipeline in one span; a closure UDF
    // would render as UDF(...) and fence codegen
    assert(p.contains("bloom_might_contain_long"), p.take(2000))
    assert(!p.contains("UDF("), p.take(2000))
    assert(!p.contains("BatchEvalPython"), p.take(2000))
  }
}
