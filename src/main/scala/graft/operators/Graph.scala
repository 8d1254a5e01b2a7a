package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-shape analytics over an edge list — the structural metrics a
  * similarity/co-occurrence graph pipeline needs after components:
  * triangle count, wedge count, global clustering coefficient.
  *
  * Physical shape at 100 TB — the degree-ordered orientation is the
  * whole story: a triangle join over raw undirected edges fans out
  * Σ deg(v)² wedges, which a single celebrity node turns into a
  * quadratic blow-up. Orienting every edge from its (degree, id)-smaller
  * endpoint to its larger one (Schank–Wagner / Latapy's compact-forward)
  * bounds every node's OUT-degree at O(√E) regardless of skew, so the
  * wedge join fans out at most E·√E rows total and each triangle is
  * enumerated exactly once — no /3 correction, no distinct. The count is
  * orientation-invariant, which is what lets the oracle verify with the
  * naive id-ordered SQL join at test scale.
  */
object Graph {

  /** One-row triangle census of the undirected graph given by (a, b)
    * edge rows (self-loops dropped, duplicates and orientation
    * normalized away). Output: (triangles, wedges, clustering) where
    * clustering = 3·triangles / wedges (NULL on a wedge-free graph).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // e and ed are not materialized: the degrees and every join leg read
    // e's one distinct exchange, which Spark reuses, and ed is a join
    // over reused stages
    val e = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient each edge (u → w) from the (degree, id)-smaller endpoint —
    // the predicate is staged ONCE so the u and w selections cannot
    // drift apart (a disagreement would double- or zero-count triangles)
    val ed = e
      .join(deg.select(col("v").as("a"), col("d").as("da_")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db_")), "b")
      .withColumn("fwd_", col("da_") < col("db_") ||
        (col("da_") === col("db_") && col("a") < col("b")))
      .select(
        when(col("fwd_"), struct(col("a").as("id"), col("da_").as("d")))
          .otherwise(struct(col("b").as("id"), col("db_").as("d"))).as("u"),
        when(col("fwd_"), struct(col("b").as("id"), col("db_").as("d")))
          .otherwise(struct(col("a").as("id"), col("da_").as("d"))).as("w"))
    // wedges at u: unordered out-neighbor pairs, ordered by (d, id) so the
    // closing edge's orientation is known to be x → y
    val wedges = ed.select(col("u"), col("w").as("x"))
      .join(ed.select(col("u"), col("w").as("y")), "u")
      .where(col("x.d") < col("y.d") ||
        (col("x.d") === col("y.d") && col("x.id") < col("y.id")))
    val tri = wedges
      .join(ed.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"),
        "left_semi")
      .agg(count(lit(1)).as("triangles"))
    // wedge census of the UNDIRECTED graph: Σ d·(d−1)/2 — the clustering
    // denominator (paths of length 2, closed or not)
    val wedgeCount = deg.agg(
      sum((col("d") * (col("d") - 1)) / 2).cast("long").as("wedges"))
    tri.crossJoin(wedgeCount)
      .select(col("triangles"), col("wedges"),
        when(col("wedges") > 0,
          lit(3.0) * col("triangles") / col("wedges")).as("clustering"))
  }

  /** Link prediction by neighborhood overlap: for every NON-adjacent
    * pair at distance 2, the common-neighbor count and the neighborhood
    * Jaccard cn / (deg_a + deg_b − cn) — both exact integers plus one
    * division, so scores are engine-exact with no rounding discipline
    * needed (the reason this scorer is chosen over Adamic-Adar, whose
    * per-neighbor 1/ln(deg) terms inherit libm's last-ulp freedom).
    *
    * Shape at 100 TB: candidates are wedges grouped on their endpoint
    * pair (one shuffle), existing edges removed with an anti join BEFORE
    * the degree attach; the degree joins are left to AQE (a |V|-row
    * table is NOT always broadcastable — forcing the hint contradicts
    * the operator's own scale framing). The wedge self-join fans out
    * Σ deg(z)² rows over its centers z, so a single celebrity node is a
    * quadratic blow-up — `hubMax` drops wedge CENTERS with
    * deg > hubMax before the self-join (the blockMax/basketMax
    * discipline), bounding the fan-out at hubMax·Σdeg = 2·E·hubMax
    * rows; with [[hubMaxFor]]'s √(2E) default that is the same O(E^1.5)
    * the triangle orientation guarantees.
    *
    * Recall effect of the cap (deterministic, not sampled): a candidate
    * pair is LOST only if every one of its common neighbors is a hub
    * (deg > hubMax); a surviving pair's `cn` undercounts by exactly its
    * hub-mediated wedges, so `score` is a lower bound. [[wedgeCensus]]
    * reports the dropped wedge mass so the trade is measurable before
    * running the join — at √(2E) the census typically shows <1% of
    * centers dropped (the hubs) carrying the majority of wedge mass,
    * which is precisely the mass that makes the uncapped join explode.
    */
  def linkPredict(edges: DataFrame, minCommon: Long = 1L,
      hubMax: Long = Long.MaxValue): DataFrame = {
    require(hubMax >= 1L, s"hubMax must be >= 1, got $hubMax")
    // wedge legs, anti join and degree census share e's distinct exchange
    val e = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val adj = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = adj.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    // wedge centers: every vertex when uncapped; deg-filtered otherwise.
    // The cap is applied BEFORE the self-join — the whole point is that
    // the quadratic rows are never produced, not filtered after the fact.
    val ctr =
      if (hubMax == Long.MaxValue) adj
      else adj.join(deg.where(col("d") <= hubMax).select(col("v").as("a")),
        Seq("a"), "left_semi")
    val cand = ctr.select(col("a").as("z"), col("b").as("x"))
      .join(ctr.select(col("a").as("z"), col("b").as("y")), "z")
      .where(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("cn"))
      .where(col("cn") >= minCommon)
      .join(e, Seq("a", "b"), "left_anti")
    // degrees in the Jaccard denominator are the TRUE degrees (the cap
    // prunes candidate generation, not the graph itself)
    cand
      .join(deg.select(col("v").as("a"), col("d").as("da_")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db_")), "b")
      .select(col("a"), col("b"), col("cn"),
        (col("cn").cast("double") / (col("da_") + col("db_") - col("cn")))
          .as("score"))
  }

  /** Statistics-driven hub cap from the (normalized, undirected) edge
    * count — the planesFor discipline: one cheap statistic picks the
    * parameter. cap = ⌈slack·√(2E)⌉ (floored) bounds the wedge
    * self-join at Σ min(deg,cap)·deg ≤ 2·E·cap = O(E^1.5) rows under
    * ANY degree skew, the same exponent the triangle orientation gives.
    * Computed in integer space (no libm sqrt at a boundary): the
    * smallest c with c² ≥ 2E, scaled by `slack`.
    */
  def hubMaxFor(edgeCount: Long, slack: Double = 1.0,
      floor: Long = 16L): Long = {
    require(edgeCount >= 0L && slack > 0.0 && floor >= 1L)
    var c = math.max(1L, math.sqrt(2.0 * edgeCount).toLong)
    while (c * c < 2L * edgeCount) c += 1
    while (c > 1L && (c - 1L) * (c - 1L) >= 2L * edgeCount) c -= 1
    math.max(floor, math.ceil(c * slack).toLong)
  }

  /** Degree-only audit of what a `hubMax` cap would do — one groupBy
    * over the edge list, NO wedge join, so it is safe to run on the
    * full graph before deciding the cap. One row:
    * (centers_total, centers_dropped, wedges_total, wedges_dropped,
    * dropped_frac) where wedges at a center of degree d are d·(d−1)/2
    * and dropped_frac = wedges_dropped / wedges_total. This is the
    * candidateCounts pattern (SetSimJoin): quantify the pruning as an
    * exact, oracle-checkable artifact.
    */
  def wedgeCensus(edges: DataFrame, hubMax: Long): DataFrame = {
    val e = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val hub = col("d") > hubMax
    val w = (col("d") * (col("d") - 1)) / 2
    deg.agg(
      count(lit(1)).as("centers_total"),
      sum(when(hub, 1L).otherwise(0L)).as("centers_dropped"),
      sum(w).cast("long").as("wedges_total"),
      sum(when(hub, w).otherwise(lit(0L))).cast("long").as("wedges_dropped"))
      .select(col("centers_total"), col("centers_dropped"),
        col("wedges_total"), col("wedges_dropped"),
        (col("wedges_dropped").cast("double") / col("wedges_total"))
          .as("dropped_frac"))
  }

  /** R-round k-core peel: repeatedly drop nodes of degree < k and their
    * incident edges — the density filter that strips noise/spam tendrils
    * before community or influence analysis. Each round is one
    * combiner-heavy degree count + two semi-joins; `rounds` is a FIXED
    * unrolled depth (the plan is a static R-stage chain, no driver
    * convergence loop), which equals the true k-core whenever peeling
    * converges within R rounds and is the documented R-round
    * approximation otherwise — the external-SQL-checkable form, exactly
    * the BPE-rounds trade. Output: surviving (node, deg), the degree
    * measured in the peeled graph.
    */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 8)
    // Each round references the previous edge set TWICE (degree branch +
    // filter branch): left lazy, the upstream would re-execute ~2^R times
    // (measured: 193 s at sf0.1 for R=3 over the frequent-pairs graph).
    // Materializing every round bounds the lineage — the per-iteration
    // checkpoint every iterative graph engine applies (at cluster scale,
    // reliable checkpoint/persist instead of localCheckpoint).
    var e = edges.select(col("a"), col("b")).localCheckpoint()
    // peeling only shrinks e, so the initial-e guard stays valid for
    // every round's node-bounded keep set (see attachFor)
    val att = attachFor(e)
    def degrees(g: DataFrame): DataFrame =
      g.select(col("a").as("node")).unionAll(g.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    (0 until rounds).foreach { _ =>
      val keep = degrees(e).where(col("deg") >= k).select(col("node"))
      e = e
        .join(att(keep.select(col("node").as("a"))), Seq("a"), "left_semi")
        .join(att(keep.select(col("node").as("b"))), Seq("b"), "left_semi")
        .localCheckpoint()
    }
    degrees(e).orderBy(col("node"))
  }

  /** Per-node local clustering coefficient — Watts & Strogatz 1998:
    * lcc(v) = 2·t(v) / (d(v)·(d(v)−1)), the fraction of v's neighbor
    * pairs that are themselves connected. [[triangleStats]] answers the
    * GLOBAL cohesion question; this is the per-node signal quality
    * pipelines threshold on (a high-degree, zero-lcc account is the
    * classic spam/bot shape — same diagnosis as X200's truss, node-
    * rather than edge-grained). Exact integers + ONE rounded division.
    *
    * Triangles enumerate via the id-ordered a<b<c join and explode to
    * their three corners for the per-node credit; production graphs
    * with hub skew swap in the degree-ordered orientation (X130) —
    * same counts, bounded fan-out. Nodes with d < 2 have no wedge and
    * are emitted with null lcc. Output: (node, deg, triangles, lcc).
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint() // degrees + three triangle legs read it
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = e.select(col("a"), col("b").as("x"))
      .join(e.select(col("a"), col("b").as("y")), "a")
      .where(col("x") < col("y"))
      .join(e.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"),
        "left_semi")
      .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(lit(2) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6)).as("lcc"))
      .orderBy(col("node"))
  }

  /** k-truss peel (Cohen 2008) — the EDGE-support twin of [[kCorePeel]]:
    * drop every edge in fewer than k−2 triangles and re-peel, `rounds`
    * unrolled. Where k-core keeps well-connected NODES, k-truss keeps
    * cohesively EMBEDDED edges — the community-backbone filter that
    * survives star spam (a hub with a million leaves is deg-million but
    * triangle-free, so the truss drops it entirely).
    *
    * Each round: one degree-ordered ORIENTATION of the surviving edges
    * (the [[triangleStats]] discipline) + a wedge self-join from
    * each triangle's (degree, id)-smallest corner + the closing-edge
    * semi-join, then each triangle credits its three undirected edges.
    * Orientation bounds the wedge fan-out at Σ outdeg² = O(E^1.5) on
    * ANY degree distribution — the unoriented two-hop join
    * e(a,b) ⋈ adj(a,w) costs Σ deg(a) per edge and a single celebrity
    * hub makes it quadratic. Per-round materialization keeps R rounds
    * R stages (the kCore lesson). Equals the true k-truss whenever
    * peeling converges within R. Output: surviving (a, b, support),
    * support measured in the final subgraph (edges in ≥1 triangle).
    */
  def kTrussPeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1 && rounds <= 8)
    var e = edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint()
    def support(g: DataFrame): DataFrame = {
      val deg = g.select(col("a").as("v")).unionAll(g.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      // orient each edge from its (degree, id)-smaller endpoint; the
      // predicate is staged once so the two sides cannot drift apart.
      // All keys stay PLAIN LONGS (ids joined, degrees carried as
      // payload): struct-valued join keys measured ~3× slower on the
      // dense soak graph for identical results.
      val ed = g
        .join(deg.select(col("v").as("a"), col("d").as("da_")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db_")), "b")
        .withColumn("fwd_", col("da_") < col("db_") ||
          (col("da_") === col("db_") && col("a") < col("b")))
        .select(
          when(col("fwd_"), col("a")).otherwise(col("b")).as("u"),
          when(col("fwd_"), col("b")).otherwise(col("a")).as("w"),
          when(col("fwd_"), col("db_")).otherwise(col("da_")).as("wd"))
        .localCheckpoint() // two wedge legs + the closing-edge leg
      // each triangle enumerated exactly once from its smallest corner,
      // then credited to all three of its undirected edges
      val tri = ed.select(col("u"), col("w").as("x"), col("wd").as("xd"))
        .join(ed.select(col("u"), col("w").as("y"), col("wd").as("yd")), "u")
        .where(col("xd") < col("yd") ||
          (col("xd") === col("yd") && col("x") < col("y")))
        .join(ed.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"),
          "left_semi")
        .select(col("u").as("n0"), col("x").as("n1"), col("y").as("n2"))
      tri.select(explode(array(
          struct(least(col("n0"), col("n1")).as("a"),
            greatest(col("n0"), col("n1")).as("b")),
          struct(least(col("n0"), col("n2")).as("a"),
            greatest(col("n0"), col("n2")).as("b")),
          struct(least(col("n1"), col("n2")).as("a"),
            greatest(col("n1"), col("n2")).as("b")))).as("e_"))
        .select(col("e_.a").as("a"), col("e_.b").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
    }
    (0 until rounds).foreach { _ =>
      e = support(e).where(col("support") >= k - 2)
        .select(col("a"), col("b")).localCheckpoint()
    }
    support(e).orderBy(col("a"), col("b"))
  }

  /** PageRank in INTEGER FIXED-POINT — the graph-level centrality the
    * corpus-quality pipelines rank source domains with (Common Crawl
    * publishes exactly this kind of host-level ranking), made
    * engine-exact: rank is carried in integer `scale` units, each round
    * is share = r div deg (floor division), inflow = Σ share, and
    * r' = teleport + (dampNum·inflow) div dampDen — every step integer,
    * so two engines agree bit-for-bit where float PageRank diverges in
    * the last ulp of every Σ PR(j)/deg(j). Floor division leaks ≤1 unit
    * per edge per round of mass — bounded, deterministic, and irrelevant
    * at scale = 10^12.
    *
    * Semantics: the original Brin–Page unnormalized form
    * PR(v) = (1−d)·scale + d·Σ_u→v PR(u)/deg(u) over the UNDIRECTED
    * graph (each input pair contributes both directions, so every node
    * has deg ≥ 1 — no dangling-mass branch). `rounds` is a fixed
    * unrolled depth (static plan, external-SQL-checkable), the k-core /
    * BPE rounds trade.
    *
    * Physical shape at 100 TB: each round is one equi-join of the edge
    * list against the m-row rank relation + one combiner-heavy sum,
    * shuffled on the node key; edges and per-round ranks are
    * materialized (localCheckpoint here; reliable persist on a cluster)
    * so the R-round lineage stays R stages, not 2^R. Overflow bound:
    * dampNum · N · scale must stay under 2^63 — pick
    * scale ≈ 2^62/(dampNum·N) for an N-node graph (10^12 covers N ≤ 10^5;
    * a 10^9-node web graph takes scale = 10^8, still 8 significant
    * digits of rank).
    */
  def pageRank(edges: DataFrame, rounds: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(rounds >= 1 && rounds <= 8 && dampBounds(dampNum, dampDen))
    val (e, deg) = undirect(edges)
    val teleport = (dampDen - dampNum) * scale / dampDen
    val init = deg.select(col("node"), lit(scale).as("r"))
    iterate(e, deg, init, lit(teleport), rounds, dampNum, dampDen)
      .select(col("node"), col("r").as("rank_units")).orderBy(col("node"))
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): the biased
    * PageRank whose teleport mass returns ONLY to a vetted seed set, so
    * trust decays with distance from the seeds — the standard
    * seed-whitelist → propagate shape of web-corpus source-quality
    * scoring. Same integer fixed-point carrier as [[pageRank]] (same
    * overflow bound, same engine-exactness); non-seeds start at 0 and
    * earn rank only through in-links. Output: (node, trust_units),
    * nodes unreachable from the seeds hold exactly 0.
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, rounds: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(rounds >= 1 && rounds <= 8 && dampBounds(dampNum, dampDen))
    val (e, deg) = undirect(edges)
    val teleport = (dampDen - dampNum) * scale / dampDen
    val flagged = deg
      .join(broadcast(seeds.select(col("node"), lit(true).as("is_seed"))),
        Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint()
    val init = flagged.select(col("node"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("r"))
    iterate(e, flagged, init,
      when(col("is_seed"), lit(teleport)).otherwise(lit(0L)),
      rounds, dampNum, dampDen)
      .select(col("node"), col("r").as("trust_units")).orderBy(col("node"))
  }

  /** Per-round score/label/frontier tables are bounded by the node count,
    * while the edge relation they join is the data-scale side — but both
    * sit behind localCheckpoints with no size statistics, so the planner
    * sort-merge-joins and re-shuffles the edges EVERY round. When the
    * checkpointed edge relation holds at most [[BroadcastStateMax]] edges,
    * any node-bounded table is broadcast-safe (nodes ≤ 2·edges), so the
    * per-round state is attached by broadcast instead (guide §3.1): the
    * edge relation is then never shuffled by the iteration. Identical
    * results either way — only the join strategy differs. Costs one
    * count() on checkpointed edges per operator against 2·rounds saved
    * exchanges. */
  private def attachFor(e: DataFrame): DataFrame => DataFrame =
    if (e.count() <= BroadcastStateMax) broadcast else identity

  /** The edge count up to which the graph operators broadcast their
    * node-bounded state (≤ 2 × 4M nodes of a few longs each); the DBSCAN
    * gates bound their core tables by it too. */
  private[graft] val BroadcastStateMax = 4000000L

  /** Undirected expansion + degree relation, both materialized for the
    * iteration loop (each round reads them once per branch). */
  private def undirect(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val deg = e.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    (e, deg)
  }

  /** The shared integer power-iteration loop: share = r div deg,
    * r' = teleport(node) + (dampNum·inflow) div dampDen. `deg` may carry
    * extra flag columns (TrustRank's is_seed) that `teleportExpr` reads.
    */
  private def iterate(e: DataFrame, deg: DataFrame, init: DataFrame,
      teleportExpr: Column, rounds: Int,
      dampNum: Long, dampDen: Long): DataFrame = {
    val att = attachFor(e)
    var r = init
    (0 until rounds).foreach { _ =>
      val inflow = e
        .join(att(r.withColumnRenamed("node", "a")), "a")
        .join(att(deg.select(col("node").as("a"), col("deg"))), "a")
        .select(col("b").as("node"), expr("r div deg").as("share"))
        .groupBy(col("node")).agg(sum(col("share")).as("inflow"))
      r = deg
        .join(inflow, Seq("node"), "left")
        .select(col("node"),
          (teleportExpr +
            expr(s"($dampNum * coalesce(inflow, 0L)) div $dampDen")).as("r"))
        .localCheckpoint()
    }
    r
  }

  /** Degree assortativity (Newman 2002) in exact integer moments: the
    * Pearson correlation of endpoint degrees over directed edge stubs,
    * r = (M·Sxy − Sx²) / (M·Sxx − Sx²) for the symmetric undirected
    * census (Sx = Sy, Sxx = Syy). Every moment is an integer sum — the
    * only float op is the final division — so the number is
    * engine-exact. The O(E) pre-flight that says whether a graph is
    * hub-attracts-hub (r > 0) or hub-attracts-leaf (r < 0), i.e.
    * whether X142's hub cap will bite wedges or whole communities.
    * int64 bound: M·Sxy ≤ 2E·(2E·degmax²); a 10^12-edge web graph needs
    * DECIMAL(38) sums — same knob as everywhere, the shape is unchanged.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val (e, deg) = undirect(edges)
    val att = attachFor(e)
    e.join(att(deg.select(col("node").as("a"), col("deg").as("da"))), "a")
      .join(att(deg.select(col("node").as("b"), col("deg").as("db"))), "b")
      .agg(count(lit(1)).as("m"),
        sum(col("da")).as("s_x"),
        sum(col("da") * col("da")).as("s_xx"),
        sum(col("da") * col("db")).as("s_xy"))
      .select(col("m"), col("s_x"), col("s_xx"), col("s_xy"),
        round((col("m") * col("s_xy") - col("s_x") * col("s_x"))
          .cast("double") /
          (col("m") * col("s_xx") - col("s_x") * col("s_x"))
            .cast("double"), 6).as("assortativity"))
  }

  private def dampBounds(n: Long, d: Long): Boolean = n >= 1 && n < d

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * made DETERMINISTIC: every node simultaneously adopts the majority
    * label among its neighbors, ties broken by MIN label — the two spots
    * where textbook LPA is run-order-dependent (async updates, random
    * tie-breaks) both pinned, so the result is partitioning- and
    * engine-independent and the oracle can unroll it. Labels start as own
    * node ids; `rounds` is a fixed unrolled depth (static plan — the
    * k-core / PageRank rounds trade). Complements
    * [[graft.operators.Components.connectedComponents]]: components find
    * REACHABILITY classes, LPA finds DENSITY communities inside them —
    * the dedup-cluster vs topic-cluster distinction.
    *
    * Physical shape at 100 TB: each round is one edge⋈label equi-join +
    * one combiner-heavy (node, label) vote count + one node-key window —
    * all shuffled on the node key; per-round labels are materialized so
    * R rounds cost R stages. Output: (node, community).
    */
  def labelCommunities(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8)
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val nodes = e.select(col("a").as("node")).distinct().localCheckpoint()
    val att = attachFor(e)
    var l = nodes.select(col("node"), col("node").as("label"))
    (0 until rounds).foreach { _ =>
      val votes = e
        .join(att(l.withColumnRenamed("node", "a")), "a")
        .groupBy(col("b").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("cnt").desc, col("label").asc)
      l = votes
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("node"), col("label"))
        .localCheckpoint()
    }
    l.select(col("node"), col("label").as("community")).orderBy(col("node"))
  }

  /** Multi-source BFS distances, frontier-delta form: every node's hop
    * distance to the NEAREST seed, up to `rounds` hops. Round r joins the
    * edge list against ONLY the previous round's frontier (the nodes first
    * reached at r−1) and anti-joins the known set — so per-round cost is
    * the frontier's edge neighborhood, not the whole reached set, and the
    * known relation grows monotonically (expanding from all known nodes
    * would produce the same distances; the delta form is the scale
    * optimization). This is the "how far is everything from the vetted
    * core" audit behind [[trustRank]]'s decay — distance is the quantity
    * trust decays WITH, here measured exactly.
    *
    * All-integer (hop counts), so engine-exact; `rounds` is a fixed
    * unrolled depth (static plan, external-SQL-checkable — the k-core /
    * PageRank rounds trade). Nodes not reached within `rounds` hops are
    * absent from the output (their true distance is unknown, not ∞).
    *
    * Physical shape at 100 TB: each round is one frontier⋈edges equi-join
    * + one distinct + one anti-join, all shuffled on the node key;
    * per-round frontiers are materialized so R rounds cost R stages.
    * Output: (node, dist), seeds at 0.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8)
    val e = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var known = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    val att = attachFor(e)
    var frontier = known
    (1 to rounds).foreach { r =>
      val next = e
        .join(att(frontier.withColumnRenamed("node", "a").drop("dist")), "a")
        .select(col("b").as("node")).distinct()
        .join(att(known), Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("dist"))
        .localCheckpoint()
      known = known.unionAll(next).localCheckpoint()
      frontier = next
    }
    known.orderBy(col("node"))
  }

  /** HITS (Kleinberg 1999) over a DIRECTED edge list in integer
    * fixed-point: hubs point at good authorities, authorities are pointed
    * at by good hubs — the bipartite dual of [[pageRank]]'s single score,
    * natural on buys-from / links-to relations where the two sides play
    * different roles. Each half-round is one edge⋈score equi-join + one
    * combiner-heavy sum; the power iteration's normalization (textbook
    * HITS divides by the L2 norm — float, engine-divergent) is replaced
    * by integer max-normalization: s' = (s_raw · scale) div max(s_raw),
    * so the top node holds exactly `scale` and every step stays integer —
    * two engines agree bit-for-bit. The max is a single-row aggregate
    * broadcast back (never a row-scale collect).
    *
    * Overflow bound: max_in_degree · scale² < 2^63, so the default
    * scale = 10^6 covers in-degrees to ~9·10^6; a denser graph trades a
    * digit of score for headroom (same knob as [[pageRank]]'s).
    * Output: (node, side, units) with side ∈ {authority, hub} — nodes can
    * appear on both sides if they both point and are pointed at.
    */
  def hits(edges: DataFrame, rounds: Int, scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 8)
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var hub = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("h")).localCheckpoint()
    // Each round attaches a (node, score) table to e twice; see
    // [[attachFor]] — broadcast the node-bounded scores so e is never
    // shuffled by the iteration (OPTIMIZATION_r13.md §8: 2.53 -> 2.18 s, results
    // row-identical; round-1 plan 4 SortMergeJoin -> 4 BroadcastHashJoin,
    // plans/r13/graph_hits_round_*.txt).
    val attach = attachFor(e)
    var auth: DataFrame = null
    (0 until rounds).foreach { _ =>
      val aRaw = e.join(attach(hub.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a_raw"))
      auth = aRaw
        .crossJoin(broadcast(aRaw.agg(max(col("a_raw")).as("a_max"))))
        .select(col("node"), expr(s"(a_raw * ${scale}L) div a_max").as("a"))
        .localCheckpoint()
      val hRaw = e.join(attach(auth.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h_raw"))
      hub = hRaw
        .crossJoin(broadcast(hRaw.agg(max(col("h_raw")).as("h_max"))))
        .select(col("node"), expr(s"(h_raw * ${scale}L) div h_max").as("h"))
        .localCheckpoint()
    }
    auth.select(col("node"), lit("authority").as("side"), col("a").as("units"))
      .unionAll(hub.select(col("node"), lit("hub").as("side"),
        col("h").as("units")))
      .orderBy(col("side"), col("node"))
  }
}
