package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; full scan +
  * TakeOrderedAndProject — fine to ~10⁸ rows/query batch). Scale paths:
  *  - IVF: k-means-style coarse quantizer → probe nearest cells only.
  *    Centroids here are derived deterministically (seeded sample) so
  *    results are reproducible; at 100 TB the centroid table is broadcast
  *    and the store is laid out partitioned by cell → partition pruning.
  *  - RHP-LSH buckets (see [[graft.search.Search.lshSearch]]).
  */
object Similarity {

  /** Exact top-k neighbors of one query vector; also the exact rerank of
    * [[pqAdcRerank]] and [[hammingRerank]] over their shortlisted rows. */
  def bruteForceTopK(vecs: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame =
    vecs
      .withColumn("score", round(
        VectorFunctions.cosine(col(vecCol), typedLit(query), query.length), 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))

  /** Exact top-k neighbors for EVERY query row (batch KNN join).
    * Broadcast the (small) query side, rank per query with a window.
    * At scale: broadcast-NL join + per-partition partial top-k via the
    * window — the heavy side streams once.
    */
  def knnJoin(base: DataFrame, queries: DataFrame, vecCol: String,
      baseId: String, queryId: String, k: Int, dims: Int = 0): DataFrame = {
    val b = base.select(col(baseId).as("base_id"), col(vecCol).as("base_vec"))
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("query_vec"))
    val scored = b.crossJoin(broadcast(q))
      .where(col("base_id") =!= col("query_id")) // self excluded BEFORE ranking
      .withColumn("score", round(
        if (dims > 0) VectorFunctions.cosine(col("base_vec"), col("query_vec"), dims)
        else VectorFunctions.cosine(col("base_vec"), col("query_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("base_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("base_id"), col("score"), col("rank"))
  }

  /** IVF cell assignment: nearest of `centroids` (broadcast literal table)
    * by cosine. Returns the input plus a `cell` column; write-time
    * partitioning by `cell` turns probe queries into partition-pruned
    * scans.
    */
  def ivfAssign(vecs: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dims = centroids.head._2.length
    // broadcast the tiny centroid table and argmax per row — one codegen'd
    // cosine per (row, centroid) instead of a single giant expression tree
    // (which exceeds codegen limits and falls back to interpretation);
    // max(struct(sim, cell)) keeps the (sim, then cell) tie-break
    val cdf = broadcast(centroids.toDF("cell", "cvec"))
    val best = vecs.select(col(idCol), col(vecCol))
      .crossJoin(cdf)
      .withColumn("sim", VectorFunctions.cosine(col(vecCol), col("cvec"), dims))
      .groupBy(col(idCol))
      .agg(max(struct(col("sim"), col("cell"))).getField("cell").as("cell"))
    vecs.join(best, idCol)
  }

  /** Centroid-ANN cell assignment — [[ivfAssign]]'s scale path (the
    * balanced-cells corner SCALE_NOTES r10 named): exact assign probes
    * every vector against ALL k centroids, n·k cosines — quadratic when
    * k itself grows with the corpus (k = n/target in balanced-kmeans
    * SemDeDup). Here the CENTROIDS are RHP-bucketed (buckets computed
    * driver-side — the table is broadcast-sized by construction) and
    * each vector probes only the centroids sharing one of its per-seed
    * buckets: expected probes/vector ≈ |seeds| · k/2^planes, constant
    * when `planes` is [[graft.operators.Dedup.planesFor]]-sized from k.
    * Multi-seed tables recover part of the recall a single hash table
    * loses (the [[graft.operators.Dedup.embeddingNearDupPairsMultiTable]]
    * pattern applied to the quantizer itself); `probeHamming = 1` adds
    * MULTI-PROBE (Lv et al. 2007, VLDB): each vector also probes every
    * bucket one flipped plane away — the nearest centroid's most likely
    * miss mode is a single near-boundary hyperplane, so Hamming-1
    * probing multiplies per-table recall several-fold for a
    * (planes+1)× probe cost that stays sublinear in k while planes ~
    * log₂ k. Vectors whose probed buckets hold no centroid in ANY
    * table fall back to a deterministic id-hash spread over ALL cells —
    * NOT a single collector cell, which would re-grow the quadratic
    * this operator exists to kill (a 10% miss rate pooled into one
    * cell is a (0.1·n)² pair stage; spread, the same misses add ≤
    * miss-rate·occupancy rows per cell). The miss is bounded and the
    * recall probe measures it rather than hides it. Same (sim, cell)
    * argmax tie-break as [[ivfAssign]], so agreement with exact assign
    * is a clean equality census.
    */
  def ivfAssignAnn(vecs: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[(Int, Seq[Double])], planes: Int,
      seeds: Seq[Int], probeHamming: Int = 1): DataFrame = {
    require(planes >= 1 && planes <= 62 && seeds.nonEmpty &&
      seeds.distinct == seeds && probeHamming >= 0 && probeHamming <= 1)
    val spark = vecs.sparkSession
    import spark.implicits._
    val dims = centroids.head._2.length
    // bucketed driver-side with the hyperplanes the engine-side rhpBucket
    // hashes with, so a centroid lands in exactly the bucket a vector
    // with its coordinates would
    val centRows = for {
      sd <- seeds
      signs = VectorFunctions.hyperplaneSigns(planes, dims, sd)
      (cell, cv) <- centroids
    } yield (sd, VectorFunctions.rhpBucketOf(cv, signs), cell, cv)
    val cdf = broadcast(centRows.toDF("seed", "bucket", "cell", "cvec"))
    // per-seed base bucket, then the multi-probe expansion: the base
    // bucket plus (at radius 1) every single-plane flip of it
    def probesOf(bucket: Column): Seq[Column] =
      if (probeHamming == 0) Seq(bucket)
      else bucket +: (0 until planes).map(p =>
        bucket.bitwiseXOR(lit(1L << p)))
    val best = vecs.select(col(idCol), col(vecCol))
      .withColumn("sb", explode(array(seeds.flatMap { sd =>
        val base = VectorFunctions.rhpBucket(col(vecCol), planes, sd, dims)
        probesOf(base).map(b =>
          struct(lit(sd).as("seed"), b.as("bucket")))
      }: _*)))
      .select(col(idCol), col(vecCol),
        col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
      .join(cdf, Seq("seed", "bucket"))
      .withColumn("sim", VectorFunctions.cosine(col(vecCol), col("cvec"), dims))
      .groupBy(col(idCol))
      .agg(max(struct(col("sim"), col("cell"))).getField("cell").as("cell"))
    // typedLit: ONE constant array in the plan — array(lit, lit, …)
    // would rebuild a k-element array per row and blow codegen at
    // thousand-cell scale
    val cellIds = centroids.map(_._1)
    val spread = element_at(typedLit(cellIds),
      (pmod(xxhash64(col(idCol)), lit(cellIds.size)) + 1).cast("int"))
    vecs.join(best, Seq(idCol), "left")
      .withColumn("cell", coalesce(col("cell"), spread))
  }

  /** Deterministic centroid pick: the `numCells` vectors with the smallest
    * ids (a seeded-sample stand-in that keeps runs reproducible; refine
    * with [[kmeansRefine]] for trained cells — the probe-side plan is
    * identical either way).
    */
  def pickCentroids(vecs: DataFrame, vecCol: String, idCol: String,
      numCells: Int): Seq[(Int, Seq[Double])] =
    vecs.orderBy(col(idCol)).limit(numCells)
      .select(col(vecCol)).collect()
      .zipWithIndex
      .map { case (row, i) => (i, row.getSeq[Float](0).map(_.toDouble)) }

  /** Lloyd refinement rounds for the IVF coarse quantizer, reproducible
    * across engines: assign every vector to its nearest centroid by
    * cosine, then replace each centroid with its cell's per-dimension
    * SUM vector — the same direction as the mean (cosine is
    * scale-invariant), but with no division step. Sums accumulate in
    * DECIMAL(28,8) (exact, order-independent — the float-summation-order
    * trap is what makes naive distributed k-means non-reproducible) and
    * round to 6 dp. Each round is one broadcast-assign + one explode/agg
    * shuffle; only numCells×dims values ever reach the driver. Cells that
    * lose all members drop out (k shrinks), as in standard Lloyd.
    */
  def kmeansRefine(vecs: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[(Int, Seq[Double])], iters: Int = 1): Seq[(Int, Seq[Double])] = {
    var c = centroids
    for (_ <- 1 to iters) {
      c = lloydMeans(ivfAssign(vecs, vecCol, idCol, c), vecCol)
    }
    c
  }

  /** [[kmeansRefine]] with the assignment step routed through the
    * bucketed centroid lookup ([[ivfAssignAnn]]) — removes the LAST
    * exact n·k stage of the balanced-cells SemDeDup pipeline (the
    * training pass; the assign pass was cured in the same round). With
    * planes=1 and Hamming-1 multi-probe every bucket is probed, so the
    * result degenerates to [[kmeansRefine]] exactly — the spec's
    * equivalence anchor; at planesFor-sized planes the means drift only
    * where a vector's argmax centroid was missed, a bounded effect the
    * train A/B probe measures per decade. Same decimal-summed,
    * bit-reproducible mean computation.
    */
  def kmeansRefineAnn(vecs: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[(Int, Seq[Double])], planes: Int,
      seeds: Seq[Int], iters: Int = 1): Seq[(Int, Seq[Double])] = {
    var c = centroids
    for (_ <- 1 to iters) {
      c = lloydMeans(ivfAssignAnn(vecs, vecCol, idCol, c, planes, seeds),
        vecCol)
    }
    c
  }

  /** [[lloydStep]] over an assigned (cell, vector) relation, as the
    * (cell, sum vector) list [[kmeansRefine]] and [[kmeansRefineAnn]]
    * iterate on. */
  private def lloydMeans(assigned: DataFrame,
      vecCol: String): Seq[(Int, Seq[Double])] =
    lloydStep(assigned, Seq("cell"), vecCol, divideByCount = false)
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** One Lloyd centroid step over an assigned relation: per-(key, dim)
    * decimal sums of `vecCol` (bit-reproducible across partitionings),
    * divided by the member count when `divideByCount`, rounded to 6 dp
    * and reassembled into one vector per key. Rows are the `keys` then
    * the vector. Driver collect is bounded by the centroid count —
    * centroids × dims doubles. Used by [[kmeansRefine]] and
    * [[kmeansRefineAnn]] (key `cell`, sums), [[pqTrain]] (keys
    * `sub, code`, sums) and [[pqTrainUnitMeans]] (keys `sub, code`,
    * means). */
  private def lloydStep(assigned: DataFrame, keys: Seq[String], vecCol: String,
      divideByCount: Boolean): Array[Row] = {
    val keyCols = keys.map(col)
    val total = sum(col("x").cast("decimal(28,8)")).cast("double")
    assigned
      .select(keyCols :+ posexplode(col(vecCol)).as(Seq("pos", "x")): _*)
      .groupBy(keyCols :+ col("pos"): _*)
      .agg(round(if (divideByCount) total / count(lit(1)) else total, 6).as("m"))
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(keyCols :+ transform(col("pm"), p => p.getField("m")).as("cvec"): _*)
      .collect()
  }

  /** Product-quantization codebooks for cosine/MIPS ANN: split the vector
    * into `m` contiguous subspaces and train an independent
    * `codebookSize`-centroid quantizer per subspace — the same
    * deterministic decimal-summed Lloyd as the IVF coarse quantizer
    * ([[kmeansRefine]]), run on sliced sub-vectors. Returns
    * (sub, code, centroid) rows; m × codebookSize × (dims/m) doubles total
    * (the codebook is always broadcast-sized — that is the point of PQ:
    * n × dims floats compress to n × m codes + this table).
    */
  def pqTrain(vecs: DataFrame, vecCol: String, idCol: String,
      m: Int, codebookSize: Int, dims: Int,
      iters: Int = 1): Seq[(Int, Int, Seq[Double])] = {
    require(m >= 1 && dims % m == 0, s"dims $dims must divide into m=$m subspaces")
    pqLloyd(vecs.select(col(idCol).as("_id"), col(vecCol).as("_v")),
      pickCentroids(vecs, vecCol, idCol, codebookSize), m, dims / m, iters,
      divideByCount = false)
  }

  /** Refined-PQ codebooks: like [[pqTrain]] but over the L2-NORMALIZED
    * vectors with true MEAN centroid updates (decimal-exact sum ÷ count,
    * rounded) instead of the division-free sums.
    *
    * Why both exist: [[pqTrain]]'s sum-centroids are only valid where every
    * downstream consumer is scale-invariant per centroid (the per-slice
    * cosine ADC). [[pqAdcRerank]]'s dot/norm reconstruction score needs
    * centroid NORMS to mean something — a sum-centroid's norm is inflated
    * by its cluster population — and quantizing the unit-normalized vectors
    * removes the norm variance that per-slice quantizers would otherwise
    * waste codes on (cosine serving never needs it back). Assignment stays
    * cosine + highest-code tie-break, which is scale-invariant, so
    * [[pqEncode]] against this codebook can take the RAW vectors unchanged.
    */
  def pqTrainUnitMeans(vecs: DataFrame, vecCol: String, idCol: String,
      m: Int, codebookSize: Int, dims: Int,
      iters: Int = 1): Seq[(Int, Int, Seq[Double])] = {
    require(m >= 1 && dims % m == 0, s"dims $dims must divide into m=$m subspaces")
    // norm materialized as a real column FIRST: a captured outer expression
    // inside transform() re-evaluates once per element (HOF pitfall)
    val vn = vecs
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        VectorFunctions.l2Norm(col(vecCol), dims).as("_n"))
      .select(col("_id"), transform(col("_v"), x => x / col("_n")).as("_v"))
    val init = pickCentroids(vecs, vecCol, idCol, codebookSize).map {
      case (code, raw) =>
        val nrm = math.sqrt(raw.iterator.map(x => x * x).sum)
        (code, raw.map(_ / nrm))
    }
    pqLloyd(vn, init, m, dims / m, iters, divideByCount = true)
  }

  /** The PQ training loop of [[pqTrain]] and [[pqTrainUnitMeans]] over
    * (_id, _v) rows: `_v` and the `init` vectors (one per code) are cut
    * into `m` contiguous slices of `subLen`, and each Lloyd round assigns
    * every slice to its nearest same-subspace centroid by cosine (highest
    * code on ties) and takes [[lloydStep]] per (sub, code).
    *
    * Long form (one row per vector × subspace) trains EVERY subspace in
    * the same jobs: per round one broadcast-assign + one sum aggregation
    * over ONE scan — not 2×m jobs of a per-subspace loop.
    */
  private def pqLloyd(vs: DataFrame, init: Seq[(Int, Seq[Double])], m: Int,
      subLen: Int, iters: Int, divideByCount: Boolean): Seq[(Int, Int, Seq[Double])] = {
    val spark = vs.sparkSession
    import spark.implicits._
    val subStructs = array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("_v"), s * subLen + 1, subLen).as("sv"))): _*)
    val subs = vs.select(col("_id"), explode(subStructs).as("e"))
      .select(col("_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    var codebook: Seq[(Int, Int, Seq[Double])] = init.flatMap { case (code, full) =>
      (0 until m).map(s => (s, code, full.slice(s * subLen, (s + 1) * subLen)))
    }
    for (_ <- 1 to iters) {
      val cdf = broadcast(codebook.toDF("sub", "code", "cvec"))
      val assigned = subs.join(cdf, "sub")
        .withColumn("sim", VectorFunctions.cosine(col("sv"), col("cvec"), subLen))
        .groupBy(col("_id"), col("sub"))
        .agg(max(struct(col("sim"), col("code"))).getField("code").as("code"),
          first(col("sv")).as("sv"))
      codebook = lloydStep(assigned, Seq("sub", "code"), "sv", divideByCount)
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    codebook
  }

  /** PQ encode: per subspace, the code of the nearest (by cosine) codebook
    * centroid. One pass — broadcast codebook cross join, per-(row, sub)
    * argmax, pivot to `code0..code{m-1}` columns. At 100 TB the encoded
    * table (id + m small ints) REPLACES the raw vectors for first-pass
    * search; same tie-break as [[ivfAssign]] (sim, then highest code).
    */
  def pqEncode(vecs: DataFrame, vecCol: String, idCol: String,
      codebook: Seq[(Int, Int, Seq[Double])], m: Int, dims: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val subLen = dims / m
    val cdf = broadcast(codebook.toDF("sub", "code", "cvec"))
    vecs.select(col(idCol), col(vecCol))
      .crossJoin(cdf)
      .withColumn("sim", VectorFunctions.cosine(
        slice(col(vecCol), col("sub") * subLen + 1, lit(subLen)), col("cvec"), subLen))
      .groupBy(col(idCol), col("sub"))
      .agg(max(struct(col("sim"), col("code"))).getField("code").as("code"))
      .groupBy(col(idCol))
      .pivot("sub", 0 until m)
      .agg(first(col("code")))
      .toDF(idCol +: (0 until m).map(i => s"code$i"): _*)
  }

  /** Asymmetric-distance (ADC) scan over PQ codes: the query stays exact,
    * every base vector is represented by its m codes, and the approximate
    * similarity is the mean per-subspace cosine between the query slice
    * and the coded centroid. Physical shape: m broadcast joins against the
    * tiny per-subspace tables (the classic precomputed ADC lookup,
    * expressed as joins so the scan stays codegen'd), then
    * TakeOrderedAndProject top-k — the raw vectors are never read.
    */
  def pqAdcSearch(encoded: DataFrame, idCol: String,
      codebook: Seq[(Int, Int, Seq[Double])], query: Seq[Float],
      k: Int, m: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    require(query.length % m == 0)
    val subLen = query.length / m
    var df = encoded
    val sims = (0 until m).map { s =>
      val qSlice = query.slice(s * subLen, (s + 1) * subLen)
      val tab = broadcast(
        codebook.collect { case (`s`, code, cv) => (code, cv) }
          .toDF(s"tcode$s", s"tcvec$s"))
      df = df.join(tab, col(s"code$s") === col(s"tcode$s"))
      VectorFunctions.cosine(col(s"tcvec$s"), typedLit(qSlice), subLen)
    }
    df
      .withColumn("score", round(sims.reduce(_ + _) / m, 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** ADC shortlist + exact rerank — the production IVF-PQ serving shape.
    *
    * First pass reads ONLY the m-byte codes: per subspace a broadcast join
    * attaches the precomputed (query·centroid, |centroid|²) pair for the
    * row's code, and the reconstruction score
    * Σdot / (|q|·√Σ|c|²) ranks a `shortlist`-sized candidate set
    * (TakeOrderedAndProject — no full sort). Second pass fetches the RAW
    * vectors for just those `shortlist` ids (broadcast semi-join) and
    * re-scores exactly. At 100 TB the full corpus is scanned at m bytes
    * per vector and only `shortlist` raw vectors are ever read — recall is
    * then the shortlist's hit rate, not the quantizer's top-k fidelity
    * (measured at sf0.01: ADC-only 0.5 vs rerank 0.9 @ m=8, 64 codes).
    *
    * The dot/norm score REQUIRES a [[pqTrainUnitMeans]] codebook: with
    * [[pqTrain]]'s sum-centroids the Σ|c|² term is inflated by cluster
    * population and the ranking collapses.
    */
  def pqAdcRerank(encoded: DataFrame, vecs: DataFrame, vecCol: String,
      idCol: String, codebook: Seq[(Int, Int, Seq[Double])],
      query: Seq[Float], k: Int, m: Int, shortlist: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    require(query.length % m == 0)
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val subLen = query.length / m
    val qNorm = math.sqrt(query.iterator.map(x => x.toDouble * x).sum)
    var df = encoded
    // per-subspace scalar pairs, driver-computed once from the broadcast-
    // sized codebook: the scan never touches vector arithmetic
    val parts = (0 until m).map { s =>
      val qSlice = query.slice(s * subLen, (s + 1) * subLen).map(_.toDouble)
      val tab = broadcast(
        codebook.collect { case (`s`, code, cv) =>
          val qd = qSlice.iterator.zip(cv.iterator).map { case (a, b) => a * b }.sum
          val nsq = cv.iterator.map(x => x * x).sum
          (code, qd, nsq)
        }.toDF(s"tcode$s", s"qd$s", s"nsq$s"))
      df = df.join(tab, col(s"code$s") === col(s"tcode$s"))
      (col(s"qd$s"), col(s"nsq$s"))
    }
    // left-assoc + chains mirror the oracle's t0+t1+...+t{m-1}
    val dotSum = parts.map(_._1).reduce(_ + _)
    val nsqSum = parts.map(_._2).reduce(_ + _)
    val short = df
      .withColumn("adc", round(dotSum / (lit(qNorm) * sqrt(nsqSum)), 6))
      .orderBy(col("adc").desc, col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    bruteForceTopK(vecs.join(broadcast(short), idCol), vecCol, idCol, query, k)
  }

  /** Chunk-pooled document embedding — the long-document pipeline shape:
    * split each document into fixed-token chunks, embed every chunk with
    * the surrogate hash embedder ([[graft.functions.Embedder]]'s
    * component formula verbatim), mean-pool, L2-normalize. The algebra
    * makes the whole chain integer-exact: each raw component is the
    * integer `hash64(chunk#d) % 2001 − 1000`, and for the NORMALIZED
    * mean the 1000·n scale cancels —
    * `v_d = Σs_d / √(Σ_d (Σs_d)²)` — so the only non-integer steps are
    * one correctly-rounded sqrt and one division per dimension, and the
    * store is float (the X168 portability recipe). A one-chunk document
    * pools to exactly its own chunk embedding.
    *
    * Shape: in-row chunking (no shuffle) → chunk×dims explode → ONE
    * combiner-heavy (doc, dim) integer sum → per-doc assembly. Documents
    * with no tokens (or an all-zero sum vector) are dropped — they have
    * no direction to embed.
    */
  def chunkPooledEmbed(docs: DataFrame, textCol: String, idCol: String,
      dims: Int, chunkTokens: Int): DataFrame = {
    require(dims >= 2 && chunkTokens >= 1)
    val toks = coalesce(graft.functions.TextFunctions.tokens(col(textCol)),
      array().cast("array<string>"))
    val chunks = docs
      .select(col(idCol), toks.as("toks_"))
      .where(size(col("toks_")) > 0)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, cast(ceil(size(toks_) / $chunkTokens.0d) as int) - 1), " +
          s"i -> array_join(slice(toks_, i * $chunkTokens + 1, $chunkTokens), ' '))"))
        .as("chunk"))
    val sums = chunks
      .select(col(idCol), col("chunk"),
        explode(sequence(lit(0), lit(dims - 1))).as("d"))
      .select(col(idCol), col("d"),
        (graft.functions.HashFunctions.hash64(
          concat_ws("#", col("chunk"), col("d").cast("string"))) % 2001 - 1000)
          .as("r"))
      .groupBy(col(idCol), col("d"))
      .agg(sum(col("r")).as("s"))
    sums
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("s")))),
        x => x.getField("s")).as("sv"))
      .withColumn("ss", aggregate(col("sv"), lit(0L), (acc, x) => acc + x * x))
      .where(col("ss") > 0)
      .withColumn("vec", transform(col("sv"),
        x => (x.cast("double") / sqrt(col("ss").cast("double"))).cast("float")))
      .select(col(idCol), col("vec"))
  }

  /** Johnson-Lindenstrauss sign projection: dims → outDims with a
    * deterministic ±1 matrix derived from the portable hash family
    * (`hash64("jl:<j>:<i>")` even → +1) — the dimensionality-reduction
    * step before a cheaper ANN tier, with every engine able to rebuild
    * the exact same matrix from the seed string alone. No 1/√d scaling:
    * cosine is scale-invariant, and the audit below compares cosines.
    *
    * Shape: posexplode → broadcast-join the (dims × outDims) sign table →
    * ONE combiner-heavy (id, out-dim) INTEGER sum → per-id sorted
    * re-assembly. Elements are quantized to exact units of 2⁻²⁰ with
    * floor BEFORE the sum: power-of-two scaling is exact in IEEE and
    * floor is identical on every engine, where a float→DECIMAL cast is
    * NOT (measured: Spark rounds the widened binary value, DuckDB the
    * shortest decimal repr — ~1e-8 apart per element, enough to flip a
    * rounded cosine). The quantization (≤2⁻²⁰ per element) is part of
    * the operator's definition, not an implementation detail.
    *
    * Output: (idCol, proj array<float>) — float like every other
    * embedding column, which also keeps downstream cosines bit-portable
    * (float elements multiply exactly in double, so no engine's dot
    * kernel rounding order can show through).
    */
  def jlProject(vecs: DataFrame, vecCol: String, idCol: String,
      outDims: Int, seed: String = "jl"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(outDims >= 1)
    val dims = vecs.select(size(col(vecCol))).head().getInt(0)
    val signs = for (j <- 0 until outDims; i <- 0 until dims) yield
      (i, j, if (graft.functions.HashFunctions.hash64Jvm(s"$seed:$j:$i") % 2 == 0) 1 else -1)
    val sdf = broadcast(signs.toDF("pos", "jdim", "sgn"))
    vecs
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .join(sdf, "pos")
      .groupBy(col(idCol), col("jdim"))
      .agg(sum(
        floor(col("x").cast("double") * 1048576).cast("long") * col("sgn"))
        .as("p"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("jdim"), col("p")))),
        s => (s.getField("p").cast("double") / 1048576.0).cast("float"))
        .as("proj"))
  }

  /** Distortion audit for [[jlProject]]: exact cosine vs projected cosine
    * on deterministic probe pairs — the measure-before-trusting gate
    * (X137-X139 discipline) run before swapping a serving tier onto the
    * projected space. Probe pairs are (2m, 2m+1) id pairs; output one row
    * per pair with both cosines and the absolute error.
    */
  def jlDistortion(vecs: DataFrame, vecCol: String, idCol: String,
      outDims: Int, dims: Int): DataFrame = {
    val proj = jlProject(vecs, vecCol, idCol, outDims)
    val base = vecs.select(col(idCol), col(vecCol))
      .join(proj, idCol)
    val l = base.select((col(idCol) / 2).cast("long").as("pair"),
      col(idCol).as("a"), col(vecCol).as("va"), col("proj").as("pa"))
      .where(col("a") % 2 === 0)
    val r = base.select((col(idCol) / 2).cast("long").as("pair"),
      col(idCol).as("b"), col(vecCol).as("vb"), col("proj").as("pb"))
      .where(col("b") % 2 === 1)
    l.join(r, "pair")
      .withColumn("cos_full",
        round(VectorFunctions.cosine(col("va"), col("vb"), dims), 6))
      .withColumn("cos_proj",
        round(VectorFunctions.cosine(col("pa"), col("pb"), outDims), 6))
      .withColumn("err", round(abs(col("cos_full") - col("cos_proj")), 6))
      .select(col("a"), col("b"), col("cos_full"), col("cos_proj"), col("err"))
  }

  /** ColBERT-style late-interaction scoring (MaxSim, Khattab & Zaharia
    * 2020, arXiv:2004.12832): a multi-vector query scores a multi-vector
    * document as `Σ_q max_d cos(q, d)` — each query vector independently
    * finds its best match inside the document's vector set. Here
    * "documents" are the `groupCol` partitions of the corpus.
    *
    * Shape: the query set is broadcast (queries × corpus rows, narrow),
    * ONE combiner-heavy (group, query) MAX — the max distributes over
    * partitions, so map-side partials do the work — then a per-group
    * DECIMAL sum of the ≤|Q| rounded maxima (exact, order-independent;
    * a double sum would expose aggregation order). At 100 TB this is a
    * scan + two shrinking aggs; nothing quadratic, nothing collected.
    */
  def maxSimScore(vecs: DataFrame, vecCol: String, groupCol: String,
      queries: Seq[(Long, Seq[Float])], dims: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(queries.nonEmpty)
    val qdf = broadcast(queries.toDF("q_id", "q_vec"))
    vecs.select(col(groupCol).as("grp"), col(vecCol))
      .crossJoin(qdf)
      .withColumn("sim", round(
        VectorFunctions.cosine(col(vecCol), col("q_vec"), dims), 6))
      .groupBy(col("grp"), col("q_id"))
      .agg(max(col("sim")).as("best"))
      .groupBy(col("grp"))
      .agg(round(sum(col("best").cast("decimal(18,6)")).cast("double"), 6)
        .as("maxsim"))
      .select(col("grp").as(groupCol), col("maxsim"))
  }

  /** Per-label embedding centroids (long form: label, pos, c) — the class
    * prototypes used for centroid-based filtering and labeling (score a
    * candidate against the "good" class centroid, FineWeb-edu style) and
    * for seeding [[ivfAssign]] with supervised cells.
    *
    * Means are decimal-summed per (label, dimension) — exact and
    * order-independent, the same reproducibility trick as
    * [[kmeansRefine]] — then divided once in double and rounded. One
    * posexplode + one combiner-heavy aggregation; output is
    * labels × dims rows (broadcast-sized by construction).
    */
  def labelCentroids(vecs: DataFrame, vecCol: String, labelCol: String): DataFrame =
    vecs
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(
        sum(col("x").cast("decimal(28,8)")).cast("double") / count(lit(1)), 6)
        .as("c"))

  /** Collect a long-form centroid table ([[labelCentroids]] output:
    * label, pos, c) into the broadcast-literal shape [[ivfAssign]] /
    * [[ivfSearch]] take. Bounded by labels × dims — centroid tables are
    * broadcast-sized by construction. */
  def centroidsFromLong(df: DataFrame): Seq[(Int, Seq[Double])] =
    df.collect()
      .groupBy(r => r.get(0).asInstanceOf[Number].intValue)
      .toSeq
      .map { case (label, rows) =>
        (label, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      .sortBy(_._1)

  /** Per-dimension (min, max) calibration for scalar quantization: one
    * posexplode + min/max aggregation — combiner-heavy (each partition
    * pre-reduces to `dims` rows map-side), so the shuffle moves
    * dims × partitions rows no matter the corpus size. Only `dims`
    * doubles reach the driver.
    */
  def sqCalibrate(vecs: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val rows = vecs
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("pos"))
      .collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Scalar quantization (SQ8) encode: each dimension compressed to an
    * 8-bit code by a per-dimension affine map
    * `code = round((x - min) / (max - min) * 255)` — 4× smaller than
    * float32 (codes pack to one byte/dim on disk; kept as ints here so the
    * oracle can see them). Calibration bounds come from [[sqCalibrate]]
    * and ship as broadcast literals: encoding is a pure per-row Column
    * tree — shuffle-free, codegen'd, pushdown-friendly. Constant
    * dimensions (max == min) encode to 0 and decode back to min exactly.
    *
    * Like PQ ([[pqEncode]]) the encoded table REPLACES raw vectors for
    * first-pass search; unlike PQ there is no codebook training and
    * per-dimension resolution is fixed at 256 levels — the standard
    * cheap-and-cheerful compression tier (Faiss SQ8, Lucene/Elasticsearch
    * int8_hnsw, Qdrant scalar quantization).
    */
  def sqEncode(vecs: DataFrame, vecCol: String, idCol: String,
      mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    val ranges = mins.zip(maxs).map { case (mn, mx) => mx - mn }
    vecs.select(col(idCol),
      zip_with(
        zip_with(col(vecCol), typedLit(mins), (x, mn) => x.cast("double") - mn),
        typedLit(ranges),
        (d, r) => when(r === 0.0, lit(0))
          .otherwise(round(d / r * 255).cast("int"))).as("codes"))
  }

  /** Inverse of [[sqEncode]]: `x ≈ min + code · (max - min) / 255`.
    * Scales/mins are literals; the reconstruction is exact IEEE double
    * arithmetic, so the same codes dequantize bit-identically on every
    * engine (the oracle replays this formula in SQL).
    */
  def sqDequantize(codes: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val scales = mins.zip(maxs).map { case (mn, mx) => (mx - mn) / 255.0 }
    zip_with(
      zip_with(codes, typedLit(scales), (c, s) => c.cast("double") * s),
      typedLit(mins), (t, mn) => t + mn)
  }

  /** Asymmetric SQ8 search: the query stays exact (full precision), every
    * base vector is reconstructed from its int8 codes on the fly, cosine
    * top-k as usual — one codegen'd scan over the codes table (¼ the bytes
    * of the raw vectors; with the store column-pruned to (id, codes) this
    * is the whole I/O win) + TakeOrderedAndProject. No shuffle.
    */
  def sqSearch(encoded: DataFrame, idCol: String,
      mins: Seq[Double], maxs: Seq[Double], query: Seq[Float], k: Int): DataFrame =
    encoded
      .withColumn("score", round(
        VectorFunctions.cosine(
          sqDequantize(col("codes"), mins, maxs),
          typedLit(query.map(_.toDouble)), mins.length), 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))

  /** Binary (sign) quantization encode: dimension i contributes bit i of
    * a single 60-bit code (`bit = 1 iff x_i > 0`) — the 1-bit-per-dim
    * compression tier (Faiss binary indexes, Qdrant binary quantization):
    * 32× smaller than float32, distance = ONE xor + popcount per
    * candidate. Encoding is a per-row fold (Horner: acc·2 + bit from the
    * top bit down, so bit i carries weight 2^i) — shuffle-free, and the
    * code stays < 2^60 so every engine's signed 64-bit integer holds it
    * without overflow semantics entering the picture. `bits` ≤ 62 caps it
    * (dims beyond `bits` are simply not coded — acceptable for a
    * candidate tier that ALWAYS exact-reranks).
    */
  def binaryEncode(vecs: DataFrame, vecCol: String, idCol: String,
      bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 62)
    vecs.select(col(idCol),
      aggregate(sequence(lit(bits - 1), lit(0), lit(-1)), lit(0L),
        (acc, i) => acc * 2 +
          when(element_at(col(vecCol), i + 1).cast("double") > 0.0, 1L)
            .otherwise(0L))
        .as("bcode"))
  }

  /** JVM twin of [[binaryEncode]] for the query vector — same Horner
    * order, same sign test, so the driver-side query code and the
    * scan-side base codes live in one code space. */
  def binaryEncodeJvm(v: Seq[Float], bits: Int = 60): Long = {
    require(bits >= 1 && bits <= 62 && v.length >= bits)
    var acc = 0L
    var i = bits - 1
    while (i >= 0) {
      acc = acc * 2 + (if (v(i) > 0f) 1L else 0L)
      i -= 1
    }
    acc
  }

  /** Hamming shortlist + exact rerank: scan the 8-byte codes computing
    * `popcount(code XOR query_code)` (one codegen'd instruction pair per
    * candidate — the cheapest first-pass score of any tier), keep the
    * `shortlist` closest ids (TakeOrderedAndProject), then fetch just
    * those raw vectors via a broadcast semi-join and rank them by exact
    * cosine. Same two-pass shape as [[pqAdcRerank]]: at 100 TB the corpus
    * is scanned at 8 bytes/vector and only `shortlist` raw vectors are
    * ever read.
    */
  def hammingRerank(encoded: DataFrame, vecs: DataFrame, vecCol: String,
      idCol: String, qCode: Long, query: Seq[Float], k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = encoded
      .withColumn("ham", bit_count(col("bcode").bitwiseXOR(lit(qCode))))
      .orderBy(col("ham").asc, col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    bruteForceTopK(vecs.join(broadcast(short), idCol), vecCol, idCol, query, k)
  }

  /** IVF probe: assign the query to its `nprobe` nearest cells, scan only
    * those cells, exact cosine inside.
    */
  def ivfSearch(assigned: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[(Int, Seq[Double])], query: Seq[Float], k: Int,
      nprobe: Int): DataFrame = {
    val probeCells = centroids
      .map { case (cid, cvec) =>
        val dot = cvec.zip(query).map { case (x, y) => x * y.toDouble }.sum
        val n1 = math.sqrt(cvec.map(x => x * x).sum)
        val n2 = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
        (cid, dot / (n1 * n2))
      }
      .sortBy(-_._2).take(nprobe).map(_._1)
    assigned
      .where(col("cell").isin(probeCells: _*))
      .withColumn("score", round(
        VectorFunctions.cosine(col(vecCol), typedLit(query), query.length), 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cell"), col("score"))
  }

  /** One round of k-NN label propagation: each unlabeled vector takes
    * the majority label of its k nearest LABELED neighbors (ties to the
    * smaller label) — the instance-based semi-supervised labeling step,
    * complementing prototype-based [[ivfAssign]] (nearest centroid).
    * Output: (idCol, predicted_label, n_votes).
    *
    * Physical shape: the labeled corpus streams once against the
    * broadcast unlabeled batch (chunk huge batches and union — the
    * per-chunk plan is identical), per-query window for the k nearest,
    * then a vote count and a struct-max argmax: max((votes, −label))
    * picks most-votes-then-smallest-label with no second window.
    */
  def labelPropagate(labeled: DataFrame, unlabeled: DataFrame,
      vecCol: String, idCol: String, labelCol: String, k: Int,
      dims: Int): DataFrame = {
    require(k >= 1)
    val b = labeled.select(col(idCol).as("base_id"),
      col(vecCol).as("base_vec"), col(labelCol).as("base_label"))
    val q = unlabeled.select(col(idCol).as("query_id"),
      col(vecCol).as("query_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("base_id"))
    val neighbors = b.crossJoin(broadcast(q))
      .withColumn("score", round(
        VectorFunctions.cosine(col("base_vec"), col("query_vec"), dims), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    neighbors
      .groupBy(col("query_id"), col("base_label"))
      .agg(count(lit(1)).as("n_votes"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("n_votes"), (-col("base_label")).as("neg_")))
        .as("best_"))
      .select(col("query_id").as(idCol),
        (-col("best_.neg_")).as("predicted_label"),
        col("best_.n_votes").as("n_votes"))
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most-similar vectors carrying a DIFFERENT label —
    * the highest-value negatives for embedding-model fine-tuning (random
    * negatives are trivially separable; these sit right at the decision
    * boundary). Output: (query_id, base_id, base_label, score, rank).
    *
    * Physical shape: [[knnJoin]]'s broadcast-NL + per-query window, with
    * the label-mismatch filter applied BEFORE ranking so same-class
    * pairs never enter the top-k computation. The query batch broadcasts;
    * the corpus streams once.
    */
  def hardNegatives(base: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, labelCol: String, k: Int, dims: Int): DataFrame = {
    val b = base.select(col(idCol).as("base_id"), col(vecCol).as("base_vec"),
      col(labelCol).as("base_label"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("query_vec"), col(labelCol).as("query_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("base_id"))
    b.crossJoin(broadcast(q))
      .where(col("base_label") =!= col("query_label"))
      .withColumn("score", round(
        VectorFunctions.cosine(col("base_vec"), col("query_vec"), dims), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("base_id"), col("base_label"),
        col("score"), col("rank"))
  }

  /** Matryoshka prefix-dimension audit: rank by the first `prefixDims`
    * dimensions only, attach each hit's FULL-dimension score and whether
    * it also makes the full top-k — the recall/cost evidence for serving
    * MRL-style truncated embeddings (scan I/O shrinks by dims/prefix;
    * this table says what recall that buys). Output: (idCol,
    * rank_prefix, score_prefix, score_full, in_full_topk).
    *
    * Physical shape: two TakeOrderedAndProject scans (prefix-sliced and
    * full — in production the prefix scan reads a truncated column or
    * PQ/SQ8 codes, which is the point), then joins over two k-row
    * broadcast sides. The prefix hits' full scores come from a THIRD
    * scan that is broadcast-semi-joined down to the k hit ids first, so
    * it reads the vector column but computes only k full cosines —
    * never a third corpus-wide scoring pass.
    */
  def matryoshkaAudit(vecs: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], prefixDims: Int, k: Int): DataFrame = {
    require(prefixDims >= 1 && prefixDims < query.length && k >= 1)
    // k rows, eagerly materialized: read by the id broadcast AND the
    // final join without re-running the prefix scan; localCheckpoint
    // (not persist) so the blocks die with the reference, no session-
    // lifetime cache entry
    val pre = bruteForceTopK(
      vecs.withColumn("_pre", slice(col(vecCol), 1, prefixDims)),
      "_pre", idCol, query.take(prefixDims), k)
      .withColumnRenamed("score", "score_prefix")
      .withColumn("rank_prefix", row_number().over(
        Window.orderBy(col("score_prefix").desc, col(idCol))))
      .localCheckpoint(true)
    val fullIds = bruteForceTopK(vecs, vecCol, idCol, query, k)
      .select(col(idCol), lit(true).as("in_full_topk"))
    // restrict FIRST (broadcast of k ids), score the survivors only
    val fullScores = vecs
      .join(broadcast(pre.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol),
        round(VectorFunctions.cosine(col(vecCol), typedLit(query), query.length), 6)
          .as("score_full"))
    pre
      .join(fullScores, Seq(idCol))
      .join(fullIds, Seq(idCol), "left")
      .withColumn("in_full_topk", coalesce(col("in_full_topk"), lit(false)))
      .select(col(idCol), col("rank_prefix"), col("score_prefix"),
        col("score_full"), col("in_full_topk"))
  }

  /** Centroid silhouette — cluster-quality audit for a labeled embedding
    * table (how separated the classes are, the go/no-go check before
    * trusting centroid-based filtering or IVF cells built from labels).
    * Simplified silhouette: distances are to CENTROIDS, not all points
    * (the O(n²) pairwise form is unrunnable at scale; the centroid form
    * is the standard approximation). Per vector, with cosine distance
    * d = 1 − sim: a = d(own centroid), b = min over other centroids,
    * s = (b − a) / max(a, b); output is the per-label mean s and count.
    *
    * Physical shape: ONE broadcast cross join against the tiny centroid
    * table (labels × dims literals — never a data-scale join), a per-row
    * conditional argmax aggregation keyed by vector id, and one per-label
    * mean. Determinism: sims round to 6 before the distance algebra
    * (one subtract/divide chain on identically-rounded doubles), per-row
    * s rounds to 9, and the label mean decimal-sums — the same
    * cross-engine discipline as kmeansRefine. Vectors whose label has no
    * centroid (or with no other centroid to compare against) are
    * excluded rather than scored against nothing.
    */
  def centroidSilhouette(vecs: DataFrame, vecCol: String, idCol: String,
      labelCol: String, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(centroids.size >= 2, "silhouette needs >= 2 centroids")
    val dims = centroids.head._2.length
    val cdf = broadcast(centroids.toDF("cell", "cvec"))
    val sims = vecs.select(col(idCol), col(labelCol).as("label"), col(vecCol))
      .crossJoin(cdf)
      .withColumn("sim", round(VectorFunctions.cosine(col(vecCol), col("cvec"), dims), 6))
      .groupBy(col(idCol), col("label"))
      .agg(max(when(col("cell") === col("label"), col("sim"))).as("own"),
        max(when(col("cell") =!= col("label"), col("sim"))).as("oth"))
      .where(col("own").isNotNull && col("oth").isNotNull)
    val a = lit(1.0) - col("own") // distance to own centroid
    val b = lit(1.0) - col("oth") // distance to nearest other centroid
    sims
      .withColumn("sil", round(
        when(greatest(a, b) === 0.0, lit(0.0))
          .otherwise((b - a) / greatest(a, b)), 9))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("silhouette"))
  }

  /** k-NN neighbor graph for graph-traversal ANN (the NSW/HNSW family,
    * Malkov & Yashunin 2016, flattened to its single-layer core): each
    * node keeps its top-`m` candidates by rounded cosine, candidates
    * generated by MULTI-TABLE RHP bucket joins — the same
    * never-all-pairs discipline as the near-dup family, so the build is
    * bucketed candidate generation + one per-node window, not an O(n²)
    * compare. Determinized end-to-end (pinned md5 hyperplanes, rounded
    * scores, id tie-breaks), so an external engine can rebuild the exact
    * graph. Output: (src, dst, s) with ≤ m rows per src, symmetric
    * candidates (both directions of every candidate pair compete for
    * both endpoints' m slots).
    *
    * Physical shape at 100 TB: one [[lshPairs]] self-join shuffled on
    * (seed, bucket), a distinct on the candidate pair, two broadcast joins
    * to fetch vectors, one window shuffled on src. The graph is the
    * serving artifact — built once, stored partitioned by src.
    */
  def nswGraph(vecs: DataFrame, vecCol: String, idCol: String,
      m: Int, planes: Int = 6, seeds: Seq[Int] = Seq(7, 21),
      dims: Int = 64): DataFrame = {
    require(m >= 1 && seeds.nonEmpty)
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v_"))
      .localCheckpoint()
    val scored = withVectors(lshPairs(v, "v_", "id", planes, seeds, dims),
        v, "v_", "id", "a", "b", broadcastVecs = true)
      .select(col("a"), col("b"),
        round(VectorFunctions.cosine(col("av"), col("bv"), dims), 6).as("s"))
    val sym = scored
      .select(col("a").as("src"), col("b").as("dst"), col("s"))
      .unionAll(scored.select(col("b").as("src"), col("a").as("dst"),
        col("s")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("s").desc, col("dst"))
    sym.withColumn("rn", row_number().over(w)).where(col("rn") <= m)
      .select(col("src"), col("dst"), col("s"))
  }

  /** Greedy beam search over [[nswGraph]], unrolled to `rounds` hops —
    * the serving traversal of graph ANN re-expressed relationally: each
    * round expands ONLY the current beam's neighbor lists (one keyed
    * join against the graph), scores only never-visited candidates (one
    * anti-join + one point-lookup join against the vector store — never
    * a scan), and re-beams to the global top-`beam` of everything scored
    * (monotone: a node dropped from the beam can never re-enter better,
    * so beam-of-visited equals beam-of-beam∪new). Fixed `rounds` keeps
    * the plan static and external-SQL-checkable — the k-core / PageRank
    * rounds trade. Entry is a FIXED node id, not the query's own row —
    * the honest audit (an entry at the query would pre-seed the answer).
    *
    * Work per query is rounds · beam · m score evaluations however big
    * the corpus — the whole point of the graph tier; recall is measured,
    * not assumed (`search_nsw_recall`), the X137-X139 discipline.
    */
  def nswSearch(graph: DataFrame, vecs: DataFrame, vecCol: String,
      idCol: String, query: Seq[Float], k: Int, beam: Int, rounds: Int,
      entryId: Long): DataFrame = {
    require(k >= 1 && beam >= 1 && rounds >= 1 && rounds <= 8)
    val dims = query.length
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v_"))
    val g = graph.select(col("src"), col("dst")).localCheckpoint()
    def score(ids: DataFrame): DataFrame = ids
      .join(v, "id")
      .select(col("id"), round(
        VectorFunctions.cosine(col("v_"), typedLit(query), dims), 6).as("s"))
    // Every traversal-state side is bounded by construction (beam, or
    // visited ≤ 1 + rounds·beam·m rows) however big the corpus, so the
    // state is BROADCAST into the graph/vector joins — the graph and
    // vector store are never shuffled by the traversal — and each
    // round's checkpoint lands in ONE partition (per-round state is a
    // handful of KB; at session parallelism every round paid a full
    // task wave per checkpoint). The beam re-rank needs no checkpoint
    // of its own: it is a TakeOrdered over the already-checkpointed
    // visited, recomputed once inside the next round's single job
    // (r12 matched A/B: search_nsw_recall_wide — the deepest traversal,
    // m=24 beam=48 rounds=6 — 9.8 -> 3.2 s warm; the shallower nsw
    // gates move within host noise, see OPTIMIZATION_r12.md).
    // Guard (r12 advice): the broadcast/1-partition physics is right for
    // serving-shaped parameters, but a caller asking for a huge frontier
    // (rounds·beam past ~4k keeps visited under ~1M rows even at extreme
    // degree) should get the planner's default strategy and the session's
    // partitioning instead — identical results, different join physics.
    val smallState = rounds.toLong * beam <= 4096L
    def bcast(df: DataFrame): DataFrame = if (smallState) broadcast(df) else df
    def pin1(df: DataFrame): DataFrame = if (smallState) df.repartition(1) else df
    var visited = pin1(score(v.select(col("id")).where(col("id") === entryId)))
      .localCheckpoint()
    var beamDf = visited
    (1 to rounds).foreach { _ =>
      val fresh = g.join(bcast(beamDf.select(col("id").as("src"))), "src")
        .select(col("dst").as("id")).distinct()
        .join(bcast(visited.select(col("id"))), Seq("id"), "left_anti")
      visited = pin1(visited.unionAll(score(bcast(fresh))))
        .localCheckpoint()
      beamDf = visited.orderBy(col("s").desc, col("id")).limit(beam)
    }
    visited.orderBy(col("s").desc, col("id")).limit(k)
      .select(col("id").as(idCol), col("s").as("score"))
  }

  /** Mutual-kNN neighbor graph — the ANSWER-bounded alternative to the
    * ε-threshold pair graph: each vector keeps its top-`k` neighbors by
    * (rounded cosine DESC, id ASC — ties pinned), an undirected edge
    * survives only if BOTH endpoints keep each other, so the graph has
    * ≤ k·n/2 edges BY CONSTRUCTION at any corpus size or density. The
    * ε-graph at a fixed τ grows n²·P(cos ≥ τ) and even the density-
    * scaled τ ([[graft.operators.Dedup.tauForNeighbors]]) only bounds
    * the EXPECTED degree — the kNN cap bounds the worst case, which is
    * what a downstream edge-linear stage must provision for.
    *
    * This exact form scores all n² ordered pairs — the oracle-checkable
    * core and the ground-truth side of audits; the production shape is
    * [[mutualKnnPairsBucketed]]. `minCosine` floors the neighbor list
    * (a vector with < minPts genuinely-close neighbors should become
    * noise, not adopt far ones). Output: (a, b, s) with a < b.
    */
  def mutualKnnPairs(vecs: DataFrame, vecCol: String, idCol: String,
      k: Int, minCosine: Double, dims: Int): DataFrame = {
    require(k >= 1 && dims > 0)
    val l = vecs.select(col(idCol).as("q"), col(vecCol).as("qv"))
    val r = vecs.select(col(idCol).as("b"), col(vecCol).as("bv"))
    mutualTopK(l.crossJoin(r).where(col("q") =!= col("b")), k, minCosine, dims)
  }

  /** Directed top-k over candidate rows (q, b, qv, bv) — ONE place owns
    * the score rounding, the floor, and the (s DESC, id ASC) tie-break
    * for every kNN-graph form (exact, bucketed, descent-refined), so
    * the audit forms and the scale paths cannot silently diverge.
    * Output: (q, b, s), ≤ k rows per q. */
  private def directedTopK(candidates: DataFrame, k: Int, minCosine: Double,
      dims: Int): DataFrame = {
    val scored = candidates
      .withColumn("s",
        round(VectorFunctions.cosine(col("qv"), col("bv"), dims), 6))
      .where(col("s") >= minCosine)
    val w = Window.partitionBy(col("q")).orderBy(col("s").desc, col("b"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("b"), col("s"))
  }

  /** Shared tail of the exact and bucketed mutual-kNN forms: directed
    * top-k then the mutual filter. Input: directed candidate rows
    * (q, b, qv, bv). */
  private def mutualTopK(candidates: DataFrame, k: Int, minCosine: Double,
      dims: Int): DataFrame = {
    // NOTE (r12): the mutual filter references the directed top-k
    // subtree three times, but checkpointing it here measured as a
    // no-op (knn-pair stage 2.58 -> 2.47 s, noise) — ReuseExchange
    // already shares the window's shuffle across the references.
    val knn = directedTopK(candidates, k, minCosine, dims)
    val directed = knn.select(col("q"), col("b"))
    directed
      .join(directed.select(col("b").as("q"), col("q").as("b")), Seq("q", "b"))
      .where(col("q") < col("b"))
      .join(knn, Seq("q", "b"))
      .select(col("q").as("a"), col("b"), col("s"))
  }

  /** [[mutualKnnPairs]]'s scale path: neighbor candidates come from the
    * multi-table RHP co-bucket join (the [[graft.operators.Dedup]]
    * banding machinery — candidates bounded by tables·n·occupancy with
    * occupancy held ~constant by `planesFor`), each vector ranks its
    * top-`k` WITHIN its candidates, and the mutual filter runs as in
    * the exact form. Fully deterministic (seeded hyperplanes, rounded
    * scores, id tie-breaks), so the oracle replays it exactly — no
    * recall hand-wave at gate scale; at corpus scale the miss mode is
    * the X150 cross-bucket one and tables are the recall knob
    * (SCALE_NOTES r12 law: recall ≈ T·c^planes).
    *
    * Physical shape at 100 TB: ONE corpus scan per side of the bucket
    * join (shuffle on (seed, bucket)), candidate dedup, two id-equi
    * join-backs for vectors, ONE window shuffle on the query id, one
    * self-join for mutuality — every stage keyed, nothing all-pairs,
    * answer ≤ k·n/2 edges by construction.
    */
  def mutualKnnPairsBucketed(vecs: DataFrame, vecCol: String, idCol: String,
      k: Int, minCosine: Double, planes: Int, seeds: Seq[Int],
      dims: Int): DataFrame = {
    require(k >= 1 && planes >= 1 && seeds.nonEmpty && dims > 0)
    mutualTopK(bucketedCandidates(vecs, vecCol, idCol, planes, seeds, dims),
      k, minCosine, dims)
  }

  /** Exact DIRECTED top-k for a bounded query set: every (query, corpus)
    * pair scored — |queries|·n cosine evals, LINEAR in the corpus when
    * the query side is a fixed audit panel — under the same
    * [[directedTopK]] rounding/floor/tie rules as every other kNN form,
    * so it is the drop-in ground-truth side of graph-recall audits.
    * `queries` carries the same (idCol, vecCol) columns as `vecs`.
    * Output: (q, b, s), ≤ k per query.
    */
  def knnGraphExact(vecs: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, minCosine: Double, dims: Int): DataFrame = {
    require(k >= 1 && dims > 0)
    val q = queries.select(col(idCol).as("q"), col(vecCol).as("qv"))
    val b = vecs.select(col(idCol).as("b"), col(vecCol).as("bv"))
    directedTopK(b.crossJoin(broadcast(q)).where(col("q") =!= col("b")),
      k, minCosine, dims)
  }

  /** DIRECTED kNN graph from bucketed candidates — the seed graph for
    * [[knnGraphDescent]] and the building block of graph-ANN indexes:
    * each vector's top-`k` among its multi-table RHP co-bucket
    * candidates, by (rounded cosine DESC, id ASC). Deterministic, ≤ k
    * rows per vector. Output: (q, b, s).
    */
  def knnGraphBucketed(vecs: DataFrame, vecCol: String, idCol: String,
      k: Int, minCosine: Double, planes: Int, seeds: Seq[Int],
      dims: Int): DataFrame = {
    require(k >= 1 && planes >= 1 && seeds.nonEmpty && dims > 0)
    directedTopK(bucketedCandidates(vecs, vecCol, idCol, planes, seeds, dims),
      k, minCosine, dims)
  }

  /** Directed candidate rows (q, b, qv, bv) of the bucketed kNN forms
    * [[mutualKnnPairsBucketed]] and [[knnGraphBucketed]]: both directions
    * of every [[lshPairs]] pair — exactly the q ≠ b co-bucket pairs — with
    * the vectors attached, the store broadcast when [[fitsBroadcast]]. */
  private def bucketedCandidates(vecs: DataFrame, vecCol: String,
      idCol: String, planes: Int, seeds: Seq[Int], dims: Int): DataFrame = {
    val pairs = lshPairs(vecs, vecCol, idCol, planes, seeds, dims)
    withVectors(pairs.select(col("a").as("q"), col("b"))
        .unionAll(pairs.select(col("b").as("q"), col("a").as("b"))),
      vecs, vecCol, idCol, "q", "b",
      broadcastVecs = fitsBroadcast(vecs.count(), vecRowBytes(dims)))
  }

  /** NN-Descent refinement (Dong, Moses & Li, WWW'11 "Efficient k-nearest
    * neighbor graph construction for generic similarity measures",
    * simplified full-batch form): a neighbor of a neighbor is likely a
    * neighbor, so each round proposes the two-hop closure of the
    * UNDIRECTED current graph (forward + reverse edges — reverse
    * neighbors are the paper's key convergence ingredient), re-scores,
    * and keeps each vector's top-k. Candidates per round are ≤ n·(2k)²
    * — LINEAR in n at fixed k — so descent buys back the recall that
    * bucketed candidate generation trades away without ever going
    * all-pairs. Deterministic end-to-end (same rounding/tie rules as
    * every kNN form — [[directedTopK]]), so an external engine replays
    * every round exactly.
    *
    * Physical shape at 100 TB: per round ONE self-join of the (≤ 2k·n)-
    * row edge list on the hop key, a distinct, two id-equi vector
    * join-backs, one window on q — all keyed shuffles; localCheckpoint
    * per round truncates the iterative lineage (the graph_kcore
    * discipline). Output: (q, b, s) directed, ≤ k per q.
    */
  def knnGraphDescent(vecs: DataFrame, vecCol: String, idCol: String,
      graph0: DataFrame, k: Int, minCosine: Double, rounds: Int,
      dims: Int): DataFrame = {
    require(k >= 1 && rounds >= 0 && dims > 0)
    // The candidate relation is n·(2k)² rows per round; the tables it
    // joins — the n-row vector store (score attach) and the ≤ 2kn-row
    // undirected edge list (two-hop closure; graph0 holds ≤ k rows per q
    // as every kNN form here does) — are the provably-smaller sides, but
    // they sit behind localCheckpoints with no size statistics, so the
    // planner sort-merge-joined and re-shuffled the candidates four times
    // per round. Broadcast each small side instead (guide §3.1, the r13
    // hits/nsw playbook): candidates are then never shuffled for the
    // attach; only the final per-q window moves them
    // (OPTIMIZATION_r13.md §10: descent rounds 1.36 -> 0.96 s at sf0.1,
    // results row-identical). Each side is sized on its own rows by
    // [[fitsBroadcast]] from one count() job, against four saved
    // exchanges per round.
    val n = vecs.count()
    val vecsFit = fitsBroadcast(n, vecRowBytes(dims))
    val attEdges: DataFrame => DataFrame =
      if (fitsBroadcast(2L * k * n, EdgeRowBytes)) broadcast else identity
    var g = graph0.select(col("q"), col("b"), col("s")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val edges = g.select(col("q"), col("b"))
      val nbr = edges.unionAll(
        edges.select(col("b").as("q"), col("q").as("b")))
      val twoHop = nbr.select(col("q"), col("b").as("m"))
        .join(attEdges(nbr.select(col("q").as("m"), col("b"))), Seq("m"))
        .select(col("q"), col("b"))
      // candidates = UNDIRECTED 1-hop ∪ 2-hop: proposing the reverse
      // direct edge matters — without it a vector whose nearest neighbor
      // only points AT it (directed) would drop that neighbor on the
      // next re-rank instead of adopting it
      val cand = nbr.unionAll(twoHop)
        .where(col("q") =!= col("b")).distinct()
      g = directedTopK(
        withVectors(cand, vecs, vecCol, idCol, "q", "b", broadcastVecs = vecsFit),
        k, minCosine, dims).localCheckpoint()
    }
    g
  }

  /** Undirected RHP-LSH candidate pairs (a, b), a < b: the id pairs that
    * share a bucket under at least one seed's hyperplanes. One scan
    * computes every per-seed bucket (explode over a literal
    * (seed, bucket) struct array — |seeds| small), the self-join shuffles
    * on (seed, bucket), and `distinct` folds a pair found by several
    * tables into one row — never all-pairs, never a driver collect.
    * Used by [[graft.operators.Dedup.embeddingNearDupPairsMultiTable]],
    * [[nswGraph]], and mirrored to both directions by
    * [[mutualKnnPairsBucketed]] and [[knnGraphBucketed]].
    */
  private[operators] def lshPairs(vecs: DataFrame, vecCol: String,
      idCol: String, planes: Int, seeds: Seq[Int], dims: Int): DataFrame = {
    val tables = vecs
      .select(col(idCol), explode(array(seeds.map(sd =>
        struct(lit(sd).as("seed"),
          VectorFunctions.rhpBucket(col(vecCol), planes, sd, dims).as("bucket"))): _*))
        .as("sb"))
      .select(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"), col(idCol))
    tables.select(col("seed"), col("bucket"), col(idCol).as("a"))
      .join(tables.select(col("seed"), col("bucket"), col(idCol).as("b")),
        Seq("seed", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Attaches both endpoints' vectors to an id-pair relation: `pairs`
    * holds id columns `l` and `r`, and each gains its vector from `vecs`
    * as `l + "v"` / `r + "v"` through an id equi-join, the vector side
    * broadcast when `broadcastVecs` (decided by [[fitsBroadcast]] where
    * the store's row count is known). Used by
    * [[graft.operators.Dedup.embeddingNearDupPairsMultiTable]] (never
    * broadcast: no count is taken), [[nswGraph]] (always: its store is
    * checkpointed for the build), and [[mutualKnnPairsBucketed]],
    * [[knnGraphBucketed]] and [[knnGraphDescent]] (sized).
    */
  private[operators] def withVectors(pairs: DataFrame, vecs: DataFrame,
      vecCol: String, idCol: String, l: String, r: String,
      broadcastVecs: Boolean): DataFrame = {
    def side(id: String): DataFrame = {
      val v = vecs.select(col(idCol).as(id), col(vecCol).as(id + "v"))
      if (broadcastVecs) broadcast(v) else v
    }
    pairs.join(side(l), Seq(l)).join(side(r), Seq(r))
  }

  /** Bytes of one vector-store row (a long id and `dims` floats) and of
    * one (q, b) edge row, for [[fitsBroadcast]]. */
  private[operators] def vecRowBytes(dims: Int): Long = 8L + 4L * dims
  private[operators] val EdgeRowBytes = 16L

  /** The broadcast budget of the vector-neighbour operators: a 500k-vector
    * store at 64 dims (≈ 132 MB). */
  private val BroadcastBytes = 500000L * vecRowBytes(64)

  /** Whether a relation of `rows` rows of `rowBytes` bytes each may be
    * broadcast: the one rule behind every sized vector or edge attach
    * here, applied to the side that is broadcast — the vector store of
    * [[mutualKnnPairsBucketed]], [[knnGraphBucketed]] and
    * [[knnGraphDescent]], and the descent's edge list. */
  private[operators] def fitsBroadcast(rows: Long, rowBytes: Long): Boolean =
    rows <= BroadcastBytes / rowBytes
}
