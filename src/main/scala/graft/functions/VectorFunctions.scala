package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, expressed as
  * pure Column trees (`zip_with` + `aggregate`) so they stay inside
  * whole-stage codegen — no UDF, no deserialization of the row.
  *
  * Mirrors the reference's dense-vector scoring path
  * (reference: fegis/search/strategies.py:263-291 — Qdrant computes cosine
  * over BAAI/bge-small-en vectors; here the vectors are a column and the
  * score is a Catalyst expression).
  *
  * Accumulation is in Double regardless of element type: deterministic
  * within a row (element order is the array order), so results are stable
  * across partitionings — a requirement for oracle hash-matching and for
  * reproducible ranking at cluster scale.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ with Double accumulation (generic HOF form — interpreted;
    * prefer the `dims`-unrolled overload on hot paths). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Unrolled dot for a known dimensionality: plain codegen'd expressions
    * (element_at chains), same left-to-right accumulation order as the
    * fold — bit-identical results, ~10× faster (HOFs are CodegenFallback).
    */
  def dot(a: Column, b: Column, dims: Int): Column =
    (1 to dims).map { i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double")
    }.reduce(_ + _)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def l2Norm(a: Column, dims: Int): Column =
    sqrt((1 to dims).map { i =>
      val x = element_at(a, i).cast("double"); x * x
    }.reduce(_ + _))

  /** cosine(a, b) ∈ [-1, 1]; NaN-safe via nullif on zero norms. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2Norm(a) * l2Norm(b), lit(0.0))

  /** Hot-path cosine: the native [[CosineSim]] expression — one codegen'd
    * loop per row accumulating dot and both norms (bit-identical to the
    * unrolled/HOF forms, which fold left-to-right per accumulator). The
    * `dims` parameter documents the known dimensionality at call sites;
    * the native loop reads the actual array length. */
  def cosine(a: Column, b: Column, dims: Int): Column = CosineSim(a, b)

  /** Unrolled element_at cosine for a known dimensionality — kept as the
    * pure-builtin fallback/reference implementation. */
  def cosineUnrolled(a: Column, b: Column, dims: Int): Column =
    dot(a, b, dims) / nullif(l2Norm(a, dims) * l2Norm(b, dims), lit(0.0))

  /** Squared Euclidean distance (cheaper than sqrt when only ranking). */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  private def nullif(c: Column, v: Column): Column = when(c === v, lit(null)).otherwise(c)

  /** ±1 hyperplane sign vectors for random-hyperplane LSH, derived from the
    * engine-portable md5 hash of "seed:plane:dim" (top 15 hex digits, even
    * → +1). Computed once on the driver and shipped as literals — the
    * per-row cost is `planes` dot products, with zero per-row hashing.
    */
  def hyperplaneSigns(planes: Int, dims: Int, seed: Int): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dims).map { i =>
        if (HashFunctions.hash64Jvm(s"$seed:$p:$i") % 2 == 0) 1.0 else -1.0
      }
    }

  /** Random-hyperplane (SimHash-style) LSH bucket id for a dense vector:
    * sign bits of `planes` hyperplane projections packed into a LONG.
    * Deterministic across engines (hyperplanes derive from md5, above),
    * shuffle-free, and gives O(n/2^planes) candidate buckets for ANN at
    * scale. `dims` must match the vector length.
    *
    * Each projection is one native [[DotProduct]] call (codegen'd loop)
    * against a sign-vector literal — the unrolled element_at form was
    * ~3·dims·planes expression nodes, large enough to fall out of
    * whole-stage codegen at 64 dims × 4 planes.
    */
  def rhpBucket(vec: Column, planes: Int, seed: Int, dims: Int): Column = {
    val signs = hyperplaneSigns(planes, dims, seed)
    val bits = (0 until planes).map { p =>
      val proj = DotProduct(vec, typedLit(signs(p)))
      when(proj >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }
    bits.reduce(_ + _)
  }

  /** Driver-side twin of [[rhpBucket]] for one vector: the same sign test
    * against the same `signs` ([[hyperplaneSigns]]), each projection summed
    * left to right. Used by [[graft.search.Search.queryBucket]] (the query
    * vector) and [[graft.operators.Similarity.ivfAssignAnn]] (centroids).
    */
  private[graft] def rhpBucketOf(v: Seq[Double], signs: Seq[Seq[Double]]): Long =
    signs.zipWithIndex.map { case (s, p) =>
      val proj = s.zip(v).map { case (a, b) => a * b }.sum
      if (proj >= 0) 1L << p else 0L
    }.sum
}
