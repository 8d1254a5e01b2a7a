package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The vector-neighbour operators that share the LSH-pair, vector-attach
  * and Lloyd-step helpers, against their earlier one-body-per-operator
  * forms, kept here as references: each wrote its own bucket self-join,
  * vector join-backs and mean step. Rows must be identical on duplicate
  * vectors, tied cosines, a zero vector, one hash table or three, an empty
  * input and 0 or 2 training rounds.
  */
class NeighbourReferenceSpec extends SparkSpec {

  private val dims = 8

  // ref*: the earlier bodies, verbatim apart from names (the private
  // top-k tails are copied in with them)

  private def refEmbeddingNearDupPairsMultiTable(vecs: DataFrame, vecCol: String,
      idCol: String, minCosine: Double, planes: Int, seeds: Seq[Int],
      dims: Int): DataFrame = {
    val base = vecs.select(col(idCol), col(vecCol))
    val tables = base
      .withColumn("sb", explode(array(seeds.map(sd =>
        struct(lit(sd).as("seed"),
          VectorFunctions.rhpBucket(col(vecCol), planes, sd, dims).as("bucket"))): _*)))
      .select(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"), col(idCol))
    val l = tables.select(col("seed"), col("bucket"), col(idCol).as("a"))
    val r = tables.select(col("seed"), col("bucket"), col(idCol).as("b"))
    val cand = l.join(r, Seq("seed", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(base.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
      .join(base.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("va"), col("vb"), dims), 6))
      .where(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  private def refNswGraph(vecs: DataFrame, vecCol: String, idCol: String,
      m: Int, planes: Int, seeds: Seq[Int], dims: Int): DataFrame = {
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v_"))
      .localCheckpoint()
    val pairs = seeds.map { sd =>
      val b = v.select(col("id"),
        VectorFunctions.rhpBucket(col("v_"), planes, sd, dims).as("bucket"))
      b.select(col("id").as("a"), col("bucket"))
        .join(b.select(col("id").as("b"), col("bucket")), "bucket")
        .where(col("a") < col("b"))
        .select(col("a"), col("b"))
    }.reduce(_ unionAll _).distinct()
    val scored = pairs
      .join(broadcast(v.select(col("id").as("a"), col("v_").as("va"))), "a")
      .join(broadcast(v.select(col("id").as("b"), col("v_").as("vb"))), "b")
      .withColumn("s", round(
        VectorFunctions.cosine(col("va"), col("vb"), dims), 6))
      .select(col("a"), col("b"), col("s"))
    val sym = scored
      .select(col("a").as("src"), col("b").as("dst"), col("s"))
      .unionAll(scored.select(col("b").as("src"), col("a").as("dst"),
        col("s")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("s").desc, col("dst"))
    sym.withColumn("rn", row_number().over(w)).where(col("rn") <= m)
      .select(col("src"), col("dst"), col("s"))
  }

  private def refDirectedTopK(candidates: DataFrame, k: Int, minCosine: Double,
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

  private def refMutualTopK(candidates: DataFrame, k: Int, minCosine: Double,
      dims: Int): DataFrame = {
    val knn = refDirectedTopK(candidates, k, minCosine, dims)
    val directed = knn.select(col("q"), col("b"))
    directed
      .join(directed.select(col("b").as("q"), col("q").as("b")), Seq("q", "b"))
      .where(col("q") < col("b"))
      .join(knn, Seq("q", "b"))
      .select(col("q").as("a"), col("b"), col("s"))
  }

  private def refMutualKnnPairsBucketed(vecs: DataFrame, vecCol: String, idCol: String,
      k: Int, minCosine: Double, planes: Int, seeds: Seq[Int],
      dims: Int): DataFrame = {
    val base = vecs.select(col(idCol), col(vecCol))
    val tables = base
      .withColumn("sb", explode(array(seeds.map(sd =>
        struct(lit(sd).as("seed"),
          VectorFunctions.rhpBucket(col(vecCol), planes, sd, dims)
            .as("bucket"))): _*)))
      .select(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"),
        col(idCol))
    val cand = tables.select(col("seed"), col("bucket"), col(idCol).as("q"))
      .join(tables.select(col("seed"), col("bucket"), col(idCol).as("b")),
        Seq("seed", "bucket"))
      .where(col("q") =!= col("b"))
      .select(col("q"), col("b")).distinct()
    val att: DataFrame => DataFrame =
      if (vecs.count() <= 500000L) broadcast else identity
    refMutualTopK(cand
      .join(att(base.select(col(idCol).as("q"), col(vecCol).as("qv"))), Seq("q"))
      .join(att(base.select(col(idCol).as("b"), col(vecCol).as("bv"))), Seq("b")),
      k, minCosine, dims)
  }

  private def refKnnGraphBucketed(vecs: DataFrame, vecCol: String, idCol: String,
      k: Int, minCosine: Double, planes: Int, seeds: Seq[Int],
      dims: Int): DataFrame = {
    val base = vecs.select(col(idCol), col(vecCol))
    val tables = base
      .withColumn("sb", explode(array(seeds.map(sd =>
        struct(lit(sd).as("seed"),
          VectorFunctions.rhpBucket(col(vecCol), planes, sd, dims)
            .as("bucket"))): _*)))
      .select(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"),
        col(idCol))
    val cand = tables.select(col("seed"), col("bucket"), col(idCol).as("q"))
      .join(tables.select(col("seed"), col("bucket"), col(idCol).as("b")),
        Seq("seed", "bucket"))
      .where(col("q") =!= col("b"))
      .select(col("q"), col("b")).distinct()
    val att: DataFrame => DataFrame =
      if (vecs.count() <= 500000L) broadcast else identity
    refDirectedTopK(cand
      .join(att(base.select(col(idCol).as("q"), col(vecCol).as("qv"))), Seq("q"))
      .join(att(base.select(col(idCol).as("b"), col(vecCol).as("bv"))), Seq("b")),
      k, minCosine, dims)
  }

  private def refPqTrain(vecs: DataFrame, vecCol: String, idCol: String,
      m: Int, codebookSize: Int, dims: Int,
      iters: Int): Seq[(Int, Int, Seq[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val subLen = dims / m
    val subStructs = array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col(vecCol), s * subLen + 1, subLen).as("sv"))): _*)
    val subs = vecs.select(col(idCol).as("_id"), explode(subStructs).as("e"))
      .select(col("_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    var codebook: Seq[(Int, Int, Seq[Double])] = vecs
      .orderBy(col(idCol)).limit(codebookSize)
      .select(col(vecCol)).collect().zipWithIndex.toSeq
      .flatMap { case (row, code) =>
        val full = row.getSeq[Float](0).map(_.toDouble)
        (0 until m).map(s => (s, code, full.slice(s * subLen, (s + 1) * subLen)))
      }
    for (_ <- 1 to iters) {
      val cdf = broadcast(codebook.toDF("sub", "code", "cvec"))
      val assigned = subs.join(cdf, "sub")
        .withColumn("sim", VectorFunctions.cosine(col("sv"), col("cvec"), subLen))
        .groupBy(col("_id"), col("sub"))
        .agg(max(struct(col("sim"), col("code"))).getField("code").as("code"),
          first(col("sv")).as("sv"))
      val sums = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(sum(col("x").cast("decimal(28,8)")).cast("double"), 6).as("mval"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mval")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), p => p.getField("mval")).as("cvec"))
        .collect()
      codebook = sums.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    codebook
  }

  private def refPqTrainUnitMeans(vecs: DataFrame, vecCol: String, idCol: String,
      m: Int, codebookSize: Int, dims: Int,
      iters: Int): Seq[(Int, Int, Seq[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val subLen = dims / m
    val vn = vecs
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        VectorFunctions.l2Norm(col(vecCol), dims).as("_n"))
      .select(col("_id"),
        transform(col("_v"), x => x / col("_n")).as("_vn"))
    val subStructs = array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("_vn"), s * subLen + 1, subLen).as("sv"))): _*)
    val subs = vn.select(col("_id"), explode(subStructs).as("e"))
      .select(col("_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    var codebook: Seq[(Int, Int, Seq[Double])] = vecs
      .orderBy(col(idCol)).limit(codebookSize)
      .select(col(vecCol)).collect().zipWithIndex.toSeq
      .flatMap { case (row, code) =>
        val raw = row.getSeq[Float](0).map(_.toDouble)
        val nrm = math.sqrt(raw.iterator.map(x => x * x).sum)
        val full = raw.map(_ / nrm)
        (0 until m).map(s => (s, code, full.slice(s * subLen, (s + 1) * subLen)))
      }
    for (_ <- 1 to iters) {
      val cdf = broadcast(codebook.toDF("sub", "code", "cvec"))
      val assigned = subs.join(cdf, "sub")
        .withColumn("sim", VectorFunctions.cosine(col("sv"), col("cvec"), subLen))
        .groupBy(col("_id"), col("sub"))
        .agg(max(struct(col("sim"), col("code"))).getField("code").as("code"),
          first(col("sv")).as("sv"))
      val sums = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(sum(col("x").cast("decimal(28,8)")).cast("double")
          / count(lit(1)), 6).as("mval"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mval")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), p => p.getField("mval")).as("cvec"))
        .collect()
      codebook = sums.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    codebook
  }

  // ---- inputs ----

  private def table(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding").repartition(3)
  }

  /** 40 small-integer vectors, plus ids 100-101 duplicating id 0, ids
    * 102-103 at the same cosine to id 104 (mirror images across it), and
    * with `zero` the all-zero id 105. */
  private def corpus(zero: Boolean): DataFrame = {
    val r = new scala.util.Random(11)
    val plain = (0L until 40L).map(i => i -> Seq.fill(dims)((r.nextInt(7) - 3).toFloat))
    val dup = Seq(100L, 101L).map(_ -> plain.head._2)
    val tied = Seq(
      102L -> Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      103L -> Seq(1f, -1f, 0f, 0f, 0f, 0f, 0f, 0f),
      104L -> Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    table(plain ++ dup ++ tied ++ (if (zero) Seq(105L -> Seq.fill(dims)(0f)) else Nil))
  }

  private def inputs: Seq[(String, DataFrame)] = Seq(
    "corpus" -> corpus(zero = false),
    "corpus with a zero vector" -> corpus(zero = true),
    "empty input" -> corpus(zero = false).where(lit(false)))

  private val seedSets = Seq(Seq(7), Seq(7, 21, 99))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def same(what: String, ref: DataFrame, got: DataFrame): Unit = {
    val want = rows(ref)
    assert(rows(got) == want, what)
  }

  test("LSH forms equal their earlier bodies: duplicates, ties, zero vector, 1 or 3 tables, empty") {
    for ((name, e) <- inputs; seeds <- seedSets) {
      val what = s"$name, seeds $seeds"
      same(s"multitable near-dups, $what",
        refEmbeddingNearDupPairsMultiTable(e, "embedding", "vec_id", 0.0, 2, seeds, dims),
        Dedup.embeddingNearDupPairsMultiTable(e, "embedding", "vec_id", 0.0, 2, seeds, dims))
      same(s"nswGraph, $what",
        refNswGraph(e, "embedding", "vec_id", 3, 2, seeds, dims),
        Similarity.nswGraph(e, "embedding", "vec_id", 3, 2, seeds, dims))
      same(s"mutualKnnPairsBucketed, $what",
        refMutualKnnPairsBucketed(e, "embedding", "vec_id", 3, -1.0, 2, seeds, dims),
        Similarity.mutualKnnPairsBucketed(e, "embedding", "vec_id", 3, -1.0, 2, seeds, dims))
      same(s"knnGraphBucketed, $what",
        refKnnGraphBucketed(e, "embedding", "vec_id", 3, -1.0, 2, seeds, dims),
        Similarity.knnGraphBucketed(e, "embedding", "vec_id", 3, -1.0, 2, seeds, dims))
    }
    // ties are live: some vector keeps two neighbours at one cosine
    val g = Similarity.knnGraphBucketed(corpus(zero = false), "embedding", "vec_id",
      3, -1.0, 2, seedSets.last, dims)
    assert(g.groupBy("q", "s").count().where(col("count") > 1).count() > 0)
  }

  /** The codebook, or the error condition the training failed with. */
  private def outcome(train: => Seq[(Int, Int, Seq[Double])]): Either[String, Seq[(Int, Int, Seq[Double])]] =
    scala.util.Try(train).toEither.left.map(e =>
      "\\[([A-Z_]+)\\]".r.findFirstMatchIn(e.getMessage).map(_.group(1)).getOrElse(e.toString))

  test("PQ training equals its earlier bodies: 0 and 2 rounds, zero vector, empty") {
    for ((name, e) <- inputs; iters <- Seq(0, 2)) {
      val what = s"$name, iters $iters"
      assert(Similarity.pqTrain(e, "embedding", "vec_id", 2, 4, dims, iters) ==
        refPqTrain(e, "embedding", "vec_id", 2, 4, dims, iters), s"pqTrain, $what")
      // the zero vector has no direction to normalize: both unit forms
      // fail on it with the same error once a round runs
      assert(outcome(Similarity.pqTrainUnitMeans(e, "embedding", "vec_id", 2, 4, dims, iters)) ==
        outcome(refPqTrainUnitMeans(e, "embedding", "vec_id", 2, 4, dims, iters)),
        s"pqTrainUnitMeans, $what")
    }
    assert(outcome(Similarity.pqTrainUnitMeans(corpus(zero = true), "embedding", "vec_id",
      2, 4, dims, 1)) == Left("DIVIDE_BY_ZERO"))
  }

  test("a broadcast is sized on the side it broadcasts") {
    // a 400k-vector store at 64 dims fits; its k = 20 edge list does not
    val n = 400000L
    assert(Similarity.fitsBroadcast(n, Similarity.vecRowBytes(64)))
    assert(!Similarity.fitsBroadcast(2L * 20 * n, Similarity.EdgeRowBytes))
    // the old vector-count bound still holds at 64 dims
    assert(Similarity.fitsBroadcast(500000L, Similarity.vecRowBytes(64)))
    assert(!Similarity.fitsBroadcast(500001L, Similarity.vecRowBytes(64)))
    // wider vectors fit fewer rows; no size overflows
    assert(!Similarity.fitsBroadcast(300000L, Similarity.vecRowBytes(256)))
    assert(!Similarity.fitsBroadcast(Long.MaxValue, Similarity.EdgeRowBytes))
  }
}
