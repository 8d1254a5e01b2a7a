package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-path layout for the 100 TB store: partition directories for
  * pruning, sorted row groups for min/max skipping, bounded file sizes.
  *
  * The reference's store is a vector-DB collection; its analytic twin here
  * is partitioned parquet (SURVEY §1.4 documents the layouts:
  * memories by tool/date, events by date, embeddings by bucket). What the
  * layout buys at scale:
  *
  *  - `partitionBy(cols)` → directory pruning: a query filtering on a
  *    partition column never opens the other directories' files;
  *  - `repartition(partitionCols)` BEFORE the write → each output
  *    directory is written by the tasks that own its rows, so a
  *    1000-task job writes ~1 file per directory instead of up to 1000
  *    small files per directory (the classic small-files failure);
  *  - `sortWithinPartitions(sortCols)` → parquet row-group min/max
  *    statistics become selective for range predicates on the sort key
  *    (scan skips row groups wholesale);
  *  - `maxRecordsPerFile` → bounds the biggest file so a hot partition
  *    splits into parallel-readable chunks instead of one giant file.
  */
object StoreLayout {

  /** Write `df` to `path` in the optimized layout. `mode` defaults to
    * overwrite (the batch-rebuild shape); follow-mode appends go through
    * [[graft.streaming.StreamingIngest.startJsonlIngest]] instead.
    *
    * `filesPerPartition` splits each partition directory across that many
    * writer tasks (hash of the sort key, else a uniform spread). The
    * default 1 gives the fewest files, but funnels each directory through
    * ONE task — with few or skewed partition values the whole upstream
    * pipeline (embedding, encoding) serializes behind it. At 100 TB a hot
    * partition (one tool owning most rows) MUST spread; locally the same
    * setting keeps a 32-core write from running 3-wide.
    */
  def writeOptimized(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String],
      maxRecordsPerFile: Long = 0L,
      mode: String = "overwrite",
      filesPerPartition: Int = 1): Unit = {
    require(partitionCols.nonEmpty || sortCols.nonEmpty,
      "writeOptimized without partition or sort columns is a plain write")
    require(filesPerPartition >= 1)
    val clustered =
      if (partitionCols.isEmpty) df
      else if (filesPerPartition == 1) df.repartition(partitionCols.map(col): _*)
      else {
        // deterministic in-directory splitter: hash the first sort key
        // (stable across runs) when present, else spark_partition_id —
        // each (partition values, split) pair is one writer task
        val split =
          if (sortCols.nonEmpty) pmod(hash(col(sortCols.head)), lit(filesPerPartition))
          else pmod(spark_partition_id(), lit(filesPerPartition))
        df.repartition(partitionCols.map(col) :+ split: _*)
      }
    val sorted =
      if (sortCols.isEmpty) clustered
      else clustered.sortWithinPartitions(
        (partitionCols ++ sortCols).map(col): _*)
    val writer = sorted.write.mode(mode)
    val withLimit =
      if (maxRecordsPerFile > 0)
        writer.option("maxRecordsPerFile", maxRecordsPerFile)
      else writer
    (if (partitionCols.nonEmpty) withLimit.partitionBy(partitionCols: _*)
     else withLimit)
      .parquet(path)
  }

  /** Read a store written by [[writeOptimized]] — a plain scan; partition
    * pruning and row-group skipping come from the layout, not the reader.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed store layout: an external parquet table hash-CLUSTERED on
    * `bucketCol` (`bucketBy` + in-bucket sort). Two stores bucketed the
    * same way equi-join on that key with NO exchange on either side —
    * the co-located join that replaces a full shuffle of both stores at
    * 100 TB (provenance self-joins, store×score joins, incremental-dedup
    * corpus joins). `numBuckets` is fixed at write time; pick it from the
    * target task size, like shuffle partitions.
    *
    * Uses the session catalog with an explicit external `path` — dropping
    * the table forgets metadata, the parquet stays.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int): Unit = {
    require(numBuckets >= 1)
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** Partition backfill: dynamic-mode overwrite that replaces ONLY the
    * partition directories present in `df`, leaving every other
    * directory's files physically untouched — the corrected-day /
    * reprocessed-source repair shape. Static overwrite mode (Spark's
    * default) would delete the ENTIRE store first; at 100 TB that's the
    * difference between rewriting one day and rewriting three years.
    * The mode flips only around this write and is restored after.
    */
  def backfillPartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty)
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try df.repartition(partitionCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally spark.conf.set(key, prev)
  }

  /** 2-D Morton (Z-order) key: interleaves the low `bits` bits of two
    * non-negative integer columns — bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Rows close in z are close in BOTH dimensions,
    * which is the whole point: sorting by one column makes parquet
    * min/max stats selective for that column only; sorting by z makes
    * every file a small (a, b) RECTANGLE, so range predicates on either
    * (or both) dimensions skip files/row groups. Pure bitwise Column
    * tree — codegen'd, shuffle-free, 2·bits ops per row.
    *
    * ALIASING: only the low `bits` bits participate. Values ≥ 2^bits
    * keep their low bits and alias onto the same z-ranges as smaller
    * values — results stay CORRECT (z is only a clustering key) but the
    * file-pruning locality silently degrades to hash-like scatter for
    * the overflowing dimension. Size `bits` to cover the column range;
    * [[writeZOrdered]] derives it from a max() statistic by default.
    */
  def zOrder2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31)
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Write `df` clustered by the z-order of (`colA`, `colB`): one range
    * exchange on the z key (`numFiles` ranges, sampled bounds), in-range
    * sort, key dropped before the bytes hit disk. Each output file covers
    * a contiguous z-range — a bounded rectangle in (colA, colB) — so
    * 2-D-filtered scans skip most files via footer min/max where a
    * single-column sort only prunes its own column. The multi-dimensional
    * complement of [[writeOptimized]]'s directory partitioning (which
    * stays the right tool for LOW-cardinality prune columns).
    *
    * `bits = 0` (the default) derives the interleave width from a max()
    * statistic over both columns — one tiny agg, two longs to the
    * driver — so no value can overflow the key and silently destroy the
    * rectangle locality ([[zOrder2]]'s aliasing note). An explicit
    * `bits` skips that pass when the caller already knows the range.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, bits: Int = 0, mode: String = "overwrite"): Unit = {
    require(numFiles >= 1)
    require(bits >= 0 && bits <= 31, "bits must be in [0 (derive), 31]")
    val zbits =
      if (bits > 0) bits
      else {
        val m = df.agg(max(col(colA).cast("long")), max(col(colB).cast("long"))).collect()(0)
        val hi = math.max(if (m.isNullAt(0)) 0L else m.getLong(0),
          if (m.isNullAt(1)) 0L else m.getLong(1))
        math.min(31, math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(hi)))
      }
    df.withColumn("_z", zOrder2(col(colA), col(colB), zbits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z") // projection after sort: order survives, key isn't stored
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction — the OPTIMIZE / segment-merge maintenance
    * pass a continuously-appended store needs (the streaming ingest path
    * appends one file set per micro-batch forever; the reference's
    * vector store runs segment merges for the same reason). Rewrites
    * ONLY the partition directories whose parquet file count exceeds
    * `maxFiles`, coalescing each to `filesPerPartition` files re-sorted
    * on `sortCols` (restoring the row-group min/max selectivity that
    * interleaved appends destroy). Every other directory's files stay
    * byte-identical: the rewrite goes through dynamic partition
    * overwrite scoped to the needy directories ([[backfillPartitions]]'
    * repair discipline).
    *
    * Physical shape at 100 TB: the driver-side listing is per-directory
    * metadata only; the data pass reads JUST the needy partitions
    * (partition-pruned scan — the predicate is on partition columns, so
    * unaffected directories are never opened), one exchange clustered by
    * partition dir, in-partition sort, dynamic overwrite of those
    * directories. Compaction cost scales with the mess, not the store.
    *
    * Returns the compacted directory names (relative, `col=val` form) so
    * an ops loop can log/alert on them; empty when nothing crossed the
    * threshold (and then the store is untouched entirely).
    *
    * Partition-value encoding: directory segments are unescaped with
    * Hive's `%xx` convention before the equality predicate (Spark escapes
    * `:`/`space`/etc. when writing `col=val` dirs — a date-hour partition
    * like `hour=2024-01-01 10%3A00` must compare against the DECODED
    * value), and `__HIVE_DEFAULT_PARTITION__` maps to IS NULL.
    */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String],
      maxFiles: Int,
      filesPerPartition: Int = 1): Seq[String] = {
    require(partitionCols.nonEmpty, "compaction scopes by partition dirs")
    require(maxFiles >= 1 && filesPerPartition >= 1)
    val needy = fileCounts(spark, path).filter(_._2 > maxFiles).keys.toSeq.sorted
    if (needy.isEmpty) return Nil
    // "tool=click/date=2024-01-01" → (tool=click AND date=2024-01-01); the
    // per-directory conjunctions OR together into one pruned scan
    val pred = needy.map { dir =>
      dir.split("/").map { seg =>
        val Array(k, v) = seg.split("=", 2)
        val dv = unescapePathValue(v)
        if (dv == null) col(k).isNull else col(k) === lit(dv)
      }.reduce(_ && _)
    }.reduce(_ || _)
    val subset = read(spark, path).where(pred)
    val split =
      if (filesPerPartition == 1) Nil
      else if (sortCols.nonEmpty)
        Seq(pmod(hash(col(sortCols.head)), lit(filesPerPartition)))
      else Seq(pmod(spark_partition_id(), lit(filesPerPartition)))
    val clustered = subset.repartition(partitionCols.map(col) ++ split: _*)
    val sorted =
      if (sortCols.isEmpty) clustered
      else clustered.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try sorted.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally spark.conf.set(key, prev)
    needy
  }

  /** Targeted key deletion — the right-to-be-forgotten / takedown shape:
    * remove every row whose `keyCol` appears in `keys`, rewriting ONLY
    * the partition directories that actually contain those keys. At
    * 100 TB this is the difference between rewriting a handful of
    * directories and rewriting the store; the deletion list is
    * broadcast-sized by nature (a legal request, not a corpus), so the
    * anti-join never shuffles the store side beyond the pruned subset.
    *
    * Mechanics: (1) semi-join finds the affected partition-value tuples
    * (collected — bounded by the partition count, same bound as
    * [[fileCounts]]); (2) an OR-of-conjunctions predicate prunes the
    * re-read to those directories; (3) survivors (anti-join) overwrite
    * just those partitions in dynamic mode. A partition whose EVERY row
    * is deleted cannot be expressed by dynamic overwrite (there is
    * nothing to write), so those directories are removed explicitly —
    * the edge every takedown tool must handle, spec-pinned.
    *
    * Returns (rewritten partition dirs, removed partition dirs).
    */
  def deleteKeys(spark: SparkSession, path: String,
      partitionCols: Seq[String], keyCol: String,
      keys: DataFrame): (Seq[String], Seq[String]) = {
    require(partitionCols.nonEmpty, "targeted delete scopes by partition dirs")
    val keyList = keys.select(col(keyCol)).distinct()
    val store = read(spark, path)
    def values(df: DataFrame): Seq[Seq[String]] = df
      .select(partitionCols.map(col): _*).distinct().collect().toSeq
      .map(r => partitionCols.indices
        .map(i => if (r.isNullAt(i)) null else r.get(i).toString))
    val affected = values(store.join(keyList, Seq(keyCol), "left_semi"))
    if (affected.isEmpty) return (Nil, Nil)
    // dir name ↔ partition values via the directory listing itself — no
    // escape round-trip to get wrong
    val dirByValues: Map[Seq[String], String] =
      fileCounts(spark, path).keys.map { dir =>
        dir.split("/").toSeq.map(seg =>
          unescapePathValue(seg.split("=", 2)(1))) -> dir
      }.toMap
    val pred = affected.map { vs =>
      partitionCols.zip(vs).map { case (c, v) =>
        if (v == null) col(c).isNull else col(c) === lit(v)
      }.reduce(_ && _)
    }.reduce(_ || _)
    val subset = store.where(pred)
    val survivors = subset.join(broadcast(keyList), Seq(keyCol), "left_anti")
    val kept = values(survivors).toSet
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try survivors.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(path)
    finally spark.conf.set(key, prev)
    val emptied = affected.filterNot(kept)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val removed = emptied.flatMap(dirByValues.get)
    removed.foreach(dir => fs.delete(
      new org.apache.hadoop.fs.Path(s"$path/$dir"), true))
    (affected.filter(kept).flatMap(dirByValues.get).sorted, removed.sorted)
  }

  /** Highest-random-weight (rendezvous) shard assignment — Thaler &
    * Ravishankar 1998: a key lands on argmax_s hash(s, key), which gives
    * consistent hashing's minimal-movement property with NO ring state:
    * growing N → N+1 shards moves ONLY the keys whose new-shard hash
    * wins, an expected 1/(N+1) of them, and every moved key moves TO the
    * new shard (spec-pinned — the property that makes resharding a
    * targeted copy instead of a full rewrite). Pure per-row Column tree
    * under the pinned md5 family: shuffle-free, engine-exact,
    * partitioning-independent. Ties (equal 60-bit hashes) break to the
    * higher shard id via the struct compare; at 2^-60 per pair they are
    * cosmetic.
    */
  def hrwShard(key: Column, shards: Int): Column = {
    require(shards >= 1 && shards <= 1024)
    import graft.functions.HashFunctions
    array_max(array((0 until shards).map(s =>
      struct(HashFunctions.hash64(key.cast("string"), seed = s).as("h"),
        lit(s).as("s"))): _*)).getField("s")
  }

  /** Per-partition content digest for anti-entropy repair: digest =
    * Σ hash64(row) mod (2^61−1) — a SUM of pinned row hashes is
    * ORDER-INDEPENDENT, so two replicas agree iff their partition
    * content agrees (up to 2^-61 collisions), whatever their physical
    * layout, row order, or engine. The sum runs through DECIMAL(38)
    * (Σ of 60-bit hashes overflows int64 at ~8 rows; 10^9-row
    * partitions stay 11 digits under the decimal ceiling) and the mod
    * brings it back to an int64 — exact on both engines.
    *
    * Row serialization is `concat_ws` over `cols` with a 
    * separator (unambiguous unless a value embeds the control char —
    * escape first if one can). Digest INTEGER/STRING columns only:
    * float → string formatting is NOT engine-identical; route doubles
    * through a fixed-scale decimal cast if they must participate. One
    * combiner-heavy
    * aggregation; digests, not rows, cross the network — the Merkle
    * principle flattened to one level, which is what a partitioned
    * store actually needs (the partition IS the repair unit).
    */
  def contentDigest(df: DataFrame, partitionCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty && cols.nonEmpty)
    import graft.functions.HashFunctions
    val row = HashFunctions.hash64(
      concat_ws("", cols.map(c => col(c).cast("string")): _*))
    df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(row.cast("decimal(38,0)")),
          lit(2305843009213693951L).cast("decimal(38,0)"))
          .cast("long").as("digest"))
  }

  /** Anti-entropy diff of two replicas from their digests alone:
    * (partitionCols..., n_a, n_b, digest_match). A full-outer join of
    * two digest relations — partition-count rows, never data rows; the
    * divergent partitions are the repair set
    * ([[backfillPartitions]] / [[deleteKeys]] then fix exactly those).
    */
  def digestDiff(a: DataFrame, b: DataFrame, partitionCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    val da = contentDigest(a, partitionCols, cols)
      .withColumnsRenamed(Map("n_rows" -> "n_a", "digest" -> "dig_a"))
    val db = contentDigest(b, partitionCols, cols)
      .withColumnsRenamed(Map("n_rows" -> "n_b", "digest" -> "dig_b"))
    da.join(db, partitionCols, "full_outer")
      .select(partitionCols.map(col) :+
        coalesce(col("n_a"), lit(0L)).as("n_a") :+
        coalesce(col("n_b"), lit(0L)).as("n_b") :+
        (col("dig_a") <=> col("dig_b")).as("digest_match"): _*)
  }

  /** Hive-style `%xx` unescape for partition directory VALUES (the
    * convention Spark writes `col=val` segments with — NOT URL encoding:
    * `+` stays literal). Returns null for the null-partition sentinel.
    */
  private[sink] def unescapePathValue(v: String): String = {
    if (v == "__HIVE_DEFAULT_PARTITION__") return null
    if (!v.contains('%')) return v
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length) {
        // %xx with two hex digits → decoded char; malformed % stays literal
        val hex = v.substring(i + 1, i + 3)
        if (hex.forall(h => Character.digit(h, 16) >= 0)) {
          sb.append(Integer.parseInt(hex, 16).toChar); i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** (partitionDirectory → parquet file count) for layout assertions —
    * driver-side listing, test/ops use only.
    */
  def fileCounts(spark: SparkSession, path: String): Map[String, Int] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = f.getPath.getParent.toString.stripPrefix(fs.makeQualified(root).toString)
        val dir = rel.stripPrefix("/")
        counts(dir) = counts.getOrElse(dir, 0) + 1
      }
    }
    counts.toMap
  }

  /** File-skipping pre-flight for [[writeZOrdered]]: how many of
    * `numBuckets` equal-size files would a box predicate
    * `a ∈ [loA,hiA] AND b ∈ [loB,hiB]` have to READ (footer min/max
    * intersection) under a z-order layout vs a plain sort on `colA`?
    * Buckets are the LOGICAL files — ntile over the layout's sort order —
    * so the answer is a pure function of the data, independent of any
    * physical write (deterministic, oracle-checkable, and runnable as a
    * cheap audit BEFORE rewriting a 100 TB store; at that scale run it on
    * a sample — the bucket min/max geometry converges fast).
    *
    * Output: (layout, box, n_buckets, n_hit) per layout × box. The
    * classic result this surfaces: a single-column sort prunes ITS column
    * only (an orthogonal box hits every file), z-order makes every file a
    * bounded rectangle so boxes on either dimension prune.
    *
    * Rows tying on (key, a, b) are interchangeable across a bucket
    * boundary with identical min/max stats, so ntile's tie placement
    * never changes the audit. The global ntile window is the audit's
    * one exchange — fine for a pre-flight; the production write path is
    * [[writeZOrdered]]'s range exchange.
    */
  def zOrderPruningAudit(df: DataFrame, colA: String, colB: String,
      bits: Int, numBuckets: Int,
      boxes: Seq[(String, Long, Long, Long, Long)]): DataFrame = {
    require(numBuckets >= 1 && boxes.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(colA).cast("long").as("a"),
      col(colB).cast("long").as("b"))
    val boxDf = broadcast(boxes.toDF("box", "lo_a", "hi_a", "lo_b", "hi_b"))
    def layoutHits(layout: String, key: Column): DataFrame =
      src
        .withColumn("bkt", ntile(numBuckets).over(
          Window.orderBy(key, col("a"), col("b"))))
        .groupBy(col("bkt"))
        .agg(min(col("a")).as("min_a"), max(col("a")).as("max_a"),
          min(col("b")).as("min_b"), max(col("b")).as("max_b"))
        .crossJoin(boxDf)
        .groupBy(col("box"))
        .agg(sum(when(col("max_a") >= col("lo_a") && col("min_a") <= col("hi_a") &&
          col("max_b") >= col("lo_b") && col("min_b") <= col("hi_b"), 1L)
          .otherwise(0L)).as("n_hit"))
        .select(lit(layout).as("layout"), col("box"),
          lit(numBuckets.toLong).as("n_buckets"), col("n_hit"))
    layoutHits("linear", col("a"))
      .unionByName(layoutHits("zorder", zOrder2(col("a"), col("b"), bits)))
      .orderBy(col("layout"), col("box"))
  }
}
