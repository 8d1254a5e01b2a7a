package graft

import graft.functions.HashFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Store layouts, CDC and slowly changing dimensions (`store_*`). */
private[graft] object StoreGates {
  import GateHelpers._

  val gates: Seq[Gate] = Seq(

    // Anti-entropy digest diff: two replicas compared by per-partition
    // Σ hash64(row) mod 2^61−1 — order-independent, so replicas agree
    // iff content agrees whatever the layout; only the corrupted
    // partition (clicks, user_id skewed) reads divergent, and only
    // digests ever cross the network.
    Gate("store_digest_diff", (s, d) => {
      val a = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"))
      val b = a.withColumn("user_id",
        when(col("event_type") === "click", col("user_id") + 1)
          .otherwise(col("user_id")))
      graft.sink.StoreLayout.digestDiff(a, b, Seq("event_type"),
        Seq("event_id", "user_id"))
        .orderBy(col("event_type"))
    },
    // order-independent modular hash sums per partition; HUGEINT carries
    // the sum exactly, the mod returns to int64
    {
      val ha = sqlHash64("CAST(event_id AS VARCHAR) || chr(1) || CAST(user_id AS VARCHAR)")
      val hb = sqlHash64("CAST(event_id AS VARCHAR) || chr(1) || CAST(u2 AS VARCHAR)")
      s"""WITH da AS (SELECT event_type, COUNT(*) AS n_a,
         |    CAST(CAST(SUM($ha) AS HUGEINT) % 2305843009213693951 AS BIGINT)
         |      AS dig_a
         |  FROM events GROUP BY 1),
         |b AS (SELECT event_type, event_id,
         |    CASE WHEN event_type = 'click' THEN user_id + 1 ELSE user_id END
         |      AS u2 FROM events),
         |db AS (SELECT event_type, COUNT(*) AS n_b,
         |    CAST(CAST(SUM($hb) AS HUGEINT) % 2305843009213693951 AS BIGINT)
         |      AS dig_b
         |  FROM b GROUP BY 1)
         |SELECT da.event_type, n_a, n_b, dig_a = dig_b AS digest_match
         |FROM da JOIN db USING (event_type) ORDER BY event_type""".stripMargin
    }),

    // RLE advisor: run counts per column under a shipdate sort — the
    // "sort by X before writing" columnar-encoding pre-flight; flag
    // columns RLE well under a date sort, the key column doesn't.
    Gate("store_rle_advisor", (s, d) => {
      operators.Profiling.runLengthAudit(Tables.lineitem(s, d),
        Seq("l_shipdate", "l_orderkey", "l_linenumber"),
        Seq("l_returnflag", "l_linestatus", "l_suppkey"))
        .orderBy(col("value_col"))
    },
    // null-safe run boundaries under the identical total order
    {
      val cols = Seq("l_returnflag", "l_linestatus", "l_suppkey")
      val ctes = cols.zipWithIndex.map { case (c, i) =>
        s"""w$i AS (SELECT CASE WHEN $c IS NOT DISTINCT FROM LAG($c)
           |    OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
           |    THEN 0 ELSE 1 END AS chg FROM lineitem),
           |a$i AS (SELECT '$c' AS value_col, COUNT(*) AS n_rows,
           |  CAST(SUM(chg) AS BIGINT) AS n_runs FROM w$i)""".stripMargin
      }.mkString(",\n")
      val unions = cols.indices.map(i => s"SELECT * FROM a$i")
        .mkString(" UNION ALL ")
      s"""WITH $ctes,
         |u AS ($unions)
         |SELECT value_col, n_rows, n_runs,
         |  (n_rows * 1000) // GREATEST(n_runs, 1) AS avg_run_x1000
         |FROM u ORDER BY value_col""".stripMargin
    }),

    // Partition-layout advisor: dir-count / balance / skew verdicts for
    // four candidate partition expressions — the "which column do I
    // partitionBy" question measured before the first write bakes a bad
    // layout into 100 TB of directories.
    Gate("store_partition_advisor", (s, d) => {
      operators.Profiling.partitionAdvisor(Tables.events(s, d), Seq(
        ("event_type", col("event_type")),
        ("event_date", to_date(col("ts"))),
        ("user_id", col("user_id")),
        ("user_mod_7", pmod(col("user_id"), lit(7)))))
        .orderBy(col("candidate"))
    },
    // per-candidate count relations; FLOOR before the int cast (duck's
    // double→int cast rounds, Spark's truncates); integer skew compare
    {
      val cands = Seq(
        ("event_type", "event_type"),
        ("event_date", "CAST(ts AS DATE)"),
        ("user_id", "user_id"),
        ("user_mod_7", "user_id % 7"))
      val ctes = cands.zipWithIndex.map { case ((name, ex), i) =>
        s"""g$i AS (SELECT $ex AS pv, COUNT(*) AS c FROM events GROUP BY 1),
           |a$i AS (SELECT '$name' AS candidate, COUNT(*) AS n_partitions,
           |  CAST(SUM(c) AS BIGINT) AS n_rows, MAX(c) AS max_rows,
           |  CAST(FLOOR(quantile_cont(c, 0.5)) AS BIGINT) AS median_rows
           |  FROM g$i)""".stripMargin
      }.mkString(",\n")
      val unions = cands.indices.map(i => s"SELECT * FROM a$i")
        .mkString(" UNION ALL ")
      s"""WITH $ctes,
         |u AS ($unions)
         |SELECT candidate, n_partitions, n_rows, max_rows, median_rows,
         |  (max_rows * 1000) // GREATEST(median_rows, 1) AS skew_x1000,
         |  n_partitions > 10000 AS too_many,
         |  (max_rows * 1000) // GREATEST(median_rows, 1) > 10000 AS skewed
         |FROM u ORDER BY candidate""".stripMargin
    }),

    // Write-path layout roundtrip: the store is REALLY written in the
    // optimized layout (partitionBy + repartition-clustered +
    // sortWithinPartitions + maxRecordsPerFile) and read back — content
    // must be byte-identical to the source (layout never changes data).
    Gate("store_layout_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), col("ts"))
      val path = scratch("layout", d)
      graft.sink.StoreLayout.writeOptimized(src, path,
        partitionCols = Seq("event_type"), sortCols = Seq("ts"),
        maxRecordsPerFile = 250000)
      graft.sink.StoreLayout.read(s, path)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },
      // layout preserves content exactly — the oracle is the raw source
      """SELECT event_id, event_type, user_id, value
        |FROM events ORDER BY event_id""".stripMargin),

    // Schema-evolution roundtrip: v1 files lack a column that later v2
    // files carry (the additive-column migration every long-lived store
    // goes through); `mergeSchema` must union the parquet footers and
    // null-fill the old files — no rewrite of v1 data. The read-side
    // contract of schema evolution, checked against a plain UNION
    // oracle. At 100 TB the same read works because merging happens on
    // FOOTERS (file-count-sized), never data.
    Gate("store_schema_merge", (s, d) => {
      val o = Tables.orders(s, d)
      val path = scratch("schemamerge", d)
      o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(path)
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },
      // old files surface the evolved column as NULL, new files carry it
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin),

    // Dynamic partition pruning: the fact store is partitioned by
    // event_type and joined to a dim whose qualifying types are only
    // known at RUNTIME (an aggregate-derived filter — nothing Catalyst
    // can fold to a static IN list), so the fact scan must be pruned by
    // the DPP subquery, not a literal predicate. At 100 TB this is the
    // star-join pattern: the dim filter decides which partitions of the
    // fact table are ever read. PlanShapeSpec pins the
    // dynamicpruningexpression in the scan.
    Gate("store_dpp_join", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"))
      val path = scratch("dpp", d)
      src.write.mode("overwrite").partitionBy("event_type").parquet(path)
      // types whose mean value clears 50, phrased as an EXACT decimal
      // margin (Σcents − 50·n > 0) and — critically for DPP — filtered
      // as one attribute vs a literal: Spark's PartitionPruning only
      // fires on likely-selective predicates, and a three-attribute
      // comparison is not one (measured: tot·k > g planned NO pruning,
      // margin > 0 plans the dynamicpruningexpression)
      val dim = Tables.events(s, d).groupBy(col("event_type"))
        .agg((sum(col("value").cast("decimal(18,2)")) -
          lit(50) * count(lit(1))).as("margin"))
        .where(col("margin") > 0)
        .select(col("event_type"))
      s.read.parquet(path)
        .join(dim, "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    },
      // mean-over-50 types via the exact decimal margin; pruned join
      """WITH dim AS (SELECT event_type FROM (
        |    SELECT event_type,
        |      SUM(CAST(value AS DECIMAL(18,2))) - 50 * COUNT(*) AS margin
        |    FROM events GROUP BY 1) WHERE margin > 0)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Backfill roundtrip: write the store partitioned by event_type,
    // then dynamic-overwrite ONLY the click partition with corrected
    // values — other partitions' files stay physically untouched
    // (spec-asserted); content equality checked here.
    Gate("store_backfill_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      val path = scratch("backfill", d)
      graft.sink.StoreLayout.writeOptimized(src, path,
        partitionCols = Seq("event_type"), sortCols = Seq("event_id"))
      val fix = src.where(col("event_type") === "click")
        .withColumn("value", round(col("value") * 2, 6))
      graft.sink.StoreLayout.backfillPartitions(fix, path, Seq("event_type"))
      graft.sink.StoreLayout.read(s, path)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },
      // post-backfill content: clicks corrected, everything else verbatim
      """SELECT event_id, event_type, user_id,
        |  CASE WHEN event_type = 'click' THEN ROUND(value * 2, 6)
        |    ELSE value END AS value
        |FROM events ORDER BY event_id""".stripMargin),

    // HRW (rendezvous) resharding audit: per-key shard at N=8 and N=9 —
    // the minimal-movement contract of consistent hashing with no ring
    // state: ~1/9 of keys move, every one TO the new shard (spec-pinned).
    Gate("store_shard_rebalance", (s, d) => {
      docs(s, d).select(col("doc_id"))
        .select(col("doc_id"),
          graft.sink.StoreLayout.hrwShard(col("doc_id"), 8).as("shard8"),
          graft.sink.StoreLayout.hrwShard(col("doc_id"), 9).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
        .orderBy(col("doc_id"))
    },
    // same seed-prefixed md5 argmax, ties to higher shard id
    {
      val h = sqlHash64("CAST(sh.s AS VARCHAR) || ':' || k.k")
      def assign(n: Int, name: String) =
        s"""$name AS (SELECT doc_id, CAST(s AS INTEGER) AS $name FROM (
           |  SELECT k.doc_id, sh.s, ROW_NUMBER() OVER (
           |    PARTITION BY k.doc_id ORDER BY $h DESC, sh.s DESC) AS rn
           |  FROM k, (SELECT unnest(generate_series(0, ${n - 1})) AS s) sh)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH k AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS k FROM documents),
         |${assign(8, "shard8")},
         |${assign(9, "shard9")}
         |SELECT k.doc_id, shard8.shard8, shard9.shard9,
         |  shard8.shard8 <> shard9.shard9 AS moved
         |FROM k JOIN shard8 USING (doc_id) JOIN shard9 USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),

    // Equi-depth range boundaries for repartitionByRange planning: ntile
    // over a TOTAL order (price, tiebreak key) → per-range counts
    // balanced to ±1 and the min/max boundary values — the range-exchange
    // planner's input, engine-exact because ntile over a total order
    // leaves no tie freedom.
    Gate("store_range_boundaries", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_totalprice"), col("o_orderkey"))
        .withColumn("range_id", ntile(8).over(w).cast("long"))
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("o_totalprice")), 6).as("lo"),
          round(max(col("o_totalprice")), 6).as("hi"))
        .orderBy(col("range_id"))
    },
      // identical total order → identical ntile cut points
      """WITH t AS (SELECT o_totalprice, o_orderkey,
        |    NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS range_id
        |  FROM orders)
        |SELECT range_id, COUNT(*) AS n_rows,
        |  ROUND(MIN(o_totalprice), 6) AS lo, ROUND(MAX(o_totalprice), 6) AS hi
        |FROM t GROUP BY 1 ORDER BY range_id""".stripMargin),

    // Right-to-be-forgotten roundtrip: delete every row of a key set
    // (user_id ending in 3) from a partitioned store, rewriting ONLY the
    // directories that contain those keys — the takedown shape at 100 TB
    // (a legal request is broadcast-sized; the store rewrite is pruned).
    // Read-back must equal the source minus the keys; the
    // full-partition-deletion edge (dynamic overwrite can't write an
    // empty partition) is spec-pinned with constructed data.
    Gate("store_delete_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"))
      val path = scratch("delete", d)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.sink.StoreLayout.writeOptimized(src, path,
        partitionCols = Seq("event_type"), sortCols = Seq("event_id"))
      graft.sink.StoreLayout.deleteKeys(s, path, Seq("event_type"),
        "user_id", src.where(col("user_id") % 10 === 3).select(col("user_id")))
      graft.sink.StoreLayout.read(s, path)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },
      // deletion is exact: content equals the source minus the key set
      """SELECT event_id, event_type, user_id, value
        |FROM events WHERE user_id % 10 <> 3 ORDER BY event_id""".stripMargin),

    // CDC apply — the MERGE primitive: events replayed as an I/U/D
    // changelog keyed by user (error = delete), highest (ts, event_id)
    // wins, winning deletes drop the key. The batch-replay form of
    // MERGE INTO, engine-exact.
    Gate("store_cdc_apply", (s, d) => {
      val log = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
      operators.Scd.cdcApply(log, "user_id", Seq("ts", "event_id"), "op")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          round(col("value"), 6).as("last_value"))
        .orderBy(col("user_id"))
    },
      // last (ts, event_id) per user wins; winning error = delete
      cdcApplySql),

    // OPTIMIZE roundtrip (round-7 #4): 4 append batches fragment every
    // tool directory (the streaming-ingest small-files shape), compaction
    // coalesces each needy directory to ONE sorted file via dynamic
    // partition overwrite, and the read-back must hash-equal the plain
    // source — compaction is pure physical maintenance, invisible to
    // results. StoreLayoutSpec pins the physical side (file counts drop,
    // untouched directories byte-identical).
    Gate("store_compact_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), col("ts"))
      val path = scratch("compact", d)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      for (b <- 0 until 4)
        graft.sink.StoreLayout.writeOptimized(
          src.where(pmod(col("event_id"), lit(4)) === b), path,
          partitionCols = Seq("event_type"), sortCols = Seq("ts"),
          mode = "append")
      graft.sink.StoreLayout.compactPartitions(s, path,
        partitionCols = Seq("event_type"), sortCols = Seq("ts"), maxFiles = 1)
      graft.sink.StoreLayout.read(s, path)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },
      // compaction is physical-only: content equals the plain source
      """SELECT event_id, event_type, user_id, value
        |FROM events ORDER BY event_id""".stripMargin),

    // Z-order layout roundtrip: events clustered by the Morton key of
    // (user_id, hour-of-day) — every output file a bounded 2-D rectangle,
    // so either-dimension range scans skip files via footer min/max
    // (locality asserted in StoreLayoutSpec; content equality here).
    // Z-order file-skipping pre-flight: logical-bucket min/max pruning
    // for two box predicates under zorder vs a plain user_id sort — the
    // audit that justifies (or rejects) a 100 TB layout rewrite. The
    // hour-band box hits every linear file but a fraction of z files.
    Gate("store_zorder_pruning", (s, d) => {
      graft.sink.StoreLayout.zOrderPruningAudit(
        Tables.events(s, d).select(col("user_id"), hour(col("ts")).as("hr")),
        "user_id", "hr", bits = 11, numBuckets = 64,
        boxes = Seq(("hours_9_10", 0L, 100000L, 9L, 10L),
          ("users_10_19", 10L, 19L, 0L, 23L)))
    },
    // same Morton interleave (bit i of a → 2i, of b → 2i+1; disjoint bits
    // so + is |), same ntile bucketing, same min/max box intersection
    {
      val z = (0 until 11).map(i =>
        s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      def layer(name: String, from: String) =
        s"""SELECT '$name' AS layout, bx.box,
           |  CAST(64 AS BIGINT) AS n_buckets,
           |  CAST(SUM(CASE WHEN maxa >= bx.lo_a AND mina <= bx.hi_a
           |    AND maxb >= bx.lo_b AND minb <= bx.hi_b THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           |FROM $from, boxes bx GROUP BY bx.box""".stripMargin
      s"""WITH src AS (SELECT CAST(user_id AS BIGINT) AS a,
         |    CAST(hour(ts) AS BIGINT) AS b FROM events),
         |boxes(box, lo_a, hi_a, lo_b, hi_b) AS (VALUES
         |  ('hours_9_10', 0, 100000, 9, 10),
         |  ('users_10_19', 10, 19, 0, 23)),
         |lin AS (SELECT ntile(64) OVER (ORDER BY a, b) AS bkt, a, b FROM src),
         |linb AS (SELECT bkt, MIN(a) AS mina, MAX(a) AS maxa,
         |  MIN(b) AS minb, MAX(b) AS maxb FROM lin GROUP BY bkt),
         |zsrc AS (SELECT a, b, $z AS zv FROM src),
         |zo AS (SELECT ntile(64) OVER (ORDER BY zv, a, b) AS bkt, a, b FROM zsrc),
         |zb AS (SELECT bkt, MIN(a) AS mina, MAX(a) AS maxa,
         |  MIN(b) AS minb, MAX(b) AS maxb FROM zo GROUP BY bkt)
         |${layer("linear", "linb")}
         |UNION ALL
         |${layer("zorder", "zb")}
         |ORDER BY layout, box""".stripMargin
    }),

    Gate("store_zorder_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          hour(col("ts")).as("hr"), col("value"))
      val path = scratch("zorder", d)
      graft.sink.StoreLayout.writeZOrdered(src, path, "user_id", "hr",
        numFiles = 16)
      graft.sink.StoreLayout.read(s, path)
        .orderBy(col("event_id"))
    },
      // z-order also preserves content exactly; locality is spec-gated
      """SELECT event_id, user_id, CAST(hour(ts) AS INT) AS hr, value
        |FROM events ORDER BY event_id""".stripMargin),

    // Bucketed co-located join: both stores written bucketBy(memory_id),
    // so the store×scores equi-join plans with NO exchange on either side
    // (asserted in StoreLayoutSpec) — the shape that replaces a full
    // two-sided shuffle at 100 TB. The gate round-trips real bucketed
    // writes and checks the joined content.
    Gate("store_bucketed_join", (s, d) => {
      val work = scratch("bucketed", d)
      val mem = memories(s, d)
      graft.sink.StoreLayout.writeBucketed(
        mem.select(col("memory_id"), col("tool"), col("value")),
        "graft_mem_store", s"$work/mem", "memory_id", 8)
      graft.sink.StoreLayout.writeBucketed(
        mem.select(col("memory_id"), round(col("value") * 2.0, 6).as("score")),
        "graft_mem_scores", s"$work/scores", "memory_id", 8)
      s.table("graft_mem_store")
        .join(s.table("graft_mem_scores"), Seq("memory_id"))
        .orderBy(col("memory_id").cast("long"))
    },
      // bucketing never changes data — the oracle is the plain join
      """SELECT CAST(event_id AS VARCHAR) AS memory_id, event_type AS tool,
        |  value, ROUND(value * 2.0, 6) AS score
        |FROM events ORDER BY event_id""".stripMargin),

    // SCD Type-2 dimension build: user event stream → minimal validity-
    // interval history (consecutive identical states collapse). One
    // shuffle on the key; all windows share its sort. Sliced to a stable
    // user subset to bound the compare.
    Gate("store_scd2", (s, d) => {
      operators.Scd.buildScd2(
        Tables.events(s, d).where(col("user_id") % 17 === 0),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        stateCols = Seq("event_type", "value"))
        .orderBy(col("user_id"), col("version"))
    },
      // identical history build: per-field IS DISTINCT FROM mirrors the
      // null-safe struct compare; first row's NULL lag flags as a change
      scd2Sql),

    // Incremental SCD2: dimension built from the first half-month, the
    // second half folded in with applyScd2 — output must equal the full
    // rebuild row for row (the oracle is the full-rebuild SQL).
    Gate("store_scd2_incremental", (s, d) => {
      val e = Tables.events(s, d).where(col("user_id") % 17 === 0)
      val dim = operators.Scd.buildScd2(e.where(col("ts") < "2024-01-16"),
        "user_id", "ts", "event_id", Seq("event_type", "value"))
      operators.Scd.applyScd2(dim, e.where(col("ts") >= "2024-01-16"),
        "user_id", "ts", "event_id", Seq("event_type", "value"))
        .orderBy(col("user_id"), col("version"))
    },
      // incremental fold == full rebuild, row for row — the oracle IS the
      // full-rebuild SQL, verbatim
      scd2Sql),

    // Snapshot changelog: full-outer key join of two order snapshots →
    // added/removed/changed rows (column-wise null-safe compare, no
    // serialized hashes). Snapshot B synthesizes changes: price bump for
    // orderkey%97, dropped rows for orderkey%89=1, plus a half-year of
    // genuinely new orders.
    Gate("store_snapshot_diff", (s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val before = base.where(col("o_orderdate") < "1997-01-01")
        .drop("o_orderdate")
      val after = base.where(col("o_orderdate") < "1997-07-01")
        .where(col("o_orderkey") % 89 =!= 1).drop("o_orderdate")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, round(col("o_totalprice") * 2, 2))
            .otherwise(col("o_totalprice")))
      operators.Scd.diffSnapshots(before, after, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
      // identical snapshot synthesis + column-wise null-safe compare
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        |a AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 0 THEN ROUND(o_totalprice * 2, 2)
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-07-01' AND o_orderkey % 89 <> 1),
        |j AS (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |         WHEN a.o_orderkey IS NULL THEN 'removed'
        |         WHEN (b.o_orderstatus IS DISTINCT FROM a.o_orderstatus)
        |           OR (b.o_totalprice IS DISTINCT FROM a.o_totalprice) THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
        |SELECT o_orderkey, status FROM j WHERE status <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin),

    // Shard-resize stability: mod-hash vs rendezvous (HRW) routing when
    // k goes 10 → 11 — THE reason consistent schemes exist: mod reshuffles
    // ~k/(k+1) of all keys (a 100 TB re-layout), rendezvous moves only
    // the ~1/(k+1) that the new shard wins (argmax over per-(key,shard)
    // hashes, deterministic). One explode to k+1 rows per key for the
    // HRW argmax; the census is two integers per scheme.
    Gate("store_rendezvous_audit", (s, d) => {
      val keys = docs(s, d).select(col("doc_id")).localCheckpoint()
      val n = keys.count()
      def hrw(k: Int) = keys
        .withColumn("shard", explode(typedLit((0 until k).toList)))
        .withColumn("h", HashFunctions.hash64(concat(
          col("doc_id").cast("string"), lit("#rdv#"),
          col("shard").cast("string"))))
        .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("h").desc, col("shard"))))
        .where(col("rk") === 1)
        .select(col("doc_id"), col("shard"))
      val hrwMoved = hrw(10).withColumnRenamed("shard", "s10")
        .join(hrw(11).withColumnRenamed("shard", "s11"), "doc_id")
        .agg(sum(when(col("s10") =!= col("s11"), 1).otherwise(0))
          .cast("long").as("n_moved"))
        .withColumn("scheme", lit("rendezvous"))
      val modMoved = keys
        .withColumn("h", HashFunctions.hash64(concat(
          col("doc_id").cast("string"), lit("#mod"))))
        .agg(sum(when(pmod(col("h"), lit(10)) =!= pmod(col("h"), lit(11)),
          1).otherwise(0)).cast("long").as("n_moved"))
        .withColumn("scheme", lit("mod"))
      hrwMoved.unionByName(modMoved)
        .select(col("scheme"), lit(n).as("n_keys"), col("n_moved"),
          expr(s"(1000000 * n_moved) div $n").as("moved_ppm"))
        .orderBy(col("scheme"))
    },
    {
      val hr = sqlHash64(
        "CAST(doc_id AS VARCHAR) || '#rdv#' || CAST(shard AS VARCHAR)")
      val hm = sqlHash64("CAST(doc_id AS VARCHAR) || '#mod'")
      def hrwCte(k: Int, name: String) =
        s"""$name AS (
           |  SELECT doc_id, shard FROM (
           |    SELECT k.doc_id, s.shard,
           |      ROW_NUMBER() OVER (PARTITION BY k.doc_id
           |        ORDER BY $hr DESC, s.shard) AS rn
           |    FROM keys k, (SELECT unnest(range(0, $k)) AS shard) s)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH keys AS (SELECT doc_id FROM documents),
         |n AS (SELECT COUNT(*) AS n FROM keys),
         |${hrwCte(10, "a10")},
         |${hrwCte(11, "a11")},
         |hrw AS (
         |  SELECT 'rendezvous' AS scheme,
         |    CAST(SUM(CASE WHEN a10.shard <> a11.shard THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved
         |  FROM a10 JOIN a11 USING (doc_id)),
         |md AS (
         |  SELECT 'mod' AS scheme,
         |    CAST(SUM(CASE WHEN (($hm % 10) + 10) % 10
         |      <> (($hm % 11) + 11) % 11 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_moved
         |  FROM keys),
         |u AS (SELECT * FROM hrw UNION ALL SELECT * FROM md)
         |SELECT scheme, (SELECT n FROM n) AS n_keys, n_moved,
         |  CAST((1000000 * n_moved) // (SELECT n FROM n) AS BIGINT)
         |    AS moved_ppm
         |FROM u ORDER BY scheme""".stripMargin
    }),
  )
}
