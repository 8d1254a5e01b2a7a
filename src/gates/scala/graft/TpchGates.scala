package graft

import graft.operators.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-H-style relational core and the SQL-feature gates over the TPC-H tables (`q*`, `orders_*`, `customer_*`). */
private[graft] object TpchGates {
  import GateHelpers._

  val gates: Seq[Gate] = Seq(

    // ---- TPC-H-style relational core (scan/filter/agg/join/sort) ----

    // A-agg family: hash aggregate with map-side combine; decimal sums are
    // order-independent so results are stable under any partitioning.
    Gate("q1_pricing_summary", (s, d) => {
      val l = Tables.lineitem(s, d)
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 4))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F3/F5 range predicates — all pushed to the parquet scan.
    Gate("q6_forecast_revenue", (s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
    },
      """SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // SQL surface of the native Catalyst expressions: register at
    // runtime (GraftFunctions.register, idempotent) and drive all three
    // through spark.sql TEXT — the SparkSessionExtensions route was
    // spec-only until this gate.
    Gate("q_sql_native_functions", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).where(col("value").isNotNull)
        .createOrReplaceTempView("events_sqlfn")
      s.sql("""
        SELECT event_id, graft_hash64(event_type) AS h,
          ROUND(cosine_sim(array(CAST(value AS DOUBLE), 1.0d),
            array(1.0d, 1.0d)), 6) AS cs,
          ROUND(dot_product(array(CAST(value AS DOUBLE), 2.0d),
            array(3.0d, 1.0d)), 6) AS dp,
          ROUND(jaro_winkler(event_type, 'page_view'), 6) AS jws
        FROM events_sqlfn ORDER BY event_id LIMIT 100""")
    },
      // hash64 twin + list math on the same literal vectors
      s"""SELECT event_id, ${sqlHash64("event_type")} AS h,
         |  ROUND(list_cosine_similarity([CAST(value AS DOUBLE), 1.0],
         |    [1.0, 1.0]), 6) AS cs,
         |  ROUND(list_dot_product([CAST(value AS DOUBLE), 2.0],
         |    [3.0, 1.0]), 6) AS dp,
         |  ROUND(jaro_winkler_similarity(event_type, 'page_view'), 6) AS jws
         |FROM events WHERE value IS NOT NULL
         |ORDER BY event_id LIMIT 100""".stripMargin),

    // TPC-H Q8 national market share: every selective predicate (region,
    // part type, date range) lands on its own dim/fact BEFORE the joins;
    // all dims broadcast; the share is one decimal-sum ratio per year.
    Gate("q8_market_share", (s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val r = broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")
        .select(col("r_regionkey")))
      val p = Tables.part(s, d).where(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        .join(n1, col("c_nationkey") === col("c_nk"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
      val su = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        .join(n2, col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val o = Tables.orders(s, d)
        .where(col("o_orderdate").between(lit("1996-01-01"), lit("1997-12-31")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).as("l_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
            sum(vol).cast("double"), 6).as("mkt_share"),
          count(lit(1)).as("n"))
        .orderBy(col("l_year"))
    },
      """SELECT l_year,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
        |      THEN CAST(volume AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |    AND p_type = 'PROMO')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q2 min-cost supplier (adapted: the testdata ships no
    // partsupp, so the supply relation derives from lineitem — min unit
    // price per (part, supplier) pair). Written as the CORRELATED scalar
    // subquery, exactly as Q2 reads: Catalyst decorrelates it into a
    // per-part MIN aggregate + join (one extra pass over the derived
    // supply relation, never a per-row re-execution). Region filter hits
    // the 5-row region dim first; supplier/nation/region broadcast.
    Gate("q2_min_cost_supplier", (s, d) => {
      // the derived supply relation feeds BOTH the outer join tree and
      // the decorrelated min-subquery — persist it so the lineitem
      // aggregation runs once, not twice (CacheManager dedupes the
      // entry across repeated invocations)
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity"), 6))
          .as("ps_supplycost"))
        .persist()
        .createOrReplaceTempView("partsupp_v")
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.region(s, d).createOrReplaceTempView("region_v")
      s.sql(
        """SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
          |FROM part_v, supplier_v, partsupp_v, nation_v, region_v
          |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          |  AND p_type = 'LARGE'
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'EUROPE'
          |  AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
          |    FROM partsupp_v ps2, supplier_v s2, nation_v n2, region_v r2
          |    WHERE ps2.ps_partkey = p_partkey
          |      AND s2.s_suppkey = ps2.ps_suppkey
          |      AND s2.s_nationkey = n2.n_nationkey
          |      AND n2.n_regionkey = r2.r_regionkey
          |      AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin)
    },
      // identical correlated-min structure over the SAME derived supply
      // relation (no partsupp in the testdata; min unit price per pair)
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    MIN(ROUND(l_extendedprice / l_quantity, 6)) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
        |FROM part, supplier, partsupp, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_type = 'LARGE'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
        |    FROM partsupp ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = p_partkey
        |      AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin),

    // TPC-H Q9 product profit (adapted partsupp as in Q2): the
    // many-fact query — lineitem joins the derived supply relation AND
    // orders at data scale, with the p_name filter broadcast-pruning
    // BOTH fact inputs before either data-scale join (the classic
    // part-filter pushdown story). Profit stays DECIMAL through the sum.
    Gate("q9_product_profit", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity"), 6))
          .as("ps_supplycost"))
      val p = Tables.part(s, d).where(col("p_name").like("%red%"))
        .select(col("p_partkey"))
      val n = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("nation")))
      val su = Tables.supplier(s, d)
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("nation"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      // amount is EXACTLY a 6-decimal number in real arithmetic
      // (2dp·2dp − 6dp·integer), so a DECIMAL(18,6) cast is tie-free and
      // engine-identical — (18,4) would round at a digit where true
      // half-ties exist and Spark (half-up) disagrees with DuckDB
      // (half-even) one ulp per ~10⁴ rows
      val amount = (col("l_extendedprice") * (lit(1) - col("l_discount"))
        - col("ps_supplycost") * col("l_quantity")).cast("decimal(18,6)")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(ps.join(broadcast(p), col("ps_partkey") === col("p_partkey"))
            .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost")),
          col("l_partkey") === col("ps_partkey")
            && col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      // same derived supply relation; profit summed in DECIMAL
      """WITH partsupp AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    MIN(ROUND(l_extendedprice / l_quantity, 6)) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT nation, o_year,
        |  CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |    l_extendedprice * (1 - l_discount)
        |      - ps_supplycost * l_quantity AS amount
        |  FROM lineitem, partsupp, part, supplier, orders, nation
        |  WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |    AND p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%')
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin),

    // TPC-H Q13 customer order-count distribution: the classic LEFT
    // OUTER with the filter INSIDE the join (filtering the right side
    // before a left join ≡ an ON-clause predicate — customers with only
    // urgent orders still count as 0). Two combiner-heavy shuffles:
    // per-customer count, then the count-of-counts.
    Gate("q13_order_distribution", (s, d) => {
      val o = Tables.orders(s, d)
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      // ON-clause right-side filter ≡ pre-filtered right input
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q18 large-volume customers: the HAVING-filtered order list
    // is TINY (few orders clear the quantity threshold), so it
    // broadcasts back into orders AND lineitem — the aggregate-then-
    // semi-join shape where the second pass touches only matching rows.
    Gate("q18_large_volume", (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq_"))
        .where(col("sq_") > 180)
        .select(col("l_orderkey").as("big_okey"))
      val li = Tables.lineitem(s, d)
        .join(broadcast(big), col("l_orderkey") === col("big_okey"))
      val o = Tables.orders(s, d)
        .join(broadcast(big), col("o_orderkey") === col("big_okey"))
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      // identical aggregate-then-rejoin; quantities summed in DECIMAL
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  ROUND(o_totalprice, 2) AS o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 180)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // TPC-H Q19 disjunctive predicates: the part-only projection of the
    // OR tree ((brand, size) alternatives) prunes the part scan BEFORE
    // the broadcast join; the full disjunction (which also needs
    // l_quantity) re-evaluates post-join. One fact scan, zero shuffles
    // before the single-row aggregate.
    Gate("q19_disjunctive", (s, d) => {
      val alt1 = (col("p_brand") === "Brand#1") &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
      val alt2 = (col("p_brand") === "Brand#2") &&
        col("p_size").between(10, 30) && col("l_quantity").between(10, 35)
      val alt3 = (col("p_brand") === "Brand#3") &&
        col("p_size").between(20, 50) && col("l_quantity").between(20, 50)
      val partOnly = ((col("p_brand") === "Brand#1") && col("p_size").between(1, 15)) ||
        ((col("p_brand") === "Brand#2") && col("p_size").between(10, 30)) ||
        ((col("p_brand") === "Brand#3") && col("p_size").between(20, 50))
      val p = Tables.part(s, d).where(partOnly)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(alt1 || alt2 || alt3)
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
      // identical disjunction; revenue in DECIMAL
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 10 AND 35)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 20 AND 50))""".stripMargin),

    // TPC-H Q22 global-sales-opportunity (adapted: every synthetic
    // customer has orders, so "no orders at all" becomes "no URGENT
    // orders" — the anti-join is the point). The above-average-balance
    // comparison cross-multiplies against the exact DECIMAL (sum, count)
    // pair instead of dividing: avg-as-double would put boundary rows
    // one float ulp apart across engines.
    Gate("q22_sales_opportunity", (s, d) => {
      val nations = Seq(1, 3, 5, 7, 9, 11, 13)
      val c = Tables.customer(s, d)
        .where(col("c_nationkey").isin(nations: _*))
      val bal = c.where(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("tot_"),
          count(lit(1)).as("cnt_"))
      val urgent = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.crossJoin(broadcast(bal))
        .where(col("c_acctbal").cast("decimal(18,2)") * col("cnt_") > col("tot_"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("totacctbal"))
        .orderBy(col("c_nationkey"))
    },
      // same cross-multiplied exact-decimal above-average compare and the
      // same no-URGENT-orders anti join
      """WITH bal AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot_,
        |    COUNT(*) AS cnt_
        |  FROM customer
        |  WHERE c_acctbal > 0.0
        |    AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, bal
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND CAST(c_acctbal AS DECIMAL(18,2)) * cnt_ > tot_
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // TPC-H Q7 volume shipping: the two-nation filter lands on the TINY
    // nation dim BEFORE any fact join (suppliers/customers of other
    // nations never enter the plan), nation broadcasts, the only
    // data-scale shuffle is lineitem⋈orders; year-bucketed decimal sums.
    Gate("q7_volume_shipping", (s, d) => {
      val nations = Seq("NATION_1", "NATION_2")
      val n1 = broadcast(Tables.nation(s, d)
        .where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, d)
        .where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      val su = Tables.supplier(s, d)
        .join(n1, col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val c = Tables.customer(s, d)
        .join(n2, col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, d)
        .where(col("l_shipdate").between(lit("1996-01-01"), lit("1997-12-31")))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === nations(0) && col("cust_nation") === nations(1)) ||
          (col("supp_nation") === nations(1) && col("cust_nation") === nations(0)))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey
        |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q4 order-priority checking (adapted: the testdata ships no
    // l_commitdate/l_receiptdate, so "late line" = shipped >90 days after
    // the order date — same correlated-EXISTS shape, now with a non-equi
    // conjunct referencing the outer column). Spark plans a single
    // LeftSemi hash join on l_orderkey with the date predicate as a join
    // condition: the quarter filter prunes orders FIRST, so at 100 TB the
    // semi-join probes only one quarter's keys.
    Gate("q4_order_priority", (s, d) => {
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1996-07-01") &&
          col("o_orderdate") < lit("1996-10-01"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      // same late-line proxy (shipped >90d after order date) and the same
      // correlated EXISTS
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q10 returned-item reporting — runs natively (l_returnflag IS
    // in the testdata). The quarter filter on orders broadcast-prunes the
    // returned-lines scan before the customer join; nation broadcasts;
    // the only data-scale shuffle is the per-customer aggregate. Top-20
    // plans as TakeOrderedAndProject (no global sort at 100 TB).
    Gate("q10_returned_items", (s, d) => {
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1996-10-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      Tables.lineitem(s, d)
        .where(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
              col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
        .agg(sum(rev).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      // native Q10 (l_returnflag ships in the testdata); revenue in DECIMAL
      """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q12 shipping-priority line counts (adapted: no l_shipmode in
    // the testdata — l_linestatus takes the grouping role; no commit/
    // receipt dates — the year window sits on l_shipdate). The point of
    // Q12 survives intact: one fact⋈orders join feeding conditional
    // counts, the CASE evaluated post-join inside the partial aggregate
    // (map-side combine reduces to 2 rows per partition before shuffle).
    Gate("q12_priority_lines", (s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
      // same l_linestatus grouping proxy; DuckDB SUM(int) is HUGEINT →
      // explicit BIGINT casts
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q14 promo revenue share: part broadcasts into the one-month
    // lineitem scan; both sums stay DECIMAL through the aggregate and the
    // percentage is ONE IEEE expression evaluated identically on both
    // engines (100.0 * promo / total, left-assoc — never round a derived
    // double before comparing, only at the very end or not at all).
    Gate("q14_promo_revenue", (s, d) => {
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-03-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).as("promo_"),
          sum(rev).as("total_"),
          count(lit(1)).as("n"))
        .select(
          (lit(100.0) * col("promo_").cast("double") /
            col("total_").cast("double")).as("promo_revenue"),
          col("total_").cast("double").as("total_revenue"),
          col("n"))
    },
      // identical single-expression percentage over DECIMAL sums
      """SELECT 100.0 * CAST(promo_ AS DOUBLE) / CAST(total_ AS DOUBLE)
        |    AS promo_revenue,
        |  CAST(total_ AS DOUBLE) AS total_revenue, n
        |FROM (
        |  SELECT SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      AS total_,
        |    COUNT(*) AS n
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01')""".stripMargin),

    // TPC-H Q15 top supplier: the quarterly per-supplier revenue relation
    // feeds BOTH the join and the MAX scalar subquery — persisted so
    // lineitem is scanned once (the Q2 pattern; CacheManager dedupes the
    // entry across invocations). The max-equality compare runs on the
    // exact DECIMAL sum, never a double — ties (TPC-H explicitly allows
    // multiple top suppliers) are exact on both engines.
    Gate("q15_top_supplier", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("total_revenue_d"))
        .persist()
      val maxRev = rev.agg(max(col("total_revenue_d")).as("max_rev_"))
      Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .crossJoin(broadcast(maxRev))
        .where(col("total_revenue_d") === col("max_rev_"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue_d").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      // identical view + MAX scalar subquery; equality on the exact DECIMAL
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      AS total_revenue_d
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  CAST(total_revenue_d AS DOUBLE) AS total_revenue
        |FROM supplier, revenue0
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue_d = (SELECT MAX(total_revenue_d) FROM revenue0)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q11 important stock (adapted partsupp as in Q2/Q9, with
    // ps_availqty := total shipped quantity; the GERMANY filter widens to
    // a region — the 100-row supplier dim makes single-nation cuts
    // degenerate). The per-pair value is cast to DECIMAL(28,8) — exactly
    // the 6dp×2dp product scale — so BOTH the group sums and the
    // HAVING-threshold compare are order-independent and engine-exact;
    // the 0.1% threshold cross-multiplies (sum*1000 > total) instead of
    // multiplying the total by a float fraction. The value relation feeds
    // the group-by AND the grand total: persisted, one lineitem pass.
    Gate("q11_important_stock", (s, d) => {
      val euro = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val ps = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("ps_availqty"),
          min(round(col("l_extendedprice") / col("l_quantity"), 6))
            .as("ps_supplycost"))
        .join(broadcast(euro), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("value_d",
          (col("ps_supplycost") * col("ps_availqty")).cast("decimal(28,8)"))
        .persist()
      val total = ps.agg(sum(col("value_d")).as("total_"))
      ps.groupBy(col("ps_partkey"))
        .agg(sum(col("value_d")).as("value_sum"))
        .crossJoin(broadcast(total))
        .where(col("value_sum") * 1000 > col("total_"))
        .select(col("ps_partkey"),
          col("value_sum").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("ps_partkey"))
    },
      // same derived partsupp (availqty = shipped qty), same DECIMAL(28,8)
      // value scale and cross-multiplied HAVING threshold
      """WITH euro AS (
        |  SELECT s_suppkey FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE'),
        |ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ps_availqty,
        |    MIN(ROUND(l_extendedprice / l_quantity, 6)) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2),
        |v AS (
        |  SELECT ps_partkey,
        |    CAST(ps_supplycost * ps_availqty AS DECIMAL(28,8)) AS value_d
        |  FROM ps, euro WHERE ps_suppkey = s_suppkey)
        |SELECT ps_partkey, CAST(SUM(value_d) AS DOUBLE) AS part_value
        |FROM v
        |GROUP BY 1
        |HAVING SUM(value_d) * 1000 > (SELECT SUM(value_d) FROM v)
        |ORDER BY part_value DESC, ps_partkey""".stripMargin),

    // TPC-H Q16 parts/supplier relationship (adapted: the supplier-
    // complaints NOT IN becomes negative-acctbal suppliers — the comment
    // column doesn't ship; partsupp is the DISTINCT (part, supp) pairs
    // observed in lineitem). Shape preserved: part-side filters prune
    // before the join, the NOT IN plans as a broadcast anti join (100-row
    // exclusion list), and the distinct-count shuffles once on the
    // (brand, type, size) group key.
    Gate("q16_part_supplier", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .distinct()
      val excluded = Tables.supplier(s, d).where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = Tables.part(s, d)
        .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      ps.join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      // same DISTINCT-pair partsupp and negative-acctbal NOT IN
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey,
        |    l_suppkey AS ps_suppkey FROM lineitem), part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q17 small-quantity-order revenue: the correlated per-part
    // AVG decorrelates into one aggregate over the part-filtered lines,
    // broadcast back (the stats relation is ≤ one row per filtered part).
    // The 0.2·avg compare cross-multiplies to 5·qty·cnt < sum in exact
    // DECIMAL — a float avg would put boundary quantities one ulp apart
    // across engines. One division at the very end, never rounded.
    Gate("q17_small_quantity", (s, d) => {
      val p = Tables.part(s, d)
        .where(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val lines = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .persist()
      val stats = lines.groupBy(col("l_partkey").as("ag_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty_"),
          count(lit(1)).as("cnt_"))
      lines
        .join(broadcast(stats), col("l_partkey") === col("ag_partkey"))
        .where(col("l_quantity").cast("decimal(18,2)") * lit(5) * col("cnt_")
          < col("sum_qty_"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n"))
    },
      // same decorrelated per-part stats and exact cross-multiplied
      // 0.2·avg compare; single trailing division
      """WITH ag AS (
        |  SELECT l_partkey AS ag_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_,
        |    COUNT(*) AS cnt_
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |    AND p_brand = 'Brand#3' AND p_type = 'SMALL'
        |  GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n
        |FROM lineitem, part, ag
        |WHERE l_partkey = p_partkey AND l_partkey = ag_partkey
        |  AND p_brand = 'Brand#3' AND p_type = 'SMALL'
        |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_ < sum_qty_""".stripMargin),

    // TPC-H Q20 potential part promotion (adapted: availqty := quantity
    // shipped in 1996, demand := quantity shipped in 1997 — "stocked more
    // than half of next year's demand"; the original total-vs-half-of-
    // total is degenerate when availqty derives from the same shipments).
    // Structure preserved: nested IN (prefix parts → pairs → suppliers),
    // the correlated demand SUM as an inner join (SQL's NULL-compare
    // excludes no-demand pairs; so does the join), exact DECIMAL
    // cross-multiply (2·avail > demand), and a left-semi into the
    // region-pruned supplier dim.
    Gate("q20_part_promotion", (s, d) => {
      val pPrefix = Tables.part(s, d).where(col("p_name").like("red%"))
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
      val avail = li
        .where(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(pPrefix), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("ps_availqty"))
      val demand = li
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(pPrefix), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("dk"), col("l_suppkey").as("ds"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("year_qty"))
      val cand = avail
        .join(demand,
          col("ps_partkey") === col("dk") && col("ps_suppkey") === col("ds"))
        .where(col("ps_availqty") * 2 > col("year_qty"))
        .select(col("ps_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
        .join(cand, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .orderBy(col("s_suppkey"))
    },
      // same nested-IN structure; the correlated demand SUM's NULL-compare
      // excludes no-demand pairs exactly as the engine's inner join does
      """WITH avail AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ps_availqty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name
        |FROM supplier, nation, region
        |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM avail
        |    WHERE ps_partkey IN
        |        (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty * 2 > (
        |        SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= TIMESTAMP '1997-01-01'
        |          AND l_shipdate < TIMESTAMP '1998-01-01'))
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q21 suppliers who kept orders waiting (adapted: "late" =
    // shipped >60 days after the order date — no commit/receipt dates in
    // the testdata). The double correlation survives intact: late line l1
    // EXISTS another-supplier line l2 (left-semi with a <> conjunct), NOT
    // EXISTS another-supplier LATE line l3 (left-anti against the late
    // set itself). The late relation feeds both sides of that anti
    // self-join: persisted, one lineitem⋈orders pass. Multi-line
    // (order, supplier) duplicates count once each, as in the spec.
    Gate("q21_waiting_suppliers", (s, d) => {
      val o = Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = l.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey").as("lk"), col("l_suppkey").as("ls"))
        .persist()
      val waiting = late
        .join(l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
          col("lk") === col("k2") && col("ls") =!= col("s2"), "left_semi")
        .join(late.select(col("lk").as("k3"), col("ls").as("s3")),
          col("lk") === col("k3") && col("ls") =!= col("s3"), "left_anti")
      waiting
        .join(broadcast(Tables.supplier(s, d)
            .join(broadcast(Tables.nation(s, d)
                .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
                  col("n_regionkey") === col("r_regionkey"))
                .select(col("n_nationkey"))),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("s_name"))),
          col("ls") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(100)
    },
      // same late-ship proxy and EXISTS / NOT EXISTS double correlation
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem, orders
        |  WHERE l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM late l1, supplier, nation, region
        |WHERE l1.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin),

    // Pareto contribution: per-nation revenue share + running cumulative
    // share. Sums stay DECIMAL until the share division; the cumulative
    // sum runs over rounded shares in a fixed total order, so the float
    // sequence is identical on any engine.
    Gate("q_pareto_nations", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev_d"))
      val byRev = Window.orderBy(col("rev_d").desc, col("n_name"))
      rev
        .withColumn("total_", sum(col("rev_d")).over(Window.partitionBy(lit(1))))
        .withColumn("share", round(
          col("rev_d").cast("double") / col("total_").cast("double"), 6))
        .withColumn("cum_share", round(sum(col("share")).over(byRev), 6))
        .select(col("n_name"), col("rev_d").cast("double").as("revenue"),
          col("share"), col("cum_share"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      // identical: DECIMAL revenue, share division once, cumulative sum of
      // ROUNDED shares in the same total order
      """WITH rev AS (
        |  SELECT n_name,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev_d
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |t AS (SELECT *, SUM(rev_d) OVER () AS total_ FROM rev),
        |s AS (SELECT n_name, CAST(rev_d AS DOUBLE) AS revenue,
        |    ROUND(CAST(rev_d AS DOUBLE) / CAST(total_ AS DOUBLE), 6) AS share
        |  FROM t)
        |SELECT n_name, revenue, share,
        |  ROUND(SUM(share) OVER (ORDER BY revenue DESC, n_name
        |    ROWS UNBOUNDED PRECEDING), 6) AS cum_share
        |FROM s ORDER BY revenue DESC, n_name""".stripMargin),

    // Join family: broadcast the dim side (customer filtered), shuffle join
    // lineitem⋈orders on orderkey; top-k via TakeOrderedAndProject.
    Gate("q3_unshipped_orders", (s, d) => {
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).where(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, d).where(col("l_shipdate") > lit("1997-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // Multi-join star query: region/nation broadcast, fact-side shuffle only.
    Gate("q5_nation_revenue", (s, d) => {
      val r = Tables.region(s, d).where(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY 1 ORDER BY 1""".stripMargin),

    // Window/top-k-per-group: single shuffle on the partition key.
    Gate("q_top_orders_per_customer", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("rank"))
        .orderBy(col("o_custkey"), col("rank"))
    },
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // Set ops: repeat buyers across years (shuffle-dedup + intersect).
    Gate("q_setops_repeat_buyers", (s, d) => {
      val o = Tables.orders(s, d)
      val y1995 = o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y1996 = o.where(year(col("o_orderdate")) === 1996).select("o_custkey")
      y1995.intersect(y1996).orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin),

    // Rollup (grouping sets family) over the join result.
    Gate("q_rollup_region_nation", (s, d) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val c = Tables.customer(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    // Semi join: EXISTS-shaped, no fact-side duplication — planned as
    // LeftSemi hash join, lineitem side pre-filtered before the shuffle.
    Gate("q_semi_join", (s, d) => {
      val l = Tables.lineitem(s, d).where(col("l_quantity") > 45)
      Tables.orders(s, d)
        .join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin),

    // Anti join: NOT EXISTS — customers with no orders.
    Gate("q_anti_join", (s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // Outer join preserving empty dims (count(col) skips nulls).
    Gate("q_outer_join", (s, d) => {
      Tables.nation(s, d)
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, COUNT(c_custkey) AS n_customers
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUBE: all grouping-set combinations in one pass.
    Gate("q_cube_orders", (s, d) => {
      Tables.orders(s, d)
        .cube(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("yr").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (1, 2)
        |ORDER BY yr NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // Correlated scalar subquery — Catalyst decorrelates to an aggregate +
    // join; the MAX comparison is exact (no float-order hazard).
    Gate("q_scalar_subquery", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
          |FROM orders_v o
          |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
          |                      FROM orders_v o2
          |                      WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    // Lateral (correlated table) subquery: per-customer top-2 orders in
    // FROM position — decorrelated to a ranked window join.
    Gate("q_lateral_join", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS o_totalprice
          |FROM customer_v c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c_custkey, o_orderkey""".stripMargin)
    },
      """SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_orderkey""".stripMargin),

    // Explicit grouping sets (the general form behind rollup/cube) via the
    // native Dataset API — one Expand + one aggregate.
    Gate("q_grouping_sets", (s, d) => {
      Tables.orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .groupingSets(
          Seq(Seq(col("yr"), col("o_orderpriority")), Seq(col("yr")), Seq.empty),
          col("yr"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("yr").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((1, 2), (1), ())
        |ORDER BY yr NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // Sketch aggregates — the 100 TB answer when exact distinct/quantiles
    // would shuffle every value: mergeable fixed-size summaries. Unlike
    // engine-native HLL++/percentile_approx (implementation-defined, so
    // unverifiable), every sketch here is from the pinned oracle-exact
    // family: [[operators.HyperLogLog]] NDV estimates (md5 hash family,
    // integer registers) and quantiles over a deterministic 1-in-8
    // hash-sample (sample choice is data-, not engine-, defined; the
    // sample quantile itself is exact interpolation). Self-auditing:
    // carries exact NDV + relative error alongside the estimates.
    Gate("q_approx_sketch", (s, d) => {
      val li = Tables.lineitem(s, d)
      val g = Seq("l_returnflag")
      val ndPart = operators.HyperLogLog.estimate(
        operators.HyperLogLog.build(li, "l_partkey", g), g)
        .select(col("l_returnflag"), col("est").as("nd_part_est"))
      // second NDV key is l_orderkey, not l_suppkey: suppkey NDV (~10 at
      // sf0.001) sits below the raw-HLL regime the pinned sketch serves
      // (no linear-counting correction — ln() is not oracle-portable)
      val ndOrder = operators.HyperLogLog.estimate(
        operators.HyperLogLog.build(li, "l_orderkey", g), g)
        .select(col("l_returnflag"), col("est").as("nd_order_est"))
      // 1-in-8 deterministic sample keyed on the row identity — the
      // same rows are in-sample on any engine, so the estimate is exact
      val sampleKey = functions.HashFunctions.hash64(
        concat(col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")))
      val quant = li.where(sampleKey % 8 === 0)
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_est"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_est"),
          count(lit(1)).as("n_sample"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part_true"))
      ndPart.join(ndOrder, "l_returnflag").join(quant, "l_returnflag")
        .join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("nd_part_est"), col("nd_order_est"),
          col("p50_est"), col("p99_est"), col("n_sample"),
          col("nd_part_true"),
          round((col("nd_part_est") - col("nd_part_true")) /
            col("nd_part_true"), 4).as("rel_err_part"))
        .orderBy(col("l_returnflag"))
    },
    // q_approx_sketch: oracle-exact sketches — the DuckDB twin rebuilds
    // the SAME pinned-md5 HLL registers (mirrors hllAuditSql's constants:
    // p=6, m=64, width=54) and the SAME 1-in-8 hash-sample quantiles.
    {
      def hllEst(key: String, alias: String): String = {
        val h = sqlHash64(s"CAST($key AS VARCHAR)")
        s"""(SELECT l_returnflag,
           |  ROUND(CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968 /
           |    CAST(SUM(CAST(1 AS BIGINT) << (55 - reg))
           |      + (64 - COUNT(*)) * 36028797018963968 AS DOUBLE), 4)
           |    AS $alias
           |FROM (
           |  SELECT l_returnflag, bucket, MAX(rho) AS reg FROM (
           |    SELECT l_returnflag,
           |      hv // 18014398509481984 AS bucket,
           |      55 - len(list_filter(range(0, 54),
           |        i -> (hv % 18014398509481984) >= (CAST(1 AS BIGINT) << i)))
           |        AS rho
           |    FROM (SELECT l_returnflag, $h AS hv FROM lineitem))
           |  GROUP BY 1, 2)
           |GROUP BY 1)""".stripMargin
      }
      val sampleHash = sqlHash64(
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")
      s"""WITH pest AS ${hllEst("l_partkey", "nd_part_est")},
         |sest AS ${hllEst("l_orderkey", "nd_order_est")},
         |q AS (SELECT l_returnflag,
         |    ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_est,
         |    ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_est,
         |    COUNT(*) AS n_sample
         |  FROM lineitem WHERE $sampleHash % 8 = 0 GROUP BY 1),
         |x AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part_true
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, nd_part_est, nd_order_est, p50_est, p99_est,
         |  n_sample, nd_part_true,
         |  ROUND((nd_part_est - nd_part_true) / nd_part_true, 4)
         |    AS rel_err_part
         |FROM pest JOIN sest USING (l_returnflag) JOIN q USING (l_returnflag)
         |  JOIN x USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    }),

    // Distinct aggregates (expand-based plan; one shuffle per distinct set).
    Gate("q_distinct_agg", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Same result as the window form, different physical shape: bounded
    // per-group top-k buffers with map-side partial aggregation (the
    // scale path when groups are huge and k is small).
    Gate("q_topk_aggregator", (s, d) => {
      TopK.topKPerGroup(Tables.orders(s, d), "o_custkey", "o_orderkey",
        "o_totalprice", k = 3)
        .withColumn("o_totalprice", round(col("o_totalprice"), 2))
        .orderBy(col("o_custkey"), col("rank"))
    },
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // Exact interpolated percentiles per group.
    Gate("q_percentiles", (s, d) => {
      Tables.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("q_setops_except", (s, d) => {
      val o = Tables.orders(s, d)
      val y1995 = o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y1996 = o.where(year(col("o_orderdate")) === 1996).select("o_custkey")
      y1995.except(y1996).orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin),

    Gate("q_setops_union", (s, d) => {
      val o = Tables.orders(s, d)
      val y1995 = o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y1996 = o.where(year(col("o_orderdate")) === 1996).select("o_custkey")
      y1995.union(y1996).distinct().orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |UNION
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin),

    // Running windows: lag/lead + running decimal sum in one window pass.
    Gate("q_window_running", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |  LAG(o_orderkey) OVER w AS prev_order,
        |  LEAD(o_orderkey) OVER w AS next_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // As-of join (union + one window pass per key — zero joins, one
    // shuffle): each event gets the most recent purchase of the same user
    // at or before its timestamp.
    Gate("q_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val dw = Window.partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val purchases = ev.where(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(dw)).where(col("rn") === 1)
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      operators.AsofJoin.asofLe(ev, purchases, Seq("user_id"), "ts", "p_ts",
        "p_event_id", Seq("p_event_id", "p_value"))
        .select(col("event_id"), col("user_id"), col("p_event_id"),
          round(col("p_value"), 4).as("p_value"))
        .orderBy(col("event_id"))
    },
      """WITH p AS (
        |  SELECT user_id, ts, event_id AS p_event_id, value AS p_value
        |  FROM events
        |  WHERE event_type = 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT e.event_id, e.user_id, p.p_event_id, ROUND(p.p_value, 4) AS p_value
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin),

    // Range join via equi-bucketing: interval table explodes into covered
    // buckets, fact side hash-joins on the bucket — no nested loop.
    Gate("q_range_join", (s, d) => {
      import s.implicits._
      val tiers = Seq(
        ("t1_budget", 0.0, 50000.0),
        ("t2_mid", 50000.0, 150000.0),
        ("t3_high", 150000.0, 300000.0),
        ("t4_premium", 300000.0, 450000.0),
        ("t5_lux", 450000.0, 700000.0)).toDF("tier", "lo", "hi")
      operators.RangeJoin.pointInInterval(
        Tables.orders(s, d), "o_totalprice", tiers, "lo", "hi", 50000.0)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("tier"))
    },
      """WITH tiers(tier, lo, hi) AS (VALUES
        |  ('t1_budget', 0.0, 50000.0),
        |  ('t2_mid', 50000.0, 150000.0),
        |  ('t3_high', 150000.0, 300000.0),
        |  ('t4_premium', 300000.0, 450000.0),
        |  ('t5_lux', 450000.0, 700000.0))
        |SELECT tier, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Interval-OVERLAP join (both sides ranges): order validity windows
    // × shipment windows, binned to week buckets — hash equi-join +
    // residual, each pair attributed to its first shared bucket (no
    // distinct). The oracle is the plain theta-join.
    Gate("q_interval_join", (s, d) => {
      val epoch = lit("1970-01-01")
      val a = Tables.orders(s, d)
        .where(col("o_orderdate").between(
          lit("1996-01-01"), lit("1996-01-31 23:59:59")))
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("a_lo"),
          (datediff(col("o_orderdate"), epoch)
            + col("o_orderkey") % 7 + 1).cast("long").as("a_hi"))
      val b = Tables.lineitem(s, d)
        .where(col("l_shipdate").between(
          lit("1996-01-01"), lit("1996-01-31 23:59:59"))
          && col("l_orderkey") % 13 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), epoch).cast("long").as("b_lo"),
          (datediff(col("l_shipdate"), epoch)
            + col("l_linenumber")).cast("long").as("b_hi"))
      operators.RangeJoin.intervalOverlap(a, "a_lo", "a_hi",
        b, "b_lo", "b_hi", bucketWidth = 7.0)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("o_orderkey"))
    },
      // plain theta-join oracle: binning + first-shared-bucket attribution
      // must be invisible in the result
      """WITH a AS (
        |  SELECT o_orderkey,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS a_lo,
        |    date_diff('day', DATE '1970-01-01', o_orderdate)
        |      + o_orderkey % 7 + 1 AS a_hi
        |  FROM orders
        |  WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |    AND TIMESTAMP '1996-01-31 23:59:59'),
        |b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    date_diff('day', DATE '1970-01-01', l_shipdate) AS b_lo,
        |    date_diff('day', DATE '1970-01-01', l_shipdate)
        |      + l_linenumber AS b_hi
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
        |    AND TIMESTAMP '1996-01-31 23:59:59'
        |    AND l_orderkey % 13 = 0)
        |SELECT o_orderkey, COUNT(*) AS n_overlap
        |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Salted skew join: identical results to the plain join, hot keys
    // spread over `buckets` tasks (the manual fallback when AQE skew
    // handling can't reach a join). Buckets come from bucketsFor's key
    // statistics (hottest-key rows / target task size), not a guess — the
    // sizing rule itself is on the gated path.
    Gate("q_skew_join_salted", (s, d) => {
      val l = Tables.lineitem(s, d).select(col("l_orderkey").as("okey"),
        col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("okey"),
        col("o_orderpriority"))
      val buckets = operators.SkewJoin.bucketsFor(l, "okey",
        targetRowsPerTask = 1L, maxBuckets = 8)
      operators.SkewJoin.saltedEquiJoin(l, o, "okey", buckets)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // The 100 TB shape: detect hot keys from key statistics, salt ONLY
    // those (right side replicated just for them), plain-join the tail.
    // events×event_type is a REAL low-cardinality skew: 5 keys at ~20%
    // row share each; threshold 0.2 splits them into a hot subset (2-3
    // types, each a single-task killer unsalted) and a cold tail — and a
    // share threshold bounds the hot list to <= 1/τ keys, so the isin
    // stays a tiny broadcastable predicate at any corpus size. Results
    // must equal the plain join (salting never changes data).
    Gate("q_skew_join_hot", (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"), col("value"))
      // 5-row dim derived deterministically from the same table
      val dim = Tables.events(s, d).select(col("event_type")).distinct()
        .withColumn("type_len", length(col("event_type")))
      val hot = operators.SkewJoin.hotKeys(e, "event_type", threshold = 0.2)
      operators.SkewJoin.saltedEquiJoinHot(e, dim, "event_type", hot, buckets = 8)
        .groupBy(col("event_type"), col("type_len"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    },
      // salting never changes results — hot-selective form, same plain join
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |    CAST(length(event_type) AS INTEGER) AS type_len
        |  FROM events)
        |SELECT e.event_type, d.type_len, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // Pivot (conditional-aggregation family) with an explicit value list —
    // no extra distinct-values job, one hash aggregate.
    Gate("q_pivot_events", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Rank-function family beyond row_number: dense_rank / ntile /
    // percent_rank / cume_dist in one window pass.
    Gate("q_window_ranks", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drank,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // RANGE window frame over event time: trailing-hour sum per user —
    // value-based frame bounds (vs q_window_running's ROWS frame), plus
    // first_value over the same frame.
    Gate("q_window_range_frame", (s, d) => {
      val secs = unix_timestamp(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(secs)
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double").as("hour_sum"),
          count(lit(1)).over(w).as("hour_n"),
          first(col("event_type")).over(
            Window.partitionBy(col("user_id")).orderBy(secs, col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_type"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER r AS DOUBLE) AS hour_sum,
        |  COUNT(*) OVER r AS hour_n,
        |  FIRST_VALUE(event_type) OVER w AS first_type
        |FROM events
        |WINDOW
        |  r AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
        |  w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
        |        ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_id""".stripMargin),

    // C-family scalar functions (date/string/math) in one projection.
    Gate("q_scalar_funcs", (s, d) => {
      val o = Tables.orders(s, d)
      o.select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
        length(col("o_orderstatus")).as("st_len"),
        round(abs(col("o_totalprice") - 1000.0), 2).as("amt"),
        ceil(col("o_totalprice") / 100.0).as("ceil_h"),
        floor(col("o_totalprice") / 100.0).as("floor_h"),
        (col("o_orderkey") % 7).as("mk"),
        greatest(col("o_custkey"), col("o_orderkey")).as("g"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dy,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |  CAST(length(o_orderstatus) AS INTEGER) AS st_len,
        |  ROUND(abs(o_totalprice - 1000.0), 2) AS amt,
        |  CAST(ceil(o_totalprice / 100.0) AS BIGINT) AS ceil_h,
        |  CAST(floor(o_totalprice / 100.0) AS BIGINT) AS floor_h,
        |  o_orderkey % 7 AS mk,
        |  greatest(o_custkey, o_orderkey) AS g
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // 2-D skyline: parts nobody beats on BOTH price (min) and size
    // (max) — the Pareto-frontier query, O(n log n) via the per-class
    // best + running-max sweep where the textbook NOT-EXISTS dominance
    // join (which the oracle runs verbatim) is O(n²).
    Gate("q_skyline", (s, d) => {
      operators.TopK.skyline2d(
        Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"),
          col("p_size")),
        "p_retailprice", "p_size")
        .orderBy(col("p_partkey"))
    },
      // the O(n²) textbook dominance anti-join — the sweep must equal it
      """SELECT p_partkey, p_retailprice, p_size FROM part a
        |WHERE NOT EXISTS (SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice
        |    AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice
        |      OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin),

    // Runtime bloom-filter join (DPP's sibling for NON-partitioned
    // joins): the selective orders filter builds a bloom_filter_agg on
    // the creation side and the lineitem scan probes might_contain
    // BEFORE the shuffle — at 100 TB this is what keeps a star join's
    // fact shuffle proportional to the matching rows, not the table.
    // Local-mode thresholds (app-side scan size 10 GB default) are
    // scoped INSIDE the gate and the result materialized under them —
    // the broadcast override must never leak into other gates' plans.
    Gate("q_runtime_filter_join", (s, d) => {
      val bKey = "spark.sql.autoBroadcastJoinThreshold"
      val tKey =
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
      val prevB = s.conf.get(bKey)
      val prevT = s.conf.get(tKey)
      val out = scratch("rtf", d)
      s.conf.set(bKey, "-1") // force SMJ so the probe side has a shuffle
      s.conf.set(tKey, "0")
      try {
        val o = Tables.orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        Tables.lineitem(s, d)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
          .write.mode("overwrite").parquet(out)
      } finally { s.conf.set(bKey, prevB); s.conf.set(tKey, prevT) }
      s.read.parquet(out).orderBy(col("l_returnflag"))
    },
      // plain filtered join — the runtime filter must not change results
      """SELECT l.l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Gini concentration of customer spend per region: the classic
    // inequality index from the rank formula G = (2·Σ i·x_(i) − (n+1)·T)
    // / (n·T), EXACT — spend in integer cents through DECIMAL(18,2)·100,
    // ranks under (spend, custkey), Σ i·x carried in DECIMAL(38,0), ONE
    // double division at the end. Customer grain aggregates first, so
    // the ranked window runs per region over the reduced relation; at
    // 100 TB the exact rank becomes a range-partitioned prefix sum (or a
    // sketch Gini) — the per-region partition here is the honest small-
    // scale form of that layout.
    Gate("orders_gini", (s, d) => {
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("c_custkey"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
          "AS DECIMAL(38,0))")).as("x"))
      val w = Window.partitionBy(col("r_name"))
        .orderBy(col("x"), col("c_custkey"))
      spend
        .withColumn("i", row_number().over(w).cast("decimal(38,0)"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("x")).as("tot"),
          sum(col("i") * col("x")).as("ix"))
        .select(col("r_name"), col("n_customers"),
          col("tot").cast("long").as("total_cents"),
          round((lit(2).cast("decimal(38,0)") * col("ix")
            - (col("n_customers") + 1).cast("decimal(38,0)") * col("tot"))
            .cast("double") /
            (col("n_customers").cast("double") * col("tot").cast("double")),
            6).as("gini"))
        .orderBy(col("r_name"))
    },
      // same rank formula, spend in exact cents, HUGEINT carriers
      """WITH spend AS (
        |  SELECT r.r_name, c.c_custkey,
        |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |      AS HUGEINT)) AS HUGEINT) AS x
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT r_name, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY r_name
        |      ORDER BY x, c_custkey) AS HUGEINT) AS i
        |  FROM spend)
        |SELECT r_name, COUNT(*) AS n_customers,
        |  CAST(SUM(x) AS BIGINT) AS total_cents,
        |  ROUND(CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6)
        |    AS gini
        |FROM ranked GROUP BY 1 ORDER BY r_name""".stripMargin),

    // RFM quartile scoring — the classic customer-value segmentation:
    // recency (days since last order vs the corpus max date), frequency
    // (order count), monetary (spend in exact cents), each cut into
    // NTILE(4) quartiles under a fully-pinned order (metric, custkey) —
    // ntile's ⌈n/b⌉-first-buckets split is engine-identical given a
    // total order. Integer outputs end to end; the three global ntile
    // sorts run on the customer-grain relation (at 100 TB: quantile
    // boundaries from a sketch, then a broadcast bucket join).
    Gate("customer_rfm", (s, d) => {
      val o = Tables.orders(s, d)
      val mx = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("n_orders"),
          sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
            "AS DECIMAL(38,0))")).cast("long").as("monetary_cents"))
        .crossJoin(broadcast(mx))
        .withColumn("recency_days", datediff(col("mxd"), col("last_order")))
      per
        .withColumn("r_score", ntile(4).over(
          Window.orderBy(col("recency_days"), col("o_custkey"))))
        .withColumn("f_score", ntile(4).over(
          Window.orderBy(col("n_orders").desc, col("o_custkey"))))
        .withColumn("m_score", ntile(4).over(
          Window.orderBy(col("monetary_cents").desc, col("o_custkey"))))
        .select(col("o_custkey"), col("recency_days"), col("n_orders"),
          col("monetary_cents"), col("r_score"), col("f_score"),
          col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm_code"))
        .orderBy(col("o_custkey"))
    },
      // same three pinned-order NTILE(4) cuts over the customer grain
      """WITH per AS (
        |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_order,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS HUGEINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(last_order) AS mxd FROM per),
        |scored AS (
        |  SELECT o_custkey,
        |    date_diff('day', last_order, mxd) AS recency_days,
        |    n_orders, monetary_cents
        |  FROM per CROSS JOIN mx)
        |SELECT o_custkey, CAST(recency_days AS INT) AS recency_days,
        |  n_orders, monetary_cents,
        |  CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS INT)
        |    AS r_score,
        |  CAST(NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey) AS INT)
        |    AS f_score,
        |  CAST(NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
        |    AS INT) AS m_score,
        |  CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) * 100
        |    + NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey) * 10
        |    + NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
        |    AS INT) AS rfm_code
        |FROM scored ORDER BY o_custkey""".stripMargin),

    // Unpivot (wide→long) as the pivot inverse: the same explicit-list
    // pivot as q_pivot_events but with COUNT cells, melted back to long
    // via Dataset.unpivot — one hash aggregate then a per-row explode of
    // the 5 value columns, no shuffle added by the melt itself. Absent
    // (user, type) combos surface as NULL cells and are dropped, so the
    // roundtrip equals the plain long-form aggregate the oracle computes.
    Gate("q_unpivot", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .unpivot(Array(col("user_id")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "n")
        .where(col("n").isNotNull)
        .orderBy(col("user_id"), col("event_type"))
    },
      // pivot→unpivot roundtrip == the plain long-form aggregate
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin),

    // Relational division — "customers who ordered in EVERY priority
    // class": the classic total-requirement query (Codd's ÷). Implemented
    // as distinct-pair reduce → per-customer class count → broadcast
    // compare against the global class count — no correlated NOT EXISTS
    // double-negation, one shuffle on custkey, divisor relation is a
    // 1-row broadcast. At 100 TB the distinct pre-reduce is the key move:
    // division runs over (customer × class), never over raw orders.
    Gate("q_relational_division", (s, d) => {
      val pr = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority")).distinct()
      val all = Tables.orders(s, d)
        .agg(countDistinct(col("o_orderpriority")).as("n_all"))
      pr.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_classes"))
        .join(broadcast(all), col("n_classes") === col("n_all"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_classes"))
        .orderBy(col("c_custkey"))
    },
      """WITH pr AS (
        |  SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
        |k AS (SELECT COUNT(DISTINCT o_orderpriority) AS n_all FROM orders)
        |SELECT c.c_custkey, c.c_name, COUNT(*) AS n_classes
        |FROM pr JOIN customer c ON pr.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |HAVING COUNT(*) = (SELECT n_all FROM k)
        |ORDER BY c.c_custkey""".stripMargin),

    // Cohort LTV triangle: cohort = month of the customer's FIRST order
    // (integer month index y·12+m — no months_between float), age = order
    // month − cohort month, cell = revenue in exact cents + buying
    // customers, plus the running LTV per cohort over age. The self-join
    // back to orders shuffles on custkey once — at 100 TB both sides hash
    // to the same custkey partitioning, so the join is co-located and the
    // triangle is cohort-grain tiny.
    Gate("orders_cohort_ltv", (s, d) => {
      // checkpoint: `o` fans out (first-order reduce + the join back), so
      // without it orders.parquet scans twice
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
        .localCheckpoint()
      val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cm"))
      val cells = o.join(first, "o_custkey")
        .groupBy(col("cm"), (col("m") - col("cm")).cast("long").as("age_months"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          sum(col("cents")).as("revenue_cents"))
      cells
        .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(
          Window.partitionBy(col("cm")).orderBy(col("age_months"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(format_string("%04d-%02d", expr("cm div 12"),
            pmod(col("cm"), lit(12)) + 1).as("cohort_month"),
          col("age_months"), col("n_customers"), col("revenue_cents"),
          col("cum_revenue_cents"))
        .orderBy(col("cohort_month"), col("age_months"))
    },
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
        |      AS m,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |first AS (
        |  SELECT o_custkey, MIN(m) AS cm FROM o GROUP BY 1),
        |cells AS (
        |  SELECT f.cm, o.m - f.cm AS age_months,
        |    COUNT(DISTINCT o.o_custkey) AS n_customers,
        |    CAST(SUM(o.cents) AS BIGINT) AS revenue_cents
        |  FROM o JOIN first f ON o.o_custkey = f.o_custkey
        |  GROUP BY 1, 2)
        |SELECT printf('%04d-%02d', cm // 12, cm % 12 + 1) AS cohort_month,
        |  age_months, n_customers, revenue_cents,
        |  CAST(SUM(revenue_cents) OVER (PARTITION BY cm ORDER BY age_months
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_revenue_cents
        |FROM cells ORDER BY cohort_month, age_months""".stripMargin),

    // As-of join with a staleness tolerance (pandas merge_asof
    // `tolerance`, kdb wj's window edge): the carried match is annulled
    // when it is older than 30 minutes — "the last quote, unless it's
    // stale". Same zero-join asof core; the tolerance is one integer-µs
    // compare on the carried right time, so the plan cost is unchanged.
    Gate("q_asof_tolerance", (s, d) => {
      val ev = Tables.events(s, d)
      val dw = Window.partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val purchases = ev.where(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(dw)).where(col("rn") === 1)
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      val tolUs = 1800L * 1000000L
      operators.AsofJoin.asofLe(ev, purchases, Seq("user_id"), "ts", "p_ts",
        "p_event_id", Seq("p_ts", "p_event_id", "p_value"))
        .withColumn("fresh",
          unix_micros(col("ts")) - unix_micros(col("p_ts")) <= tolUs)
        .select(col("event_id"), col("user_id"),
          when(col("fresh"), col("p_event_id")).as("p_event_id"),
          when(col("fresh"), round(col("p_value"), 4)).as("p_value"),
          when(col("fresh"),
            unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("age_us"))
        .orderBy(col("event_id"))
    },
      """WITH p AS (
        |  SELECT user_id, ts, event_id AS p_event_id, value AS p_value
        |  FROM events
        |  WHERE event_type = 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1),
        |j AS (
        |  SELECT e.event_id, e.user_id, p.p_event_id, p.p_value,
        |    epoch_us(e.ts) - epoch_us(p.ts) AS age_us
        |  FROM events e ASOF LEFT JOIN p
        |    ON e.user_id = p.user_id AND e.ts >= p.ts)
        |SELECT event_id, user_id,
        |  CASE WHEN age_us <= 1800000000 THEN p_event_id END AS p_event_id,
        |  CASE WHEN age_us <= 1800000000 THEN ROUND(p_value, 4) END
        |    AS p_value,
        |  CASE WHEN age_us <= 1800000000 THEN age_us END AS age_us
        |FROM j ORDER BY event_id""".stripMargin),

    // Open-order backlog aging — the operational report every order
    // system ships: non-finalized orders bucketed by age against the
    // dataset's latest order date. One scan-agg; buckets are integer
    // day thresholds.
    Gate("orders_backlog_aging", (s, d) => {
      val o = Tables.orders(s, d)
      val mx = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      o.where(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(mx))
        .withColumn("age", datediff(col("mxd"), to_date(col("o_orderdate"))))
        .withColumn("bucket",
          when(col("age") <= 30, "a_0_30")
            .when(col("age") <= 90, "b_31_90")
            .when(col("age") <= 365, "c_91_365").otherwise("d_over_365"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(cast(round(o_totalprice * 100, 0) as bigint))")
            .as("value_cents"))
        .orderBy(col("bucket"))
    },
      """WITH mx AS (
        |  SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
        |o AS (
        |  SELECT date_diff('day', CAST(o_orderdate AS DATE), mxd) AS age,
        |    o_totalprice
        |  FROM orders, mx WHERE o_orderstatus <> 'F')
        |SELECT CASE WHEN age <= 30 THEN 'a_0_30'
        |    WHEN age <= 90 THEN 'b_31_90'
        |    WHEN age <= 365 THEN 'c_91_365' ELSE 'd_over_365' END AS bucket,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM o GROUP BY 1 ORDER BY bucket""".stripMargin),

    // NULL-semantics parity — the differential gate for the aggregate
    // NULL contract (COUNT(*) vs COUNT(col), SUM/AVG/MIN/MAX skipping
    // NULLs, COALESCE fallthrough): both engines must agree cell-for-
    // cell on a column that is NULL for a deterministic value band.
    // AVG stays exact: micro-unit sum div nonnull count.
    Gate("q_null_semantics", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        when(col("value") < 1, lit(null)).otherwise(
          expr("cast(round(value * 1000000, 0) as bigint)")).as("nv"))
      ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_all"),
          count(col("nv")).as("n_nonnull"),
          (count(lit(1)) - count(col("nv"))).as("n_null"),
          sum(col("nv")).as("sum_nv"),
          min(col("nv")).as("min_nv"),
          max(col("nv")).as("max_nv"),
          sum(coalesce(col("nv"), lit(0L))).as("sum_coalesced"))
        .withColumn("avg_micro", expr("sum_nv div n_nonnull"))
        .orderBy(col("event_type"))
    },
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN value < 1 THEN NULL
        |      ELSE CAST(ROUND(value * 1000000, 0) AS BIGINT) END AS nv
        |  FROM events)
        |SELECT event_type,
        |  COUNT(*) AS n_all,
        |  COUNT(nv) AS n_nonnull,
        |  COUNT(*) - COUNT(nv) AS n_null,
        |  CAST(SUM(nv) AS BIGINT) AS sum_nv,
        |  MIN(nv) AS min_nv,
        |  MAX(nv) AS max_nv,
        |  CAST(SUM(COALESCE(nv, 0)) AS BIGINT) AS sum_coalesced,
        |  CAST(SUM(nv) AS BIGINT) // COUNT(nv) AS avg_micro
        |FROM ev GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Window-function long tail — ntile / percent_rank / cume_dist
    // parity per event type: quartile census with the exact rational
    // rank statistics at each quartile boundary. percent_rank's
    // (rn−1)/(n−1) and cume_dist's rn/n are single divisions of exact
    // integers — engine-identical; ntile's uneven-bucket rule (first
    // buckets get the remainder) is part of what's under test.
    Gate("q_window_misc", (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("vm"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(round(value * 1000000, 0) as bigint)").as("vm"),
          col("event_id"))
        .withColumn("q", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy(col("event_type"), col("q"))
        .agg(count(lit(1)).as("n"),
          min(col("vm")).as("min_vm"), max(col("vm")).as("max_vm"),
          round(min(col("pr")), 6).as("pr_min"),
          round(max(col("pr")), 6).as("pr_max"),
          round(max(col("cd")), 6).as("cd_max"))
        .select(col("event_type"), col("q").cast("long").as("q"),
          col("n"), col("min_vm"), col("max_vm"), col("pr_min"),
          col("pr_max"), col("cd_max"))
        .orderBy(col("event_type"), col("q"))
    },
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 1000000, 0) AS BIGINT) AS vm, event_id
        |  FROM events),
        |wf AS (
        |  SELECT event_type, vm,
        |    NTILE(4) OVER w AS q,
        |    PERCENT_RANK() OVER w AS pr,
        |    CUME_DIST() OVER w AS cd
        |  FROM ev WINDOW w AS (PARTITION BY event_type
        |    ORDER BY vm, event_id))
        |SELECT event_type, CAST(q AS BIGINT) AS q, COUNT(*) AS n,
        |  MIN(vm) AS min_vm, MAX(vm) AS max_vm,
        |  ROUND(MIN(pr), 6) AS pr_min, ROUND(MAX(pr), 6) AS pr_max,
        |  ROUND(MAX(cd), 6) AS cd_max
        |FROM wf GROUP BY 1, 2 ORDER BY event_type, q""".stripMargin),

    // Wilson lower-bound ranking — the right way to rank by a
    // proportion when group sizes differ (a 3/3 supplier must not beat
    // a 95/100 one): LB = (p̂ + z²/2n − z√(p̂(1−p̂)/n + z²/4n²))/(1+z²/n).
    // Non-return rate per supplier; z embedded as the same literal both
    // sides, one sqrt, everything else single-rounded from exact
    // integer (hit, n) pairs. Top-15 by the bound.
    Gate("q_wilson_ranking", (s, d) => {
      val li = Tables.lineitem(s, d).groupBy(col("l_suppkey")).agg(
          count(lit(1)).as("n"),
          sum(when(col("l_returnflag") =!= "R", 1)
            .otherwise(0)).cast("long").as("hits"))
      li.withColumn("wilson_lb", expr("""round(
          (cast(hits as double) / n + 1.9208 / n
            - 1.96 * sqrt((cast(hits as double) / n)
              * (1.0 - cast(hits as double) / n) / n
              + 0.9604 / (cast(n as double) * n)))
          / (1.0 + 3.8416 / n), 6)"""))
        .select(col("l_suppkey"), col("n"), col("hits"),
          expr("(1000000 * hits) div n").as("rate_ppm"), col("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("l_suppkey")).limit(15)
    },
      """WITH li AS (
        |  SELECT l_suppkey, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hits
        |  FROM lineitem GROUP BY 1)
        |SELECT l_suppkey, n, hits,
        |  CAST((1000000 * hits) // n AS BIGINT) AS rate_ppm,
        |  ROUND(
        |    (CAST(hits AS DOUBLE) / n + 1.9208 / n
        |      - 1.96 * SQRT((CAST(hits AS DOUBLE) / n)
        |        * (1.0 - CAST(hits AS DOUBLE) / n) / n
        |        + 0.9604 / (CAST(n AS DOUBLE) * n)))
        |    / (1.0 + 3.8416 / n), 6) AS wilson_lb
        |FROM li ORDER BY wilson_lb DESC, l_suppkey LIMIT 15""".stripMargin),

    // NOT IN's NULL trap as a pinned differential gate: a NULL in the
    // subquery makes `x NOT IN (...)` three-valued — never TRUE — so
    // the naive form returns ZERO rows while NOT EXISTS and the
    // null-filtered form return the real complement. All three counts
    // pinned cell-for-cell on both engines; the production lesson is
    // the delta between them.
    Gate("q_not_in_null_trap", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"))
      // every 7th purchaser id is poisoned to NULL — one NULL suffices
      // to turn the whole naive NOT IN into "never TRUE"
      val purchasers = ev.where(col("event_type") === "purchase")
        .select(when(pmod(col("user_id"), lit(7)) === 0, lit(null))
          .otherwise(col("user_id")).as("maybe_uid"))
        .distinct().localCheckpoint()
      val base = ev.select(col("user_id")).distinct().localCheckpoint()
      purchasers.createOrReplaceTempView("graft_null_trap_purch")
      base.createOrReplaceTempView("graft_null_trap_base")
      val notIn = s.sql("""SELECT user_id FROM graft_null_trap_base
        WHERE user_id NOT IN (SELECT maybe_uid FROM graft_null_trap_purch)""")
      val filtered = base.join(
        purchasers.where(col("maybe_uid").isNotNull),
        col("user_id") === col("maybe_uid"), "left_anti")
      val notExists = s.sql("""SELECT user_id FROM graft_null_trap_base b
        WHERE NOT EXISTS (SELECT 1 FROM graft_null_trap_purch p
          WHERE p.maybe_uid = b.user_id)""")
      base.agg(count(lit(1)).as("n_base"))
        .crossJoin(notIn.agg(count(lit(1)).as("n_not_in_nullable")))
        .crossJoin(filtered.agg(count(lit(1)).as("n_not_in_filtered")))
        .crossJoin(notExists.agg(count(lit(1)).as("n_not_exists")))
    },
      """WITH purch AS (
        |  SELECT DISTINCT CASE WHEN ((user_id % 7) + 7) % 7 = 0 THEN NULL
        |    ELSE user_id END AS maybe_uid
        |  FROM events WHERE event_type = 'purchase'),
        |base AS (SELECT DISTINCT user_id FROM events)
        |SELECT
        |  (SELECT COUNT(*) FROM base) AS n_base,
        |  (SELECT COUNT(*) FROM base WHERE user_id NOT IN
        |    (SELECT maybe_uid FROM purch)) AS n_not_in_nullable,
        |  (SELECT COUNT(*) FROM base WHERE user_id NOT IN
        |    (SELECT maybe_uid FROM purch WHERE maybe_uid IS NOT NULL))
        |    AS n_not_in_filtered,
        |  (SELECT COUNT(*) FROM base b WHERE NOT EXISTS
        |    (SELECT 1 FROM purch p WHERE p.maybe_uid = b.user_id))
        |    AS n_not_exists""".stripMargin),
  )
}
