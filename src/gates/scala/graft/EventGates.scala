package graft

import graft.functions.HashFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clickstream analytics over the events table (`events_*`). */
private[graft] object EventGates {
  import GateHelpers._

  val gates: Seq[Gate] = Seq(

    // Exponentially-decayed rolling count per event type: α = 1/2 makes
    // every weight a dyadic rational, every term an EXACT double, and
    // the 24-hour window bounds the exponent spread under 52 bits — the
    // whole sum is engine-exact with no rounding discipline at all.
    Gate("events_ewma", (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val r2 = hourly.select(col("event_type").as("et2_"), col("h").as("h2_"),
        col("n").as("n2_"))
      hourly.join(r2, col("event_type") === col("et2_") &&
          col("h2_") <= col("h") &&
          col("h2_") >= col("h") - expr("INTERVAL 23 HOURS"))
        .groupBy(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("n"))
        .agg(sum(col("n2_") * pow(lit(0.5),
          (unix_timestamp(col("h")) - unix_timestamp(col("h2_"))) / lit(3600)))
          .as("decayed"))
        .orderBy(col("event_type"), col("hour"))
    },
      // identical dyadic-weight decayed sum: every term is an exact double,
      // so no rounding appears on either side
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT r1.event_type,
        |  strftime(r1.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  r1.n,
        |  SUM(r2.n * pow(0.5, date_diff('hour', r2.h, r1.h))) AS decayed
        |FROM hourly r1 JOIN hourly r2
        |  ON r1.event_type = r2.event_type
        |  AND r2.h <= r1.h AND r2.h >= r1.h - INTERVAL 23 HOUR
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2""".stripMargin),

    // ---- Streaming-shaped batch equivalents over events ----
    Gate("events_hourly_rollup", (s, d) => {
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Hopping (sliding) rollup: 1-hour windows every 30 minutes — each
    // event lands in exactly two windows; the smoothing variant of the
    // tumbling rollup, via the built-in window() generator.
    Gate("events_hopping_rollup", (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    },
      // every event lands in exactly two 1h/30m windows: the 30-min floor
      // and the one before it (Spark's window() aligns starts to epoch 0)
      """WITH w AS (SELECT event_type, value,
        |    strftime(make_timestamp(
        |      (epoch_us(ts) // 1800000000) * 1800000000 - off),
        |      '%Y-%m-%d %H:%M:%S') AS w_start
        |  FROM events, (SELECT unnest([0, 1800000000]) AS off) o)
        |SELECT w_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Gate("events_session_windows", (s, d) => {
      // 30-min-inactivity sessionization: the batch shape of
      // flatMapGroupsWithState session windows.
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_no"))
    },
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, value,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Hourly volume anomaly detection per event_type: trailing-24-bucket
    // baseline as EXACT integer window sums (Σn, Σn², m — no
    // order-dependent float aggregation), closed-form mean/variance,
    // z-score flag at |z| ≥ 2.5. One hourly-rollup shuffle (uniform
    // keys) + one window partitioned by event_type — both scale-safe;
    // at 100 TB the rollup is the only pass over raw events and the
    // window runs over ~hours×types rows.
    Gate("events_anomaly", (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(-24, -1)
      hourly
        .withColumn("s", sum(col("n")).over(win).cast("double"))
        .withColumn("q", sum(col("n") * col("n")).over(win).cast("double"))
        .withColumn("m", count(lit(1)).over(win).cast("double"))
        .where(col("m") >= 12 &&
          (col("q") - col("s") * col("s") / col("m")) > 0)
        .withColumn("z", (col("n") - col("s") / col("m")) /
          sqrt((col("q") - col("s") * col("s") / col("m")) / (col("m") - 1)))
        .where(abs(col("z")) >= 2.5)
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), round(col("z"), 6).as("z"))
        .orderBy(col("hour"), col("event_type"))
    },
      // same exact-integer-sums construction: the z expression is the
      // identical IEEE double op sequence on both engines
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, h, n,
        |    CAST(SUM(n) OVER win AS DOUBLE) AS s,
        |    CAST(SUM(n*n) OVER win AS DOUBLE) AS q,
        |    CAST(COUNT(*) OVER win AS DOUBLE) AS m
        |  FROM hourly WINDOW win AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, h, n,
        |    (n - s/m) / sqrt((q - s*s/m)/(m-1)) AS z
        |  FROM w WHERE m >= 12 AND (q - s*s/m) > 0)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n,
        |  ROUND(z, 6) AS z
        |FROM z WHERE abs(z) >= 2.5
        |ORDER BY hour, event_type""".stripMargin),

    // Markov stationary distribution of the user journey: 3 integer
    // fixed-point power-iteration rounds over the ROW-STOCHASTIC
    // event-type transition matrix (share = (p·t) div r — the PageRank
    // carrier without damping or teleport, since a transition matrix is
    // already stochastic): where the journey settles if it runs forever
    // — the equilibrium the raw transition counts only hint at. The
    // state space is the TYPE alphabet (5 rows); only the one lag
    // window touches event grain.
    Gate("events_markov_stationary", (s, d) => {
      val S = 1000000000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("i"), col("event_type").as("j"))
        .agg(count(lit(1)).as("t"))
        .localCheckpoint()
      val rows = tr.groupBy(col("i")).agg(sum(col("t")).as("r"))
        .localCheckpoint()
      var p = rows.crossJoin(broadcast(rows.agg(count(lit(1)).as("k"))))
        .select(col("i").as("state"), expr(s"${S}L div k").as("p"))
        .localCheckpoint()
      (1 to 3).foreach { _ =>
        p = tr.join(rows, "i")
          .join(p.withColumnRenamed("state", "i"), "i")
          .select(col("j").as("state"), expr("(p * t) div r").as("sh"))
          .groupBy(col("state")).agg(sum(col("sh")).as("p"))
          .localCheckpoint()
      }
      p.select(col("state").as("event_type"), col("p").as("stationary_units"))
        .orderBy(col("event_type"))
    },
    // same integer share = (p·t) // r, three unrolled rounds
    {
      val rounds = (1 to 3).map { n =>
        s"""p$n AS (SELECT tr.j AS state,
           |    CAST(SUM((p.p * tr.t) // rw.r) AS BIGINT) AS p
           |  FROM tr JOIN rw USING (i)
           |  JOIN p${n - 1} p ON p.state = tr.i GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (SELECT user_id, event_type, ts, event_id,
         |    LAG(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev
         |  FROM events),
         |tr AS (SELECT prev AS i, event_type AS j, COUNT(*) AS t
         |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         |rw AS (SELECT i, CAST(SUM(t) AS BIGINT) AS r FROM tr GROUP BY 1),
         |k AS (SELECT COUNT(*) AS k FROM rw),
         |p0 AS (SELECT i AS state,
         |  CAST(1000000000000 // k AS BIGINT) AS p FROM rw CROSS JOIN k),
         |$rounds
         |SELECT state AS event_type, p AS stationary_units
         |FROM p3 ORDER BY event_type""".stripMargin
    }),

    // Time-to-convert: per converting user, the µs gap from FIRST view
    // to the first click strictly after it (the funnel's latency, not
    // just its count); per-step medians and p90 rank-selected at exact
    // positions ⌊(n+1)/2⌋ / ⌈0.9n⌉ under (gap, user) — integer µs, no
    // interpolated quantiles. Same three-aggregate shape as
    // events_funnel, one extra subtraction.
    Gate("events_time_to_convert", (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        .localCheckpoint()
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val gaps = c.join(v, "user_id")
        .select(col("user_id"),
          (unix_micros(col("t2")) - unix_micros(col("t1"))).as("gap"))
      val w = Window.orderBy(col("gap"), col("user_id"))
      val ranked = gaps.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(gaps.agg(count(lit(1)).as("n"))))
        .localCheckpoint()
      ranked.where(col("rn") === expr("(n + 1) div 2"))
        .select(lit("median").as("stat"), col("n").as("n_converted"),
          col("gap").as("gap_us"))
        .unionAll(ranked.where(col("rn") === expr("(9 * n + 9) div 10"))
          .select(lit("p90").as("stat"), col("n").as("n_converted"),
            col("gap").as("gap_us")))
        .orderBy(col("stat"))
    },
      // exact-rank median and ceil(0.9n) p90 over first-view→click gaps
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |g AS (SELECT c.user_id,
        |    epoch_us(c.t2) - epoch_us(v.t1) AS gap
        |  FROM c JOIN v USING (user_id)),
        |r AS (SELECT gap, user_id,
        |    ROW_NUMBER() OVER (ORDER BY gap, user_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM g)
        |SELECT 'median' AS stat, n AS n_converted, gap AS gap_us
        |FROM r WHERE rn = (n + 1) // 2
        |UNION ALL
        |SELECT 'p90', n, gap FROM r WHERE rn = (9 * n + 9) // 10
        |ORDER BY stat""".stripMargin),

    // Theil–Sen robust trend per event type: the MEDIAN of all pairwise
    // day-slopes — one wild day moves OLS arbitrarily but shifts a
    // median by one rank (the regression twin of the MAD fence). Slopes
    // are exact integer ratios in double (deterministic division), the
    // median is rank-selected at ⌊(n+1)/2⌋ under (slope, da, db) — no
    // interpolation. The pair join is day-grain² per type (a YEAR is
    // ~66k pairs), never event-grain.
    Gate("events_theilsen", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("di"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val slopes = daily.select(col("event_type"), col("di").as("da"),
          col("c").as("ca"))
        .join(daily.select(col("event_type"), col("di").as("db"),
          col("c").as("cb")), "event_type")
        .where(col("da") < col("db"))
        .withColumn("slope", round(
          (col("cb") - col("ca")).cast("double") /
            (col("db") - col("da")).cast("double"), 9))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("slope"), col("da"), col("db"))
      slopes
        .withColumn("rn", row_number().over(w))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .where(col("rn") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
          col("slope").as("theil_sen_slope"))
        .orderBy(col("event_type"))
    },
      // same day-grain pair slopes, same rank-selected lower median
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |sl AS (
        |  SELECT a.event_type, a.di AS da, b.di AS db,
        |    ROUND(CAST(b.c - a.c AS DOUBLE)
        |      / CAST(b.di - a.di AS DOUBLE), 9) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.di < b.di),
        |r AS (SELECT event_type, slope,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY slope, da, db) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np
        |  FROM sl)
        |SELECT event_type, np AS n_pairs, slope AS theil_sen_slope
        |FROM r WHERE rn = (np + 1) // 2
        |ORDER BY event_type""".stripMargin),

    // Inter-arrival spectrum per event type: consecutive Δt in integer
    // µs, binned to powers of two via length(bin(dt)) — the highest-bit
    // position, an EXACT integer log2 both engines compute identically
    // (no float log) — with per-bucket counts and min/max. The
    // watermark-delay / session-gap pre-flight: where the Δt mass sits
    // decides both knobs, measured instead of guessed (pairs with
    // stream_lateness_audit, which prices a chosen delay's drops).
    Gate("events_interarrival", (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .where(col("nxt").isNotNull)
        .withColumn("dt", unix_micros(col("nxt")) - unix_micros(col("ts")))
        .withColumn("bucket", length(bin(col("dt"))))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("dt")).as("min_dt"),
          max(col("dt")).as("max_dt"))
        .orderBy(col("event_type"), col("bucket"))
    },
      // exact integer log2 via the binary-string length, both engines
      """WITH iv AS (
        |  SELECT event_type,
        |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
        |SELECT event_type, CAST(length(bin(dt)) AS INT) AS bucket,
        |  COUNT(*) AS n, MIN(dt) AS min_dt, MAX(dt) AS max_dt
        |FROM iv WHERE dt IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // CUSUM change-point detection on the daily event series, ALL
    // INTEGER: with n days and total T, the statistic S_d = Σ_{i≤d}
    // (n·c_i − T) is the textbook CUSUM scaled by n — no float mean, no
    // order-dependent summation — and the change point is argmax |S_d|
    // (Page 1954 / Taylor's bootstrap form, minus the resampling). One
    // day-grain rollup is the only pass over raw events; the ordered
    // cumsum window runs over the day series, which is bounded tiny
    // (decades fit in 10^4 rows), so its single-partition sort is free.
    Gate("events_cusum", (s, d) => {
      // the day series is the fan-out point (totals, cumsum, argmax all
      // read it) — checkpoint it so raw events scan ONCE, not once per
      // lazy branch (PlanShapeSpec pins the single scan)
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = daily.agg(sum(col("n")).as("t"),
        count(lit(1)).as("n_days"))
      val wc = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily.crossJoin(broadcast(tot))
        .withColumn("s", sum(col("n_days") * col("n") - col("t")).over(wc))
        .localCheckpoint()
      cum.crossJoin(broadcast(
          cum.agg(max(abs(col("s"))).as("s_max"))))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("s").as("cusum_n"),
          (abs(col("s")) === col("s_max")).as("is_changepoint"))
        .orderBy(col("day"))
    },
      // all-integer CUSUM: S_d = cumsum(n_days·c − T), argmax |S| flagged
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
        |  COUNT(*) AS n_days FROM daily),
        |cum AS (
        |  SELECT day, n,
        |    CAST(SUM(n_days * n - t) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_n
        |  FROM daily CROSS JOIN tot)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n, cusum_n,
        |  abs(cusum_n) = (SELECT MAX(abs(cusum_n)) FROM cum)
        |    AS is_changepoint
        |FROM cum ORDER BY day""".stripMargin),

    // Time-weighted average (TWAP) per user: each reading holds until
    // the next one, so the mean is Σ value·Δt / ΣΔt — the telemetry/
    // pricing aggregate a plain AVG silently mis-states under uneven
    // sampling. Engine-exact: Δt in integer µs, value quantized by
    // floor(v·2^20) (power-of-two scaling is IEEE-exact, floor is
    // engine-identical — the house float-sum discipline), the weighted
    // sum carried in DECIMAL(38), ONE double division chain at the end.
    // One per-user lead window + one combiner-heavy agg.
    Gate("events_twap", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .where(col("nxt").isNotNull)
        .withColumn("dt", unix_micros(col("nxt")) - unix_micros(col("ts")))
        .withColumn("q",
          floor(col("value") * lit(1048576.0)).cast("decimal(38,0)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt")).as("span_us"),
          sum(col("q") * col("dt").cast("decimal(38,0)")).as("num_"))
        .select(col("user_id"), col("n_intervals"), col("span_us"),
          round(col("num_").cast("double") / col("span_us").cast("double")
            / lit(1048576.0), 6).as("twap"))
        .orderBy(col("user_id"))
    },
      // integer µs intervals, floor(v·2^20) quantized weights, one division
      """WITH iv AS (
        |  SELECT user_id, value,
        |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (SELECT user_id,
        |    CAST(FLOOR(value * 1048576.0) AS HUGEINT) AS q, dt
        |  FROM iv WHERE dt IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(dt) AS BIGINT) AS span_us,
        |  ROUND(CAST(SUM(q * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE)
        |    / 1048576.0, 6) AS twap
        |FROM f GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Gaps-and-islands: longest run of CONSECUTIVE active days per user
    // — the canonical streak analytic, via the rank-difference trick
    // (day − dense day-rank is constant within an island, integer-exact,
    // no iteration). One distinct (user, day) rollup is the only pass
    // over raw events; both windows run on the day-grain relation,
    // partitioned by user.
    Gate("events_streaks", (s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start"),
          max(col("day")).as("end"))
      val best = Window.partitionBy(col("user_id"))
        .orderBy(col("len").desc, col("start"))
      islands
        .withColumn("rn", row_number().over(best))
        .where(col("rn") === 1)
        .select(col("user_id"), col("len").as("longest_streak"),
          date_format(col("start"), "yyyy-MM-dd").as("streak_start"),
          date_format(col("end"), "yyyy-MM-dd").as("streak_end"))
        .orderBy(col("user_id"))
    },
      // rank-difference islands; longest per user, earliest-start ties
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INT) AS grp, day
        |  FROM days),
        |runs AS (
        |  SELECT user_id, grp, COUNT(*) AS len,
        |    MIN(day) AS start, MAX(day) AS fin
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, len AS longest_streak,
        |  strftime(start, '%Y-%m-%d') AS streak_start,
        |  strftime(fin, '%Y-%m-%d') AS streak_end
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY len DESC, start) AS rn FROM runs)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Time-series gap filling: dense (user × hour) spine with zero-fill —
    // the "no data is data" reporting shape. The spine is a tiny explode
    // cross-joined to the user dim; the only real shuffle is the hourly
    // aggregate (uniform keys). At scale the spine join partition-prunes
    // against a date-partitioned store.
    Gate("events_gap_fill", (s, d) => {
      val e = Tables.events(s, d)
      val spine = s.sql(
        """SELECT explode(sequence(TIMESTAMP '2024-01-01 00:00:00',
          |  TIMESTAMP '2024-01-07 23:00:00', INTERVAL 1 HOUR)) AS h""".stripMargin)
      val users = e.select(col("user_id")).distinct()
      val hourly = e
        .where(col("ts") < lit("2024-01-08").cast("timestamp"))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      users.crossJoin(spine)
        .join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("user_id"), col("hour_s"))
    },
      """WITH spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-01-07 23:00:00', INTERVAL 1 HOUR)) AS h),
        |u AS (SELECT DISTINCT user_id FROM events),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, COUNT(*) AS n
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1, 2)
        |SELECT u.user_id, strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
        |  COALESCE(hourly.n, 0) AS n
        |FROM u CROSS JOIN spine s
        |LEFT JOIN hourly ON hourly.user_id = u.user_id AND hourly.h = s.h
        |ORDER BY u.user_id, hour_s""".stripMargin),

    // Ordered funnel: stage per user = how far through view -> click ->
    // purchase they got, each step strictly AFTER the previous one's
    // first occurrence. Three combiner aggregates chained by broadcast
    // joins — no window over raw events, no per-user collect.
    // Rolling 7-day active users (WAU curve): distinct (user, day) pairs
    // range-joined to a broadcast day spine — days are tiny, the pair
    // table shuffles once for the distinct and once for the count.
    Gate("events_rolling_actives", (s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val spine = broadcast(ud.select(col("day").as("d")).distinct())
      ud.join(spine, datediff(col("d"), col("day")).between(0, 6))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("active_users"))
        .orderBy(col("day"))
    },
      // identical spine join: trailing 7 calendar days, distinct users
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |sp AS (SELECT DISTINCT day AS d FROM ud)
        |SELECT strftime(sp.d, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT ud.user_id) AS active_users
        |FROM ud JOIN sp ON date_diff('day', ud.day, sp.d) BETWEEN 0 AND 6
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Top opening paths (first 3 events per user): one ranked window,
    // conditional-max pivot to a path string, combiner-heavy path count.
    Gate("events_top_paths", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(max(when(col("rn") === 1, col("event_type"))).as("s1"),
          max(when(col("rn") === 2, col("event_type"))).as("s2"),
          max(when(col("rn") === 3, col("event_type"))).as("s3"))
        .groupBy(concat_ws(" > ", col("s1"), col("s2"), col("s3")).as("path"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    },
      // identical pivot to a path string; concat_ws skips NULLs in both
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id,
        |    MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
        |    MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
        |    MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
        |  FROM r WHERE rn <= 3 GROUP BY 1),
        |c AS (SELECT concat_ws(' > ', s1, s2, s3) AS path, COUNT(*) AS n_users
        |  FROM p GROUP BY 1)
        |SELECT path, n_users FROM c
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin),

    // Event-type transition matrix (Markov counts): next event per user
    // via one lead window over the per-user sort; last events (no
    // successor) drop. Feeds funnel design and anomaly baselines.
    Gate("events_transitions", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("from_type"), col("to_type"))
    },
      // identical lead window, last events drop
      """SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        |FROM (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Weekly cohort retention: cohort = first-activity week per user,
    // cells = distinct users active k weeks later. Two combiner-heavy
    // aggregations + one user-key join; no windows, no self-join.
    // Kaplan-Meier user survival: duration = days from first to last
    // event; churn = no activity on the window's closing day (the
    // uniformly-active synthetic users never go quiet for a whole week,
    // so the final-day cutoff is what yields real deaths — 17 of 150 at
    // sf0.01); still-active users right-censored — the censoring-correct
    // curve (a naive lifetime histogram counts the still-alive as
    // churned, biasing survival DOWN). The risk table is distributed
    // integer arithmetic; the cumulative product folds on the driver
    // over the ≤31 day-granular rows in exact 10^12 fixed point (BigInt
    // floor division), replayed by the oracle's recursive CTE in the
    // same integer arithmetic.
    Gate("events_survival_km", (s, d) => {
      val ev = Tables.events(s, d)
      // one scalar to the driver: the window's closing date (the same
      // statistics-driven-parameter discipline as cosinePairsAuto)
      val maxD = ev.agg(max(to_date(col("ts")))).collect()(0)
        .getDate(0)
      operators.Survival.kaplanMeier(
        operators.Survival.lifetimes(ev, "user_id", "ts",
          lit(maxD.toString)),
        "dur", "ev")
        .orderBy(col("t"))
    },
      // identical cohorting: Monday-truncated weeks, day-diff/7 offsets
      // Kaplan-Meier: lifetime table and risk table in plain SQL; the
      // 10^12 fixed-point survival product replayed by a recursive CTE in
      // the SAME integer floor-division arithmetic as the engine's BigInt
      // fold (UNION ALL per the WITH RECURSIVE dedup gotcha)
      survivalKmSql),

    // Per-cohort survival: one KM curve per signup week (the retention
    // matrix's censoring-correct sibling) — risk tables distributed per
    // (cohort, day), driver folds each cohort's bounded curve; cohort
    // labels use the shared date_trunc-week string convention.
    Gate("events_cohort_survival", (s, d) => {
      val ev = Tables.events(s, d)
      val maxD = ev.agg(max(to_date(col("ts")))).collect()(0)
        .getDate(0)
      val life = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"))
        .select(
          date_format(date_trunc("week", col("first_d")), "yyyy-MM-dd")
            .as("cohort"),
          datediff(col("last_d"), col("first_d")).cast("long").as("dur"),
          when(col("last_d") < lit(maxD.toString), 1L).otherwise(0L)
            .as("ev"))
      operators.Survival.kaplanMeierGrouped(life, "cohort", "dur", "ev")
        .orderBy(col("cohort"), col("t"))
    },
      // per-cohort KM: the same recursive fold PARTITIONED by cohort (the
      // recursion joins on (cohort, rn)), cohort = date_trunc-week string
      """WITH RECURSIVE life AS (SELECT user_id,
        |    MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
        |  FROM events GROUP BY 1),
        |lt AS (SELECT strftime(date_trunc('week', f), '%Y-%m-%d') AS cohort,
        |    date_diff('day', f, l) AS dur,
        |    CASE WHEN l < (SELECT MAX(CAST(ts AS DATE)) FROM events)
        |      THEN 1 ELSE 0 END AS ev
        |  FROM life),
        |tt AS (SELECT cohort, dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev) AS BIGINT) AS c
        |  FROM lt GROUP BY 1, 2),
        |tot AS (SELECT cohort, COUNT(*) AS n FROM lt GROUP BY 1),
        |ord AS (SELECT tt.cohort, t, d, c,
        |    ROW_NUMBER() OVER (PARTITION BY tt.cohort ORDER BY t) AS rn,
        |    tot.n - COALESCE(SUM(d + c)
        |      OVER (PARTITION BY tt.cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM tt JOIN tot ON tt.cohort = tot.cohort),
        |km AS (
        |  SELECT cohort, rn, t, n_risk, d, c,
        |    CAST((1000000000000 * (n_risk - d)) // n_risk AS BIGINT) AS s
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.cohort, o.rn, o.t, o.n_risk, o.d, o.c,
        |    CAST((km.s * (o.n_risk - o.d)) // o.n_risk AS BIGINT)
        |  FROM km JOIN ord o
        |    ON o.cohort = km.cohort AND o.rn = km.rn + 1)
        |SELECT cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
        |  s AS surv_micro,
        |  ROUND(CAST(s AS DOUBLE) / 1000000000000, 6) AS survival
        |FROM km ORDER BY cohort, t""".stripMargin),

    // KM with Greenwood 95% bands: the cumulative Σ d/(n(n−d)) rides the
    // same driver fold in integer NANO units; the band is a short chain
    // of correctly-rounded float ops (sqrt is IEEE-exact, unlike libm
    // ln/exp) so it replays identically; d = n points band NULL.
    Gate("events_survival_bands", (s, d) => {
      val ev = Tables.events(s, d)
      val maxD = ev.agg(max(to_date(col("ts")))).collect()(0)
        .getDate(0)
      operators.Survival.kaplanMeierBands(
        operators.Survival.lifetimes(ev, "user_id", "ts",
          lit(maxD.toString)),
        "dur", "ev")
        .orderBy(col("t"))
    },
      // KM + Greenwood: the recursive CTE carries BOTH integer
      // accumulators (survival micro product, Greenwood nano sum); bands
      // are the engine's exact float chain — division, IEEE sqrt, two
      // multiplies, GREATEST/LEAST clamp behind an explicit null CASE
      """WITH RECURSIVE life AS (SELECT user_id,
        |    date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
        |      AS dur,
        |    CASE WHEN MAX(CAST(ts AS DATE)) <
        |        (SELECT MAX(CAST(ts AS DATE)) FROM events)
        |      THEN 1 ELSE 0 END AS ev
        |  FROM events GROUP BY 1),
        |tt AS (SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev) AS BIGINT) AS c
        |  FROM life GROUP BY 1),
        |ord AS (SELECT t, d, c, ROW_NUMBER() OVER (ORDER BY t) AS rn,
        |    (SELECT COUNT(*) FROM life) - COALESCE(SUM(d + c)
        |      OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM tt),
        |km AS (
        |  SELECT rn, t, n_risk, d, c,
        |    CAST((1000000000000 * (n_risk - d)) // n_risk AS BIGINT) AS s,
        |    CASE WHEN n_risk > d THEN
        |      CAST((1000000000 * d) // (n_risk * (n_risk - d)) AS BIGINT)
        |      END AS g
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.t, o.n_risk, o.d, o.c,
        |    CAST((km.s * (o.n_risk - o.d)) // o.n_risk AS BIGINT),
        |    CASE WHEN km.g IS NULL OR o.n_risk <= o.d THEN NULL
        |      ELSE km.g + CAST((1000000000 * o.d)
        |        // (o.n_risk * (o.n_risk - o.d)) AS BIGINT) END
        |  FROM km JOIN ord o ON o.rn = km.rn + 1)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
        |  s AS surv_micro, g AS g_nano,
        |  ROUND(CAST(s AS DOUBLE) / 1000000000000, 6) AS survival,
        |  CASE WHEN g IS NOT NULL THEN
        |    ROUND(GREATEST(0.0, CAST(s AS DOUBLE) / 1000000000000
        |      - 1.959964 * (CAST(s AS DOUBLE) / 1000000000000
        |        * SQRT(CAST(g AS DOUBLE) / 1000000000.0))), 6) END AS lo,
        |  CASE WHEN g IS NOT NULL THEN
        |    ROUND(LEAST(1.0, CAST(s AS DOUBLE) / 1000000000000
        |      + 1.959964 * (CAST(s AS DOUBLE) / 1000000000000
        |        * SQRT(CAST(g AS DOUBLE) / 1000000000.0))), 6) END AS hi
        |FROM km ORDER BY t""".stripMargin),

    // Log-rank test over the same lifetimes, arms hash-split by user
    // (the #ab convention shared with events_ab_ztest): does either arm
    // churn faster, censoring respected — the A/B read a raw churn-rate
    // compare gets wrong. Milli/nano fixed-point hypergeometric terms,
    // integer sums, one float chain at the end.
    Gate("events_survival_logrank", (s, d) => {
      val ev = Tables.events(s, d)
      val maxD = ev.agg(max(to_date(col("ts")))).collect()(0)
        .getDate(0)
      val life = operators.Survival.lifetimes(ev, "user_id", "ts",
          lit(maxD.toString))
        .withColumn("arm", pmod(HashFunctions.hash64(
          concat(col("subject").cast("string"), lit("#ab"))), lit(2)))
      operators.Survival.logRank(life, "dur", "ev", "arm")
    },
      // Mantel-Haenszel log-rank in the same milli/nano fixed point as the
      // engine: every hypergeometric term an integer floor division, sums
      // exact, one double multiply-divide chain at the end
      s"""WITH life AS (SELECT user_id,
         |    date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
         |      AS dur,
         |    CASE WHEN MAX(CAST(ts AS DATE)) <
         |        (SELECT MAX(CAST(ts AS DATE)) FROM events)
         |      THEN 1 ELSE 0 END AS ev,
         |    ${sqlHash64("CAST(user_id AS VARCHAR) || '#ab'")} % 2 AS arm
         |  FROM events GROUP BY user_id),
         |tt AS (SELECT dur AS t,
         |    CAST(SUM(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d2,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c2
         |  FROM life GROUP BY 1),
         |risk AS (SELECT t, d1, d2,
         |    (SELECT SUM(d1 + c1) FROM tt) - COALESCE(SUM(d1 + c1)
         |      OVER (ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
         |    (SELECT SUM(d2 + c2) FROM tt) - COALESCE(SUM(d2 + c2)
         |      OVER (ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
         |  FROM tt),
         |ev AS (SELECT t, d1, d2, n1, n2, n1 + n2 AS n, d1 + d2 AS d
         |  FROM risk WHERE d1 + d2 > 0),
         |terms AS (SELECT
         |    1000 * d1 - ((1000 * d * n1) // n) AS oem,
         |    d * ((1000 * n1) // n) * ((1000 * n2) // n) *
         |      (CASE WHEN n > 1 THEN (1000 * (n - d)) // (n - 1)
         |        ELSE 0 END) AS v9,
         |    d1, d2 FROM ev),
         |agg AS (SELECT
         |    (SELECT CAST(SUM(d1 + c1) AS BIGINT) FROM tt) AS n1,
         |    (SELECT CAST(SUM(d2 + c2) AS BIGINT) FROM tt) AS n2,
         |    CAST(SUM(d1) AS BIGINT) AS d1, CAST(SUM(d2) AS BIGINT) AS d2,
         |    CAST(SUM(oem) AS BIGINT) AS oe_milli,
         |    CAST(SUM(v9) AS BIGINT) AS v_nano
         |  FROM terms),
         |fin AS (SELECT n1, n2, d1, d2, oe_milli, v_nano,
         |    CASE WHEN v_nano > 0
         |      THEN ROUND(CAST(oe_milli * oe_milli AS DOUBLE) * 1000.0
         |        / CAST(v_nano AS DOUBLE), 6) END AS chi2
         |  FROM agg)
         |SELECT n1, n2, d1, d2, oe_milli, v_nano, chi2,
         |  COALESCE(chi2 > 3.841459, FALSE) AS significant
         |FROM fin""".stripMargin),

    Gate("events_retention", (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
      e.distinct().join(cohort, "user_id")
        .groupBy(date_format(col("cwk"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("wk"), col("cwk")) / 7).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cwk FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT strftime(c.cwk, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', c.cwk, a.wk) / 7 AS INT) AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Gate("events_funnel", (s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      // each stage aggregate feeds TWO lazy branches (the next stage and
      // the final assembly) — checkpoint the small per-user relations so
      // the raw type-slices scan once each (7 scans → 4, ScanCensus find)
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        .localCheckpoint()
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        .localCheckpoint()
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      e.select(col("user_id")).distinct()
        .join(v, Seq("user_id"), "left")
        .join(c.select(col("user_id"), col("t2")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("t3")), Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0).as("funnel_stage"))
        .orderBy(col("user_id"))
    },
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT u.user_id, CAST(CASE
        |  WHEN p.t3 IS NOT NULL THEN 3
        |  WHEN c.t2 IS NOT NULL THEN 2
        |  WHEN v.t1 IS NOT NULL THEN 1
        |  ELSE 0 END AS INTEGER) AS funnel_stage
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN v ON v.user_id = u.user_id
        |LEFT JOIN c ON c.user_id = u.user_id
        |LEFT JOIN p ON p.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin),

    // Gini–Simpson diversity per user: 1 − Σ p_i² = (n² − Σ c_i²) / n²
    // over the user's event-type mix — the EXACT-rational diversity
    // index (entropy's log needs floats; this one is two integer sums
    // and one division). Low diversity + high volume = a bot signature;
    // the per-user mix is one combiner-heavy agg + one reagg, no window.
    Gate("events_diversity", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n"),
          sum(col("c") * col("c")).as("c2"))
        .select(col("user_id"), col("n_types"), col("n"),
          round((col("n") * col("n") - col("c2")).cast("double") /
            (col("n") * col("n")).cast("double"), 6).as("gini_simpson"))
        .orderBy(col("user_id"))
    },
      // (n² − Σc²)/n² exact rational per user
      """WITH mix AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_types,
        |  CAST(SUM(c) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(c) * SUM(c) - SUM(c * c) AS DOUBLE)
        |    / CAST(SUM(c) * SUM(c) AS DOUBLE), 6) AS gini_simpson
        |FROM mix GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Lag-1 autocorrelation of the daily count series per event type,
    // over the GLOBAL day spine (a type absent on a day counts 0 —
    // dropping the day would splice non-adjacent days together). The
    // estimator is multiplied through by n²: num = Σ(n·x_t − T)(n·x_{t+1}
    // − T), den = Σ(n·x_t − T)² — exact integers, one division. r₁ ≈ 0
    // says daily counts are memoryless; r₁ ≫ 0 says yesterday predicts
    // today and rate alarms need a trend term. Day-grain series only;
    // the per-type ordered window is bounded tiny.
    Gate("events_autocorr", (s, d) => {
      val ev = Tables.events(s, d)
      val spine = ev.select(to_date(col("ts")).as("day")).distinct()
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val series = spine
        .crossJoin(ev.select(col("event_type")).distinct())
        .join(daily, Seq("event_type", "day"), "left")
        .withColumn("x", coalesce(col("c"), lit(0L)))
        .localCheckpoint()
      val tot = series.groupBy(col("event_type"))
        .agg(sum(col("x")).as("t"), count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      series.join(tot, "event_type")
        .withColumn("dev", col("n") * col("x") - col("t"))
        .withColumn("nxt", lead(col("dev"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_days"),
          sum(col("dev") * col("nxt")).as("num_"),
          sum(col("dev") * col("dev")).as("den_"))
        .select(col("event_type"), col("n_days"),
          round(col("num_").cast("double") / col("den_").cast("double"), 6)
            .as("acf1"))
        .orderBy(col("event_type"))
    },
      // n²-scaled integer moments over the zero-filled day spine
      """WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT t.event_type, s.day, COALESCE(d.c, 0) AS x
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN daily d
        |    ON d.event_type = t.event_type AND d.day = s.day),
        |tot AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS t,
        |    COUNT(*) AS n
        |  FROM series GROUP BY 1),
        |dev AS (
        |  SELECT s.event_type, tot.n,
        |    tot.n * s.x - tot.t AS dev,
        |    lead(tot.n * s.x - tot.t) OVER (PARTITION BY s.event_type
        |      ORDER BY s.day) AS nxt
        |  FROM series s JOIN tot ON s.event_type = tot.event_type)
        |SELECT event_type, MAX(n) AS n_days,
        |  ROUND(CAST(SUM(dev * nxt) AS DOUBLE)
        |    / CAST(SUM(dev * dev) AS DOUBLE), 6) AS acf1
        |FROM dev GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Wald–Wolfowitz runs test on the daily total series vs its median:
    // is the above/below-median sign sequence random, or do high days
    // clump? ALL INTEGER — the median is rank-selected (lower, under
    // (n, day)), tie days dropped per the textbook test, runs = 1 +
    // Σ[sign_t ≠ sign_{t−1}]; the expected-runs 1 + 2n₁n₂/(n₁+n₂) and
    // its variance are the only divisions, once, at the end. The
    // trend/clustering smell test that needs NO distributional
    // assumption — companion to CUSUM (which locates the break).
    Gate("events_runs_test", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val med = daily
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n"), col("day"))))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
        .where(col("rn") === expr("(nd + 1) div 2"))
        .select(col("n").as("med"))
      val signed = daily.crossJoin(broadcast(med))
        .where(col("n") =!= col("med"))
        .withColumn("sgn", (col("n") > col("med")).cast("int"))
        .withColumn("chg",
          when(lag(col("sgn"), 1).over(Window.orderBy(col("day"))).isNull,
            0).otherwise(
            (lag(col("sgn"), 1).over(Window.orderBy(col("day")))
              =!= col("sgn")).cast("int")))
      signed.agg(count(lit(1)).as("n_kept"),
          sum(col("sgn")).as("n_plus"),
          sum(lit(1) - col("sgn")).as("n_minus"),
          (sum(col("chg")) + 1).as("n_runs"))
        .select(col("n_kept"), col("n_plus"), col("n_minus"), col("n_runs"),
          round(lit(1.0) + lit(2.0) *
            (col("n_plus") * col("n_minus")).cast("double") /
            col("n_kept").cast("double"), 6).as("expected_runs"),
          round(lit(2.0) * (col("n_plus") * col("n_minus")).cast("double") *
            (lit(2) * col("n_plus") * col("n_minus") - col("n_kept"))
              .cast("double") /
            ((col("n_kept") * col("n_kept")).cast("double") *
              (col("n_kept") - 1).cast("double")), 6).as("var_runs"))
    },
      // lower-median sign sequence, tie days dropped, one division at end
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |med AS (
        |  SELECT n AS med FROM (
        |    SELECT n, ROW_NUMBER() OVER (ORDER BY n, day) AS rn,
        |      COUNT(*) OVER () AS nd
        |    FROM daily)
        |  WHERE rn = (nd + 1) // 2),
        |signed AS (
        |  SELECT day, CASE WHEN n > med THEN 1 ELSE 0 END AS sgn
        |  FROM daily CROSS JOIN med WHERE n <> med),
        |runs AS (
        |  SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
        |      THEN 0
        |      WHEN lag(sgn) OVER (ORDER BY day) <> sgn THEN 1
        |      ELSE 0 END AS chg
        |  FROM signed)
        |SELECT COUNT(*) AS n_kept,
        |  CAST(SUM(sgn) AS BIGINT) AS n_plus,
        |  CAST(SUM(1 - sgn) AS BIGINT) AS n_minus,
        |  CAST(SUM(chg) + 1 AS BIGINT) AS n_runs,
        |  ROUND(1.0 + 2.0 * CAST(SUM(sgn) * SUM(1 - sgn) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS expected_runs,
        |  ROUND(2.0 * CAST(SUM(sgn) * SUM(1 - sgn) AS DOUBLE)
        |    * CAST(2 * SUM(sgn) * SUM(1 - sgn) - COUNT(*) AS DOUBLE)
        |    / (CAST(COUNT(*) * COUNT(*) AS DOUBLE)
        |       * CAST(COUNT(*) - 1 AS DOUBLE)), 6) AS var_runs
        |FROM runs""".stripMargin),

    // Pearson lag-0 cross-correlation between every PAIR of event
    // types' daily series on the zero-filled spine: which signals move
    // together (views↔clicks) and which don't (errors) — the alarm-
    // dedup pre-flight. Moments are exact integers multiplied through
    // by n (num = nΣxy − ΣxΣy, den² = (nΣx²−(Σx)²)(nΣy²−(Σy)²)); the
    // only floats are two IEEE-exact sqrts and one division. Day-grain
    // self-join, C(5,2) pairs — never event grain.
    Gate("events_xcorr", (s, d) => {
      val ev = Tables.events(s, d)
      val spine = ev.select(to_date(col("ts")).as("day")).distinct()
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val series = spine
        .crossJoin(ev.select(col("event_type")).distinct())
        .join(daily, Seq("event_type", "day"), "left")
        .withColumn("x", coalesce(col("c"), lit(0L)))
        .select(col("event_type"), col("day"), col("x"))
        .localCheckpoint()
      series.toDF("ta", "day", "xa")
        .join(series.toDF("tb", "day", "xb"), "day")
        .where(col("ta") < col("tb"))
        .groupBy(col("ta").as("type_a"), col("tb").as("type_b"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
          sum(col("xa") * col("xb")).as("sxy"),
          sum(col("xa") * col("xa")).as("sx2"),
          sum(col("xb") * col("xb")).as("sy2"))
        .select(col("type_a"), col("type_b"), col("n_days"),
          round((col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("n_days") * col("sx2") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n_days") * col("sy2") - col("sy") * col("sy"))
              .cast("double"))), 6).as("pearson_r"))
        .orderBy(col("type_a"), col("type_b"))
    },
      // n-scaled integer moments per type pair; sqrt is IEEE-exact
      """WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT t.event_type, s.day, COALESCE(d.c, 0) AS x
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN daily d
        |    ON d.event_type = t.event_type AND d.day = s.day),
        |m AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n, CAST(SUM(a.x) AS BIGINT) AS sx,
        |    CAST(SUM(b.x) AS BIGINT) AS sy,
        |    CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
        |    CAST(SUM(a.x * a.x) AS BIGINT) AS sx2,
        |    CAST(SUM(b.x * b.x) AS BIGINT) AS sy2
        |  FROM series a JOIN series b
        |    ON a.day = b.day AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n AS n_days,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))), 6) AS pearson_r
        |FROM m ORDER BY type_a, type_b""".stripMargin),

    // Total-variation drift between the two calendar halves' event-type
    // mixes: TVD = ½ Σ |p₁ − p₂| = Σ|c₁·N₂ − c₂·N₁| / (2·N₁·N₂), exact
    // integers over common denominators, one division per row — the
    // CATEGORICAL drift the value-space KS and token-space Jaccard
    // can't see. The split day is (min+max+1) div 2 on the day index
    // (both engines floor non-negative div identically); conditional
    // sums zero-fill a type absent from one half for free.
    Gate("events_tvd_drift", (s, d) => {
      val mid = Tables.events(s, d)
        .select(datediff(to_date(col("ts")), lit("2024-01-01")).as("di"))
        .agg(expr("(min(di) + max(di) + 1) div 2").as("mid"))
      val per = Tables.events(s, d)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("di"))
        .crossJoin(broadcast(mid))
        .groupBy(col("event_type"))
        .agg(sum(when(col("di") < col("mid"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("di") >= col("mid"), 1L).otherwise(0L)).as("c2"))
        .localCheckpoint()
      val tot = per.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      per.crossJoin(broadcast(tot))
        .withColumn("numer", abs(col("c1") * col("n2") - col("c2") * col("n1")))
        .withColumn("tvd_term", round(col("numer").cast("double") /
          (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")), 6))
        .withColumn("tvd_total", round(
          sum(col("numer")).over(Window.partitionBy()).cast("double") /
          (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")), 6))
        .select(col("event_type"), col("c1"), col("c2"),
          col("tvd_term"), col("tvd_total"))
        .orderBy(col("event_type"))
    },
      // |c1·N2 − c2·N1| over common denominators, one division per row
      """WITH di AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
        |  FROM events),
        |mid AS (SELECT (MIN(di) + MAX(di) + 1) // 2 AS mid FROM di),
        |per AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN di < mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN di >= mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM di CROSS JOIN mid GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |  CAST(SUM(c2) AS BIGINT) AS n2 FROM per)
        |SELECT event_type, c1, c2,
        |  ROUND(CAST(abs(c1 * n2 - c2 * n1) AS DOUBLE)
        |    / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
        |    AS tvd_term,
        |  ROUND(CAST(SUM(abs(c1 * n2 - c2 * n1)) OVER () AS DOUBLE)
        |    / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
        |    AS tvd_total
        |FROM per CROSS JOIN tot ORDER BY event_type""".stripMargin),

    // χ² independence of event_type × day-of-week: contrib = (N·O −
    // R·C)²/(N·R·C) per cell — the float enters ONCE per cell on exact
    // integer operands, each contrib rounded to 6 then summed through
    // DECIMAL so the total is order-independent. Day-of-week via the
    // day-index mod 7 (2024-01-01 is a Monday) — engine-identical,
    // immune to locale dow conventions. Everything reads the one
    // (type, dow) cell table; margins are windows over it, never a
    // second scan.
    Gate("events_chi2_dow", (s, d) => {
      val cells = Tables.events(s, d)
        .select(col("event_type"),
          pmod(datediff(to_date(col("ts")), lit("2024-01-01")), lit(7))
            .as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      cells
        .withColumn("r", sum(col("o")).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("c", sum(col("o")).over(
          Window.partitionBy(col("dow"))))
        .withColumn("n", sum(col("o")).over(Window.partitionBy()))
        // (N·O − R·C)² and N·R·C overflow BIGINT past ~sf0.3 — carry the
        // cell arithmetic in DECIMAL(38,0) (HUGEINT in the oracle)
        .withColumn("dev", (col("n").cast("decimal(38,0)") * col("o")
          - col("r").cast("decimal(38,0)") * col("c")))
        .withColumn("contrib", round(
          (col("dev") * col("dev")).cast("double") /
          (col("n").cast("decimal(38,0)") * col("r") * col("c"))
            .cast("double"), 6))
        .withColumn("chi2_total",
          sum(col("contrib").cast("decimal(18,6)"))
            .over(Window.partitionBy()).cast("double"))
        .select(col("event_type"), col("dow"), col("o"),
          col("contrib"), col("chi2_total"))
        .orderBy(col("event_type"), col("dow"))
    },
      // per-cell rounded contribs summed through DECIMAL; dow = di mod 7
      """WITH cells AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
        |      AS dow,
        |    COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |marg AS (
        |  SELECT event_type, dow, o,
        |    SUM(o) OVER (PARTITION BY event_type) AS r,
        |    SUM(o) OVER (PARTITION BY dow) AS c,
        |    SUM(o) OVER () AS n
        |  FROM cells),
        |ct AS (
        |  SELECT event_type, dow, o,
        |    ROUND(CAST((CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |        * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |        AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE), 6) AS contrib
        |  FROM marg)
        |SELECT event_type, CAST(dow AS INT) AS dow, o, contrib,
        |  CAST(SUM(CAST(contrib AS DECIMAL(18,6))) OVER () AS DOUBLE)
        |    AS chi2_total
        |FROM ct ORDER BY event_type, dow""".stripMargin),

    // Mann–Kendall trend test per event type on the zero-filled daily
    // series: S = Σ_{i<j} sign(x_j − x_i) (the TEST to X240's Theil–Sen
    // slope), with the tie-corrected variance ×18 kept integer —
    // Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) over tie-group sizes —
    // and the continuity-corrected z the only float. Day-grain pair
    // join per type; tie groups are a reagg of the same day series.
    Gate("events_mann_kendall", (s, d) => {
      val ev = Tables.events(s, d)
      val spine = ev.select(to_date(col("ts")).as("day")).distinct()
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val series = spine
        .crossJoin(ev.select(col("event_type")).distinct())
        .join(daily, Seq("event_type", "day"), "left")
        .withColumn("x", coalesce(col("c"), lit(0L)))
        .select(col("event_type"), col("day"), col("x"))
        .localCheckpoint()
      val sStat = series.toDF("event_type", "da", "xa")
        .join(series.toDF("event_type", "db", "xb"), "event_type")
        .where(col("da") < col("db"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("xb") > col("xa"), 1L)
          .when(col("xb") < col("xa"), -1L).otherwise(0L)).as("s_stat"))
      val ties = series.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("t")).as("n_days"),
          sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
            .as("tie_corr"))
      sStat.join(ties, "event_type")
        .withColumn("var18",
          col("n_days") * (col("n_days") - 1) *
            (lit(2) * col("n_days") + 5) - col("tie_corr"))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var18"),
          round(when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
            .otherwise(lit(0.0)) /
            sqrt(col("var18").cast("double") / lit(18.0)), 6).as("z_mk"))
        .orderBy(col("event_type"))
    },
      // S and the ×18 tie-corrected variance stay integer; z is the float
      """WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT t.event_type, s.day, COALESCE(d.c, 0) AS x
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN daily d
        |    ON d.event_type = t.event_type AND d.day = s.day),
        |s_stat AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM series a JOIN series b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
        |  FROM (SELECT event_type, x, COUNT(*) AS t
        |    FROM series GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT s.event_type, t.n_days, s.s_stat,
        |  CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie_corr
        |    AS BIGINT) AS var18,
        |  ROUND((CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
        |    WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
        |    ELSE 0.0 END)
        |    / sqrt(CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
        |        - t.tie_corr AS DOUBLE) / 18.0), 6) AS z_mk
        |FROM s_stat s JOIN ties t ON s.event_type = t.event_type
        |ORDER BY s.event_type""".stripMargin),

    // Day-of-week seasonal index per event type: mean daily count on dow d
    // over the type's overall mean daily count — exact rational
    // (c_d · days_total) / (days_d · T) with ONE rounded double division.
    // days_d comes from the observed-day spine (same spine discipline as
    // events_autocorr: absent (type,dow) cells zero-fill via the
    // types × dow frame). The DECOMPOSITION companion to X255's χ² test:
    // χ² says "dow matters", this says by how much per cell.
    Gate("events_seasonality", (s, d) => {
      // one scan: the (type, day) aggregate is the fan-out point (spine,
      // type list, dow cells all derive from it) — checkpoint it so raw
      // events scan ONCE, not once per lazy branch
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", pmod(datediff(col("day"), lit("2024-01-01")), lit(7)))
        .localCheckpoint()
      val dowDays = daily.select(col("day"), col("dow")).distinct()
        .groupBy(col("dow")).agg(count(lit(1)).as("days_d"))
        .withColumn("days_total", sum(col("days_d")).over(Window.partitionBy()))
      val cells = daily
        .groupBy(col("event_type"), col("dow"))
        .agg(sum(col("c")).as("c"))
      val frame = daily.select(col("event_type")).distinct()
        .crossJoin(dowDays)
      frame.join(cells, Seq("event_type", "dow"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("t", sum(col("c")).over(
          Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("dow"), col("c"), col("days_d"),
          round((col("c") * col("days_total")).cast("double") /
            (col("days_d") * col("t")).cast("double"), 6)
            .as("seasonal_index"))
        .orderBy(col("event_type"), col("dow"))
    },
      """WITH spine AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |dowdays AS (
        |  SELECT CAST((day - DATE '2024-01-01') % 7 AS BIGINT) AS dow,
        |    COUNT(*) AS days_d
        |  FROM spine GROUP BY 1),
        |k AS (SELECT CAST(SUM(days_d) AS BIGINT) AS days_total FROM dowdays),
        |cells AS (
        |  SELECT event_type,
        |    CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7 AS BIGINT) AS dow,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |frame AS (
        |  SELECT t.event_type, d.dow, d.days_d, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN dowdays d
        |  LEFT JOIN cells c ON c.event_type = t.event_type AND c.dow = d.dow)
        |SELECT event_type, CAST(dow AS INT) AS dow, c, days_d,
        |  ROUND(CAST(c * (SELECT days_total FROM k) AS DOUBLE) /
        |    CAST(days_d * SUM(c) OVER (PARTITION BY event_type) AS DOUBLE),
        |    6) AS seasonal_index
        |FROM frame ORDER BY event_type, dow""".stripMargin),

    // Offline changepoint (binary-segmentation step 1): the single best
    // break day per event type = argmax over candidate splits of the
    // between-segment score (S_L·n_R − S_R·n_L)²/(n_L·n_R) on the daily
    // count series. Prefix sums make every candidate O(1); numerator and
    // denominator are exact integers, the ONE division per candidate
    // yields identical doubles on both engines, and the argmax is pinned
    // by (score DESC, day ASC) rank — CUSUM's offline companion (X212
    // locates drift online; this is the retrospective cut).
    Gate("events_changepoint", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val pre = daily
        .withColumn("k", row_number().over(w))
        .withColumn("sl", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("st", sum(col("c")).over(
          Window.partitionBy(col("event_type"))))
        .where(col("k") < col("n")) // split AFTER day k: both sides non-empty
        .withColumn("num",
          (col("sl").cast("decimal(38,0)") * (col("n") - col("k"))
            - (col("st") - col("sl")).cast("decimal(38,0)") * col("k")))
        .withColumn("score", (col("num") * col("num")).cast("double") /
          (col("k").cast("decimal(38,0)") * (col("n") - col("k")))
            .cast("double"))
      pre
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("score").desc, col("day"))))
        .where(col("rk") === 1)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("break_day"),
          col("k").cast("long").as("days_before"),
          (col("n") - col("k")).cast("long").as("days_after"),
          round(col("score"), 6).as("break_score"))
        .orderBy(col("event_type"))
    },
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS k,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS sl,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS HUGEINT) AS st
        |  FROM daily),
        |scored AS (
        |  SELECT event_type, day, k, n,
        |    CAST((sl * (n - k) - (st - sl) * k)
        |       * (sl * (n - k) - (st - sl) * k) AS DOUBLE)
        |      / CAST(CAST(k AS HUGEINT) * (n - k) AS DOUBLE) AS score
        |  FROM pre WHERE k < n),
        |best AS (
        |  SELECT event_type, day, k, n, score,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY score DESC, day) AS rk
        |  FROM scored)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS break_day,
        |  k AS days_before, n - k AS days_after,
        |  ROUND(score, 6) AS break_score
        |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin),

    // 2×2 association per exposure type: does having ≥1 click/error/
    // signup/view associate with purchasing? Per-user flags melt through
    // unpivot into one (exposure → a,b,c,d) contingency aggregate; odds
    // ratio a·d/(b·c) is the one rounded division (NULL when a margin is
    // empty). Cells are exact integers — the causal-smell pre-flight
    // before anyone reads a funnel as causation. User grain reduces
    // first; the melt is 4 rows per user, cells combiner-friendly.
    Gate("events_odds_ratio", (s, d) => {
      val flags = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("click"),
          max(when(col("event_type") === "error", 1L).otherwise(0L)).as("error"),
          max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signup"),
          max(when(col("event_type") === "view", 1L).otherwise(0L)).as("view"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
      flags
        .unpivot(Array(col("user_id"), col("purchased")),
          Array(col("click"), col("error"), col("signup"), col("view")),
          "exposure", "exposed")
        .groupBy(col("exposure"))
        .agg(
          sum(col("exposed") * col("purchased")).as("a"),
          sum(col("exposed") * (lit(1L) - col("purchased"))).as("b"),
          sum((lit(1L) - col("exposed")) * col("purchased")).as("c"),
          sum((lit(1L) - col("exposed")) * (lit(1L) - col("purchased"))).as("d"))
        .select(col("exposure"), col("a"), col("b"), col("c"), col("d"),
          when(col("b") * col("c") > 0,
            round((col("a") * col("d")).cast("double") /
              (col("b") * col("c")).cast("double"), 6))
            .as("odds_ratio"))
        .orderBy(col("exposure"))
    },
      """WITH flags AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error,
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS purchased
        |  FROM events GROUP BY 1),
        |long AS (
        |  SELECT user_id, purchased, 'click' AS exposure, click AS exposed
        |    FROM flags
        |  UNION ALL SELECT user_id, purchased, 'error', error FROM flags
        |  UNION ALL SELECT user_id, purchased, 'signup', signup FROM flags
        |  UNION ALL SELECT user_id, purchased, 'view', view FROM flags),
        |cells AS (
        |  SELECT exposure,
        |    CAST(SUM(exposed * purchased) AS BIGINT) AS a,
        |    CAST(SUM(exposed * (1 - purchased)) AS BIGINT) AS b,
        |    CAST(SUM((1 - exposed) * purchased) AS BIGINT) AS c,
        |    CAST(SUM((1 - exposed) * (1 - purchased)) AS BIGINT) AS d
        |  FROM long GROUP BY 1)
        |SELECT exposure, a, b, c, d,
        |  CASE WHEN b * c > 0
        |    THEN ROUND(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE), 6)
        |  END AS odds_ratio
        |FROM cells ORDER BY exposure""".stripMargin),

    // MATCH_RECOGNIZE-lite: each user's full event history becomes a
    // 1-char-per-event string (sort_array over (ts, event_id, code)
    // structs pins the order inside the aggregate — collect_list alone
    // promises nothing), then funnel patterns are plain regexes over it:
    // v.*c.*p "browse→click→buy in order", ee "two errors back to back",
    // p.*e "error AFTER purchase". Sequence mining as string algebra —
    // one shuffle to user grain, patterns evaluated per row. At 100 TB
    // the encode is bounded by per-user history (cap long tails first);
    // the regex pass is embarrassingly parallel.
    Gate("events_funnel_regex", (s, d) => {
      val coded = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("code")))),
          r => r.getField("code")), "").as("seq"))
      coded.select(
          count(lit(1)).as("n_users"),
          sum(when(col("seq").rlike("v.*c.*p"), 1L).otherwise(0L))
            .as("full_funnel"),
          sum(when(col("seq").rlike("ee"), 1L).otherwise(0L))
            .as("double_error"),
          sum(when(col("seq").rlike("p.*e"), 1L).otherwise(0L))
            .as("error_after_purchase"),
          sum(when(col("seq").rlike("^v+$"), 1L).otherwise(0L))
            .as("view_only"))
    },
      """WITH coded AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
        |      AS seq
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0
        |    END) AS BIGINT) AS full_funnel,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'ee') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS double_error,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'p.*e') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error_after_purchase,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, '^v+$') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view_only
        |FROM coded""".stripMargin),

    // Last-touch attribution: every purchase credits the user's most
    // recent PRECEDING non-purchase event — last(ignoreNulls) over the
    // (ts, event_id)-ordered user stream, the window-native form of "scan
    // back for the trigger" (no self-join, no explode). Credits aggregate
    // to (exposure type → purchases attributed, distinct buyers);
    // purchases with no preceding exposure land in the 'none' bucket so
    // the credit ledger always sums to the purchase count.
    Gate("events_attribution", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      Tables.events(s, d)
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("attributed_to"))
        .agg(count(lit(1)).as("purchases"),
          countDistinct(col("user_id")).as("buyers"))
        .orderBy(col("attributed_to"))
    },
      """WITH touched AS (
        |  SELECT user_id, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type
        |      END IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'none') AS attributed_to,
        |  COUNT(*) AS purchases,
        |  COUNT(DISTINCT user_id) AS buyers
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attributed_to""".stripMargin),

    // Interval flatten (Teradata NORMALIZE): each event projects a
    // 15-minute presence interval; overlapping intervals merge into
    // islands via the classic cum-max sweep — a new island starts exactly
    // where the start clears every preceding end (half-open, touching
    // merges). Per user: island count + exact covered µs — "true active
    // time", which naive count·15min double-counts under bursts. One
    // user-ordered window + two combiner aggs, all integer µs.
    Gate("events_coverage_islands", (s, d) => {
      val winUs = 15L * 60L * 1000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("start_us"), col("event_id"))
      val iv = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"))
        .withColumn("end_us", col("start_us") + winUs)
        .withColumn("prev_max_end", max(col("end_us")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max_end").isNull ||
            col("start_us") >= col("prev_max_end"), 1L).otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      iv.groupBy(col("user_id"), col("island"))
        .agg(min(col("start_us")).as("s"), max(col("end_us")).as("e"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("e") - col("s")).as("covered_us"))
        .orderBy(col("user_id"))
    },
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 900000000 AS end_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, start_us, end_us,
        |    MAX(end_us) OVER (PARTITION BY user_id
        |      ORDER BY start_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_end
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, start_us, end_us,
        |    SUM(CASE WHEN prev_max_end IS NULL OR start_us >= prev_max_end
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY start_us, event_id ROWS UNBOUNDED PRECEDING)
        |      AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, MIN(start_us) AS s, MAX(end_us) AS e
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands,
        |  CAST(SUM(e - s) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin),

    // Markov next-event predictor EVALUATED on its own corpus: the
    // argmax-next table (count DESC, type ASC — deterministic) from the
    // lag-pair transition counts, scored back over every transition:
    // top-1 accuracy per current type + the base-rate n. The eval
    // closes the loop on the transition/stationary gates — a model row
    // you can't act on until you know it beats the majority class.
    // Pair grain once; the predictor is a 5-row broadcast.
    Gate("events_next_event_eval", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("event_type").as("cur"), col("nxt"))
        .localCheckpoint()
      val predictor = pairs.groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cur"))
            .orderBy(col("c").desc, col("nxt"))))
        .where(col("rk") === 1)
        .select(col("cur"), col("nxt").as("predicted"))
      pairs.join(broadcast(predictor), "cur")
        .groupBy(col("cur"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L))
            .as("hits"),
          max(col("predicted")).as("predicted"))
        .withColumn("accuracy",
          round(col("hits").cast("double") / col("n").cast("double"), 6))
        .orderBy(col("cur"))
    },
      """WITH pairs AS (
        |  SELECT event_type AS cur,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events QUALIFY nxt IS NOT NULL),
        |pred AS (
        |  SELECT cur, nxt AS predicted FROM (
        |    SELECT cur, nxt, COUNT(*) AS c,
        |      ROW_NUMBER() OVER (PARTITION BY cur
        |        ORDER BY COUNT(*) DESC, nxt) AS rk
        |    FROM pairs GROUP BY 1, 2) WHERE rk = 1)
        |SELECT p.cur, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN p.nxt = d.predicted THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits,
        |  MAX(d.predicted) AS predicted,
        |  ROUND(CAST(SUM(CASE WHEN p.nxt = d.predicted THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 6) AS accuracy
        |FROM pairs p JOIN pred d USING (cur)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Mann-Whitney rank-sum AUC — "does `value` rank purchase events
    // above the rest?" evaluated WITHOUT a sort of the events:
    // tie-correct average ranks come from the SCORE-grain cumulative
    // (2r = 2·cnt_below + cnt_eq + 1, all integers ×2 so no halves), so
    // the window runs over distinct scores, not rows — the O(n log n)
    // global sort a naive rank() would cost at 100 TB collapses to one
    // combiner-heavy agg plus a tiny ordered cumulative. Scores in
    // integer micro-units; AUC as micro-units plus the rounded double.
    Gate("events_predictor_auc", (s, d) => {
      val ev = Tables.events(s, d).select(
        round(col("value") * 1000000, 0).cast("long").as("score"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("label"))
      val byScore = ev.groupBy(col("score")).agg(
          count(lit(1)).as("ns"),
          sum(col("label")).cast("long").as("ps"))
        .withColumn("cumlt", coalesce(sum(col("ns")).over(
          Window.orderBy(col("score"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      byScore.agg(
          sum(col("ns")).as("n_events"),
          sum(col("ps")).as("n_pos"),
          (sum(col("ns")) - sum(col("ps"))).as("n_neg"),
          sum(col("ps") * (lit(2L) * col("cumlt") + col("ns") + 1))
            .as("sum2r"))
        .select(col("n_events"), col("n_pos"), col("n_neg"),
          expr("(1000000 * (sum2r - n_pos * (n_pos + 1))) div (2 * n_pos * n_neg)")
            .as("auc_micro"),
          round((col("sum2r") - col("n_pos") * (col("n_pos") + 1))
            .cast("double") / (lit(2L) * col("n_pos") * col("n_neg")), 6)
            .as("auc"))
    },
      """WITH ev AS (
        |  SELECT CAST(ROUND(value * 1000000, 0) AS BIGINT) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |bys AS (
        |  SELECT score, COUNT(*) AS ns, CAST(SUM(label) AS BIGINT) AS ps
        |  FROM ev GROUP BY 1),
        |cum AS (
        |  SELECT score, ns, ps,
        |    COALESCE(SUM(ns) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumlt
        |  FROM bys),
        |agg AS (
        |  SELECT CAST(SUM(ns) AS BIGINT) AS n_events,
        |    CAST(SUM(ps) AS BIGINT) AS n_pos,
        |    CAST(SUM(ns) - SUM(ps) AS BIGINT) AS n_neg,
        |    CAST(SUM(ps * (2 * cumlt + ns + 1)) AS BIGINT) AS sum2r
        |  FROM cum)
        |SELECT n_events, n_pos, n_neg,
        |  CAST((1000000 * (sum2r - n_pos * (n_pos + 1)))
        |    // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro,
        |  ROUND(CAST(sum2r - n_pos * (n_pos + 1) AS DOUBLE)
        |    / (2 * n_pos * n_neg), 6) AS auc
        |FROM agg""".stripMargin),

    // Decile lift/gains table — the direct-marketing evaluation of a
    // score: rank events by `value`, cut into 10 population deciles, and
    // report per-decile positive rate, lift over base rate, and the
    // cumulative gains curve. Deciles are assigned from the SCORE-grain
    // descending cumulative ((10·cnt_above) div n — ties share a decile,
    // no row sort, no ntile's O(n log n) global ordering); everything
    // downstream runs on ≤10 rows. All metrics are integer micro-units.
    Gate("events_lift_deciles", (s, d) => {
      val ev = Tables.events(s, d).select(
        round(col("value") * 1000000, 0).cast("long").as("score"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("label"))
      val byScore = ev.groupBy(col("score")).agg(
          count(lit(1)).as("ns"), sum(col("label")).cast("long").as("ps"))
        .withColumn("above", coalesce(sum(col("ns")).over(
          Window.orderBy(col("score").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("ns")).over(Window.partitionBy()))
        .withColumn("decile", expr("(10 * above) div n + 1"))
      byScore.groupBy(col("decile")).agg(
          sum(col("ns")).as("n_b"), sum(col("ps")).as("n_pos"))
        .withColumn("n", sum(col("n_b")).over(Window.partitionBy()))
        .withColumn("tp", sum(col("n_pos")).over(Window.partitionBy()))
        .withColumn("cumpos", sum(col("n_pos")).over(Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("decile"), col("n_b"), col("n_pos"),
          expr("(1000000 * n_pos) div n_b").as("rate_micro"),
          expr("(1000000 * n_pos * n) div (n_b * tp)").as("lift_micro"),
          expr("(1000000 * cumpos) div tp").as("gain_micro"))
        .orderBy(col("decile"))
    },
      """WITH ev AS (
        |  SELECT CAST(ROUND(value * 1000000, 0) AS BIGINT) AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |bys AS (
        |  SELECT score, COUNT(*) AS ns, CAST(SUM(label) AS BIGINT) AS ps
        |  FROM ev GROUP BY 1),
        |cum AS (
        |  SELECT score, ns, ps,
        |    COALESCE(SUM(ns) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS above,
        |    SUM(ns) OVER () AS n
        |  FROM bys),
        |dec AS (
        |  SELECT (10 * above) // n + 1 AS decile, ns, ps FROM cum),
        |g AS (
        |  SELECT decile, CAST(SUM(ns) AS BIGINT) AS n_b,
        |    CAST(SUM(ps) AS BIGINT) AS n_pos
        |  FROM dec GROUP BY 1),
        |w AS (
        |  SELECT decile, n_b, n_pos,
        |    CAST(SUM(n_b) OVER () AS BIGINT) AS n,
        |    CAST(SUM(n_pos) OVER () AS BIGINT) AS tp,
        |    CAST(SUM(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumpos
        |  FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, n_b, n_pos,
        |  CAST((1000000 * n_pos) // n_b AS BIGINT) AS rate_micro,
        |  CAST((1000000 * n_pos * n) // (n_b * tp) AS BIGINT) AS lift_micro,
        |  CAST((1000000 * cumpos) // tp AS BIGINT) AS gain_micro
        |FROM w ORDER BY decile""".stripMargin),

    // Two-proportion z-test on a hash-split A/B assignment — the
    // experimentation primitive: users land in arms by content hash
    // (deterministic, balanced), the metric is the event-level error
    // rate, and the z statistic comes from four integers and three
    // single-rounded divisions + one sqrt (both IEEE-exact). At 100 TB
    // this is one combiner-heavy agg — the test is free, the discipline
    // is the assignment.
    Gate("events_ab_ztest", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(HashFunctions.hash64(concat(col("user_id").cast("string"),
          lit("#ab"))), lit(2)).as("arm"),
        when(col("event_type") === "error", 1).otherwise(0).as("bad"))
      ev.agg(
          sum(when(col("arm") === 0, 1).otherwise(0)).cast("long").as("n1"),
          sum(when(col("arm") === 0, col("bad")).otherwise(0)).cast("long")
            .as("x1"),
          sum(when(col("arm") === 1, 1).otherwise(0)).cast("long").as("n2"),
          sum(when(col("arm") === 1, col("bad")).otherwise(0)).cast("long")
            .as("x2"))
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          expr("""round((cast(x1 as double) / n1 - cast(x2 as double) / n2)
            / sqrt((cast(x1 + x2 as double) / (n1 + n2))
              * (1.0 - cast(x1 + x2 as double) / (n1 + n2))
              * (1.0 / n1 + 1.0 / n2)), 6)""").as("z"))
        .withColumn("significant", abs(col("z")) > 1.959964)
    },
    {
      val h = sqlHash64("CAST(user_id AS VARCHAR) || '#ab'")
      s"""WITH ev AS (
         |  SELECT (($h % 2) + 2) % 2 AS arm,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
         |  FROM events),
         |agg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN arm = 0 THEN bad ELSE 0 END) AS BIGINT)
         |      AS x1,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(SUM(CASE WHEN arm = 1 THEN bad ELSE 0 END) AS BIGINT)
         |      AS x2
         |  FROM ev)
         |SELECT n1, x1, n2, x2,
         |  ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         |    / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 / n1 + 1.0 / n2)), 6) AS z,
         |  ABS(ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         |    / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 / n1 + 1.0 / n2)), 6)) > 1.959964 AS significant
         |FROM agg""".stripMargin
    }),

    // CUPED variance reduction — the modern experimentation workhorse:
    // θ = cov(pre, post)/var(pre) from user-grain sufficient statistics
    // (pre-period event count vs post-period spend, split at the span
    // midpoint in integer epoch-µs), and the residual variance ratio
    // 1 − ρ² that says how much tighter every later A/B test gets. All
    // sums exact BIGINT; the combine is the same identical-shape double
    // chain as the OLS/ACF gates.
    Gate("events_cuped", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts)").as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("vc"))
      val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val users = ev.crossJoin(broadcast(bounds))
        .withColumn("cut", expr("lo + (hi - lo) div 2"))
        .groupBy(col("user_id")).agg(
          sum(when(col("us") < col("cut"), 1).otherwise(0)).cast("long")
            .as("x"),
          sum(when(col("us") >= col("cut"), col("vc")).otherwise(0L))
            .cast("long").as("y"))
      users.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_users"),
          expr("""round((cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            / (cast(n as double) * cast(sxx as double)
              - cast(sx as double) * cast(sx as double)), 6)""")
            .as("theta"),
          expr("""round(1.0 - ((cast(n as double) * cast(sxy as double)
                - cast(sx as double) * cast(sy as double))
              * (cast(n as double) * cast(sxy as double)
                - cast(sx as double) * cast(sy as double)))
            / ((cast(n as double) * cast(sxx as double)
                - cast(sx as double) * cast(sx as double))
              * (cast(n as double) * cast(syy as double)
                - cast(sy as double) * cast(sy as double))), 6)""")
            .as("var_ratio"))
    },
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
        |  FROM events),
        |b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
        |users AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN us < lo + (hi - lo) // 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN us >= lo + (hi - lo) // 2 THEN vc ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM ev, b GROUP BY 1),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM users)
        |SELECT n AS n_users,
        |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta,
        |  ROUND(1.0 - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS var_ratio
        |FROM st""".stripMargin),

    // Exact Shapley channel attribution — the fair-division upgrade of
    // last-touch (X-family funnel/attribution gates): each channel's
    // credit is its average marginal lift over all orderings. With the
    // user's exposure set as a 3-bit mask, the whole computation after
    // one user-grain pass lives on the 8-row coalition lattice joined to
    // a 12-row literal (channel, S, S∪{i}, |S|!(|C|−|S|−1)!) table —
    // conversion rates in integer micro-units, Shapley as Σw·Δv div 3!.
    Gate("events_shapley_attribution", (s, d) => {
      val masks = Tables.events(s, d).groupBy(col("user_id")).agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("c1"),
          max(when(col("event_type") === "view", 1).otherwise(0)).as("c2"),
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("c3"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("np"))
        .select((col("c1") + col("c2") * 2 + col("c3") * 4).as("mask"),
          when(col("np") >= 15, 1).otherwise(0).as("conv"))
      val v = masks.groupBy(col("mask")).agg(count(lit(1)).as("n"),
          sum(col("conv")).cast("long").as("cv"))
        .withColumn("v_micro", expr("(1000000 * cv) div n"))
        .localCheckpoint() // joined twice (S and S∪{i} sides)
      val pairRows = for {
        (ch, bit) <- Seq(("click", 1), ("view", 2), ("signup", 4))
        s0 <- 0 until 8 if (s0 & bit) == 0
      } yield (ch, s0, s0 | bit,
        Seq(2L, 1L, 2L)(Integer.bitCount(s0))) // |S|!(2−|S|)! for |C|=3
      val pairs = s.createDataFrame(pairRows).toDF("channel", "s0", "s1", "w")
      pairs
        .join(v.select(col("mask").as("s0"), col("v_micro").as("v0")),
          Seq("s0"), "left")
        .join(v.select(col("mask").as("s1"), col("v_micro").as("v1")),
          Seq("s1"), "left")
        .groupBy(col("channel"))
        .agg(sum(col("w") * (coalesce(col("v1"), lit(0L))
          - coalesce(col("v0"), lit(0L)))).as("sw"))
        .select(col("channel"), expr("sw div 6").as("phi_micro"))
        .orderBy(col("channel"))
    },
    {
      val pairVals = (for {
        (ch, bit) <- Seq(("click", 1), ("view", 2), ("signup", 4))
        s0 <- 0 until 8 if (s0 & bit) == 0
      } yield s"('$ch', $s0, ${s0 | bit}, ${Seq(2L, 1L, 2L)(Integer.bitCount(s0))})")
        .mkString(", ")
      s"""WITH flags AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2,
         |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c3,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
         |  FROM events GROUP BY 1),
         |masks AS (
         |  SELECT c1 + c2 * 2 + c3 * 4 AS mask,
         |    CASE WHEN np >= 15 THEN 1 ELSE 0 END AS conv
         |  FROM flags),
         |v AS (
         |  SELECT mask, CAST((1000000 * SUM(conv)) // COUNT(*) AS BIGINT)
         |    AS v_micro
         |  FROM masks GROUP BY 1),
         |p AS (SELECT * FROM (VALUES $pairVals) AS t(channel, s0, s1, w))
         |SELECT p.channel,
         |  CAST(SUM(p.w * (COALESCE(v1.v_micro, 0) - COALESCE(v0.v_micro, 0)))
         |    // 6 AS BIGINT) AS phi_micro
         |FROM p
         |LEFT JOIN v v0 ON v0.mask = p.s0
         |LEFT JOIN v v1 ON v1.mask = p.s1
         |GROUP BY 1 ORDER BY channel""".stripMargin
    }),

    // Difference-in-differences — the other causal-inference workhorse
    // next to CUPED: (treat post − treat pre) − (control post − control
    // pre) over the deterministic hash arms and the µs-midpoint period
    // split. Four cell means in integer micro-centi units (sums and
    // counts exact, one div per cell), DiD stays pure integer.
    Gate("events_did", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(HashFunctions.hash64(concat(col("user_id").cast("string"),
          lit("#did"))), lit(2)).as("treat"),
        expr("unix_micros(ts)").as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("vc"))
      val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val cells = ev.crossJoin(broadcast(bounds))
        .withColumn("post",
          when(col("us") >= expr("lo + (hi - lo) div 2"), 1).otherwise(0))
      def cell(t: Int, p: Int, out: String) = Seq(
        sum(when(col("treat") === t && col("post") === p, 1).otherwise(0))
          .cast("long").as(s"n_$out"),
        sum(when(col("treat") === t && col("post") === p, col("vc"))
          .otherwise(0L)).cast("long").as(s"s_$out"))
      val aggCols = cell(1, 0, "t_pre") ++ cell(1, 1, "t_post") ++
        cell(0, 0, "c_pre") ++ cell(0, 1, "c_post")
      cells.agg(aggCols.head, aggCols.tail: _*)
        .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
          col("n_c_post"),
          expr("(1000000 * s_t_pre) div n_t_pre").as("m_t_pre"),
          expr("(1000000 * s_t_post) div n_t_post").as("m_t_post"),
          expr("(1000000 * s_c_pre) div n_c_pre").as("m_c_pre"),
          expr("(1000000 * s_c_post) div n_c_post").as("m_c_post"))
        .withColumn("did_micro",
          (col("m_t_post") - col("m_t_pre"))
            - (col("m_c_post") - col("m_c_pre")))
    },
    {
      val h = sqlHash64("CAST(user_id AS VARCHAR) || '#did'")
      s"""WITH ev AS (
         |  SELECT (($h % 2) + 2) % 2 AS treat, epoch_us(ts) AS us,
         |    CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
         |  FROM events),
         |b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
         |cells AS (
         |  SELECT treat, vc,
         |    CASE WHEN us >= lo + (hi - lo) // 2 THEN 1 ELSE 0 END AS post
         |  FROM ev, b),
         |agg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_t_pre,
         |    CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_t_post,
         |    CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_c_pre,
         |    CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_c_post,
         |    CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN vc ELSE 0 END)
         |      AS BIGINT) AS s_t_pre,
         |    CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN vc ELSE 0 END)
         |      AS BIGINT) AS s_t_post,
         |    CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN vc ELSE 0 END)
         |      AS BIGINT) AS s_c_pre,
         |    CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN vc ELSE 0 END)
         |      AS BIGINT) AS s_c_post
         |  FROM cells),
         |m AS (
         |  SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
         |    CAST((1000000 * s_t_pre) // n_t_pre AS BIGINT) AS m_t_pre,
         |    CAST((1000000 * s_t_post) // n_t_post AS BIGINT) AS m_t_post,
         |    CAST((1000000 * s_c_pre) // n_c_pre AS BIGINT) AS m_c_pre,
         |    CAST((1000000 * s_c_post) // n_c_post AS BIGINT) AS m_c_post
         |  FROM agg)
         |SELECT *, (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_micro
         |FROM m""".stripMargin
    }),

    // Qini curve — the uplift-modeling evaluation: does targeting by
    // score capture incremental (treatment-minus-scaled-control)
    // conversions? Pooled score deciles (same thresholds both arms, from
    // the score-grain descending cumulative), then per-decile arm cells
    // and the cumulative Qini in integer micro-units. The targeting
    // sibling of X300's z-test: that says "is there an effect", this
    // says "whom to treat first".
    Gate("events_qini_curve", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(HashFunctions.hash64(concat(col("user_id").cast("string"),
          lit("#ab"))), lit(2)).as("arm"),
        round(col("value") * 1000000, 0).cast("long").as("score"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("label"))
      val byScore = ev.groupBy(col("score"), col("arm")).agg(
          count(lit(1)).as("ns"), sum(col("label")).cast("long").as("ps"))
      // pooled deciles: thresholds from the SCORE grain (both arms
      // together), then joined back to the (score, arm) cells — a
      // cumulative over the (score, arm) grain would leak same-score
      // other-arm mass into "above"
      val pooled = byScore.groupBy(col("score"))
        .agg(sum(col("ns")).as("sns"))
        .withColumn("above", coalesce(sum(col("sns")).over(
          Window.orderBy(col("score").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("sns")).over(Window.partitionBy()))
        .withColumn("decile", expr("(10 * above) div n + 1"))
        .select(col("score"), col("decile"))
      val cells = byScore.join(pooled, "score").groupBy(col("decile")).agg(
          sum(when(col("arm") === 1, col("ns")).otherwise(0L)).as("n_t"),
          sum(when(col("arm") === 1, col("ps")).otherwise(0L)).as("x_t"),
          sum(when(col("arm") === 0, col("ns")).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 0, col("ps")).otherwise(0L)).as("x_c"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cells
        .withColumn("cnt", sum(col("n_t")).over(w))
        .withColumn("cxt", sum(col("x_t")).over(w))
        .withColumn("cnc", sum(col("n_c")).over(w))
        .withColumn("cxc", sum(col("x_c")).over(w))
        .select(col("decile"), col("n_t"), col("x_t"), col("n_c"),
          col("x_c"),
          // guard the control-arm divisor: an all-treatment top decile
          // must yield NULL on both engines (DuckDB // errors on 0)
          expr("""CASE WHEN cnc > 0
                 |  THEN 1000000 * cxt - (1000000 * cxc * cnt) div cnc
                 |END""".stripMargin).as("qini_micro"))
        .orderBy(col("decile"))
    },
    {
      val h = sqlHash64("CAST(user_id AS VARCHAR) || '#ab'")
      s"""WITH ev AS (
         |  SELECT (($h % 2) + 2) % 2 AS arm,
         |    CAST(ROUND(value * 1000000, 0) AS BIGINT) AS score,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
         |  FROM events),
         |bys AS (
         |  SELECT score, arm, COUNT(*) AS ns,
         |    CAST(SUM(label) AS BIGINT) AS ps
         |  FROM ev GROUP BY 1, 2),
         |sg AS (
         |  SELECT score, SUM(ns) AS sns FROM bys GROUP BY 1),
         |cum AS (
         |  SELECT score,
         |    COALESCE(SUM(sns) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS above,
         |    SUM(sns) OVER () AS n
         |  FROM sg),
         |dec AS (
         |  SELECT b.score, b.arm, b.ns, b.ps,
         |    (10 * c.above) // c.n + 1 AS decile
         |  FROM bys b JOIN cum c USING (score)),
         |cells AS (
         |  SELECT decile,
         |    CAST(SUM(CASE WHEN arm = 1 THEN ns ELSE 0 END) AS BIGINT)
         |      AS n_t,
         |    CAST(SUM(CASE WHEN arm = 1 THEN ps ELSE 0 END) AS BIGINT)
         |      AS x_t,
         |    CAST(SUM(CASE WHEN arm = 0 THEN ns ELSE 0 END) AS BIGINT)
         |      AS n_c,
         |    CAST(SUM(CASE WHEN arm = 0 THEN ps ELSE 0 END) AS BIGINT)
         |      AS x_c
         |  FROM dec GROUP BY 1),
         |w AS (
         |  SELECT decile, n_t, x_t, n_c, x_c,
         |    CAST(SUM(n_t) OVER o AS BIGINT) AS cnt,
         |    CAST(SUM(x_t) OVER o AS BIGINT) AS cxt,
         |    CAST(SUM(n_c) OVER o AS BIGINT) AS cnc,
         |    CAST(SUM(x_c) OVER o AS BIGINT) AS cxc
         |  FROM cells
         |  WINDOW o AS (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(decile AS BIGINT) AS decile, n_t, x_t, n_c, x_c,
         |  CASE WHEN cnc > 0
         |    THEN 1000000 * cxt - (1000000 * cxc * cnt) // cnc
         |  END AS qini_micro
         |FROM w ORDER BY decile""".stripMargin
    }),

    // Peak concurrency by boundary sweep — the interval-stabbing
    // maximum without expanding intervals to their covered instants:
    // per-user 30-minute-gap sessions become ±1 boundary events, one
    // ordered cumulative over the BOUNDARY grain finds the running and
    // peak concurrency. Deltas NET at equal timestamps (an end exactly
    // at a start doesn't bump the peak — and the sum is order-free).
    // The capacity-planning number for any session-serving tier.
    Gate("events_peak_concurrency", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts)").as("us"))
      val gap = 30L * 60 * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val sessions = ev
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("us") - col("prev") > gap, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("st"), max(col("us")).as("en"))
      val bounds = sessions.select(col("st").as("t"), lit(1).as("delta"))
        .unionByName(sessions.select(col("en").as("t"),
          lit(-1).as("delta")))
        .groupBy(col("t")).agg(sum(col("delta")).as("d"),
          sum(when(col("delta") === 1, 1).otherwise(0)).as("starts"))
      val run = bounds.withColumn("conc", sum(col("d")).over(
          Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("mx", max(col("conc")).over(Window.partitionBy()))
      run.agg(
          sum(col("starts")).cast("long").as("n_sessions"),
          max(col("conc")).cast("long").as("peak_concurrency"),
          min(when(col("conc") === col("mx"), col("t"))).as("peak_at_us"))
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |br AS (
        |  SELECT user_id, us,
        |    CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1
        |      ELSE 0 END AS brk
        |  FROM (SELECT user_id, us,
        |      LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |    FROM ev)),
        |sid AS (
        |  SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM br),
        |sessions AS (
        |  SELECT user_id, sid, MIN(us) AS st, MAX(us) AS en
        |  FROM sid GROUP BY 1, 2),
        |bounds AS (
        |  SELECT t, CAST(SUM(delta) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS starts
        |  FROM (
        |    SELECT st AS t, 1 AS delta FROM sessions
        |    UNION ALL SELECT en, -1 FROM sessions)
        |  GROUP BY 1),
        |run AS (
        |  SELECT t, starts,
        |    SUM(d) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM bounds),
        |r2 AS (SELECT t, starts, conc, MAX(conc) OVER () AS mx FROM run)
        |SELECT CAST(SUM(starts) AS BIGINT) AS n_sessions,
        |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(MIN(CASE WHEN conc = mx THEN t END) AS BIGINT) AS peak_at_us
        |FROM r2""".stripMargin),

    // Session duration statistics — mean, exact-rank median and p90 of
    // 30-minute-gap session lengths, all in integer µs (median/p90 by
    // the DURATION-grain cumulative rank trick — no row sort of
    // sessions, same shape as the AUC/decile gates).
    Gate("events_session_stats", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts)").as("us"))
      val gap = 30L * 60 * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val durs = ev
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("us") - col("prev") > gap, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg((max(col("us")) - min(col("us"))).as("dur"))
      val byDur = durs.groupBy(col("dur")).agg(count(lit(1)).as("c"))
        .withColumn("cb", coalesce(sum(col("c")).over(
          Window.orderBy(col("dur"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      byDur.agg(
          max(col("n")).as("n_sessions"),
          expr("sum(dur * c) div max(n)").as("mean_us"),
          min(when(col("cb") < expr("(n + 1) div 2")
            && expr("(n + 1) div 2") <= col("cb") + col("c"), col("dur")))
            .as("median_us"),
          min(when(col("cb") < expr("(9 * n + 9) div 10")
            && expr("(9 * n + 9) div 10") <= col("cb") + col("c"),
            col("dur"))).as("p90_us"))
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |br AS (
        |  SELECT user_id, us,
        |    CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1
        |      ELSE 0 END AS brk
        |  FROM (SELECT user_id, us,
        |      LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |    FROM ev)),
        |sid AS (
        |  SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM br),
        |durs AS (
        |  SELECT user_id, sid, MAX(us) - MIN(us) AS dur
        |  FROM sid GROUP BY 1, 2),
        |byd AS (
        |  SELECT dur, COUNT(*) AS c FROM durs GROUP BY 1),
        |cum AS (
        |  SELECT dur, c,
        |    COALESCE(SUM(c) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
        |    SUM(c) OVER () AS n
        |  FROM byd)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
        |  CAST(SUM(dur * c) AS BIGINT) // CAST(MAX(n) AS BIGINT) AS mean_us,
        |  CAST(MIN(CASE WHEN cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + c
        |    THEN dur END) AS BIGINT) AS median_us,
        |  CAST(MIN(CASE WHEN cb < (9 * n + 9) // 10
        |    AND (9 * n + 9) // 10 <= cb + c THEN dur END) AS BIGINT)
        |    AS p90_us
        |FROM cum""".stripMargin),

    // Day-of-week × hour activity matrix — the load-shape heatmap
    // behind capacity planning and send-time optimization: one
    // combiner-heavy (dow, hour) count with per-cell share in ppm.
    // dow anchored to the epoch-Monday convention used by the seasonal
    // gates (datediff from a known Monday, mod 7).
    Gate("events_dow_hour_matrix", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(datediff(to_date(col("ts")), lit("2024-01-01")), lit(7))
          .cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      ev.groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
        .select(col("dow"), col("hod"), col("n"),
          expr("(1000000 * n) div tot").as("share_ppm"))
        .orderBy(col("dow"), col("hod"))
    },
      """WITH ev AS (
        |  SELECT ((date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      % 7) + 7) % 7 AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hod
        |  FROM events),
        |g AS (SELECT dow, hod, COUNT(*) AS n FROM ev GROUP BY 1, 2)
        |SELECT CAST(dow AS BIGINT) AS dow, hod, n,
        |  CAST((1000000 * n) // (SELECT SUM(n) FROM g) AS BIGINT)
        |    AS share_ppm
        |FROM g ORDER BY dow, hod""".stripMargin),
  )
}
