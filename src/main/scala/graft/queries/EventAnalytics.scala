package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/**
 * Event-analytics surface: cohort retention, funnels, and time-series
 * gap filling — the product-analytics queries an ELT cache serves.
 * All decisions are integer/date arithmetic (no float thresholds);
 * timestamps compare at microsecond precision in both engines (q44's
 * TIMESTAMP_NS → µs truncation rule).
 */
object EventAnalytics {

  // ------------------------------------------------------------------
  // q67: cohort retention — users cohorted by the ISO week of their
  // first event; activity counted per (cohort_week, week_offset).
  // Two aggregations: first-seen per user (one shuffle on user_id),
  // then the tiny cohort map rides a BROADCAST back onto the scan.
  // ------------------------------------------------------------------
  def q67CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohorts = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    ev.join(broadcast(cohorts), "user_id")
      .withColumn("week_offset",
        expr("datediff(to_date(ts), cohort_week) div 7"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        count(lit(1)).as("n_events"))
  }

  val q67Sql: String =
    """WITH cohorts AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
      |  FROM events GROUP BY user_id)
      |SELECT c.cohort_week,
      |  date_diff('day', c.cohort_week, CAST(e.ts AS DATE)) // 7 AS week_offset,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
      |  COUNT(*) AS n_events
      |FROM events e JOIN cohorts c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q68: ordered funnel (view → click → purchase): each stage's
  // earliest qualifying timestamp must follow the previous stage's.
  // Three passes, each a per-user aggregate + broadcast of the
  // (tiny) qualified-user map — the fact scan never shuffles.
  // ------------------------------------------------------------------
  def q68Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(broadcast(v), "user_id").filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(broadcast(c), "user_id").filter(col("ts") >= col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_after_click")))
  }

  val q68Sql: String =
    """WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.v_ts
      |  GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.c_ts
      |  GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
      |  (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
      |  (SELECT COUNT(*) FROM p) AS n_purchased_after_click""".stripMargin

  // ------------------------------------------------------------------
  // q69: time-series gap filling — a dense day spine (sequence over the
  // observed span) LEFT-joined with sparse daily tallies (rare events:
  // value > 99), zeros filled. The spine is generated, never scanned;
  // at scale it is a few thousand rows broadcast against the
  // aggregated (small) daily counts.
  // ------------------------------------------------------------------
  def q69GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rare = ev.filter(col("value") > 99.0)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val span = ev.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val spine = span.select(explode(
      expr("sequence(d0, d1, interval 1 day)")).as("day"))
    spine.join(rare, Seq("day"), "left_outer")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("n") === 0, 1L).otherwise(0L)).as("n_zero_days"),
        sum(col("n")).as("total_rare"),
        min(when(col("n") === 0, col("day"))).as("first_gap_day"))
  }

  val q69Sql: String =
    """WITH rare AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events WHERE value > 99.0 GROUP BY 1),
      |span AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span),
      |filled AS (
      |  SELECT s.day, COALESCE(r.n, 0) AS n FROM spine s LEFT JOIN rare r USING (day))
      |SELECT COUNT(*) AS n_days,
      |  CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_days,
      |  CAST(SUM(n) AS BIGINT) AS total_rare,
      |  MIN(CASE WHEN n = 0 THEN day END) AS first_gap_day
      |FROM filled""".stripMargin

  // ------------------------------------------------------------------
  // q71: rolling 7-day window — a RANGE frame over epoch-day (current
  // day + 6 preceding CALENDAR days, not 6 preceding rows), the shape
  // rows-frames get wrong whenever days are missing. Pre-aggregating to
  // daily grain first keeps the window input tiny (days × types), so
  // the sort-window cost is independent of raw event volume.
  // ------------------------------------------------------------------
  def q71RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("dval"))
      .withColumn("ed", unix_date(col("day")).cast(LongType))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ed"))
      .rangeBetween(-6, 0)
    daily.select(col("event_type"), col("day"), col("n"),
        sum(col("n")).over(w).as("rolling_n"),
        sum(col("dval")).over(w).cast(DoubleType).as("rolling_value"))
  }

  val q71Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS dval,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      |  FROM events GROUP BY 1, 2, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
      |SELECT event_type, day, n,
      |  CAST(SUM(n) OVER w AS BIGINT) AS rolling_n,
      |  CAST(SUM(dval) OVER w AS DOUBLE) AS rolling_value
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY ed
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  // ------------------------------------------------------------------
  // q81: SCD Type-2 history build — collapse each user's event stream
  // into validity intervals of its `event_type` attribute (classic
  // gaps-and-islands: change flag via lag, island id via running sum,
  // interval close via lead over the islands). Everything partitions by
  // user_id: ONE hash shuffle, then both window passes and the island
  // aggregation reuse the same exchange (Catalyst ReusedExchange); the
  // final lead() runs over the already-collapsed islands (tiny). This
  // is the dimension-table maintenance a warehouse does on every sync.
  // ------------------------------------------------------------------
  def q81Scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val flagged = ev.withColumn("chg",
      when(lag(col("event_type"), 1).over(wSeq).isNull ||
        lag(col("event_type"), 1).over(wSeq) =!= col("event_type"), 1L)
        .otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = flagged.groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
    val wIsl = Window.partitionBy(col("user_id")).orderBy(col("valid_from").asc)
    islands.select(col("user_id"), col("event_type"), col("valid_from"),
        col("n_events"),
        lead(col("valid_from"), 1).over(wIsl).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  val q81Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |grouped AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM flagged),
      |islands AS (
      |  SELECT user_id, event_type, grp, MIN(ts) AS valid_from,
      |    COUNT(*) AS n_events
      |  FROM grouped GROUP BY user_id, event_type, grp)
      |SELECT user_id, event_type, valid_from, n_events,
      |  lead(valid_from) OVER w2 AS valid_to,
      |  lead(valid_from) OVER w2 IS NULL AS is_current
      |FROM islands
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from ASC)""".stripMargin

  // ------------------------------------------------------------------
  // q82: snapshot reconciliation — diff each user's state (latest
  // event) before vs after a cutoff: who appeared, who went quiet, and
  // whose state changed. Each snapshot is a hash aggregation with
  // map-side partial `max_by` (never a global sort), the diff is one
  // full-outer join on the (already small) per-user states, and the
  // classification is pure CASE arithmetic. This is the cache-vs-cache
  // audit an ELT system runs after a backfill.
  // ------------------------------------------------------------------
  def q82SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-15 00:00:00").cast(TimestampType)
    val ev = Tables.events(spark, dir)
    def stateOf(df: DataFrame, prefix: String): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as(s"${prefix}_type"))
    val before = stateOf(ev.filter(col("ts") < cutoff), "old")
    val after = stateOf(ev.filter(col("ts") >= cutoff), "new")
    before.join(after, Seq("user_id"), "full_outer")
      .withColumn("class",
        when(col("old_type").isNull, "appeared")
          .when(col("new_type").isNull, "quiet")
          .when(col("old_type") =!= col("new_type"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_users"), min(col("user_id")).as("min_user"))
  }

  val q82Sql: String =
    """WITH b AS (
      |  SELECT user_id, event_type AS old_type, row_number() OVER
      |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'),
      |a AS (
      |  SELECT user_id, event_type AS new_type, row_number() OVER
      |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'),
      |d AS (
      |  SELECT COALESCE(bb.user_id, aa.user_id) AS user_id, bb.old_type, aa.new_type
      |  FROM (SELECT user_id, old_type FROM b WHERE rn = 1) bb
      |  FULL OUTER JOIN (SELECT user_id, new_type FROM a WHERE rn = 1) aa
      |    ON bb.user_id = aa.user_id)
      |SELECT CASE WHEN old_type IS NULL THEN 'appeared'
      |  WHEN new_type IS NULL THEN 'quiet'
      |  WHEN old_type <> new_type THEN 'changed'
      |  ELSE 'unchanged' END AS class,
      |  COUNT(*) AS n_users, MIN(user_id) AS min_user
      |FROM d GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q90: time-weighted average — the event-time INTEGRAL of a
  // piecewise-constant signal (each reading holds until the next),
  // which a plain row-mean gets wrong whenever sampling is irregular:
  // a sensor quiet for an hour at value 5 must weigh 3600× a burst of
  // 1-second readings. One lead() window per type (a single hash
  // shuffle) yields interval durations; the integral is EXACT integer
  // arithmetic — value in cents × duration in µs, summed through
  // DECIMAL(38,0)/HUGEINT — with ONE final double division, the same
  // expression shape both engines (CoreQueries float-parity rule).
  // ------------------------------------------------------------------
  def q90TimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val withDur = ev
      .withColumn("next_us", unix_micros(lead(col("ts"), 1).over(w)))
      .withColumn("dur_us", col("next_us") - unix_micros(col("ts")))
      .filter(col("dur_us").isNotNull)
      .withColumn("cents", round(col("value") * 100).cast(LongType))
    withDur.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum((col("cents") * col("dur_us")).cast(DecimalType(38, 0))).as("num"),
        sum(col("dur_us").cast(DecimalType(38, 0))).as("den"))
      .select(col("event_type"), col("n_intervals"),
        round((col("num").cast(DoubleType) / col("den").cast(DoubleType)) / 100.0, 4)
          .as("twa_value"))
  }

  // ------------------------------------------------------------------
  // q93: funnel latency — how long users take from first view to first
  // purchase-after-view, summarized as exact percentiles. Two per-user
  // aggregations (the q68 broadcast-funnel shape: the fact scan never
  // shuffles, qualified-user maps broadcast back) produce one duration
  // per converting user; integer seconds keep the percentile input
  // exact, and q53's rule gives bit-identical interpolation across
  // engines. The percentile state is ≤ one value per converting user —
  // the tiny end of the funnel, not the corpus.
  // ------------------------------------------------------------------
  def q93FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(broadcast(v), "user_id").filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.join(p, "user_id")
      .withColumn("sec", // integer div both engines — `/` would be double
        expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(sec, 0.5)"), 4).as("p50_sec"),
        round(expr("percentile(sec, 0.9)"), 4).as("p90_sec"),
        min(col("sec")).as("min_sec"),
        max(col("sec")).as("max_sec"))
  }

  val q93Sql: String =
    """WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= v.v_ts
      |  GROUP BY e.user_id),
      |d AS (
      |  SELECT (epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 1000000 AS sec
      |  FROM v JOIN p USING (user_id))
      |SELECT COUNT(*) AS n_converted,
      |  round(quantile_cont(sec, 0.5), 4) AS p50_sec,
      |  round(quantile_cont(sec, 0.9), 4) AS p90_sec,
      |  CAST(MIN(sec) AS BIGINT) AS min_sec,
      |  CAST(MAX(sec) AS BIGINT) AS max_sec
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // q98: behavioral transition matrix — counts of consecutive
  // (from_type → to_type) steps per user stream, the first-order
  // Markov model behind next-action prediction and anomalous-flow
  // detection. One lag() window per user (single hash shuffle — the
  // same exchange the SCD2/sessionization family rides), then a tiny
  // (types × types) count aggregation with integer-permille shares.
  // ------------------------------------------------------------------
  def q98TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val steps = Tables.events(spark, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = steps.groupBy(col("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type")).agg(sum(col("n")).as("t"))
    counts.join(broadcast(totals), "from_type")
      .withColumn("permille", expr("n * 1000 div t"))
      .select(col("from_type"), col("to_type"), col("n"), col("permille"))
  }

  val q98Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |steps AS (
      |  SELECT lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS from_type,
      |    event_type AS to_type
      |  FROM e),
      |counts AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS t
      |  FROM counts GROUP BY from_type)
      |SELECT c.from_type, c.to_type, c.n, c.n * 1000 // t.t AS permille
      |FROM counts c JOIN totals t USING (from_type)""".stripMargin

  // ------------------------------------------------------------------
  // q99: RFM customer segmentation — recency / frequency / monetary
  // quartile codes, the classic lifecycle-marketing partition of a
  // customer base. One per-customer aggregation (map-side partials),
  // exact quartile boundaries from ONE percentile aggregate broadcast
  // back (q86's no-global-ntile rule), integer day recency, and the
  // final segment code is pure comparison arithmetic — identical cuts
  // both engines.
  // ------------------------------------------------------------------
  def q99RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val asOf = o.agg(max(to_date(col("o_orderdate"))).as("d1"))
    val per = o.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("monetary"))
      .crossJoin(broadcast(asOf))
      .select(col("o_custkey"),
        expr("datediff(d1, last_day)").cast(LongType).as("recency_days"),
        col("freq"),
        col("monetary").cast(DoubleType).as("monetary"))
    val bounds = per.agg(
      expr("percentile(recency_days, 0.5)").as("r50"),
      expr("percentile(freq, 0.5)").as("f50"),
      expr("percentile(monetary, 0.5)").as("m50"))
    per.crossJoin(broadcast(bounds))
      .withColumn("seg", concat(
        when(col("recency_days").cast(DoubleType) <= col("r50"), "R1").otherwise("R0"),
        when(col("freq").cast(DoubleType) > col("f50"), "F1").otherwise("F0"),
        when(col("monetary") > col("m50"), "M1").otherwise("M0")))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("freq")).as("n_orders"),
        round(sum(col("monetary").cast(DecimalType(18, 4))).cast(DoubleType), 4)
          .as("total_value"))
  }

  val q99Sql: String =
    """WITH per AS (
      |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_day,
      |    COUNT(*) AS freq,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
      |  FROM orders GROUP BY o_custkey),
      |cutoff AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      |feat AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', last_day, d1) AS BIGINT) AS recency_days,
      |    freq, CAST(monetary AS DOUBLE) AS monetary
      |  FROM per CROSS JOIN cutoff),
      |bounds AS (
      |  SELECT quantile_cont(recency_days, 0.5) AS r50,
      |    quantile_cont(freq, 0.5) AS f50,
      |    quantile_cont(monetary, 0.5) AS m50
      |  FROM feat)
      |SELECT
      |  (CASE WHEN CAST(recency_days AS DOUBLE) <= r50 THEN 'R1' ELSE 'R0' END ||
      |   CASE WHEN CAST(freq AS DOUBLE) > f50 THEN 'F1' ELSE 'F0' END ||
      |   CASE WHEN monetary > m50 THEN 'M1' ELSE 'M0' END) AS seg,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(freq) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_value
      |FROM feat CROSS JOIN bounds
      |GROUP BY 1""".stripMargin

  val q90Sql: String =
    """WITH e AS (
      |  SELECT event_type, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |d AS (
      |  SELECT event_type,
      |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur_us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC))
      |SELECT event_type, COUNT(*) AS n_intervals,
      |  round((CAST(SUM(CAST(cents AS HUGEINT) * dur_us) AS DOUBLE) /
      |         CAST(SUM(CAST(dur_us AS HUGEINT)) AS DOUBLE)) / 100.0, 4) AS twa_value
      |FROM d WHERE dur_us IS NOT NULL
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q115: rolling 7-day DISTINCT active users — the DAU/WAU metric
  // whose "distinct" makes naive windowing wrong at scale (distinct
  // counts don't merge). Exact formulation: dedup to (day, user),
  // fan each row out to the ≤7 window-end days it supports (a bounded
  // ×7 explode, NOT a range join), dedup (target, user), tally.
  // Restricting targets to observed days is a broadcast semi-join.
  // The 100 TB variant is q115RollingDistinctHll: per-day mergeable
  // HLL sketches fanned ×7 and union-merged per target — the oracle
  // gates the exact plan; SketchStatsSpec bounds the sketch plan
  // within 2% of it per target day at sf0.1.
  // ------------------------------------------------------------------
  // ------------------------------------------------------------------
  // q118: TIMEOUT-bounded funnel — q68 asks "did the stages happen in
  // order"; real conversion funnels ask "did each stage happen within
  // the window of the previous one" (view → click within 24 h → purchase
  // within 24 h of that click). Correlated mins decorrelate into three
  // per-user aggregates chained by co-shuffled joins — every stage
  // reuses the user_id partitioning, the fact table never re-shuffles.
  // Durations are exact integer microseconds (unix_micros both engines)
  // divided down to seconds; the median is an exact percentile over one
  // value per converting user.
  // ------------------------------------------------------------------
  def q118TimedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def stage(t: String) = ev.filter(col("event_type") === t)
    val t1 = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = stage("click").join(t1, "user_id")
      .filter(col("ts") >= col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val t3 = stage("purchase").join(t2, "user_id")
      .filter(col("ts") >= col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"), min(col("t1")).as("t1"))
      .withColumn("secs",
        expr("(unix_micros(t3) - unix_micros(t1)) div 1000000"))
    // one per-user funnel frame (left joins ride the same user_id
    // partitioning), ONE global tally — counting each stage separately
    // would recompute the chain per counter
    t1.select(col("user_id"), col("t1"))
      .join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("secs")), Seq("user_id"), "left")
      .agg(count(col("t1")).as("n_viewed"),
        count(col("t2")).as("n_clicked_24h"),
        count(col("secs")).as("n_purchased_24h"),
        expr("percentile(secs, 0.5)").as("median_secs_to_convert"))
  }

  val q118Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |t1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT ev.user_id, MIN(ev.ts) AS t2, MIN(t1.t1) AS t1
      |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
      |  WHERE ev.event_type = 'click'
      |    AND ev.ts >= t1.t1 AND ev.ts <= t1.t1 + INTERVAL 24 HOUR
      |  GROUP BY 1),
      |t3 AS (
      |  SELECT ev.user_id, MIN(ev.ts) AS t3, MIN(t2.t1) AS t1
      |  FROM ev JOIN t2 ON ev.user_id = t2.user_id
      |  WHERE ev.event_type = 'purchase'
      |    AND ev.ts >= t2.t2 AND ev.ts <= t2.t2 + INTERVAL 24 HOUR
      |  GROUP BY 1),
      |d AS (
      |  SELECT (epoch_us(t3) - epoch_us(t1)) // 1000000 AS secs FROM t3)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_viewed,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n_clicked_24h,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n_purchased_24h,
      |  (SELECT quantile_cont(secs, 0.5) FROM d) AS median_secs_to_convert""".stripMargin

  def q115RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("target")).distinct()
    du.select(explode(expr("sequence(day, date_add(day, 6))")).as("target"),
        col("user_id"))
      .join(broadcast(days), Seq("target"), "left_semi")
      .distinct()
      .groupBy(col("target"))
      .agg(count(lit(1)).as("active_users_7d"))
  }

  /**
   * The 100 TB shape of q115: one mergeable DataSketches HLL state
   * per day (partial-aggregable — the (day,user) row explosion never
   * happens), a ×7 fanout of
   * KILOBYTE sketch blobs instead of user rows, and a union-merge per
   * target day. Work per target is 7 sketch merges regardless of user
   * cardinality; accuracy is the sketch's standard error (~0.8% at the
   * default lgK=12), parity-bounded by SketchStatsSpec.
   */
  def q115RollingDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    val perDay = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    val days = perDay.select(col("day").as("target"))
    perDay
      .select(explode(expr("sequence(day, date_add(day, 6))")).as("target"),
        col("sketch"))
      .join(broadcast(days), Seq("target"), "left_semi")
      .groupBy(col("target"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("active_users_7d"))
  }

  val q115Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day AS target FROM du)
      |SELECT d.target, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_users_7d
      |FROM days d JOIN du u ON u.day BETWEEN d.target - 6 AND d.target
      |GROUP BY 1""".stripMargin

  // geometric EWMA weights for q156, lag 1..14 at decay 0.7 — frozen
  // as 6-dp literals shared verbatim with the oracle SQL, so pow()
  // never has to agree transcendentally across engines
  private val EwmaWeights: Seq[(Int, String)] = (1 to 14).map { k =>
    k -> BigDecimal("0.7").pow(k - 1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.toPlainString
  }

  // ------------------------------------------------------------------
  // q156: EWMA anomaly scoring over daily event volumes — the
  // pre-ingestion volume monitor next to q130's distribution monitor:
  // each (event_type, day)'s count is compared against the
  // exponentially-weighted average of its previous ≤14 days
  // (α-decay 0.7, weights normalized over the days that exist, so
  // gaps and series starts are handled without imputation). Scale
  // shape: ONE corpus-sized aggregation to (type, day) counts; the
  // banded self-join and weight lookup run on that dimension-sized
  // table. Weighted addends go to integer micros before summing
  // (order-independent exact sums); weights are shared 6-dp literals,
  // not runtime pow().
  // ------------------------------------------------------------------
  def q156EwmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // both sides of the banded self-join
    val weights = EwmaWeights.map { case (k, w) => (k, w.toDouble) }
      .toDF("lag", "w")
    val hist = daily.select(col("event_type").as("h_type"),
      col("day").as("h_day"), col("n").as("h_n"))
    val scored = daily.join(hist,
        col("event_type") === col("h_type") &&
          datediff(col("day"), col("h_day")).between(1, 14))
      .withColumn("lag", datediff(col("day"), col("h_day")))
      .join(broadcast(weights), "lag")
      .groupBy(col("event_type"), col("day"), col("n"))
      .agg(
        sum(round(col("w") * col("h_n").cast(DoubleType) * 1000000.0)
          .cast(LongType)).as("num"),
        sum(round(col("w") * 1000000.0).cast(LongType)).as("den"))
    scored.select(col("event_type"), col("day"), col("n"),
      round(col("num").cast(DoubleType) / col("den").cast(DoubleType), 4)
        .as("ewma"),
      round(col("n").cast(DoubleType) * col("den").cast(DoubleType)
        / col("num").cast(DoubleType), 4).as("ratio"))
  }

  val q156Sql: String = {
    val vals = EwmaWeights.map { case (k, w) => s"($k, $w)" }.mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |wt(lag, w) AS (VALUES $vals),
       |scored AS (
       |  SELECT a.event_type, a.day, a.n,
       |    SUM(CAST(round(wt.w * CAST(b.n AS DOUBLE) * 1000000.0) AS BIGINT)) AS num,
       |    SUM(CAST(round(wt.w * 1000000.0) AS BIGINT)) AS den
       |  FROM daily a
       |  JOIN daily b ON a.event_type = b.event_type
       |    AND a.day - b.day BETWEEN 1 AND 14
       |  JOIN wt ON wt.lag = a.day - b.day
       |  GROUP BY a.event_type, a.day, a.n)
       |SELECT event_type, day, n,
       |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS ewma,
       |  round(CAST(n AS DOUBLE) * CAST(den AS DOUBLE) / CAST(num AS DOUBLE), 4) AS ratio
       |FROM scored""".stripMargin
  }

  // ------------------------------------------------------------------
  // q194: seasonal decomposition of the daily event series — classical
  // additive trend/seasonal/residual split (the STL shape, moving-
  // average variant): 7-day centered moving-average trend, per-weekday
  // seasonal component from the detrended series, residual variance
  // per weekday. The operational question it answers: how much of
  // daily volume variation is weekly rhythm vs noise — the baseline
  // any ingestion-anomaly alert must subtract first.
  //
  // Scale shape: ONE corpus-sized daily tally; the day table is
  // DIMENSION-sized (hundreds of rows), so the ordered 7-row window
  // and weekday rollups run on it freely. Parity: all components in
  // integer MILLI-counts; divisions that can go negative use
  // floor(CAST AS DOUBLE / n) — exact for these magnitudes and
  // identical in both engines; floor (not truncate) is the intended
  // rounding for detrending. (Both engines' integer division in fact
  // truncates toward zero — q198 relies on exactly that — but the
  // explicit floor keeps the semantic choice visible.) Weekday is
  // epoch-arithmetic
  // ((days_since_epoch + 3) % 7, 0 = Monday) — no engine dow()
  // convention in play.
  // ------------------------------------------------------------------
  def q194SeasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val det = daily
      .withColumn("wn", count(lit(1)).over(w7))
      .withColumn("wsum", sum(col("n")).over(w7))
      .filter(col("wn") === 7) // full centered windows only
      .withColumn("trend_milli",
        floor(col("wsum").cast(DoubleType) * 1000.0 / 7.0).cast(LongType))
      .withColumn("det_milli", col("n") * 1000L - col("trend_milli"))
      .withColumn("dow",
        expr("CAST((datediff(day, DATE'1970-01-01') + 3) % 7 AS BIGINT)"))
    val seasonal = det.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("det_milli")).as("sdet"))
      .withColumn("seasonal_milli",
        floor(col("sdet").cast(DoubleType) / col("n_days").cast(DoubleType))
          .cast(LongType))
    det.join(broadcast(seasonal), Seq("dow"))
      .withColumn("r", col("det_milli") - col("seasonal_milli"))
      .groupBy(col("dow"))
      .agg(first(col("n_days")).as("n_days"),
        first(col("seasonal_milli")).as("seasonal_milli"),
        floor(sum(col("r") * col("r")).cast(DoubleType)
          / count(lit(1)).cast(DoubleType)).cast(LongType).as("resid_var_milli2"))
  }

  val q194Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |win AS (
      |  SELECT day, n,
      |    COUNT(*) OVER w AS wn, SUM(n) OVER w AS wsum
      |  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS MATERIALIZED (
      |  SELECT day, n,
      |    CAST(floor(CAST(wsum AS DOUBLE) * 1000.0 / 7.0) AS BIGINT) AS trend_milli,
      |    n * 1000 - CAST(floor(CAST(wsum AS DOUBLE) * 1000.0 / 7.0) AS BIGINT)
      |      AS det_milli,
      |    CAST((date_diff('day', DATE '1970-01-01', day) + 3) % 7 AS BIGINT) AS dow
      |  FROM win WHERE wn = 7),
      |seasonal AS MATERIALIZED (
      |  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(floor(CAST(SUM(det_milli) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |      AS seasonal_milli
      |  FROM det GROUP BY 1)
      |SELECT d.dow, s.n_days, s.seasonal_milli,
      |  CAST(floor(CAST(SUM((d.det_milli - s.seasonal_milli)
      |      * (d.det_milli - s.seasonal_milli)) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |    AS resid_var_milli2
      |FROM det d JOIN seasonal s USING (dow)
      |GROUP BY d.dow, s.n_days, s.seasonal_milli""".stripMargin

  // ------------------------------------------------------------------
  // q195: sequence-pattern mining over user journeys — MATCH_RECOGNIZE
  // lite. Each user's event history becomes a compact journey string
  // (one letter per event, types mapped a.. in sorted order), and a
  // fixed pattern library is evaluated as regexes over it: how many
  // users ever convert after an error, bounce through 3+ views, etc.
  // Row-pattern queries are the SQL:2016 feature Spark lacks; regex
  // over an ordered per-key reduction expresses the same class of
  // questions (patterns here use only syntax with identical semantics
  // in Java regex and RE2: literals, classes, alternation, bounded
  // repeats, partial match).
  //
  // Scale shape: ONE user_id shuffle builds the journey strings
  // (collect_list + array_sort inside the agg — order-independent of
  // partitioning); the type→letter dictionary is a sorted-distinct
  // dimension; the pattern library is a broadcast literal; per-pattern
  // tallies are pattern-count-sized. Journey strings are bounded by
  // per-user event counts (naturally small); a pathological power user
  // bounds at the agg, not a cross join.
  // ------------------------------------------------------------------
  def q195SequencePattern(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    // type -> letter dictionary, derived identically in both engines:
    // sorted distinct types, 'a' + rank (dimension-sized global window)
    val dict = ev.select(col("event_type")).distinct()
      .withColumn("rn", row_number().over(Window.orderBy(col("event_type"))))
      .withColumn("letter", expr("char(96 + rn)"))
      .select(col("event_type"), col("letter"))
    val journeys = ev
      .join(broadcast(dict), "event_type")
      .groupBy(col("user_id"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(ts, event_id, letter))), x -> x.letter), '')")
        .as("journey"))
    val patterns = Seq(
      ("error_then_purchase", "e.*c"), // error ... later a purchase
      ("view_burst", "(v|a){3,}"),     // 3+ consecutive views/clicks
      ("signup_first", "^d"),          // journey starts with signup
      ("double_error", "e[^e]*e"))     // two errors, any gap
    val spark2 = spark
    import spark2.implicits._
    val pats = patterns.toDF("pattern_name", "pattern")
    journeys.crossJoin(broadcast(pats))
      .groupBy(col("pattern_name"), col("pattern"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(expr("journey RLIKE pattern"), 1L).otherwise(0L))
          .as("n_matched"))
      .withColumn("share_permille",
        expr("n_matched * 1000 div n_users"))
  }

  val q195Sql: String =
    """WITH dict AS (
      |  SELECT event_type, chr(96 + CAST(row_number() OVER (ORDER BY event_type) AS INT)) AS letter
      |  FROM (SELECT DISTINCT event_type FROM events)),
      |j AS MATERIALIZED (
      |  SELECT e.user_id,
      |    string_agg(d.letter, '' ORDER BY e.ts, e.event_id) AS journey
      |  FROM events e JOIN dict d USING (event_type)
      |  GROUP BY e.user_id),
      |pats(pattern_name, pattern) AS (VALUES
      |  ('error_then_purchase', 'e.*c'),
      |  ('view_burst', '(v|a){3,}'),
      |  ('signup_first', '^d'),
      |  ('double_error', 'e[^e]*e'))
      |SELECT pattern_name, pattern,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN regexp_matches(journey, pattern) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_matched,
      |  CAST(SUM(CASE WHEN regexp_matches(journey, pattern) THEN 1 ELSE 0 END)
      |    * 1000 // COUNT(*) AS BIGINT) AS share_permille
      |FROM j CROSS JOIN pats
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q198: Holt linear-trend forecasting of the daily event series —
  // double exponential smoothing (Holt 1957) with frozen rational
  // coefficients (alpha = 3/10, beta = 1/10), the one-step-ahead
  // volume forecast an ingestion monitor alerts against (q156 scores
  // residuals against an EWMA; this adds the trend term). The whole
  // recursion is EXACT integer micro-units with truncate-toward-zero
  // division (JVM Long `/` here, `//` in the oracle — DuckDB's integer
  // `//` truncates, NOT floors: -7 // 2 = -3 — so floorDiv would
  // diverge on negative trend values), and both engines replay the
  // trajectory bit-for-bit:
  //   l_t = (3*y_t*1e6 + 7*(l + b)) div 10
  //   b_t = ((l_t - l_{t-1}) + 9*b) div 10,  fc_t = l_{t-1} + b_{t-1}
  //
  // 100 TB shape: ONE corpus-sized map-side-combined daily tally
  // (q198DailyPlan, plan-gated); the recursion is inherently
  // sequential over the ~hundreds-row day series, so it runs on the
  // driver like the other dimension-sized learner loops — the corpus
  // never re-enters.
  // ------------------------------------------------------------------
  private[graft] def q198DailyPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))

  def q198HoltForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val series = q198DailyPlan(spark, dir)
      .orderBy(col("day"))
      .collect().map(r => (r.getDate(0), r.getLong(1)))
    require(series.length >= 2, "Holt needs at least two days")
    val out = Array.newBuilder[(java.sql.Date, Long, Long, Long, Option[Long], Option[Long])]
    var l = series(0)._2 * 1000000L
    var b = (series(1)._2 - series(0)._2) * 1000000L
    out += ((series(0)._1, series(0)._2, l, b, None, None))
    var t = 1
    while (t < series.length) {
      val (day, y) = series(t)
      val fc = l + b
      val lNext = (3L * y * 1000000L + 7L * (l + b)) / 10L
      val bNext = ((lNext - l) + 9L * b) / 10L
      l = lNext; b = bNext
      out += ((day, y, l, b, Some(fc), Some(y * 1000000L - fc)))
      t += 1
    }
    out.result().toSeq
      .toDF("day", "n", "level_micro", "trend_micro", "fc_micro", "err_micro")
  }

  val q198Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |idx AS (
      |  SELECT day, n, row_number() OVER (ORDER BY day) AS t FROM daily),
      |r(t, day, n, l, b, fc) AS (
      |  SELECT 1, i.day, i.n, i.n * 1000000,
      |    ((SELECT n FROM idx WHERE t = 2) - i.n) * 1000000,
      |    CAST(NULL AS BIGINT)
      |  FROM idx i WHERE i.t = 1
      |  UNION ALL
      |  SELECT i.t, i.day, i.n,
      |    (3 * i.n * 1000000 + 7 * (r.l + r.b)) // 10,
      |    (((3 * i.n * 1000000 + 7 * (r.l + r.b)) // 10) - r.l + 9 * r.b) // 10,
      |    r.l + r.b
      |  FROM r JOIN idx i ON i.t = r.t + 1)
      |SELECT day, n, CAST(l AS BIGINT) AS level_micro,
      |  CAST(b AS BIGINT) AS trend_micro, CAST(fc AS BIGINT) AS fc_micro,
      |  CAST(n * 1000000 - fc AS BIGINT) AS err_micro
      |FROM r""".stripMargin

  // ------------------------------------------------------------------
  // q210: two-sided CUSUM changepoint monitor (Page 1954) over the
  // daily event volume — the classic sequential level-shift detector
  // next to the EWMA point-anomaly gate (q156) and Holt's smoother
  // (q198): S⁺ accumulates upward deviations past a 5% slack band
  // around the series mean, S⁻ downward ones, and either crossing
  // h = ref/4 (a quarter of the daily-mean reference) raises the alarm. All arithmetic is exact
  // integer micros — the reference level and slack come from one
  // truncating division each, and the recursion replays term-for-term
  // in the oracle's recursive CTE (the q198 contract shape).
  //
  // Scale shape: the corpus collapses to the (day, n) tally in ONE
  // map-side-combined agg (q198DailyPlan, plan-gated there); the
  // recursion runs driver-side on the calendar-sized series, which is
  // the right venue for an inherently sequential O(days) scan.
  // ------------------------------------------------------------------
  /** The CUSUM recursion, pure: (day count) series → per-day
    * (s_pos, s_neg, alarm). Package-visible so CusumSpec can pin the
    * alarm semantics on a hand-built shifted series — the driver data
    * is stationary enough that sf0.1 never alarms, and a constant
    * column cannot catch a flipped comparison. refMicro is the
    * in-control reference level ×1e6; slack = ref/20, h = ref/4. */
  private[graft] def cusumTrajectory(
      ys: Seq[Long], refMicro: Long): Seq[(Long, Long, Boolean)] = {
    val slack = refMicro / 20
    val h = refMicro / 4
    var (sPos, sNeg) = (0L, 0L)
    ys.map { y =>
      sPos = math.max(0L, sPos + y * 1000000L - refMicro - slack)
      sNeg = math.max(0L, sNeg + refMicro - slack - y * 1000000L)
      (sPos, sNeg, sPos > h || sNeg > h)
    }
  }

  def q210Cusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val series = q206DailyPlan(spark, dir) // (event_type, day, y)
      .orderBy(col("event_type"), col("day"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    require(series.nonEmpty, "CUSUM needs at least one day")
    val out = series.groupBy(_._1).toSeq.flatMap { case (etype, rows) =>
      val days = rows.map(_._2)
      val ys = rows.map(_._3).toSeq
      val week = ys.take(7)
      val ref = week.sum * 1000000L / week.length // truncating; both engines
      days.lazyZip(ys).lazyZip(cusumTrajectory(ys, ref)).map {
        case (day, y, (sPos, sNeg, alarm)) => (etype, day, y, sPos, sNeg, alarm)
      }
    }
    out.toDF("event_type", "day", "n", "s_pos", "s_neg", "alarm")
  }

  val q210Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, n, row_number() OVER
      |    (PARTITION BY event_type ORDER BY day) AS t
      |  FROM daily),
      |p AS (
      |  SELECT event_type, (SUM(n) * 1000000) // COUNT(*) AS ref
      |  FROM idx WHERE t <= 7 GROUP BY 1),
      |r(event_type, t, day, n, s_pos, s_neg) AS (
      |  SELECT i.event_type, 1, i.day, i.n,
      |    greatest(0, i.n * 1000000 - p.ref - p.ref // 20),
      |    greatest(0, p.ref - p.ref // 20 - i.n * 1000000)
      |  FROM idx i JOIN p ON p.event_type = i.event_type WHERE i.t = 1
      |  UNION ALL
      |  SELECT i.event_type, i.t, i.day, i.n,
      |    greatest(0, r.s_pos + i.n * 1000000 - p.ref - p.ref // 20),
      |    greatest(0, r.s_neg + p.ref - p.ref // 20 - i.n * 1000000)
      |  FROM r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1
      |  JOIN p ON p.event_type = i.event_type)
      |SELECT r.event_type, r.day, r.n, CAST(r.s_pos AS BIGINT) AS s_pos,
      |  CAST(r.s_neg AS BIGINT) AS s_neg,
      |  (r.s_pos > p.ref // 4 OR r.s_neg > p.ref // 4) AS alarm
      |FROM r JOIN p ON p.event_type = r.event_type""".stripMargin

  // ------------------------------------------------------------------
  // q216: Fano-factor burstiness per event type — variance-to-mean of
  // the daily counts, the dispersion test that separates Poisson-like
  // steady traffic (F ≈ 1) from bursty (F > 1) or clamped/quota'd
  // (F < 1) streams; the stationary-dispersion companion to the CUSUM
  // level monitor (q210) and the seasonal decomposition (q194).
  // Exact integers end-to-end: F = var/mean = (n·Σy² − (Σy)²) /
  // ((n−1)·Σy) after cancelling the 1/n, DECIMAL(38,0) squares, one
  // truncating micro division.
  //
  // Scale shape: the corpus collapses through q206DailyPlan's ONE
  // map-side-combined (type, day) tally (plan-gated there); the
  // moment aggregation rides the calendar-sized result.
  // ------------------------------------------------------------------
  def q216FanoFactor(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    q206DailyPlan(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("y")).as("sum_y"),
        sum((col("y") * col("y")).cast(dec)).as("sy2"))
      .filter(col("n_days") >= 2)
      .select(col("event_type"), col("n_days"), col("sum_y"),
        expr("CAST(((n_days * sy2 - CAST(sum_y AS DECIMAL(38,0)) * sum_y)" +
          " * 1000000) div ((n_days - 1) * CAST(sum_y AS DECIMAL(38,0)))" +
          " AS BIGINT)").as("fano_micro"))
  }

  val q216Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(y) AS BIGINT) AS sum_y,
      |    SUM(CAST(y AS HUGEINT) * y) AS sy2
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sum_y,
      |  CAST(((n_days * sy2 - CAST(sum_y AS HUGEINT) * sum_y) * 1000000)
      |    // ((n_days - 1) * CAST(sum_y AS HUGEINT)) AS BIGINT) AS fano_micro
      |FROM m WHERE n_days >= 2""".stripMargin

  /** q206's corpus stage — the only part that touches all events.
    * Package-visible so ExchangeBudgetSpec can gate it: the
    * localCheckpoint in q206TheilSen hides it from the final plan. */
  private[graft] def q206DailyPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))

  // ------------------------------------------------------------------
  // q206: Theil–Sen robust trend + Kendall's τ per event type — the
  // outlier-immune complement to Holt's smoother (q198): the slope
  // estimate is the MEDIAN of all pairwise daily slopes (up to 29%
  // contamination tolerated), and Kendall's τ-a over the same pairs
  // scores trend monotonicity. Slopes are exact rationals (dy, dx
  // BIGINT); the median is selected by sorting (dy/dx double, dy, dx)
  // — the float only breaks astronomically-near ties and the integer
  // tie-break makes the total order identical in both engines — and
  // is EMITTED as the exact (dy, dx) pair plus one truncating micro
  // division. τ counts concordant/discordant pairs as pure integers.
  //
  // Scale shape: the corpus collapses to (type, day) counts in ONE
  // map-side-combined agg (gated separately — it hides behind the
  // checkpoint); all pair work is calendar-dimension-sized (days² per
  // type), the self-join broadcasts one side, and the rank window
  // partitions per type over those bounded pair lists.
  // ------------------------------------------------------------------
  def q206TheilSen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = q206DailyPlan(spark, dir)
      .withColumn("x",
        datediff(col("day"), lit("2024-01-01").cast(DateType)).cast(LongType))
      .localCheckpoint() // both self-join sides read it
    val a = daily.select(col("event_type"), col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("event_type"), col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(broadcast(b),
        a("event_type") === b("event_type") && col("xa") < col("xb"))
      .select(a("event_type"),
        (col("yb") - col("ya")).as("dy"), (col("xb") - col("xa")).as("dx"))
    val w = Window.partitionBy(col("event_type"))
    val ranked = pairs
      .withColumn("rn", row_number().over(
        w.orderBy(col("dy").cast(DoubleType) / col("dx"), col("dy"), col("dx"))))
      .withColumn("np", count(lit(1)).over(w))
    val med = ranked.filter(col("rn") === expr("(np + 1) div 2"))
      .select(col("event_type"), col("np").as("n_pairs"),
        col("dy").as("med_dy"), col("dx").as("med_dx"),
        expr("(dy * 1000000) div dx").as("slope_micro"))
    val tau = pairs.groupBy(col("event_type"))
      .agg(sum(when(col("dy") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("dy") < 0, 1L).otherwise(0L)).as("discordant"))
    val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    med.join(tau, "event_type").join(nd, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("med_dy"), col("med_dx"), col("slope_micro"),
        col("concordant"), col("discordant"),
        expr("((concordant - discordant) * 1000000) div n_pairs")
          .as("tau_micro"))
  }

  val q206Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |d2 AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS x, y
      |  FROM daily),
      |p AS (
      |  SELECT a.event_type, b.y - a.y AS dy, b.x - a.x AS dx
      |  FROM d2 a JOIN d2 b
      |    ON a.event_type = b.event_type AND a.x < b.x),
      |r AS (
      |  SELECT event_type, dy, dx,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS np
      |  FROM p),
      |med AS (
      |  SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
      |    dy AS med_dy, dx AS med_dx,
      |    CAST((dy * 1000000) // dx AS BIGINT) AS slope_micro
      |  FROM r WHERE rn = (np + 1) // 2),
      |tau AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |    CAST(SUM(CASE WHEN dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant
      |  FROM p GROUP BY 1),
      |nd AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM d2 GROUP BY 1)
      |SELECT m.event_type, nd.n_days, m.n_pairs, m.med_dy, m.med_dx,
      |  m.slope_micro, t.concordant, t.discordant,
      |  CAST(((t.concordant - t.discordant) * 1000000) // m.n_pairs AS BIGINT)
      |    AS tau_micro
      |FROM med m JOIN tau t ON m.event_type = t.event_type
      |JOIN nd ON nd.event_type = m.event_type""".stripMargin

  // ------------------------------------------------------------------
  // q244: autocorrelation function of daily event volume per type,
  // lags 1–7 — the periodicity detector that says WHICH lag repeats
  // (weekly seasonality shows as a ρ₇ spike) where q194's seasonal
  // decomposition assumes the period and q210's CUSUM finds level
  // shifts. Series = the GAP-FILLED day spine (q69's convention —
  // missing days are real zeros, not absent rows; skipping them would
  // silently splice non-adjacent days into "adjacent" pairs).
  //
  // Exactness: with S=Σx, Q=Σx², and per-lag P=Σx_t·x_{t+k},
  // A=Σ_pairs x_t, B=Σ_pairs x_{t+k} (all exact integer sums off the
  // SAME lag join), the mean-centered sample ACF multiplies out to
  //   ρ_k = (N²·P − N·S·(A+B) + (N−k)·S²) / (N·(N·Q − S²))
  // — ONE double division of exact DECIMAL/HUGEINT integers, 6 dp.
  //
  // 100 TB shape: the corpus collapses to (type, day) counts in one
  // map-side-combined tally; the spine, lag self-join, and every
  // aggregate after are DAY-DOMAIN-sized. The lag join explodes 7
  // offsets from each day row — never a window over raw events.
  // ------------------------------------------------------------------
  def q244DailyAcf(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val maxLag = 7
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val span = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = span.select(col("event_type"), explode(
      expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val series = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast(LongType).as("t"),
        coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint() // reused: totals AND both sides of the lag join
    val tot = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum((col("x").cast(dec) * col("x").cast(dec))).as("q"))
    val lagged = series
      .select(col("event_type"), col("t"), col("x"),
        explode(expr(s"sequence(1, $maxLag)")).as("k"))
      .withColumn("t2", col("t") + col("k"))
      .join(series.select(col("event_type"), col("t").as("t2"),
        col("x").as("y")), Seq("event_type", "t2"))
      .groupBy(col("event_type"), col("k"))
      .agg(sum((col("x").cast(dec) * col("y").cast(dec))).as("p"),
        sum(col("x")).as("a"), sum(col("y")).as("b"))
    lagged.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("k").cast(IntegerType).as("lag"),
        col("n").as("n_days"),
        round(
          (col("n").cast(dec) * col("n").cast(dec) * col("p") -
            col("n").cast(dec) * col("s").cast(dec) *
              (col("a").cast(dec) + col("b").cast(dec)) +
            (col("n") - col("k")).cast(dec) * col("s").cast(dec) *
              col("s").cast(dec)).cast(DoubleType) /
          (col("n").cast(dec) *
            (col("n").cast(dec) * col("q") -
              col("s").cast(dec) * col("s").cast(dec))).cast(DoubleType),
          6).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  val q244Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY 1),
      |spine AS (
      |  SELECT s.event_type, s.d0 + CAST(u.i AS INT) AS day,
      |    CAST(date_diff('day', DATE '1970-01-01', s.d0) + u.i AS BIGINT) AS t
      |  FROM span s,
      |    UNNEST(range(0, date_diff('day', s.d0, s.d1) + 1)) AS u(i)),
      |series AS (
      |  SELECT sp.event_type, sp.t, CAST(COALESCE(d.x, 0) AS BIGINT) AS x
      |  FROM spine sp LEFT JOIN daily d
      |    ON d.event_type = sp.event_type AND d.day = sp.day),
      |tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM series GROUP BY 1),
      |lagged AS (
      |  SELECT a.event_type, k.k,
      |    SUM(CAST(a.x AS HUGEINT) * b.x) AS p,
      |    CAST(SUM(a.x) AS HUGEINT) AS a_sum,
      |    CAST(SUM(b.x) AS HUGEINT) AS b_sum
      |  FROM series a, (VALUES (1),(2),(3),(4),(5),(6),(7)) k(k), series b
      |  WHERE b.event_type = a.event_type AND b.t = a.t + k.k
      |  GROUP BY 1, 2)
      |SELECT l.event_type, CAST(l.k AS INT) AS lag, t.n AS n_days,
      |  round(CAST(CAST(t.n AS HUGEINT) * t.n * l.p
      |      - CAST(t.n AS HUGEINT) * t.s * (l.a_sum + l.b_sum)
      |      + CAST(t.n - l.k AS HUGEINT) * t.s * t.s AS DOUBLE) /
      |    CAST(CAST(t.n AS HUGEINT) *
      |      (CAST(t.n AS HUGEINT) * t.q - t.s * t.s) AS DOUBLE), 6) AS acf
      |FROM lagged l JOIN tot t ON t.event_type = l.event_type
      |ORDER BY l.event_type, lag""".stripMargin

  // ------------------------------------------------------------------
  // q259: rapid-repeat event screen — per event type, how many
  // (user, type, UTC-minute) groups fire MORE than once, how many
  // surplus events those repeats contribute, and the worst burst:
  // the instrumentation double-fire / client-retry-storm audit an
  // interaction log needs before its counts feed engagement metrics
  // or an SFT export (a retry storm looks like enthusiasm to q102's
  // profile and corrupts q253's transition model — this screen is
  // where it's caught). Repeats are counted against a minute bucket,
  // the double-fire window client SDKs typically retry within;
  // legitimate re-engagement lands in different minutes.
  //
  // Exactness: all integer counts off one (user, type, minute) tally;
  // repeat_ppm is one truncating division. Minute = floor-epoch div
  // 60 (the q16/q254 epoch contract — unix_timestamp ≡ DuckDB
  // FLOOR(epoch), both truncate the same positive seconds).
  //
  // 100 TB shape: the tally exchange is the only corpus-sized one
  // (map-side combined — a user emits few distinct minutes per type);
  // the type rollup is group-domain-sized. No window, no join.
  // ------------------------------------------------------------------
  def q259RapidRepeat(spark: SparkSession, dir: String): DataFrame = {
    val groups = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(unix_timestamp(ts) div 60 AS BIGINT)").as("minute"))
      .groupBy(col("user_id"), col("event_type"), col("minute"))
      .agg(count(lit(1)).as("c"))
    groups.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_repeat_groups"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
          .as("n_repeat_events"),
        max(col("c")).as("max_burst"))
      .select(col("event_type"), col("n_events"), col("n_repeat_groups"),
        col("n_repeat_events"),
        expr("CAST(CAST(n_repeat_events AS DECIMAL(38,0)) * 1000000 " +
          "div n_events AS BIGINT)").as("repeat_ppm"),
        col("max_burst"))
      .orderBy(col("event_type"))
  }

  val q259Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_type,
      |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 60
      |      AS minute,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repeat_groups,
      |  CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
      |    AS n_repeat_events,
      |  CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) * 1000000
      |    // SUM(c) AS BIGINT) AS repeat_ppm,
      |  CAST(MAX(c) AS BIGINT) AS max_burst
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q264: circadian-regularity screen — per user, the Shannon entropy
  // of their hour-of-day activity distribution (24 UTC buckets), users
  // banded by whole bits of entropy: H ≈ 0 is a fixed-hour cron job,
  // H ≈ log₂24 ≈ 4.58 is an implausibly uniform scheduler — humans
  // sit in between. The diurnal companion to q253 (transition
  // surprisal) and q259 (double-fire): all three quarantine synthetic
  // actors before an interaction log feeds metrics or SFT export.
  //
  // Exactness: the q238 entropy protocol — per-(user, hour) counts
  // are exact; each addend c·round(log₂c·10⁶) is an exact integer, so
  // Σ is order-independent; H = log₂n − s/(10⁶·n) is ONE identical
  // double expression over exact integers in both engines, micro-
  // rounded once. The band is a truncating div (both engines truncate
  // toward zero, so the ±1-micro wobble of a single-hour user's H ≈ 0
  // lands in band 0 either way).
  //
  // 100 TB shape: one (user, hour) tally (map-side combined — ≤ 24
  // rows per user), a user rollup reusing user-local data, a ≤6-row
  // band rollup. No window, no join.
  // ------------------------------------------------------------------
  def q264CircadianBands(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST((unix_timestamp(ts) div 3600) % 24 AS BIGINT)").as("h"))
      .groupBy(col("user_id"), col("h"))
      .agg(count(lit(1)).as("c"))
    // the addend PRODUCT (not just the sum) folds in DECIMAL: a
    // single bucket's c·round(log₂c·10⁶) passes Long at c ≈ 2.4e11
    // events while the oracle computes it in HUGEINT
    val perUser = hourly.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(DecimalType(38, 0)) *
          round(log2(col("c").cast(DoubleType)) * lit(1000000.0), 0)
            .cast(LongType)).as("s"))
      .select(col("user_id"), col("n"),
        expr("CAST(round((log2(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * 1000000.0)) * 1000000.0, 0) AS BIGINT)")
          .as("h_micro"))
    perUser
      .select(expr("CAST(h_micro div 1000000 AS BIGINT)").as("entropy_band"),
        col("n"), col("h_micro"))
      .groupBy(col("entropy_band"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("n_events"),
        min(col("h_micro")).as("min_h_micro"),
        max(col("h_micro")).as("max_h_micro"))
      .orderBy(col("entropy_band"))
  }

  val q264Sql: String =
    """WITH hourly AS (
      |  SELECT user_id,
      |    (CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600) % 24
      |      AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |pu AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(CAST(c AS HUGEINT) * CAST(round(log2(CAST(c AS DOUBLE))
      |      * 1000000.0, 0) AS BIGINT)) AS s
      |  FROM hourly GROUP BY user_id),
      |hm AS (
      |  SELECT user_id, n,
      |    CAST(round((log2(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) /
      |      (CAST(n AS DOUBLE) * 1000000.0)) * 1000000.0, 0) AS BIGINT)
      |      AS h_micro
      |  FROM pu)
      |SELECT h_micro // 1000000 AS entropy_band,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  MIN(h_micro) AS min_h_micro,
      |  MAX(h_micro) AS max_h_micro
      |FROM hm GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q270: session co-occurrence lift — for each unordered event-type
  // pair, how much more often do the two types share a SESSION than
  // independence predicts? lift = P(a,b) / (P(a)·P(b)) over sessions
  // (q16's 30-minute-gap sessionization convention, verbatim). The
  // association table behind "users who X in a session also Y" —
  // lift ≫ 1e6 ppm marks coupled behaviors, ≪ 1e6 mutually exclusive
  // modes; the behavior-taxonomy audit q98's Markov transitions can't
  // see (transitions are ORDER-local; co-occurrence is session-global).
  //
  // Exactness: session ids are integer running sums over the
  // deterministic (ts, event_id) order; all counts are exact distinct
  // tallies; lift is one DECIMAL-widened product per side and a
  // truncating ppm division.
  //
  // 100 TB shape: one user-partitioned window (the sessionization
  // family's exchange), one distinct (user, session, type) pass, then
  // the pair self-join keys on (user, session) — quadratic only in
  // per-session DISTINCT TYPES, bounded by the event taxonomy (|T|
  // small by construction), never in events. Output is ≤ |T|²/2 rows;
  // the totals ride 1-row/|T|-row broadcasts.
  // ------------------------------------------------------------------
  def q270SessionCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
    // the SHARED 30-min-gap sessionizer (BehaviorQueries.sessionized —
    // q16's convention; one definition so session semantics can't fork)
    val st = BehaviorQueries.sessionized(ev)
      .select(col("user_id"), col("sid").as("session_id"), col("event_type"))
      .distinct()
      .localCheckpoint() // reused: total, per-type tally, both pair sides
    val nSessions = st.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val perType = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = st.alias("a")
      .join(st.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_a"), col("n_b"),
        expr("CAST(CAST(n_both AS DECIMAL(38,0)) * n_sessions * 1000000 " +
          "div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q270Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, ts, event_type FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |lagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    LAG(ts, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC) AS prev_ts
      |  FROM ev),
      |marked AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN prev_ts IS NULL
      |        OR CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
      |         - CAST(FLOOR(epoch(CAST(prev_ts AS TIMESTAMP))) AS BIGINT) > 1800
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM lagged),
      |sess AS (
      |  SELECT user_id, event_type,
      |    SUM(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |st AS (SELECT DISTINCT user_id, session_id, event_type FROM sess),
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
      |  FROM (SELECT DISTINCT user_id, session_id FROM st)),
      |pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM st GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_id = b.session_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT pr.type_a, pr.type_b, pr.n_both, pa.n AS n_a, pb.n AS n_b,
      |  CAST(CAST(pr.n_both AS HUGEINT) * ns.n_sessions * 1000000
      |    // (CAST(pa.n AS HUGEINT) * pb.n) AS BIGINT) AS lift_ppm
      |FROM pr
      |JOIN pt pa ON pa.event_type = pr.type_a
      |JOIN pt pb ON pb.event_type = pr.type_b
      |CROSS JOIN ns
      |ORDER BY type_a, type_b""".stripMargin
}
