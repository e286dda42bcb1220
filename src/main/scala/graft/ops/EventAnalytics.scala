package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Event-analytics operators over the stream table: ordered funnels
  * and retention cohorts — the aggregation shapes product analytics
  * runs at petabyte scale. Both are pure chained groupBy/join plans
  * (each step shuffles only user-level aggregates, never raw events
  * twice) and all outputs are integers or second-truncated
  * timestamps (D4), so they hash-match exactly. */
object EventAnalytics {

  /** Ordered 4-step funnel signup → view → click → purchase: each
    * step's timestamp is the FIRST occurrence strictly after the
    * previous step; reached = number of completed steps. */
  val funnelSteps: QDef = q(
    "funnel_steps",
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         date_trunc('second', CAST(ts AS TIMESTAMP)) AS t
      |  FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE event_type = 'view' AND t > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE event_type = 'click' AND t > t2 GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, min(t) AS t4 FROM e JOIN s3 ON e.user_id = s3.user_id
      |       WHERE event_type = 'purchase' AND t > t3 GROUP BY e.user_id)
      |SELECT s1.user_id AS user_id, t1, t2, t3, t4,
      |  1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN t4 IS NULL THEN 0 ELSE 1 END AS reached
      |FROM s1
      |LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id
      |LEFT JOIN s4 ON s1.user_id = s4.user_id
      |ORDER BY s1.user_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), tsSec(col("ts")).as("t"))
    def step(prev: org.apache.spark.sql.DataFrame, prevT: String,
        evType: String, outT: String) =
      e.filter(col("event_type") === evType)
        .join(prev.select(col("user_id"), col(prevT)), "user_id")
        .filter(col("t") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("t")).as(outT))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val s2 = step(s1, "t1", "view", "t2")
    val s3 = step(s2, "t2", "click", "t3")
    val s4 = step(s3, "t3", "purchase", "t4")
    val reached = lit(1) +
      when(col("t2").isNull, 0).otherwise(1) +
      when(col("t3").isNull, 0).otherwise(1) +
      when(col("t4").isNull, 0).otherwise(1)
    s1.join(s2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .join(s4.select(col("user_id"), col("t4")), Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"), col("t4"),
        reached.as("reached"))
      .orderBy(col("user_id"))
  }

  /** Retention cohorts: users grouped by first-seen day-bucket
    * (7-day cohorts), counted by how many distinct week offsets they
    * came back in. Integer arithmetic throughout. */
  val retentionCohorts: QDef = q(
    "retention_cohorts",
    """WITH e AS (
      |  SELECT user_id,
      |    date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
      |              date_trunc('day', CAST(ts AS TIMESTAMP))) AS day_no
      |  FROM events),
      |first_seen AS (
      |  SELECT user_id, min(day_no) // 7 AS cohort_week FROM e GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT e.user_id, cohort_week,
      |    e.day_no // 7 - cohort_week AS week_offset
      |  FROM e JOIN first_seen ON e.user_id = first_seen.user_id)
      |SELECT cohort_week, week_offset, COUNT(*) AS n_users
      |FROM activity
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""") { (s, d) =>
    val dayNo = datediff(date_trunc("day", col("ts")).cast(DateType),
      lit("2024-01-01").cast(DateType))
    val e = Tables.events(s, d).select(col("user_id"), dayNo.as("day_no"))
    // FLOOR division on both engines: Spark's `div` truncates toward
    // zero but DuckDB's `//` floors toward -inf, which diverges the
    // moment day_no goes negative (an event before the 2024-01-01
    // epoch) — the truncate-vs-floor hazard agg_mode guards too.
    // floor(x/7.0) is exact for |day_no| < 2^52.
    def weekOf(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) / 7).cast(LongType)
    val firstSeen = e.groupBy(col("user_id"))
      .agg(weekOf(min(col("day_no"))).as("cohort_week"))
    val activity = e.join(firstSeen, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (weekOf(col("day_no")) - col("cohort_week")).as("week_offset"))
      .distinct()
    activity.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Time-series gap filling: zero-fill the days inside each user's
    * own [first, last] activity span. The calendar is generated FROM
    * the per-user span table (sequence + explode — a few hundred rows
    * per user, never a global calendar cross join), and every stage
    * is keyed by user_id, so the whole plan shuffles on one key and
    * parallelizes by user at any scale. */
  val timeseriesGapfill: QDef = q(
    "timeseries_gapfill",
    """WITH daily AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
      |cal AS (
      |  SELECT user_id,
      |         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM spans)
      |SELECT c.user_id, c.day, COALESCE(d.n_events, 0) AS n_events
      |FROM cal c LEFT JOIN daily d USING (user_id, day)
      |ORDER BY user_id, day""") { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n_events"))
    val cal = daily
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Batch sessionization (gaps-and-islands): a new session starts
    * when a user's inter-event gap exceeds 30 minutes. One window per
    * user (lag → flag → running sum), then a per-session aggregate —
    * the canonical two-pass shape; every stage shuffles on user_id
    * only, so per-user work is bounded by that user's event count at
    * any corpus size. Timestamps are second-truncated up front (D4)
    * and carried as epoch seconds, so gap arithmetic is exact integer
    * math in both engines. */
  val sessionizeEvents: QDef = q(
    "sessionize_events",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |              date_trunc('second', CAST(ts AS TIMESTAMP))) AS sec,
      |    CAST(value AS DECIMAL(12,2)) AS v
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, sec, v,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |s AS (
      |  SELECT user_id, sec, v,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM m)
      |SELECT user_id, sess_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MIN(sec) AS start_s, MAX(sec) AS end_s,
      |  MAX(sec) - MIN(sec) AS duration_s,
      |  CAST(SUM(v) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        tsSec(col("ts")).cast(LongType).as("sec"),
        money(col("value")).as("v"))
    val flagged = e.select(col("user_id"), col("event_id"), col("sec"), col("v"),
      when(lag(col("sec"), 1).over(w).isNull ||
        col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0).as("new_s"))
    val sess = flagged.select(col("user_id"), col("sec"), col("v"),
      sum(col("new_s")).over(
        Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("sess_id"))
    sess.groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_s"), max(col("sec")).as("end_s"),
        (max(col("sec")) - min(col("sec"))).as("duration_s"),
        outDouble(sum(col("v"))).as("sum_value"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** Robust outlier detection per event type: median and MAD (median
    * absolute deviation) by exact integer-rank selection (the
    * agg_quantiles_exact pattern — the lower median is an actual data
    * value, so no interpolation and no float drift), then count events
    * with |v - med| > 3·MAD. The medians need one total order per
    * event_type; event-type cardinality is tiny and fixed, so the
    * per-group sort parallelizes across types and never grows with
    * corpus size beyond the per-type partition. */
  val anomalyMad: QDef = q(
    "anomaly_mad",
    """WITH r AS (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |med AS (
      |  SELECT event_type, MAX(n) AS n,
      |    MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS med
      |  FROM r GROUP BY event_type),
      |dev AS (
      |  SELECT r.event_type, r.event_id, r.value, med.n, med.med,
      |    abs(r.value - med.med) AS dv
      |  FROM r JOIN med ON r.event_type = med.event_type),
      |dr AS (
      |  SELECT event_type, n, med, dv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY dv, event_id) AS drn
      |  FROM dev),
      |mad AS (
      |  SELECT event_type, MAX(n) AS n, MAX(med) AS med,
      |    MAX(CASE WHEN drn = (n - 1) // 2 + 1 THEN dv END) AS mad
      |  FROM dr GROUP BY event_type)
      |SELECT d.event_type, CAST(MAX(d.n) AS BIGINT) AS n,
      |  MAX(d.med) AS med, MAX(mad.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.dv > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad ON d.event_type = mad.event_type
      |GROUP BY d.event_type
      |ORDER BY d.event_type""") { (s, d) =>
    val wv = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wn = Window.partitionBy(col("event_type"))
    val r = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(wv).as("rn"), count(lit(1)).over(wn).as("n"))
    val med = r.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n - 1) div 2 + 1"), col("value"))).as("med"))
    val dev = r.select(col("event_type"), col("event_id"), col("value"))
      .join(broadcast(med), "event_type")
      .withColumn("dv", abs(col("value") - col("med")))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("dv"), col("event_id"))
    val dr = dev.select(col("event_type"), col("n"), col("med"), col("dv"),
      row_number().over(wd).as("drn"))
    val mad = dr.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(when(col("drn") === expr("(n - 1) div 2 + 1"), col("dv"))).as("mad"))
    dev.select(col("event_type"), col("n"), col("med"), col("dv"))
      .join(broadcast(mad.select(col("event_type"), col("mad"))), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).cast(LongType).as("n"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("dv") > lit(3) * col("mad"), 1).otherwise(0)).cast(LongType)
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Calendar rolling metric: per event type, daily exact-decimal
    * value totals with a trailing-7-day rolling sum via a VALUE-range
    * window frame over the day number (missing days correctly shrink
    * the frame — a ROWS frame would silently span gaps). Aggregation
    * first (events collapse to ~types × days rows), window second over
    * the tiny daily table: the window's per-partition sort is bounded
    * by the calendar, not the corpus. */
  val rolling7dValue: QDef = q(
    "rolling_7d_value",
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '2024-01-01',
      |              CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS day_no,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS v
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day_no,
      |  CAST(v AS DOUBLE) AS day_value,
      |  CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY day_no
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS v7
      |FROM daily
      |ORDER BY event_type, day_no""") { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast(DateType),
          lit("2024-01-01").cast(DateType)).as("day_no"),
        money(col("value")).as("v0"))
      .groupBy(col("event_type"), col("day_no"))
      .agg(sum(col("v0")).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_no"))
      .rangeBetween(-6, Window.currentRow)
    daily.select(col("event_type"), col("day_no"),
      outDouble(col("v")).as("day_value"),
      outDouble(sum(col("v")).over(w)).as("v7"))
      .orderBy(col("event_type"), col("day_no"))
  }

  /** Session-scoped running aggregates — stacked windows: the first
    * window (per user, time order) assigns gaps-and-islands session
    * ids, the second (per user+session) accumulates a running decimal
    * value that RESETS at each session boundary. The composed shape a
    * "spend so far this session" feature needs; both windows hash on
    * user_id first, so the second exchange only refines the first.
    * Graded per event at sf0.01 (exact decimal running sums). */
  val winSessionRunning: QDef = q(
    "win_session_running",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |              date_trunc('second', CAST(ts AS TIMESTAMP))) AS sec,
      |    CAST(value AS DECIMAL(12,2)) AS v
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, sec, v,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |s AS (
      |  SELECT user_id, event_id, sec, v,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM m)
      |SELECT user_id, sess_id, event_id,
      |  CAST(SUM(v) OVER (PARTITION BY user_id, sess_id ORDER BY sec, event_id
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_value
      |FROM s
      |ORDER BY user_id, sess_id, event_id""") { (s, d) =>
    val wTime = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        tsSec(col("ts")).cast(LongType).as("sec"),
        money(col("value")).as("v"))
    val flagged = e.select(col("user_id"), col("event_id"), col("sec"), col("v"),
      when(lag(col("sec"), 1).over(wTime).isNull ||
        col("sec") - lag(col("sec"), 1).over(wTime) > 1800, 1).otherwise(0).as("new_s"))
    val sess = flagged.select(col("user_id"), col("event_id"), col("sec"), col("v"),
      sum(col("new_s")).over(wTime
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("sess_id"))
    val wRun = Window.partitionBy(col("user_id"), col("sess_id"))
      .orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess.select(col("user_id"), col("sess_id"), col("event_id"),
      outDouble(sum(col("v")).over(wRun)).as("run_value"))
      .orderBy(col("user_id"), col("sess_id"), col("event_id"))
  }

  /** Consecutive-sequence pattern match (r11, third session) — the
    * MATCH_RECOGNIZE-lite complement to `funnel_steps`: that key
    * finds view→click→purchase at ANY gap (min-timestamp joins);
    * this one demands the three events be ADJACENT in the user's
    * stream — the strict-sequence semantics of session replay and
    * clickstream pattern mining. Formulation: two LEADs over the
    * user timeline (one window, one exchange), then a row-local
    * predicate — pattern length extends by adding leads, never by
    * self-joining the stream. Ordering is raw µs ts + event_id (D1);
    * output timestamp second-truncated (D4). */
  val patternConsecutive: QDef = q(
    "pattern_consecutive",
    """WITH s AS (
      |  SELECT user_id, event_type, ts,
      |    lead(event_type, 1) OVER w AS e1,
      |    lead(event_type, 2) OVER w AS e2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
      |  date_trunc('second', CAST(min(ts) AS TIMESTAMP)) AS first_match_t
      |FROM s
      |WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
      |GROUP BY user_id
      |ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"),
        lead(col("event_type"), 1).over(w).as("e1"),
        lead(col("event_type"), 2).over(w).as("e2"))
      .filter(col("event_type") === "view" && col("e1") === "click" &&
        col("e2") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"),
        tsSec(min(col("ts"))).as("first_match_t"))
      .orderBy(col("user_id"))
  }

  /** Linear multi-touch attribution (r11, third session) — each
    * purchase splits its value equally across the user's clicks in
    * the preceding 7 days (marketing attribution's linear model;
    * first/last-touch are the as-of keys' shape). The many-to-many
    * purchase×click join is USER-equi (never a time cross join) with
    * the lookback as a row-local µs-epoch predicate — candidate
    * volume is bounded per user, the exact shape `join_interval_
    * overlap` certifies; a skewed power-user key would salt like
    * `join_skew_salted`. Credit is integer floor-division of exact
    * cents with the remainder reported, so allocation sums
    * reconcile to the purchase total by construction. */
  val attributionLinear: QDef = q(
    "attribution_linear",
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts AS pt,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id, ts AS ct
      |  FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT p.purchase_id, p.user_id, p.cents
      |  FROM p JOIN c ON p.user_id = c.user_id
      |  WHERE c.ct <= p.pt AND epoch_us(p.pt) - epoch_us(c.ct) <= 604800000000),
      |n AS (
      |  SELECT purchase_id, user_id, cents, CAST(count(*) AS BIGINT) AS n_touch
      |  FROM m GROUP BY purchase_id, user_id, cents)
      |SELECT purchase_id, user_id, n_touch,
      |  cents // n_touch AS credit_cents,
      |  cents - (cents // n_touch) * n_touch AS remainder_cents
      |FROM n
      |ORDER BY purchase_id""") { (s, d) =>
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pt"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("ct"))
    p.join(c, Seq("user_id"))
      .filter(col("ct") <= col("pt") &&
        unix_micros(col("pt")) - unix_micros(col("ct")) <= 604800000000L)
      .groupBy(col("purchase_id"), col("user_id"), col("cents"))
      .agg(count(lit(1)).as("n_touch"))
      .select(col("purchase_id"), col("user_id"), col("n_touch"),
        expr("cents div n_touch").as("credit_cents"),
        expr("cents - (cents div n_touch) * n_touch").as("remainder_cents"))
      .orderBy(col("purchase_id"))
  }

  /** Daily OHLC downsampling (r11c) — the time-series compaction
    * bars every metrics store runs: per (user, day), the first/last/
    * extreme values plus volume, in exact cents. First/last are
    * derived via two row_numbers over the SAME (user, day) exchange
    * (ascending and descending over the µs+event_id total order) and
    * folded in the group agg — no min_by/max_by tie ambiguity, no
    * packed-ordinal overflow, and the window and agg share one
    * shuffle. Compaction ratio at 100 TB is events→(users×days),
    * the whole point of the operator. */
  val tsOhlcDaily: QDef = q(
    "ts_ohlc_daily",
    """WITH e AS (
      |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    event_id, CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents,
      |    epoch_us(ts) AS us
      |  FROM events),
      |w AS (
      |  SELECT user_id, day, cents,
      |    row_number() OVER (PARTITION BY user_id, day ORDER BY us, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY user_id, day ORDER BY us DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT user_id, day,
      |  CAST(min(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
      |  CAST(max(cents) AS BIGINT) AS high_cents,
      |  CAST(min(cents) AS BIGINT) AS low_cents,
      |  CAST(min(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS volume_cents
      |FROM w GROUP BY user_id, day
      |ORDER BY user_id, day""") { (s, d) =>
    val e = Tables.events(s, d).select(col("user_id"),
      date_trunc("day", col("ts")).cast(DateType).as("day"),
      col("event_id"),
      (qty(col("value")) * 100).cast(LongType).as("cents"),
      unix_micros(col("ts")).as("us"))
    val wAsc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("us"), col("event_id"))
    val wDesc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("us").desc, col("event_id").desc)
    e.select(col("user_id"), col("day"), col("cents"),
        row_number().over(wAsc).as("rn_a"), row_number().over(wDesc).as("rn_d"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(when(col("rn_a") === 1, col("cents"))).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        min(when(col("rn_d") === 1, col("cents"))).as("close_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("volume_cents"))
      .orderBy(col("user_id"), col("day"))
  }

  /** User-journey path mining (r12) — the top-20 most common 3-step
    * event-type sequences across all user streams (the "what do
    * users do next" clickstream report; `pattern_consecutive` tests
    * ONE fixed pattern, this ranks ALL of them). Two LEADs over one
    * (user, ts, event_id) window make the trigram row-local — path
    * extension costs leads, never self-joins — and the count shuffle
    * is bounded by |event_type|³ (≤125 here) regardless of stream
    * length. Global top-20 plans as TakeOrderedAndProject with the
    * path string as tie-break. */
  val pathTrigramTop: QDef = q(
    "path_trigram_top",
    """WITH s AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER w AS e1,
      |    lead(event_type, 2) OVER w AS e2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || e1 || '>' || e2 AS path,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM s WHERE e2 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 20""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"),
        lead(col("event_type"), 1).over(w).as("e1"),
        lead(col("event_type"), 2).over(w).as("e2"))
      .filter(col("e2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e1"), col("e2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** First-order Markov transition matrix (r12) — P(next event type |
    * current) across all user streams, probabilities as exact floor-
    * ppm of the per-from row total. `path_trigram_top` ranks raw
    * sequences; this is the normalized chain model (the input to
    * next-event prediction and to detecting broken funnels by
    * transition-probability drift). One LEAD over the user window
    * makes transitions row-local; the count shuffle is ≤ |types|²
    * (25 here); the per-from marginal joins back as a broadcast. */
  val eventTransitionMatrix: QDef = q(
    "event_transition_matrix",
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |m AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY from_type)
      |SELECT c.from_type, c.to_type, c.n, m.tot,
      |  (c.n * 1000000) // m.tot AS p_ppm
      |FROM c JOIN m ON c.from_type = m.from_type
      |ORDER BY c.from_type, c.to_type""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c = Tables.events(s, d)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val m = c.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
      .withColumnRenamed("from_type", "m_from")
    c.join(broadcast(m), col("from_type") === col("m_from"))
      .select(col("from_type"), col("to_type"), col("n"), col("tot"),
        expr("(n * 1000000) div tot").as("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** A/B experiment readout (r12) — users deterministically split
    * into arms by user_id parity (the hash-bucket assignment every
    * experimentation system uses), per-event-type per-arm counts and
    * exact cents totals, per-event average value in micro-cents, and
    * the B-vs-A lift in SIGN-DECOMPOSED floor ppm (negative lifts
    * never divide a negative numerator — the win_pct_change rule).
    * One conditional aggregate over the fact: arm membership is a
    * row-local projection, the shuffle carries |event_types| rows. */
  val abTestMetrics: QDef = q(
    "ab_test_metrics",
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS arm,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |s AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS cents_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS cents_b
      |  FROM e GROUP BY event_type),
      |m AS (
      |  SELECT event_type, n_a, n_b, cents_a, cents_b,
      |    (cents_a * 1000) // n_a AS avg_a_milli,
      |    (cents_b * 1000) // n_b AS avg_b_milli
      |  FROM s)
      |SELECT event_type, n_a, n_b, cents_a, cents_b, avg_a_milli, avg_b_milli,
      |  CASE WHEN avg_b_milli >= avg_a_milli
      |    THEN ((avg_b_milli - avg_a_milli) * 1000000) // avg_a_milli
      |    ELSE -(((avg_a_milli - avg_b_milli) * 1000000) // avg_a_milli) END
      |    AS lift_ppm
      |FROM m ORDER BY event_type""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), (col("user_id") % 2).as("arm"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy(col("event_type"))
      .agg(
        count_if(col("arm") === 0).as("n_a"),
        count_if(col("arm") === 1).as("n_b"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("cents_a"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("cents_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("cents_a"), col("cents_b"),
        expr("(cents_a * 1000) div n_a").as("avg_a_milli"),
        expr("(cents_b * 1000) div n_b").as("avg_b_milli"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("cents_a"),
        col("cents_b"), col("avg_a_milli"), col("avg_b_milli"),
        when(col("avg_b_milli") >= col("avg_a_milli"),
          expr("((avg_b_milli - avg_a_milli) * 1000000) div avg_a_milli"))
          .otherwise(-expr("((avg_a_milli - avg_b_milli) * 1000000) div avg_a_milli"))
          .as("lift_ppm"))
      .orderBy(col("event_type"))
  }

  /** Session-scoped conversion (r12) — `funnel_steps` measures the
    * whole-user funnel; this scopes it to the 30-minute session (the
    * unit marketing actually optimizes): per session, presence flags
    * for view/click/purchase, conversion = view AND purchase in the
    * SAME session, exact purchase cents. Same gaps-and-islands
    * session ids as `sessionize_events` (both windows share the one
    * user exchange); the report aggregate groups (user, session). */
  val sessionConversion: QDef = q(
    "session_conversion",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |              date_trunc('second', CAST(ts AS TIMESTAMP))) AS sec,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, event_type, sec, cents,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |s AS (
      |  SELECT user_id, event_type, cents,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM m)
      |SELECT user_id, sess_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  bool_or(event_type = 'view') AS saw_view,
      |  bool_or(event_type = 'click') AS saw_click,
      |  bool_or(event_type = 'purchase') AS purchased,
      |  (bool_or(event_type = 'view') AND bool_or(event_type = 'purchase'))
      |    AS converted,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
      |    AS BIGINT) AS purchase_cents
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec(col("ts")).cast(LongType).as("sec"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
    val flagged = e.withColumn("new_s",
      when(lag(col("sec"), 1).over(w).isNull ||
        col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0))
    flagged
      .withColumn("sess_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        bool_or(col("event_type") === "view").as("saw_view"),
        bool_or(col("event_type") === "click").as("saw_click"),
        bool_or(col("event_type") === "purchase").as("purchased"),
        (bool_or(col("event_type") === "view") &&
          bool_or(col("event_type") === "purchase")).as("converted"),
        sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
          .as("purchase_cents"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** Lag-1 autocorrelation of the daily value series (r12) — the
    * seasonality/persistence probe a metrics pipeline computes per
    * series ("is today's volume predicted by yesterday's?"). Two-
    * stage shape: the fact collapses to (series, day) totals first —
    * one hash agg, output cardinality = series × days, NEVER the
    * event count — then lag-pairing is a per-series window over that
    * tiny table and the Pearson machinery is `agg_corr_explicit`'s
    * exact-partial discipline (DECIMAL(38,0) sums of integer cents,
    * doubles only in the final one-shot formula — both engines divide
    * identical operands). At 100 TB the window runs over series-count
    * × ~days rows regardless of input size. */
  val tsAutocorrDaily: QDef = q(
    "ts_autocorr_daily",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY event_type, day),
      |p AS (
      |  SELECT event_type, cents AS x,
      |    lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS y
      |  FROM dtot),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM p WHERE y IS NOT NULL GROUP BY event_type),
      |t AS (
      |  SELECT event_type, n, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
      |    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy,
      |    CAST(sxy AS DOUBLE) AS dxy
      |  FROM s)
      |SELECT event_type, n,
      |  (n * dxy - dx * dy)
      |    / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy)) AS autocorr_lag1
      |FROM t ORDER BY event_type""") { (s, d) =>
    val dtot = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        (qty(col("value")) * 100).cast(LongType).as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).cast(LongType).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val p = dtot
      .select(col("event_type"), col("cents").as("x"),
        lag(col("cents"), 1).over(w).as("y"))
      .filter(col("y").isNotNull)
    val decX = col("x").cast(DecimalType(38, 0))
    val decY = col("y").cast(DecimalType(38, 0))
    val sums = p.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(decX).as("sx"), sum(decY).as("sy"),
        sum(decX * col("x")).as("sxx"), sum(decY * col("y")).as("syy"),
        sum(decX * col("y")).as("sxy"))
    sums.select(col("event_type"), col("n"),
        col("sx").cast(DoubleType).as("dx"), col("sy").cast(DoubleType).as("dy"),
        col("sxx").cast(DoubleType).as("dxx"),
        col("syy").cast(DoubleType).as("dyy"),
        col("sxy").cast(DoubleType).as("dxy"))
      .select(col("event_type"), col("n"),
        ((col("n") * col("dxy") - col("dx") * col("dy"))
          / (sqrt(col("n") * col("dxx") - col("dx") * col("dx"))
            * sqrt(col("n") * col("dyy") - col("dy") * col("dy"))))
          .as("autocorr_lag1"))
      .orderBy(col("event_type"))
  }

  /** Gaps-and-islands activity streaks (r12) — per user: total active
    * days, number of maximal consecutive-day runs, the longest run
    * and its start date (ties → earliest). The classic
    * `day − row_number()` island key makes run membership a row-local
    * computation over the per-user date window: distinct active days
    * collapse the fact first (output = user × active-day cardinality),
    * then two per-user windows and a hash agg — nothing scales with
    * raw event count, and the per-user window key is the same
    * exchange every other per-user operator rides. */
  val winStreaksDaily: QDef = q(
    "win_streaks_daily",
    """WITH ad AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      |  FROM events),
      |g AS (
      |  SELECT user_id, day,
      |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS INT) AS grp
      |  FROM ad),
      |st AS (
      |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
      |    MIN(day) AS start_day
      |  FROM g GROUP BY user_id, grp),
      |m AS (
      |  SELECT user_id, len, start_day,
      |    MAX(len) OVER (PARTITION BY user_id) AS ml
      |  FROM st)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  MIN(CASE WHEN len = ml THEN start_day END) AS longest_start
      |FROM m GROUP BY user_id
      |ORDER BY user_id""") { (s, d) =>
    val ad = Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .distinct()
    val st = ad
      .withColumn("grp", expr("date_sub(day, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY day))"))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    val wMax = Window.partitionBy(col("user_id"))
    st.withColumn("ml", max(col("len")).over(wMax))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast(LongType).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        min(when(col("len") === col("ml"), col("start_day")))
          .as("longest_start"))
      .orderBy(col("user_id"))
  }

  /** Seasonal-naive forecast error (r12c) — the baseline every demand
    * forecaster is graded against: predict each day's total with the
    * value 7 days earlier and report the error profile per series.
    * The lag is a DATE-equi self-join (day = day − 7), NOT a 7-row
    * window lag — gap days would silently shift a row-lag, the date
    * join stays correct on sparse series. Daily totals collapse the
    * fact table first (`ts_autocorr_daily`'s discipline), so the
    * self-join is day-cardinality-sized; at 100 TB both sides reuse
    * the same (type, day) layout the agg produced. All-integer cents
    * outputs; the signed bias total is NOT divided (sign-safe rule —
    * only the non-negative MAE numerator meets floor division). */
  val tsSeasonalNaiveError: QDef = q(
    "ts_seasonal_naive_error",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY event_type, day),
      |p AS (
      |  SELECT a.event_type, a.cents AS actual, b.cents AS forecast
      |  FROM dtot a JOIN dtot b
      |    ON a.event_type = b.event_type AND b.day = a.day - 7)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS abs_err_cents,
      |  CAST(SUM(ABS(actual - forecast)) // COUNT(*) AS BIGINT) AS mae_cents,
      |  CAST(SUM(actual - forecast) AS BIGINT) AS bias_cents
      |FROM p GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val dtot = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        (qty(col("value")) * 100).cast(LongType).as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).cast(LongType).as("cents"))
    val a = dtot.select(col("event_type"), col("day"),
      col("cents").as("actual"))
    val b = dtot.select(col("event_type").as("et_b"),
      col("day").as("day_b"), col("cents").as("forecast"))
    a.join(b, col("event_type") === col("et_b") &&
        col("day_b") === date_sub(col("day"), 7))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("actual") - col("forecast"))).cast(LongType)
          .as("abs_err_cents"),
        expr("CAST(sum(abs(actual - forecast)) div count(*) AS BIGINT)")
          .as("mae_cents"),
        sum(col("actual") - col("forecast")).cast(LongType)
          .as("bias_cents"))
      .orderBy(col("event_type"))
  }

  /** Audience-overlap Jaccard matrix (r12c) — for every event-type
    * pair, how much their user audiences overlap: |A∩B| via a
    * self-join of the DISTINCT (type, user) table on user, sizes via
    * the per-type count broadcast, Jaccard from inclusion-exclusion
    * in integer ppm. The pair join's fanout per user is (#types that
    * user has)² ≤ 25 — bounded by the TYPE vocabulary, not the data,
    * which is what makes the audience matrix computable at any user
    * count (the same reason basket_assoc_rules scales). Pairs with
    * zero intersection don't appear (inner join — the absent-row
    * convention a sparse overlap matrix wants). */
  val audienceOverlapJaccard: QDef = q(
    "audience_overlap_jaccard",
    """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
      |n AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY t),
      |p AS (
      |  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
      |  GROUP BY a.t, b.t)
      |SELECT type_a, type_b, n_both, na.n AS n_a, nb.n AS n_b,
      |  CAST(n_both * 1000000 // (na.n + nb.n - n_both) AS BIGINT)
      |    AS jaccard_ppm
      |FROM p JOIN n na ON na.t = type_a JOIN n nb ON nb.t = type_b
      |ORDER BY type_a, type_b""") { (s, d) =>
    val tu = Tables.events(s, d)
      .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
    val n = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val b = tu.select(col("t").as("tb"), col("u").as("ub"))
    val p = tu.join(b, col("u") === col("ub") && col("t") < col("tb"))
      .groupBy(col("t").as("type_a"), col("tb").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    p.join(broadcast(n.select(col("t").as("ta"), col("n").as("n_a"))),
        col("type_a") === col("ta"))
      .join(broadcast(n.select(col("t").as("tn"), col("n").as("n_b"))),
        col("type_b") === col("tn"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"),
        expr("n_both * 1000000L div (n_a + n_b - n_both)").as("jaccard_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** DAU / trailing-7-day WAU stickiness (r12c) — the
    * product-analytics engagement ratio: for each day, distinct
    * daily actives over distinct weekly actives (users seen in the
    * trailing 7 days), integer ppm. The WAU side avoids a 7-day
    * range JOIN entirely: each (user, day) activity row explodes
    * ROW-LOCALLY into the 7 target days it contributes to, then one
    * distinct + count — shuffles carry (user, day) pairs (bounded by
    * activity, ×7), never a day-range join's replicated probe side.
    * Same inversion that makes rolling windows shuffle-cheap at
    * 100 TB. */
  val eventsDauStickiness: QDef = q(
    "events_dau_stickiness",
    """WITH au AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      |  FROM events),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM au GROUP BY day),
      |x AS (
      |  SELECT DISTINCT user_id, day + CAST(off AS INTEGER) AS tday
      |  FROM au, (SELECT unnest(range(0, 7)) AS off) o),
      |wau AS (SELECT tday AS day, CAST(COUNT(*) AS BIGINT) AS wau
      |  FROM x GROUP BY tday)
      |SELECT d.day, d.dau, w.wau,
      |  CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
      |FROM dau d JOIN wau w ON w.day = d.day
      |ORDER BY d.day""") { (s, d) =>
    val au = Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .distinct()
    val dau = au.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val x = au
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as("tday"))
      .distinct()
    val wau = x.groupBy(col("tday")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("tday") === col("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000L div wau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  /** Cohort revenue / LTV curve (r12c) — `retention_cohorts`' revenue
    * twin: customers grouped by first-order month, revenue accumulated
    * by cohort age in months, with the running LTV per cohort. Month
    * age is integer (year×12+month) arithmetic — no months_between
    * float. The cumulative sum runs over the (cohort, age) AGGREGATE
    * table (rows = cohorts × ages, tiny at any scale), partitioned by
    * cohort — never over raw orders. */
  val cohortRevenueLtv: QDef = q(
    "cohort_revenue_ltv",
    """WITH fo AS (
      |  SELECT o_custkey,
      |    MIN(CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE))
      |      AS cohort
      |  FROM orders GROUP BY o_custkey),
      |o AS (
      |  SELECT f.cohort,
      |    (year(o.o_orderdate) * 12 + month(o.o_orderdate))
      |      - (year(f.cohort) * 12 + month(f.cohort)) AS age_m,
      |    o.o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS v
      |  FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey),
      |a AS (
      |  SELECT cohort, age_m,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
      |    SUM(v) AS rev
      |  FROM o GROUP BY cohort, age_m)
      |SELECT cohort, CAST(age_m AS BIGINT) AS age_months, n_active,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age_m
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
      |FROM a ORDER BY cohort, age_months""") { (s, d) =>
    val fo = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("fk"))
      .agg(min(date_trunc("month", col("o_orderdate")).cast(DateType))
        .as("cohort"))
    val o = Tables.orders(s, d)
      .join(fo, col("fk") === col("o_custkey"))
      .select(col("cohort"),
        ((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          - (year(col("cohort")) * 12 + month(col("cohort")))).as("age_m"),
        col("o_custkey"), money(col("o_totalprice")).as("v"))
    val a = o.groupBy(col("cohort"), col("age_m"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("v")).as("rev"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a.select(col("cohort"), col("age_m").cast(LongType).as("age_months"),
        col("n_active"), outDouble(col("rev")).as("revenue"),
        outDouble(sum(col("rev")).over(w)).as("cum_revenue"))
      .orderBy(col("cohort"), col("age_months"))
  }

  /** Burst detection (r12c) — the rate-limit / bot heuristic: per
    * user, the busiest minute's event count plus activity totals and
    * a burst flag (≥5 events in one minute). Two chained hash aggs —
    * (user, minute) then user — shuffling only per-minute partials;
    * the per-user state is O(active minutes), never raw events
    * twice. */
  val eventsBurstDetection: QDef = q(
    "events_burst_detection",
    """WITH m AS (
      |  SELECT user_id,
      |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id, minute)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
      |  CAST(SUM(c) AS BIGINT) AS n_events,
      |  CAST(MAX(c) AS BIGINT) AS max_per_minute,
      |  CAST(CASE WHEN MAX(c) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS is_burst
      |FROM m GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val m = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("c"))
    m.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_active_minutes"),
        sum(col("c")).cast(LongType).as("n_events"),
        max(col("c")).as("max_per_minute"),
        when(max(col("c")) >= 5, 1L).otherwise(0L).as("is_burst"))
      .orderBy(col("user_id"))
  }

  /** Inter-arrival gap statistics (r12c) — per event type, the
    * distribution of time since the same user's PREVIOUS event (any
    * type): one lag window per user (the sessionize exchange), gaps
    * attributed to the later event's type, integer-µs stats. The
    * min-gap column is the latency floor an event-dedup or
    * rate-limit design reads. */
  val eventsInterarrivalStats: QDef = q(
    "events_interarrival_stats",
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |      AS gap
      |  FROM e)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap_us,
      |  CAST(SUM(gap) // COUNT(*) AS BIGINT) AS avg_gap_us
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val g = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t"))
      .select(col("event_type"), (col("t") - lag(col("t"), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
    g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"),
        expr("CAST(sum(gap) div count(*) AS BIGINT)").as("avg_gap_us"))
      .orderBy(col("event_type"))
  }

  /** Growth accounting (r12c) — the canonical DAU decomposition every
    * growth team ships: per calendar day, active users split into new
    * (first-ever day), retained (also active yesterday) and
    * resurrected (active before, but not yesterday), plus churned
    * (active yesterday, silent today — attributed to the day the
    * silence starts). One distinct (user, day) agg, ONE per-user
    * window delivering both lag and lead, then two day-level
    * aggregates joined on the day key — every shuffle carries user-day
    * rows or day-level partials, never raw events twice. Churn days
    * that fall outside the observed activity-day domain (the day
    * after the corpus ends) drop out by the inner day join, so the
    * output domain is exactly the observed active days on both
    * engines. */
  val eventsGrowthAccounting: QDef = q(
    "events_growth_accounting",
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |c AS (
      |  SELECT user_id, day,
      |    lag(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
      |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM d),
      |act AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
      |    CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(SUM(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(SUM(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM c GROUP BY day),
      |ch AS (
      |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
      |  FROM c WHERE next_day IS NULL OR next_day > day + 1
      |  GROUP BY day + 1)
      |SELECT act.day, n_active, n_new, n_retained, n_resurrected,
      |  CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
      |FROM act LEFT JOIN ch ON act.day = ch.day
      |ORDER BY act.day""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val c = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .select(col("user_id"), col("day"),
        lag(col("day"), 1).over(w).as("prev_day"),
        lead(col("day"), 1).over(w).as("next_day"))
    val act = c.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_day") === date_sub(col("day"), 1), 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("prev_day").isNotNull &&
            col("prev_day") < date_sub(col("day"), 1), 1L)
          .otherwise(0L)).as("n_resurrected"))
    val ch = c
      .filter(col("next_day").isNull ||
        col("next_day") > date_add(col("day"), 1))
      .groupBy(date_add(col("day"), 1).as("day"))
      .agg(count(lit(1)).as("ch_n"))
    act.join(ch, Seq("day"), "left")
      .select(col("day"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        coalesce(col("ch_n"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** Funnel time-to-convert (r12c) — the latency histogram behind
    * every conversion funnel: per user, first signup and first
    * purchase strictly after it (funnel_steps' step semantics), the
    * gap floor-bucketed into hours, reported as a distribution. Gaps
    * are exact integer µs on second-truncated time (D4) and strictly
    * positive, so floor = truncate on both engines. Two user-keyed
    * aggs + one tiny bucket agg — the fact shuffles once per step on
    * user_id, the histogram rows are bounded by the time span. */
  val funnelTimeToConvert: QDef = q(
    "funnel_time_to_convert",
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(date_trunc('second', CAST(ts AS TIMESTAMP))) AS t
      |  FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s4 AS (SELECT e.user_id, min(t) AS t4
      |       FROM e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE event_type = 'purchase' AND t > t1 GROUP BY e.user_id)
      |SELECT CAST((t4 - t1) // 3600000000 AS BIGINT) AS gap_hours,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM s1 JOIN s4 ON s1.user_id = s4.user_id
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(tsSec(col("ts"))).as("t"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val s4 = e.filter(col("event_type") === "purchase")
      .join(s1, "user_id").filter(col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t4"))
    s1.join(s4, "user_id")
      // gaps strictly positive ⇒ div (truncate) = // (floor)
      .select(expr("(t4 - t1) div 3600000000L").cast(LongType)
        .as("gap_hours"))
      .groupBy(col("gap_hours")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("gap_hours"))
  }

  /** Time-decay attribution (r12c) — attribution_linear's
    * recency-weighted sibling: each qualifying click gets weight
    * 2^(6 − age_days) (dyadic half-life of one day over the 7-day
    * window — powers of two so weights are EXACT integers, the
    * win_ewma_dyadic discipline), and the purchase's cents split
    * proportionally by floor division. credited = Σ ⌊cents·wᵢ/W⌋ per
    * purchase plus the undistributed dust — exact integer end to end.
    * Two user-keyed passes (touch match, then weight-sum rejoin);
    * weights attach row-locally. */
  val attributionTimeDecay: QDef = q(
    "attribution_time_decay",
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pt,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_us(ts) AS ct
      |  FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT purchase_id, p.user_id, cents,
      |    CAST(power(2, 6 - (pt - ct) // 86400000000) AS BIGINT) AS w
      |  FROM p JOIN c ON p.user_id = c.user_id
      |  WHERE ct <= pt AND pt - ct < 604800000000),
      |n AS (
      |  SELECT purchase_id, user_id, cents,
      |    CAST(COUNT(*) AS BIGINT) AS n_touch,
      |    CAST(SUM(w) AS BIGINT) AS w_sum
      |  FROM m GROUP BY 1, 2, 3),
      |cr AS (
      |  SELECT m.purchase_id, CAST(SUM(m.cents * m.w // n.w_sum) AS BIGINT)
      |    AS credited
      |  FROM m JOIN n ON m.purchase_id = n.purchase_id
      |  GROUP BY m.purchase_id)
      |SELECT n.purchase_id, user_id, n_touch, w_sum,
      |  credited AS credited_cents,
      |  cents - credited AS dust_cents
      |FROM n JOIN cr ON n.purchase_id = cr.purchase_id
      |ORDER BY n.purchase_id""") { (s, d) =>
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ct"))
    val m = p.join(c, Seq("user_id"))
      .filter(col("ct") <= col("pt") &&
        col("pt") - col("ct") < 604800000000L)
      .select(col("purchase_id"), col("user_id"), col("cents"),
        expr("CAST(shiftleft(1L, CAST(6 - (pt - ct) div 86400000000L AS INT)) AS BIGINT)")
          .as("w"))
    val n = m.groupBy(col("purchase_id"), col("user_id"), col("cents"))
      .agg(count(lit(1)).as("n_touch"), sum(col("w")).cast(LongType).as("w_sum"))
    val cr = m.select(col("purchase_id").as("pid"), col("cents").as("mc"),
        col("w"))
      .join(n.select(col("purchase_id").as("pid2"), col("w_sum")),
        col("pid") === col("pid2"))
      .groupBy(col("pid"))
      .agg(sum(expr("mc * w div w_sum")).cast(LongType).as("credited"))
    n.join(cr, col("purchase_id") === col("pid"))
      .select(col("purchase_id"), col("user_id"), col("n_touch"),
        col("w_sum"), col("credited").as("credited_cents"),
        (col("cents") - col("credited")).as("dust_cents"))
      .orderBy(col("purchase_id"))
  }

  /** Day-of-week × hour activity heatmap (r12c) — the 168-cell load
    * matrix capacity planning reads. Both axes are PURE INTEGER
    * functions of the epoch (dow = (days + 4) % 7 with 0 = Sunday —
    * 1970-01-01 was a Thursday; hour = UTC hour of day), never the
    * engines' calendar functions, whose weekday numbering disagrees
    * (DuckDB 0=Sunday vs Spark 1=Sunday — exactly the cross-engine
    * seam this spelling removes). One fixed-size agg, map-side
    * partials. */
  val eventsHourlyHeatmap: QDef = q(
    "events_hourly_heatmap",
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |SELECT (us // 86400000000 + 4) % 7 AS dow,
      |  (us // 3600000000) % 24 AS hour,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM e GROUP BY 1, 2
      |ORDER BY dow, hour""") { (s, d) =>
    Tables.events(s, d)
      .select(unix_micros(col("ts")).as("us"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy(expr("(us div 86400000000L + 4) % 7").as("dow"),
        expr("(us div 3600000000L) % 24").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).cast(LongType).as("total_cents"))
      .orderBy(col("dow"), col("hour"))
  }

  /** Order-gap survival curve (r12c) — the repurchase-latency read
    * behind churn models: consecutive same-customer order gaps (one
    * customer-keyed lag window over the ORDER table), evaluated at
    * the standard horizon grid {30,60,90,120,180,360} days — for
    * each horizon, how many inter-order gaps exceed it (floor-ppm
    * survival). The gap table builds once; horizons attach by a
    * row-local 6-element explode, so the whole curve costs one
    * window plus one 6-group agg. */
  val tsOrderGapSurvival: QDef = q(
    "ts_order_gap_survival",
    """WITH g AS (
      |  SELECT date_diff('day',
      |      lag(o_orderdate) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate, o_orderkey),
      |      o_orderdate) AS gap_days
      |  FROM orders),
      |gg AS (SELECT gap_days FROM g WHERE gap_days IS NOT NULL),
      |e AS (
      |  SELECT t AS threshold_days, gap_days
      |  FROM gg CROSS JOIN (SELECT unnest([30, 60, 90, 120, 180, 360]) AS t))
      |SELECT CAST(threshold_days AS BIGINT) AS threshold_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(SUM(CASE WHEN gap_days > threshold_days THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_exceeding,
      |  CAST(SUM(CASE WHEN gap_days > threshold_days THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS survival_ppm
      |FROM e GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val g = Tables.orders(s, d)
      .select(datediff(col("o_orderdate"),
        lag(col("o_orderdate"), 1).over(w)).cast(LongType).as("gap_days"))
      .filter(col("gap_days").isNotNull)
    g.select(col("gap_days"),
        explode(array(Seq(30, 60, 90, 120, 180, 360).map(lit): _*))
          .as("threshold_days"))
      .groupBy(col("threshold_days").cast(LongType).as("threshold_days"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(when(col("gap_days") > col("threshold_days"), 1L).otherwise(0L))
          .as("n_exceeding"))
      .select(col("threshold_days"), col("n_gaps"), col("n_exceeding"),
        expr("CAST(n_exceeding * 1000000 div n_gaps AS BIGINT)")
          .as("survival_ppm"))
      .orderBy(col("threshold_days"))
  }

  /** Hampel outlier filter (r12h) — the ROBUST spike detector a
    * metrics pipeline runs where `anomaly_mad` (global MAD) would
    * drown local spikes in a trending series: per event type and
    * day, flag the daily value when it sits more than 3 local MADs
    * from the local median over a ±3-calendar-day window (Hampel
    * 1974; Pearson et al. 2016). EXACT INTEGERS throughout: the
    * window's values collect into a ≤7-element array (RANGE frame on
    * the integer day, so gaps shrink the neighborhood), median and
    * MAD are the LOWER median of the sorted array — element picks,
    * never interpolation — and the flag compares BIGINTs. A zero MAD
    * (constant neighborhood) flags any deviation, the standard
    * degenerate-Hampel convention. Scale posture: one partitioned
    * window over the tiny daily aggregate; the array work is
    * row-local on ≤7 longs — nothing scales with the fact table. */
  val tsHampelOutliers: QDef = q(
    "ts_hampel_outliers",
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '2024-01-01',
      |              CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS day_no,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day_no, y,
      |    list(y) OVER (PARTITION BY event_type ORDER BY day_no
      |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
      |  FROM daily),
      |m AS (
      |  SELECT event_type, day_no, y, arr,
      |    list_sort(arr)[CAST((len(arr) + 1) // 2 AS INTEGER)] AS med
      |  FROM w),
      |md AS (
      |  SELECT event_type, day_no, y, med,
      |    list_sort(list_transform(arr, v -> abs(v - med)))
      |      [CAST((len(arr) + 1) // 2 AS INTEGER)] AS mad
      |  FROM m)
      |SELECT event_type, day_no, y AS day_cents,
      |  med AS med_cents, mad AS mad_cents,
      |  abs(y - med) > 3 * mad AS is_outlier
      |FROM md ORDER BY event_type, day_no""") { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast(DateType),
          lit("2024-01-01").cast(DateType)).as("day_no"),
        money(col("value")).as("v0"))
      .groupBy(col("event_type"), col("day_no"))
      .agg((sum(col("v0")) * 100).cast(LongType).as("y"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("day_no"))
      .rangeBetween(-3, 3)
    daily.withColumn("arr", collect_list(col("y")).over(win))
      .withColumn("med",
        element_at(array_sort(col("arr")), expr("CAST((size(arr) + 1) div 2 AS INT)")))
      .withColumn("mad",
        element_at(array_sort(expr("transform(arr, v -> abs(v - med))")),
          expr("CAST((size(arr) + 1) div 2 AS INT)")))
      .select(col("event_type"), col("day_no"), col("y").as("day_cents"),
        col("med").as("med_cents"), col("mad").as("mad_cents"),
        (abs(col("y") - col("med")) > lit(3) * col("mad")).as("is_outlier"))
      .orderBy(col("event_type"), col("day_no"))
  }

  /** Theil–Sen robust trend (r12i) — the median of all pairwise
    * slopes of each event type's daily series (Theil 1950, Sen 1968):
    * the trend estimate that shrugs off the spikes `ts_hampel_outliers`
    * flags, where the OLS slope (`win_rolling_slope`) chases them.
    * Slopes are QUANTIZED to exact integer micro-cents/day first
    * (sign-safe floor division, the win_pct_change discipline) and
    * the reported statistic is the LOWER median of those integers —
    * a total order, so both engines agree bit-for-bit with no
    * rational-number comparisons. The median comes from a per-type
    * rank computed by a strictly-smaller self-join on the ≤O(days²)
    * pair table (never an unpartitioned window). Scale posture: the
    * pair table grows with the SQUARE of the calendar span — bounded
    * by the month window (≤435 pairs/type), NOT by data volume; the
    * fact table is touched once by the daily agg. */
  val tsTheilSen: QDef = q(
    "ts_theil_sen",
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '2024-01-01',
      |              CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS x,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type,
      |    CAST(CASE WHEN b.y - a.y >= 0
      |      THEN ((b.y - a.y) * 1000000) // (b.x - a.x)
      |      ELSE -(((a.y - b.y) * 1000000) // (b.x - a.x)) END AS BIGINT)
      |      AS slope_micro
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.x > a.x),
      |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM p GROUP BY 1),
      |g AS (SELECT event_type, slope_micro, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM p GROUP BY 1, 2),
      |cum AS (
      |  SELECT a.event_type, a.slope_micro,
      |    CAST(SUM(b.c) AS BIGINT) AS cum, a.c AS own
      |  FROM g a JOIN g b ON b.event_type = a.event_type
      |    AND b.slope_micro <= a.slope_micro
      |  GROUP BY 1, 2, a.c)
      |SELECT n.event_type, n.n_pairs,
      |  CAST(cum.slope_micro AS BIGINT) AS theil_sen_slope_micro
      |FROM n JOIN cum ON cum.event_type = n.event_type
      |WHERE cum.cum - cum.own < (n.n_pairs + 1) // 2
      |  AND (n.n_pairs + 1) // 2 <= cum.cum
      |ORDER BY 1""") { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast(DateType),
          lit("2024-01-01").cast(DateType)).as("x"),
        money(col("value")).as("v0"))
      .groupBy(col("event_type"), col("x"))
      .agg((sum(col("v0")) * 100).cast(LongType).as("y"))
    val a = daily.select(col("event_type"), col("x").as("x1"),
      col("y").as("y1"))
    val b = daily.select(col("event_type").as("et2"), col("x").as("x2"),
      col("y").as("y2"))
    val p = a.join(b, col("event_type") === col("et2") && col("x2") > col("x1"))
      .select(col("event_type"),
        when(col("y2") - col("y1") >= 0,
          expr("CAST(((y2 - y1) * 1000000) div (x2 - x1) AS BIGINT)"))
          .otherwise(
            expr("CAST(-(((y1 - y2) * 1000000) div (x2 - x1)) AS BIGINT)"))
          .as("slope_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = p.groupBy(col("event_type")).agg(count(lit(1)).as("n_pairs"))
    // lower median by value rank over DISTINCT slopes (ties collapse:
    // a slope's rank = #values strictly below it + its own tie count,
    // so the (n+1)/2-th order statistic is the least distinct slope
    // whose cumulative count reaches that position)
    val g = p.groupBy(col("event_type"), col("slope_micro"))
      .agg(count(lit(1)).as("c"))
    val g2 = g.select(col("event_type").as("et3"),
      col("slope_micro").as("s3"), col("c").as("c3"))
    val cum = g.join(g2, col("event_type") === col("et3")
        && col("s3") <= col("slope_micro"))
      .groupBy(col("event_type"), col("slope_micro"))
      .agg(sum(col("c3")).as("cum"), max(col("c")).as("own"))
    n.join(cum, "event_type")
      .filter(col("cum") - col("own") < expr("(n_pairs + 1) div 2")
        && expr("(n_pairs + 1) div 2") <= col("cum"))
      .select(col("event_type"), col("n_pairs"),
        col("slope_micro").as("theil_sen_slope_micro"))
      .orderBy(col("event_type"))
  }

  /** Trading-day seasonality index (r12j) — the day-of-week revenue
    * profile a retail calendar adjustment divides by: per ISO weekday
    * of the order date, order count, exact revenue cents, floor-ppm
    * revenue share, and the trading-day INDEX (share × 7 — 10⁶ =
    * a flat week, above = that weekday over-trades). Pure BIGINT
    * algebra; the weekday seam is the probed fn_date_advanced rule
    * (Spark weekday()+1 ≡ DuckDB isodow, Mon=1..Sun=7). Scale
    * posture: one 7-group fact agg with map-side partials, one-row
    * total broadcast — nothing scales with the table. */
  val tsTradingDayIndex: QDef = q(
    "ts_trading_day_index",
    """WITH o AS (
      |  SELECT CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM o)
      |SELECT iso_dow, n_orders, rev_cents,
      |  CAST(rev_cents * 1000000 // tot AS BIGINT) AS share_ppm,
      |  CAST(rev_cents * 7000000 // tot AS BIGINT) AS trading_index_ppm
      |FROM o CROSS JOIN t ORDER BY iso_dow""") { (s, d) =>
    // persisted: the 7-row dow histogram feeds both the share join
    // and the total — without it the fact table would be scanned twice
    val o = Tables.orders(s, d)
      .groupBy((weekday(col("o_orderdate")) + 1).cast(IntegerType)
        .as("iso_dow"))
      .agg(count(lit(1)).as("n_orders"),
        sum((money(col("o_totalprice")) * 100).cast(LongType)).as("rev_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = o.agg(sum(col("rev_cents")).as("tot"))
    o.crossJoin(broadcast(t))
      .select(col("iso_dow"), col("n_orders"), col("rev_cents"),
        expr("CAST(rev_cents * 1000000 div tot AS BIGINT)").as("share_ppm"),
        expr("CAST(rev_cents * 7000000 div tot AS BIGINT)")
          .as("trading_index_ppm"))
      .orderBy(col("iso_dow"))
  }

  /** Bot-rate heuristics (r12k) — the pre-training traffic screen:
    * per user, event volume, active minutes (distinct minute
    * buckets), the single-minute burst maximum, and the sustained
    * rate in exact milli-events-per-active-minute, with the two
    * standard flags (burst: ≥2 events inside one minute; sustained:
    * rate above 1 event/active-minute). Thresholds sit just inside
    * this fixture's observed range (max burst 2, max rate 1018 milli
    * at sf0.01) so BOTH flag populations are non-degenerate — the
    * screen measures, it doesn't assume humans. Exact integers
    * everywhere. Scale posture: one (user, minute) agg then one user
    * agg — the second exchange only refines the first's hash key;
    * nothing is driver-side. */
  val eventsBotRateFlags: QDef = q(
    "events_bot_rate_flags",
    """WITH m AS (
      |  SELECT user_id, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS mn,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(COUNT(*) AS BIGINT) AS active_minutes,
      |    CAST(MAX(c) AS BIGINT) AS max_per_minute
      |  FROM m GROUP BY 1)
      |SELECT user_id, n_events, active_minutes, max_per_minute,
      |  CAST(n_events * 1000 // active_minutes AS BIGINT) AS rate_milli,
      |  max_per_minute >= 2 AS is_burst,
      |  n_events * 1000 // active_minutes > 1000 AS is_sustained
      |FROM u ORDER BY user_id""") { (s, d) =>
    val m = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("mn"))
      .agg(count(lit(1)).as("c"))
    val u = m.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"), count(lit(1)).as("active_minutes"),
        max(col("c")).as("max_per_minute"))
    u.select(col("user_id"), col("n_events"), col("active_minutes"),
        col("max_per_minute"),
        expr("CAST(n_events * 1000 div active_minutes AS BIGINT)")
          .as("rate_milli"),
        (col("max_per_minute") >= 2).as("is_burst"),
        (expr("n_events * 1000 div active_minutes") > 1000)
          .as("is_sustained"))
      .orderBy(col("user_id"))
  }

  /** Peak session concurrency (r12l) — the capacity number an ops
    * team sizes for: the maximum number of simultaneously-open
    * sessions, computed by the classic +1/−1 interval sweep. Sessions
    * are `sessionize_events`' 30-min-gap islands, closed at
    * last-event + 1800 s; each contributes (+1 at start, −1 at
    * close), per-second nets aggregate first (so an end and a start
    * in the same second cancel — half-open intervals, identical
    * convention in both engines), and the running net is the
    * DISTRIBUTED two-pass prefix over day buckets (the shared
    * `exclusivePrefix` primitive — partitioned windows + broadcast
    * bucket offsets, never an unpartitioned window). Peak = max
    * running net, reported with its earliest second and the session
    * count. Pure BIGINT end to end. Scale posture: shuffles carry
    * session rows then distinct-second nets — both bounded well
    * below raw event volume. */
  val eventsPeakConcurrency: QDef = q(
    "events_peak_concurrency",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |              date_trunc('second', CAST(ts AS TIMESTAMP))) AS sec
      |  FROM events),
      |m AS (
      |  SELECT user_id, sec, event_id,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |s AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM m),
      |iv AS (
      |  SELECT MIN(sec) AS a, MAX(sec) + 1800 AS b
      |  FROM s GROUP BY user_id, sess_id),
      |delta AS (
      |  SELECT a AS sec, CAST(1 AS BIGINT) AS d FROM iv
      |  UNION ALL
      |  SELECT b AS sec, CAST(-1 AS BIGINT) AS d FROM iv),
      |net AS (SELECT sec, CAST(SUM(d) AS BIGINT) AS net
      |  FROM delta GROUP BY 1),
      |run AS (
      |  SELECT sec, CAST(SUM(net) OVER (ORDER BY sec
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
      |  FROM net),
      |pk AS (SELECT CAST(MAX(run) AS BIGINT) AS peak FROM run),
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM iv)
      |SELECT ns.n_sessions, pk.peak AS peak_concurrency,
      |  (SELECT CAST(MIN(sec) AS BIGINT) FROM run, pk WHERE run = peak)
      |    AS at_sec
      |FROM ns, pk""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        tsSec(col("ts")).cast(LongType).as("sec"))
    val flagged = e.select(col("user_id"), col("sec"), col("event_id"),
      when(lag(col("sec"), 1).over(w).isNull ||
        col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0)
        .as("new_s"))
    val sess = flagged.select(col("user_id"), col("sec"),
      sum(col("new_s")).over(
        Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("sess_id"))
    val iv = sess.groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("sec")).as("a"), (max(col("sec")) + 1800).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delta = iv.select(explode(array(
        struct(col("a").as("v"), lit(1L).as("d")),
        struct(col("b").as("v"), lit(-1L).as("d")))).as("x"))
      .select(col("x.v").as("v"), col("x.d").as("d"))
    // r19-opt (guide §5 persist-when-reused): the assembled final
    // plan references `run` three times (pk, the at-second probe, and
    // pk again inside it) and each prefix pass reads `net` twice
    // (within-bucket window + bucket totals) — unpersisted, the
    // session-delta shuffle re-ran up to 6×. Both tables are bounded
    // by distinct session-boundary seconds, far below event volume.
    val net = delta.groupBy(col("v")).agg(sum(col("d")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val run = DriftOps.exclusivePrefix(net, expr("v div 86400"))
      .select(col("v").as("sec"), (col("pre") + col("cnt")).as("run"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pk = run.agg(max(col("run")).as("peak"))
    val at = run.join(broadcast(pk), col("run") === col("peak"))
      .agg(min(col("sec")).as("at_sec"))
    val ns = iv.agg(count(lit(1)).as("n_sessions"))
    ns.crossJoin(broadcast(pk)).crossJoin(broadcast(at))
      .select(col("n_sessions"), col("peak").as("peak_concurrency"),
        col("at_sec"))
  }

  /** Kaplan–Meier hazard table (r12n) — time-to-convert WITH
    * censoring, which `funnel_time_to_convert` (converters only)
    * cannot see: a clicker whose first purchase does not land inside
    * the 7-DAY conversion window is CENSORED — at day 7, or earlier
    * if the observation period ends first — and dropping them biases
    * conversion speed optimistic. (The window is what makes the
    * censored population non-empty in this always-eventually-buying
    * fixture: 1/8/59 censored at the three SFs, probed.) Per
    * day-offset t since first click: the at-risk count (users still
    * unconverted and uncensored entering t), conversions at t,
    * censorings at t, and the discrete hazard d/n in floor-ppm — the
    * product-limit survival curve's exact ingredients (Kaplan &
    * Meier 1958; the curve itself is a running PRODUCT, which no
    * cross-engine float contract survives — the hazard table is the
    * honest exact boundary). At-risk comes from N − exclusive-prefix
    * over the offset axis (the shared bucketed two-pass primitive —
    * never an unpartitioned window). Scale posture: one first-click
    * agg, one conditional first-purchase agg, then everything is
    * per-distinct-offset rows bounded by the observation window, not
    * event volume. */
  val funnelKmHazard: QDef = q(
    "funnel_km_hazard",
    """WITH fc AS (
      |  SELECT user_id,
      |    MIN(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |      date_trunc('second', CAST(ts AS TIMESTAMP)))) AS fc
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |tend AS (
      |  SELECT MAX(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |    date_trunc('second', CAST(ts AS TIMESTAMP)))) AS t_end
      |  FROM events),
      |fp AS (
      |  SELECT e.user_id, MIN(date_diff('second',
      |      TIMESTAMP '1970-01-01 00:00:00',
      |      date_trunc('second', CAST(e.ts AS TIMESTAMP)))) AS fp
      |  FROM events e JOIN fc ON fc.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |      date_trunc('second', CAST(e.ts AS TIMESTAMP))) >= fc.fc
      |    AND date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |      date_trunc('second', CAST(e.ts AS TIMESTAMP)))
      |      < fc.fc + 604800
      |  GROUP BY 1),
      |obs AS (
      |  SELECT fc.user_id,
      |    CASE WHEN fp.fp IS NULL
      |      THEN (SELECT least(7, (t_end - fc) // 86400) FROM tend)
      |      ELSE (fp.fp - fc.fc) // 86400 END AS t,
      |    CASE WHEN fp.fp IS NULL THEN 0 ELSE 1 END AS converted
      |  FROM fc LEFT JOIN fp ON fp.user_id = fc.user_id),
      |g AS (
      |  SELECT t, CAST(SUM(converted) AS BIGINT) AS n_converted,
      |    CAST(SUM(1 - converted) AS BIGINT) AS n_censored,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM obs GROUP BY 1),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM g),
      |r AS (
      |  SELECT t, n_converted, n_censored,
      |    CAST(total - COALESCE(SUM(cnt) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_at_risk
      |  FROM g CROSS JOIN n)
      |SELECT t AS day_offset, n_at_risk, n_converted, n_censored,
      |  CAST(n_converted * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
      |FROM r ORDER BY t""") { (s, d) =>
    val sec = tsSec(col("ts")).cast(LongType)
    val fc = Tables.events(s, d).filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(sec).as("fc"))
    val tend = Tables.events(s, d).agg(max(sec).as("t_end"))
    val fp = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), sec.as("ps"))
      .join(fc, col("pu") === col("user_id"))
      .filter(col("ps") >= col("fc") && col("ps") < col("fc") + 604800L)
      .groupBy(col("pu")).agg(min(col("ps")).as("fp"))
    val obs = fc.join(fp, col("pu") === col("user_id"), "left")
      .crossJoin(broadcast(tend))
      .select(
        when(col("fp").isNull,
          least(lit(7L), expr("(t_end - fc) div 86400")))
          .otherwise(expr("(fp - fc) div 86400")).as("t"),
        when(col("fp").isNull, 0L).otherwise(1L).as("converted"))
    val g = obs.groupBy(col("t").as("v"))
      .agg(sum(col("converted")).as("n_converted"),
        sum(lit(1L) - col("converted")).as("n_censored"),
        count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = g.agg(sum(col("cnt")).as("total"))
    DriftOps.exclusivePrefix(g, expr("v div 7"))
      .crossJoin(broadcast(n))
      .select(col("v").as("day_offset"),
        (col("total") - col("pre")).as("n_at_risk"),
        col("n_converted"), col("n_censored"),
        expr("CAST(n_converted * 1000000 div (total - pre) AS BIGINT)")
          .as("hazard_ppm"))
      .orderBy(col("day_offset"))
  }

  /** SLO error-budget burn (r12p) — the SRE table a service reviews
    * weekly: per day, event volume, 'error' events, the day's error
    * rate in floor-ppm, and the WEEK-to-date budget consumption
    * against a 99%-success SLO (budget_used_ppm = cum_errors·10⁸ //
    * cum_events — the fraction of the 1% allowance burned, > 10⁶ =
    * budget blown). Cumulative windows partition by ISO WEEK — the
    * budget window IS the reset boundary, so no global prefix is
    * needed and per-partition width is calendar-bounded at 7. Pure
    * BIGINT; the weekday/week seams are the probed fn_date_advanced
    * rules. */
  val eventsSloBurnRate: QDef = q(
    "events_slo_burn_rate",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_errors
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT day, n_events, n_errors,
      |    CAST(weekofyear(day) AS INTEGER) AS iso_week,
      |    CAST(SUM(n_events) OVER win AS BIGINT) AS cum_events,
      |    CAST(SUM(n_errors) OVER win AS BIGINT) AS cum_errors
      |  FROM daily
      |  WINDOW win AS (PARTITION BY weekofyear(day) ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT day, iso_week, n_events, n_errors,
      |  CAST(n_errors * 1000000 // n_events AS BIGINT) AS day_err_ppm,
      |  CAST(cum_errors * 100000000 // cum_events AS BIGINT)
      |    AS budget_used_ppm
      |FROM w ORDER BY day""") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
    val win = Window.partitionBy(weekofyear(col("day")))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("day"),
        weekofyear(col("day")).cast(IntegerType).as("iso_week"),
        col("n_events"), col("n_errors"),
        sum(col("n_events")).over(win).as("cum_events"),
        sum(col("n_errors")).over(win).as("cum_errors"))
      .select(col("day"), col("iso_week"), col("n_events"), col("n_errors"),
        expr("CAST(n_errors * 1000000 div n_events AS BIGINT)")
          .as("day_err_ppm"),
        expr("CAST(cum_errors * 100000000 div cum_events AS BIGINT)")
          .as("budget_used_ppm"))
      .orderBy(col("day"))
  }

  /** Point-in-time feature extraction (r12q) — the feature-store
    * primitive that makes training labels LEAKAGE-FREE: for every
    * purchase (the label event), the behavioral features are computed
    * over the STRICTLY-PRECEDING 7 days only — a RANGE frame
    * [−604800 s, −1 s] on the per-user event stream, so nothing at or
    * after the label instant can contaminate the row (the as-of
    * discipline, generalized to windowed aggregates). One
    * user-partitioned window pass emits clicks/views/errors counts
    * and the exact cents sum per label row; conditional sums inside
    * ONE frame, not one join per feature. Scale posture: a single
    * hash exchange on user_id; frame width is time-bounded, so state
    * per key follows the 7-day event density, never history length. */
  val featuresPointInTime: QDef = q(
    "features_point_in_time",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |              date_trunc('second', CAST(ts AS TIMESTAMP))) AS sec,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, event_type, sec,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END)
      |      OVER w, 0) AS BIGINT) AS clicks_7d,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
      |      OVER w, 0) AS BIGINT) AS views_7d,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END)
      |      OVER w, 0) AS BIGINT) AS errors_7d,
      |    CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT) AS cents_7d
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |    RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id AS label_event_id, sec AS label_sec,
      |  clicks_7d, views_7d, errors_7d, cents_7d
      |FROM f WHERE event_type = 'purchase'
      |ORDER BY user_id, label_sec, label_event_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec(col("ts")).cast(LongType).as("sec"),
        (money(col("value")) * 100).cast(LongType).as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-604800L, -1L)
    e.select(col("user_id"), col("event_id"), col("event_type"), col("sec"),
        coalesce(sum(when(col("event_type") === "click", 1L)).over(w), lit(0L))
          .as("clicks_7d"),
        coalesce(sum(when(col("event_type") === "view", 1L)).over(w), lit(0L))
          .as("views_7d"),
        coalesce(sum(when(col("event_type") === "error", 1L)).over(w), lit(0L))
          .as("errors_7d"),
        coalesce(sum(col("cents")).over(w), lit(0L)).as("cents_7d"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("label_event_id"),
        col("sec").as("label_sec"), col("clicks_7d"), col("views_7d"),
        col("errors_7d"), col("cents_7d"))
      .orderBy(col("user_id"), col("label_sec"), col("label_event_id"))
  }

  /** CUPED variance reduction (r12r) — the pre-experiment covariate
    * adjustment every experimentation platform runs (Deng et al.
    * 2013): with X = each user's PRE-period value (first 15 days) and
    * Y = post-period value, θ = cov(X,Y)/var(X), the adjusted metric
    * Y − θ(X − X̄) keeps the same mean but sheds the variance X
    * explains (exactly 1 − ρ² of it). FLOAT DISCIPLINE: no adjusted
    * value is ever aggregated — per-arm adjusted means and the
    * adjusted variance come ALGEBRAICALLY from exact DECIMAL(38)
    * moment sums (var(Y−θ(X−X̄)) = varY − 2θcov + θ²varX), so the
    * only doubles are one identically-spelled tree per output. Arms
    * by the ab_test_metrics user_id-parity rule. Scale posture: one
    * user-level conditional agg, one global + two per-arm moment
    * folds over it. */
  val abCupedAdjustment: QDef = q(
    "ab_cuped_adjustment",
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
      |    CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01',
      |        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) < 15
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01',
      |        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) >= 15
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM u),
      |t AS (
      |  SELECT n, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
      |    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy,
      |    CAST(sxy AS DOUBLE) AS dxy
      |  FROM g),
      |th AS (
      |  SELECT n, dx, dy,
      |    (n * dxy - dx * dy) / (n * dxx - dx * dx) AS theta,
      |    (n * dyy - dy * dy) AS vy_n2,
      |    (n * dxy - dx * dy) AS cv_n2,
      |    (n * dxx - dx * dx) AS vx_n2
      |  FROM t),
      |a AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(x) AS BIGINT) AS ax, CAST(SUM(y) AS BIGINT) AS ay
      |  FROM u GROUP BY 1)
      |SELECT a.arm, a.n_users,
      |  CAST(a.ay * 1000 // a.n_users AS BIGINT) AS mean_y_milli,
      |  CAST(a.ax * 1000 // a.n_users AS BIGINT) AS mean_x_milli,
      |  CAST(a.ay AS DOUBLE) / a.n_users
      |    - theta * (CAST(a.ax AS DOUBLE) / a.n_users - dx / n)
      |    AS mean_y_adjusted,
      |  theta,
      |  CAST(floor((1 - (vy_n2 - 2 * theta * cv_n2 + theta * theta * vx_n2)
      |    / vy_n2) * 1000000 + 0.5) AS BIGINT) AS var_reduction_ppm
      |FROM a CROSS JOIN th ORDER BY a.arm""") { (s, d) =>
    val dayNo = datediff(date_trunc("day", col("ts")).cast(DateType),
      lit("2024-01-01").cast(DateType))
    val cents = (money(col("value")) * 100).cast(LongType)
    val u = Tables.events(s, d)
      .groupBy(col("user_id"), (col("user_id") % 2).cast(IntegerType).as("arm"))
      .agg(sum(when(dayNo < 15, cents).otherwise(0L)).as("x"),
        sum(when(dayNo >= 15, cents).otherwise(0L)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val decX = col("x").cast(DecimalType(38, 0))
    val decY = col("y").cast(DecimalType(38, 0))
    val t = u.agg(count(lit(1)).as("n"),
        sum(decX).as("sx"), sum(decY).as("sy"),
        sum(decX * col("x")).as("sxx"), sum(decY * col("y")).as("syy"),
        sum(decX * col("y")).as("sxy"))
      .select(col("n"),
        col("sx").cast(DoubleType).as("dx"),
        col("sy").cast(DoubleType).as("dy"),
        col("sxx").cast(DoubleType).as("dxx"),
        col("syy").cast(DoubleType).as("dyy"),
        col("sxy").cast(DoubleType).as("dxy"))
    val th = t.select(col("n"), col("dx"), col("dy"),
      ((col("n") * col("dxy") - col("dx") * col("dy"))
        / (col("n") * col("dxx") - col("dx") * col("dx"))).as("theta"),
      (col("n") * col("dyy") - col("dy") * col("dy")).as("vy_n2"),
      (col("n") * col("dxy") - col("dx") * col("dy")).as("cv_n2"),
      (col("n") * col("dxx") - col("dx") * col("dx")).as("vx_n2"))
    val a = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("ax"), sum(col("y")).as("ay"))
    a.crossJoin(broadcast(th))
      .select(col("arm"), col("n_users"),
        expr("CAST(ay * 1000 div n_users AS BIGINT)").as("mean_y_milli"),
        expr("CAST(ax * 1000 div n_users AS BIGINT)").as("mean_x_milli"),
        (col("ay").cast(DoubleType) / col("n_users")
          - col("theta") * (col("ax").cast(DoubleType) / col("n_users")
            - col("dx") / col("n"))).as("mean_y_adjusted"),
        col("theta"),
        floor((lit(1) - (col("vy_n2") - lit(2) * col("theta") * col("cv_n2")
          + col("theta") * col("theta") * col("vx_n2")) / col("vy_n2"))
          * 1000000 + 0.5).cast(LongType).as("var_reduction_ppm"))
      .orderBy(col("arm"))
  }

  /** Shared classical-decomposition core (r16 extraction — the
    * kmvSample pattern): the m/cum/tr/se CTE chain of
    * `ts_decompose_additive`, also consumed by
    * `ts_seasonal_strength` so the two keys cannot drift. One
    * text, one Spark builder ([[decomposeMonthly]]). */
  private[ops] val decomposeCtes: String =
    """m AS (
      |  SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
      |      AS t,
      |    CAST(year(o_orderdate) AS INTEGER) AS yr,
      |    CAST(month(o_orderdate) AS INTEGER) AS mo,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT t, yr, mo, rev,
      |    CAST(COALESCE(SUM(rev) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS pre
      |  FROM m),
      |tr AS (
      |  SELECT a.t, a.yr, a.mo, a.rev,
      |    CAST((hi.pre + hi.rev - lo.pre) // 13 AS BIGINT) AS trend
      |  FROM cum a
      |  LEFT JOIN cum hi ON hi.t = a.t + 6
      |  LEFT JOIN cum lo ON lo.t = a.t - 6),
      |se AS (
      |  SELECT mo,
      |    CAST(CASE WHEN SUM(rev - trend) >= 0
      |      THEN SUM(rev - trend) // COUNT(*)
      |      ELSE -((-SUM(rev - trend)) // COUNT(*)) END AS BIGINT)
      |      AS seasonal
      |  FROM tr WHERE trend IS NOT NULL GROUP BY mo)"""

  /** Spark twin of [[decomposeCtes]]: per-month rows (t, yr, mo, rev,
    * trend, seasonal) — trend NULL at the 6-month edges, seasonal the
    * calendar-month constant (consumers decide how to NULL it on edge
    * rows). cum and tr are persisted exactly as the graded key always
    * did. */
  private[ops] def decomposeMonthly(s: SparkSession, d: String): DataFrame = {
    val m = Tables.orders(s, d)
      .groupBy(((year(col("o_orderdate")) - 1995) * 12
          + month(col("o_orderdate")) - 1).as("v"),
        year(col("o_orderdate")).cast(IntegerType).as("yr"),
        month(col("o_orderdate")).cast(IntegerType).as("mo"))
      .agg(sum((money(col("o_totalprice")) * 100).cast(LongType)).as("cnt"))
    val cum = DriftOps.exclusivePrefix(m, expr("v div 12"))
      .select(col("v").as("t"), col("yr"), col("mo"),
        col("cnt").as("rev"), col("pre"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hi = cum.select(col("t").as("ht"), (col("pre") + col("rev")).as("hc"))
    val lo = cum.select(col("t").as("lt"), col("pre").as("lc"))
    val tr = cum
      .join(broadcast(hi), col("ht") === col("t") + 6, "left")
      .join(broadcast(lo), col("lt") === col("t") - 6, "left")
      .select(col("t"), col("yr"), col("mo"), col("rev"),
        expr("CAST((hc - lc) div 13 AS BIGINT)").as("trend"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val se = tr.filter(col("trend").isNotNull)
      .groupBy(col("mo").as("smo"))
      .agg(sum(col("rev") - col("trend")).as("sdt"),
        count(lit(1)).as("c"))
      .select(col("smo"),
        when(col("sdt") >= 0, expr("CAST(sdt div c AS BIGINT)"))
          .otherwise(expr("CAST(-((-sdt) div c) AS BIGINT)"))
          .as("seasonal"))
    tr.join(broadcast(se), col("smo") === col("mo"), "left")
      .select(col("t"), col("yr"), col("mo"), col("rev"), col("trend"),
        col("seasonal"))
  }

  /** Additive seasonal decomposition (r12s) — revenue(t) = trend +
    * seasonal + residual over the order book's monthly series, the
    * classical-decomposition shape (the moving-average step of STL
    * without loess): trend = centered 13-month MA computed from
    * CUMULATIVE sums ((cumIncl(t+6) − cumExcl(t−6)) div 13 — two
    * broadcast shifted self-joins against the ≤84-row month table,
    * with NULL at the 6-month edges where the window is incomplete);
    * seasonal = the calendar month's mean detrended value
    * (sign-decomposed floor division — rev−trend goes negative);
    * residual = the exact remainder. The cumulative sums come from
    * the shared bucketed two-pass prefix (year buckets) — never an
    * unpartitioned window; everything after the one fact agg is
    * ≤84-row broadcast algebra. The m/cum/tr/se chain is the shared
    * [[decomposeCtes]]/[[decomposeMonthly]] core (r16), also feeding
    * `ts_seasonal_strength`. */
  val tsDecomposeAdditive: QDef = q(
    "ts_decompose_additive",
    s"""WITH $decomposeCtes
      |SELECT tr.yr, tr.mo, tr.rev AS rev_cents, tr.trend AS trend_cents,
      |  CAST(CASE WHEN tr.trend IS NULL THEN NULL ELSE se.seasonal END
      |    AS BIGINT) AS seasonal_cents,
      |  CAST(tr.rev - tr.trend - se.seasonal AS BIGINT) AS residual_cents
      |FROM tr LEFT JOIN se ON se.mo = tr.mo
      |ORDER BY tr.yr, tr.mo""") { (s, d) =>
    decomposeMonthly(s, d)
      .select(col("yr"), col("mo"), col("rev").as("rev_cents"),
        col("trend").as("trend_cents"),
        when(col("trend").isNull, lit(null).cast(LongType))
          .otherwise(col("seasonal")).as("seasonal_cents"),
        (col("rev") - col("trend") - col("seasonal")).as("residual_cents"))
      .orderBy(col("yr"), col("mo"))
  }

  /** Daily bounce rate (r13) — sessions (30-minute gap islands, the
    * `stream_custom_sessions` definition) that contain exactly ONE
    * event, per session-start day: the engagement-quality monitor a
    * funnel dashboard pairs with DAU. User-partitioned windows only
    * (per-user event cardinality bounds the state); days join back
    * over a tiny per-day table. Ties inside a user's stream order by
    * (ts, event_id) in both engines. */
  val eventsBounceRate: QDef = q(
    "events_bounce_rate",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_sec
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |              IS NULL THEN 1
      |         WHEN date_diff('second',
      |              lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id),
      |              ts_sec) >= 1800 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM e),
      |ids AS (
      |  SELECT user_id, ts_sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sid, MIN(ts_sec) AS session_start,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM ids GROUP BY user_id, sid)
      |SELECT CAST(date_trunc('day', session_start) AS DATE) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
      |  (CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(COUNT(*) AS BIGINT) AS bounce_ppm
      |FROM sess GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"), col("event_id"))
    val flagged = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_sec"))
      .withColumn("new_session",
        when(lag(col("ts_sec"), 1).over(wOrd).isNull, 1L)
          .when(unix_timestamp(col("ts_sec"))
            - unix_timestamp(lag(col("ts_sec"), 1).over(wOrd)) >= 1800, 1L)
          .otherwise(0L))
    val sess = flagged
      .withColumn("sid", sum(col("new_session"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_sec")).as("session_start"), count(lit(1)).as("n_events"))
    sess.groupBy(date_trunc("day", col("session_start")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        count_if(col("n_events") === 1).as("n_bounce"))
      .select(col("day"), col("n_sessions"), col("n_bounce"),
        expr("(n_bounce * 1000000) div n_sessions").as("bounce_ppm"))
      .orderBy(col("day"))
  }

  /** Weekly retention triangle (r13) — the cohort × age activity
    * matrix growth teams read: users grouped by first-active EPOCH
    * WEEK (floor(epoch_days/7) — a pure integer both engines compute
    * identically, dodging week-of-year calendar seams), with each
    * later week's active share of the cohort in floor-ppm. Two
    * user-keyed aggs and one user-keyed join — the standard retention
    * shape; nothing scales past user cardinality. */
  val cohortRetentionTriangle: QDef = q(
    "cohort_retention_triangle",
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 // 7 AS wk
      |  FROM events),
      |first AS (
      |  SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users
      |  FROM first GROUP BY cohort_wk),
      |active AS (
      |  SELECT f.cohort_wk, e.wk - f.cohort_wk AS age_weeks,
      |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
      |  FROM e JOIN first f ON e.user_id = f.user_id
      |  GROUP BY f.cohort_wk, e.wk - f.cohort_wk)
      |SELECT a.cohort_wk, a.age_weeks, s.cohort_users, a.n_active,
      |  (a.n_active * 1000000) // s.cohort_users AS retention_ppm
      |FROM active a JOIN sizes s ON a.cohort_wk = s.cohort_wk
      |ORDER BY a.cohort_wk, a.age_weeks""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000L div 7").as("wk"))
    val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = first.groupBy(col("cohort_wk").as("s_wk"))
      .agg(count(lit(1)).as("cohort_users"))
    val active = e.join(first, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    active.join(broadcast(sizes), col("cohort_wk") === col("s_wk"))
      .select(col("cohort_wk"), col("age_weeks"), col("cohort_users"),
        col("n_active"),
        expr("(n_active * 1000000) div cohort_users").as("retention_ppm"))
      .orderBy(col("cohort_wk"), col("age_weeks"))
  }

  /** Alert-storm suppression report (r14g) — the monitoring dedup
    * every pager pipeline runs: high-value events (value > 150 ≈ the
    * fixture's top ~5%) collapse per event type into STORMS via
    * 10-minute gap islands in exact µs (the `sessionize_events`
    * gaps-and-islands shape on the alert sub-stream), and the report
    * says how many pages suppression saves: alerts, storms, worst
    * storm length, suppression rate in floor-ppm. Type-partitioned
    * windows only (5 types — at higher alert cardinality the
    * partition key stays the type+day composite, the standard
    * storm-window shard). */
  val eventsAlertStormSuppression: QDef = q(
    "events_alert_storm_suppression",
    """WITH a AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |  FROM events WHERE value > 150),
      |g AS (
      |  SELECT event_type, t, event_id,
      |    CASE WHEN t - lag(t) OVER (PARTITION BY event_type
      |      ORDER BY t, event_id) > 600000000 OR
      |      lag(t) OVER (PARTITION BY event_type
      |      ORDER BY t, event_id) IS NULL THEN 1 ELSE 0 END AS new_storm
      |  FROM a),
      |st AS (
      |  SELECT event_type,
      |    SUM(new_storm) OVER (PARTITION BY event_type ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS storm_id
      |  FROM g),
      |sz AS (
      |  SELECT event_type, storm_id, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM st GROUP BY event_type, storm_id)
      |SELECT event_type, CAST(SUM(len) AS BIGINT) AS n_alerts,
      |  CAST(COUNT(*) AS BIGINT) AS n_storms,
      |  CAST(MAX(len) AS BIGINT) AS max_storm_len,
      |  CAST(((SUM(len) - COUNT(*)) * 1000000) // SUM(len) AS BIGINT)
      |    AS suppression_ppm
      |FROM sz GROUP BY event_type
      |ORDER BY event_type""") { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("t"), col("event_id"))
    // tie-deterministic running sum: ORDER BY (t, event_id) in BOTH
    // engines — with t-only ordering, same-µs alerts could land in
    // different storms per physical row order
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("t"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val a = Tables.events(s, d)
      .filter(col("value") > 150)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("t"))
    val g = a.select(col("event_type"), col("t"), col("event_id"),
      when(lag(col("t"), 1).over(w).isNull ||
        col("t") - lag(col("t"), 1).over(w) > 600000000L, 1L)
        .otherwise(0L).as("new_storm"))
    val sz = g.select(col("event_type"),
        sum(col("new_storm")).over(wRun).as("storm_id"))
      .groupBy(col("event_type"), col("storm_id"))
      .agg(count(lit(1)).as("len"))
    sz.groupBy(col("event_type"))
      .agg(sum(col("len")).as("n_alerts"), count(lit(1)).as("n_storms"),
        max(col("len")).as("max_storm_len"))
      .select(col("event_type"), col("n_alerts"), col("n_storms"),
        col("max_storm_len"),
        expr("((n_alerts - n_storms) * 1000000) div n_alerts")
          .as("suppression_ppm"))
      .orderBy(col("event_type"))
  }

  /** Sample-ratio-mismatch check (r15) — the first audit any A/B
    * readout runs: did the 50/50 randomization actually deliver
    * 50/50 units? Units are distinct event users; the variant is the
    * house md5-parity split (first hex digit ≤ '7' → A — exactly
    * 8/16 of hash space). χ² for the two-cell 50/50 test reduces to
    * (2a−n)²/n — graded in exact floor-micro units with the standard
    * 3.841459 (df=1, α=.05) threshold flag. n²·10⁶ stays far inside
    * int64 at any realistic unit count (10⁶ units → 10¹⁸); beyond
    * that the spelling swaps to the DECIMAL(38) fold like the stats
    * family. One distinct + one two-row agg. */
  val abSrmCheck: QDef = q(
    "ab_srm_check",
    """WITH u AS (
      |  SELECT DISTINCT user_id,
      |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
      |      THEN 'A' ELSE 'B' END AS variant
      |  FROM events),
      |c AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM u)
      |SELECT v.variant,
      |  CASE WHEN v.variant = 'A' THEN a ELSE n - a END AS n_units,
      |  n AS n_total,
      |  CAST((2 * a - n) * (2 * a - n) * 1000000 // n AS BIGINT)
      |    AS chi2_micro,
      |  (2 * a - n) * (2 * a - n) * 1000000 // n > 3841459 AS srm_flag
      |FROM c CROSS JOIN (SELECT 'A' AS variant UNION ALL SELECT 'B') v
      |ORDER BY v.variant""") { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("user_id")).distinct()
      .select(when(substring(md5(col("user_id").cast(StringType)), 1, 1) <= "7",
        "A").otherwise("B").as("variant"))
    val c = u.agg(
      count_if(col("variant") === "A").as("a"),
      count(lit(1)).as("n"))
    val vs = s.range(1).select(lit("A").as("variant"))
      .unionAll(s.range(1).select(lit("B").as("variant")))
    c.crossJoin(broadcast(vs))
      .select(col("variant"),
        when(col("variant") === "A", col("a"))
          .otherwise(col("n") - col("a")).as("n_units"),
        col("n").as("n_total"),
        expr("CAST((2*a - n) * (2*a - n) * 1000000 div n AS BIGINT)")
          .as("chi2_micro"),
        (expr("(2*a - n) * (2*a - n) * 1000000 div n") > 3841459L)
          .as("srm_flag"))
      .orderBy(col("variant"))
  }

  /** Session-gap sensitivity sweep (r15) — the tuning table behind
    * `sessionize_events`' fixed 30-minute gap: session counts at gap
    * = 10/30/60 minutes from ONE user-partitioned lag+lead pass (a
    * session STARTS where the backward gap exceeds g; it is
    * single-event where the forward gap does too), swept via a
    * broadcast 3-row threshold table — the `corpus_dedup_impact_
    * curve` shape applied to sessionization. Events-per-session in
    * floor-milli. One window exchange total; the sweep multiplies
    * rows only inside the final group-sized agg. */
  val eventsSessionGapSweep: QDef = q(
    "events_session_gap_sweep",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |      AS dtp,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
      |      AS dtn
      |  FROM e),
      |gaps AS (SELECT * FROM (VALUES (600), (1800), (3600)) AS t(gap_s))
      |SELECT CAST(gap_s AS BIGINT) AS gap_s,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN dtp IS NULL OR dtp > CAST(gap_s AS BIGINT) * 1000000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN (dtp IS NULL OR dtp > CAST(gap_s AS BIGINT) * 1000000)
      |    AND (dtn IS NULL OR dtn > CAST(gap_s AS BIGINT) * 1000000)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_single_event,
      |  CAST(COUNT(*) * 1000 // SUM(CASE WHEN dtp IS NULL
      |    OR dtp > CAST(gap_s AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS events_per_session_milli
      |FROM g CROSS JOIN gaps
      |GROUP BY gap_s ORDER BY gap_s""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val g = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
      .select(col("user_id"),
        (col("t") - lag(col("t"), 1).over(w)).as("dtp"),
        (lead(col("t"), 1).over(w) - col("t")).as("dtn"))
    g.crossJoin(broadcast(PrivacyOps.intTable(s, "gap_s", Seq(600, 1800, 3600))))
      .groupBy(col("gap_s"))
      .agg(count(lit(1)).as("n_events"),
        count_if(col("dtp").isNull || col("dtp") > col("gap_s") * 1000000L)
          .as("n_sessions"),
        count_if((col("dtp").isNull || col("dtp") > col("gap_s") * 1000000L)
            && (col("dtn").isNull || col("dtn") > col("gap_s") * 1000000L))
          .as("n_single_event"))
      .select(col("gap_s").cast(LongType).as("gap_s"), col("n_events"),
        col("n_sessions"), col("n_single_event"),
        expr("CAST(n_events * 1000 div n_sessions AS BIGINT)")
          .as("events_per_session_milli"))
      .orderBy(col("gap_s"))
  }

  /** Experiment power analysis (r16) — the design-time companion to
    * `stats_welch_t`/`ab_test_metrics`: per event type, the per-arm
    * sample size a 50/50 A/B test needs to detect a 5% lift of the
    * observed mean at alpha = 0.05 (two-sided) and power = 0.80. The
    * classic n = 2·(z_a + z_b)²·sigma²/delta² with (z_a + z_b)² as the
    * integer micro constant 7848879 ((1.959964 + 0.841621)²·1e6 — a
    * DOCUMENTED literal, the same convention as ab_srm_check's
    * 3.841459), variance from exact sums (per-row square in
    * DECIMAL(38)/HUGEINT), delta in floor-micro cents, and the
    * ceiling spelled (a + b − 1) // b on nonnegative operands. One
    * group agg, row-local math. */
  val abPowerSampleSize: QDef = q(
    "ab_power_sample_size",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      |  FROM events),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM e GROUP BY event_type),
      |m AS (
      |  SELECT event_type, n,
      |    CAST(s * 1000000 // n AS BIGINT) AS mean_micro,
      |    CASE WHEN n <= 1 THEN NULL ELSE
      |      CAST((CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) * 1000000
      |      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) END AS var_micro
      |  FROM g),
      |d AS (SELECT *, CAST(mean_micro // 20 AS BIGINT) AS delta_micro FROM m)
      |SELECT event_type, n, mean_micro, var_micro, delta_micro,
      |  CASE WHEN delta_micro = 0 THEN NULL ELSE
      |    CAST((2 * 7848879 * CAST(var_micro AS HUGEINT)
      |      + CAST(delta_micro AS HUGEINT) * delta_micro - 1)
      |    // (CAST(delta_micro AS HUGEINT) * delta_micro) AS BIGINT) END
      |    AS n_required
      |FROM d ORDER BY event_type""") { (s, d) =>
    val g = Tables.events(s, d)
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
    g.select(col("event_type"), col("n"),
        expr("CAST(s * 1000000 div n AS BIGINT)").as("mean_micro"),
        expr("CASE WHEN n <= 1 THEN NULL ELSE"
          + " CAST((CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0))"
          + " * s) * 1000000 div (CAST(n AS DECIMAL(38,0)) * (n - 1))"
          + " AS BIGINT) END").as("var_micro"))
      .withColumn("delta_micro", expr("CAST(mean_micro div 20 AS BIGINT)"))
      .select(col("event_type"), col("n"), col("mean_micro"),
        col("var_micro"), col("delta_micro"),
        expr("CASE WHEN delta_micro = 0 THEN NULL ELSE"
          + " CAST((2 * 7848879 * CAST(var_micro AS DECIMAL(38,0))"
          + " + CAST(delta_micro AS DECIMAL(38,0)) * delta_micro - 1)"
          + " div (CAST(delta_micro AS DECIMAL(38,0)) * delta_micro)"
          + " AS BIGINT) END").as("n_required"))
      .orderBy(col("event_type"))
  }

  /** Markov stationary distribution (r16) — the chain-level readout
    * over `event_transition_matrix`'s row-stochastic floor-ppm matrix:
    * three unrolled integer power-iteration rounds from the uniform
    * start (1e6 // k ppm), each round one broadcast join of the
    * ≤k²-row matrix against the k-row vector (the `graph_pagerank`
    * fixed-iteration discipline — no driver-side convergence probe,
    * no float accumulation). Output shows the convergence path
    * (pi0..pi3) per event type; flooring leaks ≤1 ppm per cell per
    * round, deterministically in both engines. The matrix build is
    * the one user-partitioned lead window; everything after is
    * k-sized. */
  val eventsMarkovStationary: QDef = q(
    "events_markov_stationary",
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |m AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
      |  FROM c GROUP BY from_type),
      |p AS MATERIALIZED (
      |  SELECT c.from_type, c.to_type, (c.n * 1000000) // m.tot AS p_ppm
      |  FROM c JOIN m ON c.from_type = m.from_type),
      |t0 AS (SELECT DISTINCT event_type AS ty FROM events),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM t0),
      |pi0 AS (SELECT ty, CAST(1000000 // nk AS BIGINT) AS pi
      |  FROM t0 CROSS JOIN k),
      |pi1 AS MATERIALIZED (
      |  SELECT p.to_type AS ty, CAST(SUM(pi * p_ppm) // 1000000 AS BIGINT)
      |    AS pi
      |  FROM p JOIN pi0 ON pi0.ty = p.from_type GROUP BY p.to_type),
      |pi2 AS MATERIALIZED (
      |  SELECT p.to_type AS ty, CAST(SUM(pi * p_ppm) // 1000000 AS BIGINT)
      |    AS pi
      |  FROM p JOIN pi1 ON pi1.ty = p.from_type GROUP BY p.to_type),
      |pi3 AS (
      |  SELECT p.to_type AS ty, CAST(SUM(pi * p_ppm) // 1000000 AS BIGINT)
      |    AS pi
      |  FROM p JOIN pi2 ON pi2.ty = p.from_type GROUP BY p.to_type)
      |SELECT t0.ty AS event_type, pi0.pi AS pi0_ppm,
      |  COALESCE(pi1.pi, 0) AS pi1_ppm, COALESCE(pi2.pi, 0) AS pi2_ppm,
      |  COALESCE(pi3.pi, 0) AS pi3_ppm
      |FROM t0 JOIN pi0 ON pi0.ty = t0.ty
      |LEFT JOIN pi1 ON pi1.ty = t0.ty
      |LEFT JOIN pi2 ON pi2.ty = t0.ty
      |LEFT JOIN pi3 ON pi3.ty = t0.ty
      |ORDER BY event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val c = Tables.events(s, d)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val m = c.groupBy(col("from_type").as("m_from"))
      .agg(sum(col("n")).as("tot"))
    val p = c.join(broadcast(m), col("from_type") === col("m_from"))
      .select(col("from_type"), col("to_type"),
        expr("(n * 1000000) div tot").as("p_ppm"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val t0 = Tables.events(s, d).select(col("event_type").as("ty"))
      .distinct()
    val k = t0.agg(count(lit(1)).as("nk"))
    val pi0 = t0.crossJoin(broadcast(k))
      .select(col("ty"), expr("CAST(1000000 div nk AS BIGINT)").as("pi"))
    def step(pi: DataFrame): DataFrame =
      p.join(broadcast(pi.select(col("ty").as("fty"), col("pi"))),
          col("fty") === col("from_type"))
        .groupBy(col("to_type").as("ty"))
        .agg(expr("CAST(SUM(pi * p_ppm) div 1000000 AS BIGINT)").as("pi"))
    val pi1 = step(pi0); val pi2 = step(pi1); val pi3 = step(pi2)
    t0.join(broadcast(pi0.select(col("ty").as("t0k"), col("pi").as("p0"))),
        col("t0k") === col("ty"))
      .join(broadcast(pi1.select(col("ty").as("t1k"), col("pi").as("p1"))),
        col("t1k") === col("ty"), "left")
      .join(broadcast(pi2.select(col("ty").as("t2k"), col("pi").as("p2"))),
        col("t2k") === col("ty"), "left")
      .join(broadcast(pi3.select(col("ty").as("t3k"), col("pi").as("p3"))),
        col("t3k") === col("ty"), "left")
      .select(col("ty").as("event_type"), col("p0").as("pi0_ppm"),
        coalesce(col("p1"), lit(0L)).as("pi1_ppm"),
        coalesce(col("p2"), lit(0L)).as("pi2_ppm"),
        coalesce(col("p3"), lit(0L)).as("pi3_ppm"))
      .orderBy(col("event_type"))
  }

  /** Multi-lag autocorrelation table (r16) — `ts_autocorr_daily`
    * generalized from lag 1 to the full weekly ACF (lags 1..7), the
    * table a seasonality analyst actually reads (a lag-7 spike = the
    * weekly cycle `ts_seasonal_naive_error` exploits). Daily totals
    * are aggregated ONCE (day-cardinality table), then one broadcast
    * self-join per the 7-row lag table pairs (x_d, x_{d+lag});
    * integer sums per (type, lag), the final Pearson ratio spelled as
    * the one-float-op-per-operand chain the lag-1 key already grades
    * (exact integer inputs → identical doubles in both engines). */
  val tsAcfLags: QDef = q(
    "ts_acf_lags",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY event_type, day),
      |lg AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7))
      |  t(lag)),
      |p AS (
      |  SELECT a.event_type, lg.lag, a.cents AS x, b.cents AS y
      |  FROM dtot a CROSS JOIN lg
      |  JOIN dtot b ON b.event_type = a.event_type
      |    AND b.day = a.day + CAST(lg.lag AS INTEGER)),
      |s AS (
      |  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM p GROUP BY event_type, lag),
      |t AS (
      |  SELECT event_type, lag, n, CAST(sx AS DOUBLE) AS dx,
      |    CAST(sy AS DOUBLE) AS dy, CAST(sxx AS DOUBLE) AS dxx,
      |    CAST(syy AS DOUBLE) AS dyy, CAST(sxy AS DOUBLE) AS dxy
      |  FROM s)
      |SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
      |  (n * dxy - dx * dy)
      |    / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy)) AS acf
      |FROM t ORDER BY event_type, lag""") { (s, d) =>
    import s.implicits._
    val dtot = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).cast(LongType).as("cents"))
    val lg = (1 to 7).toDF("lag")
    val p = dtot.as("a").crossJoin(broadcast(lg))
      .join(dtot.select(col("event_type").as("bt"), col("day").as("bd"),
          col("cents").as("y")),
        col("bt") === col("a.event_type") &&
          col("bd") === expr("date_add(a.day, lag)"))
      .select(col("a.event_type").as("event_type"), col("lag"),
        col("a.cents").as("x"), col("y"))
    val st = p.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
    st.select(col("event_type"), col("lag").cast(LongType).as("lag"),
        col("n"),
        expr("(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
          + " * CAST(sy AS DOUBLE))"
          + " / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
          + " * CAST(sx AS DOUBLE)) * sqrt(n * CAST(syy AS DOUBLE)"
          + " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))").as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Seasonality / trend strength (r16) — Hyndman's STL strength
    * measures over the SHARED decomposition core
    * (`decomposeCtes`/`decomposeMonthly` — the
    * kmvSample extraction pattern, so this key and
    * `ts_decompose_additive` cannot drift): F_trend = 1 −
    * Var(resid)/Var(deseasonalized), F_seasonal = 1 −
    * Var(resid)/Var(detrended), both clamped at 0 and reported in
    * floor-ppm from exact DECIMAL(38)/HUGEINT sum-of-squares over the
    * interior (trend-complete) months. THE one-number answer to "is
    * this series worth a seasonal model" that the decomposition table
    * itself doesn't state. ≤84-row algebra after the one fact agg. */
  val tsSeasonalStrength: QDef = q(
    "ts_seasonal_strength",
    s"""WITH ${decomposeCtes},
      |x AS (
      |  SELECT tr.rev - tr.trend - se.seasonal AS r,
      |    tr.rev - tr.trend AS dt, tr.rev - se.seasonal AS ds
      |  FROM tr JOIN se ON se.mo = tr.mo
      |  WHERE tr.trend IS NOT NULL),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(r AS HUGEINT)) AS sr, SUM(CAST(r AS HUGEINT) * r) AS qr,
      |    SUM(CAST(dt AS HUGEINT)) AS sdt,
      |    SUM(CAST(dt AS HUGEINT) * dt) AS qdt,
      |    SUM(CAST(ds AS HUGEINT)) AS sds,
      |    SUM(CAST(ds AS HUGEINT) * ds) AS qds
      |  FROM x)
      |SELECT n,
      |  CASE WHEN n * qds - sds * sds = 0 THEN CAST(NULL AS BIGINT)
      |    ELSE GREATEST(CAST(1000000 - (n * qr - sr * sr) * 1000000
      |      // (n * qds - sds * sds) AS BIGINT), 0) END
      |    AS strength_trend_ppm,
      |  CASE WHEN n * qdt - sdt * sdt = 0 THEN CAST(NULL AS BIGINT)
      |    ELSE GREATEST(CAST(1000000 - (n * qr - sr * sr) * 1000000
      |      // (n * qdt - sdt * sdt) AS BIGINT), 0) END
      |    AS strength_seasonal_ppm
      |FROM f""") { (s, d) =>
    val x = decomposeMonthly(s, d)
      .filter(col("trend").isNotNull)
      .select((col("rev") - col("trend") - col("seasonal")).as("r"),
        (col("rev") - col("trend")).as("dt"),
        (col("rev") - col("seasonal")).as("ds"))
    val f = x.agg(count(lit(1)).as("n"),
      sum(expr("CAST(r AS DECIMAL(38,0))")).as("sr"),
      sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("qr"),
      sum(expr("CAST(dt AS DECIMAL(38,0))")).as("sdt"),
      sum(expr("CAST(dt AS DECIMAL(38,0)) * dt")).as("qdt"),
      sum(expr("CAST(ds AS DECIMAL(38,0))")).as("sds"),
      sum(expr("CAST(ds AS DECIMAL(38,0)) * ds")).as("qds"))
    f.select(col("n"),
      expr("CASE WHEN n * qds - sds * sds = 0 THEN CAST(NULL AS BIGINT)"
        + " ELSE GREATEST(CAST(1000000 - (n * qr - sr * sr) * 1000000"
        + " div (n * qds - sds * sds) AS BIGINT), 0) END")
        .as("strength_trend_ppm"),
      expr("CASE WHEN n * qdt - sdt * sdt = 0 THEN CAST(NULL AS BIGINT)"
        + " ELSE GREATEST(CAST(1000000 - (n * qr - sr * sr) * 1000000"
        + " div (n * qdt - sdt * sdt) AS BIGINT), 0) END")
        .as("strength_seasonal_ppm"))
  }

  /** Difference-in-differences (r17) — the quasi-experimental
    * estimator next to `ab_test_metrics` (randomized) and
    * `ab_cuped_adjustment` (variance reduction): treatment = the
    * md5-parity user split, pre/post = the month's midpoint
    * (2024-01-16, the `split_time_based` cut convention). Per event
    * type and cell (treated × post): n and exact cents mass; cell
    * means in floor-micro with each n = 0 guarded NULL; DiD = (T_post
    * − T_pre) − (C_post − C_pre), NULL-propagating through any empty
    * cell in BOTH engines. One (type, cell) agg + a type-level fold +
    * sort. */
  val abDiffInDiff: QDef = q(
    "ab_diff_in_diff",
    """WITH e AS (
      |  SELECT event_type,
      |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS treated,
      |    ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |c AS (
      |  SELECT event_type, treated, post,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      |  FROM e GROUP BY event_type, treated, post),
      |w AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN NOT treated AND NOT post THEN n END) AS n_cc,
      |    MAX(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
      |    MAX(CASE WHEN treated AND NOT post THEN n END) AS n_tc,
      |    MAX(CASE WHEN treated AND post THEN n END) AS n_tp,
      |    MAX(CASE WHEN NOT treated AND NOT post THEN s END) AS s_cc,
      |    MAX(CASE WHEN NOT treated AND post THEN s END) AS s_cp,
      |    MAX(CASE WHEN treated AND NOT post THEN s END) AS s_tc,
      |    MAX(CASE WHEN treated AND post THEN s END) AS s_tp
      |  FROM c GROUP BY event_type),
      |m AS (
      |  SELECT event_type, n_cc, n_cp, n_tc, n_tp,
      |    CASE WHEN n_cc = 0 THEN NULL
      |      ELSE CAST(s_cc * 1000000 // n_cc AS BIGINT) END AS mean_cc_micro,
      |    CASE WHEN n_cp = 0 THEN NULL
      |      ELSE CAST(s_cp * 1000000 // n_cp AS BIGINT) END AS mean_cp_micro,
      |    CASE WHEN n_tc = 0 THEN NULL
      |      ELSE CAST(s_tc * 1000000 // n_tc AS BIGINT) END AS mean_tc_micro,
      |    CASE WHEN n_tp = 0 THEN NULL
      |      ELSE CAST(s_tp * 1000000 // n_tp AS BIGINT) END AS mean_tp_micro
      |  FROM w)
      |SELECT *,
      |  (mean_tp_micro - mean_tc_micro) - (mean_cp_micro - mean_cc_micro)
      |    AS did_micro
      |FROM m ORDER BY event_type""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"),
        (substring(md5(col("user_id").cast(StringType)), 1, 1) <= "7")
          .as("treated"),
        (col("ts") >= lit("2024-01-16 00:00:00").cast(TimestampType))
          .as("post"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
    val c = e.groupBy(col("event_type"), col("treated"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    def cell(t: Boolean, p: Boolean, v: String) =
      max(when(col("treated") === t && col("post") === p, col(v)))
    val w = c.groupBy(col("event_type"))
      .agg(cell(false, false, "n").as("n_cc"), cell(false, true, "n").as("n_cp"),
        cell(true, false, "n").as("n_tc"), cell(true, true, "n").as("n_tp"),
        cell(false, false, "s").as("s_cc"), cell(false, true, "s").as("s_cp"),
        cell(true, false, "s").as("s_tc"), cell(true, true, "s").as("s_tp"))
    def mean(nc: String, sc: String) =
      expr(s"CASE WHEN $nc = 0 THEN NULL"
        + s" ELSE CAST($sc * 1000000 div $nc AS BIGINT) END")
    val m = w.select(col("event_type"),
      col("n_cc"), col("n_cp"), col("n_tc"), col("n_tp"),
      mean("n_cc", "s_cc").as("mean_cc_micro"),
      mean("n_cp", "s_cp").as("mean_cp_micro"),
      mean("n_tc", "s_tc").as("mean_tc_micro"),
      mean("n_tp", "s_tp").as("mean_tp_micro"))
    m.withColumn("did_micro",
        (col("mean_tp_micro") - col("mean_tc_micro"))
          - (col("mean_cp_micro") - col("mean_cc_micro")))
      .orderBy(col("event_type"))
  }

  /** Binary-segmentation changepoint (r17) — the one-split complement
    * to `ts_cusum_alarm` (sequential drift) and
    * `ts_decompose_additive` (seasonal): per event type, the day
    * boundary maximizing the between-segment sum of squares BSS(k) =
    * (S_k·n − S·k)² / (k·(n−k)) over the daily DOLLAR series — the
    * classic offline level-shift detector. Everything is exact
    * integers: prefix sums over a type-partitioned window, the
    * squared numerator ridden through DECIMAL(38)/HUGEINT (daily
    * dollars keep it well inside — documented bound ~10^15 at fixture
    * scale), floor-divided once to a BIGINT score, argmax = the
    * type-partitioned (score DESC, k ASC) rank-1 row. Output carries
    * the split day and both segment means in floor-micro dollars.
    * Scale: one (type, day) agg, then day-cardinality windows. */
  val tsChangepointSplit: QDef = q(
    "ts_changepoint_split",
    """WITH dly AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      // 100 AS BIGINT) AS dollars
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, day, dollars,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS k,
      |    CAST(SUM(dollars) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS sk,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(SUM(dollars) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |  FROM dly),
      |sc AS (
      |  SELECT event_type, day, k, sk, n, s,
      |    CAST(CAST(sk * n - s * k AS HUGEINT) * (sk * n - s * k)
      |      // (k * (n - k)) AS BIGINT) AS score
      |  FROM p WHERE k < n),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY score DESC, k) AS rn
      |  FROM sc)
      |SELECT event_type, day AS split_day, k AS split_k, n AS n_days,
      |  score AS bss_score,
      |  CAST(sk * 1000000 // k AS BIGINT) AS mean_left_micro,
      |  CAST((s - sk) * 1000000 // (n - k) AS BIGINT) AS mean_right_micro
      |FROM r WHERE rn = 1
      |ORDER BY event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dly = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(expr("CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100"
        + " AS BIGINT)) div 100 AS BIGINT)").as("dollars"))
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val p = dly.select(col("event_type"), col("day"), col("dollars"),
      row_number().over(wDay).cast(LongType).as("k"),
      sum(col("dollars"))
        .over(wDay.rowsBetween(Window.unboundedPreceding, 0)).as("sk"),
      count(lit(1)).over(wAll).as("n"),
      sum(col("dollars")).over(wAll).as("s"))
    val sc = p.filter(col("k") < col("n"))
      .withColumn("score",
        expr("CAST(CAST(sk * n - s * k AS DECIMAL(38,0)) * (sk * n - s * k)"
          + " div (k * (n - k)) AS BIGINT)"))
    val r = sc.withColumn("rn", row_number().over(
      Window.partitionBy(col("event_type"))
        .orderBy(col("score").desc, col("k"))))
    r.filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("k").as("split_k"), col("n").as("n_days"),
        col("score").as("bss_score"),
        expr("CAST(sk * 1000000 div k AS BIGINT)").as("mean_left_micro"),
        expr("CAST((s - sk) * 1000000 div (n - k) AS BIGINT)")
          .as("mean_right_micro"))
      .orderBy(col("event_type"))
  }

  /** Position-based (U-shaped) attribution (r17) — the third
    * estimator of the attribution family (`attribution_linear` =
    * equal split, `attribution_time_decay` = recency-weighted): 40%
    * first touch, 40% last touch, 20% split across middles, the
    * standard U-shape. Same journey convention as the siblings
    * (clicks ≤ 7 days before the purchase); touch order is the total
    * (ct, click_id) order; credits in exact ppm with the remainder
    * carried explicitly (n = 1 → 10⁶, n = 2 → 5·10⁵ each, n ≥ 3 →
    * 4·10⁵/4·10⁵/2·10⁵ div (n−2) per middle). First/last ids via two
    * row_numbers over ONE purchase-partitioned exchange (the
    * `ts_ohlc_daily` trick). */
  val attributionPositionBased: QDef = q(
    "attribution_position_based",
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts AS pt
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id AS click_id, user_id, ts AS ct
      |  FROM events WHERE event_type = 'click'),
      |m AS (
      |  SELECT p.purchase_id, c.click_id, c.ct
      |  FROM p JOIN c ON p.user_id = c.user_id
      |  WHERE c.ct <= p.pt
      |    AND epoch_us(p.pt) - epoch_us(c.ct) <= 604800000000),
      |r AS (
      |  SELECT purchase_id, click_id,
      |    ROW_NUMBER() OVER (PARTITION BY purchase_id
      |      ORDER BY ct, click_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY purchase_id
      |      ORDER BY ct DESC, click_id DESC) AS rn_d,
      |    CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touch
      |  FROM m),
      |f AS (
      |  SELECT purchase_id, n_touch,
      |    MAX(CASE WHEN rn_a = 1 THEN click_id END) AS first_click_id,
      |    MAX(CASE WHEN rn_d = 1 THEN click_id END) AS last_click_id
      |  FROM r GROUP BY purchase_id, n_touch)
      |SELECT purchase_id, n_touch, first_click_id, last_click_id,
      |  CASE WHEN n_touch = 1 THEN 1000000
      |    WHEN n_touch = 2 THEN 500000 ELSE 400000 END AS first_ppm,
      |  CASE WHEN n_touch = 1 THEN 0
      |    WHEN n_touch = 2 THEN 500000 ELSE 400000 END AS last_ppm,
      |  CASE WHEN n_touch <= 2 THEN 0
      |    ELSE CAST(200000 // (n_touch - 2) AS BIGINT) END AS mid_each_ppm,
      |  CASE WHEN n_touch <= 2 THEN 0
      |    ELSE 200000 - CAST(200000 // (n_touch - 2) AS BIGINT)
      |      * (n_touch - 2) END AS remainder_ppm
      |FROM f ORDER BY purchase_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pt"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("ct"))
    val m = p.join(c, Seq("user_id"))
      .filter(col("ct") <= col("pt") &&
        unix_micros(col("pt")) - unix_micros(col("ct")) <= 604800000000L)
      .select(col("purchase_id"), col("click_id"), col("ct"))
    val wP = Window.partitionBy(col("purchase_id"))
    val r = m.select(col("purchase_id"), col("click_id"),
      row_number().over(wP.orderBy(col("ct"), col("click_id"))).as("rn_a"),
      row_number().over(wP.orderBy(col("ct").desc, col("click_id").desc))
        .as("rn_d"),
      count(lit(1)).over(wP).as("n_touch"))
    val f = r.groupBy(col("purchase_id"), col("n_touch"))
      .agg(max(when(col("rn_a") === 1, col("click_id"))).as("first_click_id"),
        max(when(col("rn_d") === 1, col("click_id"))).as("last_click_id"))
    f.select(col("purchase_id"), col("n_touch"), col("first_click_id"),
        col("last_click_id"),
        when(col("n_touch") === 1, 1000000).when(col("n_touch") === 2, 500000)
          .otherwise(400000).as("first_ppm"),
        when(col("n_touch") === 1, 0).when(col("n_touch") === 2, 500000)
          .otherwise(400000).as("last_ppm"),
        when(col("n_touch") <= 2, lit(0L))
          .otherwise(expr("CAST(200000 div (n_touch - 2) AS BIGINT)"))
          .as("mid_each_ppm"),
        when(col("n_touch") <= 2, lit(0L))
          .otherwise(expr("200000 - CAST(200000 div (n_touch - 2) AS BIGINT)"
            + " * (n_touch - 2)")).as("remainder_ppm"))
      .orderBy(col("purchase_id"))
  }

  /** Partial autocorrelation at lag 2 (r18) — the AR-order probe
    * that complements `ts_acf_lags` (raw ACF): via Durbin–Levinson,
    * φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²) — the lag-2 correlation AFTER
    * removing what lag 1 already explains, THE number that separates
    * an AR(1) daily series (φ₂₂ ≈ 0) from one needing a second-order
    * model. ρ₁/ρ₂ are the ts_acf_lags lag-Pearson spellings verbatim
    * (exact DECIMAL(38) sums into one identical float tree);
    * φ₂₂ is one more float op on those identical doubles, degenerate
    * 1−ρ₁² = 0 guarded NULL. Day-pair joins on the calendar-day
    * grid, everything after day-sized. */
  val tsPacfLag2: QDef = q(
    "ts_pacf_lag2",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY event_type, day),
      |lg AS (SELECT * FROM (VALUES (1), (2)) t(lag)),
      |p AS (
      |  SELECT a.event_type, lg.lag, a.cents AS x, b.cents AS y
      |  FROM dtot a CROSS JOIN lg
      |  JOIN dtot b ON b.event_type = a.event_type
      |    AND b.day = a.day + CAST(lg.lag AS INTEGER)),
      |s AS (
      |  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM p GROUP BY event_type, lag),
      |r AS (
      |  SELECT event_type, lag, n,
      |    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (sqrt(n * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * sqrt(n * CAST(syy AS DOUBLE)
      |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
      |  FROM s)
      |SELECT a1.event_type, a1.n AS n1, a2.n AS n2,
      |  a1.acf AS acf1, a2.acf AS acf2,
      |  CASE WHEN 1 - a1.acf * a1.acf = 0 THEN NULL
      |    ELSE (a2.acf - a1.acf * a1.acf) / (1 - a1.acf * a1.acf)
      |    END AS pacf2
      |FROM r a1 JOIN r a2
      |  ON a2.event_type = a1.event_type AND a1.lag = 1 AND a2.lag = 2
      |ORDER BY a1.event_type""") { (s, d) =>
    import s.implicits._
    val dtot = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).cast(LongType).as("cents"))
    val lg = Seq(1, 2).toDF("lag")
    val p = dtot.as("a").crossJoin(broadcast(lg))
      .join(dtot.select(col("event_type").as("bt"), col("day").as("bd"),
          col("cents").as("y")),
        col("bt") === col("a.event_type") &&
          col("bd") === date_add(col("a.day"), col("lag")))
      .select(col("a.event_type").as("event_type"), col("lag"),
        col("a.cents").as("x"), col("y"))
    val dec = DecimalType(38, 0)
    val st = p.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"))
    val r = st.select(col("event_type"), col("lag"), col("n"),
      ((col("n") * col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
        / (sqrt(col("n") * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
          * sqrt(col("n") * col("syy").cast(DoubleType)
            - col("sy").cast(DoubleType) * col("sy").cast(DoubleType))))
        .as("acf"))
    val a1 = r.filter(col("lag") === 1)
      .select(col("event_type"), col("n").as("n1"), col("acf").as("acf1"))
    val a2 = r.filter(col("lag") === 2)
      .select(col("event_type").as("t2"), col("n").as("n2"),
        col("acf").as("acf2"))
    a1.join(broadcast(a2), col("t2") === col("event_type"))
      .select(col("event_type"), col("n1"), col("n2"), col("acf1"),
        col("acf2"),
        when(lit(1.0) - col("acf1") * col("acf1") === 0.0,
          lit(null).cast(DoubleType))
          .otherwise((col("acf2") - col("acf1") * col("acf1"))
            / (lit(1.0) - col("acf1") * col("acf1"))).as("pacf2"))
      .orderBy(col("event_type"))
  }

  /** Western Electric SPC rules (r18) — the classic
    * statistical-process-control alarm ladder over the daily revenue
    * series per event type (the ops complement to `anomaly_mad` /
    * `events_burst_detection`): z-scores against the type's own
    * mean/σ (ONE float tree on exact DECIMAL sums, z = (n·x − S)/
    * √(n·Sxx − S²), floored to milli), then the four rules as exact
    * integer window counts — R1 |z|>3σ, R2 two of three consecutive
    * beyond 2σ same side, R3 four of five beyond 1σ same side, R4
    * eight consecutive same side of center. All windows partitioned
    * by type over the day grid (day-sized frames); the rule flags
    * are comparisons on identical quantized integers, so
    * cross-engine agreement is exact. */
  val eventsSpcWesternElectric: QDef = q(
    "events_spc_western_electric",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY event_type, day),
      |st AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS sxx
      |  FROM dtot GROUP BY event_type),
      |z AS (
      |  SELECT d.event_type, d.day, d.cents,
      |    CAST(floor((d.n_x_s / sqrt(st.n * CAST(st.sxx AS DOUBLE)
      |      - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))) * 1000)
      |      AS BIGINT) AS z_milli
      |  FROM (SELECT dt.event_type, dt.day, dt.cents,
      |      st2.n * CAST(dt.cents AS DOUBLE) - CAST(st2.sx AS DOUBLE)
      |        AS n_x_s
      |    FROM dtot dt JOIN st st2 ON st2.event_type = dt.event_type) d
      |  JOIN st ON st.event_type = d.event_type),
      |r AS (
      |  SELECT event_type, day, cents, z_milli,
      |    CASE WHEN abs(z_milli) > 3000 THEN true ELSE false END AS rule1,
      |    SUM(CASE WHEN z_milli > 2000 THEN 1 ELSE 0 END)
      |      OVER w3 >= 2 OR
      |    SUM(CASE WHEN z_milli < -2000 THEN 1 ELSE 0 END)
      |      OVER w3 >= 2 AS rule2,
      |    SUM(CASE WHEN z_milli > 1000 THEN 1 ELSE 0 END)
      |      OVER w5 >= 4 OR
      |    SUM(CASE WHEN z_milli < -1000 THEN 1 ELSE 0 END)
      |      OVER w5 >= 4 AS rule3,
      |    SUM(CASE WHEN z_milli > 0 THEN 1 ELSE 0 END)
      |      OVER w8 = 8 OR
      |    SUM(CASE WHEN z_milli < 0 THEN 1 ELSE 0 END)
      |      OVER w8 = 8 AS rule4,
      |    COUNT(*) OVER w8 AS n_in_w8
      |  FROM z
      |  WINDOW
      |    w3 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |    w5 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |    w8 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day, cents, z_milli, rule1, rule2, rule3,
      |  CASE WHEN n_in_w8 = 8 THEN rule4 ELSE false END AS rule4
      |FROM r ORDER BY event_type, day""") { (s, d) =>
    val dec = DecimalType(38, 0)
    val dtot = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).cast(LongType).as("cents"))
    val st = dtot.groupBy(col("event_type").as("s_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents").cast(dec)).as("sx"),
        sum(col("cents").cast(dec) * col("cents")).as("sxx"))
    val z = dtot.join(broadcast(st), col("s_type") === col("event_type"))
      .select(col("event_type"), col("day"), col("cents"),
        floor(((col("n") * col("cents").cast(DoubleType)
            - col("sx").cast(DoubleType))
          / sqrt(col("n") * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
          * 1000).cast(LongType).as("z_milli"))
    val w3 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-2, 0)
    val w5 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-4, 0)
    val w8 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, 0)
    def cnt(c: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(when(c, 1L).otherwise(0L)).over(w)
    z.select(col("event_type"), col("day"), col("cents"), col("z_milli"),
        (abs(col("z_milli")) > 3000L).as("rule1"),
        (cnt(col("z_milli") > 2000L, w3) >= 2L ||
          cnt(col("z_milli") < -2000L, w3) >= 2L).as("rule2"),
        (cnt(col("z_milli") > 1000L, w5) >= 4L ||
          cnt(col("z_milli") < -1000L, w5) >= 4L).as("rule3"),
        when(count(lit(1)).over(w8) === 8L,
          cnt(col("z_milli") > 0L, w8) === 8L ||
            cnt(col("z_milli") < 0L, w8) === 8L)
          .otherwise(lit(false)).as("rule4"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Ljung–Box portmanteau test (r18) — "is there ANY autocorrelation
    * left?", the whiteness check run after a model fit and the
    * summary statistic over the `ts_acf_lags` family: Q = n(n+2)
    * Σ_{k≤3} ρ̂ₖ²/(n−k) over the per-type daily cents series, with
    * ρ̂ₖ the lag-k Pearson (the acf-lags spelling verbatim — exact
    * DECIMAL(38) sums into one identical float tree), Q floored to
    * micro and tested at the χ²₃ 95% bound 7.814728. Day-sized
    * frames only. */
  val tsLjungBox: QDef = q(
    "ts_ljung_box",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY event_type, day),
      |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM dtot
      |  GROUP BY event_type),
      |lg AS (SELECT * FROM (VALUES (1), (2), (3)) t(lag)),
      |p AS (
      |  SELECT a.event_type, lg.lag, a.cents AS x, b.cents AS y
      |  FROM dtot a CROSS JOIN lg
      |  JOIN dtot b ON b.event_type = a.event_type
      |    AND b.day = a.day + CAST(lg.lag AS INTEGER)),
      |s AS (
      |  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS np,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM p GROUP BY event_type, lag),
      |r AS (
      |  SELECT event_type, lag,
      |    (np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (sqrt(np * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * sqrt(np * CAST(syy AS DOUBLE)
      |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
      |  FROM s),
      |w AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN lag = 1 THEN acf END) AS a1,
      |    MAX(CASE WHEN lag = 2 THEN acf END) AS a2,
      |    MAX(CASE WHEN lag = 3 THEN acf END) AS a3
      |  FROM r GROUP BY event_type),
      |qf AS (
      |  SELECT w.event_type, nd.n,
      |    CAST(floor(nd.n * (nd.n + 2)
      |      * (a1 * a1 / (nd.n - 1) + a2 * a2 / (nd.n - 2)
      |        + a3 * a3 / (nd.n - 3)) * 1000000) AS BIGINT) AS q_micro
      |  FROM w JOIN nd ON nd.event_type = w.event_type)
      |SELECT event_type, n AS n_days, q_micro,
      |  q_micro > 7814728 AS significant
      |FROM qf ORDER BY event_type""") { (s, d) =>
    import s.implicits._
    val dec = DecimalType(38, 0)
    val dtot = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).cast(LongType).as("cents"))
    val nd = dtot.groupBy(col("event_type").as("n_type"))
      .agg(count(lit(1)).as("n"))
    val lg = Seq(1, 2, 3).toDF("lag")
    val p = dtot.as("a").crossJoin(broadcast(lg))
      .join(dtot.select(col("event_type").as("bt"), col("day").as("bd"),
          col("cents").as("y")),
        col("bt") === col("a.event_type") &&
          col("bd") === date_add(col("a.day"), col("lag")))
      .select(col("a.event_type").as("event_type"), col("lag"),
        col("a.cents").as("x"), col("y"))
    val st = p.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("np"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"))
    val r = st.select(col("event_type"), col("lag"),
      ((col("np") * col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
        / (sqrt(col("np") * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
          * sqrt(col("np") * col("syy").cast(DoubleType)
            - col("sy").cast(DoubleType) * col("sy").cast(DoubleType))))
        .as("acf"))
    // the three lag terms fold in a FIXED order (a SUM over the 3
    // doubles would be summation-order-dependent across engines)
    val w = r.groupBy(col("event_type"))
      .agg(max(when(col("lag") === 1, col("acf"))).as("a1"),
        max(when(col("lag") === 2, col("acf"))).as("a2"),
        max(when(col("lag") === 3, col("acf"))).as("a3"))
    w.join(broadcast(nd), col("n_type") === col("event_type"))
      .select(col("event_type"), col("n").as("n_days"),
        floor(col("n") * (col("n") + 2)
          * (col("a1") * col("a1") / (col("n") - 1)
            + col("a2") * col("a2") / (col("n") - 2)
            + col("a3") * col("a3") / (col("n") - 3))
          * 1000000).cast(LongType).as("q_micro"))
      .select(col("event_type"), col("n_days"), col("q_micro"),
        (col("q_micro") > 7814728L).as("significant"))
      .orderBy(col("event_type"))
  }

  /** Dyadic EWMA crossover signals (r18b) — the fast/slow
    * moving-average crossing count over daily revenue per type, on
    * the SAME truncated dyadic-geometric EWMA convention as
    * `win_ewma_dyadic` (weights 2^k, denominators 15 and 255 — all
    * integer, no float recursion): fast = 4-term (half-life 1 day),
    * slow = 8-term; a golden/death cross is a strict sign flip of
    * (fast − slow) between consecutive evaluated days (zero-diff
    * days break streaks, documented). Graded per type: evaluated
    * days, up/down cross counts, first cross date. One day agg +
    * ONE type-partitioned ordering (lags + the derived-sign lag) +
    * one fold. */
  val tsEwmaCrossover: QDef = q(
    "ts_ewma_crossover",
    """WITH dtot AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, day, cents,
      |    lag(cents, 1) OVER w AS c1, lag(cents, 2) OVER w AS c2,
      |    lag(cents, 3) OVER w AS c3, lag(cents, 4) OVER w AS c4,
      |    lag(cents, 5) OVER w AS c5, lag(cents, 6) OVER w AS c6,
      |    lag(cents, 7) OVER w AS c7
      |  FROM dtot WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |e AS (
      |  SELECT event_type, day,
      |    (cents * 8 + c1 * 4 + c2 * 2 + c3) // 15 AS fast,
      |    (cents * 128 + c1 * 64 + c2 * 32 + c3 * 16 + c4 * 8 + c5 * 4
      |      + c6 * 2 + c7) // 255 AS slow
      |  FROM l WHERE c7 IS NOT NULL),
      |sg AS (
      |  SELECT event_type, day,
      |    CASE WHEN fast > slow THEN 1 WHEN fast < slow THEN -1 ELSE 0
      |      END AS s
      |  FROM e),
      |x AS (
      |  SELECT event_type, day, s,
      |    lag(s) OVER (PARTITION BY event_type ORDER BY day) AS ps
      |  FROM sg)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(CASE WHEN s = 1 AND ps = -1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_cross_up,
      |  CAST(SUM(CASE WHEN s = -1 AND ps = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_cross_down,
      |  MIN(CASE WHEN (s = 1 AND ps = -1) OR (s = -1 AND ps = 1)
      |    THEN day END) AS first_cross_day
      |FROM x GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val dtot = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)"))
        .cast(LongType).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val l = dtot.select(Seq(col("event_type"), col("day"), col("cents")) ++
      (1 to 7).map(k => lag(col("cents"), k).over(w).as(s"c$k")): _*)
    val e = l.filter(col("c7").isNotNull)
      .select(col("event_type"), col("day"),
        expr("(cents * 8 + c1 * 4 + c2 * 2 + c3) div 15").as("fast"),
        expr("(cents * 128 + c1 * 64 + c2 * 32 + c3 * 16 + c4 * 8"
          + " + c5 * 4 + c6 * 2 + c7) div 255").as("slow"))
    val sg = e.select(col("event_type"), col("day"),
      when(col("fast") > col("slow"), 1L)
        .when(col("fast") < col("slow"), -1L).otherwise(0L).as("s"))
    val x = sg.withColumn("ps", lag(col("s"), 1).over(w))
    x.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("s") === 1L && col("ps") === -1L, 1L).otherwise(0L))
          .as("n_cross_up"),
        sum(when(col("s") === -1L && col("ps") === 1L, 1L).otherwise(0L))
          .as("n_cross_down"),
        min(when((col("s") === 1L && col("ps") === -1L) ||
          (col("s") === -1L && col("ps") === 1L), col("day")))
          .as("first_cross_day"))
      .orderBy(col("event_type"))
  }

  /** Poisson dispersion index (r18b) — are daily event counts
    * Poisson (D ≈ 1), clumped (D > 1), or over-regular (D < 1)?
    * Per type over the COMPLETE day matrix (absent days are true
    * zeros — the `stats_friedman_test` convention):
    * D = s²/x̄ = (nΣc² − (Σc)²)/((n−1)·Σc) — ONE exact rational,
    * and the χ² form (n−1)·D is exact too. Flags use the classic
    * field bounds D > 1.5 / D < 0.5 (df-free, documented heuristic
    * rather than a quantile that would need an inverse-χ² float).
    * One day agg + complete-matrix join + type fold. */
  val tsPoissonDispersion: QDef = q(
    "ts_poisson_dispersion",
    """WITH dt AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM dt),
      |types AS (SELECT DISTINCT event_type FROM dt),
      |cm AS (
      |  SELECT t.event_type, COALESCE(dt.cnt, 0) AS cnt
      |  FROM days d CROSS JOIN types t
      |  LEFT JOIN dt ON dt.day = d.day AND dt.event_type = t.event_type),
      |f AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cnt) AS BIGINT) AS sc,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS scc
      |  FROM cm GROUP BY event_type)
      |SELECT event_type, n AS n_days,
      |  CAST(sc * 1000 // n AS BIGINT) AS mean_milli,
      |  CASE WHEN sc = 0 OR n < 2 THEN NULL
      |    ELSE CAST((n * scc - CAST(sc AS HUGEINT) * sc) * 1000
      |      // ((n - 1) * CAST(sc AS HUGEINT)) AS BIGINT) END
      |    AS dispersion_milli,
      |  CASE WHEN sc = 0 THEN NULL
      |    ELSE CAST((n * scc - CAST(sc AS HUGEINT) * sc) * 1000000
      |      // CAST(sc AS HUGEINT) AS BIGINT) END AS chi2_micro,
      |  CASE WHEN sc = 0 OR n < 2 THEN NULL
      |    ELSE (n * scc - CAST(sc AS HUGEINT) * sc) * 1000
      |      // ((n - 1) * CAST(sc AS HUGEINT)) > 1500 END
      |    AS overdispersed,
      |  CASE WHEN sc = 0 OR n < 2 THEN NULL
      |    ELSE (n * scc - CAST(sc AS HUGEINT) * sc) * 1000
      |      // ((n - 1) * CAST(sc AS HUGEINT)) < 500 END
      |    AS underdispersed
      |FROM f ORDER BY event_type""") { (s, d) =>
    val dt = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val days = dt.select(col("day")).distinct()
    val types = dt.select(col("event_type")).distinct()
    val cm = days.crossJoin(broadcast(types))
      .join(dt.select(col("day").as("j_day"),
          col("event_type").as("j_type"), col("cnt")),
        col("j_day") === col("day") && col("j_type") === col("event_type"),
        "left")
      .select(col("event_type"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val f = cm.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sc"),
        sum(col("cnt").cast(DriftOps.dec) * col("cnt")).as("scc"))
    val disp = "(n * scc - CAST(sc AS DECIMAL(38,0)) * sc) * 1000" +
      " div ((n - 1) * CAST(sc AS DECIMAL(38,0)))"
    f.select(col("event_type"), col("n").as("n_days"),
        expr("CAST(sc * 1000 div n AS BIGINT)").as("mean_milli"),
        when(col("sc") === 0 || col("n") < 2, lit(null).cast(LongType))
          .otherwise(expr(s"CAST($disp AS BIGINT)"))
          .as("dispersion_milli"),
        when(col("sc") === 0, lit(null).cast(LongType))
          .otherwise(expr("CAST((n * scc - CAST(sc AS DECIMAL(38,0))"
            + " * sc) * 1000000 div CAST(sc AS DECIMAL(38,0))"
            + " AS BIGINT)")).as("chi2_micro"),
        when(col("sc") === 0 || col("n") < 2, lit(null).cast(BooleanType))
          .otherwise(expr(s"$disp > 1500")).as("overdispersed"),
        when(col("sc") === 0 || col("n") < 2, lit(null).cast(BooleanType))
          .otherwise(expr(s"$disp < 500")).as("underdispersed"))
      .orderBy(col("event_type"))
  }

  /** Parkinson high–low volatility (r18b) — the range-based daily
    * volatility estimator (Parkinson 1980), 5× more efficient than
    * close-to-close on the same data: per type,
    * σ²_P = (1/(4·ln 2))·mean(ln(H/L)²) over daily value ranges.
    * Per-day term = floor(ln(H/L)²·10⁶) (floor-protected double
    * tree, H/L from exact cents), the mean is an exact integer
    * fold, and the 1/(4 ln 2) factor is the INTEGER constant
    * 2772588 (= floor(4·ln 2·10⁶)) so the final step is one more
    * exact division. Zero/degenerate lows guard out. One day agg +
    * one type fold. */
  val tsParkinsonVolatility: QDef = q(
    "ts_parkinson_volatility",
    """WITH d AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(MAX(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS h,
      |    CAST(MIN(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS l
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type,
      |    CAST(floor(ln(CAST(h AS DOUBLE) / l)
      |      * ln(CAST(h AS DOUBLE) / l) * 1000000) AS BIGINT) AS term
      |  FROM d WHERE l > 0 AND h > l),
      |f AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(term) AS BIGINT) AS st
      |  FROM t GROUP BY event_type)
      |SELECT event_type, n_days,
      |  CAST(st // n_days AS BIGINT) AS mean_sq_logrange_micro,
      |  CAST(st * 1000000 // n_days // 2772588 AS BIGINT)
      |    AS parkinson_var_micro
      |FROM f ORDER BY event_type""") { (s, d) =>
    val dd = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(max(expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)"))
        .as("h"),
        min(expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)"))
        .as("l"))
    val t = dd.filter(col("l") > 0 && col("h") > col("l"))
      .select(col("event_type"),
        floor(log(col("h").cast(DoubleType) / col("l"))
          * log(col("h").cast(DoubleType) / col("l")) * 1000000)
          .cast(LongType).as("term"))
    t.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("term")).as("st"))
      .select(col("event_type"), col("n_days"),
        expr("CAST(st div n_days AS BIGINT)")
          .as("mean_sq_logrange_micro"),
        expr("CAST(st * 1000000 div n_days div 2772588 AS BIGINT)")
          .as("parkinson_var_micro"))
      .orderBy(col("event_type"))
  }

  /** Hill tail-index estimator (r18b) — is per-user activity
    * heavy-tailed, and how heavy? Over the k = 50 most active
    * users (deterministic (count DESC, user) order),
    * 1/α̂ = mean_{i<k} ln(x_(i)) − ln(x_(k)) (Hill 1975) with every
    * log floor-quantized to micro BEFORE the fold (integer
    * algebra after), and α̂ in milli as one exact division. The
    * top-k set is a TakeOrdered(50); ranks inside it come from a
    * broadcast 50×50 self-join (no unpartitioned window). The
    * statistic that decides whether user-level quotas or sampling
    * caps are needed at 100 TB. */
  val eventsHillTailIndex: QDef = q(
    "events_hill_tail_index",
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id),
      |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
      |top AS (SELECT user_id, c FROM u ORDER BY c DESC, user_id
      |  LIMIT 50),
      |rk AS (
      |  SELECT a.user_id, a.c,
      |    CAST(1 + COUNT(b.user_id) AS BIGINT) AS r
      |  FROM top a LEFT JOIN top b ON b.c > a.c
      |    OR (b.c = a.c AND b.user_id < a.user_id)
      |  GROUP BY a.user_id, a.c),
      |kk AS (SELECT CAST(MAX(r) AS BIGINT) AS k FROM rk),
      |xk AS (SELECT CAST(MAX(c) AS BIGINT) AS xkc FROM rk, kk
      |  WHERE r = kk.k),
      |hl AS (
      |  SELECT CAST(SUM(CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS sl,
      |    CAST(COUNT(*) AS BIGINT) AS km1
      |  FROM rk, kk WHERE r < kk.k)
      |SELECT nu.n_users, kk.k, xk.xkc AS xk_count,
      |  CAST(hl.sl // hl.km1
      |    - floor(ln(CAST(xk.xkc AS DOUBLE)) * 1000000) AS BIGINT)
      |    AS inv_alpha_micro,
      |  CASE WHEN hl.sl // hl.km1
      |      - floor(ln(CAST(xk.xkc AS DOUBLE)) * 1000000) <= 0 THEN NULL
      |    ELSE CAST(1000000000 // (hl.sl // hl.km1
      |      - CAST(floor(ln(CAST(xk.xkc AS DOUBLE)) * 1000000)
      |        AS BIGINT)) AS BIGINT) END AS alpha_milli
      |FROM nu CROSS JOIN kk CROSS JOIN xk CROSS JOIN hl""") { (s, d) =>
    val u = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val nu = u.agg(count(lit(1)).as("n_users"))
    val top = u.orderBy(col("c").desc, col("user_id")).limit(50)
      .persist()
    val rk = top.as("a")
      .join(broadcast(top.select(col("c").as("b_c"),
          col("user_id").as("b_u"))),
        col("b_c") > col("a.c") ||
          (col("b_c") === col("a.c") && col("b_u") < col("a.user_id")),
        "left")
      .groupBy(col("a.user_id").as("user_id"), col("a.c").as("c"))
      .agg((lit(1L) + count(col("b_u"))).as("r"))
      .persist()
    val kk = rk.agg(max(col("r")).as("k"))
    val xk = rk.crossJoin(broadcast(kk)).filter(col("r") === col("k"))
      .agg(max(col("c")).as("xkc"))
    val hl = rk.crossJoin(broadcast(kk)).filter(col("r") < col("k"))
      .agg(sum(floor(log(col("c").cast(DoubleType)) * 1000000)
        .cast(LongType)).cast(LongType).as("sl"),
        count(lit(1)).as("km1"))
    nu.crossJoin(broadcast(kk)).crossJoin(broadcast(xk))
      .crossJoin(broadcast(hl))
      .select(col("n_users"), col("k"), col("xkc").as("xk_count"),
        expr("CAST(sl div km1"
          + " - floor(ln(CAST(xkc AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("inv_alpha_micro"),
        expr("CASE WHEN sl div km1"
          + " - floor(ln(CAST(xkc AS DOUBLE)) * 1000000) <= 0 THEN NULL"
          + " ELSE CAST(1000000000 div (sl div km1"
          + " - CAST(floor(ln(CAST(xkc AS DOUBLE)) * 1000000)"
          + " AS BIGINT)) AS BIGINT) END").as("alpha_milli"))
  }

  val all: Seq[QDef] = Seq(funnelSteps, retentionCohorts, timeseriesGapfill,
    sessionizeEvents, anomalyMad, rolling7dValue, winSessionRunning,
    patternConsecutive, attributionLinear, tsOhlcDaily, pathTrigramTop,
    eventTransitionMatrix, abTestMetrics, sessionConversion,
    tsAutocorrDaily, winStreaksDaily, tsSeasonalNaiveError,
    audienceOverlapJaccard, eventsDauStickiness, cohortRevenueLtv,
    eventsBurstDetection, eventsInterarrivalStats, eventsGrowthAccounting,
    funnelTimeToConvert, attributionTimeDecay, eventsHourlyHeatmap,
    tsOrderGapSurvival, tsHampelOutliers, tsTheilSen, tsTradingDayIndex,
    eventsBotRateFlags, eventsPeakConcurrency, funnelKmHazard,
    eventsSloBurnRate, featuresPointInTime, abCupedAdjustment,
    tsDecomposeAdditive, eventsBounceRate, cohortRetentionTriangle,
    eventsAlertStormSuppression, abSrmCheck, eventsSessionGapSweep,
    abPowerSampleSize, eventsMarkovStationary, tsAcfLags, tsSeasonalStrength,
    abDiffInDiff, tsChangepointSplit, attributionPositionBased, tsPacfLag2,
    eventsSpcWesternElectric, tsLjungBox, tsEwmaCrossover, tsPoissonDispersion,
    tsParkinsonVolatility, eventsHillTailIndex)
}
