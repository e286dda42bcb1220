package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.9 — streaming operators, graded through their batch
  * twins.
  *
  * Each op is implemented ONCE against a DataFrame: `window`,
  * `session_window` and keyed-dedup all work identically in batch and
  * in Structured Streaming, so the graded batch query and the
  * streaming execution (graft.streaming.StreamOps, covered by
  * MemoryStream tests) share the same logic. Event time is always the
  * second-truncated µs timestamp (D4) so window boundaries agree with
  * the DuckDB oracle's ns-kept `ts`.
  */
object Streaming {

  /** 1-hour tumbling window × event_type: count + exact sum. */
  val streamTumblingCounts: QDef = q(
    "stream_tumbling_counts",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
      |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS w_end,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY w_start, event_type""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** 1-hour windows sliding every 15 minutes: each event lands in
    * exactly 4 windows (starts = its 15-min bucket minus k·15min,
    * k = 0..3) — spelled out that way in the oracle. */
  val streamSlidingWindows: QDef = q(
    "stream_sliding_windows",
    """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
      |         - k * (INTERVAL '15 minutes') AS w_start,
      |  time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
      |         - k * (INTERVAL '15 minutes') + INTERVAL '1 hour' AS w_end,
      |  COUNT(*) AS n
      |FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
      |GROUP BY 1, 2
      |ORDER BY w_start""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("n"))
      .orderBy(col("w_start"))
  }

  /** Per-user session windows with a 30-minute inactivity gap.
    * Sessionized on the SECOND-truncated timestamp in both engines so
    * boundaries agree. The gap is spelled 1800.5 s (r13): with a
    * whole-second gap, an event arriving EXACTLY gap seconds after
    * the previous one makes the new session's start equal the old
    * session's end, and Spark's two session-merge code paths (partial
    * UpdatingSessionsIterator vs post-shuffle merge) disagree on that
    * equality — the same data returned 95 466 sessions under the
    * bench conf and 95 465 under the 200-partition cluster profile at
    * sf0.1 (one exactly-1800 s gap in the fixture). Second-truncated
    * timestamps can never tie a half-second boundary, so the merge
    * rule is unambiguously "gap ≤ 1800 s merges" on every physical
    * path, and the oracle's gaps-and-islands formulation replicates
    * exactly that (new session when gap ≥ 1801 s; end = last event +
    * 1800.5 s). */
  val streamSessionWindows: QDef = q(
    "stream_session_windows",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_sec
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |              IS NULL THEN 1
      |         WHEN date_diff('second',
      |              lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id),
      |              ts_sec) >= 1801 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM e),
      |ids AS (
      |  SELECT user_id, ts_sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts_sec) AS session_start,
      |  max(ts_sec) + INTERVAL '1800500 milliseconds' AS session_end,
      |  COUNT(*) AS n_events
      |FROM ids
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(tsSec(col("ts")), "1800500 milliseconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Keyed dedup: first event per (user, type, minute). Batch twin of
    * streaming dropDuplicates-with-watermark; survivor is the row_
    * number()=1 row under a total order, so it is deterministic. */
  val streamDedupKeyed: QDef = q(
    "stream_dedup_keyed",
    """SELECT user_id, event_type,
      |  date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
      |  event_id
      |FROM events
      |QUALIFY row_number() OVER (
      |  PARTITION BY user_id, event_type, date_trunc('minute', CAST(ts AS TIMESTAMP))
      |  ORDER BY date_trunc('second', CAST(ts AS TIMESTAMP)), event_id) = 1
      |ORDER BY user_id, event_type, minute""") { (s, d) =>
    val minuteCol = date_trunc("minute", col("ts"))
    val w = Window.partitionBy(col("user_id"), col("event_type"), minuteCol)
      .orderBy(tsSec(col("ts")), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), minuteCol.as("minute"),
        col("event_id"), row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("user_id"), col("event_type"), col("minute"))
  }

  /** Stream-stream interval join, graded through its batch twin: each
    * purchase joined to the same user's clicks in the preceding 10
    * minutes (the attribution-window shape). Equality on user_id
    * carries the join — the plan shuffles both sides ONCE on user_id
    * and evaluates the time bound as a residual predicate, so at
    * 100 TB/day the cost is one co-partitioned join, never an
    * all-pairs scan. The streaming execution of the same join (event
    * time + watermark-bounded state) is covered by StreamOpsSpec's
    * stream-stream interval join test. Timestamps are second-truncated
    * on BOTH sides (D4) so the ns-vs-µs fixture mismatch cannot flip a
    * boundary. */
  val streamIntervalJoin: QDef = q(
    "stream_interval_join",
    """WITH p AS (
      |  SELECT event_id, user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS cts
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, COUNT(c.cts) AS n_clicks_10m
      |FROM p LEFT JOIN c ON c.user_id = p.user_id
      |  AND c.cts >= p.pts - INTERVAL 10 MINUTE AND c.cts <= p.pts
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        date_trunc("second", col("ts")).as("cts"))
    p.join(c, col("c_user") === col("user_id") &&
        col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
        col("cts") <= col("pts"), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("cts")).as("n_clicks_10m"))
      .orderBy(col("event_id"))
  }

  /** Per-type event counts `n` in 6-hour tumbling windows starting at
    * `win_start` (hours 0, 6, 12, 18 UTC), the batch form of a
    * streaming tumbling-window count. */
  private[ops] val sixHourCountCtes: String =
    """b AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
      |    - INTERVAL (CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) % 6) HOUR
      |    AS win_start,
      |    event_type
      |  FROM events),
      |c AS (SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM b GROUP BY win_start, event_type)""".stripMargin

  /** Spark twin of `sixHourCountCtes`'s `c`. */
  private[ops] def sixHourCounts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Windowed top-k (r11c) — the trending-now query: top-3 event
    * types per 6-hour tumbling window, ranked by count with the
    * alphabetic tie-break. Batch twin uses the REAL streaming
    * `window()` bucketing (epoch-aligned, identical to the oracle's
    * hour-truncation arithmetic since 6 divides 24); the streaming
    * execution re-ranks each micro-batch in `foreachBatch` (rank
    * over append-mode windowed counts — StreamOpsSpec). The rank
    * window partitions by win_start, so its exchange carries
    * windows×types rows, never events. */
  val streamTopkWindowed: QDef = q(
    "stream_topk_windowed",
    s"""WITH ${sixHourCountCtes},
      |r AS (
      |  SELECT win_start, event_type, n,
      |    row_number() OVER (PARTITION BY win_start ORDER BY n DESC, event_type) AS rk
      |  FROM c)
      |SELECT win_start, CAST(rk AS INTEGER) AS rk, event_type, n
      |FROM r WHERE rk <= 3
      |ORDER BY win_start, rk""") { (s, d) =>
    val c = sixHourCounts(s, d)
    val w = Window.partitionBy(col("win_start"))
      .orderBy(col("n").desc, col("event_type"))
    c.select(col("win_start"), col("event_type"), col("n"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
      .select(col("win_start"), col("rk"), col("event_type"), col("n"))
      .orderBy(col("win_start"), col("rk"))
  }

  /** Rate-spike alerting (r12) — the monitoring query a streaming
    * pipeline runs on itself: per event type, does a 6-hour window's
    * count more than DOUBLE the type's previous observed window?
    * Change is exact sign-decomposed floor-ppm (no float ratio). The
    * batch twin below shares `StreamOps.rateAlerts` with the
    * streaming execution (foreachBatch re-evaluates closed windows —
    * StreamOpsSpec), so the graded logic IS the streaming logic. The
    * lag window partitions by type over windows×types rows, never
    * events. */
  val streamRateAlert: QDef = q(
    "stream_rate_alert",
    s"""WITH ${sixHourCountCtes},
      |l AS (
      |  SELECT win_start, event_type, n,
      |    lag(n) OVER (PARTITION BY event_type ORDER BY win_start) AS prev
      |  FROM c)
      |SELECT win_start, event_type, n, prev,
      |  COALESCE(n > prev * 2, FALSE) AS alert,
      |  CASE WHEN prev IS NULL THEN NULL
      |    WHEN n >= prev THEN ((n - prev) * 1000000) // prev
      |    ELSE -(((prev - n) * 1000000) // prev) END AS chg_ppm
      |FROM l ORDER BY event_type, win_start""") { (s, d) =>
    val counts = sixHourCounts(s, d)
    graft.streaming.StreamOps.rateAlerts(counts)
      .orderBy(col("event_type"), col("win_start"))
  }

  /** Custom-state sessionization graded (r12b) — the
    * `flatMapGroupsWithState` path (StreamOps.customSessions,
    * previously MemoryStream-spec-only) run through its BATCH twin:
    * the same Dataset API executes in batch mode, where each user's
    * whole history arrives as one group and the function emits every
    * session it CLOSES — the still-open trailing session stays in
    * state, exactly as it would mid-stream. The oracle replicates
    * that emit-on-close contract: gaps-and-islands sessions per user
    * minus each user's last island. Scale: one user-keyed exchange
    * (the same one every stateful-streaming operator pays), state is
    * one session struct per live user — bounded by key cardinality,
    * never stream length. */
  val streamCustomSessions: QDef = q(
    "stream_custom_sessions",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_sec
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |              IS NULL THEN 1
      |         WHEN date_diff('second',
      |              lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id),
      |              ts_sec) >= 1800 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM e),
      |ids AS (
      |  SELECT user_id, ts_sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sid, MIN(ts_sec) AS session_start,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM ids GROUP BY user_id, sid),
      |last AS (SELECT user_id, MAX(sid) AS maxsid FROM sess GROUP BY user_id)
      |SELECT s.user_id, s.session_start, s.n_events
      |FROM sess s JOIN last l ON l.user_id = s.user_id AND s.sid < l.maxsid
      |ORDER BY s.user_id, s.session_start""") { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), tsSec(col("ts")).as("ts"))
      .as[graft.streaming.StreamOps.SessionEvent]
    graft.streaming.StreamOps.customSessions(ev).toDF()
      .select(col("user_id"), col("session_start"),
        col("n_events").cast(LongType).as("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Late-data drop audit (r12c) — the question every watermark
    * setting must answer BEFORE it silently drops events: with a
    * 10-minute delay, how many events per type would arrive behind
    * the watermark? The fixture is generated in perfect time order
    * (zero lateness — verified), so arrival time is event time plus a
    * DETERMINISTIC ±30-minute md5 jitter standing in for network
    * delay; the watermark is the running max event time over the
    * (arrival, event_id) order, and an event is dropped when its time
    * lags that max by more than the delay. Batch-only by nature:
    * streaming discards these rows invisibly, so the audit runs
    * offline over the same µs timestamps to SIZE the delay (the
    * number you tune `withWatermark` with in StreamOps). The running
    * max partitions by type over arrival order; in a real deployment
    * this audit runs per source partition (where watermarks actually
    * advance) — the type key here stands in for that partition key
    * at fixture scale. */
  val streamLateDropAudit: QDef = q(
    "stream_late_drop_audit",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::INT
      |         % 3601 - 1800) * 1000000 AS arr
      |  FROM events),
      |w AS (
      |  SELECT event_type, t,
      |    MAX(t) OVER (PARTITION BY event_type ORDER BY arr, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
      |  FROM e)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN t < wm - 600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late_dropped,
      |  CAST(floor(CAST(SUM(CASE WHEN t < wm - 600000000 THEN 1 ELSE 0 END)
      |      AS DOUBLE) * 1000000 / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT)
      |    AS late_ppm
      |FROM w GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t"))
      .withColumn("arr", col("t") +
        (conv(substring(md5(col("event_id").cast(StringType)), 1, 4), 16, 10)
          .cast(IntegerType) % 3601 - 1800).cast(LongType) * 1000000L)
      .select(col("event_type"), col("t"), max(col("t")).over(w).as("wm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("t") < col("wm") - 600000000L, 1L).otherwise(0L))
          .as("n_late_dropped"))
      .select(col("event_type"), col("n_events"), col("n_late_dropped"),
        floor(col("n_late_dropped").cast(DoubleType) * 1000000
          / col("n_events").cast(DoubleType) + 0.5)
          .cast(LongType).as("late_ppm"))
      .orderBy(col("event_type"))
  }

  /** 6-hour tumbling DISTINCT-user counts (r12c) — the windowed
    * unique-visitors number `stream_tumbling_counts` (plain counts)
    * doesn't give. Batch twin uses exact countDistinct; the
    * streaming execution of the same logic is watermarked
    * dropDuplicates on (window, type, user) followed by the window
    * count — state bounded by open-window × active users, the
    * standard exact-uniques-in-stream decomposition (beyond memory
    * range the documented swap is the HLL sketch family). */
  val streamTumblingDistinct: QDef = q(
    "stream_tumbling_distinct",
    """SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS w_start,
      |  event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("n_users"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Windowed exact median (r12r) — the latency-dashboard shape: per
    * 6-hour tumbling window, the LOWER median of event value cents
    * (an actual data value — rank selection, never interpolation, so
    * both engines agree bit-for-bit) plus the window volume. The
    * median rank comes from a row_number window PARTITIONED BY the
    * time bucket with a (cents, event_id) total order — per-partition
    * width follows window density, never stream length, which is
    * exactly the state bound the streaming twin (foreachBatch
    * re-rank, as stream_topk_windowed) relies on. */
  val streamWindowedMedian: QDef = q(
    "stream_windowed_median",
    """WITH b AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
      |    - INTERVAL (CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) % 6) HOUR
      |    AS win_start,
      |    event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT win_start, cents,
      |    row_number() OVER (PARTITION BY win_start
      |      ORDER BY cents, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY win_start) AS n
      |  FROM b)
      |SELECT win_start, CAST(n AS BIGINT) AS n_events,
      |  cents AS median_cents
      |FROM r WHERE rn = (n + 1) // 2
      |ORDER BY win_start""") { (s, d) =>
    val b = Tables.events(s, d)
      .select(window(col("ts"), "6 hours").getField("start").as("win_start"),
        col("event_id"),
        (money(col("value")) * 100).cast(LongType).as("cents"))
    val w = Window.partitionBy(col("win_start"))
      .orderBy(col("cents"), col("event_id"))
    val cnt = Window.partitionBy(col("win_start"))
    b.select(col("win_start"), col("cents"),
        row_number().over(w).as("rn"), count(lit(1)).over(cnt).as("n"))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("win_start"), col("n").as("n_events"),
        col("cents").as("median_cents"))
      .orderBy(col("win_start"))
  }

  /** Stream-static enrichment, graded batch twin (r14e) — the
    * codebook-lookup join of streaming pipelines: the events fact
    * LEFT-broadcast-joins the customer→nation dimension (orphan
    * user_ids — the fixture's real cross-domain gap — map to
    * 'unknown' instead of dropping), then hourly tumbling windows per
    * nation. The streaming execution is
    * `graft.streaming.StreamOps.enrichWithDim` (dim re-read and
    * re-broadcast per micro-batch — Spark's stream-static join
    * contract), MemoryStream-covered in StreamOpsSpec; this batch
    * twin is what the oracle grades, per the §2.9 convention. Scale:
    * dim is nation-wide-per-customer (broadcast at graded scale, SMJ
    * beyond); the window agg carries (hour × nation) combined
    * partials. */
  val streamStaticEnrich: QDef = q(
    "stream_static_enrich",
    """WITH dim AS (
      |  SELECT c_custkey AS user_id, n_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |e AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
      |    COALESCE(d.n_name, 'unknown') AS nation, value
      |  FROM events ev LEFT JOIN dim d ON ev.user_id = d.user_id)
      |SELECT w_start, nation, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY 1, 2
      |ORDER BY w_start, nation""") { (s, d) =>
    val dim = Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("dim_user"), col("n_name"))
    graft.streaming.StreamOps
      .enrichWithDim(Tables.events(s, d)
          .withColumnRenamed("user_id", "dim_user"), dim, "dim_user")
      .groupBy(window(col("ts"), "1 hour"),
        coalesce(col("n_name"), lit("unknown")).as("nation"))
      .agg(count(lit(1)).as("n"), graft.Protocol.sumMoney(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("nation"), col("n"),
        col("sum_value"))
      .orderBy(col("w_start"), col("nation"))
  }

  val all: Seq[QDef] = Seq(
    streamTumblingCounts, streamSlidingWindows,
    streamSessionWindows, streamDedupKeyed, streamIntervalJoin,
    streamTopkWindowed, streamRateAlert, streamCustomSessions,
    streamLateDropAudit, streamTumblingDistinct, streamWindowedMedian,
    streamStaticEnrich)
}
