package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.5 — window functions.
  *
  * Every window ORDER BY carries a unique tie-break key (D1), so frame
  * contents — and therefore every analytic value — are identical
  * across engines and across partition counts. One shuffle per
  * distinct partitioning; Spark plans consecutive windows over the
  * same (partition, order) spec into a single WindowExec.
  */
object Windows {

  private def overCust = Window.partitionBy(col("o_custkey"))

  val winRankDenseRow: QDef = q(
    "win_rank_dense_row",
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  rank()       OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  row_number() OVER w AS rn
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = overCust.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** lag/lead over the event stream; ts second-truncated (D4) and the
    * gap computed as an exact BIGINT of seconds. */
  val winLagLead: QDef = q(
    "win_lag_lead",
    """SELECT event_id, user_id,
      |  lag(event_type)  OVER w AS prev_type,
      |  lead(event_type) OVER w AS next_type,
      |  date_diff('second', lag(ts_sec) OVER w, ts_sec) AS gap_sec
      |FROM (SELECT event_id, user_id, event_type,
      |             date_trunc('second', ts) AS ts_sec FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsSec(col("ts")).as("ts_sec"))
      .select(col("event_id"), col("user_id"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        (unix_timestamp(col("ts_sec")) - unix_timestamp(lag(col("ts_sec"), 1).over(w)))
          .as("gap_sec"))
      .orderBy(col("event_id"))
  }

  /** Running exact-decimal revenue per customer over order date. */
  val winRunningSum: QDef = q(
    "win_running_sum",
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = overCust.orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("order_date"),
        outDouble(sum(money(col("o_totalprice"))).over(w)).as("run_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** 4-row sliding average — ROWS frame (RANGE + ties is ambiguous),
    * D3 avg from exact frame sum / frame count. */
  val winSlidingAvg: QDef = q(
    "win_sliding_avg",
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
      |    / COUNT(*) OVER w AS moving_avg
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = overCust.orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        (outDouble(sum(money(col("o_totalprice"))).over(w))
          / count(lit(1)).over(w)).as("moving_avg"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** ntile / percent_rank / cume_dist over a globally ordered key with
    * unique tie-break.
    *
    * Spark's own distribution functions over an empty PARTITION BY
    * plan a SINGLE-PARTITION WindowExec — the one construct that
    * cannot scale. This formulation stays distributed: range-partition
    * on the order key, number rows within each partition (a
    * partitioned window — parallel), then add per-partition offsets
    * computed from the 32-row partition-count table via a triangular
    * self-join (no global window anywhere, no driver collect). The
    * order key (c_acctbal, c_custkey) is unique, so rank == position
    * and every analytic value is derived from (rank, n) with the same
    * exact divisions the oracle's window functions compute:
    *   percent_rank = (r-1)/(n-1), cume_dist = r/n (no ties), and
    *   ntile(4) by the first-(n%4)-buckets-get-the-extra-row rule. */
  val winDistribution: QDef = q(
    "win_distribution",
    """SELECT c_custkey, c_acctbal,
      |  ntile(4)       OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist()    OVER w AS cume
      |FROM customer
      |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""") { (s, d) =>
    val keys = Seq(col("c_acctbal"), col("c_custkey"))
    val withPid = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .repartitionByRange(32, keys: _*)
      .withColumn("pid", spark_partition_id())
    // per-pid row numbers and sizes share ONE shuffle/WindowExec pass
    val wpid = Window.partitionBy(col("pid"))
    // `local` feeds counts/offsets/nRow AND the final join. Each
    // consumer must observe the SAME pid assignment, and a re-executed
    // range exchange re-samples boundaries from a fresh RDD-id-derived
    // seed — exchange reuse usually dedups the consumers onto one
    // exchange, but that is an optimizer behavior, not a guarantee.
    // Persisting pins one materialized pid assignment for all of them.
    val local = withPid.select(col("c_custkey"), col("c_acctbal"), col("pid"),
      row_number().over(wpid.orderBy(keys: _*)).as("lrn"),
      count(lit(1)).over(wpid).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = local.select(col("pid"), col("cnt")).distinct()
    val offsets = counts
      .join(counts.select(col("pid").as("pid2"), col("cnt").as("cnt2")),
        col("pid2") < col("pid"), "left")
      .groupBy(col("pid"))
      .agg(coalesce(sum(col("cnt2")), lit(0L)).as("off"))
    val nRow = counts.agg(sum(col("cnt")).as("n"))
    local
      .join(broadcast(offsets), "pid")
      .crossJoin(broadcast(nRow))
      .withColumn("r", col("off") + col("lrn"))
      .select(col("c_custkey"), col("c_acctbal"),
        expr("""CAST(CASE WHEN r <= (n % 4) * (n div 4 + 1)
               |     THEN (r - 1) div (n div 4 + 1) + 1
               |     ELSE n % 4 + (r - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1
               |     END AS INT)""".stripMargin).as("quartile"),
        // n=1 makes the divisor 0 → null, but percent_rank() defines
        // the single-row case as 0.0 (the quartile CASE already
        // handles n<4; this term must too).
        when(col("n") > 1,
          (col("r") - 1).cast(DoubleType) / (col("n") - 1))
          .otherwise(lit(0.0)).as("pct_rank"),
        (col("r").cast(DoubleType) / col("n")).as("cume"))
      .orderBy(col("c_custkey"))
  }

  /** first/last_value with the frame made EXPLICIT — the default
    * (unbounded preceding .. current row) silently breaks last_value. */
  val winFirstLast: QDef = q(
    "win_first_last",
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_orderkey) OVER w AS best_order,
      |  last_value(o_orderkey)  OVER w AS worst_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = overCust.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("best_order"),
        last(col("o_orderkey")).over(w).as("worst_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Top-3 per group via the custom `GroupedTopKExec` operator
    * (graft.plans): bounded k-row heaps per group inside each
    * partition after one clustering shuffle — O(n log k) with
    * O(groups×k) memory, instead of the window formulation's full
    * per-group sort. The surviving ≤3 rows per brand then get their
    * rank from a window over that tiny remnant (identical rn values:
    * the heap keeps exactly the rows the full window would rank 1-3,
    * under the same (price DESC, partkey) tie-broken order). */
  val topkPerGroup: QDef = q(
    "topk_per_group",
    """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    row_number() OVER (PARTITION BY p_brand
      |                       ORDER BY p_retailprice DESC, p_partkey) AS rn
      |  FROM part)
      |WHERE rn <= 3
      |ORDER BY p_brand, rn""") { (s, d) =>
    val pruned = graft.plans.GroupedTopK.topkPerGroup(
      Tables.part(s, d).select(col("p_brand"), col("p_partkey"), col("p_retailprice")),
      groupCols = Seq("p_brand"),
      orderBy = Seq(("p_retailprice", false), ("p_partkey", true)),
      k = 3)
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    pruned
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        row_number().over(w).as("rn"))
      .orderBy(col("p_brand"), col("rn"))
  }

  /** VALUE-range frame (RANGE BETWEEN 500 PRECEDING): the frame is
    * defined by the order key's value distance, so its contents are
    * deterministic even under order-key ties (all peers included) —
    * the one frame kind that needs no tie-break key. Exact decimal
    * sum inside; both engines compare IEEE doubles for the bound. */
  val winRangeNumeric: QDef = q(
    "win_range_numeric",
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice
      |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_total
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = overCust.orderBy(col("o_totalprice"))
      .rangeBetween(-500, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        outDouble(sum(money(col("o_totalprice"))).over(w)).as("near_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** SQL twin of `purchaseCalendar` as the CTE chain e, daily, spans,
    * cal, g; `g` carries the day's purchase total in cents as `cents`. */
  private def purchaseCalendarCtes(cents: String): String =
    s"""e AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(value AS DECIMAL(12,2)) AS v, event_type
      |  FROM events),
      |daily AS (
      |  SELECT user_id, day,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN v END) * 100 AS BIGINT) AS $cents
      |  FROM e GROUP BY 1, 2),
      |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
      |cal AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM spans),
      |g AS (SELECT c.user_id, c.day, d.$cents FROM cal c LEFT JOIN daily d USING (user_id, day))""".stripMargin

  /** Shared scaffold of the gap-fill family (`win_fill_locf`,
    * `win_interpolate_linear`): per-user daily purchase totals (NULL
    * on active days without purchases, D2 decimals) left-joined onto
    * each user's span calendar (the `timeseries_gapfill` shape —
    * sequence+explode from the span table, never a global calendar).
    * Catalyst collapses the span aggregate onto the daily aggregate's
    * user exchange and broadcasts the daily side into the join, so
    * one user_id exchange feeds everything downstream, windows
    * included. */
  private def purchaseCalendar(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(12, 2)).as("v"), col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(when(col("event_type") === "purchase", col("v"))).as("pv"))
    val cal = daily
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    cal.join(daily, Seq("user_id", "day"), "left")
  }

  /** IGNORE NULLS window surface: LOCF (last-observation-carried-
    * forward) gap fill (r11). Over the purchase calendar,
    * `last(..., ignoreNulls)` over the cumulative frame forward-fills
    * the last observed purchase total, and a second IGNORE-NULLS
    * window over the observation DAY yields staleness (days since
    * last observation). Per-user work is bounded by that user's span
    * at any corpus size. Both engines fill from identical frames
    * because the window order (user, day) is unique. Outputs are
    * exact CENTS as BIGINT (D2/D12: no raw DECIMAL ever leaves a
    * graded query — the dtype seam the driver's pandas hash trips
    * on), same convention as `win_interpolate_linear`. */
  val winFillLocf: QDef = q(
    "win_fill_locf",
    s"""WITH ${purchaseCalendarCtes("pv")}
      |SELECT user_id, day, pv AS raw_cents,
      |  last_value(pv IGNORE NULLS) OVER w AS filled_cents,
      |  CAST(day - last_value(CASE WHEN pv IS NOT NULL THEN day END IGNORE NULLS)
      |    OVER w AS INTEGER) AS staleness_days
      |FROM g
      |WINDOW w AS (PARTITION BY user_id ORDER BY day
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchaseCalendar(s, d)
      // cents at the calendar grain: (pv*100) of a NULL stays NULL,
      // so this equals the oracle's daily-level CAST(SUM(..)*100).
      .select(col("user_id"), col("day"),
        (col("pv") * 100).cast(LongType).as("c"))
      .select(col("user_id"), col("day"), col("c").as("raw_cents"),
        last(col("c"), ignoreNulls = true).over(w).as("filled_cents"),
        datediff(col("day"),
          last(when(col("c").isNotNull, col("day")), ignoreNulls = true).over(w))
          .as("staleness_days"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Linear interpolation of interior gaps (r11) — the LOCF key's
    * twin for metrics where carry-forward biases (sensor readings,
    * daily rates): missing days between two observations take the
    * straight line between them. Both window DIRECTIONS of the IGNORE
    * NULLS surface are exercised (last over the preceding frame,
    * first over the following frame — each fetching value AND
    * observation day). Determinism: values are CENTS (exact BIGINT),
    * and the interpolation divides one exact integer product by an
    * exact integer span as a single correctly-rounded double op, then
    * floors — identical in both engines, with no reliance on their
    * divergent integer-division signs. NULL outside the first/last
    * observation (nothing to anchor to). */
  val winInterpolateLinear: QDef = q(
    "win_interpolate_linear",
    s"""WITH ${purchaseCalendarCtes("c")},
      |w AS (
      |  SELECT user_id, day, c,
      |    last_value(c IGNORE NULLS) OVER wp AS pc,
      |    last_value(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
      |    first_value(c IGNORE NULLS) OVER wf AS nc,
      |    first_value(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nd
      |  FROM g
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wf AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, day, c AS raw_cents,
      |  CASE WHEN c IS NOT NULL THEN c
      |       WHEN pc IS NULL OR nc IS NULL THEN NULL
      |       ELSE pc + CAST(floor(CAST((nc - pc) * (day - pd) AS DOUBLE) / (nd - pd))
      |         AS BIGINT)
      |  END AS interp_cents
      |FROM w
      |ORDER BY user_id, day""") { (s, d) =>
    val wp = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("c").isNotNull, col("day"))
    purchaseCalendar(s, d)
      // cents at the calendar grain: (pv*100) of a NULL stays NULL,
      // so this equals the oracle's daily-level CAST(SUM(..)*100).
      .select(col("user_id"), col("day"),
        (col("pv") * 100).cast(LongType).as("c"))
      .select(col("user_id"), col("day"), col("c"),
        last(col("c"), ignoreNulls = true).over(wp).as("pc"),
        last(obsDay, ignoreNulls = true).over(wp).as("pd"),
        first(col("c"), ignoreNulls = true).over(wf).as("nc"),
        first(obsDay, ignoreNulls = true).over(wf).as("nd"))
      .select(col("user_id"), col("day"), col("c").as("raw_cents"),
        when(col("c").isNotNull, col("c"))
          .when(col("pc").isNull || col("nc").isNull, lit(null).cast(LongType))
          .otherwise(col("pc") +
            floor(((col("nc") - col("pc")) * datediff(col("day"), col("pd")))
                .cast(DoubleType) / datediff(col("nd"), col("pd")))
              .cast(LongType))
          .as("interp_cents"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Cumulative distinct count (r11, third session) — running number
    * of DISTINCT event types each user has touched, at every event.
    * COUNT(DISTINCT) over a running frame is unsupported (Spark) or
    * O(frame) (engines that allow it); the scale-right formulation is
    * the first-occurrence trick: flag each (user, type)'s first event
    * via row_number, then a plain running SUM of flags over the user
    * timeline. Two windows, but the second reuses nothing heavier
    * than the user exchange — per-user state is one integer, not a
    * distinct-set. Both windows order by raw µs ts + event_id (D1
    * unique tie-break); only the OUTPUT timestamp is second-truncated
    * (D4). */
  val winRunningDistinct: QDef = q(
    "win_running_distinct",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      |  FROM events)
      |SELECT user_id, event_id,
      |  date_trunc('second', CAST(ts AS TIMESTAMP)) AS t, event_type,
      |  CAST(SUM(first_seen) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS n_distinct_types
      |FROM e
      |ORDER BY user_id, event_id""") { (s, d) =>
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        when(row_number().over(wFirst) === 1, 1).otherwise(0).as("first_seen"))
      .select(col("user_id"), col("event_id"), tsSec(col("ts")).as("t"),
        col("event_type"),
        sum(col("first_seen")).over(wRun).cast(LongType).as("n_distinct_types"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Rolling exact median (r11, third session) — order-statistic
    * window the engines don't ship natively (Spark has no windowed
    * percentile; DuckDB's windowed median interpolates): per
    * customer, the median of the last ≤7 orders' totals in exact
    * cents. Formulation both engines define identically: collect the
    * ROWS frame into a list, sort it, index the upper median
    * (size div 2 + 1, 1-based). Frame size is CONSTANT (≤7), so the
    * per-row list is bounded — this is the small-frame regime where
    * list-collect is the right tool; an unbounded-frame median would
    * instead take the two-heap/partition-recombine design. One user
    * exchange; cents stay integers end-to-end (D2). */
  val winRollingMedian: QDef = q(
    "win_rolling_median",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    list(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, cents,
      |  list_sort(win)[len(win) // 2 + 1] AS med_cents,
      |  CAST(len(win) AS INTEGER) AS n_win
      |FROM o
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val cents = (money(col("o_totalprice")) * 100).cast(LongType)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-6, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), cents.as("cents"),
        collect_list(cents).over(w).as("win"))
      .select(col("o_custkey"), col("o_orderkey"), col("cents"),
        expr("element_at(sort_array(win), cast(size(win) div 2 + 1 as int))")
          .as("med_cents"),
        size(col("win")).as("n_win"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Ratio-to-report (r11c) — each order's share of its customer's
    * lifetime total, the classic contribution-analysis window (no
    * ORDER BY: the frame is the whole partition, so Spark plans an
    * unordered WindowExec over one custkey exchange — no per-row
    * sort semantics involved). Share is exact integer ppm via floor
    * division of exact cents; the denominator is computed once per
    * partition, not per row. */
  val winRatioToReport: QDef = q(
    "win_ratio_to_report",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, cents,
      |  CAST(SUM(cents) OVER (PARTITION BY o_custkey) AS BIGINT) AS cust_total_cents,
      |  CAST((cents * 1000000) // SUM(cents) OVER (PARTITION BY o_custkey) AS BIGINT)
      |    AS share_ppm
      |FROM o ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      .withColumn("cust_total_cents", sum(col("cents")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("cents"),
        col("cust_total_cents"),
        expr("(cents * 1000000) div cust_total_cents").as("share_ppm"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Running-max drawdown (r11c) — the running-EXTREMA window the
    * registry lacked (running sum/avg/distinct exist): per user's
    * purchase stream, the peak value so far and the deepest
    * peak-to-current drop. One user window (running max over the
    * µs+event_id total order) folded into a per-user aggregate on
    * the same exchange; exact cents throughout. */
  val winMaxDrawdown: QDef = q(
    "win_max_drawdown",
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents,
      |    epoch_us(ts) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT user_id, cents,
      |    max(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS run_max
      |  FROM e)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(max(run_max) AS BIGINT) AS peak_cents,
      |  CAST(max(run_max - cents) AS BIGINT) AS max_drawdown_cents
      |FROM w GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        (qty(col("value")) * 100).cast(LongType).as("cents"),
        unix_micros(col("ts")).as("us"))
      .select(col("user_id"), col("cents"), max(col("cents")).over(w).as("run_max"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        max(col("run_max")).as("peak_cents"),
        max(col("run_max") - col("cents")).as("max_drawdown_cents"))
      .orderBy(col("user_id"))
  }

  /** Period-over-period change (r11c) — each order's exact signed
    * ppm change vs the customer's previous order. The division is
    * SIGN-DECOMPOSED (positive operands inside the floor division,
    * sign applied after): integer division of a negative numerator
    * is the one place the engines could disagree (floor vs
    * truncate), so no graded expression ever divides a negative.
    * One lag over the (date, orderkey) total order; first order per
    * customer yields NULLs. */
  val winPctChange: QDef = q(
    "win_pct_change",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |l AS (
      |  SELECT o_custkey, o_orderkey, cents,
      |    lag(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM o)
      |SELECT o_custkey, o_orderkey, cents, prev,
      |  CASE WHEN prev IS NULL THEN NULL
      |    WHEN cents >= prev THEN ((cents - prev) * 1000000) // prev
      |    ELSE -(((prev - cents) * 1000000) // prev) END AS chg_ppm
      |FROM l ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("cents"), col("prev"),
        when(col("prev").isNull, lit(null).cast(LongType))
          .when(col("cents") >= col("prev"),
            expr("((cents - prev) * 1000000) div prev"))
          .otherwise(-expr("((prev - cents) * 1000000) div prev"))
          .as("chg_ppm"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Dyadic EWMA (r12) — exponential smoothing over the customer's
    * last 8 orders with α = 1/2, the time-series operator the rolling
    * mean/median family lacks. Exponential weights are normally
    * float-hostile (powₖ(α) diverges across libm builds), so the
    * weights here are exact powers of two — 128,64,…,1 over the
    * 8-term window, normalized by 255 — and the whole smoother is
    * ONE integer dot product + floor division of non-negative cents
    * (both engines truncate = floor for non-negatives). Rows emit
    * only when the full 8-order history exists (a truncated-window
    * EWMA is a different estimator). Eight LAGs share one window
    * spec → a single user-key exchange, O(1) state per row at any
    * scale. */
  val winEwmaDyadic: QDef = q(
    "win_ewma_dyadic",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |l AS (
      |  SELECT o_custkey, o_orderkey, cents,
      |    lag(cents, 1) OVER w AS c1, lag(cents, 2) OVER w AS c2,
      |    lag(cents, 3) OVER w AS c3, lag(cents, 4) OVER w AS c4,
      |    lag(cents, 5) OVER w AS c5, lag(cents, 6) OVER w AS c6,
      |    lag(cents, 7) OVER w AS c7
      |  FROM o
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      |SELECT o_custkey, o_orderkey, cents,
      |  (cents * 128 + c1 * 64 + c2 * 32 + c3 * 16
      |    + c4 * 8 + c5 * 4 + c6 * 2 + c7) // 255 AS ewma_cents
      |FROM l WHERE c7 IS NOT NULL
      |ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      .select(Seq(col("o_custkey"), col("o_orderkey"), col("cents")) ++
        (1 to 7).map(k => lag(col("cents"), k).over(w).as(s"c$k")): _*)
      .filter(col("c7").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"), col("cents"),
        expr("(cents * 128 + c1 * 64 + c2 * 32 + c3 * 16 " +
          "+ c4 * 8 + c5 * 4 + c6 * 2 + c7) div 255").as("ewma_cents"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** RFM customer segmentation (r12) — the classic BI composite:
    * per customer recency (days from last order to the fixed
    * 2001-09-01 anchor), frequency (order count), monetary (exact
    * cents total), each cut into quartiles by ntile(4) over a UNIQUE
    * total order (metric, custkey — D1: ntile ties are engine-
    * arbitrary without it), composed into an 'R#F#M#' segment code
    * and graded as per-segment counts + money. Recency quartile 1 =
    * most recent, F/M quartile 4 = highest (DESC cuts). One customer
    * aggregate + three whole-table ntiles over customer-count rows
    * (the window exchanges carry 1 row per customer, not orders). */
  val orderRfmSegments: QDef = q(
    "order_rfm_segments",
    """WITH c AS (
      |  SELECT o_custkey,
      |    date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-09-01')
      |      AS rec_days,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |t AS (
      |  SELECT o_custkey, rec_days, freq, cents,
      |    ntile(4) OVER (ORDER BY rec_days ASC,  o_custkey) AS rq,
      |    ntile(4) OVER (ORDER BY freq  DESC, o_custkey) AS fq,
      |    ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS mq
      |  FROM c)
      |SELECT 'R' || rq || 'F' || fq || 'M' || mq AS segment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(cents) AS BIGINT) AS segment_cents
      |FROM t
      |GROUP BY segment
      |ORDER BY segment""") { (s, d) =>
    val c = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit("2001-09-01").cast(DateType),
          max(col("o_orderdate")).cast(DateType)).cast(LongType).as("rec_days"),
        count(lit(1)).as("freq"),
        sum((money(col("o_totalprice")) * 100).cast(LongType)).as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A native ntile(4) OVER (ORDER BY …) would plan the banned
    // single-partition window (PlanInvariantsSpec). Each quartile cut
    // instead uses the distributed global-rank machinery
    // (win_distribution's shape): range-partition on the cut key,
    // rank locally, add per-partition offsets — then the exact
    // ntile(4) closed form on (rank, n). Three cuts = three passes
    // over the |customers|-row AGGREGATE (never the fact table).
    val t = Seq(
      ("rq", Seq(col("rec_days").asc, col("o_custkey").asc)),
      ("fq", Seq(col("freq").desc, col("o_custkey").asc)),
      ("mq", Seq(col("cents").desc, col("o_custkey").asc)))
      .foldLeft(c.select(col("o_custkey"), col("rec_days"), col("freq"), col("cents"))) {
        case (df, (qcol, keys)) => withQuartile(df, keys, qcol)
      }
    t.select(concat(lit("R"), col("rq"), lit("F"), col("fq"),
        lit("M"), col("mq")).as("segment"), col("cents"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("segment_cents"))
      .orderBy(col("segment"))
  }

  /** Distributed exact ntile(4): global rank via range partitioning +
    * per-partition offsets (no single-partition WindowExec — the
    * win_distribution machinery, factored for reuse), then the
    * first-(n%4)-buckets-get-the-extra-row closed form. */
  private def withQuartile(df: org.apache.spark.sql.DataFrame,
      keys: Seq[org.apache.spark.sql.Column],
      qcol: String): org.apache.spark.sql.DataFrame = {
    // 8-wide range partitioning: the input is the CUSTOMER aggregate
    // (|customers| rows), where 32-wide task overhead only hurts
    // (measured solo at sf0.1: 2.00 s @ 32 vs 1.83 s @ 8; the
    // remaining bulk is C2 jit of the three passes' generated code,
    // jit_ms ≈ 4.4 s in-region — see PLANS.md). At real scale this
    // width is a parameter sized to the aggregate's row count, not
    // the session's core count.
    val withPid = df.repartitionByRange(8, keys: _*)
      .withColumn("gr_pid", spark_partition_id())
    val wpid = Window.partitionBy(col("gr_pid"))
    // persist pins ONE materialized pid assignment for every consumer
    // (a re-executed range exchange re-samples boundaries)
    val local = withPid
      .withColumn("gr_lrn", row_number().over(wpid.orderBy(keys: _*)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r19-opt: the offsets machinery referenced the persisted rank
    // table FOUR times per pass (counts distinct + a counts
    // self-join + the total + the main scan) — the logical tree
    // quadrupled per quartile cut and three cuts planned a 381 KB
    // formatted tree. The ≤8 per-partition counts now collapse to
    // ONE broadcast array row, and each row derives its offset and
    // the total row-locally (HOFs over ≤8 elements, never under a
    // Generate): two references to the rank table, same exact ranks.
    val carr = local.groupBy(col("gr_pid")).agg(count(lit(1)).as("gr_cnt"))
      .agg(sort_array(collect_list(struct(col("gr_pid"), col("gr_cnt"))))
        .as("gr_arr"))
    local.crossJoin(broadcast(carr))
      .withColumn("gr_off", expr("aggregate(filter(gr_arr, " +
        "x -> x.gr_pid < gr_pid), CAST(0 AS BIGINT), (a, x) -> a + x.gr_cnt)"))
      .withColumn("gr_n", expr("aggregate(gr_arr, CAST(0 AS BIGINT), " +
        "(a, x) -> a + x.gr_cnt)"))
      .withColumn("gr_r", col("gr_off") + col("gr_lrn"))
      .withColumn(qcol, expr(
        """CAST(CASE WHEN gr_r <= (gr_n % 4) * (gr_n div 4 + 1)
          |     THEN (gr_r - 1) div (gr_n div 4 + 1) + 1
          |     ELSE gr_n % 4 + (gr_r - 1 - (gr_n % 4) * (gr_n div 4 + 1))
          |          div (gr_n div 4) + 1
          |     END AS INT)""".stripMargin))
      .drop("gr_pid", "gr_lrn", "gr_arr", "gr_off", "gr_n", "gr_r")
  }

  /** Rolling 7-day OLS slope (r12f) — the trailing trend a
    * monitoring dashboard draws over each event type's daily value:
    * per (event_type, day), the least-squares slope of daily cents
    * over the last 7 CALENDAR days (RANGE frame on the integer day
    * number, so gaps shorten the window instead of silently widening
    * it the way a ROWS frame would). EXACT-INTEGER: with x = day
    * number since 2024-01-01 (small by construction — centering the
    * regressor is what keeps n·Σxy − Σx·Σy cancellation-free in
    * BIGINT) and y = daily cents, slope = (n·Σxy − Σx·Σy) /
    * (n·Σx² − (Σx)²) emitted as floor-micro-cents/day with the
    * win_pct_change sign decomposition (Spark `div` truncates,
    * DuckDB `//` floors — they agree only on nonnegative operands).
    * n = 1 makes the denominator 0 → NULL slope. One partitioned
    * window over the tiny daily aggregate; nothing after the first
    * agg scales with the fact table. */
  val winRollingSlope: QDef = q(
    "win_rolling_slope",
    s"""WITH ${EventAnalytics.dayNoCentsCte},
      |w AS (
      |  SELECT event_type, day_no, y,
      |    CAST(COUNT(*) OVER win AS BIGINT) AS n,
      |    CAST(SUM(day_no) OVER win AS BIGINT) AS sx,
      |    CAST(SUM(y) OVER win AS BIGINT) AS sy,
      |    CAST(SUM(day_no * y) OVER win AS BIGINT) AS sxy,
      |    CAST(SUM(day_no * day_no) OVER win AS BIGINT) AS sxx
      |  FROM daily
      |  WINDOW win AS (PARTITION BY event_type ORDER BY day_no
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT event_type, day_no, y, n,
      |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
      |  FROM w)
      |SELECT event_type, day_no, y AS day_cents, n AS n_days,
      |  CAST(CASE WHEN den = 0 THEN NULL
      |       WHEN num >= 0 THEN (num * 1000000) // den
      |       ELSE -(((-num) * 1000000) // den) END AS BIGINT) AS slope_micro
      |FROM g ORDER BY event_type, day_no""") { (s, d) =>
    val daily = EventAnalytics.dayNoCents(s, d)
    val win = Window.partitionBy(col("event_type")).orderBy(col("day_no"))
      .rangeBetween(-6, Window.currentRow)
    val w = daily.select(col("event_type"), col("day_no"), col("y"),
      count(lit(1)).over(win).as("n"),
      sum(col("day_no")).over(win).cast(LongType).as("sx"),
      sum(col("y")).over(win).as("sy"),
      sum(col("day_no").cast(LongType) * col("y")).over(win).as("sxy"),
      sum(col("day_no").cast(LongType) * col("day_no")).over(win).as("sxx"))
    val g = w
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
    g.select(col("event_type"), col("day_no"),
        col("y").as("day_cents"), col("n").as("n_days"),
        when(col("den") === 0, lit(null).cast(LongType))
          .when(col("num") >= 0,
            expr("CAST((num * 1000000) div den AS BIGINT)"))
          .otherwise(expr("CAST(-(((-num) * 1000000) div den) AS BIGINT)"))
          .as("slope_micro"))
      .orderBy(col("event_type"), col("day_no"))
  }

  /** Anchored VWAP (r12p) — the volume-weighted average price a
    * trading/pricing desk tracks per instrument from an anchor date:
    * per BRAND_1 part in ship-date order, cumulative revenue over
    * cumulative quantity. Both cumulants stay EXACT BIGINT (cents ×
    * tenth-units) in per-part windows with the (date, orderkey,
    * linenumber) total-order tie-break, and the VWAP itself is one
    * floor division of nonnegative longs per row — micro-cents per
    * tenth-unit, bit-identical in both engines. Scale posture: one
    * hash exchange on the part key feeds both windows (same spec →
    * one WindowExec); the brand filter broadcasts from the 25-row
    * dim. Output bounded by the filtered brand's line items. */
  val winAnchoredVwap: QDef = q(
    "win_anchored_vwap",
    """WITH li AS (
      |  SELECT l_partkey, l_orderkey, l_linenumber,
      |    CAST(l_shipdate AS DATE) AS sd,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT) AS q10
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#1'),
      |c AS (
      |  SELECT l_partkey, sd, cents, q10,
      |    CAST(SUM(cents) OVER w AS BIGINT) AS cum_cents,
      |    CAST(SUM(q10) OVER w AS BIGINT) AS cum_q10
      |  FROM li
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY sd, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT l_partkey, sd, cents, q10, cum_cents, cum_q10,
      |  CAST(cum_cents * 1000000 // cum_q10 AS BIGINT) AS vwap_micro
      |FROM c ORDER BY l_partkey, sd, cum_cents""") { (s, d) =>
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(DateType).as("sd"),
        (money(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
        (qty(col("l_quantity")) * 10).cast(LongType).as("q10"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("sd"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("l_partkey"), col("sd"), col("cents"), col("q10"),
        sum(col("cents")).over(w).as("cum_cents"),
        sum(col("q10")).over(w).as("cum_q10"))
      .withColumn("vwap_micro",
        expr("CAST(cum_cents * 1000000 div cum_q10 AS BIGINT)"))
      .orderBy(col("l_partkey"), col("sd"), col("cum_cents"))
  }

  /** Time-weighted average value per user (r14e) — the TWAP/
    * time-weighted-gauge statistic monitoring and finance both read
    * (a value that held for 50 minutes must outweigh one that held
    * for 2 seconds — the plain AVG the events family already grades
    * cannot say that): each event's cents weighted by the EXACT µs
    * until the user's next event (lead over the user-partitioned
    * (ts, event_id) order), TWAP = Σ cents·dt ÷ Σ dt by floor
    * division. Pure BIGINT: Σ cents·dt ≤ max_cents × observed span
    * regardless of row count, so int64 holds at any corpus scale.
    * Last event per user carries no interval (standard convention).
    * One user-partitioned window + one user agg. */
  val winTimeWeightedAvg: QDef = q(
    "win_time_weighted_avg",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |g AS (
      |  SELECT user_id, cents,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt
      |  FROM e)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dt) AS BIGINT) AS span_us,
      |  CAST(SUM(cents * dt) AS BIGINT) // CAST(SUM(dt) AS BIGINT)
      |    AS twap_cents
      |FROM g WHERE dt IS NOT NULL AND dt > 0
      |GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        (graft.Protocol.money(col("value")) * 100).cast(LongType).as("cents"))
      .select(col("user_id"), col("cents"),
        (lead(col("t"), 1).over(w) - col("t")).as("dt"))
      .filter(col("dt").isNotNull && col("dt") > 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("span_us"),
        // sign-safe by MEASUREMENT (r15, corrects the ADVICE-r14
        // premise): DuckDB 1.0.0's `//` on BIGINT TRUNCATES toward
        // zero exactly like Spark's `div` (probed: -7 // 2 → -3), so
        // the bare `div` is already the identical spelling on every
        // sign — no pmod rewrite needed, for ANY cents sign.
        expr("CAST(sum(cents * dt) div sum(dt) AS BIGINT)")
          .as("twap_cents"))
      .orderBy(col("user_id"))
  }

  /** Conditional-reset running sum (r15) — the window shape ledgers
    * and battery/quota meters need that no graded win_ key had: a
    * per-user running cents total that RESETS after every purchase
    * event. Segment number = count of purchases strictly BEFORE the
    * row (unbounded-preceding-to-1-preceding frame, so the purchase
    * row itself closes its segment), then the running sum restarts
    * inside each (user, segment) partition. Both windows are
    * user-partitioned — per-user state at any scale, never a global
    * funnel. */
  val winCumulativeReset: QDef = q(
    "win_cumulative_reset",
    """WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      |  FROM events),
      |seg AS (
      |  SELECT event_id, user_id, ts, cents,
      |    COALESCE(SUM(is_p) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg_no
      |  FROM e)
      |SELECT event_id, user_id, CAST(seg_no AS BIGINT) AS seg_no,
      |  CAST(SUM(cents) OVER (PARTITION BY user_id, seg_no
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS run_cents
      |FROM seg ORDER BY user_id, event_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seg = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        (money(col("value")) * 100).cast(LongType).as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .select(col("event_id"), col("user_id"), col("ts"), col("cents"),
        coalesce(sum(col("is_p")).over(wPrev), lit(0L)).as("seg_no"))
    val wRun = Window.partitionBy(col("user_id"), col("seg_no"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg.select(col("event_id"), col("user_id"),
        col("seg_no").cast(LongType).as("seg_no"),
        sum(col("cents")).over(wRun).cast(LongType).as("run_cents"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Rolling correlation window (r16) — "is this customer's spend
    * trending with time": per customer, the Pearson correlation
    * between order date (day number) and order value over the last
    * <= 8 orders, from six integer window sums over ONE
    * user-partitioned ROWS frame (n, Σx, Σy, Σx², Σy², Σxy — the same
    * frame, so one exchange). Reported as the SIGNED squared
    * correlation in floor-ppm: corr²·sign(cov), with Sxy² and Sxx·Syy
    * ridden through DECIMAL(38)/HUGEINT and the division split on the
    * sign so both engines floor nonnegative operands only; NULL when
    * either marginal variance is 0 (constant window). The 8-row frame
    * bounds every operand at any corpus scale. */
  val winRollingCorr: QDef = q(
    "win_rolling_corr",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS x,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM orders),
      |w AS (
      |  SELECT o_custkey, o_orderkey, x, y,
      |    CAST(COUNT(*) OVER win AS BIGINT) AS n,
      |    CAST(SUM(x) OVER win AS BIGINT) AS sx,
      |    CAST(SUM(y) OVER win AS BIGINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) OVER win AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) OVER win AS syy,
      |    SUM(CAST(x AS HUGEINT) * y) OVER win AS sxy
      |  FROM o
      |  WINDOW win AS (PARTITION BY o_custkey ORDER BY x, o_orderkey
      |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
      |c AS (
      |  SELECT o_custkey, o_orderkey, n,
      |    n * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
      |    n * sxx - CAST(sx AS HUGEINT) * sx AS vx,
      |    n * syy - CAST(sy AS HUGEINT) * sy AS vy
      |  FROM w)
      |SELECT o_custkey, o_orderkey, n, CAST(cxy AS BIGINT) AS cov_num,
      |  CASE WHEN vx = 0 OR vy = 0 THEN CAST(NULL AS BIGINT)
      |    WHEN cxy >= 0 THEN CAST(cxy * cxy * 1000000 // (vx * vy) AS BIGINT)
      |    ELSE -CAST(cxy * cxy * 1000000 // (vx * vy) AS BIGINT) END
      |    AS corr2_signed_ppm
      |FROM c ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
          + " AS BIGINT)").as("x"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("y"))
    val win = Window.partitionBy(col("o_custkey"))
      .orderBy(col("x"), col("o_orderkey")).rowsBetween(-7, 0)
    val w = o.select(col("o_custkey"), col("o_orderkey"), col("x"), col("y"),
      count(lit(1)).over(win).as("n"),
      sum(col("x")).over(win).as("sx"),
      sum(col("y")).over(win).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).over(win).as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).over(win).as("syy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).over(win).as("sxy"))
    val c = w.select(col("o_custkey"), col("o_orderkey"), col("n"),
      expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("cxy"),
      expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("vx"),
      expr("n * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("vy"))
    c.select(col("o_custkey"), col("o_orderkey"), col("n"),
        col("cxy").cast(LongType).as("cov_num"),
        expr("CASE WHEN vx = 0 OR vy = 0 THEN CAST(NULL AS BIGINT)"
          + " WHEN cxy >= 0 THEN CAST(cxy * cxy * 1000000 div (vx * vy)"
          + " AS BIGINT)"
          + " ELSE -CAST(cxy * cxy * 1000000 div (vx * vy) AS BIGINT) END")
          .as("corr2_signed_ppm"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Bollinger bands (r17) — the rolling mean ± 2σ envelope next to
    * `win_rolling_corr` (same ONE-exchange multi-sum frame
    * discipline): per event type, daily cents mass with its trailing
    * 7-day band and the outside-band flag (the volatility monitor an
    * ops dashboard draws). The window sums (n, Σx, Σx²) are exact
    * integers; the band is a fixed float chain over them. OPERAND
    * BOUND (documented, the welch rule's float analogue): the
    * variance numerator n·Σx² − (Σx)² stays below 2^53 up to daily
    * masses of ~$4·10^5 over the 7-row frame, so its BIGINT → DOUBLE
    * conversion is EXACT in both engines — at bigger money, pre-floor
    * the daily mass to coarser units first. /, ·, sqrt are then
    * correctly rounded, ROUND(…,6) defense. */
  val winBollingerBands: QDef = q(
    "win_bollinger_bands",
    """WITH dly AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, cents,
      |    CAST(COUNT(*) OVER win AS BIGINT) AS n,
      |    CAST(SUM(cents) OVER win AS BIGINT) AS sx,
      |    CAST(SUM(cents * cents) OVER win AS BIGINT) AS sxx
      |  FROM dly
      |  WINDOW win AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT event_type, day, cents, n,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
      |    CASE WHEN n <= 1 THEN NULL
      |      ELSE sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        / CAST(n * (n - 1) AS DOUBLE) / CAST(n AS DOUBLE)) END AS sd_c
      |  FROM w)
      |SELECT event_type, day, cents, n,
      |  ROUND(mean_c, 6) AS mean_cents,
      |  ROUND(mean_c - 2.0 * sd_c, 6) AS band_lo,
      |  ROUND(mean_c + 2.0 * sd_c, 6) AS band_hi,
      |  CASE WHEN sd_c IS NULL THEN NULL
      |    ELSE CAST(CAST(cents AS DOUBLE) < mean_c - 2.0 * sd_c
      |      OR CAST(cents AS DOUBLE) > mean_c + 2.0 * sd_c AS INT) END
      |    AS outside_band
      |FROM b ORDER BY event_type, day""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dly = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .cast(LongType).as("cents"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    val w = dly.select(col("event_type"), col("day"), col("cents"),
      count(lit(1)).over(win).as("n"),
      sum(col("cents")).over(win).as("sx"),
      sum(col("cents") * col("cents")).over(win).as("sxx"))
    val b = w.select(col("event_type"), col("day"), col("cents"), col("n"),
      (col("sx").cast(DoubleType) / col("n").cast(DoubleType)).as("mean_c"),
      when(col("n") <= 1, lit(null).cast(DoubleType))
        .otherwise(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType)
          / (col("n") * (col("n") - 1)).cast(DoubleType)
          / col("n").cast(DoubleType))).as("sd_c"))
    b.select(col("event_type"), col("day"), col("cents"), col("n"),
        round(col("mean_c"), 6).as("mean_cents"),
        round(col("mean_c") - lit(2.0) * col("sd_c"), 6).as("band_lo"),
        round(col("mean_c") + lit(2.0) * col("sd_c"), 6).as("band_hi"),
        when(col("sd_c").isNull, lit(null).cast(IntegerType))
          .otherwise((col("cents").cast(DoubleType)
            < col("mean_c") - lit(2.0) * col("sd_c")
            || col("cents").cast(DoubleType)
            > col("mean_c") + lit(2.0) * col("sd_c")).cast(IntegerType))
          .as("outside_band"))
      .orderBy(col("event_type"), col("day"))
  }

  /** 14-day RSI, SMA variant (r18b) — Wilder's relative strength
    * over daily revenue per event type, in the simple-moving-average
    * form whose windowed sums stay EXACT integers (the classic
    * recursive EMA form is not distributable without a float
    * recursion): daily delta vs the prior day (type-partitioned lag),
    * gains/losses split, 14-day ROWS sums, and
    * RSI·ppm = 10⁶·Σgain div (Σgain + Σloss) — the averaging
    * denominators cancel, so the whole indicator is one exact
    * rational. Rows emitted once 14 full deltas exist (row 15
    * onward). Flat-fortnight (both sums zero) guards to NULL. All
    * windows partitioned by type over day totals — day-count-sized
    * frames. */
  val winRsiSma: QDef = q(
    "win_rsi_sma",
    s"""WITH ${EventAnalytics.dailyCentsCte},
      |dl AS (
      |  SELECT event_type, day, cents,
      |    cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day)
      |      AS delta,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM dtot),
      |gl AS (
      |  SELECT event_type, day, rn,
      |    GREATEST(delta, 0) AS gain, GREATEST(-delta, 0) AS loss
      |  FROM dl),
      |w AS (
      |  SELECT event_type, day, rn,
      |    CAST(SUM(gain) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS gs,
      |    CAST(SUM(loss) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS ls
      |  FROM gl)
      |SELECT event_type, day, gs AS gain_sum, ls AS loss_sum,
      |  CASE WHEN gs + ls = 0 THEN NULL
      |    ELSE CAST(gs * 1000000 // (gs + ls) AS BIGINT) END AS rsi_ppm
      |FROM w WHERE rn >= 15
      |ORDER BY event_type, day""") { (s, d) =>
    val dtot = EventAnalytics.dailyCentsGrouped(s, d)
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wOrd.rowsBetween(-13, Window.currentRow)
    val dl = dtot
      .withColumn("delta", col("cents") - lag(col("cents"), 1).over(wOrd))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("gain", greatest(col("delta"), lit(0L)))
      .withColumn("loss", greatest(-col("delta"), lit(0L)))
      .withColumn("gs", sum(col("gain")).over(w14).cast(LongType))
      .withColumn("ls", sum(col("loss")).over(w14).cast(LongType))
    dl.filter(col("rn") >= 15)
      .select(col("event_type"), col("day"), col("gs").as("gain_sum"),
        col("ls").as("loss_sum"),
        when(col("gs") + col("ls") === 0, lit(null).cast(LongType))
          .otherwise(expr("gs * 1000000 div (gs + ls)")).as("rsi_ppm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Stochastic oscillator %K/%D (r18b) — where does today's revenue
    * sit inside the last fortnight's range? %K·ppm =
    * 10⁶·(close − low₁₄) div (high₁₄ − low₁₄) over type-partitioned
    * 14-row min/max windows, %D = the 3-day SMA of %K spelled as an
    * exact floor-mean of the three ppm values (lag pair + div 3 —
    * a windowed AVG would be a float). Emitted once both the full
    * fortnight and three %K values exist (row 16 onward);
    * flat-range days guard %K to NULL and any NULL in the %D
    * triple propagates. Same dtot base and window discipline as
    * the RSI twin. */
  val winStochasticOsc: QDef = q(
    "win_stochastic_osc",
    s"""WITH ${EventAnalytics.dailyCentsCte},
      |w AS (
      |  SELECT event_type, day, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
      |    CAST(MIN(cents) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS lo,
      |    CAST(MAX(cents) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
      |  FROM dtot),
      |k AS (
      |  SELECT event_type, day, rn, lo, hi,
      |    CASE WHEN hi = lo THEN NULL
      |      ELSE CAST((cents - lo) * 1000000 // (hi - lo) AS BIGINT) END
      |      AS k_ppm
      |  FROM w),
      |kd AS (
      |  SELECT event_type, day, rn, k_ppm,
      |    lag(k_ppm, 1) OVER (PARTITION BY event_type ORDER BY day) AS k1,
      |    lag(k_ppm, 2) OVER (PARTITION BY event_type ORDER BY day) AS k2
      |  FROM k)
      |SELECT event_type, day, k_ppm,
      |  CAST((k_ppm + k1 + k2) // 3 AS BIGINT) AS d_ppm
      |FROM kd WHERE rn >= 16
      |ORDER BY event_type, day""") { (s, d) =>
    val dtot = EventAnalytics.dailyCentsGrouped(s, d)
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wOrd.rowsBetween(-13, Window.currentRow)
    val k = dtot
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("lo", min(col("cents")).over(w14).cast(LongType))
      .withColumn("hi", max(col("cents")).over(w14).cast(LongType))
      .withColumn("k_ppm", when(col("hi") === col("lo"),
          lit(null).cast(LongType))
        .otherwise(expr("(cents - lo) * 1000000 div (hi - lo)")))
    k.withColumn("k1", lag(col("k_ppm"), 1).over(wOrd))
      .withColumn("k2", lag(col("k_ppm"), 2).over(wOrd))
      .filter(col("rn") >= 16)
      .select(col("event_type"), col("day"), col("k_ppm"),
        expr("CAST((k_ppm + k1 + k2) div 3 AS BIGINT)").as("d_ppm"))
      .orderBy(col("event_type"), col("day"))
  }

  val all: Seq[QDef] = Seq(
    winRankDenseRow, winLagLead, winRunningSum, winSlidingAvg,
    winDistribution, winFirstLast, topkPerGroup, winRangeNumeric,
    winFillLocf, winInterpolateLinear, winRunningDistinct, winRollingMedian,
    winRatioToReport, winMaxDrawdown, winPctChange, winEwmaDyadic,
    orderRfmSegments, winRollingSlope, winAnchoredVwap, winTimeWeightedAvg,
    winCumulativeReset, winRollingCorr, winBollingerBands, winRsiSma,
    winStochasticOsc)
}
