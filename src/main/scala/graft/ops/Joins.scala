package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, LongType, TimestampType}

/** SURVEY.md §2.3 — join family.
  *
  * Scale posture: dimension sides (`part`, `nation`, `region`,
  * `customer`) are broadcast — explicitly where the pattern is the
  * reference's codebook lookup, via AQE elsewhere. Fact-fact joins
  * shuffle on their keys and sort-merge; at 100 TB those keys are the
  * natural bucketing/partitioning columns, so the same plan holds.
  */
object Joins {

  val joinInnerEqui: QDef = q(
    "join_inner_equi",
    """SELECT o_orderkey, c_custkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""") { (s, d) =>
    Tables.orders(s, d).join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** The reference's codebook-lookup shape: fact x small dim with an
    * explicit broadcast hint — no shuffle of the fact side at any
    * scale. */
  val joinBroadcastDim: QDef = q(
    "join_broadcast_dim",
    """SELECT l_orderkey, l_linenumber, p_brand, p_retailprice
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |ORDER BY l_orderkey, l_linenumber, p_brand, p_retailprice""") { (s, d) =>
    // (l_orderkey, l_linenumber) is NOT unique — order by all outputs (D1).
    Tables.lineitem(s, d).join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"), col("p_retailprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_brand"), col("p_retailprice"))
  }

  /** Left outer keeps customers even when the filtered order side has
    * no match; NULL sort position pinned per D5. */
  val joinLeftOuter: QDef = q(
    "join_left_outer",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN (
      |  SELECT * FROM orders WHERE o_totalprice > 400000
      |) ON o_custkey = c_custkey
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""") { (s, d) =>
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    Tables.customer(s, d).join(big, col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  /** Full outer with constructed non-overlap (suppliers < 60 vs
    * lineitem suppliers >= 40) so all three row classes appear. */
  val joinFullOuter: QDef = q(
    "join_full_outer",
    """SELECT s_suppkey, s_name, l_suppkey
      |FROM (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey < 60) s
      |FULL JOIN (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey >= 40) l
      |  ON s_suppkey = l_suppkey
      |ORDER BY s_suppkey NULLS FIRST, l_suppkey NULLS FIRST""") { (s, d) =>
    val sup = Tables.supplier(s, d).filter(col("s_suppkey") < 60)
      .select(col("s_suppkey"), col("s_name"))
    val li = Tables.lineitem(s, d).filter(col("l_suppkey") >= 40)
      .select(col("l_suppkey")).distinct()
    sup.join(li, col("s_suppkey") === col("l_suppkey"), "full")
      .orderBy(col("s_suppkey").asc_nulls_first, col("l_suppkey").asc_nulls_first)
  }

  /** Customers having at least one finished high-value order. */
  val joinSemi: QDef = q(
    "join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderstatus = 'F' AND o_totalprice > 300000)
      |ORDER BY c_custkey""") { (s, d) =>
    val f = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000)
    Tables.customer(s, d).join(f, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Customers with NO high-value order — the reference's
    * "unmappable rows" data-quality report shape. */
  val joinAnti: QDef = q(
    "join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""") { (s, d) =>
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
    Tables.customer(s, d).join(big, col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Equi key + theta residual: planner keeps the hash/SMJ on the equi
    * part and evaluates the range predicate as a residual filter. */
  val joinThetaRange: QDef = q(
    "join_theta_range",
    """SELECT l_orderkey, l_linenumber, p_partkey, l_quantity, p_size
      |FROM lineitem JOIN part
      |  ON l_partkey = p_partkey AND l_quantity > p_size
      |ORDER BY l_orderkey, l_linenumber, p_partkey, l_quantity, p_size""") { (s, d) =>
    // (l_orderkey, l_linenumber) is NOT unique — order by all outputs (D1).
    Tables.lineitem(s, d).join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey") && col("l_quantity") > col("p_size"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("l_quantity"), col("p_size"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("l_quantity"), col("p_size"))
  }

  /** Tiny dimension enumeration (5 x 25 rows). */
  val joinCrossSmall: QDef = q(
    "join_cross_small",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""") { (s, d) =>
    Tables.region(s, d).select(col("r_name"))
      .crossJoin(Tables.nation(s, d).select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** As-of join: for each purchase, the latest prior same-user click.
    *
    * NOT a self-theta-join (O(n^2) per user): union-tag both event
    * sets and take a running `last(click, ignoreNulls)` window ordered
    * by (second-truncated ts, event_id) — O(n log n), one shuffle on
    * user_id, scales linearly with events. Same windowed SQL on the
    * DuckDB side for bit-identical tie semantics (SURVEY §2.3).
    * Second truncation per D4 (parquet ns vs Spark us).
    *
    * Deliberately NOT expressed via AsOf.asofJoinPrior: that operator
    * tie-breaks equal-ts rows by side-tag first (strictness encoded
    * in the tag order), while this query's oracle pins the stronger
    * global (ts_sec, event_id) order — event_id is unique across BOTH
    * event kinds, so an equal-second click counts iff its event_id
    * precedes the purchase's. Rewriting through AsOf would change
    * results on equal-second pairs and break the hash gate. */
  val joinAsofEvent: QDef = q(
    "join_asof_event",
    """SELECT event_id, user_id, ts_sec AS purchase_sec, click_sec
      |FROM (
      |  SELECT event_id, user_id, event_type, ts_sec,
      |         last_value(CASE WHEN event_type = 'click' THEN ts_sec END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_sec
      |  FROM (SELECT event_id, user_id, event_type,
      |               date_trunc('second', ts) AS ts_sec FROM events)
      |  WHERE event_type IN ('click', 'purchase')
      |)
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsSec(col("ts")).as("ts_sec"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("click_sec",
        last(when(col("event_type") === "click", col("ts_sec")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("ts_sec").as("purchase_sec"), col("click_sec"))
      .orderBy(col("event_id"))
  }

  /** Full star fan: fact -> orders -> customer -> nation -> region,
    * revenue by region x year. Dims broadcast (AQE converts the
    * customer join too at runtime); only the fact-orders join
    * shuffles. */
  val joinStar3way: QDef = q(
    "join_star_3way",
    """SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, year(o_orderdate)
      |ORDER BY r_name, o_year""") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(outDouble(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("r_name"), col("o_year"))
  }

  /** Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL keys match
    * each other — constructed by nulling out nationkey 3 on both
    * sides, so the NULL×NULL block and the plain matches both
    * appear. Output ordered on every column (D1 with NULLs, D5). */
  val joinNullsafeEq: QDef = q(
    "join_nullsafe_eq",
    """SELECT c_custkey, s_suppkey, nullif(c_nationkey, 3) AS nk
      |FROM customer JOIN supplier
      |  ON nullif(c_nationkey, 3) IS NOT DISTINCT FROM nullif(s_nationkey, 3)
      |ORDER BY nk NULLS FIRST, c_custkey, s_suppkey""") { (s, d) =>
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("nk"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"), nullif(col("s_nationkey"), lit(3)).as("nk_s"))
    c.join(sup, col("nk") <=> col("nk_s"))
      .select(col("c_custkey"), col("s_suppkey"), col("nk"))
      .orderBy(col("nk").asc_nulls_first, col("c_custkey"), col("s_suppkey"))
  }

  /** LATERAL correlated top-n — graded through the SQL entry point
    * (SURVEY §3 entry B): for each high-balance customer, their two
    * priciest orders via a correlated LATERAL subquery. */
  val lateralTopnOrders: QDef = q(
    "lateral_topn_orders",
    """SELECT c_custkey, o_orderkey,
      |  CAST(o_totalprice AS DOUBLE) AS total
      |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |ORDER BY c_custkey, total DESC, o_orderkey""") { (s, d) =>
    // View names carry the sf-dir hash (r13): plain "customer"/
    // "orders" were session-global, so two concurrent callers at
    // DIFFERENT scale factors (parallel test suites) could read each
    // other's registration mid-analysis. Same-sf concurrent callers
    // re-register an identical definition — benign. sql() analyzes
    // eagerly, so the views are resolved into the returned plan here.
    val tag = (d.hashCode.toLong & 0xffffffffL).toString
    Tables.customer(s, d).createOrReplaceTempView(s"customer_$tag")
    Tables.orders(s, d).createOrReplaceTempView(s"orders_$tag")
    s.sql(s"""SELECT c_custkey, o_orderkey,
            |  CAST(o_totalprice AS DOUBLE) AS total
            |FROM (SELECT c_custkey FROM customer_$tag WHERE c_acctbal > 9000) c,
            |LATERAL (
            |  SELECT o_orderkey, o_totalprice FROM orders_$tag
            |  WHERE o_custkey = c_custkey
            |  ORDER BY o_totalprice DESC, o_orderkey
            |  LIMIT 2) t
            |ORDER BY c_custkey, total DESC, o_orderkey""".stripMargin)
  }

  /** Salted skew join, oracle-graded: semantically a plain
    * orders⋈customer equi-join (the oracle IS the plain join), but
    * executed with an 8-way salt — the fact side's key widens to
    * (key, salt) with a deterministic per-row salt, and the dim side
    * replicates once per salt value — so a hot key's probe rows split
    * across 8 reducers instead of melting one. This is the manual
    * form of AQE's skew-join split, as a graded artifact: results are
    * salt-invariant by construction, and the technique is the 100 TB
    * playbook entry for joins where one key holds a double-digit
    * percentage of the fact (the LSH pair joins use the same move).
    * The MERGE hint keeps the plan an actual shuffled join — at
    * fixture scale the dim side would broadcast, and a broadcast join
    * has no skew problem for salting to solve. */
  val joinSkewSalted: QDef = q(
    "join_skew_salted",
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""") { (s, d) =>
    val salts = 8
    val fact = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"),
        pmod(xxhash64(col("o_orderkey")), lit(salts)).as("salt"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(expr(s"sequence(0, ${salts - 1})")).as("salt0"))
      .select(col("c_custkey"), col("c_mktsegment"),
        col("salt0").cast(LongType).as("salt"))
    fact.hint("merge")
      .join(dim, col("o_custkey") === col("c_custkey") &&
        fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Interval-overlap self-join (r11) — the temporal-overlap operator
    * (concurrent sessions, co-active entities): per-user-per-day
    * purchase intervals [min ts, max ts] in exact epoch micros,
    * overlapping pairs found with an EQUI-join on the day block plus
    * the overlap predicate (s1 <= e2 AND s2 <= e1, u1 < u2) as a
    * post-join filter — never a cartesian product. The block key is
    * sound because intervals are within-day by construction; for
    * intervals that cross block boundaries the standard extension is
    * explode-into-covered-blocks + distinct (the contamination-
    * fallback shape), documented here rather than built because this
    * operator's intervals cannot cross. Per-block candidate count is
    * (users active that day choose 2) — bounded by block cardinality,
    * not corpus size; a skewed block salts exactly like
    * `join_skew_salted`. Both interval ends are exact integers, so
    * the overlap arithmetic hashes identically. */
  val joinIntervalOverlap: QDef = q(
    "join_interval_overlap",
    """WITH p AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |iv AS (SELECT user_id, day, min(us) AS s, max(us) AS e FROM p GROUP BY 1, 2),
      |pr AS (
      |  SELECT a.day, least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
      |  FROM iv a JOIN iv b
      |    ON a.day = b.day AND a.user_id < b.user_id
      |  WHERE a.s <= b.e AND b.s <= a.e)
      |SELECT day, COUNT(*) AS n_pairs,
      |  CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
      |FROM pr GROUP BY day
      |ORDER BY day""") { (s, d) =>
    val iv = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))
    val a = iv.select(col("day"), col("user_id").as("u1"),
      col("s").as("s1"), col("e").as("e1"))
    val b = iv.select(col("day").as("day_b"), col("user_id").as("u2"),
      col("s").as("s2"), col("e").as("e2"))
    a.join(b, col("day") === col("day_b") && col("u1") < col("u2") &&
        col("s1") <= col("e2") && col("s2") <= col("e1"))
      .select(col("day"),
        (least(col("e1"), col("e2")) - greatest(col("s1"), col("s2"))).as("overlap_us"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("overlap_us")).as("total_overlap_us"))
      .orderBy(col("day"))
  }

  /** As-of join with a MATCH TOLERANCE (r11) — `join_asof_event`'s
    * variant of the pandas merge_asof(tolerance=...) contract: a
    * purchase attributes to the latest prior click only if that click
    * is within 10 minutes; staler matches are rejected (NULL), and
    * the gap is reported for the matches. Same single-window plan as
    * the base key (one exchange on user_id; per-user work bounded by
    * that user's events at any scale) — the tolerance is a row-local
    * post-filter on the window result, exactly where a 100 TB plan
    * wants it. Epoch-second integers end to end. */
  val joinAsofTolerance: QDef = q(
    "join_asof_tolerance",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
      |              date_trunc('second', CAST(ts AS TIMESTAMP))) AS sec
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |m AS (
      |  SELECT event_id, user_id, event_type, sec,
      |    last_value(CASE WHEN event_type = 'click' THEN sec END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY sec, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_sec
      |  FROM e)
      |SELECT event_id, user_id, sec AS purchase_sec,
      |  CASE WHEN click_sec IS NOT NULL AND sec - click_sec <= 600
      |       THEN click_sec END AS click_sec_tol,
      |  CASE WHEN click_sec IS NOT NULL AND sec - click_sec <= 600
      |       THEN sec - click_sec END AS gap_sec
      |FROM m WHERE event_type = 'purchase'
      |ORDER BY event_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsSec(col("ts")).cast(LongType).as("sec"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inTol = col("click_sec").isNotNull && col("sec") - col("click_sec") <= 600
    e.withColumn("click_sec",
        last(when(col("event_type") === "click", col("sec")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("sec").as("purchase_sec"),
        when(inTol, col("click_sec")).as("click_sec_tol"),
        when(inTol, col("sec") - col("click_sec")).as("gap_sec"))
      .orderBy(col("event_id"))
  }

  /** Nearest-direction as-of join (r11c) — pandas
    * merge_asof(direction='nearest'): each purchase pairs with its
    * closest click in EITHER time direction (ties go backward, the
    * deterministic convention). Completes the as-of family: backward
    * (`join_asof_event`), backward-with-tolerance
    * (`join_asof_tolerance`), nearest (this). Same single-window
    * plan: one user exchange carries BOTH the backward IGNORE-NULLS
    * last over the preceding frame and the forward IGNORE-NULLS
    * first over the following frame — nearest-direction costs no
    * extra shuffle over backward-only. Gaps are exact µs integers;
    * no join materialization at any scale. */
  val joinAsofNearest: QDef = q(
    "join_asof_nearest",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
      |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS t
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (
      |  SELECT event_id, user_id, event_type, us, t,
      |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS back_us,
      |    first_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_us
      |  FROM e)
      |SELECT event_id, user_id, t AS purchase_t,
      |  CASE
      |    WHEN back_us IS NULL AND fwd_us IS NULL THEN NULL
      |    WHEN fwd_us IS NULL THEN us - back_us
      |    WHEN back_us IS NULL THEN fwd_us - us
      |    WHEN us - back_us <= fwd_us - us THEN us - back_us
      |    ELSE fwd_us - us END AS gap_us,
      |  CASE
      |    WHEN back_us IS NULL AND fwd_us IS NULL THEN 'none'
      |    WHEN fwd_us IS NULL THEN 'before'
      |    WHEN back_us IS NULL THEN 'after'
      |    WHEN us - back_us <= fwd_us - us THEN 'before'
      |    ELSE 'after' END AS direction
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY event_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), tsSec(col("ts")).as("t"))
    val clickUs = when(col("event_type") === "click", col("us"))
    val wBack = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wFwd = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val backGap = col("us") - col("back_us")
    val fwdGap = col("fwd_us") - col("us")
    e.withColumn("back_us", last(clickUs, ignoreNulls = true).over(wBack))
      .withColumn("fwd_us", first(clickUs, ignoreNulls = true).over(wFwd))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("t").as("purchase_t"),
        when(col("back_us").isNull && col("fwd_us").isNull, lit(null))
          .when(col("fwd_us").isNull, backGap)
          .when(col("back_us").isNull, fwdGap)
          .when(backGap <= fwdGap, backGap)
          .otherwise(fwdGap).as("gap_us"),
        when(col("back_us").isNull && col("fwd_us").isNull, "none")
          .when(col("fwd_us").isNull, "before")
          .when(col("back_us").isNull, "after")
          .when(backGap <= fwdGap, "before")
          .otherwise("after").as("direction"))
      .orderBy(col("event_id"))
  }

  /** 5-way snowflake rollup (r11c) — the deepest dimension chain the
    * star schema offers: region → nation → customer → orders →
    * lineitem, revenue per (region, nation) in exact decimals.
    * Extends `join_star_3way` with a CHAINED dimension hierarchy:
    * the three dim levels (region 5 rows, nation 25, customer) all
    * broadcast into the fact scan, so the only real shuffle is the
    * final (region, nation) aggregate — at 100 TB the fact joins
    * stay map-side while the customer level fits broadcast, and the
    * planner's CBO reorder (CboStatsSpec) picks the dim×dim-first
    * build order when statistics exist. */
  val joinSnowflake5way: QDef = q(
    "join_snowflake_5way",
    """SELECT r.r_name AS region, n.n_name AS nation,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue
      |FROM region r
      |JOIN nation n ON n.n_regionkey = r.r_regionkey
      |JOIN customer c ON c.c_nationkey = n.n_nationkey
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |GROUP BY r.r_name, n.n_name
      |ORDER BY region, nation""") { (s, d) =>
    val dims = broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .as("rev"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"), outDouble(sum(col("rev"))).as("revenue"))
      .orderBy(col("region"), col("nation"))
  }

  /** Forward as-of join (r12) — pandas merge_asof(direction=
    * 'forward'): each purchase pairs with the user's NEXT click at or
    * after it (the "what did they do next" direction; backward /
    * tolerance / nearest are the other three keys of the family).
    * Same single-window plan as the rest of the family: one user-key
    * exchange carries the forward IGNORE-NULLS first over the
    * following frame; gaps are exact µs integers. */
  val joinAsofForward: QDef = q(
    "join_asof_forward",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
      |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS t
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (
      |  SELECT event_id, user_id, event_type, us, t,
      |    first_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_us
      |  FROM e)
      |SELECT event_id, user_id, t AS purchase_t, fwd_us AS next_click_us,
      |  fwd_us - us AS gap_us
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY event_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), tsSec(col("ts")).as("t"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("fwd_us",
        first(when(col("event_type") === "click", col("us")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("t").as("purchase_t"),
        col("fwd_us").as("next_click_us"),
        (col("fwd_us") - col("us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** TPC-H Q3 shape (r12) — the shipping-priority benchmark query:
    * segment-filtered customer dim (broadcast) ⋈ date-filtered orders
    * ⋈ shipdate-filtered lineitem, revenue per un-shipped order,
    * global top-10. Both date filters push to the parquet scans; the
    * agg shuffles group-key cardinality only and the final
    * orderBy+limit plans as TakeOrderedAndProject (per-partition
    * heaps, O(k) result — never a global sort). Revenue follows the
    * exact-decimal protocol: money×(1−rate) summed as decimal, ONE
    * double cast at the end (D2/D3). Deterministic top-10: revenue
    * ties broken by l_orderkey. */
  val q3ShippingPriority: QDef = q(
    "q3_shipping_priority",
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |       * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""") { (s, d) =>
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-07-01 00:00:00").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-07-01 00:00:00").cast(TimestampType))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(outDouble(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast(DateType).as("order_date"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Bloom-prefiltered selective join (r12) — grades the
    * `graft.pipeline.BloomJoin` shuffle-reduction path through the
    * oracle instead of spec-only: the build side (high-value orders,
    * ~1% of the table) builds a broadcast Bloom filter that drops
    * non-matching fact rows BEFORE the join's shuffle; the exact join
    * then removes false positives, so the result — and therefore the
    * oracle — is EXACTLY the plain inner join. At 100 TB the shuffle
    * moves ~selectivity+fpp of the fact instead of all of it; here
    * the grade certifies the identity that makes the optimization
    * safe. */
  val joinBloomPrefilter: QDef = q(
    "join_bloom_prefilter",
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 480000
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    val build = Tables.orders(s, d)
      .filter(col("o_totalprice") > 480000)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val probe = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
    graft.pipeline.BloomJoin.prefilteredJoin(probe, build, "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q4 shape (r12) — order-priority checking: orders in one
    * quarter having ≥1 late line (commit semantics proxied on the
    * fixture's shipdate: shipped after the order date + 60 days),
    * counted per priority. The EXISTS is a LEFT SEMI join — the fact
    * side collapses to matching order keys before the count, nothing
    * materializes the match multiplicity. Date filters push to both
    * scans. */
  val q4OrderPriority: QDef = q(
    "q4_order_priority",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > CAST(o_orderdate AS DATE) + 60)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-04-01 00:00:00").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > date_add(col("o_orderdate").cast(DateType), 60)
            .cast(TimestampType),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q18 shape (r12) — large-volume customers: aggregate the
    * fact FIRST (sum of quantity per order), HAVING-filter to the
    * rare heavy orders, then join the tiny survivor set back to
    * orders and the customer dim. The agg-then-filter ordering is
    * the scale lesson: the 60k-row (at 100 TB, multi-billion-row)
    * lineitem collapses to order-key cardinality before any join,
    * and the surviving ~0.2% broadcast into orders — never the other
    * way around. Exact-decimal quantity sums (D2). */
  val q18LargeVolume: QDef = q(
    "q18_large_volume",
    """WITH big AS (
      |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 250)
      |SELECT c_name, o_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date, o_totalprice, sum_qty
      |FROM big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey""") { (s, d) =>
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(qty(col("l_quantity"))).as("sq"))
      .filter(col("sq") > 250)
      .select(col("l_orderkey"), outDouble(col("sq")).as("sum_qty"))
    Tables.orders(s, d)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"))),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("order_date"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** Existence-flag (mark) join (r12) — the EXISTS / NOT EXISTS
    * surface graded through per-nation customer counts: has ≥1
    * high-value order, has ≥1 order at all, has none. Implemented as
    * left joins against DISTINCT custkey sets (a distinct set joined
    * left is exactly a mark join — no row duplication possible), so
    * the probe stays one pass over customer; both distinct builds
    * collapse to customer-key cardinality before broadcasting. The
    * oracle spells the same thing as EXISTS subqueries. */
  val joinExistsFlag: QDef = q(
    "join_exists_flag",
    """SELECT n_name,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_high,
      |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_any,
      |  CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_without_any
      |FROM customer c JOIN nation ON n_nationkey = c_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""") { (s, d) =>
    val o = Tables.orders(s, d)
    val anyOrd = o.select(col("o_custkey").as("any_k")).distinct()
    val highOrd = o.filter(col("o_totalprice") > 450000)
      .select(col("o_custkey").as("high_k")).distinct()
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("c_nationkey"))
      .join(broadcast(anyOrd), col("any_k") === col("c_custkey"), "left")
      .join(broadcast(highOrd), col("high_k") === col("c_custkey"), "left")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        count_if(col("high_k").isNotNull).as("n_with_high"),
        count_if(col("any_k").isNotNull).as("n_with_any"),
        count_if(col("any_k").isNull).as("n_without_any"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q5 shape (r12) — local-supplier volume: the 6-table join
    * (region→nation→customer→orders→lineitem→supplier) with the
    * same-nation correlation `c_nationkey = s_nationkey` carried as a
    * plain equi-condition on the supplier join. Scale posture: all
    * four dimension sides (region, nation, customer-key set, supplier)
    * broadcast — the only shuffle is orders⋈lineitem on the order key,
    * which at 100 TB is the natural co-partitioning of the two facts
    * (bucket both on the order key and that exchange disappears too).
    * Exact-decimal revenue (D2). */
  val q5LocalSupplier: QDef = q(
    "q5_local_supplier",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |       * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""") { (s, d) =>
    val asiaNations = Tables.nation(s, d)
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(outDouble(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape (r12) — returned-item reporting: revenue lost to
    * returns per customer over one quarter, top 20. The fact is
    * filtered to the return flag BEFORE the join (filter pushdown cuts
    * the probe side to the ~25% returned slice at the scan), the
    * quarter-filtered orders join on the order key, and the customer /
    * nation dims broadcast onto the aggregated result — at 100 TB the
    * only big exchange is lineitem⋈orders on the order key. Top-20 is
    * TakeOrderedAndProject (O(k) per partition), never a full sort. */
  val q10ReturnedItems: QDef = q(
    "q10_returned_items",
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |       * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue,
      |  c_acctbal
      |FROM customer
      |JOIN nation ON n_nationkey = c_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""") { (s, d) =>
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-07-01 00:00:00").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"))
    val returned = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val perCust = returned
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount")))).as("rev"))
    perCust
      .join(broadcast(Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        outDouble(col("rev")).as("revenue"), col("c_acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 shape (r12b) — promo revenue share per ship-month: a
    * conditional-aggregate ratio over the fact⋈dim join. Part is
    * broadcast (the codebook pattern), the ship-year filter is pushed
    * to the fact scan, and the single shuffle is the month-keyed agg
    * (12 groups — partial agg collapses map-side). Ratio discipline:
    * both revenue sums stay exact DECIMAL through the agg, convert
    * once to DOUBLE (unscaled < 2^53 ⇒ correctly rounded identically
    * in both engines), and the ppm share is one identically-spelled
    * float expression on those operands. */
  val q14PromoRevenue: QDef = q(
    "q14_promo_revenue",
    """WITH j AS (
      |  SELECT CAST(date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS DATE)
      |      AS month,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2))) AS rev,
      |    p_type
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
      |a AS (
      |  SELECT month,
      |    SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS pr,
      |    SUM(rev) AS tr
      |  FROM j GROUP BY month)
      |SELECT month, CAST(pr AS DOUBLE) AS promo_revenue,
      |  CAST(tr AS DOUBLE) AS total_revenue,
      |  CAST(floor(CAST(pr AS DOUBLE) * 1000000 / CAST(tr AS DOUBLE) + 0.5)
      |    AS BIGINT) AS promo_ppm
      |FROM a ORDER BY month""") { (s, d) =>
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
      .select(col("l_partkey"),
        date_trunc("month", col("l_shipdate")).cast(DateType).as("month"),
        (money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .as("rev"))
    val a = li
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("month"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0)))
        .as("pr"), sum(col("rev")).as("tr"))
    a.select(col("month"),
        outDouble(col("pr")).as("promo_revenue"),
        outDouble(col("tr")).as("total_revenue"),
        floor(outDouble(col("pr")) * 1000000 / outDouble(col("tr")) + 0.5)
          .cast(LongType).as("promo_ppm"))
      .orderBy(col("month"))
  }

  /** TPC-H Q16 shape (r12b) — supplier variety per (brand, size)
    * excluding flagged suppliers: the NOT-IN + COUNT(DISTINCT)
    * combination. NOT IN compiles to a broadcast LEFT ANTI join
    * against the (tiny, known-null-free) exclusion key set — at any
    * fact size the exclusion costs zero shuffles — and the distinct
    * count shuffles (brand, size, suppkey) triples that partial-
    * deduplicate map-side. Top-30 presentation is
    * TakeOrderedAndProject. */
  val q16SupplierVariety: QDef = q(
    "q16_supplier_variety",
    """SELECT p_brand, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_type <> 'PROMO'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size
      |LIMIT 30""") { (s, d) =>
    val excl = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(excl), col("s_suppkey") === col("l_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_type") =!= "PROMO")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      .limit(30)
  }

  /** TPC-H Q22 shape (r12b) — global sales opportunity: rich
    * customers (balance above the positive-balance average) who have
    * never ordered, counted per nation. Three classic pieces in one
    * plan: a SCALAR subquery (the threshold — one exact-decimal agg
    * row, cross-broadcast onto the scan; D3 average discipline: exact
    * sum, one double division), NOT EXISTS as a LEFT ANTI join on the
    * distinct RECENT-order customer keys (the 1999+ window keeps the
    * survivor set non-degenerate on this fixture: nearly every
    * customer has ordered at least once since 1995), and the
    * broadcast nation dim. At
    * 100 TB the anti join is the only fact-sized structure and it
    * shuffles keys, not rows (the distinct collapses order-key
    * cardinality first); everything else is broadcast. */
  val q22NoOrderCustomers: QDef = q(
    "q22_no_order_customers",
    """WITH ab AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |      AS threshold
      |  FROM customer WHERE c_acctbal > 0.0),
      |sel AS (
      |  SELECT c.c_custkey, c.c_nationkey,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      |  FROM customer c, ab
      |  WHERE c.c_acctbal > ab.threshold
      |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
      |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(bal) AS DOUBLE) AS totacctbal
      |FROM sel JOIN nation ON n_nationkey = c_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""") { (s, d) =>
    val ab = Tables.customer(s, d)
      .filter(col("c_acctbal") > 0.0)
      .agg((outDouble(sum(money(col("c_acctbal")))) / count(lit(1)))
        .as("threshold"))
    val ordered = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast(TimestampType))
      .select(col("o_custkey")).distinct()
    Tables.customer(s, d)
      .crossJoin(broadcast(ab))
      .filter(col("c_acctbal") > col("threshold"))
      .join(ordered, col("o_custkey") === col("c_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        outDouble(sum(money(col("c_acctbal")))).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q6 shape (r12b) — the forecast-revenue-change probe: a
    * pure scan→filter→one-row-aggregate with NO join at all, the
    * canonical predicate-pushdown benchmark. All three filters
    * (date range, discount band, quantity cap) push to the parquet
    * scan; the aggregate is a single exact-decimal sum whose partials
    * collapse map-side — at 100 TB this query IS the scan, which is
    * the point. Discount band compared in exact DECIMAL(6,2) so the
    * boundary rows land identically in both engines. */
  val q6RevenueDelta: QDef = q(
    "q6_revenue_delta",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |       * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) AS revenue_delta,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND CAST(l_discount AS DECIMAL(6,2)) BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast(TimestampType) &&
        rate(col("l_discount")).between(BigDecimal("0.05"), BigDecimal("0.07")) &&
        col("l_quantity") < 24)
      .agg(outDouble(sum(money(col("l_extendedprice")) * rate(col("l_discount"))))
        .as("revenue_delta"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q13 shape (r12b) — customer order-count distribution: the
    * double-aggregation histogram (orders per customer, then
    * customers per order count) INCLUDING the zero-order mass via the
    * left outer join. Both aggs shuffle key cardinality only
    * (customer keys, then distinct counts); the outer join keeps
    * every customer so the 0-bucket is real, not scaffolded. */
  val q13CustomerDistribution: QDef = q(
    "q13_customer_distribution",
    """WITH co AS (
      |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |  GROUP BY c_custkey)
      |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM co GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""") { (s, d) =>
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 shape (r12b) — top supplier(s) by quarterly revenue:
    * aggregate-then-argmax where the max is a one-row broadcast and
    * ties are kept (the reference Q15 semantics), not rank-broken.
    * The revenue table is supplier-key-sized; the scalar max costs
    * one extra tiny agg; equality against the broadcast max keeps
    * every tied supplier. Exact-decimal revenue compared in DECIMAL
    * (not double) so the tie test is exact. */
  val q15TopSupplier: QDef = q(
    "q15_top_supplier",
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |        * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS total
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY l_suppkey),
      |m AS (SELECT MAX(total) AS mx FROM rev)
      |SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON s_suppkey = l_suppkey
      |CROSS JOIN m
      |WHERE total = mx
      |ORDER BY s_suppkey""") { (s, d) =>
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-04-01 00:00:00").cast(TimestampType))
      .groupBy(col("l_suppkey"))
      .agg(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount")))).as("total"))
    val m = rev.agg(max(col("total")).as("mx"))
    rev.crossJoin(broadcast(m))
      .filter(col("total") === col("mx"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        outDouble(col("total")).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q19 shape (r12b) — disjunctive predicate join: three
    * brand/size/quantity conjunction arms OR'd together across the
    * lineitem⋈part join. The planner keeps the equi key and
    * evaluates the disjunction as a residual; the per-arm part
    * filters union into one broadcast build. The shape certifies
    * that OR-of-ANDs predicates neither duplicate rows (each line
    * matches at most one arm — arms are brand-disjoint) nor block
    * the broadcast. */
  val q19DiscountedRevenue: QDef = q(
    "q19_discounted_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |       * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity >= 5 AND l_quantity <= 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity >= 10 AND l_quantity <= 40)""") { (s, d) =>
    val arm1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity") >= 1 && col("l_quantity") <= 20
    val arm2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
      col("l_quantity") >= 5 && col("l_quantity") <= 30
    val arm3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
      col("l_quantity") >= 10 && col("l_quantity") <= 40
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("p_partkey") === col("l_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(outDouble(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Join-cardinality probe (r12c) — the EXACT output-size forecast
    * for a many-to-many join, computed WITHOUT running the join:
    * per-side key histograms, then Σ cnt_a·cnt_b over the matched
    * keys (plus per-side distinct keys, matched keys, and the worst
    * single-key fanout — the salting trigger). This is the planner
    * pre-flight a 100 TB fact-fact join deserves: its cost is two
    * key-cardinality hash aggs + one key-sized join, i.e. orders of
    * magnitude below the join it predicts, and `est_rows` vs input
    * sizes decides broadcast / SMJ / salt up front. The spec asserts
    * the invariant that makes it trustworthy: est_rows equals the
    * materialized join's actual count. */
  val joinCardinalityProbe: QDef = q(
    "join_cardinality_probe",
    """WITH a AS (
      |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ca
      |  FROM events GROUP BY user_id),
      |b AS (
      |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
      |  FROM orders GROUP BY o_custkey),
      |j AS (SELECT ca, cb FROM a FULL JOIN b USING (k))
      |SELECT
      |  CAST(SUM(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nd_left,
      |  CAST(SUM(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nd_right,
      |  CAST(SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nd_matched,
      |  CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS est_rows,
      |  CAST(COALESCE(MAX(ca * cb), 0) AS BIGINT) AS max_key_fanout
      |FROM j""") { (s, d) =>
    val a = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
    val b = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cb"))
    // one FULL OUTER key-histogram join feeds all five statistics in
    // a single pass: both sides arrive already hash-partitioned on
    // the join key from their aggs (no extra exchange), and the
    // probe's total cost stays two key-cardinality aggs + one
    // key-sized SMJ — orders of magnitude below the join it predicts
    val j = a.join(b, col("user_id") === col("o_custkey"), "full_outer")
      .select(col("ca"), col("cb"))
    j.agg(
      sum(when(col("ca").isNotNull, 1).otherwise(0)).cast(LongType)
        .as("nd_left"),
      sum(when(col("cb").isNotNull, 1).otherwise(0)).cast(LongType)
        .as("nd_right"),
      sum(when(col("ca").isNotNull && col("cb").isNotNull, 1).otherwise(0))
        .cast(LongType).as("nd_matched"),
      coalesce(sum(col("ca") * col("cb")), lit(0L)).as("est_rows"),
      coalesce(max(col("ca") * col("cb")), lit(0L)).as("max_key_fanout"))
  }

  /** Bucket-blocked time-band self-join (r12c) — "pairs of same-user
    * events within 10 minutes", the band join that CANNOT run as a
    * naive theta join at scale. The left side explodes ROW-LOCALLY
    * into its two candidate 600-second buckets (b, b+1); the join is
    * then a pure EQUI join on (user, bucket) with the band predicate
    * as a residual — every qualifying pair matches in exactly one
    * bucket (the follower's own), so no distinct is needed. This is
    * the standard banding rewrite: shuffle cost follows bucket
    * occupancy instead of per-user n², and the oracle runs the
    * honest quadratic form to prove the rewrite exact. Pair order is
    * total ((ts, event_id) lexicographic), so each unordered pair
    * counts once. */
  val joinTimeBandBucketed: QDef = q(
    "join_time_band_bucketed",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |  FROM events),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    b.t - a.t AS gap_us
      |  FROM e a JOIN e b ON a.user_id = b.user_id
      |    AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
      |    AND b.t - a.t <= 600000000)
      |SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
      |  CAST(SUM(gap_us) // COUNT(*) // 1000 AS BIGINT) AS avg_gap_ms
      |FROM p GROUP BY type_a, type_b ORDER BY type_a, type_b""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val a = e.select(col("user_id").as("ua"), col("event_id").as("ia"),
        col("event_type").as("type_a"), col("t").as("ta"),
        explode(array(expr("t div 600000000"), expr("t div 600000000 + 1")))
          .as("bucket"))
    val b = e.select(col("user_id").as("ub"), col("event_id").as("ib"),
      col("event_type").as("type_b"), col("t").as("tb"),
      expr("t div 600000000").as("bb"))
    a.join(b, col("ua") === col("ub") && col("bucket") === col("bb") &&
        (col("tb") > col("ta") ||
          (col("tb") === col("ta") && col("ib") > col("ia"))) &&
        col("tb") - col("ta") <= 600000000L)
      .select(col("type_a"), col("type_b"),
        (col("tb") - col("ta")).as("gap_us"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("gap_us")).cast(LongType).as("total_gap_us"),
        expr("CAST(sum(gap_us) div count(*) div 1000 AS BIGINT)")
          .as("avg_gap_ms"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Null-aware IN semantics (r12c) — the three-valued-logic seam a
    * null-blind anti join gets WRONG: `x IN (list)` is TRUE on match,
    * UNKNOWN (never FALSE) on no-match when the list contains a NULL,
    * FALSE only against a null-free list. Per order status, the
    * in-list is that status's custkeys with NULLs injected into the
    * non-'P' lists (custkey % 50 = 7 masked), and every customer ×
    * status cell is graded into its 3VL verdict — the decomposition
    * Spark's own null-aware anti join (NOT IN) performs physically.
    * Plan: one distinct on the in-list (null rows dropped — they can
    * never equi-match), a ≤|status| broadcast has-null table, the
    * customer table exploded row-locally across statuses, one equi
    * left join for membership. The null handling costs one tiny
    * broadcast, never a nested-loop. */
  val joinNullAwareIn: QDef = q(
    "join_null_aware_in",
    """WITH inl AS (
      |  SELECT o_orderstatus AS st,
      |    CASE WHEN o_orderstatus <> 'P' AND o_custkey % 50 = 7
      |      THEN NULL ELSE o_custkey END AS k
      |  FROM orders),
      |m AS (SELECT DISTINCT st, k FROM inl WHERE k IS NOT NULL),
      |hn AS (
      |  SELECT st, MAX(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS has_null
      |  FROM inl GROUP BY st),
      |cs AS (SELECT c_custkey, st, has_null FROM customer CROSS JOIN hn)
      |SELECT cs.st AS o_orderstatus,
      |  CASE WHEN m.k IS NOT NULL THEN 'in'
      |       WHEN cs.has_null = 1 THEN 'unknown'
      |       ELSE 'not_in' END AS verdict,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM cs LEFT JOIN m ON cs.st = m.st AND cs.c_custkey = m.k
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val inl = Tables.orders(s, d)
      .select(col("o_orderstatus").as("st"),
        when(col("o_orderstatus") =!= "P" && col("o_custkey") % 50 === 7,
          lit(null).cast(LongType)).otherwise(col("o_custkey")).as("k"))
    val m = inl.filter(col("k").isNotNull).distinct()
      .select(col("st").as("mst"), col("k"))
    val hn = inl.groupBy(col("st"))
      .agg(max(when(col("k").isNull, 1).otherwise(0)).as("has_null"))
    val cs = Tables.customer(s, d).select(col("c_custkey"))
      .crossJoin(broadcast(hn))
    cs.join(m, col("st") === col("mst") && col("c_custkey") === col("k"),
        "left")
      .select(col("st").as("o_orderstatus"),
        when(col("k").isNotNull, "in")
          .when(col("has_null") === 1, "unknown")
          .otherwise("not_in").as("verdict"))
      .groupBy(col("o_orderstatus"), col("verdict"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("o_orderstatus"), col("verdict"))
  }

  /** TPC-H Q17 shape (r12c) — small-quantity revenue: lineitems whose
    * quantity is below 20% of their part's average quantity (the
    * correlated-average threshold, here per brand so no fixture brand
    * literal is baked in). The threshold test 5·q·n < Σq is EXACT
    * integer arithmetic on deci-quantities (l_quantity carries ≤1
    * fractional digit — the agg_corr_matrix quantization), so the
    * boundary line lands identically in both engines; the per-part
    * (Σq, n) table re-joins the fact by part key — the
    * aggregate-then-rejoin decomposition of Q17's correlated
    * subquery, one part-keyed shuffle each side instead of a
    * per-row subquery. avg_yearly is Q17's sum/7.0 — one float
    * division on identical operands. */
  val q17SmallQtyRevenue: QDef = q(
    "q17_small_qty_revenue",
    """WITH li AS (
      |  SELECT l_partkey, l_extendedprice,
      |    CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT) AS q10
      |  FROM lineitem),
      |pa AS (
      |  SELECT l_partkey AS pk, CAST(SUM(q10) AS BIGINT) AS sq,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM li GROUP BY l_partkey),
      |sm AS (
      |  SELECT p_brand, l_extendedprice
      |  FROM li JOIN pa ON pk = l_partkey
      |          JOIN part ON p_partkey = l_partkey
      |  WHERE 5 * q10 * n < sq)
      |SELECT p_brand,
      |  CAST(COUNT(*) AS BIGINT) AS n_small_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS small_revenue,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
      |    AS avg_yearly
      |FROM sm GROUP BY p_brand
      |ORDER BY p_brand""") { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_extendedprice"),
        (qty(col("l_quantity")) * 10).cast(LongType).as("q10"))
    val pa = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("q10")).cast(LongType).as("sq"),
        count(lit(1)).as("n"))
    // pa is the parts-sized per-part aggregate (|parts| rows × 3
    // longs) — broadcast it (r18-opt): the un-hinted plan estimated
    // it from its lineitem lineage and chose SMJ, shuffling the whole
    // fact on partkey just to meet a dim-sized build side (guide
    // §3.1: size estimates after aggregation are often wrong — hint
    // when you know the side is small).
    // SF ceiling (ADVICE r18): |parts| grows linearly with scale —
    // at ~24 B/row this hint is safe to roughly SF 10k (~2 GB
    // broadcast, inside the 8 GB relation cap with executor headroom)
    // and past that the hint should be dropped so the planner's SMJ
    // degrades gracefully; same gate as Aggregates' broadcast(xyz).
    val sm = li.join(broadcast(pa), col("pk") === col("l_partkey"))
      .filter(lit(5) * col("q10") * col("n") < col("sq"))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
    sm.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_items"),
        outDouble(sum(money(col("l_extendedprice")))).as("small_revenue"),
        (outDouble(sum(money(col("l_extendedprice")))) / 7.0)
          .as("avg_yearly"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q7 shape (r12c) — volume shipping between two nations: for
    * each (supplier nation, customer nation) direction of the
    * NATION_18↔NATION_19 trade lane, annual shipped revenue over
    * 1995–1996. Scale posture: the nation filter lands on the two tiny
    * dim sides FIRST — supplier×nation collapses to the qualifying
    * supplier keys (broadcast onto the fact scan, cutting lineitem to
    * the two nations' line items at the scan), and the customer side
    * rides the orders⋈customer custkey join before the single big
    * orders⋈lineitem orderkey exchange. The asymmetric-pair predicate
    * (supp ≠ cust nation) is a residual filter on two broadcast-sourced
    * string columns — no extra shuffle. Exact-decimal revenue (D2). */
  val q7VolumeShipping: QDef = q(
    "q7_volume_shipping",
    """WITH shipping AS (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2))) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      |    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""") { (s, d) =>
    val nations = Tables.nation(s, d)
      .filter(col("n_name").isin("NATION_18", "NATION_19"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampType))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(outDouble(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape (r12c) — national market share: within the EUROPE
    * customer market for ECONOMY-type parts, the share of shipped
    * revenue supplied by NATION_3's suppliers, per order year. Scale
    * posture: part (type-filtered) and supplier (nation-labeled via
    * the 25-row nation dim) broadcast onto the lineitem scan; the
    * EUROPE customer-key set rides the orders join; the one big
    * exchange is orders⋈lineitem on the order key, then a ≤7-group
    * year agg with map-side partials. Ratio discipline is q14's: both
    * sums exact DECIMAL through the agg, one DOUBLE conversion, one
    * identically-spelled ppm expression on those operands. */
  val q8MarketShare: QDef = q(
    "q8_market_share",
    """WITH all_nations AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2))) AS volume,
      |    n1.n_name AS nation
      |  FROM part
      |  JOIN lineitem ON l_partkey = p_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |  JOIN region ON r_regionkey = n2.n_regionkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
      |a AS (
      |  SELECT o_year,
      |    SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS nr,
      |    SUM(volume) AS tr
      |  FROM all_nations GROUP BY o_year)
      |SELECT o_year, CAST(nr AS DOUBLE) AS nation_revenue,
      |  CAST(tr AS DOUBLE) AS total_revenue,
      |  CAST(floor(CAST(nr AS DOUBLE) * 1000000 / CAST(tr AS DOUBLE) + 0.5)
      |    AS BIGINT) AS mkt_share_ppm
      |FROM a ORDER BY o_year""") { (s, d) =>
    val europeKeys = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(s, d)
      .join(broadcast(europeKeys), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast(TimestampType))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("o_year"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val econParts = Tables.part(s, d)
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
    val a = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .as("volume"))
      .join(broadcast(econParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("nation") === "NATION_3", col("volume"))
        .otherwise(lit(0))).as("nr"), sum(col("volume")).as("tr"))
    a.select(col("o_year"),
        outDouble(col("nr")).as("nation_revenue"),
        outDouble(col("tr")).as("total_revenue"),
        floor(outDouble(col("nr")) * 1000000 / outDouble(col("tr")) + 0.5)
          .cast(LongType).as("mkt_share_ppm"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q11 shape (r12h) — important suppliers: per-supplier
    * shipped revenue, kept only where it exceeds the GLOBAL mean
    * supplier revenue — the group-agg-vs-global-scalar HAVING shape
    * (Q11 proper thresholds partsupp stock value; this fixture has
    * no partsupp, so the same shape grades on lineitem revenue).
    * The threshold compares CROSS-MULTIPLIED exact BIGINTs
    * (rev·n_suppliers > total) — no division anywhere in the
    * predicate, so the cut is bit-exact in both engines; share_ppm
    * is presentation-only floor division on nonnegative operands.
    * Scale posture: one suppkey-keyed fact agg, a ONE-ROW global
    * total broadcast against it (never a re-scan), the tiny supplier
    * dim broadcast for names, sort only the qualifying remainder. */
  val q11ImportantSuppliers: QDef = q(
    "q11_important_suppliers",
    """WITH r AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
      |  CAST(COUNT(*) AS BIGINT) AS n_supp FROM r)
      |SELECT s_suppkey, s_name, rev_cents,
      |  CAST(rev_cents * 1000000 // total_cents AS BIGINT) AS share_ppm
      |FROM r JOIN supplier ON s_suppkey = l_suppkey CROSS JOIN t
      |WHERE rev_cents * n_supp > total_cents
      |ORDER BY rev_cents DESC, s_suppkey""") { (s, d) =>
    val r = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum((money(col("l_extendedprice")) * 100).cast(LongType))
        .as("rev_cents"))
    val t = r.agg(sum(col("rev_cents")).as("total_cents"),
      count(lit(1)).as("n_supp"))
    r.join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(t))
      .filter(col("rev_cents") * col("n_supp") > col("total_cents"))
      .select(col("s_suppkey"), col("s_name"), col("rev_cents"),
        expr("CAST(rev_cents * 1000000 div total_cents AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("rev_cents").desc, col("s_suppkey"))
  }

  /** Adapted TPC-H Q9 "product type profit" (r15) — the classic
    * 5-table deep-join report over the fixture's tables: profit per
    * (supplier nation, order year). The fixture has no partsupp, so
    * supply cost is proxied as half the part's retail price per unit
    * quantity (an exact DECIMAL(1,1) factor — no rounding anywhere):
    * amount = extprice·(1−disc) − retail·qty·0.5, every operand at
    * its natural scale, summed as exact decimals and emitted once as
    * DOUBLE. Plan shape: lineitem keeps the only fact-sized shuffle
    * (join to orders on orderkey); part, supplier+nation are
    * broadcast dims. */
  val q9ProductProfit: QDef = q(
    "q9_product_profit",
    """SELECT n_name AS nation,
      |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2)))
      |    - CAST(p_retailprice AS DECIMAL(12,2))
      |      * CAST(l_quantity AS DECIMAL(12,4)) * 0.5) AS DOUBLE)
      |    AS profit,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |GROUP BY 1, 2
      |ORDER BY nation, o_year""") { (s, d) =>
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), money(col("p_retailprice")).as("retail"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("int").as("o_year"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .as("gross"),
        qty(col("l_quantity")).as("q"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("o_year"),
        (col("gross") - col("retail") * col("q") * lit(BigDecimal("0.5"))
          .cast(DecimalType(1, 1))).as("amount"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("amount")).cast(DoubleType).as("profit"),
        count(lit(1)).as("n_items"))
      .select(col("n_name").as("nation"), col("o_year"), col("profit"),
        col("n_items"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** Adapted TPC-H Q21 "suppliers who kept orders waiting" (r15) —
    * the classic EXISTS/NOT-EXISTS double correlation, spelled as
    * semi + anti joins: for finished orders, count each supplier's
    * LATE lineitems (ship > 90 days after order date) on
    * multi-supplier orders where it was the ONLY late supplier. The
    * fixture has no commit/receipt dates, so lateness is
    * ship-vs-order lag — same join topology as the original. Spark
    * plan: one fact self-semi and one fact self-anti on orderkey
    * (both carry only (orderkey, suppkey) pairs), supplier+nation
    * broadcast at the end. */
  val q21WaitingSuppliers: QDef = q(
    "q21_waiting_suppliers",
    """WITH lo AS (
      |  SELECT l_orderkey, l_suppkey,
      |    date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) > 90 AS late
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderstatus = 'F'),
      |l1 AS (SELECT l_orderkey, l_suppkey FROM lo WHERE late)
      |SELECT s_name, n_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM l1
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE EXISTS (
      |    SELECT 1 FROM lo l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lo l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name""") { (s, d) =>
    val lo = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(col("l_shipdate").cast(DateType),
          col("o_orderdate").cast(DateType)) > 90).as("late"))
    // ONE width-explicit orderkey exchange feeds every leg (§2.4):
    // ReuseExchange shares it between l1 and the counting aggs, both
    // aggs plan exchange-free over it (o ⊆ each grouping key), and
    // the 550k-entry dedup hash builds run session-wide instead of
    // inside the single-split scan task.
    val lo2 = lo.repartition(s.sparkContext.defaultParallelism,
      col("l_orderkey"))
    val l1 = lo2.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey"))
    // r19 batch 3 (guide §2.3/§3): the EXISTS/NOT-EXISTS pair planned
    // two SMJs whose probe AND build sides each re-derived the
    // unpersisted lo join — three lineitem⋈orders passes plus two
    // 600k-row sort-merge legs. The classic Q21 counting form replaces
    // both: per order, d = distinct suppliers and dl = distinct LATE
    // suppliers; an l1 row (o, s) waits alone iff d ≥ 2 (some other
    // supplier exists) and dl = 1 (s itself is late, so the single
    // late supplier IS s — no other late one). Exact set identities,
    // duplicate l1 rows keep their per-line contribution to numwait.
    // ord is bounded by |F-orders|; the broadcast holds to ~SF 1k at
    // ~16 B/row — beyond that drop the hint for the shuffle semi (the
    // q17/xyz broadcast-ceiling convention).
    val g = lo2.groupBy(col("l_orderkey").as("go"), col("l_suppkey"))
      .agg(max(col("late")).as("any_late"))
    val ord = g.groupBy(col("go"))
      .agg(count(lit(1)).as("d"),
        sum(col("any_late").cast(LongType)).as("dl"))
      .filter(col("d") >= 2 && col("dl") === 1)
      .select(col("go"))
    val waited = l1.join(broadcast(ord),
      col("l_orderkey") === col("go"), "left_semi")
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    waited.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** Grid-blocked spatial radius join (r16) — the geospatial blocking
    * pattern the registry lacked: points on a 1000×1000 grid
    * (deterministic synthetic coordinates from customer key and
    * balance — the fixture has no lat/lon; the OPERATOR is the
    * graded thing), radius-25 neighbor search via cell size = radius:
    * each point joins only its 3×3 neighboring cells (a 9-row
    * broadcast offset table — never a cartesian), then the exact
    * integer distance² filter. Graded output is the per-point
    * neighbor-count histogram plus the total pair count — the density
    * profile a spatial index designer reads. At scale this is exactly
    * the geohash/S2 bucketed join: candidate cost follows cell
    * occupancy, not n². */
  val joinSpatialGrid: QDef = q(
    "join_spatial_grid",
    """WITH pt AS (
      |  SELECT c_custkey AS k,
      |    (c_custkey * 37) % 1000 AS x,
      |    ((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) % 1000)
      |      + 1000) % 1000 AS y
      |  FROM customer),
      |pc AS (SELECT k, x, y, x // 25 AS cx, y // 25 AS cy FROM pt),
      |os AS (SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx)
      |  CROSS JOIN (VALUES (-1), (0), (1)) b(dy)),
      |cand AS (
      |  SELECT a.k AS ka, b.k AS kb,
      |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      |  FROM pc a CROSS JOIN os
      |  JOIN pc b ON b.cx = a.cx + os.dx AND b.cy = a.cy + os.dy
      |    AND a.k < b.k),
      |pairs AS (SELECT ka, kb FROM cand WHERE d2 <= 625),
      |ends AS (SELECT ka AS k FROM pairs UNION ALL SELECT kb FROM pairs),
      |nb AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_neighbors
      |  FROM ends GROUP BY k),
      |pn AS (
      |  SELECT pt.k, COALESCE(nb.n_neighbors, 0) AS n_neighbors
      |  FROM pt LEFT JOIN nb ON nb.k = pt.k),
      |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs)
      |SELECT n_neighbors, CAST(COUNT(*) AS BIGINT) AS n_points, np.n_pairs
      |FROM pn CROSS JOIN np
      |GROUP BY n_neighbors, np.n_pairs
      |ORDER BY n_neighbors""") { (s, d) =>
    import s.implicits._
    val pt = Tables.customer(s, d)
      .select(col("c_custkey").as("k"),
        expr("(c_custkey * 37) % 1000").as("x"),
        expr("((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
          + " % 1000) + 1000) % 1000").as("y"))
    val pc = pt.select(col("k"), col("x"), col("y"),
      expr("x div 25").as("cx"), expr("y div 25").as("cy"))
    val os = (for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy))
      .toDF("dx", "dy")
    val pairs = pc.as("a").crossJoin(broadcast(os))
      .join(pc.select(col("k").as("kb"), col("x").as("xb"),
          col("y").as("yb"), col("cx").as("cxb"), col("cy").as("cyb")),
        col("cxb") === col("a.cx") + col("dx") &&
          col("cyb") === col("a.cy") + col("dy") &&
          col("a.k") < col("kb"))
      .filter(expr("(a.x - xb) * (a.x - xb) + (a.y - yb) * (a.y - yb)"
        + " <= 625"))
      .select(col("a.k").as("ka"), col("kb"))
    val nb = pairs.select(explode(array(col("ka"), col("kb"))).as("ek"))
      .groupBy(col("ek")).agg(count(lit(1)).as("n_neighbors"))
    val np = pairs.agg(count(lit(1)).as("n_pairs"))
    pt.join(nb, col("ek") === col("k"), "left")
      .select(coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
      .crossJoin(broadcast(np))
      .groupBy(col("n_neighbors"), col("n_pairs"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("n_neighbors"), col("n_points"), col("n_pairs"))
      .orderBy(col("n_neighbors"))
  }

  val all: Seq[QDef] = Seq(
    joinInnerEqui, joinBroadcastDim, joinLeftOuter, joinFullOuter,
    joinSemi, joinAnti, joinThetaRange, joinCrossSmall,
    joinAsofEvent, joinStar3way, joinNullsafeEq, lateralTopnOrders,
    joinSkewSalted, joinIntervalOverlap, joinAsofTolerance,
    joinAsofNearest, joinSnowflake5way, q3ShippingPriority,
    q18LargeVolume, joinExistsFlag, joinAsofForward, q4OrderPriority,
    joinBloomPrefilter, q5LocalSupplier, q10ReturnedItems,
    q14PromoRevenue, q16SupplierVariety, q22NoOrderCustomers,
    q6RevenueDelta, q13CustomerDistribution, q15TopSupplier,
    q19DiscountedRevenue, joinCardinalityProbe, joinTimeBandBucketed,
    joinNullAwareIn, q17SmallQtyRevenue, q7VolumeShipping, q8MarketShare,
    q11ImportantSuppliers, q9ProductProfit, q21WaitingSuppliers,
    joinSpatialGrid)
}
