package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.4 — aggregation family.
  *
  * All aggregates follow the exact-decimal protocol (Protocol.scala):
  * partial/final hash aggregation commutes for exact decimal addition,
  * so these plans scale to any partition count without changing the
  * answer — the property that makes the same code correct at sf0.001
  * and at 100 TB.
  */
object Aggregates {

  /** Reusable oracle fragment: exact decimal cast of the fixture cols. */
  private val dQty   = "CAST(l_quantity AS DECIMAL(12,4))"
  private val dPrice = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val dDisc  = "CAST(l_discount AS DECIMAL(6,2))"
  private val dTax   = "CAST(l_tax AS DECIMAL(6,2))"

  /** Flagship: TPC-H Q1 shape — scan → pushed filter → hash agg with
    * map-side partials → sort. One shuffle (on the 2-col group key). */
  val q1PricingSummary: QDef = q(
    "q1_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(SUM($dQty) AS DOUBLE) AS sum_qty,
      |  CAST(SUM($dPrice) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM($dPrice * (1 - $dDisc)) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM($dPrice * (1 - $dDisc) * (1 + $dTax)) AS DOUBLE) AS sum_charge,
      |  CAST(SUM($dQty) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM($dPrice) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM($dDisc) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
    val l = Tables.lineitem(s, d)
    l.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        outDouble(sum(qty(col("l_quantity")))).as("sum_qty"),
        outDouble(sum(money(col("l_extendedprice")))).as("sum_base_price"),
        outDouble(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("sum_disc_price"),
        outDouble(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))) * (lit(1) + rate(col("l_tax"))))).as("sum_charge"),
        avgOf(sum(qty(col("l_quantity"))), count(lit(1))).as("avg_qty"),
        avgOf(sum(money(col("l_extendedprice"))), count(lit(1))).as("avg_price"),
        avgOf(sum(rate(col("l_discount"))), count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Multi-distinct → Catalyst Expand; exact distinct counts. */
  val aggCountDistinct: QDef = q(
    "agg_count_distinct",
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS nd_part,
      |  COUNT(DISTINCT l_suppkey) AS nd_supp,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** HLL++ sketch — sanctioned no-oracle op (engine-specific sketch);
    * accuracy vs exact distinct is asserted in scalatest instead. */
  val aggApproxDistinct: QDef = QDef.qNoOracle("agg_approx_distinct") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_nd_part"))
      .orderBy(col("l_returnflag"))
  }

  /** ROLLUP over the region -> nation hierarchy with GROUPING flags to
    * disambiguate subtotal NULLs (D5: NULLS FIRST pinned in both
    * engines). */
  val aggRollup: QDef = q(
    "agg_rollup",
    """SELECT r_name, n_name,
      |  CAST(GROUPING(r_name) AS INTEGER) AS g_r,
      |  CAST(GROUPING(n_name) AS INTEGER) AS g_n,
      |  COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""") { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping(col("r_name")).cast(IntegerType).as("g_r"),
        grouping(col("n_name")).cast(IntegerType).as("g_n"),
        count(lit(1)).as("n_cust"),
        outDouble(sum(money(col("c_acctbal")))).as("sum_bal"))
      .select(col("r_name"), col("n_name"), col("g_r"), col("g_n"),
        col("n_cust"), col("sum_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** CUBE over two independent order dimensions. */
  val aggCube: QDef = q(
    "agg_cube",
    """SELECT o_orderstatus, o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        outDouble(sum(money(col("o_totalprice")))).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** Explicit GROUPING SETS ((lang), (source), ()) over documents. */
  val aggGroupingSets: QDef = q(
    "agg_grouping_sets",
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), ())
      |ORDER BY lang NULLS FIRST, source NULLS FIRST""") { (s, d) =>
    Tables.documents(s, d)
      .groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq.empty[org.apache.spark.sql.Column]),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
  }

  /** Variance/stddev built from exact decimal sums (D3) — never the
    * native float accumulators. Final expression is the SAME float op
    * sequence in both engines on identical exact operands. */
  val aggStatsExplicit: QDef = q(
    "agg_stats_explicit",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mean_value,
      |  (CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
      |   - CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
      |   / (COUNT(*) - 1) AS var_value,
      |  sqrt((CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
      |   - CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
      |   / (COUNT(*) - 1)) AS std_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""") { (s, d) =>
    val v = money(col("value"))
    val n = count(lit(1))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(n.as("n"), sum(v).as("_s"), sum(v * v).as("_ss"))
      .select(
        col("event_type"), col("n"),
        (outDouble(col("_s")) / col("n")).as("mean_value"),
        ((outDouble(col("_ss")) - outDouble(col("_s")) * outDouble(col("_s")) / col("n"))
          / (col("n") - 1)).as("var_value"),
        sqrt((outDouble(col("_ss")) - outDouble(col("_s")) * outDouble(col("_s")) / col("n"))
          / (col("n") - 1)).as("std_value"))
      .orderBy(col("event_type"))
  }

  /** collect_list is order-nondeterministic (D9) — always sorted, then
    * sliced, so the array value is a pure function of the group; the
    * list is '|'-joined on output (D12 flat-output rule). */
  val aggCollectSorted: QDef = q(
    "agg_collect_sorted",
    """SELECT n_name,
      |  array_to_string((list(c_name ORDER BY c_name))[1:5], '|') AS top_names
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""") { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(slice(sort_array(collect_list(col("c_name"))), 1, 5), "|")
        .as("top_names"))
      .orderBy(col("n_name"))
  }

  /** Pivot with an EXPLICIT value list (no inference job, no column-
    * order risk); missing cells coalesced to 0 to match COUNT(CASE). */
  val pivotEventTypes: QDef = q(
    "pivot_event_types",
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("user_id"))
  }

  /** Wide -> long unpivot: THE core reference motion (sheet cells ->
    * observation rows). Values unified to DOUBLE. */
  val unpivotMelt: QDef = q(
    "unpivot_melt",
    """SELECT p_partkey, attr, val FROM (
      |  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      |) ORDER BY p_partkey, attr""") { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast(DoubleType).as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "attr", "val")
      .orderBy(col("p_partkey"), col("attr"))
  }

  /** Exact quantiles by integer rank selection — NO interpolation
    * (native percentile_cont interpolates with engine-specific float
    * paths): the p-quantile is the value at 1-based rank
    * (n-1)*k/10 + 1 under a total order, so the output is a value
    * that literally occurs in the data. */
  val aggQuantilesExact: QDef = q(
    "agg_quantiles_exact",
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  max(CASE WHEN rn = (n - 1) * 5 // 10 + 1 THEN value END) AS p50,
      |  max(CASE WHEN rn = (n - 1) * 9 // 10 + 1 THEN value END) AS p90,
      |  max(n) AS n
      |FROM ranked
      |GROUP BY event_type
      |ORDER BY event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    Tables.events(s, d)
      .select(col("event_type"), col("value"),
        row_number().over(wOrd).as("rn"), count(lit(1)).over(wAll).as("n"))
      .groupBy(col("event_type"))
      .agg(
        // `div`, not `/`: Column./ is float division in Spark while the
        // oracle's // is integer floor division
        max(when(col("rn") === expr("(n - 1) * 5 div 10 + 1"), col("value"))).as("p50"),
        max(when(col("rn") === expr("(n - 1) * 9 div 10 + 1"), col("value"))).as("p90"),
        max(col("n")).as("n"))
      .orderBy(col("event_type"))
  }

  /** Per-group least-squares regression of value over event time,
    * computed ONLY from exact integer-scale decimal sums (x in whole
    * KILOSECONDS since 2024-01-01 — r13 range-safe rescale: in
    * seconds the determinant n·sxx − sx² reached ~2.3e20 at sf0.1,
    * inside DuckDB 1.0.0's int128→DOUBLE misround zone above ~2^63;
    * in kiloseconds it stays ~2.3e14 < 2^53 where both engines'
    * conversions are exact — y in cents): every SUM is exact, every
    * down-cast is verified in-range and scale-preserving, and each
    * decimal→double conversion is a single correctly-rounded step in
    * both engines. slope (reported in dollars per second — the
    * kilosecond slope divided by 1000 in the shared float tree) and
    * intercept are fixed float trees on identical operands. */
  val aggRegressionExplicit: QDef = q(
    "agg_regression_explicit",
    """WITH sums AS (
      |  SELECT event_type,
      |    COUNT(*) AS n,
      |    CAST(COUNT(*) AS DECIMAL(6,0)) AS nd,
      |    CAST(SUM(CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
      |         date_trunc('second', CAST(ts AS TIMESTAMP))) // 1000 AS DECIMAL(8,0))) AS DECIMAL(19,0)) AS sx,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS DECIMAL(14,0)) AS sy0,
      |    CAST(SUM(CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
      |         date_trunc('second', CAST(ts AS TIMESTAMP))) // 1000 AS DECIMAL(8,0))
      |       * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS DECIMAL(22,0)) AS sxy0,
      |    CAST(SUM(CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
      |         date_trunc('second', CAST(ts AS TIMESTAMP))) // 1000 AS DECIMAL(8,0))
      |       * CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
      |         date_trunc('second', CAST(ts AS TIMESTAMP))) // 1000 AS DECIMAL(8,0))) AS DECIMAL(19,0)) AS sxx
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  ROUND(CAST(nd * sxy0 - sx * sy0 AS DOUBLE)
      |      / CAST(nd * sxx - sx * sx AS DOUBLE) / 100.0 / 1000.0, 6) AS slope,
      |  ROUND((CAST(sy0 AS DOUBLE) / 100.0
      |      - CAST(nd * sxy0 - sx * sy0 AS DOUBLE)
      |        / CAST(nd * sxx - sx * sx AS DOUBLE) / 100.0
      |        * CAST(sx AS DOUBLE))
      |      / CAST(n AS DOUBLE), 6) AS intercept
      |FROM sums
      |ORDER BY event_type""") { (s, d) =>
    // sign-safe by MEASUREMENT (r15, corrects the ADVICE-r13 premise):
    // DuckDB 1.0.0's `//` on integer types TRUNCATES toward zero
    // exactly like Spark's `div` (probed: SELECT -7 // 2 → -3; floats
    // differ, integers don't), so the bare `div` IS the identical
    // spelling on every sign — the r13 pmod-floor rewrite made Spark
    // floor where the oracle truncates and was itself the latent
    // divergence for pre-epoch (negative-second) events.
    val x = expr("(unix_timestamp(ts) - 1704067200L) div 1000")
      .cast(DecimalType(8, 0))
    val y0 = (money(col("value")) * 100).cast(DecimalType(14, 0))
    val sums = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(lit(1)).cast(DecimalType(6, 0)).as("nd"),
        // precisions MATCH the oracle twin's casts (sx/sxx at 19,0):
        // narrower Spark casts would overflow (null/throw) orders of
        // magnitude before DuckDB does, diverging exactly where the
        // twins must agree. Values are exact integers either way.
        sum(x).cast(DecimalType(19, 0)).as("sx"),
        sum(y0).cast(DecimalType(14, 0)).as("sy0"),
        sum(x * y0).cast(DecimalType(22, 0)).as("sxy0"),
        sum(x * x).cast(DecimalType(19, 0)).as("sxx"))
    val slope = (col("nd") * col("sxy0") - col("sx") * col("sy0")).cast(DoubleType) /
      (col("nd") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) / 100.0
    sums.select(col("event_type"), col("n"),
        round(slope / 1000.0, 6).as("slope"),
        round((col("sy0").cast(DoubleType) / 100.0 - slope * col("sx").cast(DoubleType))
          / col("n").cast(DoubleType), 6).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Correlated-scalar-subquery shape: rows above their group's
    * decimal average — DataFrame side plans it as agg + broadcast
    * join; the oracle text keeps the correlated form. */
  val filterAboveGroupAvg: QDef = q(
    "filter_above_group_avg",
    """SELECT p_partkey, p_brand, p_retailprice
      |FROM part p
      |WHERE p_retailprice > (
      |  SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |  FROM part p2 WHERE p2.p_brand = p.p_brand)
      |ORDER BY p_partkey""") { (s, d) =>
    val p = Tables.part(s, d)
    val brandAvg = p.groupBy(col("p_brand").as("b_brand"))
      .agg(avgOf(sum(money(col("p_retailprice"))), count(lit(1))).as("brand_avg"))
    p.join(broadcast(brandAvg), col("p_brand") === col("b_brand"))
      .filter(col("p_retailprice") > col("brand_avg"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  /** Equal-width histogram of order totals (10 buckets over the global
    * [min, max]) — the profiling shape behind width_bucket / numeric
    * histograms. The 1-row min/max table broadcasts; bucketing is a
    * per-row double expression on identical operands in both engines
    * (exact-decimal inputs cast once to double), so bucket ids are
    * deterministic; counts and sums are exact. */
  val aggHistogramBucketed: QDef = q(
    "agg_histogram_bucketed",
    """WITH stats AS (
      |  SELECT CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS mn,
      |         CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS mx
      |  FROM orders),
      |b AS (
      |  SELECT CASE WHEN mx = mn THEN 0 ELSE
      |      LEAST(CAST(floor((CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) - mn)
      |           * 10 / (mx - mn)) AS INT), 9) END AS bucket,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS p, mn, mx
      |  FROM orders CROSS JOIN stats)
      |SELECT bucket,
      |  mn + bucket * ((mx - mn) / 10) AS lo_edge,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(p) AS DOUBLE) AS sum_total
      |FROM b GROUP BY bucket, mn, mx
      |ORDER BY bucket""") { (s, d) =>
    val p = money(col("o_totalprice"))
    val stats = Tables.orders(s, d)
      .agg(outDouble(min(p)).as("mn"), outDouble(max(p)).as("mx"))
    val b = Tables.orders(s, d)
      .crossJoin(broadcast(stats))
      .select(
        // degenerate guard: a constant column would otherwise divide
        // 0/0 into NaN (and engines disagree on casting NaN)
        when(col("mx") === col("mn"), 0).otherwise(
          least(floor((outDouble(p) - col("mn")) * 10 / (col("mx") - col("mn")))
            .cast(IntegerType), lit(9))).as("bucket"),
        p.as("p"), col("mn"), col("mx"))
    b.groupBy(col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n"), outDouble(sum(col("p"))).as("sum_total"))
      .select(col("bucket"),
        (col("mn") + col("bucket") * ((col("mx") - col("mn")) / 10)).as("lo_edge"),
        col("n"), col("sum_total"))
      .orderBy(col("bucket"))
  }

  /** Deterministic per-group MODE (most frequent value, ties to the
    * smallest value — built-in `mode()` has engine-specific ties, so
    * both sides spell the tie-break out). Count-then-top1 through the
    * custom GroupedTopKExec: the count aggregate carries map-side
    * partials and the top-1 cut is a bounded heap per group, so the
    * shape holds when the (group, value) domain is billions wide. */
  val aggModeDeterministic: QDef = q(
    "agg_mode_deterministic",
    """WITH c AS (
      |  SELECT l_returnflag, CAST(FLOOR(l_quantity) AS INTEGER) AS q,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, q AS mode_qty, n AS n_occurrences FROM c
      |QUALIFY row_number() OVER (
      |  PARTITION BY l_returnflag ORDER BY n DESC, q) = 1
      |ORDER BY l_returnflag""") { (s, d) =>
    // FLOOR on BOTH sides: a bare int cast truncates toward zero in
    // Spark but rounds to nearest in DuckDB — a latent hash flip the
    // moment a fractional quantity appears. floor() agrees everywhere.
    val counts = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        floor(col("l_quantity")).cast(IntegerType).as("q"))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("n"))
    graft.plans.GroupedTopK.topkPerGroup(counts,
        groupCols = Seq("l_returnflag"),
        orderBy = Seq(("n", false), ("q", true)), k = 1)
      .select(col("l_returnflag"), col("q").as("mode_qty"),
        col("n").as("n_occurrences"))
      .orderBy(col("l_returnflag"))
  }

  /** ARG_MAX / ARG_MIN (max_by / min_by) per group (r11) — "which
    * order was the priciest" without a window or a self-join: one
    * hash aggregate whose partials carry a single (arg, key) pair per
    * group, so the shuffle is group-cardinality at any fact size.
    * Both engines' arg extrema are tie-nondeterministic, so the
    * ordering key is made UNIQUE by construction: cents (exact via
    * the D2 decimal cast) composed with the orderkey into one BIGINT.
    * The composition bounds assumed: price < 10^9 dollars and
    * orderkey < 10^8 — true by orders of magnitude on this schema; a
    * corpus that breaks them needs a wider composite, not a different
    * plan. */
  val aggArgminmax: QDef = q(
    "agg_argminmax",
    """WITH o AS (
      |  SELECT o_orderpriority AS pri, o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 100000000
      |      + o_orderkey AS ordkey
      |  FROM orders)
      |SELECT pri,
      |  arg_max(o_orderkey, ordkey) AS max_order,
      |  arg_min(o_orderkey, ordkey) AS min_order,
      |  CAST(max(tp) * 100 AS BIGINT) AS max_price_cents,
      |  CAST(min(tp) * 100 AS BIGINT) AS min_price_cents,
      |  COUNT(*) AS n
      |FROM o GROUP BY pri
      |ORDER BY pri""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("tp"))
      .withColumn("ordkey",
        (col("tp") * 100).cast(LongType) * lit(100000000L) + col("o_orderkey"))
      .groupBy(col("pri"))
      .agg(max_by(col("o_orderkey"), col("ordkey")).as("max_order"),
        min_by(col("o_orderkey"), col("ordkey")).as("min_order"),
        // D2/D12: never ship a raw DECIMAL — exact cents as BIGINT.
        (max(col("tp")) * 100).cast(LongType).as("max_price_cents"),
        (min(col("tp")) * 100).cast(LongType).as("min_price_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("pri"))
  }

  /** Bitmap-style distinct counting (r11): per-user active-day SET as
    * one BIGINT bitmap via the BIT_OR aggregate (1 << day-offset),
    * popcount = exact distinct-day count — the fixed-width-sketch
    * shape (roaring-bitmap-lite) whose partials are a single long per
    * group regardless of row count, vs COUNT(DISTINCT)'s per-value
    * shuffle (emitted alongside as the self-check column). The fixture
    * events span Jan 2024 (offsets 0..29); an out-of-range offset
    * would silently corrupt the mask, so it raises instead — the
    * ngram_logprob overflow-guard discipline. At wider spans the same
    * pattern shards into (user, epoch-week) masks. */
  val aggBitmapDistinct: QDef = q(
    "agg_bitmap_distinct",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '2024-01-01' AS day_off
      |  FROM events)
      |SELECT user_id,
      |  bit_or(1::BIGINT << day_off) AS days_bitmap,
      |  CAST(bit_count(bit_or(1::BIGINT << day_off)) AS INTEGER) AS n_active_days,
      |  COUNT(DISTINCT day_off) AS n_days_check
      |FROM e GROUP BY user_id
      |ORDER BY user_id""") { (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("day_off"))
      .withColumn("mask",
        when(col("day_off").between(0, 62), expr("shiftleft(1L, day_off)"))
          .otherwise(raise_error(concat(
            lit("agg_bitmap_distinct: day offset outside one 64-bit mask: "),
            col("day_off").cast(StringType)))))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(mask)").as("days_bitmap"),
        bit_count(expr("bit_or(mask)")).as("n_active_days"),
        countDistinct(col("day_off")).as("n_days_check"))
      .orderBy(col("user_id"))
  }

  /** Weighted median (r11c) — the order statistic neither engine
    * ships exactly: per return flag, the price at which HALF the
    * shipped QUANTITY sits at or below (quantity-weighted lower
    * median, 2·cumw ≥ totw). Formulation both engines define
    * identically: one per-flag window computes the running weight
    * over the (price, orderkey, linenumber) total order plus the
    * flag total, then the threshold row is min(price) over the
    * qualifying suffix. Weights and prices stay exact integers
    * (D2). One flag exchange; per-flag work is a sort — at a
    * billion-row flag the same answer comes from a two-pass
    * histogram bisect, the documented degradation. */
  val aggWeightedMedian: QDef = q(
    "agg_weighted_median",
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
      |    CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10000 AS BIGINT) AS w,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |cum AS (
      |  SELECT flag, price_cents, w,
      |    SUM(w) OVER (PARTITION BY flag ORDER BY price_cents, l_orderkey, l_linenumber
      |      ROWS UNBOUNDED PRECEDING) AS cw,
      |    SUM(w) OVER (PARTITION BY flag) AS tw
      |  FROM li)
      |SELECT flag, CAST(min(price_cents) AS BIGINT) AS wmedian_cents,
      |  CAST(min(tw) AS BIGINT) AS total_weight
      |FROM cum WHERE 2 * cw >= tw GROUP BY flag ORDER BY flag""") { (s, d) =>
    // Spark side takes the HISTOGRAM-BISECT formulation (the oracle
    // keeps the naive one-window spelling): a direct per-flag
    // running-weight window sorts the WHOLE group — with a handful of
    // flags that is a full-table sort across a handful of tasks, the
    // shape that dies first at scale. Instead: (1) bucket prices
    // (div 65536 cents) and aggregate weight per (flag, bucket) — a
    // partial-agged shuffle of bucket-cardinality rows; (2) find the
    // threshold bucket and the cumulative weight strictly below it
    // with windows over that TINY table; (3) broadcast the 1-row-per-
    // flag threshold back and sort ONLY the in-bucket sliver
    // (~1/bucket-count of the data) to locate the exact row. Same
    // answer bit-for-bit; the full-group sort never happens.
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      (money(col("l_extendedprice")) * 100).cast(LongType).as("price_cents"),
      (qty(col("l_quantity")) * 10000).cast(LongType).as("w"),
      col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", expr("price_cents div 65536"))
    val b = li.groupBy(col("flag"), col("bucket")).agg(sum(col("w")).as("bw"))
    val wBCum = Window.partitionBy(col("flag")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBTot = Window.partitionBy(col("flag"))
    val marked = b.select(col("flag"), col("bucket"), col("bw"),
      sum(col("bw")).over(wBCum).as("cumbw"), sum(col("bw")).over(wBTot).as("tw"))
    val thresh = marked.filter(col("cumbw") * 2 >= col("tw"))
      .groupBy(col("flag"))
      .agg(min(col("bucket")).as("tb"), min(col("tw")).as("tw"))
    // cumulative weight strictly below the threshold bucket
    val below = marked.select(col("flag").as("bf"), col("bucket"),
        (col("cumbw") - col("bw")).as("cum_below"))
      .join(broadcast(thresh), col("bf") === thresh("flag") && col("bucket") === col("tb"))
      .select(col("bf").as("flag"), col("tb"), col("cum_below"), col("tw"))
    val wIn = Window.partitionBy(col("flag"))
      .orderBy(col("price_cents"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(below), Seq("flag"))
      .filter(col("bucket") === col("tb"))
      .select(col("flag"), col("price_cents"), col("tw"),
        (col("cum_below") + sum(col("w")).over(wIn)).as("cw"))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy(col("flag"))
      .agg(min(col("price_cents")).as("wmedian_cents"),
        min(col("tw")).as("total_weight"))
      .orderBy(col("flag"))
  }

  /** Multi-aggregate pivot (r11c) — `pivot_event_types` grades the
    * single-agg pivot; this grades Spark's multi-agg pivot surface
    * (groupBy.pivot.agg(count, sum) → one column pair per pivot
    * value) with exact-cents sums. The oracle is the equivalent
    * conditional aggregation. One hash agg: partials carry a fixed
    * 2×|values| slots per user regardless of row count. */
  val pivotMultiAgg: QDef = q(
    "pivot_multi_agg",
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'click'
      |    THEN CAST(value AS DECIMAL(12,4)) * 100 END) AS BIGINT), 0) AS click_cents,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
      |    THEN CAST(value AS DECIMAL(12,4)) * 100 END) AS BIGINT), 0) AS purchase_cents,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'view'
      |    THEN CAST(value AS DECIMAL(12,4)) * 100 END) AS BIGINT), 0) AS view_cents
      |FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val types = Seq("click", "purchase", "view")
    val p = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"),
        (sum(qty(col("value"))) * 100).cast(LongType).as("cents"))
    val cols = types.flatMap { t =>
      Seq(coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
        coalesce(col(s"${t}_cents"), lit(0L)).as(s"${t}_cents"))
    }
    p.select(col("user_id") +: cols: _*).orderBy(col("user_id"))
  }

  /** Skewness + excess kurtosis (r11c; r13 range-safe rescale) — the
    * 3rd/4th-moment distribution-shape profile extending
    * `agg_stats_explicit`'s mean/stddev: raw power sums S1..S4
    * accumulate as EXACT DECIMAL(38,0), then ONE float finish
    * evaluates the IDENTICAL expression tree in both engines on
    * identical double inputs, so results are bit-equal (the
    * `agg_regression_explicit` protocol). Units are KILODOLLARS
    * (r13): DuckDB 1.0.0's int128→DOUBLE cast misrounds by 1 ulp
    * above ~2^63 (PLANS.md, measured on agg_zscore_outliers), so
    * every decimal sum feeding the float finish must stay below 2^53
    * where both engines' conversions are exact integers. In dollars,
    * s4 ≈ 1e25 at sf0.1 — deep in the hazard zone; in kilodollars
    * d⁴ ≤ 104⁴ ≈ 1.2e8/row, keeping s4 < 2^53 up to ~7e7 rows (and
    * the DecimalCastBoundsSpec gate asserts the bound at sf0.1).
    * Population moments of the quantized variable; single
    * partial+final hash agg — partials are 4 decimals + a count per
    * group at any row count. */
  val aggSkewKurtosis: QDef = q(
    "agg_skew_kurtosis",
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000 AS kdol
      |  FROM lineitem),
      |s AS (
      |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
      |    SUM(CAST(kdol AS DECIMAL(38,0))) AS s1,
      |    SUM(CAST(kdol AS DECIMAL(38,0)) * kdol) AS s2,
      |    SUM(CAST(kdol AS DECIMAL(38,0)) * kdol * kdol) AS s3,
      |    SUM(CAST(kdol AS DECIMAL(38,0)) * kdol * kdol * kdol) AS s4
      |  FROM li GROUP BY flag),
      |t AS (
      |  SELECT flag, n, CAST(s1 AS DOUBLE) / n AS m, CAST(s2 AS DOUBLE) / n AS q2,
      |    CAST(s3 AS DOUBLE) / n AS q3, CAST(s4 AS DOUBLE) / n AS q4
      |  FROM s),
      |u AS (SELECT flag, n, m, q2, q3, q4, q2 - m * m AS v FROM t)
      |SELECT flag, n, m AS mean_kdol, sqrt(v) AS sd_kdol,
      |  (q3 - 3 * m * q2 + 2 * m * m * m) / (sqrt(v) * sqrt(v) * sqrt(v)) AS skewness,
      |  (q4 - 4 * m * q3 + 6 * m * m * q2 - 3 * m * m * m * m) / (v * v) - 3
      |    AS excess_kurtosis
      |FROM u ORDER BY flag""") { (s, d) =>
    val dec = col("kdol").cast(DecimalType(38, 0))
    val sums = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint) div 100000")
          .as("kdol"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(dec).as("s1"),
        sum(dec * col("kdol")).as("s2"),
        sum(dec * col("kdol") * col("kdol")).as("s3"),
        sum(dec * col("kdol") * col("kdol") * col("kdol")).as("s4"))
    val t = sums.select(col("flag"), col("n"),
      (col("s1").cast(DoubleType) / col("n")).as("m"),
      (col("s2").cast(DoubleType) / col("n")).as("q2"),
      (col("s3").cast(DoubleType) / col("n")).as("q3"),
      (col("s4").cast(DoubleType) / col("n")).as("q4"))
    val u = t.withColumn("v", col("q2") - col("m") * col("m"))
    u.select(col("flag"), col("n"), col("m").as("mean_kdol"),
        sqrt(col("v")).as("sd_kdol"),
        ((col("q3") - lit(3) * col("m") * col("q2")
          + lit(2) * col("m") * col("m") * col("m"))
          / (sqrt(col("v")) * sqrt(col("v")) * sqrt(col("v")))).as("skewness"),
        ((col("q4") - lit(4) * col("m") * col("q3")
          + lit(6) * col("m") * col("m") * col("q2")
          - lit(3) * col("m") * col("m") * col("m") * col("m"))
          / (col("v") * col("v")) - 3).as("excess_kurtosis"))
      .orderBy(col("flag"))
  }

  /** Boolean/conditional aggregate family (r12) — BOOL_AND / BOOL_OR
    * (SQL EVERY/ANY) plus the COUNT_IF / conditional-count surface,
    * per order priority. COUNT_IF is spelled SUM(CASE WHEN..) on the
    * oracle side (portable ANSI; Spark's count_if is the same
    * aggregate) and the booleans are genuine BooleanType outputs
    * (hash-safe per the D12 lint). One partial+final hash agg —
    * boolean partials are single bytes, conditional counts are
    * longs; nothing scales with row count past the map side. */
  val aggBoolCountif: QDef = q(
    "agg_bool_countif",
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  bool_and(o_totalprice < 495000) AS all_below_cap,
      |  bool_or(o_totalprice > 450000) AS any_high_value,
      |  bool_and(o_orderstatus IN ('F', 'O', 'P')) AS all_known_status,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_finished,
      |  CAST(SUM(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high_value
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        bool_and(col("o_totalprice") < 495000).as("all_below_cap"),
        bool_or(col("o_totalprice") > 450000).as("any_high_value"),
        bool_and(col("o_orderstatus").isin("F", "O", "P")).as("all_known_status"),
        count_if(col("o_orderstatus") === "F").as("n_finished"),
        count_if(col("o_totalprice") > 450000).as("n_high_value"))
      .orderBy(col("o_orderpriority"))
  }

  /** GROUPING()/grouping-id surface (r12) — the disambiguator the
    * cube/rollup keys lack: with nullable grouping columns, an output
    * NULL is ambiguous between "NULL in the data" and "aggregated
    * away"; grouping_id() (standard bitmask, leftmost column = MSB)
    * and the per-column GROUPING() flags resolve it. Rollup over
    * (lang, source) with the id in the sort key, so the level
    * structure itself is graded. */
  val aggGroupingId: QDef = q(
    "agg_grouping_id",
    """SELECT lang, source,
      |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
      |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
      |  CAST(GROUPING(source) AS BIGINT) AS g_source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY ROLLUP (lang, source)
      |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""") { (s, d) =>
    Tables.documents(s, d)
      .rollup(col("lang"), col("source"))
      .agg(grouping_id().cast(LongType).as("gid"),
        grouping(col("lang")).cast(LongType).as("g_lang"),
        grouping(col("source")).cast(LongType).as("g_source"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("lang"), col("source"), col("gid"), col("g_lang"),
        col("g_source"), col("n_docs"), col("total_chars"))
      .orderBy(col("gid"), col("lang").asc_nulls_first,
        col("source").asc_nulls_first)
  }

  /** Pearson correlation per group (r12) — corr(quantity, price)
    * per return flag via EXPLICIT exact power sums, never the native
    * corr() (whose streaming-update float accumulation is engine-
    * and partition-order-dependent). Inputs quantize to
    * deci-quantity and DEKADOLLARS (r13 range-safe rescale: in
    * cents, syy could reach ~6.6e19 at sf0.1 — inside DuckDB
    * 1.0.0's int128→DOUBLE 1-ulp misround zone above ~2^63; in
    * dekadollars y ≤ 10 499 keeps every sum below 2^53, where both
    * engines' decimal→double conversions are exact integers — the
    * agg_skew_kurtosis kilodollar discipline). The five cross sums
    * accumulate as DECIMAL(38,0) partials (exact ⇒ partition-count
    * invariant), and corr + population covariance are ONE identical
    * float expression tree over identical doubles. */
  val aggCorrExplicit: QDef = q(
    "agg_corr_explicit",
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000 AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM li GROUP BY flag),
      |t AS (
      |  SELECT flag, n, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
      |    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy,
      |    CAST(sxy AS DOUBLE) AS dxy
      |  FROM s)
      |SELECT flag, n,
      |  (n * dxy - dx * dy) / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy))
      |    AS corr_xy,
      |  (n * dxy - dx * dy) / (CAST(n AS DOUBLE) * n) AS cov_pop
      |FROM t ORDER BY flag""") { (s, d) =>
    val decX = col("x").cast(DecimalType(38, 0))
    val decY = col("y").cast(DecimalType(38, 0))
    val sums = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        (qty(col("l_quantity")) * 10).cast(LongType).as("x"),
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint) div 1000")
          .as("y"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(decX).as("sx"), sum(decY).as("sy"),
        sum(decX * col("x")).as("sxx"), sum(decY * col("y")).as("syy"),
        sum(decX * col("y")).as("sxy"))
    val t = sums.select(col("flag"), col("n"),
      col("sx").cast(DoubleType).as("dx"), col("sy").cast(DoubleType).as("dy"),
      col("sxx").cast(DoubleType).as("dxx"), col("syy").cast(DoubleType).as("dyy"),
      col("sxy").cast(DoubleType).as("dxy"))
    t.select(col("flag"), col("n"),
        ((col("n") * col("dxy") - col("dx") * col("dy"))
          / (sqrt(col("n") * col("dxx") - col("dx") * col("dx"))
            * sqrt(col("n") * col("dyy") - col("dy") * col("dy")))).as("corr_xy"),
        ((col("n") * col("dxy") - col("dx") * col("dy"))
          / (col("n").cast(DoubleType) * col("n"))).as("cov_pop"))
      .orderBy(col("flag"))
  }

  /** Ordered string aggregation (r12) — LISTAGG/STRING_AGG, the
    * report-building aggregate: per order priority, the DISTINCT
    * statuses joined in sorted order, plus the same over the year
    * suffixes of order dates. Emitted as a deterministic '|'-joined
    * STRING (the `agg_collect_sorted` array twin, one dialect over:
    * DuckDB spells it string_agg(DISTINCT … ORDER BY …), Spark
    * composes sort_array(collect_set(…)) + array_join — identical
    * results because the join order is a total order on distinct
    * values). Set sizes are bounded by the domain, so partials stay
    * tiny at any row count. */
  val aggStringConcat: QDef = q(
    "agg_string_concat",
    """SELECT o_orderpriority,
      |  string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
      |    AS statuses,
      |  string_agg(DISTINCT CAST(year(o_orderdate) AS VARCHAR), '|'
      |    ORDER BY CAST(year(o_orderdate) AS VARCHAR)) AS years,
      |  CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        year(col("o_orderdate")).cast(StringType).as("yr"))
      .groupBy(col("o_orderpriority"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderstatus"))), "|")
          .as("statuses"),
        array_join(sort_array(collect_set(col("yr"))), "|").as("years"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Parametric z-score outliers (r12) — `anomaly_mad`'s Gaussian
    * twin: per order priority, population mean/σ from exact decimal
    * sums, each order's z computed by ONE identical float tree on
    * identical doubles (bit-equal both engines, so even the |z| > 1.5
    * boundary filter agrees bit-for-bit; the fixture totalprice is
    * near-uniform, whose |z| tops out at sqrt(3) < 2), outliers reported with
    * their z. One group-stats aggregate broadcast back into the
    * scan; the fact never shuffles. */
  val aggZscoreOutliers: QDef = q(
    "agg_zscore_outliers",
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 100 AS dol
      |  FROM orders),
      |st AS (
      |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(dol AS DECIMAL(38,0))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(dol AS DECIMAL(38,0)) * dol) AS DOUBLE) AS s2
      |  FROM o GROUP BY o_orderpriority),
      |m AS (
      |  SELECT o_orderpriority, s1 / n AS mu,
      |    sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sigma
      |  FROM st)
      |SELECT o.o_orderkey, o.o_orderpriority, o.dol,
      |  (o.dol - m.mu) / m.sigma AS z
      |FROM o JOIN m ON o.o_orderpriority = m.o_orderpriority
      |WHERE abs((o.dol - m.mu) / m.sigma) > 1.5
      |ORDER BY o.o_orderkey""") { (s, d) =>
    // Dollar units, not cents: keeps every power sum below 2^53, where
    // BOTH engines' decimal->double casts are exact. Above ~2^63
    // DuckDB's int128->double conversion is NOT correctly rounded
    // (measured at sf0.1: CAST(25220379160838261152 AS DOUBLE) lands
    // one ulp low), so "identical float tree over identical doubles"
    // requires the inputs to stay in the exactly-convertible range.
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 100")
          .as("dol"))
    val dec = col("dol").cast(DecimalType(38, 0))
    val st = o.groupBy(col("o_orderpriority").as("pr"))
      .agg(count(lit(1)).as("n"),
        sum(dec).cast(DoubleType).as("s1"),
        sum(dec * col("dol")).cast(DoubleType).as("s2"))
    val m = st.select(col("pr"),
      (col("s1") / col("n")).as("mu"),
      sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
        .as("sigma"))
    o.join(broadcast(m), col("o_orderpriority") === col("pr"))
      .filter(abs((col("dol") - col("mu")) / col("sigma")) > 1.5)
      .select(col("o_orderkey"), col("o_orderpriority"), col("dol"),
        ((col("dol") - col("mu")) / col("sigma")).as("z"))
      .orderBy(col("o_orderkey"))
  }

  /** Top-N + OTHER rollup (r12c) — the reporting shape every revenue
    * dashboard ships: per-brand revenue, the top-5 brands kept by
    * name, the long tail folded into one 'OTHER' row, shares
    * recomputed over the whole. The brand table is aggregated ONCE
    * and persisted; top-5 selection is a TakeOrderedAndProject whose
    * 5-row result broadcasts back as the labeling set, so the fact
    * table is scanned once and the only full-size shuffle is the
    * brand agg's partials. Ties at the cut are impossible to
    * mis-order: exact-decimal revenue with a brand-name tiebreak is
    * a total order in both engines. share_ppm uses q14's
    * identically-spelled float round-half-up. */
  val reportTopnOther: QDef = q(
    "report_topn_other",
    """WITH br AS MATERIALIZED (
      |  SELECT p_brand,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY p_brand),
      |t5 AS (SELECT p_brand FROM br ORDER BY rev DESC, p_brand LIMIT 5),
      |lab AS (
      |  SELECT CASE WHEN p_brand IN (SELECT p_brand FROM t5)
      |    THEN p_brand ELSE 'OTHER' END AS label, rev
      |  FROM br),
      |a AS (SELECT label, SUM(rev) AS rev,
      |  CAST(COUNT(*) AS BIGINT) AS n_brands FROM lab GROUP BY label),
      |tot AS (SELECT SUM(rev) AS tr FROM br)
      |SELECT label, CAST(rev AS DOUBLE) AS revenue, n_brands,
      |  CAST(floor(CAST(rev AS DOUBLE) * 1000000 / CAST(tr AS DOUBLE) + 0.5)
      |    AS BIGINT) AS share_ppm
      |FROM a, tot
      |ORDER BY revenue DESC, label""") { (s, d) =>
    // r19 batch 3 (guide §2.5 — the report_abc_class spelling): the
    // single-split scan ran the broadcast probe + decimal partial agg
    // over 600k rows in ONE task; one width-explicit partkey exchange
    // spreads that work. Decimal sums are partitioning-invariant (D2).
    val br = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(s.sparkContext.defaultParallelism, col("l_partkey"))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount")))).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t5 = br.orderBy(col("rev").desc, col("p_brand")).limit(5)
      .select(col("p_brand").as("tb"))
    val lab = br.join(broadcast(t5), col("p_brand") === col("tb"), "left")
      .select(when(col("tb").isNotNull, col("p_brand")).otherwise("OTHER")
        .as("label"), col("rev"))
    val a = lab.groupBy(col("label"))
      .agg(sum(col("rev")).as("rev"), count(lit(1)).as("n_brands"))
    val tot = br.agg(sum(col("rev")).as("tr"))
    a.crossJoin(broadcast(tot))
      .select(col("label"), outDouble(col("rev")).as("revenue"),
        col("n_brands"),
        floor(outDouble(col("rev")) * 1000000 / outDouble(col("tr")) + 0.5)
          .cast(LongType).as("share_ppm"))
      .orderBy(col("revenue").desc, col("label"))
  }

  /** One-pass correlation matrix (r12c) — all three pairwise
    * correlations of (quantity, price, discount) from a SINGLE scan:
    * the 10 sufficient statistics (n, 3 sums, 3 squares, 3 cross
    * products) accumulate as exact DECIMAL(38,0) partials in one
    * aggregate, so adding a variable costs columns, not passes —
    * the way a covariance matrix is actually computed at 100 TB.
    * Formula spelling is `agg_corr_explicit`'s, applied three
    * times. Price in integer DOLLARS (cents div 100, the
    * agg_zscore_outliers rule): the price power sum stays below
    * 2^53 where both engines' decimal→double casts are exactly
    * rounded — in cents, syy crosses the measured DuckDB int128
    * misrounding range at sf0.1 (this key FAILED preflight there
    * before the rescale). */
  val aggCorrMatrix: QDef = q(
    "agg_corr_matrix",
    """WITH li AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 100 AS y,
      |    CAST(CAST(l_discount AS DECIMAL(6,2)) * 100 AS BIGINT) AS z
      |  FROM lineitem),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(z AS DECIMAL(38,0))) AS sz,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * z) AS sxz,
      |    SUM(CAST(y AS DECIMAL(38,0)) * z) AS syz
      |  FROM li),
      |t AS (
      |  SELECT n, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
      |    CAST(sz AS DOUBLE) AS dz, CAST(sxx AS DOUBLE) AS dxx,
      |    CAST(syy AS DOUBLE) AS dyy, CAST(szz AS DOUBLE) AS dzz,
      |    CAST(sxy AS DOUBLE) AS dxy, CAST(sxz AS DOUBLE) AS dxz,
      |    CAST(syz AS DOUBLE) AS dyz
      |  FROM s)
      |SELECT n,
      |  (n * dxy - dx * dy) / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy))
      |    AS corr_qty_price,
      |  (n * dxz - dx * dz) / (sqrt(n * dxx - dx * dx) * sqrt(n * dzz - dz * dz))
      |    AS corr_qty_disc,
      |  (n * dyz - dy * dz) / (sqrt(n * dyy - dy * dy) * sqrt(n * dzz - dz * dz))
      |    AS corr_price_disc
      |FROM t""") { (s, d) =>
    val decX = col("x").cast(DecimalType(38, 0))
    val decY = col("y").cast(DecimalType(38, 0))
    val decZ = col("z").cast(DecimalType(38, 0))
    val sums = Tables.lineitem(s, d)
      .select((qty(col("l_quantity")) * 10).cast(LongType).as("x"),
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint) div 100")
          .as("y"),
        (rate(col("l_discount")) * 100).cast(LongType).as("z"))
      .agg(count(lit(1)).as("n"),
        sum(decX).as("sx"), sum(decY).as("sy"), sum(decZ).as("sz"),
        sum(decX * col("x")).as("sxx"), sum(decY * col("y")).as("syy"),
        sum(decZ * col("z")).as("szz"), sum(decX * col("y")).as("sxy"),
        sum(decX * col("z")).as("sxz"), sum(decY * col("z")).as("syz"))
    val t = sums.select(col("n"),
      col("sx").cast(DoubleType).as("dx"), col("sy").cast(DoubleType).as("dy"),
      col("sz").cast(DoubleType).as("dz"),
      col("sxx").cast(DoubleType).as("dxx"),
      col("syy").cast(DoubleType).as("dyy"),
      col("szz").cast(DoubleType).as("dzz"),
      col("sxy").cast(DoubleType).as("dxy"),
      col("sxz").cast(DoubleType).as("dxz"),
      col("syz").cast(DoubleType).as("dyz"))
    import org.apache.spark.sql.Column
    def corr(dab: Column, da: Column, db: Column, daa: Column, dbb: Column) =
      (col("n") * dab - da * db) /
        (sqrt(col("n") * daa - da * da) * sqrt(col("n") * dbb - db * db))
    t.select(col("n"),
      corr(col("dxy"), col("dx"), col("dy"), col("dxx"), col("dyy"))
        .as("corr_qty_price"),
      corr(col("dxz"), col("dx"), col("dz"), col("dxx"), col("dzz"))
        .as("corr_qty_disc"),
      corr(col("dyz"), col("dy"), col("dz"), col("dyy"), col("dzz"))
        .as("corr_price_disc"))
  }

  /** Order-aging buckets (r12c) — the receivables-style aging report:
    * every order bucketed by its age at the snapshot date (the
    * fixture's freshest order date, one-row broadcast), counts and
    * value per (priority, bucket). Bucket edges are integer day
    * diffs on DATE-cast values — both engines count the same
    * calendar-day boundary crossings. One fact pass + a one-row
    * pre-agg, like dq_freshness_sla. */
  val reportAgingBuckets: QDef = q(
    "report_aging_buckets",
    """WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS snap FROM orders),
      |o AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS v,
      |    date_diff('day', CAST(o_orderdate AS DATE), snap) AS age
      |  FROM orders, mx)
      |SELECT priority,
      |  CASE WHEN age <= 30 THEN '00-30' WHEN age <= 90 THEN '31-90'
      |       WHEN age <= 365 THEN '91-365' ELSE '366+' END AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM o GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val mx = Tables.orders(s, d)
      .agg(max(col("o_orderdate")).cast(DateType).as("snap"))
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("priority"),
        money(col("o_totalprice")).as("v"), col("o_orderdate"))
      .crossJoin(broadcast(mx))
      .select(col("priority"), col("v"),
        datediff(col("snap"), col("o_orderdate").cast(DateType)).as("age"))
      .groupBy(col("priority"),
        when(col("age") <= 30, "00-30").when(col("age") <= 90, "31-90")
          .when(col("age") <= 365, "91-365").otherwise("366+").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        outDouble(sum(col("v"))).as("total_value"))
      .orderBy(col("priority"), col("bucket"))
  }

  /** Revenue-concentration report (r12c) — per order status: how much
    * of the value the 10 biggest orders capture ("whale share"). The
    * top-10 selection is a per-group rank window (3 statuses at
    * fixture scale; at 100 TB the same numbers come from the
    * bounded-heap GroupedTopK path `topk_per_group` documents, plus
    * the group totals — neither needs this window's per-group sort).
    * Exact-decimal value with an orderkey tiebreak is a total order
    * in both engines; share in q14's round-half-up ppm spelling. */
  val reportConcentration: QDef = q(
    "report_concentration",
    """WITH r AS (
      |  SELECT o_orderstatus AS status,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS v,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey)
      |      AS rn
      |  FROM orders)
      |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(v) AS DOUBLE) AS total_value,
      |  CAST(SUM(CASE WHEN rn <= 10 THEN v ELSE 0 END) AS DOUBLE)
      |    AS top10_value,
      |  CAST(floor(CAST(SUM(CASE WHEN rn <= 10 THEN v ELSE 0 END) AS DOUBLE)
      |    * 1000000 / CAST(SUM(v) AS DOUBLE) + 0.5) AS BIGINT)
      |    AS top10_share_ppm
      |FROM r GROUP BY status ORDER BY status""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("status"))
      .orderBy(col("v").desc, col("o_orderkey"))
    val r = Tables.orders(s, d)
      .select(col("o_orderstatus").as("status"),
        money(col("o_totalprice")).as("v"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
    r.groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        outDouble(sum(col("v"))).as("total_value"),
        outDouble(sum(when(col("rn") <= 10, col("v"))
          .otherwise(lit(0).cast(DecimalType(12, 2))))).as("top10_value"))
      .select(col("status"), col("n_orders"), col("total_value"),
        col("top10_value"),
        floor(col("top10_value") * 1000000 / col("total_value") + 0.5)
          .cast(LongType).as("top10_share_ppm"))
      .orderBy(col("status"))
  }

  /** ABC inventory classification (r12c) — the 70/90 cumulative-share
    * cut purchasing teams run per category: within each brand, parts
    * ranked by exact-decimal revenue; class A while the running share
    * is ≤70% of the brand total, B to 90%, C beyond. The cut compares
    * cum*10 ≤ total*7 in EXACT decimal (never a float share), so the
    * boundary part lands identically in both engines; (revenue DESC,
    * partkey) is a total order so ranks can't be engine-arbitrary.
    * Windows are partitioned by brand over the PART-level aggregate —
    * per-key window width follows parts-per-brand, never lineitems;
    * at catalog scales beyond that, the cut swaps to the
    * order_rfm_segments two-pass global-rank machinery per brand.
    * share_ppm uses q14's identically-spelled float round-half-up. */
  val reportAbcClass: QDef = q(
    "report_abc_class",
    """WITH pr AS (
      |  SELECT p_brand, l_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY p_brand, l_partkey),
      |c AS (
      |  SELECT p_brand, rev,
      |    SUM(rev) OVER (PARTITION BY p_brand ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(rev) OVER (PARTITION BY p_brand) AS tot
      |  FROM pr),
      |lab AS (
      |  SELECT p_brand,
      |    CASE WHEN cum * 10 <= tot * 7 THEN 'A'
      |         WHEN cum * 10 <= tot * 9 THEN 'B'
      |         ELSE 'C' END AS abc_class,
      |    rev, tot
      |  FROM c)
      |SELECT p_brand, abc_class,
      |  CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev) AS DOUBLE) AS class_revenue,
      |  CAST(floor(CAST(SUM(rev) AS DOUBLE) * 1000000
      |    / CAST(MAX(tot) AS DOUBLE) + 0.5) AS BIGINT) AS share_ppm
      |FROM lab GROUP BY p_brand, abc_class
      |ORDER BY p_brand, abc_class""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // Width-explicit partkey exchange before the part join + revenue
    // agg (guide §2.5/§2.4 — the report_abc_xyz_matrix r19 spelling):
    // the fixture lineitem is a single parquet split, so the scan +
    // broadcast probe + decimal partial agg over 600k rows ran in ONE
    // task while the rest of the session idled. Partitioning on
    // l_partkey alone satisfies the (p_brand, l_partkey) clustering
    // (partkey determines brand and is a subset of the grouping key),
    // so the part-level agg plans exchange-free over the one new
    // exchange; downstream the brand windows re-key a parts-sized
    // table exactly as before. Decimal sums are partitioning-
    // invariant (D2), so rev is bit-identical.
    val pr = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(s.sparkContext.defaultParallelism, col("l_partkey"))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount")))).as("rev"))
    val wCum = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("p_brand"))
    val lab = pr
      .select(col("p_brand"), col("rev"),
        sum(col("rev")).over(wCum).as("cum"),
        sum(col("rev")).over(wTot).as("tot"))
      .select(col("p_brand"), col("rev"), col("tot"),
        when(col("cum") * 10 <= col("tot") * 7, "A")
          .when(col("cum") * 10 <= col("tot") * 9, "B")
          .otherwise("C").as("abc_class"))
    lab.groupBy(col("p_brand"), col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        outDouble(sum(col("rev"))).as("class_revenue"),
        floor(outDouble(sum(col("rev"))) * 1000000
          / outDouble(max(col("tot"))) + 0.5)
          .cast(LongType).as("share_ppm"))
      .orderBy(col("p_brand"), col("abc_class"))
  }

  /** Calendar YTD running revenue (r12c) — the fiscal-reporting shape
    * every BI layer ships: exact-decimal order revenue per (year,
    * month), with the year-to-date cumulative restarting at each
    * January. The window runs over the ≤12-rows-per-year MONTH
    * aggregate (partitioned by year), never the fact table; both
    * decimal sums convert to DOUBLE once at the output edge (D2). */
  val reportYtdRunning: QDef = q(
    "report_ytd_running",
    """WITH m AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1, 2)
      |SELECT yr, mon, CAST(rev AS DOUBLE) AS month_revenue,
      |  CAST(SUM(rev) OVER (PARTITION BY yr ORDER BY mon
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS ytd_revenue
      |FROM m ORDER BY yr, mon""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mon"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val w = Window.partitionBy(col("yr")).orderBy(col("mon"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.select(col("yr"), col("mon"), outDouble(col("rev")).as("month_revenue"),
        outDouble(sum(col("rev")).over(w)).as("ytd_revenue"))
      .orderBy(col("yr"), col("mon"))
  }

  /** Customer value-migration matrix (r12c) — the year-over-year
    * segment-transition report retention teams read: customers banded
    * by 1995 vs 1996 order value (low: below half the year's floor
    * mean, mid: to 2× it, high: above — exact integer comparisons
    * against the year's own mean, no quantile machinery needed),
    * plus 'none' for absence, counted per (band_prev, band_cur)
    * cell. Two year-filtered customer aggs, a full outer key join,
    * two broadcast one-row year stats — the ≤16-cell matrix is the
    * only output. */
  val reportValueMigration: QDef = q(
    "report_value_migration",
    """WITH y94 AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      |  GROUP BY o_custkey),
      |y95 AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      |  GROUP BY o_custkey),
      |s94 AS (SELECT CAST(SUM(c) // COUNT(*) AS BIGINT) AS avgc FROM y94),
      |s95 AS (SELECT CAST(SUM(c) // COUNT(*) AS BIGINT) AS avgc FROM y95),
      |m AS (
      |  SELECT
      |    CASE WHEN y94.c IS NULL THEN 'none'
      |         WHEN y94.c * 2 < s94.avgc THEN 'low'
      |         WHEN y94.c <= s94.avgc * 2 THEN 'mid'
      |         ELSE 'high' END AS band_prev,
      |    CASE WHEN y95.c IS NULL THEN 'none'
      |         WHEN y95.c * 2 < s95.avgc THEN 'low'
      |         WHEN y95.c <= s95.avgc * 2 THEN 'mid'
      |         ELSE 'high' END AS band_cur
      |  FROM y94 FULL OUTER JOIN y95 ON y94.o_custkey = y95.o_custkey,
      |       s94, s95)
      |SELECT band_prev, band_cur, CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM m GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    def yearAgg(y: Int) = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey"))
      .agg(sum((money(col("o_totalprice")) * 100).cast(LongType)).as("c"))
    def stat(df: org.apache.spark.sql.DataFrame) =
      df.agg(expr("CAST(sum(c) div count(*) AS BIGINT)").as("avgc"))
    val y94 = yearAgg(1995)
    val y95 = yearAgg(1996)
      .select(col("o_custkey").as("k2"), col("c").as("c2"))
    def band(c: org.apache.spark.sql.Column, avg: org.apache.spark.sql.Column) =
      when(c.isNull, "none")
        .when(c * 2 < avg, "low")
        .when(c <= avg * 2, "mid")
        .otherwise("high")
    y94.join(y95, col("o_custkey") === col("k2"), "full")
      .crossJoin(broadcast(stat(y94).select(col("avgc").as("a94"))))
      .crossJoin(broadcast(stat(yearAgg(1996)).select(col("avgc").as("a95"))))
      .select(band(col("c"), col("a94")).as("band_prev"),
        band(col("c2"), col("a95")).as("band_cur"))
      .groupBy(col("band_prev"), col("band_cur"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("band_prev"), col("band_cur"))
  }

  /** Gini coefficient of customer value per market segment (r12c) —
    * the inequality number next to the whale-share report
    * (`report_concentration`): with per-customer cents sorted
    * ascending and ranked 1..n, G = (2·Σ r·x − (n+1)·Σx) / (n·Σx).
    * The numerator and denominator are EXACT BIGINTs (ties in x make
    * Σ r·x rank-order-invariant, and (cents, custkey) is a total
    * order anyway), so the single float division at the edge is on
    * identical operands. The rank window partitions by segment over
    * the CUSTOMER aggregate; beyond per-segment window range the cut
    * swaps to the order_rfm_segments two-pass rank machinery. */
  val aggGiniValue: QDef = q(
    "agg_gini_value",
    """WITH c AS (
      |  SELECT c_mktsegment AS seg, o.o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders o JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT seg, cents,
      |    row_number() OVER (PARTITION BY seg ORDER BY cents, o_custkey) AS rk
      |  FROM c),
      |s AS (
      |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS total,
      |    CAST(SUM(rk * cents) AS BIGINT) AS rx
      |  FROM r GROUP BY seg)
      |SELECT seg AS c_mktsegment, n AS n_customers, total AS total_cents,
      |  CAST(2 * rx - (n + 1) * total AS DOUBLE) / (CAST(n AS DOUBLE) * total)
      |    AS gini
      |FROM s ORDER BY c_mktsegment""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_custkey"))
      .agg(sum((money(col("o_totalprice")) * 100).cast(LongType)).as("cents"))
    val w = Window.partitionBy(col("seg")).orderBy(col("cents"), col("o_custkey"))
    c.withColumn("rk", row_number().over(w).cast(LongType))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).cast(LongType).as("total"),
        sum(col("rk") * col("cents")).cast(LongType).as("rx"))
      .select(col("seg").as("c_mktsegment"), col("n").as("n_customers"),
        col("total").as("total_cents"),
        ((lit(2) * col("rx") - (col("n") + 1) * col("total")).cast(DoubleType)
          / (col("n").cast(DoubleType) * col("total"))).as("gini"))
      .orderBy(col("c_mktsegment"))
  }

  /** XYZ demand-variability classification (r12c) — ABC's companion
    * cut (`report_abc_class` ranks by value; XYZ ranks by demand
    * stability): per part, weekly shipped quantity over its ACTIVE
    * weeks, squared coefficient of variation tested in exact
    * integers — X while n·Σx² − S² ≤ S²/4 (CoV ≤ 0.5, cleared of
    * both divisions as 4·(n·Σx² − S²) ≤ S²), Y to CoV ≤ 1, Z beyond.
    * Two part-keyed aggs (week level then part level), class counts
    * as the output — the fact never shuffles twice. */
  val reportXyzVariability: QDef = q(
    "report_xyz_variability",
    """WITH wk AS (
      |  SELECT l_partkey,
      |    date_diff('day', DATE '1992-01-01', l_shipdate) // 7 AS week,
      |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT))
      |      AS BIGINT) AS q10
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(q10) AS BIGINT) AS s,
      |    CAST(SUM(q10 * q10) AS BIGINT) AS s2
      |  FROM wk GROUP BY l_partkey),
      |cl AS (
      |  SELECT CASE WHEN 4 * (n * s2 - s * s) <= s * s THEN 'X'
      |              WHEN n * s2 - s * s <= s * s THEN 'Y'
      |              ELSE 'Z' END AS xyz_class,
      |    n, s
      |  FROM p)
      |SELECT xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(n) AS BIGINT) AS total_active_weeks,
      |  CAST(SUM(s) AS BIGINT) AS total_q10
      |FROM cl GROUP BY xyz_class ORDER BY xyz_class""") { (s, d) =>
    // ONE partkey exchange for both aggs (the report_abc_xyz_matrix
    // weekly-leg spelling, r18-opt): (partkey, week) groups are
    // nearly fact-sized, so the partial agg shuffled ~the whole fact
    // and then re-shuffled on partkey; partitioning on partkey alone
    // satisfies both clusterings.
    val wk = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        expr("datediff(l_shipdate, DATE '1992-01-01') div 7").as("week"),
        (qty(col("l_quantity")) * 10).cast(LongType).as("q10"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("week"))
      .agg(sum(col("q10")).cast(LongType).as("q10"))
    val p = wk.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("q10")).cast(LongType).as("s"),
        sum(col("q10") * col("q10")).cast(LongType).as("s2"))
    p.select(
        when(lit(4) * (col("n") * col("s2") - col("s") * col("s"))
            <= col("s") * col("s"), "X")
          .when(col("n") * col("s2") - col("s") * col("s")
            <= col("s") * col("s"), "Y")
          .otherwise("Z").as("xyz_class"),
        col("n"), col("s"))
      .groupBy(col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("n")).cast(LongType).as("total_active_weeks"),
        sum(col("s")).cast(LongType).as("total_q10"))
      .orderBy(col("xyz_class"))
  }

  /** Multi-column multi-DISTINCT in one pass (r12c) — three DISTINCT
    * aggregates over DIFFERENT key sets in a single query, the shape
    * Catalyst plans with one Expand (row replicated per distinct
    * group) + two aggregate levels instead of three scans. At 100 TB
    * the Expand triples map output but the fact is still read ONCE —
    * the trade every multi-distinct dashboard query makes. Pair
    * distinctness uses the real two-column form, not a string
    * concat. */
  val aggMultiDistinct: QDef = q(
    "agg_multi_distinct",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |  CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_days,
      |  CAST(COUNT(DISTINCT (o_custkey, o_orderdate)) AS BIGINT)
      |    AS n_cust_days
      |FROM orders GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderdate")).as("n_days"),
        countDistinct(col("o_custkey"), col("o_orderdate")).as("n_cust_days"))
      .orderBy(col("o_orderpriority"))
  }

  /** Price/volume/mix bridge (r12g) — the FP&A decomposition of a
    * brand's year-over-year revenue change into WHAT moved it: with
    * per-brand 1995/1996 revenue (cents) and quantity (tenth-units)
    * and average unit price p = rev/qty,
    *   volume effect = (q₁−q₀)·p₀, price effect = (p₁−p₀)·q₀,
    *   mix effect = (q₁−q₀)·(p₁−p₀);
    * the three sum to Δrevenue identically. The four base sums stay
    * EXACT BIGINT through the aggregate; the effects take ONE double
    * conversion with the formula spelled character-identically in
    * both engines (the agg_corr_explicit discipline — IEEE ops in the
    * same order). Brands missing a year (none in this fixture; all 25
    * ship in both) are excluded by the q₀>0 ∧ q₁>0 guard rather than
    * risking a 0-division. Scale posture: one year-filtered fact scan
    * with the 25-row brand dim broadcast, ONE conditional-sum agg
    * keyed by brand (no self-join, no pivot exchange), 25-row
    * output. */
  val reportPriceVolumeMix: QDef = q(
    "report_price_volume_mix",
    """WITH b AS (
      |  SELECT p_brand AS brand,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN
      |      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev0,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN
      |      CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS q0,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN
      |      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev1,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN
      |      CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS q1
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE year(l_shipdate) IN (1995, 1996)
      |  GROUP BY 1)
      |SELECT brand, rev0 AS rev0_cents, rev1 AS rev1_cents,
      |  rev1 - rev0 AS delta_cents,
      |  (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
      |    * (CAST(rev0 AS DOUBLE) / CAST(q0 AS DOUBLE)) AS volume_effect,
      |  (CAST(rev1 AS DOUBLE) / CAST(q1 AS DOUBLE)
      |    - CAST(rev0 AS DOUBLE) / CAST(q0 AS DOUBLE))
      |    * CAST(q0 AS DOUBLE) AS price_effect,
      |  (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
      |    * (CAST(rev1 AS DOUBLE) / CAST(q1 AS DOUBLE)
      |      - CAST(rev0 AS DOUBLE) / CAST(q0 AS DOUBLE)) AS mix_effect
      |FROM b WHERE q0 > 0 AND q1 > 0
      |ORDER BY brand""") { (s, d) =>
    val yr = year(col("l_shipdate"))
    val cents = (money(col("l_extendedprice")) * 100).cast(LongType)
    val tenths = (qty(col("l_quantity")) * 10).cast(LongType)
    val b = Tables.lineitem(s, d)
      .filter(yr.isin(1995, 1996))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(yr === 1995, cents).otherwise(0L)).as("rev0"),
        sum(when(yr === 1995, tenths).otherwise(0L)).as("q0"),
        sum(when(yr === 1996, cents).otherwise(0L)).as("rev1"),
        sum(when(yr === 1996, tenths).otherwise(0L)).as("q1"))
    val (dq0, dq1) = (col("q0").cast(DoubleType), col("q1").cast(DoubleType))
    val (dr0, dr1) =
      (col("rev0").cast(DoubleType), col("rev1").cast(DoubleType))
    b.filter(col("q0") > 0 && col("q1") > 0)
      .select(col("brand"),
        col("rev0").as("rev0_cents"), col("rev1").as("rev1_cents"),
        (col("rev1") - col("rev0")).as("delta_cents"),
        ((dq1 - dq0) * (dr0 / dq0)).as("volume_effect"),
        ((dr1 / dq1 - dr0 / dq0) * dq0).as("price_effect"),
        ((dq1 - dq0) * (dr1 / dq1 - dr0 / dq0)).as("mix_effect"))
      .orderBy(col("brand"))
  }

  /** Herfindahl–Hirschman concentration index (r12j) — the antitrust
    * number next to the whale-share (`report_concentration`) and Gini
    * (`agg_gini_value`) reports: per supplier nation, HHI = Σ sᵢ² of
    * the nation's suppliers' revenue shares. DEFINED over floor-ppm
    * shares so the whole statistic is pure BIGINT (share ≤ 10⁶,
    * square ≤ 10¹², Σ over any supplier count stays far inside 2⁶³)
    * and both engines agree bit-for-bit: hhi_micro ∈ (0, 10⁶], 10⁶ =
    * monopoly, 10⁶/n = perfect equality. top_share_ppm rides along —
    * HHI and the max share separate "one whale" from "few large".
    * Scale posture: one (nation, supplier) fact agg with the supplier
    * and nation dims broadcast onto the scan, the ≤25-row nation
    * total broadcast back, a ≤25-group final fold. */
  val reportHhiByNation: QDef = q(
    "report_hhi_by_nation",
    """WITH r AS (
      |  SELECT n_name AS nation, s_suppkey,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON n_nationkey = s_nationkey
      |  GROUP BY 1, 2),
      |t AS (SELECT nation, CAST(SUM(rev) AS BIGINT) AS tot,
      |  CAST(COUNT(*) AS BIGINT) AS n_suppliers FROM r GROUP BY 1),
      |sh AS (
      |  SELECT r.nation, CAST(rev * 1000000 // tot AS BIGINT) AS share_ppm
      |  FROM r JOIN t ON t.nation = r.nation)
      |SELECT sh.nation, t.n_suppliers, t.tot AS total_cents,
      |  CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_micro,
      |  CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm
      |FROM sh JOIN t ON t.nation = sh.nation
      |GROUP BY 1, 2, 3 ORDER BY 1""") { (s, d) =>
    val r = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name").as("nation"), col("s_suppkey"))
      .agg(sum((money(col("l_extendedprice")) * 100).cast(LongType)).as("rev"))
      // persisted: the supplier-level agg feeds both the nation total
      // and the share join — without it the fact scans twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = r.groupBy(col("nation").as("tn"))
      .agg(sum(col("rev")).as("tot"), count(lit(1)).as("n_suppliers"))
    r.join(broadcast(t), col("tn") === col("nation"))
      .select(col("nation"), col("n_suppliers"), col("tot"),
        expr("CAST(rev * 1000000 div tot AS BIGINT)").as("share_ppm"))
      .groupBy(col("nation"), col("n_suppliers"), col("tot").as("total_cents"))
      .agg(expr("CAST(SUM(share_ppm * share_ppm) div 1000000 AS BIGINT)")
        .as("hhi_micro"),
        max(col("share_ppm")).as("top_share_ppm"))
      .orderBy(col("nation"))
  }

  /** ABC×XYZ planning matrix (r12n) — the 9-cell grid inventory
    * planning actually runs on: value class (A/B/C — brand-relative
    * 70/90 cumulative-revenue cut, the exact-decimal comparison
    * spelled as in `report_abc_class`) crossed with demand-stability
    * class (X/Y/Z — the cleared-of-divisions CoV test spelled as in
    * `report_xyz_variability`), one row per cell with part count,
    * exact-decimal revenue (ONE double conversion at the output
    * edge — rev's scale-4 decimal is NOT integral in cents, and
    * decimal→BIGINT casts round differently across engines) and
    * shipped quantity. AX = automate, CZ =
    * make-to-order; the cross is what turns two reports into a
    * policy. Both class passes run over the SAME persisted part-level
    * aggregate (the fact shuffles once — ShuffleAudit-verified), and
    * the XYZ week stats ride a second agg of the same scan before
    * the part-key join. */
  val reportAbcXyzMatrix: QDef = q(
    "report_abc_xyz_matrix",
    """WITH pr AS (
      |  SELECT p_brand, l_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY p_brand, l_partkey),
      |abc AS (
      |  SELECT l_partkey, rev,
      |    CASE WHEN cum * 10 <= tot * 7 THEN 'A'
      |         WHEN cum * 10 <= tot * 9 THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM (
      |    SELECT l_partkey, rev,
      |      SUM(rev) OVER (PARTITION BY p_brand ORDER BY rev DESC, l_partkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      SUM(rev) OVER (PARTITION BY p_brand) AS tot
      |    FROM pr)),
      |wk AS (
      |  SELECT l_partkey,
      |    date_diff('day', DATE '1992-01-01', l_shipdate) // 7 AS week,
      |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT))
      |      AS BIGINT) AS q10
      |  FROM lineitem GROUP BY 1, 2),
      |xyz AS (
      |  SELECT l_partkey,
      |    CASE WHEN 4 * (n * s2 - s * s) <= s * s THEN 'X'
      |         WHEN n * s2 - s * s <= s * s THEN 'Y'
      |         ELSE 'Z' END AS xyz_class,
      |    s
      |  FROM (
      |    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
      |      CAST(SUM(q10) AS BIGINT) AS s,
      |      CAST(SUM(q10 * q10) AS BIGINT) AS s2
      |    FROM wk GROUP BY l_partkey))
      |SELECT abc_class, xyz_class,
      |  CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev) AS DOUBLE) AS cell_revenue,
      |  CAST(SUM(s) AS BIGINT) AS total_q10
      |FROM abc JOIN xyz USING (l_partkey)
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // ONE lineitem scan + ONE partkey exchange feed BOTH legs (guide
    // §2.4; r19-opt extends the r18 single-exchange weekly rewrite):
    // the fixture file is a single parquet split, so each extra
    // lineitem leg was a single-task 600k-row scan+probe+partial-agg.
    // The shared repartition(xk) carries the raw narrow columns; the
    // revenue agg groups by (brand, xk) ⊇ {xk} and the two weekly
    // aggs by (xk, week)/(xk) ⊇ {xk}, so ALL of them plan
    // exchange-free on top of the one reused exchange, and the
    // broadcast part join + decimal arithmetic run spread across the
    // session width instead of inside the single scan task. Decimal
    // sums are partitioning-invariant (the D2 invariant), so rev is
    // bit-identical.
    val base = Tables.lineitem(s, d)
      .select(col("l_partkey").as("xk"), col("l_extendedprice"),
        col("l_discount"), col("l_shipdate"), col("l_quantity"))
      .repartition(s.sparkContext.defaultParallelism, col("xk"))
    val pr = base
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("xk"))
      .groupBy(col("p_brand"), col("xk"))
      .agg(sum(money(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount")))).as("rev"))
      .withColumnRenamed("xk", "l_partkey")
    val wCum = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("p_brand"))
    val abc = pr
      .select(col("l_partkey"), col("rev"),
        sum(col("rev")).over(wCum).as("cum"),
        sum(col("rev")).over(wTot).as("tot"))
      .select(col("l_partkey"), col("rev"),
        when(col("cum") * 10 <= col("tot") * 7, "A")
          .when(col("cum") * 10 <= col("tot") * 9, "B")
          .otherwise("C").as("abc_class"))
    val wk = base
      .select(col("xk"),
        expr("datediff(l_shipdate, DATE '1992-01-01') div 7").as("week"),
        (qty(col("l_quantity")) * 10).cast(LongType).as("q10"))
      .groupBy(col("xk"), col("week"))
      .agg(sum(col("q10")).cast(LongType).as("q10"))
    val xyz = wk.groupBy(col("xk"))
      .agg(count(lit(1)).as("n"), sum(col("q10")).cast(LongType).as("s"),
        sum(col("q10") * col("q10")).cast(LongType).as("s2"))
      .select(col("xk"),
        when(lit(4) * (col("n") * col("s2") - col("s") * col("s"))
            <= col("s") * col("s"), "X")
          .when(col("n") * col("s2") - col("s") * col("s")
            <= col("s") * col("s"), "Y")
          .otherwise("Z").as("xyz_class"),
        col("s"))
    // xyz is |parts|-sized (20k rows of 3 narrow cols): broadcast it
    // so the abc side keeps its brand-window partitioning instead of
    // both 20k-row sides paying a partkey shuffle + sort for an SMJ.
    // SF ceiling (ADVICE r18): |parts| scales linearly — safe to
    // roughly SF 10k (~2 GB), past which drop the hint and take the
    // SMJ (same gate as q17's broadcast(pa), documented there).
    abc.join(broadcast(xyz), col("xk") === col("l_partkey"))
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"),
        outDouble(sum(col("rev"))).as("cell_revenue"),
        sum(col("s")).as("total_q10"))
      .orderBy(col("abc_class"), col("xyz_class"))
  }

  /** Split-shipment rate (r12o) — the fulfillment KPI next to the
    * aging buckets: per order month, how many orders shipped their
    * lines on MORE than one distinct date (a split shipment — extra
    * freight, worse experience). Per-order distinct ship-date count
    * via one orderkey-keyed agg (the natural join key, so the
    * orders⋈lineitem exchange is the only data-sized shuffle), then
    * a ≤84-row month rollup with floor-ppm rate. Exact integers
    * end to end. */
  val reportSplitShipment: QDef = q(
    "report_split_shipment",
    """WITH o AS (
      |  SELECT l_orderkey,
      |    CAST(COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT)
      |      AS n_dates
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |    CAST(month(o_orderdate) AS INTEGER) AS mon,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CASE WHEN n_dates > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_split
      |  FROM orders JOIN o ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)
      |SELECT yr, mon, n_orders, n_split,
      |  CAST(n_split * 1000000 // n_orders AS BIGINT) AS split_ppm
      |FROM m ORDER BY yr, mon""") { (s, d) =>
    val o = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_shipdate").cast(DateType)).as("n_dates"))
    Tables.orders(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast(IntegerType).as("yr"),
        month(col("o_orderdate")).cast(IntegerType).as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_dates") > 1, 1L).otherwise(0L)).as("n_split"))
      .select(col("yr"), col("mon"), col("n_orders"), col("n_split"),
        expr("CAST(n_split * 1000000 div n_orders AS BIGINT)")
          .as("split_ppm"))
      .orderBy(col("yr"), col("mon"))
  }

  /** First-day behavior-signature census via aggregate BIT_OR
    * (r12p) — each user's FIRST-DAY event-type set folds into one
    * bitmask (click=1, error=2, purchase=4, signup=8, view=16 —
    * alphabetical bit order), then the corpus is a ≤32-row histogram
    * of activation signatures — the day-one segmentation a lifecycle
    * team reads ("clicked but never purchased on day one" is a row).
    * Restricting to the user's first active DAY is what makes the
    * census non-degenerate: over the full month every user has every
    * type (probed: one all-bits row), on day one the fixture spreads
    * across ~30 distinct masks. `fn_bitwise` grades row-local bit
    * expressions; this is the AGGREGATE bit fold (bit_or partials
    * commute, so map-side combine works like any sum). Scale
    * posture: first-day table via one user-keyed agg joined back on
    * (user, day) — both exchanges hash the user key. */
  val aggBitmaskSignatures: QDef = q(
    "agg_bitmask_signatures",
    """WITH f AS (
      |  SELECT user_id,
      |    MIN(date_trunc('day', CAST(ts AS TIMESTAMP))) AS d0
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT e.user_id,
      |    CAST(bit_or(CASE e.event_type
      |      WHEN 'click' THEN 1 WHEN 'error' THEN 2 WHEN 'purchase' THEN 4
      |      WHEN 'signup' THEN 8 ELSE 16 END) AS BIGINT) AS sig
      |  FROM events e JOIN f ON f.user_id = e.user_id
      |    AND date_trunc('day', CAST(e.ts AS TIMESTAMP)) = f.d0
      |  GROUP BY 1)
      |SELECT sig, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(sig & 4 > 0 AS BOOLEAN) AS has_purchase,
      |  CAST(sig & 2 > 0 AS BOOLEAN) AS has_error
      |FROM b GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val f = Tables.events(s, d)
      .groupBy(col("user_id").as("fu"))
      .agg(min(date_trunc("day", col("ts"))).as("d0"))
    Tables.events(s, d)
      .join(f, col("fu") === col("user_id")
        && date_trunc("day", col("ts")) === col("d0"))
      .groupBy(col("user_id"))
      .agg(expr("CAST(bit_or(CASE event_type" +
        " WHEN 'click' THEN 1 WHEN 'error' THEN 2 WHEN 'purchase' THEN 4" +
        " WHEN 'signup' THEN 8 ELSE 16 END) AS BIGINT)").as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("sig"), col("n_users"),
        (col("sig").bitwiseAND(4) > 0).as("has_purchase"),
        (col("sig").bitwiseAND(2) > 0).as("has_error"))
      .orderBy(col("sig"))
  }

  /** Bilateral price indices (r12q) — the economics trio the
    * price/volume/mix bridge feeds into: per brand, 1995→1996
    * Laspeyres (base-period basket at current prices), Paasche
    * (current basket at base prices) and Fisher (their geometric
    * mean). DETERMINISM CONTRACT: each part's cross-valued term
    * (rev₁·q₀)/q₁ resp. (rev₀·q₁)/q₀ is FLOOR-QUANTIZED to whole
    * cents per part before summing — a documented quantized index,
    * so both engines agree bit-for-bit with no rational arithmetic —
    * and Fisher takes the one IEEE sqrt on identically-spelled ppm
    * operands, half-up. Parts missing a year are excluded (matched-
    * model index, the standard treatment of assortment churn). Scale
    * posture: ONE conditional-sum agg per (brand, part) with the
    * 25-row dim broadcast, then a 25-group fold. */
  val reportPriceIndex: QDef = q(
    "report_price_index",
    """WITH b AS (
      |  SELECT p_brand AS brand, l_partkey,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN
      |      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev0,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN
      |      CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS q0,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN
      |      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev1,
      |    CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN
      |      CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS q1
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE year(l_shipdate) IN (1995, 1996)
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT brand,
      |    CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    CAST(SUM(rev0) AS BIGINT) AS sum_rev0,
      |    CAST(SUM(rev1) AS BIGINT) AS sum_rev1,
      |    CAST(SUM((rev1 * q0) // q1) AS BIGINT) AS l_num,
      |    CAST(SUM((rev0 * q1) // q0) AS BIGINT) AS p_den
      |  FROM b WHERE q0 > 0 AND q1 > 0 GROUP BY 1),
      |i AS (
      |  SELECT brand, n_parts,
      |    CAST(l_num * 1000000 // sum_rev0 AS BIGINT) AS laspeyres_ppm,
      |    CAST(sum_rev1 * 1000000 // p_den AS BIGINT) AS paasche_ppm
      |  FROM m)
      |SELECT brand, n_parts, laspeyres_ppm, paasche_ppm,
      |  CAST(floor(sqrt(CAST(laspeyres_ppm AS DOUBLE)
      |    * CAST(paasche_ppm AS DOUBLE)) + 0.5) AS BIGINT) AS fisher_ppm
      |FROM i ORDER BY brand""") { (s, d) =>
    val yr = year(col("l_shipdate"))
    val cents = (money(col("l_extendedprice")) * 100).cast(LongType)
    val tenths = (qty(col("l_quantity")) * 10).cast(LongType)
    val b = Tables.lineitem(s, d)
      .filter(yr.isin(1995, 1996))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_partkey"))
      .agg(sum(when(yr === 1995, cents).otherwise(0L)).as("rev0"),
        sum(when(yr === 1995, tenths).otherwise(0L)).as("q0"),
        sum(when(yr === 1996, cents).otherwise(0L)).as("rev1"),
        sum(when(yr === 1996, tenths).otherwise(0L)).as("q1"))
    val m = b.filter(col("q0") > 0 && col("q1") > 0)
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev0")).as("sum_rev0"), sum(col("rev1")).as("sum_rev1"),
        sum(expr("(rev1 * q0) div q1")).as("l_num"),
        sum(expr("(rev0 * q1) div q0")).as("p_den"))
    m.select(col("brand"), col("n_parts"),
        expr("CAST(l_num * 1000000 div sum_rev0 AS BIGINT)")
          .as("laspeyres_ppm"),
        expr("CAST(sum_rev1 * 1000000 div p_den AS BIGINT)")
          .as("paasche_ppm"))
      .withColumn("fisher_ppm",
        floor(sqrt(col("laspeyres_ppm").cast(DoubleType)
          * col("paasche_ppm").cast(DoubleType)) + 0.5).cast(LongType))
      .orderBy(col("brand"))
  }

  /** Winsorized mean (r12s) — the robust location estimate a metrics
    * team ships when `agg_zscore_outliers` keeps flagging the tail:
    * per market segment, order totals are CLIPPED (not dropped) at
    * the exact p05/p95 rank-selected bounds — real data values via
    * row_number over the segment partition, the agg_quantiles_exact
    * discipline, never interpolation — then averaged. Everything
    * before the single milli division is exact BIGINT: clip bounds
    * from one windowed pass, the clipped sum from a conditional
    * re-aggregate against the broadcast ≤5-row bounds table. Also
    * reports the raw mean so the robustness delta is visible. */
  val aggWinsorizedMean: QDef = q(
    "agg_winsorized_mean",
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    o_orderkey
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |r AS (
      |  SELECT seg, cents,
      |    row_number() OVER (PARTITION BY seg ORDER BY cents, o_orderkey)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY seg) AS n
      |  FROM o),
      |b AS (
      |  SELECT seg,
      |    CAST(MIN(CASE WHEN rn = greatest(1, (n * 5) // 100)
      |      THEN cents END) AS BIGINT) AS lo,
      |    CAST(MIN(CASE WHEN rn = least(n, (n * 95) // 100 + 1)
      |      THEN cents END) AS BIGINT) AS hi,
      |    CAST(MAX(n) AS BIGINT) AS n
      |  FROM r GROUP BY seg),
      |w AS (
      |  SELECT o.seg, b.n, b.lo, b.hi,
      |    CAST(SUM(CASE WHEN o.cents < b.lo THEN b.lo
      |      WHEN o.cents > b.hi THEN b.hi ELSE o.cents END) AS BIGINT)
      |      AS wsum,
      |    CAST(SUM(o.cents) AS BIGINT) AS rsum
      |  FROM o JOIN b ON b.seg = o.seg
      |  GROUP BY 1, 2, 3, 4)
      |SELECT seg AS segment, n AS n_orders, lo AS p05_cents, hi AS p95_cents,
      |  CAST(wsum * 1000 // n AS BIGINT) AS winsorized_mean_milli,
      |  CAST(rsum * 1000 // n AS BIGINT) AS raw_mean_milli
      |FROM w ORDER BY segment""") { (s, d) =>
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment").as("seg"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("cents"),
        col("o_orderkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy(col("seg")).orderBy(col("cents"), col("o_orderkey"))
    val wn = Window.partitionBy(col("seg"))
    val r = o.select(col("seg"), col("cents"),
      row_number().over(wr).cast(LongType).as("rn"),
      count(lit(1)).over(wn).as("n"))
    val b = r.groupBy(col("seg").as("bseg"))
      .agg(min(when(col("rn") === greatest(lit(1L), expr("(n * 5) div 100")),
        col("cents"))).as("lo"),
        min(when(col("rn") === least(col("n"), expr("(n * 95) div 100 + 1")),
          col("cents"))).as("hi"),
        max(col("n")).as("n"))
    o.join(broadcast(b), col("bseg") === col("seg"))
      .groupBy(col("seg").as("segment"), col("n"), col("lo"), col("hi"))
      .agg(sum(when(col("cents") < col("lo"), col("lo"))
          .when(col("cents") > col("hi"), col("hi"))
          .otherwise(col("cents"))).as("wsum"),
        sum(col("cents")).as("rsum"))
      .select(col("segment"), col("n").as("n_orders"),
        col("lo").as("p05_cents"), col("hi").as("p95_cents"),
        expr("CAST(wsum * 1000 div n AS BIGINT)")
          .as("winsorized_mean_milli"),
        expr("CAST(rsum * 1000 div n AS BIGINT)").as("raw_mean_milli"))
      .orderBy(col("segment"))
  }

  /** Aggregate NULL-semantics matrix (r12t) — the cross-engine
    * contract every migration audits first: COUNT(*) counts rows,
    * COUNT(col) skips NULLs, SUM/AVG/MIN/MAX ignore NULLs (NULL only
    * when ALL inputs are), and COUNT(DISTINCT col) skips NULLs too.
    * NULLs are PLANTED deterministically (value goes NULL where
    * event_id ≡ 0 mod 5) so every cell of the matrix is exercised on
    * known counts; avg is spelled as the exact SUM·1000 div COUNT
    * rather than a float avg — the point is the DENOMINATOR (skipped
    * NULLs), not float formatting. One group-by-type agg; pure
    * map-side partials. */
  val aggNullSemantics: QDef = q(
    "agg_null_semantics",
    """WITH e AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 5 = 0 THEN NULL
      |      ELSE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END
      |      AS cents
      |  FROM events)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(cents) AS BIGINT) AS n_nonnull,
      |  CAST(COUNT(*) - COUNT(cents) AS BIGINT) AS n_null,
      |  CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_distinct_nonnull,
      |  CAST(SUM(cents) AS BIGINT) AS sum_nonnull,
      |  CAST(MIN(cents) AS BIGINT) AS min_nonnull,
      |  CAST(MAX(cents) AS BIGINT) AS max_nonnull,
      |  CAST(SUM(cents) * 1000 // COUNT(cents) AS BIGINT) AS avg_milli
      |FROM e GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"),
        when(col("event_id") % 5 === 0, lit(null).cast(LongType))
          .otherwise((money(col("value")) * 100).cast(LongType)).as("cents"))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("cents")).as("n_nonnull"),
        (count(lit(1)) - count(col("cents"))).as("n_null"),
        countDistinct(col("cents")).as("n_distinct_nonnull"),
        sum(col("cents")).as("sum_nonnull"),
        min(col("cents")).as("min_nonnull"),
        max(col("cents")).as("max_nonnull"))
      .withColumn("avg_milli",
        expr("CAST(sum_nonnull * 1000 div n_nonnull AS BIGINT)"))
      .orderBy(col("event_type"))
  }

  /** MoM / YoY growth table (r12t) — the first page of every revenue
    * review: per month, exact revenue cents plus growth vs the
    * previous month and vs the same month last year, both as
    * sign-decomposed floor-ppm (Spark div truncates, DuckDB //
    * floors — they agree only on nonnegative operands). The shifted
    * comparisons are broadcast self-joins on the month INDEX
    * (t−1, t−12) against the ≤84-row month table — no global-order
    * window anywhere; months missing a comparison row carry NULL
    * growth. */
  val reportGrowthMomYoy: QDef = q(
    "report_growth_mom_yoy",
    """WITH m AS (
      |  SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
      |      AS t,
      |    CAST(year(o_orderdate) AS INTEGER) AS yr,
      |    CAST(month(o_orderdate) AS INTEGER) AS mon,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1, 2, 3)
      |SELECT a.yr, a.mon, a.rev AS rev_cents,
      |  CAST(CASE WHEN p.rev IS NULL THEN NULL
      |    WHEN a.rev >= p.rev THEN ((a.rev - p.rev) * 1000000) // p.rev
      |    ELSE -(((p.rev - a.rev) * 1000000) // p.rev) END AS BIGINT)
      |    AS mom_ppm,
      |  CAST(CASE WHEN y.rev IS NULL THEN NULL
      |    WHEN a.rev >= y.rev THEN ((a.rev - y.rev) * 1000000) // y.rev
      |    ELSE -(((y.rev - a.rev) * 1000000) // y.rev) END AS BIGINT)
      |    AS yoy_ppm
      |FROM m a
      |LEFT JOIN m p ON p.t = a.t - 1
      |LEFT JOIN m y ON y.t = a.t - 12
      |ORDER BY a.yr, a.mon""") { (s, d) =>
    val m = Tables.orders(s, d)
      .groupBy(((year(col("o_orderdate")) - 1995) * 12
          + month(col("o_orderdate")) - 1).as("t"),
        year(col("o_orderdate")).cast(IntegerType).as("yr"),
        month(col("o_orderdate")).cast(IntegerType).as("mon"))
      .agg(sum((money(col("o_totalprice")) * 100).cast(LongType)).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    m.join(broadcast(m.select(col("t").as("pt"), col("rev").as("prev"))),
        col("pt") === col("t") - 1, "left")
      .join(broadcast(m.select(col("t").as("yt"), col("rev").as("yrev"))),
        col("yt") === col("t") - 12, "left")
      .select(col("yr"), col("mon"), col("rev").as("rev_cents"),
        when(col("prev").isNull, lit(null).cast(LongType))
          .when(col("rev") >= col("prev"),
            expr("CAST(((rev - prev) * 1000000) div prev AS BIGINT)"))
          .otherwise(expr(
            "CAST(-(((prev - rev) * 1000000) div prev) AS BIGINT)"))
          .as("mom_ppm"),
        when(col("yrev").isNull, lit(null).cast(LongType))
          .when(col("rev") >= col("yrev"),
            expr("CAST(((rev - yrev) * 1000000) div yrev AS BIGINT)"))
          .otherwise(expr(
            "CAST(-(((yrev - rev) * 1000000) div yrev) AS BIGINT)"))
          .as("yoy_ppm"))
      .orderBy(col("yr"), col("mon"))
  }

  /** Lorenz decile table of customer order revenue (r13b) — the
    * curve behind `agg_gini_value`, materialized: active customers
    * ranked ASCENDING by exact revenue, cut into 10 rank deciles,
    * each with its revenue mass and the cumulative (Lorenz) share in
    * floor-ppm. Ranks come from the shared distributed-rank primitive
    * (`DriftOps.exclusivePrefix` over distinct revenue values +
    * row_number INSIDE the tie group — never an unpartitioned
    * window); everything after the rank is 10-row algebra. */
  val reportLorenzDeciles: QDef = q(
    "report_lorenz_deciles",
    """WITH u AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS total FROM u),
      |rk AS (
      |  SELECT cents,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rank
      |  FROM u),
      |dec AS (
      |  SELECT CAST(((rank - 1) * 10) // n AS BIGINT) AS decile, cents
      |  FROM rk CROSS JOIN n),
      |g AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM dec GROUP BY 1),
      |c AS (
      |  SELECT a.decile, a.n_customers, a.cents,
      |    CAST(SUM(b.cents) AS BIGINT) AS cum_cents
      |  FROM g a JOIN g b ON b.decile <= a.decile
      |  GROUP BY 1, 2, 3)
      |SELECT c.decile, c.n_customers, c.cents, c.cum_cents,
      |  CAST(c.cum_cents * 1000000 // n.total AS BIGINT) AS lorenz_ppm
      |FROM c CROSS JOIN n ORDER BY c.decile""") { (s, d) =>
    val u = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)"))
        .cast(LongType).as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = u.agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
    val xc = u.groupBy(col("cents").as("v")).agg(count(lit(1)).as("cnt"))
    val pre = DriftOps.exclusivePrefix(xc, expr("v div 10000000"))
      .select(col("v"), col("pre"))
    val wTie = Window.partitionBy(col("cents")).orderBy(col("o_custkey"))
    val rk = u.join(pre, col("v") === col("cents"))
      .select(col("cents"), (col("pre") + row_number().over(wTie)).as("rank"))
    val g = rk.crossJoin(broadcast(n))
      .select(expr("CAST(((rank - 1) * 10) div n AS BIGINT)").as("decile"),
        col("cents"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    val c = g.join(broadcast(g.select(col("decile").as("bd"),
        col("cents").as("bc"))), col("bd") <= col("decile"))
      .groupBy(col("decile"), col("n_customers"), col("cents"))
      .agg(sum(col("bc")).as("cum_cents"))
    c.crossJoin(broadcast(n))
      .select(col("decile"), col("n_customers"), col("cents"), col("cum_cents"),
        expr("CAST(cum_cents * 1000000 div total AS BIGINT)").as("lorenz_ppm"))
      .orderBy(col("decile"))
  }

  /** Order→ship lag histogram (r13b) — the fulfilment-latency
    * distribution behind `dq_order_lineitem_dates`' violation audit:
    * whole-day lag from order date to each line's ship date, bucketed
    * by week with a 15+ tail, counts and floor-permille. One
    * fact⋈fact equi-join on the order key (SMJ at scale — exactly the
    * join the bucketed-layout keys delete) and a 16-cell agg. */
  val reportShipLagHistogram: QDef = q(
    "report_ship_lag_histogram",
    """WITH lag AS (
      |  SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) AS lag_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |b AS (
      |  SELECT least(greatest(lag_days, 0) // 7, 15) AS week_bucket
      |  FROM lag),
      |c AS (
      |  SELECT week_bucket, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
      |SELECT CAST(week_bucket AS BIGINT) AS week_bucket, n,
      |  (n * 1000) // t.tot AS permille
      |FROM c CROSS JOIN t ORDER BY week_bucket""") { (s, d) =>
    val lags = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate").cast(DateType).as("ship"))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate").cast(DateType).as("odate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(datediff(col("ship"), col("odate")).as("lag_days"))
    val c = lags
      .select(least(expr("greatest(lag_days, 0) div 7"), lit(15))
        .cast(LongType).as("week_bucket"))
      .groupBy(col("week_bucket")).agg(count(lit(1)).as("n"))
    val t = c.agg(sum(col("n")).as("tot"))
    c.crossJoin(broadcast(t))
      .select(col("week_bucket"), col("n"),
        expr("(n * 1000) div tot").as("permille"))
      .orderBy(col("week_bucket"))
  }

  /** Revenue contribution waterfall (r14h) — the YoY bridge chart's
    * data: per customer nation, 1997 vs 1998 gross revenue, the
    * delta, and the running cumulative delta in contribution order
    * (delta DESC, nation — the waterfall's bar order). Cumulative via
    * the nation-sized broadcast self-join (the `report_lorenz_deciles`
    * pattern) — no unpartitioned window even on the 25-row table, so
    * the shape survives any group cardinality. Exact BIGINT cents. */
  val reportContributionWaterfall: QDef = q(
    "report_contribution_waterfall",
    """WITH r AS (
      |  SELECT n.n_name AS nation,
      |    CAST(SUM(CASE WHEN year(CAST(o.o_orderdate AS TIMESTAMP)) = 1997
      |      THEN CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev_prev,
      |    CAST(SUM(CASE WHEN year(CAST(o.o_orderdate AS TIMESTAMP)) = 1998
      |      THEN CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev_curr
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1),
      |d AS (SELECT nation, rev_prev, rev_curr,
      |  rev_curr - rev_prev AS delta FROM r)
      |SELECT a.nation, a.rev_prev, a.rev_curr, a.delta,
      |  CAST(SUM(b.delta) AS BIGINT) AS running_delta
      |FROM d a JOIN d b
      |  ON b.delta > a.delta OR (b.delta = a.delta AND b.nation <= a.nation)
      |GROUP BY a.nation, a.rev_prev, a.rev_curr, a.delta
      |ORDER BY a.delta DESC, a.nation""") { (s, d) =>
    val cents = expr(
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
    val yr = year(col("o_orderdate").cast(TimestampType))
    val r = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum(when(yr === 1997, cents).otherwise(0L)).cast(LongType).as("rev_prev"),
        sum(when(yr === 1998, cents).otherwise(0L)).cast(LongType).as("rev_curr"))
      .withColumn("delta", col("rev_curr") - col("rev_prev"))
    val b = r.select(col("nation").as("b_nation"), col("delta").as("b_delta"))
    r.join(broadcast(b),
        col("b_delta") > col("delta") ||
          (col("b_delta") === col("delta") && col("b_nation") <= col("nation")))
      .groupBy(col("nation"), col("rev_prev"), col("rev_curr"), col("delta"))
      .agg(sum(col("b_delta")).as("running_delta"))
      .orderBy(col("delta").desc, col("nation"))
  }

  /** Incremental rollup maintenance (r14b) — the partial-aggregate
    * MERGE shape behind every incrementally-maintained materialized
    * view: yesterday's per-group state (n, sum, min, max — all
    * mergeable) combines with today's delta state WITHOUT rescanning
    * yesterday's raw rows, and the derived mean comes from the merged
    * state. Orders split by md5-parity of o_orderkey into
    * prior/delta; the grade is the merged table per o_orderpriority
    * plus both input widths (so a broken merge can't hide behind a
    * lucky total). NULL-safe min/max merge spelled with COALESCE
    * pairs — engine-independent of least/greatest NULL semantics.
    * Exact BIGINT cents end to end; mean as floor cents. Scale: two
    * group-sized states and one group-keyed join — at 100 TB the
    * prior state is a STORED table and the delta scan is the only
    * data touched, exactly the `dedup_incremental_snapshot` economics
    * for aggregation. */
  val aggIncrementalMerge: QDef = q(
    "agg_incremental_merge",
    """WITH par AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7' AS is_prior
      |  FROM orders),
      |prior AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s, MIN(cents) AS mn, MAX(cents) AS mx
      |  FROM par WHERE is_prior GROUP BY grp),
      |delta AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s, MIN(cents) AS mn, MAX(cents) AS mx
      |  FROM par WHERE NOT is_prior GROUP BY grp)
      |SELECT COALESCE(p.grp, d.grp) AS grp,
      |  COALESCE(p.n, 0) AS n_prior, COALESCE(d.n, 0) AS n_delta,
      |  COALESCE(p.n, 0) + COALESCE(d.n, 0) AS n_merged,
      |  COALESCE(p.s, 0) + COALESCE(d.s, 0) AS sum_cents,
      |  least(COALESCE(p.mn, d.mn), COALESCE(d.mn, p.mn)) AS min_cents,
      |  greatest(COALESCE(p.mx, d.mx), COALESCE(d.mx, p.mx)) AS max_cents,
      |  (COALESCE(p.s, 0) + COALESCE(d.s, 0))
      |    // (COALESCE(p.n, 0) + COALESCE(d.n, 0)) AS avg_cents_floor
      |FROM prior p FULL OUTER JOIN delta d ON p.grp = d.grp
      |ORDER BY grp""") { (s, d) =>
    val par = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"),
        (substring(md5(col("o_orderkey").cast(StringType)), 1, 1) <= "7")
          .as("is_prior"))
    def state(df: DataFrame, pfx: String): DataFrame =
      df.groupBy(col("grp").as(s"${pfx}_grp"))
        .agg(count(lit(1)).as(s"${pfx}_n"), sum(col("cents")).as(s"${pfx}_s"),
          min(col("cents")).as(s"${pfx}_mn"), max(col("cents")).as(s"${pfx}_mx"))
    val prior = state(par.filter(col("is_prior")), "p")
    val delta = state(par.filter(!col("is_prior")), "d")
    prior.join(delta, col("p_grp") === col("d_grp"), "full")
      .select(coalesce(col("p_grp"), col("d_grp")).as("grp"),
        coalesce(col("p_n"), lit(0L)).as("n_prior"),
        coalesce(col("d_n"), lit(0L)).as("n_delta"),
        (coalesce(col("p_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_merged"),
        (coalesce(col("p_s"), lit(0L)) + coalesce(col("d_s"), lit(0L)))
          .as("sum_cents"),
        least(coalesce(col("p_mn"), col("d_mn")),
          coalesce(col("d_mn"), col("p_mn"))).as("min_cents"),
        greatest(coalesce(col("p_mx"), col("d_mx")),
          coalesce(col("d_mx"), col("p_mx"))).as("max_cents"),
        expr("""(coalesce(p_s, 0L) + coalesce(d_s, 0L))
          | div (coalesce(p_n, 0L) + coalesce(d_n, 0L))""".stripMargin)
          .as("avg_cents_floor"))
      .orderBy(col("grp"))
  }

  /** Discount-cap what-if (r15c) — the pricing-policy simulation a
    * revenue team runs before changing discount ceilings: gross
    * revenue under caps of 0%/4%/8% (each line's discount clamped at
    * the cap) vs actual, from ONE lineitem pass swept by a broadcast
    * 3-row cap table. All-decimal exact tree (least() of two
    * DECIMAL(6,2)s, the q8 volume spelling) emitted once as DOUBLE;
    * recovered = capped − actual is computed on the exact decimals
    * BEFORE the float cast so the delta is itself exact. */
  val reportDiscountWhatif: QDef = q(
    "report_discount_whatif",
    """WITH caps AS (
      |  SELECT CAST(cap AS DECIMAL(6,2)) AS cap FROM (
      |    VALUES (0.00), (0.04), (0.08)) t(cap)),
      |x AS (
      |  -- CASE, not least(): DuckDB 1.0.0's least() over two DECIMALs
      |  -- returns DOUBLE (measured), which would break the exact tree
      |  SELECT CAST(cap * 100 AS BIGINT) AS cap_centi,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CASE WHEN CAST(l_discount AS DECIMAL(6,2)) < cap
      |          THEN CAST(l_discount AS DECIMAL(6,2)) ELSE cap END))
      |      AS rev_capped,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS rev_actual,
      |    CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(6,2)) > cap
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
      |  FROM lineitem CROSS JOIN caps
      |  GROUP BY cap)
      |SELECT cap_centi, CAST(rev_capped AS DOUBLE) AS revenue_capped,
      |  CAST(rev_actual AS DOUBLE) AS revenue_actual,
      |  CAST(rev_capped - rev_actual AS DOUBLE) AS recovered,
      |  n_capped
      |FROM x ORDER BY cap_centi""") { (s, d) =>
    val caps = Seq("0.00", "0.04", "0.08")
      .map(v => s.range(1).select(
        lit(BigDecimal(v)).cast(DecimalType(6, 2)).as("cap")))
      .reduce(_ unionAll _)
    Tables.lineitem(s, d)
      .select(money(col("l_extendedprice")).as("price"),
        rate(col("l_discount")).as("disc"))
      .crossJoin(broadcast(caps))
      .groupBy((col("cap") * 100).cast(LongType).as("cap_centi"))
      .agg(sum(col("price") * (lit(1) - least(col("disc"), col("cap"))))
          .as("rev_capped"),
        sum(col("price") * (lit(1) - col("disc"))).as("rev_actual"),
        count_if(col("disc") > col("cap")).as("n_capped"))
      .select(col("cap_centi"),
        col("rev_capped").cast(DoubleType).as("revenue_capped"),
        col("rev_actual").cast(DoubleType).as("revenue_actual"),
        (col("rev_capped") - col("rev_actual")).cast(DoubleType)
          .as("recovered"),
        col("n_capped"))
      .orderBy(col("cap_centi"))
  }

  /** Monthly seasonality index (r16) — the classic seasonal-index
    * report: per calendar month (pooled across years), order volume,
    * revenue mass, and the index revenue_share·12 in floor-ppm
    * (1000000 = a perfectly uniform month; the DECIMAL(38)/HUGEINT
    * fold keeps the ×12e6 product safe at any revenue scale). One
    * 12-group agg + a broadcast 1-row total. */
  val reportSeasonalityIndex: QDef = q(
    "report_seasonality_index",
    """WITH m AS (
      |  SELECT CAST(month(o_orderdate) AS BIGINT) AS mth,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(SUM(sum_cents) AS BIGINT) AS tot FROM m)
      |SELECT mth AS month, n_orders, sum_cents,
      |  CAST(CAST(sum_cents AS HUGEINT) * 12000000 // tot AS BIGINT)
      |    AS seasonal_index_ppm
      |FROM m CROSS JOIN t ORDER BY month""") { (s, d) =>
    val m = Tables.orders(s, d)
      .groupBy(month(col("o_orderdate")).cast(LongType).as("mth"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100"
          + " AS BIGINT)")).as("sum_cents"))
    val t = m.agg(sum(col("sum_cents")).as("tot"))
    m.crossJoin(broadcast(t))
      .select(col("mth").as("month"), col("n_orders"),
        col("sum_cents").cast(LongType).as("sum_cents"),
        expr("CAST(CAST(sum_cents AS DECIMAL(38,0)) * 12000000 div tot"
          + " AS BIGINT)").as("seasonal_index_ppm"))
      .orderBy(col("month"))
  }

  /** Theil T inequality index (r18) — the decomposable concentration
    * measure next to `agg_gini_value` (rank-based): per nation, over
    * its customers' order-revenue totals, T = (1/n)Σ(xᵢ/μ)ln(xᵢ/μ).
    * Revenue is exact integer cents; each customer's term is
    * quantized to floor-micro THROUGH one identical float tree on
    * exact integer inputs (r = x·n/S with both products inside
    * double-exact range, then r·ln(r)·10⁶ floored) and the nation
    * fold is an exact BIGINT sum — summation order cannot drift a
    * bit. Two keyed aggs (customer totals, nation fold) + a
    * broadcast dim join; the nation mean ships as floor-cents. */
  /** (n_name, x): per-customer order-revenue cents tagged with the
    * customer's nation — the shared base of the inequality pair
    * (`agg_theil_index`, `agg_atkinson_index`). */
  private val custRevCtes: String =
    """cx AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |cn AS (
      |  SELECT n.n_name, cx.x
      |  FROM cx JOIN customer c ON c.c_custkey = cx.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey)""".stripMargin

  /** Spark twin of `custRevCtes`. */
  private def custRevByNation(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast(LongType))
        .cast(LongType).as("x"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name"), col("x"))

  val aggTheilIndex: QDef = q(
    "agg_theil_index",
    s"""WITH $custRevCtes,
      |f AS (
      |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx
      |  FROM cn GROUP BY n_name),
      |t AS (
      |  SELECT cn.n_name,
      |    CAST(floor((CAST(cn.x * f.n AS DOUBLE) / f.sx)
      |      * ln(CAST(cn.x * f.n AS DOUBLE) / f.sx) * 1000000) AS BIGINT)
      |      AS term
      |  FROM cn JOIN f ON f.n_name = cn.n_name)
      |SELECT f.n_name, f.n AS n_customers,
      |  CAST(f.sx // f.n AS BIGINT) AS mean_cents,
      |  CAST(SUM(t.term) // f.n AS BIGINT) AS theil_micro
      |FROM t JOIN f ON f.n_name = t.n_name
      |GROUP BY f.n_name, f.n, f.sx
      |ORDER BY f.n_name""") { (s, d) =>
    val cn = custRevByNation(s, d)
    val f = cn.groupBy(col("n_name").as("f_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).cast(LongType).as("sx"))
    val ratio = (col("x") * col("n")).cast(DoubleType) / col("sx")
    cn.join(broadcast(f), col("f_name") === col("n_name"))
      .select(col("n_name"), col("n"), col("sx"),
        floor(ratio * log(ratio) * 1000000).cast(LongType).as("term"))
      .groupBy(col("n_name"), col("n"), col("sx"))
      .agg(sum(col("term")).as("st"))
      .select(col("n_name"), col("n").as("n_customers"),
        expr("sx div n").as("mean_cents"),
        expr("st div n").as("theil_micro"))
      .orderBy(col("n_name"))
  }

  /** Atkinson inequality index at ε = 1 (r18) — the
    * welfare-grounded companion to `agg_theil_index` over the SAME
    * per-nation customer-revenue base (`custRevCtes`, one spelling):
    * A₁ = 1 − geomean(x)/μ. The geometric mean rides the house
    * quantize-then-fold discipline: per-customer floor(ln x·10⁶) —
    * one float op on an exact integer — then an exact BIGINT mean,
    * and A₁ = 1 − exp(mean)·n/S is one final float tree on three
    * exact integers, floored to ppm (stated convention: the geomean
    * of the micro-floored logs; the quantization error is bounded by
    * e^(1e-6)). Two keyed aggs + a broadcast dim join, same plan
    * family as the Theil twin. */
  val aggAtkinsonIndex: QDef = q(
    "agg_atkinson_index",
    s"""WITH $custRevCtes,
      |f AS (
      |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000) AS BIGINT))
      |      AS BIGINT) AS sl
      |  FROM cn GROUP BY n_name)
      |SELECT n_name, n AS n_customers,
      |  CAST(sx // n AS BIGINT) AS mean_cents,
      |  CAST(1000000 - CAST(floor(
      |    exp(CAST(sl // n AS DOUBLE) / 1000000.0) * n
      |      / sx * 1000000) AS BIGINT) AS BIGINT) AS atkinson_ppm
      |FROM f ORDER BY n_name""") { (s, d) =>
    val f = custRevByNation(s, d)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).cast(LongType).as("sx"),
        sum(floor(log(col("x").cast(DoubleType)) * 1000000).cast(LongType))
          .cast(LongType).as("sl"))
    f.select(col("n_name"), col("n").as("n_customers"),
        expr("sx div n").as("mean_cents"),
        (lit(1000000L) - floor(
          exp(expr("CAST(sl div n AS DOUBLE)") / 1000000.0) * col("n")
            / col("sx") * 1000000).cast(LongType)).as("atkinson_ppm"))
      .orderBy(col("n_name"))
  }

  /** Hoover (Robin Hood) index (r18) — the third member of the
    * inequality trio on the SAME per-nation revenue base as Theil and
    * Atkinson (`custRevCtes`, one spelling): H = ½ Σ|xᵢ/S − 1/n| =
    * Σ|xᵢ·n − S| / (2·n·S) — the share of total revenue that would
    * have to move to equalize. Unlike its two siblings this one
    * needs NO transcendental at all: the whole index is ONE exact
    * rational through DECIMAL(38)/HUGEINT in ppm. Same two-agg +
    * broadcast-dim plan family. */
  val aggHooverIndex: QDef = q(
    "agg_hoover_index",
    s"""WITH $custRevCtes,
      |f AS (
      |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx
      |  FROM cn GROUP BY n_name),
      |t AS (
      |  SELECT cn.n_name,
      |    CAST(SUM(abs(CAST(cn.x AS HUGEINT) * f.n - f.sx)) AS HUGEINT)
      |      AS sd
      |  FROM cn JOIN f ON f.n_name = cn.n_name
      |  GROUP BY cn.n_name)
      |SELECT f.n_name, f.n AS n_customers,
      |  CAST(f.sx // f.n AS BIGINT) AS mean_cents,
      |  CAST(t.sd * 1000000 // (2 * CAST(f.n AS HUGEINT) * f.sx)
      |    AS BIGINT) AS hoover_ppm
      |FROM f JOIN t ON t.n_name = f.n_name
      |ORDER BY f.n_name""") { (s, d) =>
    val dec = DecimalType(38, 0)
    val cn = custRevByNation(s, d)
    val f = cn.groupBy(col("n_name").as("f_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).cast(LongType).as("sx"))
    cn.join(broadcast(f), col("f_name") === col("n_name"))
      .groupBy(col("n_name"), col("n"), col("sx"))
      .agg(sum(abs(col("x").cast(dec) * col("n") - col("sx"))).cast(dec)
        .as("sd"))
      .select(col("n_name"), col("n").as("n_customers"),
        expr("sx div n").as("mean_cents"),
        expr("CAST(sd * 1000000 div (2 * CAST(n AS DECIMAL(38,0)) * sx)"
          + " AS BIGINT)").as("hoover_ppm"))
      .orderBy(col("n_name"))
  }

  /** Two-sided 10% trimmed mean (r18b) — the robust-location
    * companion to `agg_winsorized_mean` (winsorize CLAMPS the
    * tails; trimming DROPS them): per return flag, drop the k =
    * ⌊n/10⌋ cheapest and k dearest line items by extended price and
    * average the middle. Spelled at histogram granularity so no
    * whole-group sort ever runs: per-(flag, cents) counts, a
    * BUCKETED prefix pass (window partitioned by (flag, v div 10⁶)
    * plus a broadcast bucket-offset self-join — the
    * `exclusivePrefix` discipline with a compound key), then each
    * histogram row contributes |[pre+1, pre+cnt] ∩ [k+1, n−k]|
    * copies of its value — exact BIGINT overlap algebra, identical
    * in both engines. At 100 TB the shuffles carry distinct cents
    * values only. */
  val aggTrimmedMean: QDef = q(
    "agg_trimmed_mean",
    """WITH c AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |t AS (
      |  SELECT flag, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(CAST(v AS HUGEINT) * cnt) AS HUGEINT) AS sall
      |  FROM c GROUP BY flag),
      |cum AS (
      |  SELECT flag, v, cnt,
      |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY flag ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS pre
      |  FROM c),
      |k AS (SELECT flag, n, sall, n // 10 AS kk FROM t),
      |kept AS (
      |  SELECT cum.flag,
      |    CAST(SUM(GREATEST(0, LEAST(cum.pre + cum.cnt, k.n - k.kk)
      |      - GREATEST(cum.pre, k.kk)) * CAST(cum.v AS HUGEINT)) AS HUGEINT)
      |      AS skept
      |  FROM cum JOIN k ON k.flag = cum.flag GROUP BY cum.flag)
      |SELECT k.flag AS l_returnflag, k.n, k.kk AS n_trimmed_each,
      |  CAST(k.sall // k.n AS BIGINT) AS mean_cents,
      |  CAST(kept.skept // (k.n - 2 * k.kk) AS BIGINT)
      |    AS trimmed_mean_cents
      |FROM k JOIN kept ON kept.flag = k.flag ORDER BY 1""") { (s, d) =>
    val c = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
          + " AS BIGINT)").as("v"))
      .groupBy(col("flag"), col("v")).agg(count(lit(1)).as("cnt"))
      .persist()
    // bucketed exclusive prefix within flag (the exclusivePrefix
    // discipline, compound (flag, bkt) key): the window partition is
    // one value-bucket of one flag, never a whole group
    val cb = c.withColumn("bkt", expr("v div 1000000"))
    val w = Window.partitionBy(col("flag"), col("bkt")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = cb.withColumn("run", sum(col("cnt")).over(w))
    val btot = cb.groupBy(col("flag"), col("bkt"))
      .agg(sum(col("cnt")).as("bt"),
        sum(col("v").cast(DriftOps.dec) * col("cnt")).as("bv"))
    // flag totals fold over the tiny bucket-total frame — the
    // histogram is scanned once, never re-aggregated per consumer
    val t = btot.groupBy(col("flag"))
      .agg(sum(col("bt")).as("n"), sum(col("bv")).as("sall"))
    val bpre = btot.select(col("flag"), col("bkt"), col("bt")).as("x")
      .join(broadcast(btot.select(col("flag").as("yflag"),
          col("bkt").as("ybkt"), col("bt").as("ybt"))),
        col("yflag") === col("x.flag") && col("ybkt") < col("x.bkt"),
        "left")
      .groupBy(col("x.flag").as("flag"), col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("ybt")), lit(0L)).as("off"))
    val cum = within.join(broadcast(bpre), Seq("flag", "bkt"))
      .withColumn("pre", col("run") - col("cnt") + col("off"))
    val k = t.select(col("flag").as("kflag"), col("n"), col("sall"),
      expr("n div 10").as("kk"))
    val kept = cum.join(broadcast(k), col("kflag") === col("flag"))
      .select(col("flag"),
        (greatest(lit(0L), least(col("pre") + col("cnt"),
          col("n") - col("kk")) - greatest(col("pre"), col("kk")))
          * col("v").cast(DriftOps.dec)).as("contrib"))
      .groupBy(col("flag")).agg(sum(col("contrib")).as("skept"))
    kept.join(broadcast(k), col("kflag") === col("flag"))
      .select(col("flag").as("l_returnflag"), col("n"),
        col("kk").as("n_trimmed_each"),
        expr("CAST(sall div n AS BIGINT)").as("mean_cents"),
        expr("CAST(skept div (n - 2 * kk) AS BIGINT)")
          .as("trimmed_mean_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Geometric + harmonic means (r18b) — the AM ≥ GM ≥ HM triple
    * per return flag over milli-quantized quantities: GM through the
    * house quantize-then-fold log protocol (Σ floor(ln·10⁶) div n,
    * one exp at the edge — the `agg_atkinson_index` spelling), HM
    * via exact floored reciprocals r = 10¹² div q_milli (relative
    * quantization error < 5·10⁻⁸, identical in both engines) so
    * HM_milli = n·10¹² div Σr is pure integer algebra. The spec
    * pins the mean inequality. One grouped fold. */
  val aggGeometricHarmonic: QDef = q(
    "agg_geometric_harmonic",
    """WITH x AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_quantity AS DECIMAL(12,4)) * 1000 AS BIGINT)
      |      AS qm
      |  FROM lineitem
      |  WHERE CAST(CAST(l_quantity AS DECIMAL(12,4)) * 1000 AS BIGINT) > 0),
      |m AS (
      |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(qm) AS BIGINT) AS sq,
      |    CAST(SUM(CAST(FLOOR(ln(CAST(qm AS DOUBLE)) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS sl,
      |    CAST(SUM(1000000000000 // qm) AS BIGINT) AS sr
      |  FROM x GROUP BY flag)
      |SELECT flag AS l_returnflag, n,
      |  CAST(sq // n AS BIGINT) AS arith_milli,
      |  CAST(FLOOR(exp(CAST(sl // n AS DOUBLE) / 1000000)) AS BIGINT)
      |    AS geo_milli,
      |  CAST(n * 1000000000000 // sr AS BIGINT) AS harm_milli
      |FROM m ORDER BY 1""") { (s, d) =>
    val x = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        expr("CAST(CAST(l_quantity AS DECIMAL(12,4)) * 1000 AS BIGINT)")
          .as("qm"))
      .filter(col("qm") > 0)
    val m = x.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("qm")).as("sq"),
        sum(floor(log(col("qm").cast(DoubleType)) * 1000000)
          .cast(LongType)).as("sl"),
        sum(expr("1000000000000 div qm")).as("sr"))
    m.select(col("flag").as("l_returnflag"), col("n"),
        expr("CAST(sq div n AS BIGINT)").as("arith_milli"),
        expr("CAST(FLOOR(exp(CAST(sl div n AS DOUBLE) / 1000000))"
          + " AS BIGINT)").as("geo_milli"),
        expr("CAST(n * 1000000000000 div sr AS BIGINT)").as("harm_milli"))
      .orderBy(col("l_returnflag"))
  }

  /** Theil between/within decomposition by region (r18b) — the
    * property that makes Theil THE inequality index for hierarchies:
    * T_total = T_between + Σ_r share_r·T_within_r EXACTLY (Theil
    * 1967), graded here across the region→nation→customer rollup on
    * the SAME `custRevCtes` base as the nation-level trio (ONE
    * spelling, now `private[ops]`). Per region: customer count,
    * revenue mass, within-region Theil (the house per-row
    * floor(ratio·ln ratio·10⁶) fold), the between term
    * (S_r/S)·ln(S_r·N/(S·N_r)), and the share-weighted within
    * contribution; the corpus-level T_total / ΣB / ΣW ride every
    * row as broadcast fold columns, and the spec pins additivity to
    * within quantization. Shuffles: the customer agg + broadcast
    * dims + one region fold + two 1-row folds. */
  val reportTheilBetweenWithin: QDef = q(
    "report_theil_between_within",
    s"""WITH ${custRevCtes},
      |rn AS (
      |  SELECT n.n_name, r.r_name
      |  FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey),
      |cr AS (
      |  SELECT rn.r_name, cn.x
      |  FROM cn JOIN rn ON rn.n_name = cn.n_name),
      |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
      |  CAST(SUM(x) AS BIGINT) AS ss FROM cr),
      |f AS (
      |  SELECT r_name, CAST(COUNT(*) AS BIGINT) AS nr,
      |    CAST(SUM(x) AS BIGINT) AS sr
      |  FROM cr GROUP BY r_name),
      |tw AS (
      |  SELECT cr.r_name,
      |    CAST(SUM(CAST(floor((CAST(cr.x * f.nr AS DOUBLE) / f.sr)
      |      * ln(CAST(cr.x * f.nr AS DOUBLE) / f.sr) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS st
      |  FROM cr JOIN f ON f.r_name = cr.r_name GROUP BY cr.r_name),
      |tt AS (
      |  SELECT CAST(SUM(CAST(floor((CAST(cr.x * g.nn AS DOUBLE) / g.ss)
      |      * ln(CAST(cr.x * g.nn AS DOUBLE) / g.ss) * 1000000)
      |      AS BIGINT)) // MAX(g.nn) AS BIGINT) AS t_total
      |  FROM cr CROSS JOIN g),
      |per AS (
      |  SELECT f.r_name, f.nr, f.sr,
      |    CAST(tw.st // f.nr AS BIGINT) AS theil_within_micro,
      |    CAST(floor((CAST(f.sr AS DOUBLE) / g.ss)
      |      * ln(CAST(f.sr AS DOUBLE) * g.nn
      |        / (CAST(g.ss AS DOUBLE) * f.nr)) * 1000000) AS BIGINT)
      |      AS between_term_micro,
      |    CAST(CAST(f.sr AS HUGEINT) * (tw.st // f.nr) // g.ss AS BIGINT)
      |      AS weighted_within_micro
      |  FROM f JOIN tw ON tw.r_name = f.r_name CROSS JOIN g),
      |tot AS (
      |  SELECT CAST(SUM(between_term_micro) AS BIGINT) AS t_between,
      |    CAST(SUM(weighted_within_micro) AS BIGINT) AS t_within
      |  FROM per)
      |SELECT per.r_name, per.nr AS n_customers, per.sr AS sum_cents,
      |  per.theil_within_micro, per.between_term_micro,
      |  per.weighted_within_micro, tt.t_total AS theil_total_micro,
      |  tot.t_between AS theil_between_micro,
      |  tot.t_within AS theil_within_total_micro
      |FROM per CROSS JOIN tt CROSS JOIN tot
      |ORDER BY per.r_name""") { (s, d) =>
    val rn = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("r_regionkey") === col("n_regionkey"))
      .select(col("n_name").as("rn_name"), col("r_name"))
    val cr = custRevByNation(s, d)
      .join(broadcast(rn), col("rn_name") === col("n_name"))
      .select(col("r_name"), col("x"))
      .persist()
    val g = cr.agg(count(lit(1)).as("nn"),
      sum(col("x")).cast(LongType).as("ss"))
    val f = cr.groupBy(col("r_name").as("f_name"))
      .agg(count(lit(1)).as("nr"), sum(col("x")).cast(LongType).as("sr"))
    val ratioR = (col("x") * col("nr")).cast(DoubleType) / col("sr")
    val tw = cr.join(broadcast(f), col("f_name") === col("r_name"))
      .select(col("r_name"),
        floor(ratioR * log(ratioR) * 1000000).cast(LongType).as("term"))
      .groupBy(col("r_name")).agg(sum(col("term")).as("st"))
    val ratioG = (col("x") * col("nn")).cast(DoubleType) / col("ss")
    val tt = cr.crossJoin(broadcast(g))
      .select(floor(ratioG * log(ratioG) * 1000000).cast(LongType)
        .as("term"), col("nn"))
      .agg(expr("CAST(SUM(term) div MAX(nn) AS BIGINT)").as("t_total"))
    val per = f.join(tw, col("r_name") === col("f_name"))
      .crossJoin(broadcast(g))
      .select(col("r_name"), col("nr"), col("sr"),
        expr("CAST(st div nr AS BIGINT)").as("theil_within_micro"),
        floor((col("sr").cast(DoubleType) / col("ss"))
          * log(col("sr").cast(DoubleType) * col("nn")
            / (col("ss").cast(DoubleType) * col("nr"))) * 1000000)
          .cast(LongType).as("between_term_micro"),
        expr("CAST(CAST(sr AS DECIMAL(38,0)) * (st div nr) div ss"
          + " AS BIGINT)").as("weighted_within_micro"))
    val tot = per.agg(sum(col("between_term_micro")).cast(LongType)
      .as("t_between"),
      sum(col("weighted_within_micro")).cast(LongType).as("t_within"))
    per.crossJoin(broadcast(tt)).crossJoin(broadcast(tot))
      .select(col("r_name"), col("nr").as("n_customers"),
        col("sr").as("sum_cents"), col("theil_within_micro"),
        col("between_term_micro"), col("weighted_within_micro"),
        col("t_total").as("theil_total_micro"),
        col("t_between").as("theil_between_micro"),
        col("t_within").as("theil_within_total_micro"))
      .orderBy(col("r_name"))
  }

  val all: Seq[QDef] = Seq(
    q1PricingSummary, aggCountDistinct, aggApproxDistinct, aggRollup,
    aggCube, aggGroupingSets, aggStatsExplicit, aggCollectSorted,
    pivotEventTypes, unpivotMelt, aggQuantilesExact, filterAboveGroupAvg,
    aggRegressionExplicit, aggHistogramBucketed, aggModeDeterministic,
    aggArgminmax, aggBitmapDistinct, aggWeightedMedian, pivotMultiAgg,
    aggSkewKurtosis, aggBoolCountif, aggCorrExplicit, aggGroupingId,
    aggStringConcat, aggZscoreOutliers, reportTopnOther, aggCorrMatrix,
    reportAgingBuckets, reportConcentration, reportAbcClass,
    reportYtdRunning, reportValueMigration, aggGiniValue,
    reportXyzVariability, aggMultiDistinct, reportPriceVolumeMix,
    reportHhiByNation, reportAbcXyzMatrix, reportSplitShipment,
    aggBitmaskSignatures, reportPriceIndex, aggWinsorizedMean,
    aggNullSemantics, reportGrowthMomYoy, reportLorenzDeciles,
    reportShipLagHistogram, reportContributionWaterfall, aggIncrementalMerge,
    reportDiscountWhatif, reportSeasonalityIndex, aggTheilIndex,
    aggAtkinsonIndex, aggHooverIndex, aggTrimmedMean, aggGeometricHarmonic,
    reportTheilBetweenWithin)
}
