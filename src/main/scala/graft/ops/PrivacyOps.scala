package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Privacy family (SURVEY §2): the disclosure-control checks a
  * release pipeline runs before data leaves the curation tier —
  * k-anonymity, l-diversity and t-closeness over customer
  * quasi-identifiers, the generalization ladder, contribution
  * capping, epsilon composition, randomized response and the
  * Laplace histogram — under the house determinism protocol
  * (exact integers end to end, floor-ppm ratios spelled
  * identically in both engines). */
object PrivacyOps {

  /** Inline k-row integer table (the R14 threshold-table idiom):
    * union of 1-row ranges — broadcast-sized, no implicits. */
  private[ops] def intTable(s: SparkSession, name: String, vs: Seq[Int]): DataFrame =
    vs.map(v => s.range(1).select(lit(v).as(name))).reduce(_ unionAll _)

  /** k-anonymity audit (r15) — the privacy gate a training-data
    * release runs before shipping user-derived tables: how many
    * quasi-identifier groups would re-identify members at k. QI =
    * (nation, market segment, $1000 account-balance bucket) over
    * customer; for k ∈ {2, 5, 10} (broadcast 3-row table) the audit
    * reports group counts, sub-k groups, and rows at re-identification
    * risk in floor-ppm. The balance bucket is TRUNC division on both
    * sides (balances go negative; measured: DuckDB 1.0.0 integer `//`
    * truncates toward zero exactly like Spark `div`, so the bare
    * spellings are identical on every sign — negative balances land
    * in trunc buckets, a documented bucketing decision). One
    * group-sized agg; the k-sweep rides a broadcast. */
  val privacyKAnonymity: QDef = q(
    "privacy_k_anonymity",
    """WITH qi AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000
      |      AS bal_bucket,
      |    CAST(COUNT(*) AS BIGINT) AS grp_n
      |  FROM customer GROUP BY 1, 2, 3),
      |ks AS (SELECT * FROM (VALUES (2), (5), (10)) AS t(k))
      |SELECT CAST(k AS BIGINT) AS k,
      |  CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(SUM(CASE WHEN grp_n < k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_small_groups,
      |  CAST(SUM(CASE WHEN grp_n < k THEN grp_n ELSE 0 END) AS BIGINT)
      |    AS n_rows_at_risk,
      |  CAST(SUM(grp_n) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN grp_n < k THEN grp_n ELSE 0 END) * 1000000
      |    // SUM(grp_n) AS BIGINT) AS risk_ppm
      |FROM qi CROSS JOIN ks
      |GROUP BY k ORDER BY k""") { (s, d) =>
    val qi = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
          " div 100000 AS BIGINT)").as("bal_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("grp_n"))
    qi.crossJoin(broadcast(intTable(s, "k", Seq(2, 5, 10))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"),
        count_if(col("grp_n") < col("k")).as("n_small_groups"),
        sum(when(col("grp_n") < col("k"), col("grp_n")).otherwise(0L))
          .as("n_rows_at_risk"),
        sum(col("grp_n")).as("n_rows"))
      .select(col("k").cast(LongType).as("k"), col("n_groups"),
        col("n_small_groups"), col("n_rows_at_risk"), col("n_rows"),
        expr("CAST(n_rows_at_risk * 1000000 div n_rows AS BIGINT)")
          .as("risk_ppm"))
      .orderBy(col("k"))
  }

  /** l-diversity audit (r15) — k-anonymity's companion: a group can
    * be large yet leak if every member shares the same SENSITIVE
    * value. QI = (nation, market segment); sensitive = the order
    * priorities the group's members place. The report is the
    * distribution of l (distinct sensitive values per QI group, over
    * groups with ≥1 order): groups and order volume at each l, so the
    * "l = 1 means the group is fully disclosed" line is readable
    * directly. One fact join on custkey + two group-sized aggs. */
  val privacyLDiversity: QDef = q(
    "privacy_l_diversity",
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1, 2)
      |SELECT l, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(SUM(n_orders) AS BIGINT) AS n_orders
      |FROM g GROUP BY l ORDER BY l""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderpriority"))
      .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(countDistinct(col("o_orderpriority")).as("l"),
        count(lit(1)).as("n_orders"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_orders")).as("n_orders"))
      .orderBy(col("l"))
  }

  /** Generalization ladder to k-anonymity (r15c) — the REMEDIATION
    * plan `privacy_k_anonymity` stops short of: per customer, the
    * minimal QI generalization level at which their group reaches
    * k = 5. Levels drop the most-identifying attribute in turn:
    * 0 = (nation, segment, $1000 trunc balance bucket), 1 = (nation,
    * segment), 2 = (nation), 3 = fully suppressed. The report is the
    * row distribution over minimal safe levels with floor-ppm shares
    * — the table a release reviewer reads to decide how much
    * generalization the export actually needs. Three group-sized
    * aggs, each joined back as a broadcast. */
  val privacyGeneralizationLadder: QDef = q(
    "privacy_generalization_ladder",
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey AS nat, c_mktsegment AS seg,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000
      |      AS bkt
      |  FROM customer),
      |g0 AS (SELECT nat, seg, bkt, CAST(COUNT(*) AS BIGINT) AS n0
      |  FROM c GROUP BY 1, 2, 3),
      |g1 AS (SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n1
      |  FROM c GROUP BY 1, 2),
      |g2 AS (SELECT nat, CAST(COUNT(*) AS BIGINT) AS n2
      |  FROM c GROUP BY 1),
      |lv AS (
      |  SELECT CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
      |    WHEN n2 >= 5 THEN 2 ELSE 3 END AS level
      |  FROM c
      |  JOIN g0 USING (nat, seg, bkt)
      |  JOIN g1 USING (nat, seg)
      |  JOIN g2 USING (nat)),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM customer)
      |SELECT CAST(level AS BIGINT) AS level,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(COUNT(*) * 1000000 // total AS BIGINT) AS share_ppm
      |FROM lv CROSS JOIN t
      |GROUP BY level, total ORDER BY level""") { (s, d) =>
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
          " div 100000 AS BIGINT)").as("bkt"))
    val g0 = c.groupBy(col("nat"), col("seg"), col("bkt"))
      .agg(count(lit(1)).as("n0"))
    val g1 = c.groupBy(col("nat").as("n1nat"), col("seg").as("n1seg"))
      .agg(count(lit(1)).as("n1"))
    val g2 = c.groupBy(col("nat").as("n2nat")).agg(count(lit(1)).as("n2"))
    val lv = c
      .join(broadcast(g0), Seq("nat", "seg", "bkt"))
      .join(broadcast(g1),
        col("nat") === col("n1nat") && col("seg") === col("n1seg"))
      .join(broadcast(g2), col("nat") === col("n2nat"))
      .select(when(col("n0") >= 5, 0).when(col("n1") >= 5, 1)
        .when(col("n2") >= 5, 2).otherwise(3).as("level"))
    // total from the BASE table, not from lv: the inner joins preserve
    // every customer row (group keys come from the same table), and a
    // count over lv would re-run the whole three-agg join tree a
    // second time just to produce one number
    val t = Tables.customer(s, d).agg(count(lit(1)).as("total"))
    lv.crossJoin(broadcast(t))
      .groupBy(col("level"), col("total"))
      .agg(count(lit(1)).as("n_customers"))
      .select(col("level").cast(LongType).as("level"), col("n_customers"),
        expr("CAST(n_customers * 1000000 div total AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("level"))
  }

  /** Per-user contribution capping audit (r16) — the
    * differential-privacy PREP step every DP release pipeline runs
    * before adding noise: bound each user's contribution so the
    * query's sensitivity is finite. Per event type: raw rows vs rows
    * surviving a keep-first-8-per-(user, type) cap (deterministic
    * survivors — the user's earliest events by (ts, event_id), never
    * an arbitrary sample), raw vs capped value mass, the observed
    * worst-case user contribution (the UNCAPPED L1 sensitivity) and
    * its capped bound, and the dropped mass in floor-ppm. One
    * user-partitioned window + one group agg; the cap is row-local
    * after the window. */
  val privacyContributionCapping: QDef = q(
    "privacy_contribution_capping",
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS rn
      |  FROM events),
      |u AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_user
      |  FROM e GROUP BY event_type, user_id),
      |caps AS (
      |  SELECT event_type, MAX(n_user) AS max_user_rows
      |  FROM u GROUP BY event_type)
      |SELECT e.event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  MAX(caps.max_user_rows) AS max_user_rows,
      |  LEAST(MAX(caps.max_user_rows), 8) AS capped_max_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(CASE WHEN rn <= 8 THEN cents ELSE 0 END) AS BIGINT)
      |    AS kept_sum_cents,
      |  CASE WHEN SUM(cents) = 0 THEN NULL ELSE
      |    CAST((SUM(cents) - SUM(CASE WHEN rn <= 8 THEN cents ELSE 0 END))
      |    * 1000000 // SUM(cents) AS BIGINT) END AS dropped_ppm
      |FROM e JOIN caps ON caps.event_type = e.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"),
        row_number().over(Window.partitionBy(col("user_id"),
          col("event_type")).orderBy(col("ts"), col("event_id"))).as("rn"))
    // group keys in the WINDOW's partition order (user_id, event_type)
    // so the per-user count rides the window exchange instead of
    // re-shuffling
    val caps = e.groupBy(col("user_id"), col("event_type").as("ct"))
      .agg(count(lit(1)).as("n_user"))
      .groupBy(col("ct")).agg(max(col("n_user")).as("max_user_rows"))
    e.join(broadcast(caps), col("ct") === col("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("rn") <= 8, 1L).otherwise(0L)).as("n_kept"),
        max(col("max_user_rows")).as("max_user_rows"),
        least(max(col("max_user_rows")), lit(8L)).as("capped_max_rows"),
        sum(col("cents")).as("sum_cents"),
        sum(when(col("rn") <= 8, col("cents")).otherwise(0L))
          .as("kept_sum_cents"))
      .select(col("event_type"), col("n_rows"), col("n_kept"),
        col("max_user_rows"), col("capped_max_rows"), col("sum_cents"),
        col("kept_sum_cents"),
        expr("CASE WHEN sum_cents = 0 THEN NULL ELSE"
          + " CAST((sum_cents - kept_sum_cents) * 1000000 div sum_cents"
          + " AS BIGINT) END").as("dropped_ppm"))
      .orderBy(col("event_type"))
  }

  /** t-closeness (r17) — completing the k-anonymity / l-diversity
    * ladder: per QI group (nation × segment, the `privacy_k_anonymity`
    * QI minus the sensitive column), the total-variation distance
    * between the group's sensitive-value distribution (balance
    * bucket) and the global one. TV = ½Σ|p_g − p| is one exact
    * rational: Σ|n_gv·N − n_v·n_g| over the group's present values
    * PLUS the absent-value mass n_g·N − Σ_present n_v·n_g (absent v
    * contribute |0 − p| — the term a naive join-only spelling
    * silently drops), all over 2·n_g·N, in floor-ppm through
    * DECIMAL(38)/HUGEINT. Output flags groups violating t = 0.2. One
    * (QI, v) agg; the v-marginal and N broadcast. */
  val privacyTCloseness: QDef = q(
    "privacy_t_closeness",
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000
      |      AS v
      |  FROM customer),
      |gv AS (
      |  SELECT c_nationkey, c_mktsegment, v, CAST(COUNT(*) AS BIGINT) AS n_gv
      |  FROM c GROUP BY 1, 2, 3),
      |vm AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_v FROM c GROUP BY v),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM c),
      |g AS (
      |  SELECT gv.c_nationkey, gv.c_mktsegment,
      |    CAST(SUM(n_gv) AS BIGINT) AS n_g,
      |    CAST(SUM(abs(CAST(n_gv AS HUGEINT) * n_all - CAST(n_v AS HUGEINT)
      |        * (SELECT SUM(n_gv2.n_gv) FROM gv n_gv2
      |           WHERE n_gv2.c_nationkey = gv.c_nationkey
      |             AND n_gv2.c_mktsegment = gv.c_mktsegment))
      |      - CAST(n_v AS HUGEINT)
      |        * (SELECT SUM(n_gv3.n_gv) FROM gv n_gv3
      |           WHERE n_gv3.c_nationkey = gv.c_nationkey
      |             AND n_gv3.c_mktsegment = gv.c_mktsegment)) AS HUGEINT)
      |      AS part_sum
      |  FROM gv JOIN vm ON vm.v = gv.v CROSS JOIN nn
      |  GROUP BY 1, 2)
      |SELECT c_nationkey, c_mktsegment, n_g,
      |  CAST((part_sum + CAST(n_g AS HUGEINT) * n_all) * 1000000
      |    // (CAST(2 AS HUGEINT) * n_g * n_all) AS BIGINT) AS tv_ppm,
      |  CAST(CAST((part_sum + CAST(n_g AS HUGEINT) * n_all) * 1000000
      |    // (CAST(2 AS HUGEINT) * n_g * n_all) AS BIGINT) <= 200000 AS INT)
      |    AS t02_ok
      |FROM g CROSS JOIN nn
      |ORDER BY c_nationkey, c_mktsegment""") { (s, d) =>
    val c = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
          + " div 100000").as("v"))
    val gv = c.groupBy(col("c_nationkey"), col("c_mktsegment"), col("v"))
      .agg(count(lit(1)).as("n_gv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vm = gv.groupBy(col("v").as("vm_v"))
      .agg(sum(col("n_gv")).as("n_v"))
    val nn = gv.agg(sum(col("n_gv")).as("n_all"))
    val ng = gv.groupBy(col("c_nationkey").as("g_nk"),
        col("c_mktsegment").as("g_seg"))
      .agg(sum(col("n_gv")).as("n_g"))
    // per-(QI, v) signed term needs n_g on the row: broadcast the
    // QI-sized n_g table back on (the oracle spells the same quantity
    // as a correlated sum — one semantics, two spellings)
    val g = gv
      .join(broadcast(vm), col("vm_v") === col("v"))
      .join(broadcast(ng),
        col("g_nk") === col("c_nationkey") && col("g_seg") === col("c_mktsegment"))
      .crossJoin(broadcast(nn))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(max(col("n_g")).as("n_g"),
        sum(expr("abs(CAST(n_gv AS DECIMAL(38,0)) * n_all"
          + " - CAST(n_v AS DECIMAL(38,0)) * n_g)"
          + " - CAST(n_v AS DECIMAL(38,0)) * n_g")).as("part_sum"))
    g.crossJoin(broadcast(nn))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"),
        expr("CAST((part_sum + CAST(n_g AS DECIMAL(38,0)) * n_all) * 1000000"
          + " div (CAST(2 AS DECIMAL(38,0)) * n_g * n_all) AS BIGINT)")
          .as("tv_ppm"))
      .withColumn("t02_ok", (col("tv_ppm") <= 200000L).cast(IntegerType))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** Differential-privacy budget composition (r18) — the accounting
    * ladder's missing rung above k-anonymity/l-diversity/
    * t-closeness: each event type is an "analyst" issuing one
    * ε₀ = 0.1 query per active day, and the key grades basic
    * composition (k·ε₀ — linear, what a naive accountant charges)
    * against the advanced bound ε₀√(2k·ln(1/δ')) + k·ε₀(exp(ε₀)−1) at
    * δ' = 10⁻⁶ (Dwork–Rothblum–Vadhan) — THE table that says when
    * the√k accounting wins and a budget stretches to more queries.
    * k is an exact distinct-day count; both bounds are one identical
    * float tree on that integer, floored to micro. Day-sized aggs
    * only. */
  val privacyEpsilonComposition: QDef = q(
    "privacy_epsilon_composition",
    """WITH k AS (
      |  SELECT event_type,
      |    CAST(COUNT(DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
      |      AS DATE)) AS BIGINT) AS n_queries
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n_queries,
      |  CAST(n_queries * 100000 AS BIGINT) AS eps_basic_micro,
      |  CAST(floor((0.1 * sqrt(2.0 * n_queries * ln(1000000.0))
      |    + n_queries * 0.1 * (exp(0.1) - 1.0)) * 1000000) AS BIGINT)
      |    AS eps_advanced_micro,
      |  CAST(floor((0.1 * sqrt(2.0 * n_queries * ln(1000000.0))
      |    + n_queries * 0.1 * (exp(0.1) - 1.0)) * 1000000) AS BIGINT)
      |    < CAST(n_queries * 100000 AS BIGINT) AS advanced_wins
      |FROM k ORDER BY event_type""") { (s, d) =>
    val k = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("day")).as("n_queries"))
    val adv = floor((lit(0.1) * sqrt(lit(2.0) * col("n_queries")
        * log(lit(1000000.0)))
      + col("n_queries") * lit(0.1) * (exp(lit(0.1)) - lit(1.0)))
      * 1000000).cast(LongType)
    k.select(col("event_type"), col("n_queries"),
        (col("n_queries") * 100000L).as("eps_basic_micro"),
        adv.as("eps_advanced_micro"),
        (adv < col("n_queries") * 100000L).as("advanced_wins"))
      .orderBy(col("event_type"))
  }

  /** k-ary randomized response (r18) — local differential privacy's
    * workhorse mechanism, graded deterministically: each document
    * reports its true lang with probability 3/4 (md5 first hex char
    * < 'c') and otherwise a deterministic md5-drawn replacement from
    * the 5-lang codebook, and the analyst's unbiased estimator
    * n̂ⱼ = (20·noisyⱼ − N)/15 (the k = 5, p = 3/4 debias) is graded
    * in exact milli next to the true counts — the end-to-end check
    * that the mechanism's utility math survives a distributed
    * implementation. The codebook index is a histogram-cumulative
    * rank (broadcast 5×5 self-join — no window, same trick as
    * `mix_curriculum_schedule`); everything else is lang-sized aggs.
    * The replacement draw md5('rr:'||doc_id) is independent of the
    * keep draw md5(doc_id||':rr') by construction. */
  val privacyRandomizedResponse: QDef = q(
    "privacy_randomized_response",
    """WITH langs AS (
      |  SELECT a.lang, CAST(COUNT(b.lang) AS BIGINT) AS idx
      |  FROM (SELECT DISTINCT lang FROM documents) a
      |  LEFT JOIN (SELECT DISTINCT lang FROM documents) b
      |    ON b.lang < a.lang
      |  GROUP BY a.lang),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS nl FROM langs),
      |rep AS (
      |  SELECT d.doc_id, d.lang AS true_lang,
      |    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':rr'), 1, 1)
      |        < 'c' THEN d.lang
      |      ELSE (SELECT l2.lang FROM langs l2, k
      |        WHERE l2.idx = ('0x' ||
      |          substr(md5('rr:' || CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
      |          % k.nl)
      |    END AS report_lang
      |  FROM documents d),
      |tc AS (SELECT true_lang AS lang, CAST(COUNT(*) AS BIGINT) AS true_n
      |  FROM rep GROUP BY true_lang),
      |nc AS (SELECT report_lang AS lang, CAST(COUNT(*) AS BIGINT) AS noisy_n
      |  FROM rep GROUP BY report_lang),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM rep)
      |SELECT tc.lang, tc.true_n,
      |  CAST(COALESCE(nc.noisy_n, 0) AS BIGINT) AS noisy_n,
      |  CAST((20 * COALESCE(nc.noisy_n, 0) - nd) * 1000 // 15 AS BIGINT)
      |    AS est_milli,
      |  CAST(abs((20 * COALESCE(nc.noisy_n, 0) - nd) * 1000 // 15
      |    - tc.true_n * 1000) AS BIGINT) AS abs_err_milli
      |FROM tc LEFT JOIN nc ON nc.lang = tc.lang CROSS JOIN tot
      |ORDER BY tc.lang""") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val distinctLangs = docs.select(col("lang")).distinct()
    val langs = distinctLangs.as("a")
      .join(broadcast(distinctLangs.select(col("lang").as("b_lang"))),
        col("b_lang") < col("a.lang"), "left")
      .groupBy(col("a.lang").as("l_lang"))
      .agg(count(col("b_lang")).as("idx"))
    val k = langs.agg(count(lit(1)).as("nl"))
    val drawn = docs.crossJoin(broadcast(k))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("rr:"),
            col("doc_id").cast(StringType))), 1, 4), 16, 10)
          .cast(LongType) % col("nl")).as("draw_idx"),
        (substring(md5(concat(col("doc_id").cast(StringType), lit(":rr"))),
          1, 1) < "c").as("keep"))
    val rep = drawn
      .join(broadcast(langs), col("draw_idx") === col("idx"))
      .select(col("doc_id"), col("lang").as("true_lang"),
        when(col("keep"), col("lang")).otherwise(col("l_lang"))
          .as("report_lang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tc = rep.groupBy(col("true_lang").as("lang"))
      .agg(count(lit(1)).as("true_n"))
    val nc = rep.groupBy(col("report_lang").as("n_lang"))
      .agg(count(lit(1)).as("noisy_n"))
    val tot = rep.agg(count(lit(1)).as("nd"))
    tc.join(nc, col("n_lang") === col("lang"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("true_n"),
        coalesce(col("noisy_n"), lit(0L)).as("noisy_n"),
        expr("(20 * coalesce(noisy_n, 0L) - nd) * 1000 div 15")
          .as("est_milli"),
        abs(expr("(20 * coalesce(noisy_n, 0L) - nd) * 1000 div 15")
          - col("true_n") * 1000L).as("abs_err_milli"))
      .orderBy(col("lang"))
  }

  /** Laplace-mechanism histogram (r18b) — the ε-DP release that
    * completes the privacy family (randomized response = local DP,
    * ε-composition = budgeting, THIS = central-DP aggregate
    * release), graded deterministically: per-lang counts get
    * inverse-CDF Laplace noise b = Δ/ε = 1 from an md5 uniform
    * (u = (h%10⁶ + 0.5)/10⁶ halves away from the CDF poles;
    * noise = −sgn(u−½)·ln(1−2|u−½|), ONE identical ln float tree,
    * floor micro). Since lang histogram cells are DISJOINT, parallel
    * composition gives ε_total = 1 for the whole release — stated
    * as a graded column. Per lang: true count, uniform draw, noise,
    * noisy count, abs error (all micro). One lang fold + row-local
    * noise. */
  val privacyLaplaceHistogram: QDef = q(
    "privacy_laplace_histogram",
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS true_n
      |  FROM documents GROUP BY lang),
      |u AS (
      |  SELECT lang, true_n,
      |    ('0x' || substr(md5('lap:' || lang), 1, 8))::BIGINT % 1000000
      |      AS u_micro
      |  FROM c),
      |nz AS (
      |  SELECT lang, true_n, u_micro,
      |    CAST(FLOOR((CASE WHEN u_micro + u_micro >= 1000000
      |        THEN -1.0 ELSE 1.0 END)
      |      * ln(1 - 2 * abs((u_micro + 0.5) / 1000000 - 0.5))
      |      * 1000000) AS BIGINT) AS noise_micro
      |  FROM u)
      |SELECT lang, true_n, u_micro, noise_micro,
      |  true_n * 1000000 + noise_micro AS noisy_micro,
      |  abs(noise_micro) AS abs_err_micro,
      |  CAST(1000000 AS BIGINT) AS eps_total_micro
      |FROM nz ORDER BY lang""") { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("true_n"))
    val u = c.withColumn("u_micro",
      conv(substring(md5(concat(lit("lap:"), col("lang"))), 1, 8), 16, 10)
        .cast(LongType) % 1000000)
    val nz = u.withColumn("noise_micro",
      expr("CAST(FLOOR((CASE WHEN u_micro + u_micro >= 1000000"
        + " THEN -1.0 ELSE 1.0 END)"
        + " * ln(1 - 2 * abs((u_micro + 0.5) / 1000000 - 0.5))"
        + " * 1000000) AS BIGINT)"))
    nz.select(col("lang"), col("true_n"), col("u_micro"),
        col("noise_micro"),
        (col("true_n") * 1000000L + col("noise_micro")).as("noisy_micro"),
        abs(col("noise_micro")).as("abs_err_micro"),
        lit(1000000L).as("eps_total_micro"))
      .orderBy(col("lang"))
  }

  /** All privacy graded queries, in registry order. */
  val all: Seq[QDef] = Seq(privacyKAnonymity, privacyLDiversity,
    privacyGeneralizationLadder, privacyContributionCapping,
    privacyTCloseness, privacyEpsilonComposition, privacyRandomizedResponse,
    privacyLaplaceHistogram)
}
