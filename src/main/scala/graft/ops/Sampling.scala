package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Reproducible sampling + data profiling — the pipeline utilities a
  * training-data build needs to be REPEATABLE: `df.sample()` depends
  * on partitioning and RNG stream, so both samplers here key off
  * md5(id) instead — the same rows are selected on any cluster, any
  * partition count, any engine (verified: DuckDB picks the identical
  * sample). */
object Sampling {

  /** ~10% deterministic sample: keep rows whose md5(doc_id) bucket is
    * 0 of 10. Scales embarrassingly (pure filter over the scan). */
  val sampleHashDocs: QDef = q(
    "sample_hash_docs",
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10 = 0
      |ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .filter(conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
        .cast(IntegerType) % 10 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Stratified sample: exactly k=20 docs per language, chosen by the
    * md5(doc_id) order — per-stratum quotas without a global shuffle
    * of the data (one window per stratum). */
  val sampleStratifiedDocs: QDef = q(
    "sample_stratified_docs",
    """SELECT lang, doc_id
      |FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 20
      |ORDER BY lang, doc_id""") { (s, d) =>
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** One-row column profile of `orders` — the data-quality report a
    * harmonization pipeline emits per ingest (nulls, cardinalities,
    * ranges, exact decimal totals). */
  val profileOrders: QDef = q(
    "profile_orders",
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(DISTINCT o_custkey) AS nd_cust,
      |  COUNT(DISTINCT o_orderstatus) AS nd_status,
      |  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority,
      |  CAST(min(o_orderdate) AS DATE) AS min_date,
      |  CAST(max(o_orderdate) AS DATE) AS max_date,
      |  CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_total,
      |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
      |FROM orders""") { (s, d) =>
    Tables.orders(s, d)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("nd_cust"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        sum(when(col("o_orderpriority").isNull, 1).otherwise(0)).cast(LongType)
          .as("n_null_priority"),
        min(col("o_orderdate")).cast(DateType).as("min_date"),
        max(col("o_orderdate")).cast(DateType).as("max_date"),
        outDouble(min(money(col("o_totalprice")))).as("min_total"),
        outDouble(max(money(col("o_totalprice")))).as("max_total"),
        outDouble(sum(money(col("o_totalprice")))).as("sum_total"))
  }

  /** Token-budget sampling: per source, admit documents in md5 order
    * until a 2 000-token budget fills — the "mix N tokens of domain X"
    * primitive a training-data mixture build runs per domain. One
    * running-sum window per source (shuffles once on source, per-group
    * work linear), integer token counts throughout. */
  val sampleTokenBudget: QDef = q(
    "sample_token_budget",
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, ntok,
      |    SUM(ntok) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN cum <= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(MAX(CASE WHEN cum <= 2000 THEN cum ELSE 0 END) AS BIGINT) AS tokens_kept,
      |  CAST(MAX(CASE WHEN cum <= 2000 THEN cum ELSE 0 END) AS DOUBLE) / 2000
      |    AS budget_util
      |FROM c GROUP BY source ORDER BY source""") { (s, d) =>
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ntok"))
    val cum = docs.select(col("source"), col("doc_id"), col("ntok"),
      sum(col("ntok")).over(w).as("cum"))
    cum.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("cum") <= 2000, 1).otherwise(0)).cast(LongType).as("n_kept"),
        max(when(col("cum") <= 2000, col("cum")).otherwise(0L)).as("tokens_kept"),
        (max(when(col("cum") <= 2000, col("cum")).otherwise(0L))
          .cast(DoubleType) / 2000).as("budget_util"))
      .orderBy(col("source"))
  }

  /** Referential-integrity reconciliation between the order book and
    * its line items — the one-row audit an ingest pipeline publishes
    * per load: row counts both sides, childless parents, dangling
    * children (both via anti-joins — at scale these are the same
    * shuffles the FK join itself needs, so the audit is free riding
    * on the join layout). */
  val reconcileOrdersItems: QDef = q(
    "reconcile_orders_items",
    """SELECT
      |  (SELECT COUNT(*) FROM orders) AS n_orders,
      |  (SELECT COUNT(*) FROM lineitem) AS n_items,
      |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |     (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_childless,
      |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_dangling""") {
    (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderkey"))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"))
    val nOrders = o.agg(count(lit(1)).as("n_orders"))
    val nItems = l.agg(count(lit(1)).as("n_items"))
    val childless = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_childless"))
    val dangling = l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_dangling"))
    nOrders.crossJoin(nItems).crossJoin(childless).crossJoin(dangling)
  }

  /** One-row corpus profile of `documents` (r11) — profile_orders'
    * twin for the text table: the per-ingest-batch health report a
    * corpus build monitors (volume, exact-duplicate mass, language /
    * source coverage, char inventory). Distinct-text counting goes
    * through md5 fingerprints in BOTH engines, so the shuffle carries
    * 16-byte digests, never document bodies — the form that survives
    * a 100 TB corpus (and the same digest the exact-dedup key keys
    * on). The derived ratios are exact integer micros (trunc division
    * of non-negative ints — identical in both engines). */
  val profileDocuments: QDef = q(
    "profile_documents",
    """SELECT COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
      |  (COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000 // COUNT(*) AS dup_frac_micro,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) * 1000000 // COUNT(*) AS BIGINT) AS avg_chars_micro,
      |  min(doc_id) AS min_doc,
      |  max(doc_id) AS max_doc
      |FROM documents""") { (s, d) =>
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .select(col("n_docs"), col("n_distinct_texts"),
        expr("(n_docs - n_distinct_texts) * 1000000 div n_docs").as("dup_frac_micro"),
        col("n_langs"), col("n_sources"), col("total_chars"),
        expr("total_chars * 1000000 div n_docs").as("avg_chars_micro"),
        col("min_doc"), col("max_doc"))
  }

  /** Class-balanced downsample (r11, third session) — rebalance a
    * skewed corpus to a 200-doc target with EQUAL per-language
    * quotas, the label-balancing step before fine-tune mixes. Unlike
    * `sample_stratified_docs` (fixed k per stratum), the quota here
    * is COMPUTED from the data (target div n_classes, via two tiny
    * count aggregates cross-joined — broadcast at any corpus size),
    * and membership keys off the md5(doc_id) order, so the selected
    * set is identical on any partitioning, cluster, or engine.
    * At 100 TB: the quota table is O(n_langs) rows (broadcast), the
    * window partitions by lang — one exchange over the corpus. */
  val sampleClassBalance: QDef = q(
    "sample_class_balance",
    """WITH quota AS (
      |  SELECT lang, 200 // (SELECT count(DISTINCT lang) FROM documents) AS q
      |  FROM documents GROUP BY lang),
      |ranked AS (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT r.lang, r.doc_id, r.n_chars
      |FROM ranked r JOIN quota ON r.lang = quota.lang
      |WHERE r.rn <= quota.q
      |ORDER BY r.lang, r.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    // class count derives from the per-class count table (O(n_langs)
    // rows), not a second corpus scan — the corpus is only read for
    // the groupBy and the window below
    val langCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val quota = langCounts
      .crossJoin(langCounts.agg(count(lit(1)).as("nc")))
      .select(col("lang"), expr("200 div nc").as("q"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    docs.select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rn"))
      .join(broadcast(quota), Seq("lang"))
      .filter(col("rn") <= col("q"))
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Declarative data-quality rule check (r11c) — the constraint
    * gate an ingest pipeline publishes per batch: one row per rule
    * with violation and checked counts. Eight rules cover the rule
    * taxonomy — null keys, domain membership, value ranges,
    * distribution caps, and referential integrity (spelled NOT IN in
    * the oracle, executed as Spark LEFT ANTI joins — key columns are
    * non-null so the semantics coincide). Predicate rules fold into
    * ONE aggregate scan per table (count FILTER partials); only the
    * two FK rules pay joins, with the PK side broadcast while it
    * fits. Two of the rules fire on this corpus so both outcomes of
    * the gate are graded, not just the all-green path. */
  val dqRuleCheck: QDef = q(
    "dq_rule_check",
    """WITH o AS (
      |  SELECT 'orders_null_key' AS rule_id,
      |    CAST(count(*) FILTER (WHERE o_orderkey IS NULL OR o_custkey IS NULL) AS BIGINT)
      |      AS n_violations,
      |    CAST(count(*) AS BIGINT) AS n_checked
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_nonpositive_total',
      |    CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
      |    CAST(count(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders_status_domain',
      |    CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) AS BIGINT),
      |    CAST(count(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders_total_gt_400k',
      |    CAST(count(*) FILTER (WHERE o_totalprice > 400000) AS BIGINT),
      |    CAST(count(*) AS BIGINT) FROM orders),
      |l AS (
      |  SELECT 'lineitem_discount_range' AS rule_id,
      |    CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
      |      AS n_violations,
      |    CAST(count(*) AS BIGINT) AS n_checked
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_discount_gt_8pct',
      |    CAST(count(*) FILTER (WHERE l_discount > 0.08) AS BIGINT),
      |    CAST(count(*) AS BIGINT) FROM lineitem),
      |fk1 AS (
      |  SELECT 'lineitem_orphan_order' AS rule_id,
      |    CAST(count(*) AS BIGINT) AS n_violations,
      |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_checked
      |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      |fk2 AS (
      |  SELECT 'orders_orphan_customer' AS rule_id,
      |    CAST(count(*) AS BIGINT) AS n_violations,
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_checked
      |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |SELECT * FROM o UNION ALL SELECT * FROM l
      |UNION ALL SELECT * FROM fk1 UNION ALL SELECT * FROM fk2
      |ORDER BY rule_id""") { (s, d) =>
    val orders = Tables.orders(s, d)
    val lineitem = Tables.lineitem(s, d)
    def cnt(cond: org.apache.spark.sql.Column) =
      count(when(cond, lit(1))).as("n_violations")
    // predicate rules: ONE aggregate scan per table, one count FILTER
    // partial per rule
    val oRules = orders.agg(
      cnt(col("o_orderkey").isNull || col("o_custkey").isNull),
      count(lit(1)).as("n_checked"),
      count(when(col("o_totalprice") <= 0, lit(1))).as("v2"),
      count(when(!col("o_orderstatus").isin("F", "O", "P"), lit(1))).as("v3"),
      count(when(col("o_totalprice") > 400000, lit(1))).as("v4"))
    val lRules = lineitem.agg(
      cnt(col("l_discount") < 0 || col("l_discount") > 1),
      count(lit(1)).as("n_checked"),
      count(when(col("l_discount") > 0.08, lit(1))).as("v2"))
    val oneO = oRules.select(
      explode(array(
        struct(lit("orders_null_key").as("rule_id"),
          col("n_violations"), col("n_checked")),
        struct(lit("orders_nonpositive_total").as("rule_id"),
          col("v2").as("n_violations"), col("n_checked")),
        struct(lit("orders_status_domain").as("rule_id"),
          col("v3").as("n_violations"), col("n_checked")),
        struct(lit("orders_total_gt_400k").as("rule_id"),
          col("v4").as("n_violations"), col("n_checked")))).as("r"))
      .select(col("r.rule_id"), col("r.n_violations"), col("r.n_checked"))
    val oneL = lRules.select(
      explode(array(
        struct(lit("lineitem_discount_range").as("rule_id"),
          col("n_violations"), col("n_checked")),
        struct(lit("lineitem_discount_gt_8pct").as("rule_id"),
          col("v2").as("n_violations"), col("n_checked")))).as("r"))
      .select(col("r.rule_id"), col("r.n_violations"), col("r.n_checked"))
    // FK rules: LEFT ANTI joins. Only the CUSTOMER PK side is forced
    // broadcast — it is the genuinely small dimension. The orders PK
    // side is fact-adjacent (grows with the corpus), so it carries no
    // hint (ADVICE r11): AQE broadcasts it while it fits and falls
    // back to a shuffled anti join beyond that, instead of a forced
    // broadcast OOMing at scale.
    val fk1 = lineitem.join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(lineitem.agg(count(lit(1)).as("n_checked")))
      .select(lit("lineitem_orphan_order").as("rule_id"),
        col("n_violations"), col("n_checked"))
    val fk2 = orders.join(
        broadcast(Tables.customer(s, d).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(orders.agg(count(lit(1)).as("n_checked")))
      .select(lit("orders_orphan_customer").as("rule_id"),
        col("n_violations"), col("n_checked"))
    oneO.union(oneL).union(fk1).union(fk2).orderBy(col("rule_id"))
  }

  /** Systematic (every-k-th) sampling (r12) — the third deterministic
    * sampling design next to hash-threshold (`sample_hash_docs`) and
    * stratified-quota (`sample_stratified_docs`): within each source,
    * order by md5(doc_id) (a deterministic pseudo-random permutation)
    * and keep every 20th row. Systematic designs have lower variance
    * than Bernoulli at the same rate when the order is uncorrelated
    * with the measure — which the md5 order guarantees by
    * construction. One window per source stratum; membership is a
    * pure rank predicate, identical on any partitioning or engine. */
  val sampleSystematic: QDef = q(
    "sample_systematic",
    """SELECT source, doc_id, rn
      |FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE (rn - 1) % 20 = 0
      |ORDER BY source, doc_id""") { (s, d) =>
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), row_number().over(w).as("rn"))
      .filter((col("rn") - 1) % 20 === 0)
      .orderBy(col("source"), col("doc_id"))
  }

  /** Weighted PPS sample (r12) — probability-proportional-to-size
    * selection of n=5 docs per source, weight = n_chars: the sampling
    * primitive behind "sample training docs proportional to token
    * count" (long docs must be over-picked or the token distribution
    * of the sample skews short). Systematic PPS over the deterministic
    * md5 order: a doc is selected iff the running-weight interval
    * (cum_before, cum] contains a selection point k·W/n, with
    * multiplicity = how many points it straddles (a doc heavier than
    * W/n is legitimately picked more than once). Everything is BIGINT
    * interval arithmetic — `(cum·n) div W` floors identically in both
    * engines, no float thresholds, so membership is partition- and
    * engine-independent. Scale: one per-source window cumsum (keys =
    * source cardinality), a pure filter after — no global pass, no
    * collect; the same code PPS-samples a 100 TB corpus stratum by
    * stratum. */
  val sampleWeightedPps: QDef = q(
    "sample_weighted_pps",
    """WITH d AS (
      |  SELECT source, doc_id, n_chars,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(n_chars) OVER (PARTITION BY source) AS w
      |  FROM d)
      |SELECT source, doc_id, n_chars,
      |  CAST((cum * 5) // w - ((cum - n_chars) * 5) // w AS BIGINT)
      |    AS multiplicity
      |FROM c
      |WHERE (cum * 5) // w > ((cum - n_chars) * 5) // w
      |ORDER BY source, doc_id""") { (s, d) =>
    val ord = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("source"))
    val c = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(ord))
      .withColumn("w", sum(col("n_chars")).over(tot))
    c.filter(expr("(cum * 5) div w > ((cum - n_chars) * 5) div w"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        expr("(cum * 5) div w - ((cum - n_chars) * 5) div w")
          .as("multiplicity"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Token-balanced shard assignment (r12) — the write-planning step
    * before materializing a training corpus: pack docs (in the
    * deterministic md5 order) into ~10 000-char shards per language,
    * and publish the shard manifest (doc count, char total, key
    * range) that the downstream loader reads. shard_id is pure
    * integer arithmetic on the running total BEFORE the doc
    * (`cum_before div target`), so assignment is reproducible on any
    * engine and any partitioning — the property that lets a 1000-
    * executor writer produce byte-identical shards to a laptop run.
    * Scale: one per-lang window cumsum + one hash agg; at 100 TB the
    * same manifest computes per language partition with no global
    * coordination, and the manifest itself (shards × stats) is tiny. */
  val shardTokenBalanced: QDef = q(
    "shard_token_balanced",
    """WITH c AS (
      |  SELECT lang, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before
      |  FROM documents)
      |SELECT lang, CAST(cum_before // 10000 AS BIGINT) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM c GROUP BY lang, shard_id
      |ORDER BY lang, shard_id""") { (s, d) =>
    val ord = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("cum_before", sum(col("n_chars")).over(ord) - col("n_chars"))
      .withColumn("shard_id", expr("cum_before div 10000L"))
      .groupBy(col("lang"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("shard_id"))
  }

  /** Join-key skew profile (r12c) — the report an operator reads
    * BEFORE launching a 100 TB fact-fact join: the top-10 heaviest
    * keys with their absolute counts, corpus share (ppm) and
    * multiple-of-average (ppm), i.e. exactly the keys a salting
    * scheme or AQE skew-split would target. Cost at any scale: one
    * key-cardinality hash agg (map-side partials), a one-row global
    * roll-up cross-broadcast back, and a top-10
    * TakeOrderedAndProject — the fact table itself shuffles only
    * key digests, never rows. Integer ppm arithmetic (both operands
    * non-negative, so DuckDB `//` floor ≡ Spark `div` truncation). */
  val profileKeySkew: QDef = q(
    "profile_key_skew",
    """WITH k AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM orders GROUP BY o_custkey),
      |t AS (
      |  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
      |    CAST(COUNT(*) AS BIGINT) AS nd_keys FROM k)
      |SELECT o_custkey, n_rows,
      |  CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
      |  CAST(n_rows * nd_keys * 1000000 // total AS BIGINT) AS vs_avg_ppm
      |FROM k, t
      |ORDER BY n_rows DESC, o_custkey LIMIT 10""") { (s, d) =>
    val k = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_rows"))
    val t = k.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("nd_keys"))
    k.crossJoin(broadcast(t))
      .select(col("o_custkey"), col("n_rows"),
        expr("n_rows * 1000000L div total").as("share_ppm"),
        expr("n_rows * nd_keys * 1000000L div total").as("vs_avg_ppm"))
      .orderBy(col("n_rows").desc, col("o_custkey")).limit(10)
  }

  /** Freshness / SLA audit per stream (r12c) — the staleness report
    * an ingest monitor publishes each run: per event type its last
    * event time, the lag behind the globally freshest event, and the
    * volume inside the trailing 24 h window. The global max is a
    * one-row broadcast folded into the fact scan BEFORE the per-type
    * agg, so the whole audit is one pass + a one-row pre-agg — at
    * 100 TB the second "scan" for the max reads only the ts column
    * (and on sorted/partitioned layouts, only footer stats). Lag in
    * whole seconds via second-boundary diffs (identical to
    * floor-epoch subtraction in both engines); last_ts
    * second-truncated per the D4 timestamp rule. */
  val dqFreshnessSla: QDef = q(
    "dq_freshness_sla",
    """WITH mx AS (SELECT max(ts) AS gm FROM events),
      |e AS (SELECT event_type, ts, gm FROM events, mx)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(date_trunc('second', max(ts)) AS TIMESTAMP) AS last_ts,
      |  CAST(date_diff('second', max(ts), gm) AS BIGINT) AS lag_seconds,
      |  CAST(SUM(CASE WHEN ts >= gm - INTERVAL 24 HOUR
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h
      |FROM e GROUP BY event_type, gm ORDER BY event_type""") { (s, d) =>
    val mx = Tables.events(s, d).agg(max(col("ts")).as("gm"))
    Tables.events(s, d).select(col("event_type"), col("ts"))
      .crossJoin(broadcast(mx))
      // gm is single-valued; grouping on it too (like the oracle)
      // avoids an order-dependent first() in the aggregate list
      .groupBy(col("event_type"), col("gm"))
      .agg(count(lit(1)).as("n_rows"),
        date_trunc("second", max(col("ts"))).cast(TimestampType)
          .as("last_ts"),
        (unix_timestamp(max(col("gm"))) - unix_timestamp(max(col("ts"))))
          .as("lag_seconds"),
        sum(when(col("ts") >= col("gm") - expr("INTERVAL 24 HOURS"), 1)
          .otherwise(0)).cast(LongType).as("n_last_24h"))
      .select(col("event_type"), col("n_rows"), col("last_ts"),
        col("lag_seconds"), col("n_last_24h"))
      .orderBy(col("event_type"))
  }

  /** Deterministic Poisson(1) bootstrap (r12c) — three bootstrap
    * replicates of the corpus for metric confidence intervals, the
    * resampling a data-quality dashboard runs WITHOUT an RNG stream:
    * each (doc, replicate) draws its multiplicity from md5(doc:rep)
    * through the inverse Poisson(1) CDF quantized to 16 bits
    * (thresholds 24109/48218/60275/64291 = cumulative e⁻¹ series
    * ×65536) — identical draws on any engine, any partition count,
    * any cluster. The replicate axis explodes ROW-LOCALLY (×3, no
    * pre-shuffle), and only per-replicate aggregates ship — the
    * bootstrap never materializes a resampled corpus, which is what
    * makes it runnable at 100 TB. */
  val samplePoissonBootstrap: QDef = q(
    "sample_poisson_bootstrap",
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |x AS (SELECT doc_id, ntok, unnest([0, 1, 2]) AS rep FROM d),
      |u AS (
      |  SELECT rep, ntok,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
      |      || CAST(rep AS VARCHAR)), 1, 4))::INT AS h
      |  FROM x),
      |k AS (
      |  SELECT rep, ntok,
      |    CASE WHEN h < 24109 THEN 0 WHEN h < 48218 THEN 1
      |         WHEN h < 60275 THEN 2 WHEN h < 64291 THEN 3
      |         ELSE 4 END AS m
      |  FROM u)
      |SELECT CAST(rep AS BIGINT) AS replicate,
      |  CAST(SUM(CASE WHEN m >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |  CAST(SUM(m) AS BIGINT) AS total_mult,
      |  CAST(SUM(m * ntok) AS BIGINT) AS token_mass
      |FROM k GROUP BY rep ORDER BY replicate""") { (s, d) =>
    val x = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ntok"))
      .select(col("doc_id"), col("ntok"),
        explode(array(lit(0), lit(1), lit(2))).as("rep"))
    val h = conv(substring(md5(concat(col("doc_id").cast(StringType),
      lit(":"), col("rep").cast(StringType))), 1, 4), 16, 10)
      .cast(IntegerType)
    val k = x.select(col("rep"), col("ntok"),
      when(h < 24109, 0).when(h < 48218, 1).when(h < 60275, 2)
        .when(h < 64291, 3).otherwise(4).as("m"))
    k.groupBy(col("rep").cast(LongType).as("replicate"))
      .agg(sum(when(col("m") >= 1, 1).otherwise(0)).cast(LongType)
        .as("n_docs"),
        sum(col("m")).cast(LongType).as("total_mult"),
        sum(col("m") * col("ntok")).cast(LongType).as("token_mass"))
      .orderBy(col("replicate"))
  }

  /** Leak-free train/valid/test split BY USER (r12c) — the
    * entity-level split an events model needs: splitting event ROWS
    * (split_train_holdout's doc-level shape) would leak a user's
    * behavior across sets, so the md5 membership decision hashes the
    * USER key (test = bucket 0, valid = bucket 1, train = the rest)
    * and every event follows its user. Disjointness is structural —
    * a user hashes to exactly one bucket on any engine and any
    * partitioning (the spec pins empty pairwise user intersections).
    * One row-local projection + one split-keyed agg. */
  val splitByUserLeakfree: QDef = q(
    "split_by_user_leakfree",
    """WITH e AS (
      |  SELECT CASE ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::INT
      |           % 10
      |    WHEN 0 THEN 'test' WHEN 1 THEN 'valid' ELSE 'train' END AS split,
      |    user_id, event_type,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |SELECT split,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM e GROUP BY split
      |ORDER BY split""") { (s, d) =>
    Tables.events(s, d)
      .select(
        when(conv(substring(md5(col("user_id").cast(StringType)), 1, 4), 16, 10)
            .cast(IntegerType) % 10 === 0, "test")
          .when(conv(substring(md5(col("user_id").cast(StringType)), 1, 4), 16, 10)
            .cast(IntegerType) % 10 === 1, "valid")
          .otherwise("train").as("split"),
        col("user_id"), col("event_type"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(col("cents")).cast(LongType).as("total_cents"))
      .orderBy(col("split"))
  }

  /** Cross-table date-consistency audit (r12c) — the referential DQ
    * rule `dq_rule_check`'s single-table FILTERs can't see: a line
    * must not ship before its order is placed. The fixture genuinely
    * violates this (~49% of lines — synthetic dates are independent),
    * so the audit measures a real defect rate per order year rather
    * than vacuously passing. One fact⋈fact equi join on the order
    * key (the q3 shuffle shape) + a year-level agg; day deltas are
    * exact integer datediffs. */
  val dqOrderLineitemDates: QDef = q(
    "dq_order_lineitem_dates",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_violations,
      |  CAST(MIN(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
      |    AS worst_days_early,
      |  CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS violation_ppm
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("n_violations"),
        min(datediff(col("l_shipdate"), col("o_orderdate"))).cast(LongType)
          .as("worst_days_early"))
      .select(col("yr"), col("n_lines"), col("n_violations"),
        col("worst_days_early"),
        expr("CAST(n_violations * 1000000 div n_lines AS BIGINT)")
          .as("violation_ppm"))
      .orderBy(col("yr"))
  }

  /** Benford expected first-digit shares, floor-half-up ppm of
    * log10(1+1/d) — hardcoded as integer literals in BOTH engines'
    * query text so no libm log appears anywhere (they sum to exactly
    * 1,000,000). Benford 1938 / Newcomb 1881. */
  private val benfordPpm = Seq(1 -> 301030, 2 -> 176091, 3 -> 124939,
    4 -> 96910, 5 -> 79181, 6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)

  /** Benford first-digit audit (r12e) — the fraud/fabrication screen
    * auditors run on financial columns: the first significant digit of
    * naturally-occurring amounts should follow log10(1+1/d), and a
    * synthesized or truncated column shows up as a flat or spiked
    * digit histogram. Graded against o_totalprice: per digit 1-9, the
    * observed order count, its round-half-up ppm share, the Benford
    * expectation, and the signed delta — a fixture like this one
    * (uniform-ish totals) FAILS the screen loudly, which is the point:
    * the audit measures deviation, it doesn't assume conformance. All
    * 9 digits are scaffolded via a literal grid LEFT JOIN (empty-
    * cohort discipline). Scale: the digit is a row-local string head
    * of the integer cents; one 9-group agg with map-side partials —
    * nothing scales with the table. */
  val dqBenfordDigits: QDef = q(
    "dq_benford_digits",
    s"""WITH obs AS (
      |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM orders GROUP BY 1),
      |grid AS (SELECT * FROM (VALUES
      |    ${benfordPpm.map { case (dg, p) => s"($dg, $p)" }.mkString(", ")})
      |  g(digit, exp_ppm)),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM obs),
      |j AS (
      |  SELECT g.digit, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders,
      |    CAST(floor(CAST(COALESCE(o.n, 0) AS DOUBLE) * 1000000
      |      / CAST(nt AS DOUBLE) + 0.5) AS BIGINT) AS obs_ppm,
      |    CAST(g.exp_ppm AS BIGINT) AS exp_ppm
      |  FROM grid g LEFT JOIN obs o ON o.digit = g.digit CROSS JOIN tot)
      |SELECT digit, n_orders, obs_ppm, exp_ppm,
      |  obs_ppm - exp_ppm AS delta_ppm
      |FROM j ORDER BY digit""") { (s, d) =>
    // persisted: the ≤9-row digit histogram feeds both the join and
    // the total — without it the fact table would be scanned twice
    val obs = Tables.orders(s, d)
      .select(substring((money(col("o_totalprice")) * 100).cast(LongType)
        .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = obs.agg(sum(col("n")).as("nt"))
    val grid = s.range(1).select(explode(expr(
      "array(" + benfordPpm.map { case (dg, p) =>
        s"named_struct('digit', $dg, 'exp_ppm', CAST($p AS BIGINT))"
      }.mkString(", ") + ")")).as("g"))
      .select(col("g.digit"), col("g.exp_ppm"))
    grid.join(broadcast(obs.withColumnRenamed("digit", "odigit")),
        col("odigit") === col("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n_orders"),
        floor(coalesce(col("n"), lit(0L)).cast(DoubleType) * 1000000
          / col("nt").cast(DoubleType) + 0.5).cast(LongType).as("obs_ppm"),
        col("exp_ppm"))
      .withColumn("delta_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  /** Line-number sequence-contiguity audit (r12g) — the DQ check a
    * CDC or re-ingest pipeline runs on a positional child key: within
    * each order, l_linenumber must be exactly 1..n (no duplicates, no
    * gaps, 1-based start) or a partial write/replay happened. Graded
    * as a per-fanout breakdown (one row per lines-per-order count):
    * orders total, fully contiguous, with duplicate positions
    * (distinct < count), with gaps (range wider than distinct), and
    * with a shifted start (min ≠ 1) — four independent violation
    * axes, so the report localizes WHICH failure mode entered. This
    * fixture's line numbers are deliberately dirty (duplicates, gaps
    * and shifted starts all occur), so the audit grades non-trivial
    * counts on every axis. Scale posture: one per-order agg on the natural
    * join key (count-distinct over a ≤7-value positional domain —
    * bounded partials), then a ≤7-group rollup; shuffles carry
    * per-order stat rows only. */
  val dqSequenceContiguity: QDef = q(
    "dq_sequence_contiguity",
    """WITH o AS (
      |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(MIN(l_linenumber) AS BIGINT) AS mn,
      |    CAST(MAX(l_linenumber) AS BIGINT) AS mx,
      |    CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS dn
      |  FROM lineitem GROUP BY 1)
      |SELECT n AS n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN mn = 1 AND mx = n AND dn = n THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_contiguous,
      |  CAST(SUM(CASE WHEN dn < n THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_duplicates,
      |  CAST(SUM(CASE WHEN mx - mn + 1 > dn THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_gaps,
      |  CAST(SUM(CASE WHEN mn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bad_start
      |FROM o GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val o = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        min(col("l_linenumber")).cast(LongType).as("mn"),
        max(col("l_linenumber")).cast(LongType).as("mx"),
        countDistinct(col("l_linenumber")).as("dn"))
    o.groupBy(col("n").as("n_lines"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("mn") === 1 && col("mx") === col("n")
          && col("dn") === col("n"), 1L).otherwise(0L)).as("n_contiguous"),
        sum(when(col("dn") < col("n"), 1L).otherwise(0L))
          .as("n_with_duplicates"),
        sum(when(col("mx") - col("mn") + 1 > col("dn"), 1L).otherwise(0L))
          .as("n_with_gaps"),
        sum(when(col("mn") =!= 1, 1L).otherwise(0L)).as("n_bad_start"))
      .orderBy(col("n_lines"))
  }

  /** Neyman optimal stratified allocation (r12i) — how many samples
    * each customer segment gets from a fixed budget of 1000 when the
    * allocation is proportional to N_h·S_h (stratum size × stratum
    * spread, Neyman 1934) instead of size alone: the high-variance
    * stratum earns more budget per row. Totals quantize to
    * KILODOLLARS (r13 range-safe rescale: in cents the variance
    * determinant n·sxx − sx² reached ~1.9e23 at sf0.1 — far beyond
    * 2^53, where DuckDB 1.0.0's int128→DOUBLE cast can misround;
    * in kilodollars it stays ~6.6e13, inside the exact-conversion
    * range the DecimalCastBoundsSpec gate enforces). Determinism
    * ladder: the population variance fold is exact (DECIMAL(38,0)
    * moments, the agg_corr_explicit pattern); S_h takes ONE
    * IEEE-exact sqrt and is immediately HALF-UP quantized to integer
    * milli-kilodollars (identical spelling both engines); every step after is pure BIGINT — the
    * final seats come from LARGEST-REMAINDER apportionment (floor
    * share + the (budget − Σfloor) biggest remainders, ties by
    * segment name), with remainder ranks from a strictly-greater
    * broadcast self-join over the 5-row stratum table — never an
    * unpartitioned window. Scale posture: one fact agg keyed by the
    * broadcast-joined segment; everything downstream is 5 rows. */
  val sampleNeymanAllocation: QDef = q(
    "sample_neyman_allocation",
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000 AS x
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |st AS (
      |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_h,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
      |  FROM o GROUP BY 1),
      |w AS (
      |  SELECT seg, n_h,
      |    CAST(floor(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE))
      |      / CAST(n_h AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS s_milli
      |  FROM st),
      |ww AS (SELECT seg, n_h, s_milli, n_h * s_milli AS wt FROM w),
      |tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS wtot,
      |  CAST(SUM((1000 * wt) // (SELECT SUM(wt) FROM ww)) AS BIGINT)
      |    AS base_sum
      |  FROM ww),
      |b AS (
      |  SELECT seg, n_h, s_milli, wt,
      |    CAST((1000 * wt) // wtot AS BIGINT) AS base,
      |    CAST((1000 * wt) % wtot AS BIGINT) AS rem,
      |    CAST(1000 - base_sum AS BIGINT) AS extra
      |  FROM ww CROSS JOIN tot),
      |r AS (
      |  SELECT a.seg, CAST(COUNT(*) AS BIGINT) AS rnk
      |  FROM b a JOIN b c ON c.rem > a.rem
      |    OR (c.rem = a.rem AND c.seg <= a.seg)
      |  GROUP BY 1)
      |SELECT b.seg AS segment, b.n_h AS n_stratum, b.s_milli, b.wt AS weight,
      |  CAST(b.base + CASE WHEN r.rnk <= b.extra THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_alloc
      |FROM b JOIN r ON r.seg = b.seg
      |ORDER BY segment""") { (s, d) =>
    val o = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 100000")
          .as("x"))
    val decX = col("x").cast(DecimalType(38, 0))
    val st = o.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_h"), sum(decX).as("sx"),
        sum(decX * col("x")).as("sxx"))
    val w = st.select(col("seg"), col("n_h"),
      floor(sqrt(expr("CAST(n_h * sxx - sx * sx AS DOUBLE)"))
        / col("n_h").cast(DoubleType) * 1000 + 0.5).cast(LongType)
        .as("s_milli"))
    val ww = w.withColumn("wt", col("n_h") * col("s_milli"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wtot = ww.agg(sum(col("wt")).as("wtot"))
    val withTot = ww.crossJoin(broadcast(wtot))
      .select(col("seg"), col("n_h"), col("s_milli"), col("wt"),
        expr("CAST((1000 * wt) div wtot AS BIGINT)").as("base"),
        expr("CAST((1000 * wt) % wtot AS BIGINT)").as("rem"))
    val baseSum = withTot.agg(sum(col("base")).as("base_sum"))
    val b = withTot.crossJoin(broadcast(baseSum))
      .withColumn("extra", lit(1000L) - col("base_sum"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = b.select(col("seg"), col("rem")).as("a")
      .join(broadcast(b.select(col("seg").as("cseg"), col("rem").as("crem"))),
        col("crem") > col("rem")
          || (col("crem") === col("rem") && col("cseg") <= col("a.seg")))
      .groupBy(col("a.seg").as("rseg"))
      .agg(count(lit(1)).as("rnk"))
    b.join(broadcast(r), col("rseg") === col("seg"))
      .select(col("seg").as("segment"), col("n_h").as("n_stratum"),
        col("s_milli"), col("wt").as("weight"),
        (col("base") + when(col("rnk") <= col("extra"), 1L).otherwise(0L))
          .as("n_alloc"))
      .orderBy(col("segment"))
  }

  /** Deterministic k-fold assignment (r12o) — the cross-validation
    * primitive `split_train_holdout` (one fixed 80/10/10 cut) does
    * not give: every document lands in exactly one of 5 folds by the
    * same md5-prefix hash the split family uses (membership is a
    * pure function of doc_id — partitioning- and engine-independent),
    * and the graded output is the per-(fold, lang) census with each
    * fold's total and the language's floor-ppm share WITHIN its fold
    * — the balance table a stratification audit reads before trusting
    * CV variance. Scale posture: one (fold, lang) agg with map-side
    * partials, the 5-row fold-total table broadcast back. */
  val sampleKfoldAssign: QDef = q(
    "sample_kfold_assign",
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 5
      |      AS fold
      |  FROM documents),
      |g AS (
      |  SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM b GROUP BY 1, 2),
      |t AS (SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fold_total
      |  FROM g GROUP BY 1)
      |SELECT g.fold, g.lang, g.n_docs, t.fold_total,
      |  CAST(g.n_docs * 1000000 // t.fold_total AS BIGINT) AS share_ppm
      |FROM g JOIN t ON t.fold = g.fold
      |ORDER BY g.fold, g.lang""") { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("lang"),
        (conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
          .cast(IntegerType) % 5).as("fold"))
      .groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = g.groupBy(col("fold").as("tf"))
      .agg(sum(col("n_docs")).as("fold_total"))
    g.join(broadcast(t), col("tf") === col("fold"))
      .select(col("fold"), col("lang"), col("n_docs"), col("fold_total"),
        expr("CAST(n_docs * 1000000 div fold_total AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("fold"), col("lang"))
  }

  /** Primary-key uniqueness audit across the whole catalog (r12t) —
    * the first constraint a warehouse checks per load: one row per
    * table with its declared key, row count, distinct-key count and
    * duplicate-key row surplus. Keys are the natural ones; lineitem's
    * is the COMPOSITE (orderkey, linenumber) — and this fixture's
    * line numbers are deliberately dirty (see dq_sequence_contiguity),
    * so the audit reports a real violation there while the seven
    * other tables come back clean: the check measures, it doesn't
    * assume. Scale posture: one count-distinct agg per table (each a
    * single exchange of key partials), 8-row union output. */
  val dqPkUniqueness: QDef = q(
    "dq_pk_uniqueness",
    """SELECT 'customer' AS table_name, 'c_custkey' AS pk,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS n_dupe_rows
      |FROM customer
      |UNION ALL SELECT 'documents', 'doc_id', COUNT(*),
      |  COUNT(DISTINCT doc_id), COUNT(*) - COUNT(DISTINCT doc_id)
      |FROM documents
      |UNION ALL SELECT 'embeddings', 'vec_id', COUNT(*),
      |  COUNT(DISTINCT vec_id), COUNT(*) - COUNT(DISTINCT vec_id)
      |FROM embeddings
      |UNION ALL SELECT 'events', 'event_id', COUNT(*),
      |  COUNT(DISTINCT event_id), COUNT(*) - COUNT(DISTINCT event_id)
      |FROM events
      |UNION ALL SELECT 'lineitem', 'l_orderkey+l_linenumber', COUNT(*),
      |  COUNT(DISTINCT (l_orderkey, l_linenumber)),
      |  COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
      |FROM lineitem
      |UNION ALL SELECT 'orders', 'o_orderkey', COUNT(*),
      |  COUNT(DISTINCT o_orderkey), COUNT(*) - COUNT(DISTINCT o_orderkey)
      |FROM orders
      |UNION ALL SELECT 'part', 'p_partkey', COUNT(*),
      |  COUNT(DISTINCT p_partkey), COUNT(*) - COUNT(DISTINCT p_partkey)
      |FROM part
      |UNION ALL SELECT 'supplier', 's_suppkey', COUNT(*),
      |  COUNT(DISTINCT s_suppkey), COUNT(*) - COUNT(DISTINCT s_suppkey)
      |FROM supplier
      |ORDER BY table_name""") { (s, d) =>
    def audit(name: String, pk: String, df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]) =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col(keys.head), keys.tail.map(col): _*)
            .as("n_distinct"))
        .select(lit(name).as("table_name"), lit(pk).as("pk"),
          col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dupe_rows"))
    Seq(
      audit("customer", "c_custkey", Tables.customer(s, d), Seq("c_custkey")),
      audit("documents", "doc_id", Tables.documents(s, d), Seq("doc_id")),
      audit("embeddings", "vec_id", Tables.embeddings(s, d), Seq("vec_id")),
      audit("events", "event_id", Tables.events(s, d), Seq("event_id")),
      audit("lineitem", "l_orderkey+l_linenumber", Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber")),
      audit("orders", "o_orderkey", Tables.orders(s, d), Seq("o_orderkey")),
      audit("part", "p_partkey", Tables.part(s, d), Seq("p_partkey")),
      audit("supplier", "s_suppkey", Tables.supplier(s, d), Seq("s_suppkey")))
      .reduce(_ unionAll _)
      .orderBy(col("table_name"))
  }

  /** Referential-integrity orphan census (r13) — the FK audit a lake
    * runs before trusting any join: for each declared child→parent
    * relationship, how many child rows reference a missing parent.
    * One LEFT join + conditional count per relationship (parent keys
    * are unique, so the join never multiplies; NULL FKs are counted
    * in n_child but are not orphans — the SQL NOT EXISTS semantics).
    * The deliberately-included events.user_id→customer row documents
    * the fixture's real cross-domain gap instead of hiding it. Scale:
    * the three lineitem relationships share ONE scan of the biggest
    * fact (three broadcast key-set probes in a single pass — at
    * 100 TB that is a 3× I/O cut over naive per-check scans, and each
    * probe degrades independently to SMJ if its key set outgrows
    * broadcast range); the remaining checks are one fact-side scan
    * each. */
  val dqReferentialOrphans: QDef = q(
    "dq_referential_orphans",
    """WITH rel AS (
      |  SELECT 'customer.c_nationkey->nation' AS relationship,
      |    (SELECT CAST(COUNT(c_nationkey) AS BIGINT) FROM customer) AS n_child,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
      |      WHERE c_nationkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
      |      AS n_orphans
      |  UNION ALL
      |  SELECT 'events.user_id->customer',
      |    (SELECT CAST(COUNT(user_id) AS BIGINT) FROM events),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
      |      WHERE user_id IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey->orders',
      |    (SELECT CAST(COUNT(l_orderkey) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |      WHERE l_orderkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part',
      |    (SELECT CAST(COUNT(l_partkey) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |      WHERE l_partkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey->supplier',
      |    (SELECT CAST(COUNT(l_suppkey) AS BIGINT) FROM lineitem),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |      WHERE l_suppkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      |  UNION ALL
      |  SELECT 'nation.n_regionkey->region',
      |    (SELECT CAST(COUNT(n_regionkey) AS BIGINT) FROM nation),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM nation n
      |      WHERE n_regionkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer',
      |    (SELECT CAST(COUNT(o_custkey) AS BIGINT) FROM orders),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |      WHERE o_custkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'supplier.s_nationkey->nation',
      |    (SELECT CAST(COUNT(s_nationkey) AS BIGINT) FROM supplier),
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier s
      |      WHERE s_nationkey IS NOT NULL
      |        AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)))
      |SELECT relationship, n_child, n_orphans,
      |  (n_orphans * 1000000) // n_child AS orphan_ppm
      |FROM rel ORDER BY relationship""") { (s, d) =>
    def check(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame =
      child.select(col(ck))
        .join(parent.select(col(pk).as("__pk")).distinct(),
          col(ck) === col("__pk"), "left")
        .agg(count(col(ck)).as("n_child"),
          count_if(col(ck).isNotNull && col("__pk").isNull).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"))
    // The three lineitem FKs probe in ONE scan: each parent key set
    // joins as an independently-broadcast single-column distinct
    // (orders keys ≈ 8 bytes × |orders| — MBs at fixture scale), and
    // the three orphan counts come out of one agg, unpivoted to the
    // same three rows the per-check spelling would produce.
    val liProbe = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey").as("__ok")).distinct(),
        col("l_orderkey") === col("__ok"), "left")
      .join(broadcast(Tables.part(s, d).select(col("p_partkey").as("__pk")).distinct()),
        col("l_partkey") === col("__pk"), "left")
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey").as("__sk")).distinct()),
        col("l_suppkey") === col("__sk"), "left")
      .agg(
        count(col("l_orderkey")).as("n_ok"),
        count_if(col("l_orderkey").isNotNull && col("__ok").isNull).as("o_ok"),
        count(col("l_partkey")).as("n_pk"),
        count_if(col("l_partkey").isNotNull && col("__pk").isNull).as("o_pk"),
        count(col("l_suppkey")).as("n_sk"),
        count_if(col("l_suppkey").isNotNull && col("__sk").isNull).as("o_sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def liRow(name: String, n: String, o: String): DataFrame =
      liProbe.select(lit(name).as("relationship"),
        col(n).as("n_child"), col(o).as("n_orphans"))
    val checks = Seq(
      check("customer.c_nationkey->nation",
        Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"),
      check("events.user_id->customer",
        Tables.events(s, d), "user_id", Tables.customer(s, d), "c_custkey"),
      liRow("lineitem.l_orderkey->orders", "n_ok", "o_ok"),
      liRow("lineitem.l_partkey->part", "n_pk", "o_pk"),
      liRow("lineitem.l_suppkey->supplier", "n_sk", "o_sk"),
      check("nation.n_regionkey->region",
        Tables.nation(s, d), "n_regionkey", Tables.region(s, d), "r_regionkey"),
      check("orders.o_custkey->customer",
        Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
      check("supplier.s_nationkey->nation",
        Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d), "n_nationkey"))
    checks.reduce(_.unionAll(_))
      .select(col("relationship"), col("n_child"), col("n_orphans"),
        expr("(n_orphans * 1000000) div n_child").as("orphan_ppm"))
      .orderBy(col("relationship"))
  }

  /** Ingestion split-drift profile (r14b) — the per-column stats
    * contract check a pipeline runs on every increment BEFORE
    * merging it (the profiling companion to
    * `dedup_incremental_snapshot` / `agg_incremental_merge`): the
    * same md5-parity prior/delta split of orders, profiled per
    * numeric column (key, cents, epoch-day) × split — counts, nulls,
    * sum, min/max and floor-milli mean, all exact integer units. One
    * scan: columns unpivot row-locally through a 3-way stack, the
    * shuffle carries 6 combined cells. At 100 TB this is the
    * every-increment data-contract gate: column stats per split from
    * one pass, compared before any expensive merge runs. */
  val profileSplitDrift: QDef = q(
    "profile_split_drift",
    """WITH base AS (
      |  SELECT o_custkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS eday,
      |    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7'
      |      THEN 'prior' ELSE 'delta' END AS split
      |  FROM orders),
      |u AS (
      |  SELECT 'o_custkey' AS col_name, split, k AS v FROM base
      |  UNION ALL SELECT 'order_epoch_day', split, CAST(eday AS BIGINT) FROM base
      |  UNION ALL SELECT 'price_cents', split, cents FROM base)
      |SELECT col_name, split,
      |  CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
      |  CAST(SUM(v) AS BIGINT) AS sum_v, MIN(v) AS min_v, MAX(v) AS max_v,
      |  CAST(SUM(v) AS BIGINT) * 1000 // COUNT(v) AS mean_milli
      |FROM u GROUP BY col_name, split
      |ORDER BY col_name, split""") { (s, d) =>
    val base = Tables.orders(s, d)
      .select(col("o_custkey").as("k"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"),
        datediff(col("o_orderdate").cast(DateType),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType).as("eday"),
        when(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) <= "7",
          "prior").otherwise("delta").as("split"))
    base.select(col("split"), expr(
        """stack(3, 'o_custkey', k, 'order_epoch_day', eday,
          |  'price_cents', cents)""".stripMargin).as(Seq("col_name", "v")))
      .groupBy(col("col_name"), col("split"))
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .select(col("col_name"), col("split"), col("n"), col("n_null"),
        col("sum_v"), col("min_v"), col("max_v"),
        expr("sum_v * 1000 div (n - n_null)").as("mean_milli"))
      .orderBy(col("col_name"), col("split"))
  }

  /** Balanced range-shard planning (r14c) — the boundary table a
    * sorted-layout writer computes BEFORE a `repartitionByRange` /
    * OPTIMIZE-style rewrite: 16 shards over orders by (cents,
    * o_orderkey) total order, each shard's row count and key range.
    * shard = ⌊(rank−1)·16/n⌋ (the `report_lorenz_deciles` integer
    * apportionment); ranks come from the shared bucketed two-pass
    * exclusive-prefix primitive — NEVER an unpartitioned window, so
    * the plan holds at 100 TB where this exact pass replaces the
    * range partitioner's row-sampling (which is non-deterministic and
    * approximate) with exact boundaries. max_cents per shard IS the
    * split key a writer feeds to the next rewrite. */
  val shardRangeBoundaries: QDef = q(
    "shard_range_boundaries",
    """WITH u AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
      |rk AS (
      |  SELECT cents,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rank
      |  FROM u),
      |sh AS (
      |  SELECT ((rank - 1) * 16) // n AS shard_no, cents
      |  FROM rk CROSS JOIN n)
      |SELECT CAST(shard_no AS BIGINT) AS shard_no,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
      |FROM sh GROUP BY shard_no
      |ORDER BY shard_no""") { (s, d) =>
    val u = Tables.orders(s, d)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = u.agg(count(lit(1)).as("n"))
    val xc = u.groupBy(col("cents").as("v")).agg(count(lit(1)).as("cnt"))
    val pre = DriftOps.exclusivePrefix(xc, expr("v div 10000000"))
      .select(col("v"), col("pre"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cents")).orderBy(col("o_orderkey"))
    val rk = u.join(pre, col("v") === col("cents"))
      .select(col("cents"),
        (col("pre") + row_number().over(wTie)).as("rank"))
    rk.crossJoin(broadcast(n))
      .select(expr("CAST(((rank - 1) * 16) div n AS BIGINT)").as("shard_no"),
        col("cents"))
      .groupBy(col("shard_no"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy(col("shard_no"))
  }

  /** Functional-dependency audit (r14c) — the key-inference /
    * data-contract check profilers run before trusting a column as a
    * lookup key: for each declared candidate FD lhs→rhs, how many
    * distinct lhs values exist, how many carry MORE than one distinct
    * rhs (violations), and the worst fan-out. Five candidates span
    * the fixture's true keys (customer/nation PKs) and true
    * violations (a customer orders at many priorities, an order ships
    * from many suppliers). Each audit is ONE (lhs → distinct-rhs)
    * agg over its table — group-sized shuffles; at 100 TB the two
    * lineitem audits run as separate scans on purpose (their group
    * keys differ, so a shared scan would double-shuffle the wider
    * rows for no I/O win under columnar pruning). */
  val dqFunctionalDependency: QDef = q(
    "dq_functional_dependency",
    """WITH a1 AS (
      |  SELECT c_custkey AS lhs, COUNT(DISTINCT c_nationkey) AS ndv
      |  FROM customer GROUP BY 1),
      |a2 AS (
      |  SELECT n_nationkey AS lhs, COUNT(DISTINCT n_regionkey) AS ndv
      |  FROM nation GROUP BY 1),
      |a3 AS (
      |  SELECT o_custkey AS lhs, COUNT(DISTINCT o_orderpriority) AS ndv
      |  FROM orders GROUP BY 1),
      |a4 AS (
      |  SELECT l_orderkey AS lhs, COUNT(DISTINCT l_suppkey) AS ndv
      |  FROM lineitem GROUP BY 1),
      |a5 AS (
      |  SELECT l_partkey AS lhs, COUNT(DISTINCT l_suppkey) AS ndv
      |  FROM lineitem GROUP BY 1),
      |u AS (
      |  SELECT 'customer.c_custkey->c_nationkey' AS fd, ndv FROM a1
      |  UNION ALL SELECT 'nation.n_nationkey->n_regionkey', ndv FROM a2
      |  UNION ALL SELECT 'orders.o_custkey->o_orderpriority', ndv FROM a3
      |  UNION ALL SELECT 'lineitem.l_orderkey->l_suppkey', ndv FROM a4
      |  UNION ALL SELECT 'lineitem.l_partkey->l_suppkey', ndv FROM a5)
      |SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_lhs,
      |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating_lhs,
      |  CAST(MAX(ndv) AS BIGINT) AS max_rhs_per_lhs
      |FROM u GROUP BY fd ORDER BY fd""") { (s, d) =>
    def audit(df: DataFrame, fd: String, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("ndv"))
        .select(lit(fd).as("fd"), col("ndv"))
    audit(Tables.customer(s, d), "customer.c_custkey->c_nationkey",
        "c_custkey", "c_nationkey")
      .unionAll(audit(Tables.nation(s, d), "nation.n_nationkey->n_regionkey",
        "n_nationkey", "n_regionkey"))
      .unionAll(audit(Tables.orders(s, d), "orders.o_custkey->o_orderpriority",
        "o_custkey", "o_orderpriority"))
      .unionAll(audit(Tables.lineitem(s, d), "lineitem.l_orderkey->l_suppkey",
        "l_orderkey", "l_suppkey"))
      .unionAll(audit(Tables.lineitem(s, d), "lineitem.l_partkey->l_suppkey",
        "l_partkey", "l_suppkey"))
      .groupBy(col("fd"))
      .agg(count(lit(1)).as("n_lhs"),
        count_if(col("ndv") > 1).as("n_violating_lhs"),
        max(col("ndv")).as("max_rhs_per_lhs"))
      .orderBy(col("fd"))
  }

  /** Enum-domain conformance audit (r14g) — the remaining data-
    * contract leg next to `dq_functional_dependency` (keys) and
    * `profile_split_drift` (ranges): per declared categorical column,
    * rows, observed distinct values, and rows OUTSIDE the declared
    * domain. The documents.lang contract is deliberately declared
    * WITHOUT 'zh' — documenting the fixture's real domain drift the
    * way `dq_referential_orphans` documents its FK gap — so the audit
    * provably counts nonconformance instead of rubber-stamping. One
    * conditional agg per column, group-sized everything. */
  val dqValueSetConformance: QDef = q(
    "dq_value_set_conformance",
    """WITH a1 AS (
      |  SELECT 'orders.o_orderpriority' AS column_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
      |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH',
      |      '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n_nonconforming
      |  FROM orders),
      |a2 AS (
      |  SELECT 'lineitem.l_returnflag',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_returnflag IN ('R', 'A', 'N')
      |      THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM lineitem),
      |a3 AS (
      |  SELECT 'documents.lang',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(DISTINCT lang) AS BIGINT),
      |    CAST(SUM(CASE WHEN lang IN ('de', 'en', 'es', 'fr')
      |      THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM documents),
      |a4 AS (
      |  SELECT 'events.event_type',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT),
      |    CAST(SUM(CASE WHEN event_type IN ('click', 'view', 'purchase',
      |      'signup', 'error') THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM events)
      |SELECT * FROM a1 UNION ALL SELECT * FROM a2
      |UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4
      |ORDER BY column_name""") { (s, d) =>
    def audit(df: DataFrame, name: String, c: String,
        domain: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col(c)).as("n_distinct"),
          // NULL-safe (ADVICE r14): the oracle's CASE WHEN col IN (…)
          // THEN 0 ELSE 1 counts a NULL value as NONconforming, but a
          // bare !isin is NULL for NULL input and count_if would skip
          // the row — spell the NULL branch explicitly so a future
          // fixture with NULLs can't silently diverge the audit.
          count_if(col(c).isNull || !col(c).isin(domain: _*))
            .as("n_nonconforming"))
        .select(lit(name).as("column_name"), col("n_rows"),
          col("n_distinct"), col("n_nonconforming"))
    audit(Tables.orders(s, d), "orders.o_orderpriority", "o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .unionAll(audit(Tables.lineitem(s, d), "lineitem.l_returnflag",
        "l_returnflag", Seq("R", "A", "N")))
      .unionAll(audit(Tables.documents(s, d), "documents.lang", "lang",
        Seq("de", "en", "es", "fr")))
      .unionAll(audit(Tables.events(s, d), "events.event_type", "event_type",
        Seq("click", "view", "purchase", "signup", "error")))
      .orderBy(col("column_name"))
  }

  /** Shard planning FROM the sketch (r15e) — the production half of
    * the pair: `shard_range_boundaries` computes exact boundaries
    * from full-table ranks (the audit-tier pass); at 100 TB a layout
    * writer plans from the merged KMV sample instead and never ranks
    * the table. This key does exactly that — boundaries = the merged
    * bottom-64 sample's every-4th-rank (cents, key) pairs → 16
    * intervals broadcast onto one scan (map-side-combining 16-group
    * agg; no full-cardinality shuffle anywhere) — and then audits the
    * resulting shard balance EXACTLY: rows per planned shard,
    * floor-ppm share, signed deviation from the ideal 1/16. The
    * deviation column IS the sketch-quality number a writer reads
    * before trusting approximate planning. Interval bounds are
    * lexicographic (cents, key) pairs so ties split exactly as the
    * sample ranks did. */
  val shardPlanFromSketch: QDef = q(
    "shard_plan_from_sketch",
    s"""WITH ${SketchOps.kmvSampleCtes},
      |bd AS (SELECT r // 4 AS i, cents AS bc, k AS bk FROM sr
      |  WHERE r % 4 = 0 AND r < 64),
      |sh AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7),
      |  (8), (9), (10), (11), (12), (13), (14), (15)) t(s)),
      |iv AS (
      |  SELECT CAST(s AS BIGINT) AS shard_no,
      |    lo.bc AS lo_c, lo.bk AS lo_k, hi.bc AS hi_c, hi.bk AS hi_k
      |  FROM sh
      |  LEFT JOIN bd lo ON lo.i = s
      |  LEFT JOIN bd hi ON hi.i = s + 1),
      |asg AS (
      |  SELECT shard_no, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    MIN(cents) AS min_cents, MAX(cents) AS max_cents
      |  FROM u JOIN iv
      |    ON (lo_c IS NULL OR lo_c < cents OR (lo_c = cents AND lo_k <= k))
      |    AND (hi_c IS NULL OR cents < hi_c OR (cents = hi_c AND k < hi_k))
      |  GROUP BY shard_no)
      |SELECT shard_no, n_rows, min_cents, max_cents,
      |  CAST(n_rows * 1000000 // n AS BIGINT) AS share_ppm,
      |  CAST(n_rows * 1000000 // n AS BIGINT) - 62500 AS dev_ppm
      |FROM asg CROSS JOIN n
      |ORDER BY shard_no""") { (s, d) =>
    val ks = SketchOps.kmvSample(s, d, persistU = false)
    val u = ks.u; val nDf = ks.n; val sr = ks.sr
    val bd = sr.filter(expr("r % 4 = 0 AND r < 64"))
      .select(expr("r div 4").as("i"), col("cents").as("bc"), col("k").as("bk"))
    val iv = PrivacyOps.intTable(s, "s", 0 to 15)
      .join(broadcast(bd.select(col("i").as("lo_i"), col("bc").as("lo_c"),
        col("bk").as("lo_k"))), col("lo_i") === col("s"), "left")
      .join(broadcast(bd.select(col("i").as("hi_i"), col("bc").as("hi_c"),
        col("bk").as("hi_k"))), col("hi_i") === col("s") + 1, "left")
      .select(col("s").cast(LongType).as("shard_no"), col("lo_c"),
        col("lo_k"), col("hi_c"), col("hi_k"))
    u.join(broadcast(iv),
        (col("lo_c").isNull || col("lo_c") < col("cents") ||
          (col("lo_c") === col("cents") && col("lo_k") <= col("k"))) &&
        (col("hi_c").isNull || col("cents") < col("hi_c") ||
          (col("cents") === col("hi_c") && col("k") < col("hi_k"))))
      .groupBy(col("shard_no"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .crossJoin(broadcast(nDf))
      .select(col("shard_no"), col("n_rows"), col("min_cents"),
        col("max_cents"),
        expr("CAST(n_rows * 1000000 div n AS BIGINT)").as("share_ppm"),
        (expr("CAST(n_rows * 1000000 div n AS BIGINT)") - 62500)
          .as("dev_ppm"))
      .orderBy(col("shard_no"))
  }

  /** Order-independent table checksums (r15f) — the replication /
    * migration reconciliation primitive: per table, a checksum that
    * any replica can recompute without ordering guarantees. Row hash
    * = first 15 md5 hex digits of the '|'-joined canonical column
    * rendering (ints, strings, cents, ISO dates — every piece
    * engine-identical), table checksum = Σ row-hash mod the largest
    * prime < 2^63 (the sum rides DECIMAL(38)/HUGEINT so the spelling
    * holds at ANY row count, and modular addition is the MERGE: shard
    * partials sum to the same value in any grouping — the property a
    * cross-cluster reconciliation actually uses). One scan + one
    * 1-row fold per table. */
  val dqTableChecksum: QDef = q(
    "dq_table_checksum",
    """WITH o AS (
      |  SELECT ('0x' || substr(md5(
      |      CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
      |      || '|' || o_orderstatus || '|' || o_orderpriority || '|'
      |      || CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |           AS VARCHAR)
      |      || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
      |    ), 1, 15))::BIGINT AS h
      |  FROM orders),
      |c AS (
      |  SELECT ('0x' || substr(md5(
      |      CAST(c_custkey AS VARCHAR) || '|' || c_name || '|'
      |      || CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment
      |    ), 1, 15))::BIGINT AS h
      |  FROM customer),
      |s AS (
      |  SELECT ('0x' || substr(md5(
      |      CAST(s_suppkey AS VARCHAR) || '|' || s_name || '|'
      |      || CAST(s_nationkey AS VARCHAR)
      |    ), 1, 15))::BIGINT AS h
      |  FROM supplier),
      |u AS (
      |  SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(h AS HUGEINT)) % 9223372036854775783 AS BIGINT)
      |      AS checksum FROM o
      |  UNION ALL SELECT 'customer', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CAST(h AS HUGEINT)) % 9223372036854775783 AS BIGINT)
      |    FROM c
      |  UNION ALL SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CAST(h AS HUGEINT)) % 9223372036854775783 AS BIGINT)
      |    FROM s)
      |SELECT table_name, n_rows, checksum FROM u ORDER BY table_name""") {
    (s, d) =>
    val P = "9223372036854775783"
    def ck(df: DataFrame, name: String, rendering: String): DataFrame =
      df.select(conv(substring(md5(expr(rendering)), 1, 15), 16, 10)
          .cast(LongType).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr(s"CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))" +
            s" % $P AS BIGINT)").as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    ck(Tables.orders(s, d), "orders",
        "CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING)" +
        " || '|' || o_orderstatus || '|' || o_orderpriority || '|'" +
        " || CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)" +
        " AS STRING)" +
        " || '|' || CAST(CAST(o_orderdate AS DATE) AS STRING)")
      .unionAll(ck(Tables.customer(s, d), "customer",
        "CAST(c_custkey AS STRING) || '|' || c_name || '|'" +
        " || CAST(c_nationkey AS STRING) || '|' || c_mktsegment"))
      .unionAll(ck(Tables.supplier(s, d), "supplier",
        "CAST(s_suppkey AS STRING) || '|' || s_name || '|'" +
        " || CAST(s_nationkey AS STRING)"))
      .orderBy(col("table_name"))
  }

  /** Time-based train/test split audit (r16) — the temporal twin of
    * `split_by_user_leakfree`: train = events before 2024-01-22, test
    * = the rest (the forecasting/backtest split). Per split: volume,
    * users, value mass — plus the LEAKAGE the time cut permits and a
    * user-keyed split would not: users present on both sides, and the
    * share of each split's rows belonging to them in floor-ppm (the
    * number an evaluator reads before claiming the test set is
    * unseen-user generalization). One (split, user) agg + a 2-group
    * fold; the overlap set is user-cardinality. */
  val splitTimeBased: QDef = q(
    "split_time_based",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
      |      ELSE 'test' END AS split
      |  FROM events),
      |su AS (
      |  SELECT split, user_id, CAST(COUNT(*) AS BIGINT) AS nu,
      |    CAST(SUM(cents) AS BIGINT) AS cu
      |  FROM e GROUP BY split, user_id),
      |ov AS (
      |  SELECT user_id FROM su GROUP BY user_id HAVING COUNT(*) = 2)
      |SELECT split,
      |  CAST(SUM(nu) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(cu) AS BIGINT) AS sum_cents,
      |  CAST(COUNT(ov.user_id) AS BIGINT) AS n_leaky_users,
      |  CAST(SUM(CASE WHEN ov.user_id IS NOT NULL THEN nu ELSE 0 END)
      |    AS BIGINT) AS n_leaky_rows,
      |  CAST(SUM(CASE WHEN ov.user_id IS NOT NULL THEN nu ELSE 0 END)
      |    * 1000000 // SUM(nu) AS BIGINT) AS leaky_rows_ppm
      |FROM su LEFT JOIN ov ON ov.user_id = su.user_id
      |GROUP BY split ORDER BY split""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"),
        when(col("ts") < lit("2024-01-22 00:00:00").cast(TimestampType),
          "train").otherwise("test").as("split"))
    val su = e.groupBy(col("split"), col("user_id"))
      .agg(count(lit(1)).as("nu"), sum(col("cents")).as("cu"))
    val ov = su.groupBy(col("user_id").as("ouid"))
      .agg(count(lit(1)).as("nsplits"))
      .filter(col("nsplits") === 2).select(col("ouid"))
    su.join(broadcast(ov), col("ouid") === col("user_id"), "left")
      .groupBy(col("split"))
      .agg(sum(col("nu")).as("n_rows"),
        count(lit(1)).as("n_users"),
        sum(col("cu")).as("sum_cents"),
        count(col("ouid")).as("n_leaky_users"),
        sum(when(col("ouid").isNotNull, col("nu")).otherwise(0L))
          .as("n_leaky_rows"))
      .select(col("split"), col("n_rows"), col("n_users"), col("sum_cents"),
        col("n_leaky_users"), col("n_leaky_rows"),
        expr("CAST(n_leaky_rows * 1000000 div n_rows AS BIGINT)")
          .as("leaky_rows_ppm"))
      .orderBy(col("split"))
  }

  /** Tukey IQR-fence outlier audit (r16) — the boxplot rule next to
    * `anomaly_mad` (median/MAD) and `agg_zscore_outliers` (mean/σ):
    * per event type, exact Q1/Q3 by rank select (the
    * `agg_quantiles_exact` lower-quantile convention), fences at
    * 1.5·IQR spelled 3·IQR // 2 (IQR nonnegative, so floor agrees),
    * and the out-of-fence row counts the boxplot would flag. One rank
    * window + the fence table broadcast back onto the same scan —
    * the `stats_levene_bf` median machinery pointed at quartiles. */
  val dqIqrOutliers: QDef = q(
    "dq_iqr_outliers",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      |  FROM events),
      |r AS (
      |  SELECT event_type, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY x, event_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |qs AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN x END) AS q1,
      |    MAX(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN x END) AS q3
      |  FROM r GROUP BY event_type),
      |f AS (
      |  SELECT event_type, q1, q3, q3 - q1 AS iqr,
      |    q1 - 3 * (q3 - q1) // 2 AS lo_fence,
      |    q3 + 3 * (q3 - q1) // 2 AS hi_fence
      |  FROM qs)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(q1) AS q1_cents, MAX(q3) AS q3_cents, MAX(iqr) AS iqr_cents,
      |  MAX(lo_fence) AS lo_fence, MAX(hi_fence) AS hi_fence,
      |  CAST(SUM(CASE WHEN x < lo_fence THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_below,
      |  CAST(SUM(CASE WHEN x > hi_fence THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above,
      |  CAST(SUM(CASE WHEN x < lo_fence OR x > hi_fence THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS outlier_ppm
      |FROM e JOIN f ON f.event_type = e.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("x"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("x"), col("event_id"))
    val r = e.select(col("event_type"), col("x"),
      row_number().over(w).as("rn"),
      count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
    val f = r.groupBy(col("event_type").as("ft"))
      .agg(max(when(col("rn") === expr("(n - 1) * 25 div 100 + 1"),
          col("x"))).as("q1"),
        max(when(col("rn") === expr("(n - 1) * 75 div 100 + 1"),
          col("x"))).as("q3"))
      .select(col("ft"), col("q1"), col("q3"),
        (col("q3") - col("q1")).as("iqr"),
        expr("q1 - 3 * (q3 - q1) div 2").as("lo_fence"),
        expr("q3 + 3 * (q3 - q1) div 2").as("hi_fence"))
    e.join(broadcast(f), col("ft") === col("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("q1")).as("q1_cents"), max(col("q3")).as("q3_cents"),
        max(col("iqr")).as("iqr_cents"),
        max(col("lo_fence")).as("lo_fence"),
        max(col("hi_fence")).as("hi_fence"),
        sum(when(col("x") < col("lo_fence"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("x") > col("hi_fence"), 1L).otherwise(0L))
          .as("n_above"),
        sum(when(col("x") < col("lo_fence") || col("x") > col("hi_fence"),
          1L).otherwise(0L)).as("n_out"))
      .select(col("event_type"), col("n"), col("q1_cents"), col("q3_cents"),
        col("iqr_cents"), col("lo_fence"), col("hi_fence"), col("n_below"),
        col("n_above"),
        expr("CAST(n_out * 1000000 div n AS BIGINT)").as("outlier_ppm"))
      .orderBy(col("event_type"))
  }

  /** Embedding-coverage data-quality audit (r16) — the multimodal
    * JOIN contract made visible: per language, how many documents
    * actually HAVE an embedding row (the fixture's defined behavior
    * is an inner join that silently drops the rest — this key is the
    * audit that says how much), coverage in floor-ppm and the first
    * uncovered doc id as the debugging pointer. One broadcast-able
    * left join + language agg. */
  val dqEmbeddingCoverage: QDef = q(
    "dq_embedding_coverage",
    """SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(e.vec_id) AS BIGINT) AS n_with_vec,
      |  CAST(COUNT(e.vec_id) * 1000000 // COUNT(*) AS BIGINT)
      |    AS coverage_ppm,
      |  CAST(MIN(CASE WHEN e.vec_id IS NULL THEN d.doc_id END) AS BIGINT)
      |    AS first_uncovered_doc
      |FROM documents d
      |LEFT JOIN embeddings e ON e.vec_id = d.doc_id
      |GROUP BY d.lang ORDER BY d.lang""") { (s, d) =>
    Tables.documents(s, d)
      .join(Tables.embeddings(s, d).select(col("vec_id")),
        col("vec_id") === col("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("vec_id")).as("n_with_vec"),
        expr("CAST(COUNT(vec_id) * 1000000 div COUNT(*) AS BIGINT)")
          .as("coverage_ppm"),
        min(when(col("vec_id").isNull, col("doc_id"))).as("first_uncovered_doc"))
      .orderBy(col("lang"))
  }

  /** Column-profile matrix (r16) — the DESCRIBE-style profiler output
    * `profile_orders` (one wide row) never surfaced as a per-column
    * TABLE: for each of the six orders columns, row count, distinct
    * count and canonical min/max renderings (decimals via
    * DECIMAL(12,2), dates via DATE — spellings both engines render
    * identically). ONE pass: a single aggregate computes every
    * distinct count (Catalyst Expand fan-out = #columns — the
    * standard profiler plan) and the matrix rows are row-local
    * projections unioned after it. */
  val profileColumnMatrix: QDef = q(
    "profile_column_matrix",
    """WITH a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_ok,
      |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn_ok,
      |    CAST(MAX(o_orderkey) AS VARCHAR) AS mx_ok,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_ck,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS mn_ck,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS mx_ck,
      |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_st,
      |    MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st,
      |    CAST(COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(12,2)))
      |      AS BIGINT) AS nd_tp,
      |    CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
      |      AS mn_tp,
      |    CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
      |      AS mx_tp,
      |    CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
      |      AS nd_od,
      |    CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn_od,
      |    CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx_od,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_op,
      |    MIN(o_orderpriority) AS mn_op, MAX(o_orderpriority) AS mx_op
      |  FROM orders)
      |SELECT col_name, n, n_distinct, min_repr, max_repr FROM (
      |  SELECT 'o_orderkey' AS col_name, n, nd_ok AS n_distinct,
      |    mn_ok AS min_repr, mx_ok AS max_repr FROM a
      |  UNION ALL SELECT 'o_custkey', n, nd_ck, mn_ck, mx_ck FROM a
      |  UNION ALL SELECT 'o_orderstatus', n, nd_st, mn_st, mx_st FROM a
      |  UNION ALL SELECT 'o_totalprice', n, nd_tp, mn_tp, mx_tp FROM a
      |  UNION ALL SELECT 'o_orderdate', n, nd_od, mn_od, mx_od FROM a
      |  UNION ALL SELECT 'o_orderpriority', n, nd_op, mn_op, mx_op FROM a)
      |ORDER BY col_name""") { (s, d) =>
    val a = Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("nd_ok"),
      min(col("o_orderkey")).cast(StringType).as("mn_ok"),
      max(col("o_orderkey")).cast(StringType).as("mx_ok"),
      countDistinct(col("o_custkey")).as("nd_ck"),
      min(col("o_custkey")).cast(StringType).as("mn_ck"),
      max(col("o_custkey")).cast(StringType).as("mx_ck"),
      countDistinct(col("o_orderstatus")).as("nd_st"),
      min(col("o_orderstatus")).as("mn_st"),
      max(col("o_orderstatus")).as("mx_st"),
      countDistinct(col("o_totalprice").cast(DecimalType(12, 2)))
        .as("nd_tp"),
      min(col("o_totalprice").cast(DecimalType(12, 2))).cast(StringType)
        .as("mn_tp"),
      max(col("o_totalprice").cast(DecimalType(12, 2))).cast(StringType)
        .as("mx_tp"),
      countDistinct(col("o_orderdate").cast(DateType)).as("nd_od"),
      min(col("o_orderdate").cast(DateType)).cast(StringType).as("mn_od"),
      max(col("o_orderdate").cast(DateType)).cast(StringType).as("mx_od"),
      countDistinct(col("o_orderpriority")).as("nd_op"),
      min(col("o_orderpriority")).as("mn_op"),
      max(col("o_orderpriority")).as("mx_op"))
    def row(name: String, nd: String, mn: String, mx: String) =
      a.select(lit(name).as("col_name"), col("n"),
        col(nd).as("n_distinct"), col(mn).as("min_repr"),
        col(mx).as("max_repr"))
    row("o_orderkey", "nd_ok", "mn_ok", "mx_ok")
      .unionAll(row("o_custkey", "nd_ck", "mn_ck", "mx_ck"))
      .unionAll(row("o_orderstatus", "nd_st", "mn_st", "mx_st"))
      .unionAll(row("o_totalprice", "nd_tp", "mn_tp", "mx_tp"))
      .unionAll(row("o_orderdate", "nd_od", "mn_od", "mx_od"))
      .unionAll(row("o_orderpriority", "nd_op", "mn_op", "mx_op"))
      .orderBy(col("col_name"))
  }

  /** Skew-salt planning (r17) — the actionable continuation of
    * `profile_key_skew` and the pre-pass a production salted join
    * (`join_skew_salted`) runs: per user, rows div 200 (ceil) = the
    * salt fan-out that caps any salted partition at the target; the
    * plan is the salt-count histogram (how many keys need 1, 2, …
    * splits, what row mass each stratum carries, and the total task
    * count the salted side will spawn). One key-sized agg + a 1-row
    * broadcast total; the histogram is salt-cardinality. */
  val shardSaltPlan: QDef = q(
    "shard_salt_plan",
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY user_id),
      |sp AS (SELECT user_id, cnt,
      |  CAST((cnt + 199) // 200 AS BIGINT) AS salt_n FROM u),
      |tot AS (SELECT CAST(SUM(salt_n) AS BIGINT) AS total_splits,
      |  CAST(SUM(cnt) AS BIGINT) AS total_rows FROM sp)
      |SELECT salt_n, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |  CAST(SUM(cnt) * 1000000 // total_rows AS BIGINT) AS rows_ppm,
      |  total_splits
      |FROM sp CROSS JOIN tot
      |GROUP BY salt_n, total_splits, total_rows
      |ORDER BY salt_n""") { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val sp = u.select(col("user_id"), col("cnt"),
      expr("CAST((cnt + 199) div 200 AS BIGINT)").as("salt_n"))
    val tot = sp.agg(sum(col("salt_n")).cast(LongType).as("total_splits"),
      sum(col("cnt")).cast(LongType).as("total_rows"))
    sp.crossJoin(broadcast(tot))
      .groupBy(col("salt_n"), col("total_splits"), col("total_rows"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cnt")).cast(LongType).as("n_rows"))
      .select(col("salt_n"), col("n_users"), col("n_rows"),
        expr("CAST(n_rows * 1000000 div total_rows AS BIGINT)")
          .as("rows_ppm"),
        col("total_splits"))
      .orderBy(col("salt_n"))
  }

  /** 20-bit van der Corput radical inverse (bit reversal) — ONE
    * rendering of the math, two spellings (Spark has shiftright(),
    * DuckDB the >> operator), generated from the same loop so they
    * cannot drift. */
  private def vdcSql(shift: (String, Int) => String): String =
    (0 until 20).map(i =>
      s"(${shift("doc_id", i)} & 1) * ${1L << (19 - i)}").mkString(" + ")

  /** Quasi-random (low-discrepancy) sampling audit (r17) — the QMC
    * alternative to the house md5 draws: the 20-bit van der Corput
    * radical inverse of doc_id (bit reversal — exact integer
    * arithmetic, zero hashing) selects a 25% sample with provably
    * balanced coverage over any id range WITHIN each 2^20-id block
    * (the inverse reverses the low 20 bits only, so the balance
    * guarantee is per-block for corpora past 2^20 docs — widen the
    * reversal before relying on it beyond that; ADVICE r17), next
    * to the md5 25% sample
    * (first hex char <= '3') on the same corpus. Graded per source:
    * both sample sizes, their overlap, and the absolute deviation of
    * each from the exact 25% target in ppm — the discrepancy
    * comparison that decides which selector a curriculum sampler
    * uses. Row-local selectors, one source-sized agg. */
  val sampleHaltonVdc: QDef = q(
    "sample_halton_vdc",
    s"""WITH s AS (
      |  SELECT source,
      |    CASE WHEN ${vdcSql((c, i) => s"($c >> $i)")} < 262144
      |      THEN 1 ELSE 0 END AS vdc_pick,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3'
      |      THEN 1 ELSE 0 END AS md5_pick
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(vdc_pick) AS BIGINT) AS n_vdc,
      |  CAST(SUM(md5_pick) AS BIGINT) AS n_md5,
      |  CAST(SUM(vdc_pick * md5_pick) AS BIGINT) AS n_both,
      |  abs(CAST(SUM(vdc_pick) * 1000000 // COUNT(*) AS BIGINT) - 250000)
      |    AS vdc_dev_ppm,
      |  abs(CAST(SUM(md5_pick) * 1000000 // COUNT(*) AS BIGINT) - 250000)
      |    AS md5_dev_ppm
      |FROM s GROUP BY source ORDER BY source""") { (s, d) =>
    val sel = Tables.documents(s, d)
      .select(col("source"),
        when(expr(vdcSql((c, i) => s"shiftright($c, $i)")) < 262144, 1L)
          .otherwise(0L).as("vdc_pick"),
        when(substring(md5(col("doc_id").cast(StringType)), 1, 1) <= "3",
          1L).otherwise(0L).as("md5_pick"))
    sel.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("vdc_pick")).as("n_vdc"),
        sum(col("md5_pick")).as("n_md5"),
        sum(col("vdc_pick") * col("md5_pick")).as("n_both"))
      .select(col("source"), col("n_docs"), col("n_vdc"), col("n_md5"),
        col("n_both"),
        abs(expr("CAST(n_vdc * 1000000 div n_docs AS BIGINT)") - 250000L)
          .as("vdc_dev_ppm"),
        abs(expr("CAST(n_md5 * 1000000 div n_docs AS BIGINT)") - 250000L)
          .as("md5_dev_ppm"))
      .orderBy(col("source"))
  }

  /** Snapshot stat-drift audit (r18) — the daily ingestion alarm a
    * 100 TB pipeline runs before anything downstream: per-column
    * profile of "yesterday" vs "today" (md5-parity halves of orders,
    * the house snapshot convention) compared metric by metric. One
    * scan, ONE grouped multi-distinct agg (2 rows out), and a
    * row-local stack/unpivot — at scale the prior half's profile is
    * read from the metrics store instead of recomputed, and the
    * comparison shape is unchanged. All metrics are exact BIGINTs
    * (prices in half-up cents, means floor-div), so drift_abs is
    * exact integer distance. */
  val dqSchemaDrift: QDef = q(
    "dq_schema_drift",
    """WITH prof AS (
      |  SELECT
      |    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7'
      |      THEN 1 ELSE 0 END AS prior,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
      |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS sum_cents,
      |    CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS min_cents,
      |    CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS max_cents
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT p.n_rows AS p_n, p.nd_cust AS p_ndc, p.nd_status AS p_nds,
      |    p.nd_prio AS p_ndp, p.sum_cents AS p_sum, p.min_cents AS p_min,
      |    p.max_cents AS p_max,
      |    i.n_rows AS i_n, i.nd_cust AS i_ndc, i.nd_status AS i_nds,
      |    i.nd_prio AS i_ndp, i.sum_cents AS i_sum, i.min_cents AS i_min,
      |    i.max_cents AS i_max
      |  FROM (SELECT * FROM prof WHERE prior = 1) p,
      |       (SELECT * FROM prof WHERE prior = 0) i),
      |m AS (
      |  SELECT 'n_rows' AS metric, p_n AS v_prior, i_n AS v_incr FROM w
      |  UNION ALL SELECT 'nd_custkey', p_ndc, i_ndc FROM w
      |  UNION ALL SELECT 'nd_status', p_nds, i_nds FROM w
      |  UNION ALL SELECT 'nd_priority', p_ndp, i_ndp FROM w
      |  UNION ALL SELECT 'sum_price_cents', p_sum, i_sum FROM w
      |  UNION ALL SELECT 'mean_price_cents', p_sum // p_n, i_sum // i_n FROM w
      |  UNION ALL SELECT 'min_price_cents', p_min, i_min FROM w
      |  UNION ALL SELECT 'max_price_cents', p_max, i_max FROM w)
      |SELECT metric, v_prior, v_incr, abs(v_prior - v_incr) AS drift_abs
      |FROM m ORDER BY metric""") { (s, d) =>
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
    val prof = Tables.orders(s, d)
      .select(
        when(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) <= "7",
          1).otherwise(0).as("prior"),
        col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
        cents.as("cents"))
      .groupBy(col("prior"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("nd_cust"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        countDistinct(col("o_orderpriority")).as("nd_prio"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
    val p = prof.filter(col("prior") === 1).select(
      col("n_rows").as("p_n"), col("nd_cust").as("p_ndc"),
      col("nd_status").as("p_nds"), col("nd_prio").as("p_ndp"),
      col("sum_cents").as("p_sum"), col("min_cents").as("p_min"),
      col("max_cents").as("p_max"))
    val i = prof.filter(col("prior") === 0).select(
      col("n_rows").as("i_n"), col("nd_cust").as("i_ndc"),
      col("nd_status").as("i_nds"), col("nd_prio").as("i_ndp"),
      col("sum_cents").as("i_sum"), col("min_cents").as("i_min"),
      col("max_cents").as("i_max"))
    p.crossJoin(broadcast(i))
      .select(expr(
        """stack(8,
          |  'n_rows', p_n, i_n,
          |  'nd_custkey', p_ndc, i_ndc,
          |  'nd_status', p_nds, i_nds,
          |  'nd_priority', p_ndp, i_ndp,
          |  'sum_price_cents', p_sum, i_sum,
          |  'mean_price_cents', p_sum div p_n, i_sum div i_n,
          |  'min_price_cents', p_min, i_min,
          |  'max_price_cents', p_max, i_max) AS (metric, v_prior, v_incr)
          |""".stripMargin))
      .select(col("metric"), col("v_prior"), col("v_incr"),
        abs(col("v_prior") - col("v_incr")).as("drift_abs"))
      .orderBy(col("metric"))
  }

  /** Importance-sampling effective sample size (r18) — the mixture
    * health check next to the mix_* planners: re-weighting the
    * corpus from its ACTUAL source shares to a TARGET mix (here ∝
    * per-source character mass — the "weight sources by content, not
    * doc count" shift) costs statistical efficiency, and
    * ESS/N = (Σw)²/(N·Σw²) is the number that says how much. Weights
    * are exact micro rationals (target_ppm·10⁶ div actual_ppm), the
    * ESS fold clears to one DECIMAL(38)/HUGEINT rational in ppm —
    * deterministic to the last digit at any scale. Per source:
    * census, actual vs target shares, the weight; the global ESS
    * rides every row (1-row broadcast). Source-sized shuffles
    * only. */
  val sampleEssImportance: QDef = q(
    "sample_ess_importance",
    """WITH s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
      |  CAST(SUM(chars) AS BIGINT) AS chars_all FROM s),
      |w AS (
      |  SELECT source, n_docs,
      |    CAST(n_docs * 1000000 // n AS BIGINT) AS actual_ppm,
      |    CAST(chars * 1000000 // chars_all AS BIGINT) AS target_ppm,
      |    CAST((chars * 1000000 // chars_all) * 1000000
      |      // (n_docs * 1000000 // n) AS BIGINT) AS w_micro
      |  FROM s, tot),
      |ess AS (
      |  SELECT CAST(SUM(n_docs * w_micro) AS HUGEINT) AS sw,
      |    CAST(SUM(n_docs * w_micro * w_micro) AS HUGEINT) AS sww,
      |    CAST(SUM(n_docs) AS HUGEINT) AS n
      |  FROM w)
      |SELECT w.source, w.n_docs, w.actual_ppm, w.target_ppm, w.w_micro,
      |  CAST(ess.sw * ess.sw * 1000000 // (ess.n * ess.sww) AS BIGINT)
      |    AS ess_ppm
      |FROM w, ess ORDER BY w.source""") { (s, d) =>
    val src = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    val tot = src.agg(sum(col("n_docs")).as("n"),
      sum(col("chars")).as("chars_all"))
    val w = src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 div n").as("actual_ppm"),
        expr("chars * 1000000 div chars_all").as("target_ppm"))
      .select(col("source"), col("n_docs"), col("actual_ppm"),
        col("target_ppm"),
        expr("target_ppm * 1000000 div actual_ppm").as("w_micro"))
    val ess = w.agg(
      sum(col("n_docs") * col("w_micro")).cast(DecimalType(38, 0)).as("sw"),
      sum(col("n_docs") * col("w_micro") * col("w_micro"))
        .cast(DecimalType(38, 0)).as("sww"),
      sum(col("n_docs")).cast(DecimalType(38, 0)).as("nn"))
    w.crossJoin(broadcast(ess))
      .select(col("source"), col("n_docs"), col("actual_ppm"),
        col("target_ppm"), col("w_micro"),
        expr("CAST(sw * sw * 1000000 div (nn * sww) AS BIGINT)")
          .as("ess_ppm"))
      .orderBy(col("source"))
  }

  /** Population Stability Index (r18) — the tabular drift score risk
    * and ML-ops teams alarm on (the numeric complement to
    * `drift_unigram_jsd`'s text JSD): order revenue binned on FIXED
    * $50k-cents boundaries (scale-stable — quantile bins would move
    * with the data), prior vs increment md5-halves, PSI =
    * Σ_b (p_b − q_b)·ln(p_b/q_b) with add-one (Laplace) smoothing so
    * empty bins stay finite. Shares are exact add-one rationals;
    * each bin's term is ONE identical float tree on those integers
    * floored to micro, and the PSI fold is an exact BIGINT sum. One
    * scan, one 10-bin × 2-half agg; the industry read: PSI < 0.1
    * stable, > 0.25 alarm. */
  val dqPsiPriceDrift: QDef = q(
    "dq_psi_price_drift",
    """WITH sc AS (
      |  SELECT
      |    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7'
      |      THEN 1 ELSE 0 END AS prior,
      |    LEAST(9, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |      // 5000000) AS bin
      |  FROM orders),
      |h AS (
      |  SELECT bin,
      |    CAST(SUM(prior) AS BIGINT) AS n_prior,
      |    CAST(SUM(1 - prior) AS BIGINT) AS n_incr
      |  FROM sc GROUP BY bin),
      |tot AS (
      |  SELECT CAST(SUM(n_prior) AS BIGINT) AS np,
      |    CAST(SUM(n_incr) AS BIGINT) AS ni,
      |    CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM h),
      |t AS (
      |  SELECT h.bin, h.n_prior, h.n_incr,
      |    CAST((h.n_prior + 1) * 1000000 // (np + nb) AS BIGINT) AS p_ppm,
      |    CAST((h.n_incr + 1) * 1000000 // (ni + nb) AS BIGINT) AS q_ppm,
      |    CAST(floor(
      |      (CAST(h.n_prior + 1 AS DOUBLE) / (np + nb)
      |        - CAST(h.n_incr + 1 AS DOUBLE) / (ni + nb))
      |      * ln((CAST(h.n_prior + 1 AS DOUBLE) / (np + nb))
      |        / (CAST(h.n_incr + 1 AS DOUBLE) / (ni + nb)))
      |      * 1000000) AS BIGINT) AS term_micro
      |  FROM h, tot),
      |psi AS (SELECT CAST(SUM(term_micro) AS BIGINT) AS psi_micro FROM t)
      |SELECT t.bin, t.n_prior, t.n_incr, t.p_ppm, t.q_ppm, t.term_micro,
      |  psi.psi_micro
      |FROM t, psi ORDER BY t.bin""") { (s, d) =>
    val h = Tables.orders(s, d)
      .select(
        when(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) <= "7",
          1L).otherwise(0L).as("prior"),
        least(lit(9L), expr(
          "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 5000000"))
          .as("bin"))
      .groupBy(col("bin"))
      .agg(sum(col("prior")).as("n_prior"),
        sum(lit(1L) - col("prior")).as("n_incr"))
    val tot = h.agg(sum(col("n_prior")).as("np"), sum(col("n_incr")).as("ni"),
      count(lit(1)).as("nb"))
    val pD = (col("n_prior") + 1).cast(DoubleType) / (col("np") + col("nb"))
    val qD = (col("n_incr") + 1).cast(DoubleType) / (col("ni") + col("nb"))
    val t = h.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_prior"), col("n_incr"),
        expr("(n_prior + 1) * 1000000 div (np + nb)").as("p_ppm"),
        expr("(n_incr + 1) * 1000000 div (ni + nb)").as("q_ppm"),
        floor((pD - qD) * log(pD / qD) * 1000000).cast(LongType)
          .as("term_micro"))
    val psi = t.agg(sum(col("term_micro")).cast(LongType).as("psi_micro"))
    t.crossJoin(broadcast(psi))
      .select(col("bin"), col("n_prior"), col("n_incr"), col("p_ppm"),
        col("q_ppm"), col("term_micro"), col("psi_micro"))
      .orderBy(col("bin"))
  }

  /** Consistent-hash ring rebalance audit (r18b) — the shard-plan
    * question behind every growing 100 TB store: adding one node to
    * an 8-node × 16-vnode md5 ring should move ≈ 1/9 of the keys
    * and NOTHING else. Both rings are deterministic md5 constants
    * (vnode hash = first 8 hex of md5('node<n>:<rep>'), key hash
    * likewise over 'key:<doc_id>'); assignment is the classic
    * successor rule (min vnode hash ≥ key hash, wrapping to the
    * global min). Graded per node: key counts before/after, keys
    * arriving, plus the overall moved count and floor-ppm — the
    * whole point of consistent hashing made measurable. Plan: the
    * ring is ONE broadcast ≤144-row side and BOTH rings' successors
    * come out of a single conditional-min agg keyed by doc (ring8 is
    * the node<8 restriction inside the same fold); vh→node ties
    * resolve ring-side so the doc-keyed shuffle happens exactly
    * once. At scale the successor scan becomes a range-bucketed
    * lookup; the broadcast-join spelling here has identical
    * semantics. */
  val shardConsistentHashMoves: QDef = q(
    "shard_consistent_hash_moves",
    """WITH nodes9 AS (SELECT CAST(unnest(range(0, 9)) AS BIGINT) AS node),
      |reps AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS rep),
      |ring9 AS (
      |  SELECT node, rep,
      |    ('0x' || substr(md5('node' || CAST(node AS VARCHAR) || ':'
      |      || CAST(rep AS VARCHAR)), 1, 8))::BIGINT AS vh
      |  FROM nodes9 CROSS JOIN reps),
      |ring8 AS (SELECT * FROM ring9 WHERE node < 8),
      |k AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('key:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |      ::BIGINT AS kh
      |  FROM documents),
      |w8 AS (SELECT MIN(vh) AS wvh FROM ring8),
      |w9 AS (SELECT MIN(vh) AS wvh FROM ring9),
      |a8 AS (
      |  SELECT k.doc_id,
      |    COALESCE(MIN(CASE WHEN r.vh >= k.kh THEN r.vh END),
      |      (SELECT wvh FROM w8)) AS avh
      |  FROM k CROSS JOIN ring8 r GROUP BY k.doc_id, k.kh),
      |a9 AS (
      |  SELECT k.doc_id,
      |    COALESCE(MIN(CASE WHEN r.vh >= k.kh THEN r.vh END),
      |      (SELECT wvh FROM w9)) AS avh
      |  FROM k CROSS JOIN ring9 r GROUP BY k.doc_id, k.kh),
      |n8 AS (
      |  SELECT a8.doc_id, MIN(r.node) AS node
      |  FROM a8 JOIN ring8 r ON r.vh = a8.avh GROUP BY a8.doc_id),
      |n9 AS (
      |  SELECT a9.doc_id, MIN(r.node) AS node
      |  FROM a9 JOIN ring9 r ON r.vh = a9.avh GROUP BY a9.doc_id),
      |mv AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(CASE WHEN n8.node <> n9.node THEN 1 ELSE 0 END)
      |      AS BIGINT) AS moved
      |  FROM n8 JOIN n9 ON n9.doc_id = n8.doc_id),
      |cb AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM n8 GROUP BY node),
      |ca AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM n9 GROUP BY node),
      |ar AS (
      |  SELECT n9.node, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM n9 JOIN n8 ON n8.doc_id = n9.doc_id
      |  WHERE n8.node <> n9.node GROUP BY n9.node)
      |SELECT nodes9.node,
      |  CAST(COALESCE(cb.c, 0) AS BIGINT) AS keys_before,
      |  CAST(COALESCE(ca.c, 0) AS BIGINT) AS keys_after,
      |  CAST(COALESCE(ar.c, 0) AS BIGINT) AS keys_arrived,
      |  mv.moved AS moved_total,
      |  CAST(mv.moved * 1000000 // mv.n_keys AS BIGINT) AS moved_ppm
      |FROM nodes9
      |LEFT JOIN cb ON cb.node = nodes9.node
      |LEFT JOIN ca ON ca.node = nodes9.node
      |LEFT JOIN ar ON ar.node = nodes9.node
      |CROSS JOIN mv
      |ORDER BY nodes9.node""") { (s, d) =>
    val ring9 = s.range(0, 9).select(col("id").as("node"))
      .crossJoin(s.range(0, 16).select(col("id").as("rep")))
      .select(col("node"), col("rep"),
        conv(substring(md5(concat(lit("node"),
          col("node").cast(StringType), lit(":"),
          col("rep").cast(StringType))), 1, 8), 16, 10)
          .cast(LongType).as("vh"))
    val k = Tables.documents(s, d).select(col("doc_id"),
      conv(substring(md5(concat(lit("key:"),
        col("doc_id").cast(StringType))), 1, 8), 16, 10)
        .cast(LongType).as("kh"))
    // Row-local successor search (r19-opt, guide §2.3/§4 — the MMR
    // pattern): the r18b spelling exploded every doc against the
    // 144-row broadcast ring (|docs|×144 rows through a doc-keyed
    // conditional-min agg — the plan's only fact-sized exchange).
    // Both rings collapse ring-side into ONE sorted array of
    // combined keys c = vh*256 + node: vh is 32 bits and node < 9,
    // so min(c | c ≥ kh*256) orders by vh first, then node —
    // EXACTLY the old (min vh ≥ kh, then min node at that vh)
    // successor-with-tie rule, and element 0 of the sorted array is
    // the wrap target (min vh, min node at it). Each doc then
    // resolves both assignments in one row-local array probe
    // (filter + element_at over ≤144 elements, never under a
    // Generate) and the doc-keyed exchange disappears from the plan.
    val rings = ring9.agg(
      sort_array(collect_list(when(col("node") < 8,
        col("vh") * 256 + col("node")))).as("arr8"),
      sort_array(collect_list(col("vh") * 256 + col("node"))).as("arr9"))
    // get() not element_at(): the filtered array is EMPTY for keys
    // hashing past the last vnode (the wrap case) and ANSI
    // element_at throws on the invalid index where get returns null
    def succNode(arr: Column, kh: Column): Column =
      coalesce(get(filter(arr, x => x >= kh * 256), lit(0)),
        get(arr, lit(0))) % 256
    val both = k.crossJoin(broadcast(rings))
      .select(col("doc_id"),
        succNode(col("arr8"), col("kh")).as("node_b"),
        succNode(col("arr9"), col("kh")).as("node_a"))
      .persist()
    val mv = both.agg(count(lit(1)).as("n_keys"),
      sum(when(col("node_b") =!= col("node_a"), 1L).otherwise(0L))
        .as("moved"))
    val cb = both.groupBy(col("node_b").as("cb_node"))
      .agg(count(lit(1)).as("cb_c"))
    val ca = both.groupBy(col("node_a").as("ca_node"))
      .agg(count(lit(1)).as("ca_c"))
    val ar = both.filter(col("node_b") =!= col("node_a"))
      .groupBy(col("node_a").as("ar_node"))
      .agg(count(lit(1)).as("ar_c"))
    val out = s.range(0, 9).select(col("id").as("node"))
      .join(broadcast(cb), col("cb_node") === col("node"), "left")
      .join(broadcast(ca), col("ca_node") === col("node"), "left")
      .join(broadcast(ar), col("ar_node") === col("node"), "left")
      .crossJoin(broadcast(mv))
      .select(col("node"),
        coalesce(col("cb_c"), lit(0L)).as("keys_before"),
        coalesce(col("ca_c"), lit(0L)).as("keys_after"),
        coalesce(col("ar_c"), lit(0L)).as("keys_arrived"),
        col("moved").as("moved_total"),
        expr("moved * 1000000 div n_keys").as("moved_ppm"))
      .orderBy(col("node"))
    out
  }

  /** Two-stage cluster sampling with Horvitz–Thompson estimation
    * (r18b) — the survey design a 100 TB corpus audit actually runs:
    * stage 1 samples whole SOURCES (md5 Bernoulli, π₁ = 2/5), stage
    * 2 samples docs WITHIN selected sources (md5 Bernoulli,
    * π₂ = 1/4); the HT estimator weights every sampled token count
    * by 1/(π₁π₂) = 10. Graded per source (selection flag, doc and
    * token counts, sampled counts) with the corpus-level estimate,
    * truth, and signed error ppm as broadcast fold columns — the
    * end-to-end check that the design's unbiasedness algebra
    * survives distribution. Both draws are independent md5 channels
    * ('s1:'source vs 's2:'doc_id). Entirely agg-shaped: one source
    * fold + two 1-row broadcasts. */
  val sampleClusterTwostage: QDef = q(
    "sample_cluster_twostage",
    """WITH s AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
      |    CASE WHEN ('0x' || substr(md5('s1:' || source), 1, 4))::BIGINT
      |      % 5 < 2 THEN 1 ELSE 0 END AS sel1,
      |    CASE WHEN ('0x' || substr(md5('s2:' || CAST(doc_id AS VARCHAR)),
      |      1, 4))::BIGINT % 4 = 0 THEN 1 ELSE 0 END AS sel2
      |  FROM documents),
      |bysrc AS (
      |  SELECT source, MAX(sel1) AS sampled_cluster,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS true_tokens,
      |    CAST(SUM(sel1 * sel2) AS BIGINT) AS n_sampled,
      |    CAST(SUM(sel1 * sel2 * ntok) AS BIGINT) AS sampled_tokens
      |  FROM s GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(true_tokens) AS BIGINT) AS true_total,
      |    CAST(SUM(sampled_tokens) * 10 AS BIGINT) AS est_total
      |  FROM bysrc)
      |SELECT bysrc.source, bysrc.sampled_cluster = 1 AS sampled_cluster,
      |  bysrc.n_docs, bysrc.true_tokens, bysrc.n_sampled,
      |  bysrc.sampled_tokens, tot.true_total, tot.est_total,
      |  CAST((tot.est_total - tot.true_total) * 1000000 // tot.true_total
      |    AS BIGINT) AS err_ppm
      |FROM bysrc CROSS JOIN tot ORDER BY bysrc.source""") { (s, d) =>
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("ntok"),
      when(conv(substring(md5(concat(lit("s1:"), col("source"))), 1, 4),
        16, 10).cast(LongType) % 5 < 2, 1L).otherwise(0L).as("sel1"),
      when(conv(substring(md5(concat(lit("s2:"),
        col("doc_id").cast(StringType))), 1, 4), 16, 10)
        .cast(LongType) % 4 === 0, 1L).otherwise(0L).as("sel2"))
    val bysrc = base.groupBy(col("source"))
      .agg(max(col("sel1")).as("sc"), count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("true_tokens"),
        sum(col("sel1") * col("sel2")).as("n_sampled"),
        sum(col("sel1") * col("sel2") * col("ntok")).as("sampled_tokens"))
    val tot = bysrc.agg(sum(col("true_tokens")).as("true_total"),
      (sum(col("sampled_tokens")) * 10).as("est_total"))
    bysrc.crossJoin(broadcast(tot))
      .select(col("source"), (col("sc") === 1L).as("sampled_cluster"),
        col("n_docs"), col("true_tokens"), col("n_sampled"),
        col("sampled_tokens"), col("true_total"), col("est_total"),
        expr("(est_total - true_total) * 1000000 div true_total")
          .as("err_ppm"))
      .orderBy(col("source"))
  }

  val all: Seq[QDef] = Seq(sampleHashDocs, sampleStratifiedDocs, profileOrders,
    sampleTokenBudget, reconcileOrdersItems, profileDocuments,
    sampleClassBalance, dqRuleCheck, sampleSystematic,
    sampleWeightedPps, shardTokenBalanced, profileKeySkew,
    dqFreshnessSla, samplePoissonBootstrap, splitByUserLeakfree,
    dqOrderLineitemDates, dqBenfordDigits, dqSequenceContiguity,
    sampleNeymanAllocation, sampleKfoldAssign, dqPkUniqueness,
    dqReferentialOrphans, profileSplitDrift, shardRangeBoundaries,
    dqFunctionalDependency, dqValueSetConformance, shardPlanFromSketch,
    dqTableChecksum, splitTimeBased, dqIqrOutliers, dqEmbeddingCoverage,
    profileColumnMatrix, shardSaltPlan, sampleHaltonVdc, dqSchemaDrift,
    sampleEssImportance, dqPsiPriceDrift, shardConsistentHashMoves,
    sampleClusterTwostage)
}
