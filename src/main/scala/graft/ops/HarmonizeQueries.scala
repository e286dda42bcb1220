package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import graft.pipeline.Harmonize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-graded execution of the harmonization pipeline — the
  * reference's core computation (SURVEY §0.1) verified cross-engine,
  * not just spec'd: unpivot → normalize → codebook join → split.
  * The codebook is rules-as-data, declared inline identically on both
  * sides (three of part's six type codes are mapped; the other three
  * feed the unmappable report). */
object HarmonizeQueries {

  private val codebookRows = Seq(
    ("p_retailprice", "economy", "ECO", "rule-eco"),
    ("p_size", "economy", "ECO", "rule-eco"),
    ("p_retailprice", "promo", "PRM", "rule-promo"),
    ("p_size", "promo", "PRM", "rule-promo"),
    ("p_retailprice", "large", "LRG", "rule-large"),
    ("p_size", "large", "LRG", "rule-large"))

  private val sqlCodebook =
    """codebook(attr, raw_norm, code, rule_id) AS (
      |  SELECT * FROM (VALUES
      |    ('p_retailprice', 'economy', 'ECO', 'rule-eco'),
      |    ('p_size',        'economy', 'ECO', 'rule-eco'),
      |    ('p_retailprice', 'promo',   'PRM', 'rule-promo'),
      |    ('p_size',        'promo',   'PRM', 'rule-promo'),
      |    ('p_retailprice', 'large',   'LRG', 'rule-large'),
      |    ('p_size',        'large',   'LRG', 'rule-large')))""".stripMargin

  private val sqlObs =
    """obs AS (
      |  SELECT p_partkey,
      |    trim(regexp_replace(lower(p_type), '[^a-z0-9]+', '-', 'g'), '-') AS raw_norm,
      |    attr, val
      |  FROM (
      |    SELECT p_partkey, p_type, 'p_retailprice' AS attr, p_retailprice AS val FROM part
      |    UNION ALL
      |    SELECT p_partkey, p_type, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part))""".stripMargin

  /** Spark twin of the `obs` + `codebook` CTEs: part's two measures
    * unpivoted into observations, normalized and left-joined to the
    * codebook (unmatched rows keep a NULL code) — the shared lineage
    * of the three graded outputs below. */
  private def coded(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val codebook = codebookRows.toDF("attr", "raw_norm", "code", "rule_id")
    val obs = Harmonize.unpivotObservations(
      Tables.part(s, d).withColumnRenamed("p_type", "raw"),
      ids = Seq("p_partkey", "raw"),
      values = Seq("p_retailprice", "p_size"))
    Harmonize.applyCodebook(obs, codebook)
  }

  /** The harmonized cube: measures aggregated over (code, attr). */
  val harmonizeCube: QDef = q(
    "harmonize_cube",
    s"""WITH $sqlCodebook,
      |$sqlObs
      |SELECT code, attr, COUNT(*) AS n_obs,
      |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure
      |FROM obs JOIN codebook USING (attr, raw_norm)
      |GROUP BY code, attr
      |ORDER BY code, attr""") { (s, d) =>
    Harmonize.aggregateCube(Harmonize.mapped(coded(s, d)), Seq("code", "attr"), "val")
      .orderBy(col("code"), col("attr"))
  }

  /** The unmappable-rows report — the data-quality output for cells
    * no rule covers. */
  val harmonizeUnmappable: QDef = q(
    "harmonize_unmappable",
    s"""WITH $sqlCodebook,
      |$sqlObs
      |SELECT attr, raw_norm, COUNT(*) AS n_occurrences
      |FROM obs LEFT JOIN codebook USING (attr, raw_norm)
      |WHERE code IS NULL
      |GROUP BY attr, raw_norm
      |ORDER BY attr, raw_norm""") { (s, d) =>
    Harmonize.unmappable(coded(s, d))
      .select(col("attr"), col("raw_norm"), col("n_occurrences"))
      .orderBy(col("attr"), col("raw_norm"))
  }

  /** The provenance report — every observation accounted to the rule
    * that mapped it (or 'unmapped'), with reach and measure totals.
    * This is the reference's rule-audit output: conservation holds by
    * construction (n_obs sums to the unpivoted observation count). */
  val harmonizeProvenance: QDef = q(
    "harmonize_provenance",
    s"""WITH $sqlCodebook,
      |$sqlObs
      |SELECT COALESCE(rule_id, 'unmapped') AS prov_rule,
      |  COUNT(*) AS n_obs,
      |  COUNT(DISTINCT p_partkey) AS n_parts,
      |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure
      |FROM obs LEFT JOIN codebook USING (attr, raw_norm)
      |GROUP BY prov_rule
      |ORDER BY prov_rule""") { (s, d) =>
    Harmonize.withProvenance(coded(s, d))
      .groupBy(col("prov_rule"))
      .agg(count(lit(1)).as("n_obs"),
        countDistinct(col("p_partkey")).as("n_parts"),
        sum(col("val").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_measure"))
      .orderBy(col("prov_rule"))
  }

  /** Fuzzy entity matching — the record-linkage step a harmonization
    * pipeline runs when keys don't line up: candidate pairs blocked by
    * (nation, market segment), verified by edit distance ≤ 1 on the
    * name, graded as per-nation pair counts. The blocked self-join is
    * the same salted-pair shape as the near-dup detectors: pair count
    * follows block density, never n²; at 100 TB the block key widens
    * (e.g. + name-prefix bucket) to keep blocks bounded. */
  val entityMatchFuzzy: QDef = q(
    "entity_match_fuzzy",
    """SELECT a.c_nationkey AS nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(MIN(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS min_dist
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey
      | AND a.c_mktsegment = b.c_mktsegment
      | AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |GROUP BY a.c_nationkey
      |ORDER BY nationkey""") { (s, d) =>
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"))
    val a = c.toDF("k_a", "name_a", "nat", "seg").repartition(s.sparkContext.defaultParallelism, col("nat"), col("seg"))
    val b = c.toDF("k_b", "name_b", "nat", "seg")
    a.join(b, Seq("nat", "seg"))
      .filter(col("k_a") < col("k_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .groupBy(col("nat").as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        min(levenshtein(col("name_a"), col("name_b"))).cast("long").as("min_dist"))
      .orderBy(col("nationkey"))
  }

  /** Chained two-hop crosswalk (r12) — the multi-stage codebook
    * harmonization the single-hop cube doesn't exercise: nation →
    * zone (hop 1, partial coverage), zone → market tier (hop 2,
    * partial again), with explicit FALLTHROUGH labels at each hop so
    * no observation is silently dropped (the same audit discipline
    * as `harmonize_unmappable`, composed). Both crosswalks are
    * rules-as-data declared identically on both sides; both are
    * broadcast — at any fact scale the chain costs two broadcast
    * hash joins and a ≤(zones+2)-group aggregate. */
  val harmonizeCrosswalk: QDef = q(
    "harmonize_crosswalk",
    s"""WITH xw1(n_name, zone) AS (
      |  SELECT * FROM (VALUES
      |    ${(0 to 14).map(k => s"('NATION_$k', 'Z${k % 5}')").mkString(", ")})),
      |xw2(zone, market) AS (
      |  SELECT * FROM (VALUES
      |    ('Z0', 'CORE'), ('Z1', 'CORE'), ('Z2', 'GROWTH'), ('Z3', 'GROWTH'))),
      |obs AS (
      |  SELECT c_custkey, c_acctbal, n_name
      |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
      |coded AS (
      |  SELECT c_custkey, c_acctbal, obs.n_name,
      |    CASE WHEN xw1.zone IS NULL THEN 'UNMAPPED'
      |         WHEN xw2.market IS NULL THEN xw1.zone || '-UNMAPPED'
      |         ELSE xw2.market END AS final_code
      |  FROM obs
      |  LEFT JOIN xw1 ON obs.n_name = xw1.n_name
      |  LEFT JOIN xw2 ON xw1.zone = xw2.zone)
      |SELECT final_code,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
      |FROM coded
      |GROUP BY final_code
      |ORDER BY final_code""") { (s, d) =>
    import s.implicits._
    val xw1 = (0 to 14).map(k => (s"NATION_$k", s"Z${k % 5}")).toDF("x_name", "zone")
    val xw2 = Seq("Z0" -> "CORE", "Z1" -> "CORE", "Z2" -> "GROWTH", "Z3" -> "GROWTH")
      .toDF("x_zone", "market")
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
      .join(broadcast(xw1), col("n_name") === col("x_name"), "left")
      .join(broadcast(xw2), col("zone") === col("x_zone"), "left")
      .select(col("c_acctbal"), col("n_name"),
        when(col("zone").isNull, "UNMAPPED")
          .when(col("market").isNull, concat(col("zone"), lit("-UNMAPPED")))
          .otherwise(col("market")).as("final_code"))
      .groupBy(col("final_code"))
      .agg(count(lit(1)).as("n_customers"),
        countDistinct(col("n_name")).as("n_nations"),
        graft.Protocol.sumMoney(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("final_code"))
  }

  /** Currency conversion via a broadcast rate dimension (r12c) — the
    * config-as-data harmonization shape: a 12-row monthly rate table
    * (integer MILLI-rates, the D2 no-float-money rule applied to FX)
    * joins the order aggregate and converts with one floor division
    * cents·rate‰ div 1000 — exact on both engines, no decimal
    * rescale, no float multiply. Grades per-(year, month) native and
    * converted totals; the rate dim broadcasts at any corpus size. */
  val harmonizeFxConvert: QDef = q(
    "harmonize_fx_convert",
    """WITH rates AS (
      |  SELECT r AS mon_r, 900 + (r - 1) * 10 AS rate_milli
      |  FROM range(1, 13) t(r)),
      |o AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT yr, mon,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS native_cents,
      |  CAST(SUM(cents * rate_milli // 1000) AS BIGINT) AS usd_cents
      |FROM o JOIN rates ON mon = mon_r
      |GROUP BY yr, mon
      |ORDER BY yr, mon""") { (s, d) =>
    import s.implicits._
    val rates = (1 to 12).map(m => (m.toLong, (900 + (m - 1) * 10).toLong))
      .toDF("mon_r", "rate_milli")
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mon"),
        (money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      .join(broadcast(rates), col("mon") === col("mon_r"))
      .groupBy(col("yr"), col("mon"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).cast(LongType).as("native_cents"),
        sum(expr("cents * rate_milli div 1000")).cast(LongType)
          .as("usd_cents"))
      .orderBy(col("yr"), col("mon"))
  }

  val all: Seq[QDef] = Seq(harmonizeCube, harmonizeUnmappable, harmonizeProvenance,
    entityMatchFuzzy, harmonizeCrosswalk, harmonizeFxConvert)
}
