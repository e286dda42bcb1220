package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.11 — user-defined function surface.
  *
  * The three extension points a user of the engine gets: scalar UDF,
  * typed Aggregator registered through `udaf`, and a generator
  * (UDTF-shaped) producing multiple rows per input. Scale note: a
  * Scala UDF breaks whole-stage codegen at the call site but still
  * runs distributed per-partition; the Aggregator participates in
  * partial/final aggregation like any builtin (its `merge` is the
  * map-side combine), so the shuffle carries one buffer per group,
  * not one row per input — the property that matters at 100 TB.
  */
object Udx {

  /** String normalization before codebook matching: lowercase,
    * non-alphanumeric runs → '-', trim dangling dashes. Lowercasing
    * is locale-independent (Locale.ROOT): under a tr/az default
    * locale `I` would lower to a dotless `ı` and become a dash. */
  val slugify: String => String = { s =>
    if (s == null) null
    else {
      val lowered = s.toLowerCase(java.util.Locale.ROOT)
      val dashed = lowered.replaceAll("[^a-z0-9]+", "-")
      dashed.replaceAll("^-+|-+$", "")
    }
  }

  val udfSlugify: QDef = q(
    "udf_slugify",
    """SELECT p_partkey,
      |  trim(regexp_replace(lower(concat(p_type, ' ', p_name, ' #', p_partkey)),
      |                      '[^a-z0-9]+', '-', 'g'), '-') AS slug
      |FROM part
      |ORDER BY p_partkey""") { (s, d) =>
    val slug = udf(slugify)
    Tables.part(s, d)
      .select(col("p_partkey"),
        slug(concat(col("p_type"), lit(" "), col("p_name"),
          lit(" #"), col("p_partkey"))).as("slug"))
      .orderBy(col("p_partkey"))
  }

  /** Typed Aggregator: quantity-weighted average price with an exact
    * decimal buffer (D2) — sum(price*qty) and sum(qty) as exact
    * BigDecimals, one float division at the end (D3). HALF_UP scale
    * setting mirrors Spark's DECIMAL(12,2)/(12,4) casts so the oracle
    * twin is bit-identical. */
  object WeightedAvgPrice
      extends Aggregator[(Double, Double), (BigDecimal, BigDecimal), Double] {
    import java.math.MathContext
    import scala.math.BigDecimal.RoundingMode
    private def px(d: Double): BigDecimal =
      BigDecimal(d, MathContext.UNLIMITED).setScale(2, RoundingMode.HALF_UP)
    private def qt(d: Double): BigDecimal =
      BigDecimal(d, MathContext.UNLIMITED).setScale(4, RoundingMode.HALF_UP)
    def zero: (BigDecimal, BigDecimal) = (BigDecimal(0), BigDecimal(0))
    def reduce(b: (BigDecimal, BigDecimal), a: (Double, Double)): (BigDecimal, BigDecimal) =
      (b._1 + px(a._1) * qt(a._2), b._2 + qt(a._2))
    def merge(x: (BigDecimal, BigDecimal), y: (BigDecimal, BigDecimal)): (BigDecimal, BigDecimal) =
      (x._1 + y._1, x._2 + y._2)
    def finish(b: (BigDecimal, BigDecimal)): Double =
      b._1.setScale(6, RoundingMode.HALF_UP).toDouble /
        b._2.setScale(4, RoundingMode.HALF_UP).toDouble
    def bufferEncoder: Encoder[(BigDecimal, BigDecimal)] =
      Encoders.product[(BigDecimal, BigDecimal)]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val udafWeightedAvg: QDef = q(
    "udaf_weighted_avg",
    """SELECT p_brand,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE)
      |    / CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS wavg_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""") { (s, d) =>
    val wavg = udaf(WeightedAvgPrice)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
      .orderBy(col("p_brand"))
  }

  /** Generator: adjacent token pairs per document, exploded and
    * counted. zip_with over two shifted slices handles 1-token docs
    * (empty result) without Spark's descending-sequence trap. */
  val udtfBigrams: QDef = q(
    "udtf_bigrams",
    """SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      |FROM (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(string_split(text, ' '))),
      |                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
      |  FROM documents)
      |GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 30""") { (s, d) =>
    // Index-explode + row-level concat (stays in whole-stage codegen)
    // instead of exploding a zip_with()'d array — a Generate over an
    // interpreted higher-order expression pays the slow lambda path
    // (see the langid bigram build). t[...] is 0-based here vs the
    // oracle's 1-based list indexing; size > 1 guards Spark's
    // counting-down sequence(1, 0).
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) > 1)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(1, size(t) - 1)")).as("i"))
      .select(col("doc_id"), expr("concat_ws(' ', t[i-1], t[i])").as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(30)
  }

  val all: Seq[QDef] = Seq(udfSlugify, udafWeightedAvg, udtfBigrams)
}
