package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 fourth-batch additions (TPC-H
  * Q7/Q8 shapes, KMV distinct sketch), checked by driver-side
  * recomputation at sf0.001 — independent of the DuckDB oracle, so a
  * systematic cross-engine bug can't hide a wrong formulation.
  */
class R12dOpsSpec extends SparkSpec {

  private val keys = Seq(
    "q7_volume_shipping", "q8_market_share", "sketch_kmv_distinct",
    "eval_ann_recall", "layout_zorder_skipping", "curation_threshold_sweep")

  test("every r12d key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("q7_volume_shipping: cells recompute from a naive 6-table join and pairs are asymmetric") {
    val rows = StaticResults.collected(spark, "q7_volume_shipping")
    assert(rows.nonEmpty)
    // every row is one direction of the NATION_18 <-> NATION_19 lane
    rows.foreach { r =>
      val sn = r.getString(0); val cn = r.getString(1)
      assert(Set(sn, cn) == Set("NATION_18", "NATION_19"), s"unexpected pair ($sn,$cn)")
      assert(r.getInt(2) == 1995 || r.getInt(2) == 1996)
      assert(r.getDouble(3) > 0.0)
    }
    // independent recompute of one cell with a deliberately different
    // plan (no broadcasts, filter applied last)
    val n = Tables.nation(spark, sfStatic)
      .select(col("n_nationkey"), col("n_name"))
    val full = Tables.lineitem(spark, sfStatic)
      .join(Tables.supplier(spark, sfStatic),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfStatic), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfStatic), col("o_custkey") === col("c_custkey"))
      .join(n.withColumnRenamed("n_nationkey", "sk")
        .withColumnRenamed("n_name", "supp_nation"), col("s_nationkey") === col("sk"))
      .join(n.withColumnRenamed("n_nationkey", "ck")
        .withColumnRenamed("n_name", "cust_nation"), col("c_nationkey") === col("ck"))
      .filter(col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19" &&
        year(col("l_shipdate")) === 1995 &&
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .head().getDouble(0)
    val cell = rows.find(r => r.getString(0) == "NATION_18" &&
      r.getString(1) == "NATION_19" && r.getInt(2) == 1995)
    assert(cell.nonEmpty, "NATION_18->NATION_19 1995 cell missing")
    assert(math.abs(cell.get.getDouble(3) - full) < 1.0,
      s"cell ${cell.get.getDouble(3)} != naive $full")
  }

  test("q8_market_share: share bounds, ppm algebra, and total recompute") {
    val rows = StaticResults.collected(spark, "q8_market_share")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nr = r.getDouble(1); val tr = r.getDouble(2); val ppm = r.getLong(3)
      assert(nr >= 0.0 && nr <= tr, s"nation revenue $nr outside [0, $tr]")
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(ppm == math.floor(nr * 1000000 / tr + 0.5).toLong)
    }
    // total revenue for 1995 recomputes from a naive join with the
    // region/type filters applied at the end
    val naive = Tables.lineitem(spark, sfStatic)
      .join(Tables.part(spark, sfStatic), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, sfStatic), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfStatic), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sfStatic), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfStatic), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE" && col("p_type") === "ECONOMY" &&
        year(col("o_orderdate")) === 1995)
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .head().getDouble(0)
    val y95 = rows.find(_.getInt(0) == 1995)
    assert(y95.nonEmpty, "1995 row missing")
    assert(math.abs(y95.get.getDouble(2) - naive) < 1.0)
  }

  test("sketch_kmv_distinct: kth-min recomputes and the estimator brackets the truth") {
    val rows = StaticResults.collected(spark, "sketch_kmv_distinct")
    // sf0.001 has 150 distinct customers: k=16 and k=64 rows exist,
    // k=256 cannot (bottom-256 holds fewer than 256 hashes)
    assert(rows.map(_.getLong(0)).toSeq == Seq(16L, 64L),
      s"expected k=16,64 at sf0.001, got ${rows.map(_.getLong(0)).mkString(",")}")
    val trueDistinct = Tables.orders(spark, sfStatic)
      .select(col("o_custkey")).distinct().count()
    // independent kth-min: sort ALL hashes driver-side
    val allH = Tables.orders(spark, sfStatic).select(col("o_custkey")).distinct()
      .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    rows.foreach { r =>
      val k = r.getLong(0).toInt
      assert(r.getLong(1) == allH(k - 1), s"k=$k kth-min mismatch")
      assert(r.getLong(2) == (k - 1).toLong * 4294967296L / allH(k - 1))
      assert(r.getLong(3) == trueDistinct)
      // KMV with k=64 over a uniform 32-bit hash: loose 3x bracket is
      // ample for a correctness pin (the tight bound is spec'd by the
      // err_ppm column the oracle hash-grades)
      assert(r.getLong(2) > trueDistinct / 3 && r.getLong(2) < trueDistinct * 3,
        s"k=$k estimate ${r.getLong(2)} implausible vs $trueDistinct")
    }
  }

  test("layout_zorder_skipping: identical matches, z-layout never scans more rows") {
    val rows = StaticResults.collected(spark, "layout_zorder_skipping")
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("linear", "zorder"))
    val lin = rows("linear"); val zo = rows("zorder")
    // the predicate answer is layout-independent
    assert(lin.getLong(4) == zo.getLong(4), "rows_matched must not depend on layout")
    // pruning soundness: scanned blocks cover every matched row
    Seq(lin, zo).foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_scanned > n_blocks")
      assert(r.getLong(3) >= r.getLong(4), "scanned rows < matched rows")
    }
    // the point of the layout: z-order scans no more rows than linear
    assert(zo.getLong(3) <= lin.getLong(3),
      s"zorder scans ${zo.getLong(3)} rows vs linear ${lin.getLong(3)}")
  }

  test("eval_ann_recall: hits bounded by panel top-k and candidate set") {
    val rows = StaticResults.collected(spark, "eval_ann_recall")
    assert(rows.map(_.getLong(0)).toSeq == (0L to 7L),
      "one row per panel query, q_id 0..7")
    rows.foreach { r =>
      val nCand = r.getLong(1); val nHits = r.getLong(2)
      assert(nHits >= 0 && nHits <= 5 && nHits <= nCand,
        s"q=${r.getLong(0)}: n_hits $nHits outside [0, min(5, $nCand)]")
      assert(r.getLong(3) == nHits * 20)
    }
  }

  test("curation_threshold_sweep: thr=0 keeps everything, retention is monotone") {
    val rows = StaticResults.collected(spark, "curation_threshold_sweep")
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 16, 32, 64, 128, 256))
    val nDocs = Tables.documents(spark, sfStatic).count()
    assert(rows.head.getLong(1) == nDocs && rows.head.getLong(3) == 1000000L,
      "thr=0 must keep every document")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1) && b.getLong(2) <= a.getLong(2),
        "retention must be nonincreasing in the threshold")
    }
  }
}
