package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 fifth-batch additions (KS
  * drift test, vocabulary coverage curve, Benford audit), checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle, so a systematic cross-engine bug can't hide a wrong
  * formulation.
  */
class R12eOpsSpec extends SparkSpec {

  private val keys =
    Seq("stats_ks_test", "vocab_coverage_curve", "dq_benford_digits")

  test("every r12e key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("stats_ks_test: D recomputes from a driver-side exact ECDF walk") {
    val r = StaticResults.collected(spark, "stats_ks_test")
    assert(r.length == 1)
    val row = r.head
    val (na, nb, dNum, atCents, ppm) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    // independent recompute: collect (value, year) pairs, walk the
    // merged sorted values accumulating both ECDFs in exact integers
    val pairs = Tables.orders(spark, sfStatic)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("v"), year(col("o_orderdate")).as("y"))
      .collect().map(x => (x.getLong(0), x.getInt(1)))
    val naX = pairs.count(_._2 == 1995).toLong
    val nbX = pairs.count(_._2 == 1996).toLong
    assert((na, nb) == (naX, nbX))
    var (ca, cb, best, bestV) = (0L, 0L, -1L, Long.MaxValue)
    pairs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (v, grp) =>
      ca += grp.count(_._2 == 1995); cb += grp.count(_._2 == 1996)
      val gap = math.abs(ca * nbX - cb * naX)
      if (gap > best) { best = gap; bestV = v }
    }
    assert(dNum == best, s"d_num $dNum != recomputed $best")
    assert(atCents == bestV, s"at_cents $atCents != recomputed $bestV")
    assert(ppm == dNum * 1000000L / (naX * nbX))
    assert(ppm >= 0 && ppm <= 1000000L)
  }

  test("vocab_coverage_curve: monotone, bounded, top-16 recomputes exactly") {
    val rows = StaticResults.collected(spark, "vocab_coverage_curve")
      .toSeq.sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)) == Seq(16, 64, 256, 1024, 4096))
    val freqs = Tables.documents(spark, sfStatic)
      .select(explode(split(col("text"), " ")).as("tok"))
      .collect().map(_.getString(0))
      .groupBy(identity).map { case (t, o) => (t, o.length.toLong) }.toSeq
    val total = freqs.map(_._2).sum
    // ordered by (freq desc, tok asc) — the query's total order
    val sorted = freqs.sortBy { case (t, f) => (-f, t) }
    rows.foreach { r =>
      val n = r.getInt(0)
      val top = sorted.take(n)
      assert(r.getLong(1) == top.length, s"n_terms at N=$n")
      assert(r.getLong(2) == top.map(_._2).sum, s"covered mass at N=$n")
      assert(r.getLong(3) == top.map(_._2).sum * 1000000L / total)
    }
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(b.getLong(2) >= a.getLong(2) && b.getLong(3) >= a.getLong(3),
        "coverage must be nondecreasing in vocab size")
    }
    assert(rows.last.getLong(3) <= 1000000L)
  }

  test("dq_benford_digits: full partition of orders, expectations sum to 1e6") {
    val rows = StaticResults.collected(spark, "dq_benford_digits")
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    val nOrders = Tables.orders(spark, sfStatic).count()
    assert(rows.map(_.getLong(1)).sum == nOrders,
      "digit counts must partition the order table")
    assert(rows.map(_.getLong(3)).sum == 1000000L,
      "hardcoded Benford ppm must sum to exactly 1e6")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3), "delta = obs - exp")
    }
    // independent first-digit recompute for digit 1
    val d1 = Tables.orders(spark, sfStatic)
      .select((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("c"))
      .collect().map(_.getLong(0).toString.head).count(_ == '1').toLong
    assert(rows.find(_.getInt(0) == 1).get.getLong(1) == d1)
  }
}
