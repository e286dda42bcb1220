package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 seventeenth-batch additions
  * (point-in-time features, price indices, Kendall τ-b), checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle.
  */
class R12qOpsSpec extends SparkSpec {

  private val keys =
    Seq("features_point_in_time", "report_price_index", "stats_kendall_tau")

  test("every r12q key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("features_point_in_time: features are leakage-free and recompute per label") {
    val rows = StaticResults.collected(spark, "features_point_in_time")
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).cast("long").as("sec"),
        col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    val byUser = events.groupBy(_._1)
    val nPurchases = events.count(_._4 == "purchase")
    assert(rows.length == nPurchases, "one feature row per label event")
    rows.foreach { r =>
      val (u, eid, sec) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // STRICTLY-preceding 7-day window: [sec-604800, sec-1]
      val win = byUser(u).filter(e => e._3 >= sec - 604800 && e._3 < sec)
      assert(r.getLong(3) == win.count(_._4 == "click").toLong, s"$eid clicks")
      assert(r.getLong(4) == win.count(_._4 == "view").toLong, s"$eid views")
      assert(r.getLong(5) == win.count(_._4 == "error").toLong, s"$eid errors")
      assert(r.getLong(6) == win.map(_._5).sum, s"$eid cents")
    }
    // leakage canary: including the label instant itself would add the
    // purchase's own cents — the strict window must differ from the
    // inclusive one somewhere in this fixture
    val inclusiveWouldDiffer = rows.exists { r =>
      byUser(r.getLong(0)).exists(e => e._3 == r.getLong(2) && e._5 != 0L)
    }
    assert(inclusiveWouldDiffer,
      "fixture cannot distinguish strict from inclusive windows")
  }

  test("report_price_index: indices recompute; Fisher sits between L and P") {
    val rows = StaticResults.collected(spark, "report_price_index")
    assert(rows.nonEmpty)
    val raw = Tables.lineitem(spark, sfStatic)
      .filter(year(col("l_shipdate")).isin(1995, 1996))
      .join(Tables.part(spark, sfStatic), col("p_partkey") === col("l_partkey"))
      .select(col("p_brand"), col("l_partkey"),
        year(col("l_shipdate")).as("yr"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
          .as("cents"),
        (col("l_quantity").cast("decimal(12,4)") * 10).cast("long")
          .as("tenths"))
      .collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getInt(2)),
        (r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (k, xs) =>
        (k, (xs.map(_._2._1).sum, xs.map(_._2._2).sum))
      }
    val parts = raw.keys.map(k => (k._1, k._2)).toSet
    val perBrand = parts.toSeq.map { case (br, pk) =>
      val (rev0, q0) = raw.getOrElse((br, pk, 1995), (0L, 0L))
      val (rev1, q1) = raw.getOrElse((br, pk, 1996), (0L, 0L))
      (br, (rev0, q0, rev1, q1))
    }.filter { case (_, (_, q0, _, q1)) => q0 > 0 && q1 > 0 }
      .groupBy(_._1)
    rows.foreach { r =>
      val ps = perBrand(r.getString(0)).map(_._2)
      assert(r.getLong(1) == ps.size.toLong)
      val lNum = ps.map { case (_, q0, rev1, q1) => rev1 * q0 / q1 }.sum
      val pDen = ps.map { case (rev0, q0, _, q1) => rev0 * q1 / q0 }.sum
      val sumRev0 = ps.map(_._1).sum; val sumRev1 = ps.map(_._3).sum
      assert(r.getLong(2) == lNum * 1000000L / sumRev0, "laspeyres")
      assert(r.getLong(3) == sumRev1 * 1000000L / pDen, "paasche")
      assert(r.getLong(4) == math.floor(math.sqrt(
        r.getLong(2).toDouble * r.getLong(3).toDouble) + 0.5).toLong)
      // Fisher is the geometric mean: between min and max of L and P
      assert(r.getLong(4) >= math.min(r.getLong(2), r.getLong(3)) - 1 &&
        r.getLong(4) <= math.max(r.getLong(2), r.getLong(3)) + 1)
    }
  }

  test("stats_kendall_tau: concordance recomputes from a driver-side pair walk") {
    val r = StaticResults.collected(spark, "stats_kendall_tau")
    assert(r.length == 1)
    val row = r.head
    val daily = Tables.orders(spark, sfStatic)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"), dayofmonth(col("o_orderdate")).as("dy"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("c"))
      .collect().map(x => ((x.getInt(0), x.getInt(1), x.getInt(2)), x.getLong(3)))
      .toMap
    val pairsXY = daily.keys.filter(_._1 == 1995)
      .flatMap { case (_, mo, dy) =>
        daily.get((1996, mo, dy)).map(y => ((mo, dy), daily((1995, mo, dy)), y))
      }.toSeq.sortBy(_._1)
    assert(row.getLong(0) == pairsXY.size.toLong)
    var (c, dd, tx, ty, n0) = (0L, 0L, 0L, 0L, 0L)
    for (i <- pairsXY.indices; jj <- (i + 1) until pairsXY.size) {
      val (_, xi, yi) = pairsXY(i); val (_, xj, yj) = pairsXY(jj)
      n0 += 1
      val s0 = (xi - xj) * (yi - yj)
      if (s0 > 0) c += 1 else if (s0 < 0) dd += 1
      if (xi == xj) tx += 1
      if (yi == yj) ty += 1
    }
    assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((n0, c, dd)))
    val tau = (c - dd).toDouble /
      math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
    assert(row.getLong(4) == math.floor(tau * 1000 + 0.5).toLong)
    assert(tau >= -1.0 && tau <= 1.0)
  }
}
