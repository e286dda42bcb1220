package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 nineteenth-batch additions
  * (seasonal decomposition, gains chart, winsorized mean), checked
  * by driver-side recomputation at sf0.001 — independent of the
  * DuckDB oracle.
  */
class R12sOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys =
    Seq("ts_decompose_additive", "eval_gains_capture", "agg_winsorized_mean")

  test("every r12s key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("ts_decompose_additive: components recompute and sum back to revenue") {
    val rows = EventAnalytics.tsDecomposeAdditive.run(spark, sf).collect()
      .sortBy(r => (r.getInt(0), r.getInt(1)))
    val monthly = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("c"))
      .collect().map(r => ((r.getInt(0) - 1995) * 12 + r.getInt(1) - 1,
        (r.getInt(0), r.getInt(1), r.getLong(2))))
      .sortBy(_._1)
    val byT = monthly.toMap
    assert(rows.length == monthly.length)
    rows.foreach { r =>
      val t = (r.getInt(0) - 1995) * 12 + r.getInt(1) - 1
      assert(r.getLong(2) == byT(t)._3)
      val window = (t - 6 to t + 6).flatMap(byT.get).map(_._3)
      if (byT.contains(t - 6) && byT.contains(t + 6)) {
        // contiguous fixture months: the 13-month window is complete
        assert(!r.isNullAt(3))
        assert(r.getLong(3) == window.sum / 13, s"trend at $t")
        // the identity rev = trend + seasonal + residual is exact
        assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5))
      } else {
        assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5),
          s"edge month $t must carry NULL components")
      }
    }
    // seasonal indices must (nearly) cancel over a calendar year:
    // they are floor-quantized means of detrended values
    val seasonals = rows.filter(!_.isNullAt(4))
      .map(r => (r.getInt(1), r.getLong(4))).distinct
    assert(seasonals.map(_._1).toSet.size >= 10,
      "most calendar months must receive a seasonal index")
  }

  test("eval_gains_capture: deciles partition users; capture telescopes") {
    val rows = LlmExtras.evalGainsCapture.run(spark, sf).collect()
      .sortBy(_.getLong(0))
    val users = Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).as("d"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (u, es) =>
        (u, es.filter(_._2 < 15).map(_._3).sum,
          es.filter(_._2 >= 15).map(_._3).sum)
      }.toSeq
    val n = users.size.toLong
    assert(rows.map(_.getLong(1)).sum == n)
    // driver recompute: rank ascending by (x, user), decile from top
    val ranked = users.sortBy(u => (u._2, u._1)).zipWithIndex
      .map { case ((_, _, y), i) => (((n - (i + 1)) * 10) / n, y) }
    val expect = ranked.groupBy(_._1)
      .map { case (dec, xs) => (dec, (xs.size.toLong, xs.map(_._2).sum)) }
    rows.foreach { r =>
      val (nu, yc) = expect(r.getLong(0))
      assert((r.getLong(1), r.getLong(2)) == ((nu, yc)), s"decile ${r.getLong(0)}")
    }
    val yTotal = users.map(_._3).sum
    var cum = 0L
    rows.foreach { r =>
      cum += r.getLong(2)
      assert(r.getLong(3) == r.getLong(2) * 1000000L / yTotal)
      assert(r.getLong(4) == cum * 1000000L / yTotal, "cumulative capture")
    }
    assert(rows.last.getLong(4) >= 999990L, "full capture at the last decile")
  }

  test("agg_winsorized_mean: clip bounds are real rank-selected values") {
    val rows = Aggregates.aggWinsorizedMean.run(spark, sf).collect()
    val bySeg = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("c"),
        col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet == bySeg.keySet)
    rows.foreach { r =>
      val xs = bySeg(r.getString(0)).sortBy(x => (x._2, x._3)).map(_._2).toSeq
      val nn = xs.size.toLong
      assert(r.getLong(1) == nn)
      val lo = xs(math.max(1, nn * 5 / 100).toInt - 1)
      val hi = xs(math.min(nn, nn * 95 / 100 + 1).toInt - 1)
      assert(r.getLong(2) == lo && r.getLong(3) == hi,
        s"${r.getString(0)} clip bounds")
      val wsum = xs.map(v => math.min(math.max(v, lo), hi)).sum
      assert(r.getLong(4) == wsum * 1000L / nn)
      assert(r.getLong(5) == xs.sum * 1000L / nn)
      // winsorizing clips both tails: the robust mean moves toward
      // the clip interval but never outside it
      assert(r.getLong(4) >= lo * 1000L && r.getLong(4) <= hi * 1000L)
    }
  }
}
