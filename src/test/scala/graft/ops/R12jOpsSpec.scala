package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 tenth-batch additions (HHI
  * concentration, trading-day index, Cramér's V), checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle.
  */
class R12jOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys =
    Seq("report_hhi_by_nation", "ts_trading_day_index", "stats_cramers_v")

  test("every r12j key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("report_hhi_by_nation: HHI of floor-ppm shares recomputes per nation") {
    val rows = Aggregates.reportHhiByNation.run(spark, sf).collect()
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf),
        col("s_suppkey") === col("l_suppkey"))
      .join(Tables.nation(spark, sf),
        col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).map { case (nat, xs) => (nat, xs.map(_._2)) }
    assert(rows.map(_.getString(0)).toSet == raw.keySet)
    rows.foreach { r =>
      val revs = raw(r.getString(0))
      val tot = revs.sum
      assert(r.getLong(1) == revs.size.toLong)
      assert(r.getLong(2) == tot)
      val shares = revs.map(_ * 1000000L / tot)
      assert(r.getLong(3) == shares.map(s => s * s).sum / 1000000L,
        s"${r.getString(0)} HHI")
      assert(r.getLong(4) == shares.max)
      // bounds: monopoly = 1e6; n equal suppliers ~ 1e6/n (floor slack)
      assert(r.getLong(3) <= 1000000L && r.getLong(3) >= 0L)
      assert(r.getLong(3) >= (1000000L / revs.size) - revs.size,
        "HHI can never sit below the perfect-equality floor")
    }
  }

  test("ts_trading_day_index: shares partition the revenue; index = share*7") {
    val rows = EventAnalytics.tsTradingDayIndex.run(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq.sorted == (1 to 7),
      "all seven ISO weekdays must appear")
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nOrders)
    val tot = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 1000000L / tot)
      assert(r.getLong(4) == r.getLong(2) * 7000000L / tot)
      // ISO dow recomputed for one sentinel date class: java.time
      // already certifies the weekday()+1 seam in R12iOpsSpec
    }
    val shareSum = rows.map(_.getLong(3)).sum
    assert(shareSum > 999990L && shareSum <= 1000000L,
      "floor-ppm shares must sum to 1e6 minus at most 6 flooring units")
  }

  test("stats_cramers_v: chi2 and V recompute from a driver-side contingency walk") {
    val r = DriftOps.statsCramersV.run(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val cells = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .collect().map(x => ((x.getString(0), x.getString(1)), x.getLong(2)))
      .toMap
    val prs = cells.keySet.map(_._1).toSeq.sorted
    val sts = cells.keySet.map(_._2).toSeq.sorted
    val n = cells.values.sum
    assert(row.getLong(0) == n)
    assert(row.getLong(1) == prs.size.toLong && row.getLong(2) == sts.size.toLong)
    val rtot = prs.map(p => p -> cells.filter(_._1._1 == p).values.sum).toMap
    val ctot = sts.map(st => st -> cells.filter(_._1._2 == st).values.sum).toMap
    // same quantization ladder as the op: per-cell double term rounded
    // to 1e-18 before the sum
    val chi2 = prs.flatMap(p => sts.map { st =>
      val obs = cells.getOrElse((p, st), 0L)
      val num = (obs * n - rtot(p) * ctot(st)).toDouble
      BigDecimal(num * num / (n.toDouble * rtot(p) * ctot(st)))
        .setScale(18, BigDecimal.RoundingMode.HALF_UP)
    }).sum.toDouble
    assert(row.getLong(3) == math.floor(chi2 * 1000 + 0.5).toLong,
      s"chi2_milli ${row.getLong(3)}")
    val v = math.sqrt(chi2 / (n.toDouble * (math.min(prs.size, sts.size) - 1)))
    assert(row.getLong(4) == math.floor(v * 1000 + 0.5).toLong)
    assert(v >= 0.0 && v <= 1.0)
  }
}
