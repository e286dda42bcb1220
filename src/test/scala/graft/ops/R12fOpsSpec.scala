package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 sixth-batch additions
  * (Mann–Whitney U, Spearman rank correlation, rolling OLS slope),
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle, so a systematic cross-engine bug can't hide a
  * wrong formulation.
  */
class R12fOpsSpec extends SparkSpec {

  private val keys =
    Seq("stats_mannwhitney_u", "stats_spearman_corr", "win_rolling_slope")

  test("every r12f key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  /** The cohort cents pairs both rank tests run on, collected once. */
  private def cohortPairs(): Array[(Long, Int)] =
    Tables.orders(spark, sfStatic)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("v"), year(col("o_orderdate")).as("y"))
      .collect().map(x => (x.getLong(0), x.getInt(1)))

  test("stats_mannwhitney_u: U recomputes from a driver-side midrank walk") {
    val r = StaticResults.collected(spark, "stats_mannwhitney_u")
    assert(r.length == 1)
    val row = r.head
    val (na, nb, r2a, u2a, ppm) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    val pairs = cohortPairs()
    val naX = pairs.count(_._2 == 1995).toLong
    val nbX = pairs.count(_._2 == 1996).toLong
    assert((na, nb) == (naX, nbX))
    // doubled midrank of a tie group spanning positions pre+1..pre+cnt
    // is 2*pre + cnt + 1; 2*R_A accumulates ca * that
    var pre = 0L; var r2 = 0L
    pairs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, grp) =>
      val cnt = grp.length.toLong
      val ca = grp.count(_._2 == 1995).toLong
      r2 += ca * (2 * pre + cnt + 1)
      pre += cnt
    }
    assert(r2a == r2, s"2*R_A $r2a != recomputed $r2")
    assert(u2a == r2 - naX * (naX + 1))
    // U_A + U_B = na*nb  <=>  0 <= 2*U_A <= 2*na*nb
    assert(u2a >= 0 && u2a <= 2 * naX * nbX)
    assert(ppm == u2a * 1000000L / (2 * naX * nbX))
    assert(ppm >= 0 && ppm <= 1000000L)
  }

  test("stats_spearman_corr: rho recomputes from driver-side midranks") {
    val r = StaticResults.collected(spark, "stats_spearman_corr")
    assert(r.length == 1)
    val (n, rho) = (r.head.getLong(0), r.head.getDouble(1))
    val cust = Tables.orders(spark, sfStatic)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"),
        sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
          .as("y"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(n == cust.length.toLong)
    def doubledRanks(vs: Seq[Long]): Map[Long, Long] = {
      var pre = 0L
      vs.groupBy(identity).toSeq.sortBy(_._1).map { case (v, g) =>
        val cnt = g.length.toLong
        val out = v -> (2 * pre + cnt + 1)
        pre += cnt
        out
      }.toMap
    }
    val rx = doubledRanks(cust.map(_._2).toIndexedSeq)
    val ry = doubledRanks(cust.map(_._3).toIndexedSeq)
    val pairs = cust.map { case (_, x, y) =>
      (rx(x).toDouble, ry(y).toDouble)
    }
    val nn = pairs.length.toDouble
    val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val expect = (nn * sxy - sx * sy) /
      (math.sqrt(nn * sxx - sx * sx) * math.sqrt(nn * syy - sy * sy))
    assert(math.abs(rho - expect) < 1e-9, s"rho $rho != recomputed $expect")
    assert(rho >= -1.0 && rho <= 1.0)
  }

  test("win_rolling_slope: slope recomputes from a driver-side 7-day walk") {
    val rows = StaticResults.collected(spark, "win_rolling_slope")
    assert(rows.nonEmpty)
    // daily series per type, driver-side
    val daily = Tables.events(spark, sfStatic)
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).as("d"),
        col("value").cast("decimal(12,2)").as("v"))
      .groupBy(col("event_type"), col("d"))
      .agg((sum(col("v")) * 100).cast("long").as("y"))
      .collect().map(x => ((x.getString(0), x.getInt(1)), x.getLong(2))).toMap
    rows.foreach { r =>
      val (et, dn, cents, nd) =
        (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))
      assert(cents == daily((et, dn)))
      val win = (dn - 6 to dn).flatMap(x => daily.get((et, x)).map((x, _)))
      assert(nd == win.length.toLong && nd >= 1 && nd <= 7)
      if (nd == 1) assert(r.isNullAt(4), "single-point window must yield NULL slope")
      else {
        val n = win.length.toLong
        val sx = win.map(_._1.toLong).sum; val sy = win.map(_._2).sum
        val sxy = win.map(p => p._1 * p._2).sum
        val sxx = win.map(p => p._1.toLong * p._1).sum
        val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
        val expect =
          if (num >= 0) num * 1000000L / den else -((-num) * 1000000L / den)
        assert(r.getLong(4) == expect,
          s"$et day $dn: slope ${r.getLong(4)} != recomputed $expect")
      }
    }
  }
}
