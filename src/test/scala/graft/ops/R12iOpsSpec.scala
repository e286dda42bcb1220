package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 ninth-batch additions
  * (Theil–Sen trend, Neyman allocation, calendar-dimension
  * functions), checked by driver-side recomputation at sf0.001 —
  * independent of the DuckDB oracle.
  */
class R12iOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys =
    Seq("ts_theil_sen", "sample_neyman_allocation", "fn_date_advanced")

  test("every r12i key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("ts_theil_sen: the reported slope is the lower median of all pairwise slopes") {
    val rows = EventAnalytics.tsTheilSen.run(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).as("d"),
        col("value").cast("decimal(12,2)").as("v"))
      .groupBy(col("event_type"), col("d"))
      .agg((sum(col("v")) * 100).cast("long").as("y"))
      .collect().map(x => (x.getString(0), (x.getInt(1), x.getLong(2))))
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sortBy(_._1)) }
    rows.foreach { r =>
      val (et, nPairs, slope) = (r.getString(0), r.getLong(1), r.getLong(2))
      val series = daily(et)
      val slopes = for {
        i <- series.indices; j <- (i + 1) until series.size
      } yield {
        val dy = series(j)._2 - series(i)._2
        val dx = (series(j)._1 - series(i)._1).toLong
        if (dy >= 0) dy * 1000000L / dx else -((-dy) * 1000000L / dx)
      }
      assert(nPairs == slopes.size.toLong, s"$et pair count")
      assert(slope == slopes.sorted.apply((slopes.size - 1) / 2),
        s"$et: slope $slope is not the lower median")
    }
    assert(rows.length == daily.size, "one row per event type")
  }

  test("sample_neyman_allocation: seats sum to the budget and follow N_h*S_h") {
    val rows = Sampling.sampleNeymanAllocation.run(spark, sf).collect()
    assert(rows.map(_.getLong(4)).sum == 1000L,
      "largest-remainder apportionment must hand out the whole budget")
    val byseg = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 100000")
          .as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (seg, xs) => (seg, xs.map(_._2)) }
    assert(rows.map(_.getString(0)).toSet == byseg.keySet)
    val weights = rows.map { r =>
      val xs = byseg(r.getString(0))
      val n = xs.size.toLong
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * x).sum
      assert(r.getLong(1) == n, s"${r.getString(0)} stratum size")
      val sMilli = math.floor(math.sqrt((BigInt(n) * sxx - sx * sx).toDouble)
        / n.toDouble * 1000 + 0.5).toLong
      assert(r.getLong(2) == sMilli, s"${r.getString(0)} s_milli")
      assert(r.getLong(3) == n * sMilli, s"${r.getString(0)} weight")
      r.getString(0) -> (n * sMilli)
    }.toMap
    // every stratum's seats are within 1 of its exact proportional share
    val wtot = weights.values.sum
    rows.foreach { r =>
      val exact = 1000.0 * weights(r.getString(0)) / wtot
      assert(math.abs(r.getLong(4) - exact) < 1.0,
        s"${r.getString(0)}: ${r.getLong(4)} seats vs exact share $exact")
    }
  }

  test("fn_date_advanced: every column recomputes via java.time") {
    import java.time.temporal.{IsoFields, TemporalAdjusters}
    import java.time.DayOfWeek
    val dates = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("date"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate)).toMap
    val rows = Functions.fnDateAdvanced.run(spark, sf).collect()
    assert(rows.length == dates.size)
    rows.foreach { r =>
      val d = dates(r.getLong(0))
      assert(r.getInt(1) == d.get(IsoFields.QUARTER_OF_YEAR), s"$d quarter")
      assert(r.getInt(2) == d.getDayOfWeek.getValue, s"$d isodow")
      assert(r.getInt(3) == d.get(IsoFields.WEEK_OF_WEEK_BASED_YEAR),
        s"$d iso week")
      assert(r.getDate(4).toLocalDate ==
        d.withDayOfMonth(1).withMonth((d.get(IsoFields.QUARTER_OF_YEAR) - 1)
          * 3 + 1), s"$d quarter start")
      assert(r.getDate(5).toLocalDate == d.plusMonths(2),
        s"$d plus-2-months (java.time clamps month-ends identically)")
      assert(r.getDate(6).toLocalDate ==
        d.`with`(TemporalAdjusters.next(DayOfWeek.MONDAY)),
        s"$d next Monday (strictly after)")
      assert(r.getBoolean(7) ==
        (d.getDayOfMonth == d.lengthOfMonth), s"$d month-end flag")
    }
  }
}
