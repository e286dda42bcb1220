package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 sixteenth-batch additions
  * (anchored VWAP, SLO burn rate, first-day bitmask signatures),
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle.
  */
class R12pOpsSpec extends SparkSpec {

  private val keys =
    Seq("win_anchored_vwap", "events_slo_burn_rate", "agg_bitmask_signatures")

  test("every r12p key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("win_anchored_vwap: cumulants and VWAP recompute per part") {
    val rows = StaticResults.collected(spark, "win_anchored_vwap")
    assert(rows.nonEmpty, "Brand#1 must trade in this fixture")
    val byPart = rows.groupBy(_.getLong(0))
    byPart.foreach { case (_, rs) =>
      var (cc, cq) = (0L, 0L)
      // rows arrive in the window's total order per part
      rs.sortBy(r => (r.getDate(1).toString, r.getLong(4))).foreach { r =>
        cc += r.getLong(2); cq += r.getLong(3)
        assert(r.getLong(4) == cc && r.getLong(5) == cq,
          s"part ${r.getLong(0)}: cumulants drift")
        assert(r.getLong(6) == cc * 1000000L / cq)
      }
    }
    // VWAP is a weighted mean: it must sit inside the per-part
    // min/max unit-price envelope
    byPart.foreach { case (pk, rs) =>
      val unit = rs.map(r => r.getLong(2).toDouble / r.getLong(3))
      val last = rs.maxBy(r => (r.getDate(1).toString, r.getLong(4)))
      val vwap = last.getLong(6).toDouble / 1000000.0
      assert(vwap >= unit.min - 1e-6 && vwap <= unit.max + 1e-6,
        s"part $pk: VWAP $vwap outside [${unit.min}, ${unit.max}]")
    }
  }

  test("events_slo_burn_rate: budget consumption recomputes within each week") {
    val rows = StaticResults.collected(spark, "events_slo_burn_rate")
      .sortBy(_.getDate(0).toString)
    val total = Tables.events(spark, sfStatic).count()
    assert(rows.map(_.getLong(2)).sum == total,
      "daily volumes must partition the event stream")
    rows.groupBy(_.getInt(1)).foreach { case (wk, rs) =>
      var (ce, cx) = (0L, 0L)
      rs.sortBy(_.getDate(0).toString).foreach { r =>
        ce += r.getLong(2); cx += r.getLong(3)
        assert(r.getLong(4) == r.getLong(3) * 1000000L / r.getLong(2))
        assert(r.getLong(5) == cx * 100000000L / ce,
          s"week $wk day ${r.getDate(0)}: budget consumption")
      }
    }
    // the fixture's ~20% error share blows a 1% budget loudly —
    // the audit must say so, not flatline
    assert(rows.forall(_.getLong(5) > 1000000L),
      "a 1% SLO against this fixture is always over budget")
  }

  test("agg_bitmask_signatures: first-day masks recompute per user") {
    val rows = StaticResults.collected(spark, "agg_bitmask_signatures")
    val bit = Map("click" -> 1L, "error" -> 2L, "purchase" -> 4L,
      "signup" -> 8L, "view" -> 16L)
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val expect = events.groupBy(_._1).values.map { es =>
      val d0 = es.map(_._2).minBy(_.getTime)
      es.filter(_._2 == d0).map(e => bit(e._3)).reduce(_ | _)
    }.toSeq.groupBy(identity).map { case (sig, xs) => (sig, xs.size.toLong) }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toMap == expect)
    rows.foreach { r =>
      assert(r.getBoolean(2) == ((r.getLong(0) & 4L) > 0))
      assert(r.getBoolean(3) == ((r.getLong(0) & 2L) > 0))
      assert(r.getLong(0) >= 1L && r.getLong(0) <= 31L)
    }
    assert(rows.length > 1, "a one-signature census is degenerate")
  }
}
