package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 twentieth-batch additions
  * (null-semantics matrix, MoM/YoY growth, PK-uniqueness audit),
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle.
  */
class R12tOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys =
    Seq("agg_null_semantics", "report_growth_mom_yoy", "dq_pk_uniqueness")

  test("every r12t key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("agg_null_semantics: every matrix cell recomputes against planted nulls") {
    val rows = Aggregates.aggNullSemantics.run(spark, sf).collect()
    val events = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = events.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet == byType.keySet)
    rows.foreach { r =>
      val es = byType(r.getString(0))
      val nonnull = es.filter(_._2 % 5 != 0).map(_._3)
      assert(r.getLong(1) == es.length.toLong, "COUNT(*) counts all rows")
      assert(r.getLong(2) == nonnull.length.toLong, "COUNT(col) skips NULLs")
      assert(r.getLong(3) == es.length.toLong - nonnull.length)
      assert(r.getLong(4) == nonnull.distinct.length.toLong)
      assert(r.getLong(5) == nonnull.sum, "SUM ignores NULLs")
      assert(r.getLong(6) == nonnull.min && r.getLong(7) == nonnull.max)
      assert(r.getLong(8) == nonnull.sum * 1000L / nonnull.length,
        "the avg denominator is the non-null count")
      assert(r.getLong(3) > 0L, "the null plant must actually fire")
    }
  }

  test("report_growth_mom_yoy: growth recomputes from shifted months") {
    val rows = Aggregates.reportGrowthMomYoy.run(spark, sf).collect()
    val m = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("c"))
      .collect().map(r => ((r.getInt(0) - 1995) * 12 + r.getInt(1) - 1,
        r.getLong(2))).toMap
    def g(cur: Long, base: Option[Long]): Option[Long] = base.map { b =>
      if (cur >= b) (cur - b) * 1000000L / b else -((b - cur) * 1000000L / b)
    }
    assert(rows.length == m.size)
    rows.foreach { r =>
      val t = (r.getInt(0) - 1995) * 12 + r.getInt(1) - 1
      assert(r.getLong(2) == m(t))
      (g(m(t), m.get(t - 1)), if (r.isNullAt(3)) None else Some(r.getLong(3))) match {
        case (e, got) => assert(e == got, s"MoM at $t")
      }
      (g(m(t), m.get(t - 12)), if (r.isNullAt(4)) None else Some(r.getLong(4))) match {
        case (e, got) => assert(e == got, s"YoY at $t")
      }
    }
    // the first month has no MoM base; the first year no YoY base
    assert(rows.count(_.isNullAt(3)) >= 1 && rows.count(_.isNullAt(4)) >= 12)
  }

  test("dq_pk_uniqueness: lineitem's composite key is dirty, the rest are clean") {
    val rows = Sampling.dqPkUniqueness.run(spark, sf).collect()
    assert(rows.length == 8)
    val m = rows.map(r => (r.getString(0),
      (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // spot-recompute two tables
    assert(m("orders")._1 == Tables.orders(spark, sf).count())
    assert(m("orders")._3 == 0L, "o_orderkey must be unique")
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(m("lineitem")._1 == li.length.toLong)
    assert(m("lineitem")._2 == li.distinct.length.toLong)
    assert(m("lineitem")._3 == (li.length - li.distinct.length).toLong)
    assert(m("lineitem")._3 > 0L,
      "the fixture's composite line key is deliberately dirty")
    (m - "lineitem").foreach { case (t, (_, _, d)) =>
      assert(d == 0L, s"$t primary key must be unique")
    }
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(3)))
  }
}
