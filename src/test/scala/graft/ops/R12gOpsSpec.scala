package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 seventh-batch additions
  * (price/volume/mix bridge, line-number contiguity audit, term
  * burstiness), checked by driver-side recomputation at sf0.001 —
  * independent of the DuckDB oracle, so a systematic cross-engine
  * bug can't hide a wrong formulation.
  */
class R12gOpsSpec extends SparkSpec {

  private val keys = Seq("report_price_volume_mix",
    "dq_sequence_contiguity", "corpus_term_burstiness")

  test("every r12g key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("report_price_volume_mix: effects bridge exactly to the revenue delta") {
    val rows = StaticResults.collected(spark, "report_price_volume_mix")
    assert(rows.length == 25, "all 25 brands ship in both years in this fixture")
    rows.foreach { r =>
      val (rev0, rev1, delta) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(delta == rev1 - rev0)
      val bridge = r.getDouble(4) + r.getDouble(5) + r.getDouble(6)
      // volume + price + mix telescopes to q1*p1 - q0*p0 = rev1 - rev0;
      // only float representation error may remain
      assert(math.abs(bridge - delta.toDouble) <= math.ulp(delta.toDouble) * 64,
        s"${r.getString(0)}: bridge $bridge != delta $delta")
    }
    // spot-recompute one brand from raw rows
    val b0 = rows.head.getString(0)
    val raw = Tables.lineitem(spark, sfStatic)
      .join(Tables.part(spark, sfStatic).filter(col("p_brand") === b0),
        col("p_partkey") === col("l_partkey"))
      .filter(year(col("l_shipdate")).isin(1995, 1996))
      .select(year(col("l_shipdate")).as("yr"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
          .as("cents"),
        (col("l_quantity").cast("decimal(12,4)") * 10).cast("long")
          .as("tenths"))
      .collect()
    val rev0 = raw.filter(_.getInt(0) == 1995).map(_.getLong(1)).sum
    val rev1 = raw.filter(_.getInt(0) == 1996).map(_.getLong(1)).sum
    assert(rows.head.getLong(1) == rev0 && rows.head.getLong(2) == rev1)
  }

  test("dq_sequence_contiguity: recomputes from a driver-side per-order walk") {
    val rows = StaticResults.collected(spark, "dq_sequence_contiguity")
    // the synthetic fixture's line numbers are deliberately dirty
    // (duplicates, gaps, shifted starts) — recompute the whole
    // per-fanout breakdown from raw rows
    val orders = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).values.map(_.map(_._2).toSeq).toSeq
    val expect = orders.groupBy(_.length).map { case (n, grp) =>
      n.toLong -> (grp.size.toLong,
        grp.count(g => g.min == 1 && g.max == n && g.distinct.size == n).toLong,
        grp.count(g => g.distinct.size < n).toLong,
        grp.count(g => g.max - g.min + 1 > g.distinct.size).toLong,
        grp.count(_.min != 1).toLong)
    }
    assert(rows.map(_.getLong(0)).toSet == expect.keySet)
    rows.foreach { r =>
      val (cnt, ok, dup, gap, bad) = expect(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) == ((cnt, ok, dup, gap, bad)),
        s"fanout ${r.getLong(0)}: audit disagrees with driver recompute")
    }
    assert(rows.map(_.getLong(1)).sum == orders.size.toLong,
      "per-fanout order counts must partition the distinct-order set")
    // the audit must be finding real violations in this fixture —
    // an all-clean report here would mean the flags are dead code
    assert(rows.map(r => r.getLong(3) + r.getLong(4) + r.getLong(5)).sum > 0L)
  }

  test("corpus_term_burstiness: top term recomputes from a driver-side count") {
    val rows = StaticResults.collected(spark, "corpus_term_burstiness")
    assert(rows.length == 25)
    assert(rows.map(_.getLong(2)).toSeq == rows.map(_.getLong(2)).toSeq
      .sortBy(-_), "rows must arrive in descending corpus-frequency order")
    val nDocs = Tables.documents(spark, sfStatic).count()
    val perDoc = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .collect()
      .map(r => r.getSeq[String](1).groupBy(identity)
        .map { case (t, o) => (t, o.length.toLong) })
    rows.foreach { r =>
      val term = r.getString(0)
      val cs = perDoc.flatMap(_.get(term))
      assert(r.getLong(1) == cs.length.toLong, s"$term df")
      val occ = cs.sum; val ssq = cs.map(c => c * c).sum
      assert(r.getLong(2) == occ, s"$term total_occ")
      assert(r.getLong(3) ==
        (nDocs * ssq - occ * occ) * 1000000L / (nDocs * occ), s"$term vmr")
      assert(r.getLong(4) == occ * 1000000L / cs.length, s"$term per_doc")
      assert(r.getLong(3) >= 0L)
      assert(r.getLong(4) >= 1000000L,
        "mean occurrences per CONTAINING doc is >= 1 by construction")
    }
  }
}
