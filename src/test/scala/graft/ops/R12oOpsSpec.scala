package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 fifteenth-batch additions
  * (split-shipment rate, k-fold assignment, corrupt-record audit),
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle.
  */
class R12oOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys = Seq("report_split_shipment", "sample_kfold_assign",
    "source_json_corrupt_audit")

  test("every r12o key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("report_split_shipment: rate recomputes from a driver-side order walk") {
    val rows = Aggregates.reportSplitShipment.run(spark, sf).collect()
    val perOrder = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("date"))
      .collect().map(r => (r.getLong(0), r.getDate(1)))
      .groupBy(_._1).map { case (k, xs) =>
        (k, xs.map(_._2.toString).distinct.size)
      }
    val orderMonth = Tables.orders(spark, sf)
      .select(col("o_orderkey"), year(col("o_orderdate")),
        month(col("o_orderdate")))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    val expect = perOrder.toSeq.map { case (ok, nd) => (orderMonth(ok), nd) }
      .groupBy(_._1).map { case (m, xs) =>
        (m, (xs.size.toLong, xs.count(_._2 > 1).toLong))
      }
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, split) = expect((r.getInt(0), r.getInt(1)))
      assert((r.getLong(2), r.getLong(3)) == ((n, split)),
        s"${r.getInt(0)}-${r.getInt(1)}")
      assert(r.getLong(4) == split * 1000000L / n)
    }
    // split shipments must actually occur (multi-line orders with
    // independent ship dates are the norm in this fixture)
    assert(rows.map(_.getLong(3)).sum > 0L)
  }

  test("sample_kfold_assign: folds partition the corpus; shares are exact") {
    val rows = Sampling.sampleKfoldAssign.run(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nDocs,
      "fold×lang cells must partition every document exactly once")
    assert(rows.map(_.getInt(0)).distinct.sorted.toSeq == (0 to 4),
      "all 5 folds must be populated")
    val totals = rows.groupBy(_.getInt(0))
      .map { case (f, rs) => (f, rs.map(_.getLong(2)).sum) }
    rows.foreach { r =>
      assert(r.getLong(3) == totals(r.getInt(0)), "fold_total")
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(3))
    }
    // assignment is the documented hash rule — spot-check one doc
    val d0 = Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0)).min
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(d0.toString.getBytes("UTF-8"))
      .take(2).map("%02x".format(_)).mkString
    val fold0 = (java.lang.Integer.parseInt(hex, 16) % 5)
    assert(rows.exists(_.getInt(0) == fold0),
      s"doc $d0's fold $fold0 must exist in the census")
  }

  test("source_json_corrupt_audit: exactly the planted lines quarantine") {
    val rows = Scans.sourceJsonCorruptAudit.run(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val corrupt = docs.count(_._1 % 7 == 0).toLong
    val valid = docs.filter(_._1 % 7 != 0).groupBy(_._2)
      .map { case (l, xs) => (l, xs.length.toLong) }
    val m = rows.map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m("__corrupt__") == corrupt,
      "quarantined count must equal the planted corruption exactly")
    valid.foreach { case (l, n) =>
      assert(m(l) == n, s"valid count for $l")
    }
    assert(m.values.sum == docs.length.toLong,
      "no row may be silently dropped or double-counted")
    assert(corrupt > 0L, "a plant-free audit certifies nothing")
  }
}
