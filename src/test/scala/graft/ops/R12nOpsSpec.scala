package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 fourteenth-batch additions
  * (theta-sketch intersection, ABC×XYZ matrix, KM hazard table),
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle.
  */
class R12nOpsSpec extends SparkSpec {

  private val keys = Seq("sketch_kmv_intersection",
    "report_abc_xyz_matrix", "funnel_km_hazard")

  test("every r12n key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("sketch_kmv_intersection: theta, sample and estimate recompute driver-side") {
    val r = StaticResults.collected(spark, "sketch_kmv_intersection")
    assert(r.length == 1)
    val row = r.head
    def md5h(k: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val a = Tables.events(spark, sfStatic).select(col("user_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val b = Tables.orders(spark, sfStatic).select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val (ha, hb) = (a.map(md5h), b.map(md5h))
    def thetaOf(hs: Set[Long]): Long =
      if (hs.size >= 64) hs.toSeq.sorted.apply(63) else 4294967296L
    val theta = math.min(thetaOf(ha), thetaOf(hb))
    val sample = (ha intersect hb).count(_ < theta).toLong
    assert(row.getLong(1) == theta, s"theta ${row.getLong(1)} != $theta")
    assert(row.getLong(2) == sample)
    val est = if (sample == 0) 0L else sample * 4294967296L / theta
    assert(row.getLong(3) == est)
    assert(row.getLong(4) == (a intersect b).size.toLong)
    // sanity: in the exact regime (theta = 2^32) the estimate IS truth
    if (theta == 4294967296L) assert(row.getLong(3) == row.getLong(4))
  }

  test("report_abc_xyz_matrix: cells partition the part set; marginals match the two reports") {
    val rows = StaticResults.collected(spark, "report_abc_xyz_matrix")
    val nParts = Tables.lineitem(spark, sfStatic)
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getLong(2)).sum == nParts,
      "9-cell matrix must partition every traded part exactly once")
    // ABC marginals agree with report_abc_class's own cell counts
    val abcCounts = StaticResults.collected(spark, "report_abc_class")
      .groupBy(_.getString(1)).map { case (c, rs) =>
        (c, rs.map(_.getLong(2)).sum)
      }
    val matAbc = rows.groupBy(_.getString(0)).map { case (c, rs) =>
      (c, rs.map(_.getLong(2)).sum)
    }
    assert(matAbc == abcCounts, "ABC marginal mismatch vs report_abc_class")
    // XYZ marginals agree with report_xyz_variability
    val xyzCounts = StaticResults.collected(spark, "report_xyz_variability")
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val matXyz = rows.groupBy(_.getString(1)).map { case (c, rs) =>
      (c, rs.map(_.getLong(2)).sum)
    }
    assert(matXyz == xyzCounts, "XYZ marginal mismatch vs report_xyz_variability")
  }

  test("funnel_km_hazard: at-risk telescopes; censoring accounts for every clicker") {
    val rows = StaticResults.collected(spark, "funnel_km_hazard")
      .sortBy(_.getLong(0))
    val nClickers = Tables.events(spark, sfStatic)
      .filter(col("event_type") === "click")
      .select(col("user_id")).distinct().count()
    assert(rows.map(r => r.getLong(2) + r.getLong(3)).sum == nClickers,
      "every clicker must convert or censor exactly once")
    assert(rows.head.getLong(1) == nClickers,
      "everyone is at risk at the first observed offset")
    // at-risk telescopes: risk(next) = risk(t) - converted(t) - censored(t)
    rows.toSeq.sliding(2).foreach {
      case Seq(x, y) =>
        assert(y.getLong(1) == x.getLong(1) - x.getLong(2) - x.getLong(3),
          s"at-risk does not telescope at offset ${y.getLong(0)}")
      case _ => ()
    }
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(1))
      assert(r.getLong(1) >= r.getLong(2) + r.getLong(3))
    }
    // censoring must actually occur in this fixture (not all users buy)
    assert(rows.map(_.getLong(3)).sum > 0L, "a censorless KM table is vacuous")
  }
}
