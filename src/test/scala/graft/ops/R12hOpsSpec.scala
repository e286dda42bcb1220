package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 eighth-batch additions (Q11
  * global-threshold shape, HLL shard-merge audit, Hampel outlier
  * filter), checked by driver-side recomputation at sf0.001 —
  * independent of the DuckDB oracle.
  */
class R12hOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys =
    Seq("q11_important_suppliers", "sketch_hll_merge", "ts_hampel_outliers")

  test("every r12h key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("q11_important_suppliers: the cut is exactly 'above the mean supplier'") {
    val rows = Joins.q11ImportantSuppliers.run(spark, sf).collect()
    val revs = Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val total = revs.values.sum; val n = revs.size.toLong
    val expect = revs.filter { case (_, rev) => rev * n > total }
    assert(rows.length == expect.size, "kept-supplier set size")
    rows.foreach { r =>
      val (k, rev, ppm) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(expect.get(k).contains(rev), s"supplier $k revenue")
      assert(ppm == rev * 1000000L / total)
    }
    // descending revenue presentation order
    assert(rows.map(_.getLong(2)).toSeq == rows.map(_.getLong(2)).toSeq.sortBy(-_))
    // the threshold must actually cut something in a finite fixture
    assert(expect.size < revs.size)
  }

  test("sketch_hll_merge: shard-merged registers equal the direct build") {
    val r = SketchOps.sketchHllMerge.run(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 8L, "custkey mod 8 yields 8 shards here")
    assert(row.getLong(1) == 64L)
    assert(row.getBoolean(5),
      "max-merge of per-shard registers MUST equal the one-pass build")
    assert(row.getLong(3) == row.getLong(4),
      "equal registers force equal estimates")
    val nTrue = row.getLong(2)
    assert(nTrue == Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count())
    // raw-regime HLL at m=64: generous ±40% sanity band
    assert(math.abs(row.getLong(3) - nTrue).toDouble / nTrue < 0.4,
      s"estimate ${row.getLong(3)} wildly off true $nTrue")
  }

  test("ts_hampel_outliers: median/MAD recompute from a driver-side neighborhood walk") {
    val rows = EventAnalytics.tsHampelOutliers.run(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).as("d"),
        col("value").cast("decimal(12,2)").as("v"))
      .groupBy(col("event_type"), col("d"))
      .agg((sum(col("v")) * 100).cast("long").as("y"))
      .collect().map(x => ((x.getString(0), x.getInt(1)), x.getLong(2))).toMap
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
    rows.foreach { r =>
      val (et, dn, y, med, mad) = (r.getString(0), r.getInt(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(y == daily((et, dn)))
      val win = (dn - 3 to dn + 3).flatMap(x => daily.get((et, x)))
      assert(med == lowerMedian(win), s"$et day $dn median")
      assert(mad == lowerMedian(win.map(v => math.abs(v - med))),
        s"$et day $dn MAD")
      assert(r.getBoolean(5) == (math.abs(y - med) > 3 * mad))
    }
    // robustness sanity: a flag means a genuinely extreme neighbor
    assert(rows.count(_.getBoolean(5)) < rows.length,
      "flagging everything would mean the filter is broken")
  }
}
