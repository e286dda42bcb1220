package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 eighteenth-batch additions
  * (CUPED adjustment, HITS scores, windowed median), checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle.
  */
class R12rOpsSpec extends SparkSpec {

  private val keys =
    Seq("ab_cuped_adjustment", "graph_hits_scores", "stream_windowed_median")

  test("every r12r key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("ab_cuped_adjustment: theta and variance reduction recompute; means are preserved") {
    val rows = StaticResults.collected(spark, "ab_cuped_adjustment")
      .sortBy(_.getInt(0))
    assert(rows.length == 2)
    val users = Tables.events(spark, sfStatic)
      .select(col("user_id"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).as("d"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (u, es) =>
        (u, (es.filter(_._2 < 15).map(_._3).sum,
          es.filter(_._2 >= 15).map(_._3).sum))
      }
    val xs = users.values.map(_._1.toDouble).toSeq
    val ys = users.values.map(_._2.toDouble).toSeq
    val n = xs.size.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(v => v * v).sum
    val syy = ys.map(v => v * v).sum
    val sxy = users.values.map(p => p._1.toDouble * p._2.toDouble).sum
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(5) - theta) < 1e-9, "theta")
      // CUPED must not shift the experiment-wide mean: the two arms'
      // user-weighted adjusted means average back to mean(Y)
    }
    val totalAdj = rows.map(r => r.getDouble(4) * r.getLong(1)).sum
    assert(math.abs(totalAdj - sy) < 1e-3 * math.abs(sy) + 1.0,
      "adjustment must preserve the grand mean")
    val vy = n * syy - sy * sy
    val expReduction = math.floor(
      (1 - (vy - 2 * theta * (n * sxy - sx * sy)
        + theta * theta * (n * sxx - sx * sx)) / vy) * 1000000 + 0.5).toLong
    assert(rows.head.getLong(6) == expReduction)
    assert(rows.head.getLong(6) >= 0L && rows.head.getLong(6) <= 1000000L,
      "variance can only shrink under the optimal theta")
    // arm census: parity rule covers every user exactly once
    assert(rows.map(_.getLong(1)).sum == users.size.toLong)
  }

  test("graph_hits_scores: two max-normalized rounds recompute in the JVM") {
    val rows = StaticResults.collected(spark, "graph_hits_scores")
    val edges = Tables.orders(spark, sfStatic)
      .join(Tables.lineitem(spark, sfStatic),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => (k, v * 1000000L / mx) }
    }
    val a1 = norm(edges.groupBy(_._2).map { case (s0, es) =>
      (s0, es.size.toLong * 1000000L)
    })
    val h1 = norm(edges.groupBy(_._1).map { case (c, es) =>
      (c, es.map(e => a1(e._2)).sum)
    })
    val a2 = norm(edges.groupBy(_._2).map { case (s0, es) =>
      (s0, es.map(e => h1(e._1)).sum)
    })
    val h2 = norm(edges.groupBy(_._1).map { case (c, es) =>
      (c, es.map(e => a2(e._2)).sum)
    })
    val topA = a2.toSeq.sortBy { case (k, v) => (-v, k) }.take(10)
    val topH = h2.toSeq.sortBy { case (k, v) => (-v, k) }.take(10)
    val gotA = rows.filter(_.getString(0) == "authority")
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    val gotH = rows.filter(_.getString(0) == "hub")
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(gotA.toSet == topA.toSet, "authority top-10")
    assert(gotH.toSet == topH.toSet, "hub top-10")
    assert(rows.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 1000000L))
    assert(rows.count(_.getLong(2) == 1000000L) >= 2,
      "each side's max normalizes to exactly 1e6")
  }

  test("stream_windowed_median: the median is a real element at the lower-median rank") {
    val rows = StaticResults.collected(spark, "stream_windowed_median")
    val byWin = Tables.events(spark, sfStatic)
      .select(window(col("ts"), "6 hours").getField("start").as("w"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
      .groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sorted) }
    assert(rows.length == byWin.size, "one row per populated window")
    rows.foreach { r =>
      val cs = byWin(r.getTimestamp(0))
      assert(r.getLong(1) == cs.size.toLong)
      assert(r.getLong(2) == cs((cs.size - 1) / 2),
        s"window ${r.getTimestamp(0)}: not the lower median")
    }
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sfStatic).count())
  }
}
