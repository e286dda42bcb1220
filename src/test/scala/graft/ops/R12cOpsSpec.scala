package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 third-batch additions, checked
  * by driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle, so a systematic cross-engine bug can't hide a wrong
  * formulation (the R5OpsSpec discipline).
  */
class R12cOpsSpec extends SparkSpec {

  private val keys = Seq(
    "profile_key_skew", "join_cardinality_probe", "pareto_frontier_parts",
    "graph_label_propagation", "index_inverted_postings",
    "ts_seasonal_naive_error", "graph_k_core", "hash_feature_collisions",
    "report_topn_other", "audience_overlap_jaccard", "dq_freshness_sla",
    "agg_corr_matrix", "sample_poisson_bootstrap", "report_aging_buckets",
    "report_concentration", "events_dau_stickiness", "cohort_revenue_ltv",
    "text_term_entropy", "join_time_band_bucketed", "events_burst_detection",
    "events_interarrival_stats", "events_growth_accounting",
    "join_null_aware_in", "report_abc_class", "sketch_countmin_freq",
    "sketch_bloom_fpr", "ts_cusum_alarm", "kmeans_update_round",
    "sim_hard_negatives", "q17_small_qty_revenue", "sketch_hll_linear",
    "funnel_time_to_convert", "stream_late_drop_audit", "drift_unigram_jsd",
    "dedup_url_canonical", "report_ytd_running", "multimodal_image_tiles",
    "sketch_cms_join_forecast", "report_value_migration", "agg_gini_value",
    "report_xyz_variability", "attribution_time_decay",
    "events_hourly_heatmap", "harmonize_fx_convert",
    "split_by_user_leakfree", "sketch_hll_registers",
    "ts_order_gap_survival", "dq_order_lineitem_dates",
    "agg_multi_distinct", "stream_tumbling_distinct",
    "corpus_length_log2")

  test("every r12c key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("join_cardinality_probe: est_rows equals the materialized join's count") {
    val probe = StaticResults.collected(spark, "join_cardinality_probe").head
    val actual = Tables.events(spark, sfStatic).select(col("user_id"))
      .join(Tables.orders(spark, sfStatic).select(col("o_custkey")),
        col("user_id") === col("o_custkey"))
      .count()
    assert(probe.getLong(3) == actual,
      s"forecast ${probe.getLong(3)} != materialized $actual")
    // side cardinalities recompute
    val ndL = Tables.events(spark, sfStatic).select(col("user_id")).distinct().count()
    val ndR = Tables.orders(spark, sfStatic).select(col("o_custkey")).distinct().count()
    assert(probe.getLong(0) == ndL && probe.getLong(1) == ndR)
    assert(probe.getLong(2) <= math.min(ndL, ndR))
    // the worst key's fanout bounds the mean fanout
    assert(probe.getLong(4) * probe.getLong(2) >= probe.getLong(3))
  }

  test("pareto_frontier_parts: matches the brute-force dominance check") {
    val parts = Tables.part(spark, sfStatic)
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        col("p_retailprice")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val expected = parts.filter { case (b, _, sz, pr) =>
      !parts.exists { case (b2, _, sz2, pr2) =>
        b2 == b && pr2 <= pr && sz2 >= sz && (pr2 < pr || sz2 > sz)
      }
    }.map(t => (t._1, t._2)).toSet
    val got = StaticResults.collected(spark, "pareto_frontier_parts")
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("pareto_frontier_parts: frontier is an antichain with one point per size") {
    val rows = StaticResults.collected(spark, "pareto_frontier_parts")
      .map(r => (r.getString(0), r.getInt(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (brand, rs) =>
      // within a brand, strictly increasing size must pair with
      // strictly increasing price across DISTINCT (size, price) points
      val pts = rs.map(t => (t._2, t._3)).distinct.sortBy(_._1)
      pts.sliding(2).foreach {
        case Array((s1, p1), (s2, p2)) =>
          assert(s1 < s2 && p1 < p2,
            s"$brand: frontier points ($s1,$p1) vs ($s2,$p2) violate tradeoff order")
        case _ =>
      }
      // at most one price per size on the frontier
      assert(pts.map(_._1).distinct.length == pts.length)
    }
  }

  test("graph_label_propagation: matches a JVM-recomputed 3-round sync LPA") {
    val eb = Tables.orders(spark, sfStatic)
      .join(Tables.lineitem(spark, sfStatic), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = eb.flatMap { case (c, s0) => Seq((c, s0), (s0, c)) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var labels: Map[Long, Long] = nbrs.keys.map(k => k -> k).toMap
    for (_ <- 1 to 3) {
      labels = nbrs.map { case (node, ns) =>
        val counts = ns.map(labels).groupBy(identity).view
          .mapValues(_.size.toLong).toSeq
        val (best, _) = counts.minBy { case (l, c) => (-c, l) }
        node -> best
      }
    }
    val expected = labels.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = StaticResults.collected(spark, "graph_label_propagation")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.sum == nbrs.size.toLong, "histogram must cover every node")
  }

  test("index_inverted_postings: df/cf/postings recompute from raw tokens") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perTerm = docs.flatMap { case (id, text) =>
      text.split(" ", -1).groupBy(identity).map { case (t, occ) =>
        (t, id, occ.length.toLong)
      }
    }.groupBy(_._1)
    val rows = StaticResults.collected(spark, "index_inverted_postings")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.map(_._1).toSet == perTerm.keySet)
    rows.foreach { case (term, df, cf, postings) =>
      val entries = perTerm(term)
      assert(df == entries.length.toLong, s"$term df")
      assert(cf == entries.map(_._3).sum, s"$term cf")
      val expected = entries.map(_._2).sorted.take(8).mkString("|")
      assert(postings == expected, s"$term postings")
    }
  }

  test("ts_seasonal_naive_error: recomputes from daily cent totals") {
    val daily = Tables.events(spark, sfStatic)
      .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"),
        (col("value").cast("decimal(12,4)") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("cents"))
      .collect()
      .map(r => ((r.getString(0), r.getDate(1).toLocalDate), r.getLong(2)))
      .toMap
    val pairs = daily.toSeq.flatMap { case ((et, day), actual) =>
      daily.get((et, day.minusDays(7))).map(f => (et, actual, f))
    }
    val expected = pairs.groupBy(_._1).view.mapValues { ps =>
      val absErr = ps.map(p => math.abs(p._2 - p._3)).sum
      (ps.size.toLong, absErr, absErr / ps.size, ps.map(p => p._2 - p._3).sum)
    }.toMap
    val got = StaticResults.collected(spark, "ts_seasonal_naive_error")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
  }

  test("graph_k_core: matches JVM-recomputed iterated degree pruning") {
    val eb = Tables.orders(spark, sfStatic)
      .join(Tables.lineitem(spark, sfStatic), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    var edges = eb.flatMap { case (c, s0) => Seq((c, s0), (s0, c)) }.toSeq
    val expected = scala.collection.mutable.ArrayBuffer(
      (0L, edges.map(_._1).distinct.size.toLong, edges.size.toLong))
    for (i <- 1 to 3) {
      val keep = edges.groupBy(_._1).filter(_._2.size >= 2).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      expected += ((i.toLong, edges.map(_._1).distinct.size.toLong,
        edges.size.toLong))
    }
    val got = StaticResults.collected(spark, "graph_k_core")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected.toSeq)
    // the decay curve is monotone
    got.sliding(2).foreach {
      case Seq((_, n1, e1), (_, n2, e2)) => assert(n2 <= n1 && e2 <= e1)
      case _ =>
    }
  }

  test("hash_feature_collisions: bucket masses partition the term universe") {
    val rows = StaticResults.collected(spark, "hash_feature_collisions")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L until 16L))
    val docs = Tables.documents(spark, sfStatic).select(col("text")).collect()
      .map(_.getString(0))
    val terms = docs.flatMap(_.split(" ", -1))
    assert(rows.map(_._2).sum == terms.distinct.length.toLong,
      "n_terms must sum to the distinct vocabulary size")
    assert(rows.map(_._3).sum == terms.length.toLong,
      "n_occ must sum to total corpus occurrences")
  }

  test("report_topn_other: shares and the OTHER fold recompute") {
    def dec(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .collect().map(r => (r.getLong(0), dec(r.getDouble(1)), dec(r.getDouble(2))))
    val brandOf = Tables.part(spark, sfStatic)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byBrand = li.groupBy(t => brandOf(t._1)).view.mapValues(
      _.map(t => t._2 * (BigDecimal(1) - t._3)).sum).toMap
    val top5 = byBrand.toSeq.sortBy { case (b, r) => (-r, b) }
      .take(5).map(_._1).toSet
    val expected = byBrand.toSeq
      .map { case (b, r) => (if (top5(b)) b else "OTHER") -> r }
      .groupBy(_._1).view
      .mapValues(rs => (rs.map(_._2).sum, rs.size.toLong)).toMap
    val got = StaticResults.collected(spark, "report_topn_other")
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    val total = byBrand.values.sum.toDouble
    expected.foreach { case (label, (rev, nBrands)) =>
      val (gRev, gN, gPpm) = got(label)
      assert(math.abs(gRev - rev.toDouble) < 1e-6, s"$label revenue")
      assert(gN == nBrands, s"$label n_brands")
      assert(gPpm == math.floor(rev.toDouble * 1000000 / total + 0.5).toLong,
        s"$label share_ppm")
    }
  }

  test("audience_overlap_jaccard: recomputes from distinct user sets") {
    val tu = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val sets = tu.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = sets.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
      inter = (sets(a) & sets(b)).size.toLong if inter > 0
    } yield {
      val union = sets(a).size + sets(b).size - inter
      (a, b) -> (inter, sets(a).size.toLong, sets(b).size.toLong,
        inter * 1000000L / union)
    }).toMap
    val got = StaticResults.collected(spark, "audience_overlap_jaccard")
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
  }

  test("dq_freshness_sla: lag and trailing-window counts recompute") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val gm = evs.map(_._2).max
    val got = StaticResults.collected(spark, "dq_freshness_sla")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getLong(4))).toMap
    val byType = evs.groupBy(_._1)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (et, rs) =>
      val (n, lastTs, lag, n24) = got(et)
      assert(n == rs.length.toLong)
      val mx = rs.map(_._2).max
      assert(lastTs.getTime / 1000 == mx / 1000, s"$et last_ts")
      // floor-to-second diffs: whole-second boundary crossings
      assert(lag == math.floorDiv(gm, 1000) - math.floorDiv(mx, 1000), s"$et lag")
      val cutoff = gm - 24L * 3600 * 1000
      assert(n24 == rs.count(_._2 >= cutoff).toLong, s"$et n24")
    }
  }

  test("agg_corr_matrix: corr(x,y) matches agg_corr_explicit's machinery on doubles") {
    val r = StaticResults.collected(spark, "agg_corr_matrix").head
    val rows = Tables.lineitem(spark, sfStatic)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect().map(x => (
        math.round(x.getDouble(0) * 10).toDouble,
        (math.round(x.getDouble(1) * 100) / 100).toDouble, // integer dollars
        math.round(x.getDouble(2) * 100).toDouble))
    def corr(xs: Array[Double], ys: Array[Double]): Double = {
      val n = xs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(v => v * v).sum
      val syy = ys.map(v => v * v).sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val (q, p, di) = (rows.map(_._1), rows.map(_._2), rows.map(_._3))
    assert(r.getLong(0) == rows.length.toLong)
    assert(math.abs(r.getDouble(1) - corr(q, p)) < 1e-5)
    assert(math.abs(r.getDouble(2) - corr(q, di)) < 1e-5)
    assert(math.abs(r.getDouble(3) - corr(p, di)) < 1e-5)
    // correlations are bounded
    Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)).foreach(c =>
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
  }

  test("sample_poisson_bootstrap: multiplicities recompute from md5 and mass ~ Poisson(1)") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    def mult(docId: Long, rep: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$docId:$rep".getBytes("UTF-8"))
      val hex = md.take(2).map("%02x".format(_)).mkString
      val u = java.lang.Integer.parseInt(hex, 16)
      if (u < 24109) 0L else if (u < 48218) 1L else if (u < 60275) 2L
      else if (u < 64291) 3L else 4L
    }
    val expected = (0 to 2).map { rep =>
      val ms = docs.map { case (id, ntok) => (mult(id, rep), ntok) }
      rep.toLong -> (ms.count(_._1 >= 1).toLong, ms.map(_._1).sum,
        ms.map { case (m, t) => m * t }.sum)
    }.toMap
    val got = StaticResults.collected(spark, "sample_poisson_bootstrap")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected)
    // each replicate's total multiplicity is within 3 sigma of n
    // (Poisson(1) sum over n docs: mean n, var n)
    val n = docs.length.toDouble
    got.values.foreach { case (_, tm, _) =>
      assert(math.abs(tm - n) <= 3 * math.sqrt(n) + 1,
        s"bootstrap mass $tm too far from n=$n")
    }
  }

  test("report_aging_buckets: buckets partition the order book") {
    val rows = StaticResults.collected(spark, "report_aging_buckets")
    val nOrders = Tables.orders(spark, sfStatic).count()
    assert(rows.map(_.getLong(2)).sum == nOrders)
    val buckets = Set("00-30", "31-90", "91-365", "366+")
    rows.foreach(r => assert(buckets(r.getString(1))))
    // every (priority, bucket) cell is unique
    val cells = rows.map(r => (r.getString(0), r.getString(1)))
    assert(cells.distinct.length == cells.length)
  }

  test("report_concentration: whale share recomputes from sorted order values") {
    def dec(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .collect().map(r => (r.getString(0), dec(r.getDouble(1)), r.getLong(2)))
    val got = StaticResults.collected(spark, "report_concentration")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    orders.groupBy(_._1).foreach { case (status, rs) =>
      val (n, total, top10, ppm) = got(status)
      assert(n == rs.length.toLong)
      val sorted = rs.sortBy { case (_, v, k) => (-v, k) }
      val expTotal = rs.map(_._2).sum
      val expTop = sorted.take(10).map(_._2).sum
      assert(math.abs(total - expTotal.toDouble) < 1e-6)
      assert(math.abs(top10 - expTop.toDouble) < 1e-6)
      assert(ppm == math.floor(expTop.toDouble * 1000000 / expTotal.toDouble + 0.5).toLong)
    }
  }

  test("events_dau_stickiness: DAU/WAU recompute from raw activity days") {
    val au = Tables.events(spark, sfStatic)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = au.map(_._2).distinct
    val got = StaticResults.collected(spark, "events_dau_stickiness")
      .map(r => r.getDate(0).toLocalDate ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == days.toSet)
    days.foreach { day =>
      val dau = au.count(_._2 == day).toLong
      val wau = au.filter { case (_, d0) =>
        !d0.isAfter(day) && !d0.isBefore(day.minusDays(6))
      }.map(_._1).distinct.length.toLong
      val (gD, gW, gP) = got(day)
      assert(gD == dau, s"$day dau")
      assert(gW == wau, s"$day wau")
      assert(gP == dau * 1000000L / wau, s"$day ppm")
      assert(gD <= gW)
    }
  }

  test("cohort_revenue_ltv: cumulative curve is monotone and covers all orders") {
    def dec(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val rows = StaticResults.collected(spark, "cohort_revenue_ltv")
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // per cohort: cum is the running sum of revenue in age order
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      val sorted = rs.sortBy(_._2)
      var acc = 0.0
      sorted.foreach { case (_, _, _, rev, cum) =>
        acc += rev
        assert(math.abs(cum - acc) < 1e-4, s"$cohort cum drift")
      }
      // age 0 always exists (the first order defines the cohort)
      assert(sorted.head._2 == 0L, s"$cohort missing age-0 row")
    }
    // total revenue reconciles against the raw order book
    val total = Tables.orders(spark, sfStatic).select(col("o_totalprice")).collect()
      .map(r => dec(r.getDouble(0))).sum
    assert(math.abs(rows.map(_._4).sum - total.toDouble) < 1e-4)
  }

  test("text_term_entropy: matches a JVM recompute with the same rounding") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def round6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = StaticResults.collected(spark, "text_term_entropy")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == docs.map(_._1).toSet)
    docs.foreach { case (id, text) =>
      val tfs = text.split(" ", -1).groupBy(identity).values.map(_.length)
      val n = tfs.sum
      val slog = tfs.map(tf =>
        BigDecimal(tf) * BigDecimal(round6(math.log(tf.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      val h = round6(math.log(n.toDouble)) - slog.toDouble / n
      val (gn, gd, ge) = got(id)
      assert(gn == n.toLong, s"doc $id n_tokens")
      assert(gd == tfs.size.toLong, s"doc $id n_distinct")
      assert(math.abs(ge - h) < 1e-9, s"doc $id entropy")
      // upper bound allows the 5e-7 slack of the rounded ln(n) term
      assert(ge >= -1e-9 && ge <= math.log(n.toDouble) + 1e-6)
    }
  }

  test("join_time_band_bucketed: the banding rewrite matches the quadratic pair set") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val pairs = for {
      a <- evs; b <- evs
      if a._2 == b._2 &&
        (b._4 > a._4 || (b._4 == a._4 && b._1 > a._1)) &&
        b._4 - a._4 <= 600000000L
    } yield ((a._3, b._3), b._4 - a._4)
    val expected = pairs.groupBy(_._1).view.mapValues { ps =>
      val total = ps.map(_._2).sum
      (ps.length.toLong, total, total / ps.length / 1000)
    }.toMap
    val got = StaticResults.collected(spark, "join_time_band_bucketed")
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("events_burst_detection: busiest minute recomputes per user") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("user_id"),
        date_trunc("minute", col("ts")).cast("long").as("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = StaticResults.collected(spark, "events_burst_detection")
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val byUser = evs.groupBy(_._1)
    assert(got.keySet == byUser.keySet)
    byUser.foreach { case (u, rs) =>
      val perMin = rs.groupBy(_._2).view.mapValues(_.length.toLong)
      val (nm, ne, mx, burst) = got(u)
      assert(nm == perMin.size.toLong)
      assert(ne == rs.length.toLong)
      assert(mx == perMin.values.max)
      assert(burst == (if (perMin.values.max >= 5) 1L else 0L))
    }
  }

  test("events_interarrival_stats: gaps recompute from per-user orderings") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = evs.groupBy(_._1).values.flatMap { rs =>
      rs.sortBy(e => (e._4, e._3)).sliding(2).collect {
        case Array(prev, cur) => (cur._2, cur._4 - prev._4)
      }
    }.toSeq
    val expected = gaps.groupBy(_._1).view.mapValues { gs =>
      val v = gs.map(_._2)
      (v.length.toLong, v.min, v.max, v.sum / v.length)
    }.toMap
    val got = StaticResults.collected(spark, "events_interarrival_stats")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
  }

  test("events_growth_accounting: the DAU decomposition recomputes and sums") {
    val days = Tables.events(spark, sfStatic)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val byUser = days.groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_.toEpochDay).toSeq).toMap
    val active = days.groupBy(_._2)
    var nw = Map.empty[java.time.LocalDate, Long].withDefaultValue(0L)
    var rt = nw; var rs = nw; var ch = nw
    byUser.values.foreach { ds =>
      nw = nw.updated(ds.head, nw(ds.head) + 1)
      ds.sliding(2).foreach {
        case Seq(p, c) =>
          if (p.plusDays(1) == c) rt = rt.updated(c, rt(c) + 1)
          else {
            rs = rs.updated(c, rs(c) + 1)
            ch = ch.updated(p.plusDays(1), ch(p.plusDays(1)) + 1)
          }
        case _ => ()
      }
      ch = ch.updated(ds.last.plusDays(1), ch(ds.last.plusDays(1)) + 1)
    }
    val got = StaticResults.collected(spark, "events_growth_accounting")
      .map(r => r.getDate(0).toLocalDate ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == active.keySet)
    got.foreach { case (d, (na, n, r2, rr, c)) =>
      assert(na == active(d).length.toLong, s"$d n_active")
      assert(n == nw(d), s"$d n_new"); assert(r2 == rt(d), s"$d n_retained")
      assert(rr == rs(d), s"$d n_resurrected"); assert(c == ch(d), s"$d n_churned")
      assert(na == n + r2 + rr, s"$d decomposition must sum to DAU")
    }
  }

  test("join_null_aware_in: verdict buckets agree with Spark's own IN / NOT IN 3VL") {
    Tables.orders(spark, sfStatic).createOrReplaceTempView("naa_orders")
    Tables.customer(spark, sfStatic).createOrReplaceTempView("naa_customer")
    val got = StaticResults.collected(spark, "join_null_aware_in")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val statuses = spark.sql("SELECT DISTINCT o_orderstatus FROM naa_orders")
      .collect().map(_.getString(0))
    val nCust = Tables.customer(spark, sfStatic).count()
    statuses.foreach { st =>
      val sub = s"""SELECT CASE WHEN o_orderstatus <> 'P' AND o_custkey % 50 = 7
        THEN NULL ELSE o_custkey END FROM naa_orders WHERE o_orderstatus = '$st'"""
      val nIn = spark.sql(
        s"SELECT count(*) FROM naa_customer WHERE c_custkey IN ($sub)")
        .collect().head.getLong(0)
      val nNotIn = spark.sql(
        s"SELECT count(*) FROM naa_customer WHERE c_custkey NOT IN ($sub)")
        .collect().head.getLong(0)
      assert(got.getOrElse((st, "in"), 0L) == nIn, s"$st IN bucket")
      assert(got.getOrElse((st, "not_in"), 0L) == nNotIn, s"$st NOT IN bucket")
      assert(got.getOrElse((st, "unknown"), 0L) == nCust - nIn - nNotIn,
        s"$st unknown bucket is the 3VL remainder")
    }
    assert(statuses.exists(st => got.contains((st, "unknown"))),
      "at least one status list must carry a NULL for the test to bite")
  }

  test("report_abc_class: classes recompute from exact part revenues") {
    val pr = Tables.lineitem(spark, sfStatic)
      .join(Tables.part(spark, sfStatic), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(12,2)) " +
        "* (1 - CAST(l_discount AS DECIMAL(6,2)))")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val expected = pr.groupBy(_._1).flatMap { case (brand, parts) =>
      val sorted = parts.sortBy(p => (-scala.math.BigDecimal(p._3), p._2))
      val tot = sorted.map(_._3).reduce(_ add _)
      var cum = java.math.BigDecimal.ZERO
      val classed = sorted.map { p =>
        cum = cum.add(p._3)
        val cls =
          if (cum.multiply(java.math.BigDecimal.TEN)
            .compareTo(tot.multiply(new java.math.BigDecimal(7))) <= 0) "A"
          else if (cum.multiply(java.math.BigDecimal.TEN)
            .compareTo(tot.multiply(new java.math.BigDecimal(9))) <= 0) "B"
          else "C"
        (cls, p._3)
      }
      classed.groupBy(_._1).map { case (cls, ps) =>
        (brand, cls) -> (ps.length.toLong, ps.map(_._2).reduce(_ add _))
      }
    }
    val got = StaticResults.collected(spark, "report_abc_class")
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (n, rev)) =>
      assert(got(k)._1 == n, s"$k n_parts")
      assert(got(k)._2 == rev.doubleValue, s"$k class_revenue")
    }
  }

  test("kmeans_update_round: a full JVM Lloyd step reproduces the new centroids") {
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v => math.floor(v.toDouble * 1000).toLong).toArray))
    val cents = vecs.groupBy(_._2).view.mapValues { vs =>
      val dims = vs.head._3.length
      Array.tabulate(dims)(i =>
        math.floor(vs.map(_._3(i)).sum.toDouble / vs.length).toLong)
    }.toMap
    val assigned = vecs.map { case (id, _, qc) =>
      val best = cents.toSeq.map { case (cl, c) =>
        (qc.indices.map(i => (qc(i) - c(i)) * (qc(i) - c(i))).sum, cl)
      }.minBy(identity)
      id -> best._2
    }.toMap
    val byId = vecs.map(v => v._1 -> v._3).toMap
    val expected = assigned.groupBy(_._2).flatMap { case (cl, m) =>
      val members = m.keys.toSeq
      val dims = byId(members.head).length
      (0 until dims).map { i =>
        val s = members.map(id => byId(id)(i)).sum
        (cl, i + 1) -> (math.floor(s.toDouble / members.size).toLong,
          members.size.toLong)
      }
    }
    val got = StaticResults.collected(spark, "kmeans_update_round")
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(got(k) == v, s"cell $k") }
  }

  test("sim_hard_negatives: brute-force cross-label top-3 recomputes") {
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) {
        dab += a(i).toDouble * b(i).toDouble
        daa += a(i).toDouble * a(i).toDouble
        dbb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dab / (math.sqrt(daa) * math.sqrt(dbb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probes = vecs.filter(_._1 % 250 == 0)
    assert(probes.nonEmpty)
    val expected = probes.flatMap { case (qid, qlab, qemb) =>
      vecs.filter(_._2 != qlab)
        .map(v => (qid, v._1, cos(v._3, qemb)))
        .sortBy { case (_, id, sim) => (-sim, id) }
        .take(3)
    }.map { case (q, n, s2) => (q, n) -> s2 }.toMap
    val got = StaticResults.collected(spark, "sim_hard_negatives")
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(4)).toMap
    assert(got == expected)
  }

  test("q17_small_qty_revenue: the integer threshold matches the rational form") {
    val li = Tables.lineitem(spark, sfStatic)
      .join(Tables.part(spark, sfStatic), col("p_partkey") === col("l_partkey"))
      .select(col("p_brand"), col("l_partkey"),
        expr("CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT)").as("q10"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perPart = li.groupBy(_._2).view
      .mapValues(rs => (rs.map(_._3).sum, rs.length.toLong)).toMap
    val small = li.filter { case (_, pk, q10, _) =>
      val (sq, n) = perPart(pk)
      5 * q10 * n < sq  // q < 0.2 * avg, cleared of the division
    }
    val expected = small.groupBy(_._1).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._4).sum)
    }.toMap
    val got = StaticResults.collected(spark, "q17_small_qty_revenue")
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (b, (n, cents)) =>
      assert(got(b)._1 == n, s"$b n_small_items")
      assert(got(b)._2 == cents.toDouble / 100.0 ||
        math.abs(got(b)._2 - cents.toDouble / 100.0) < 1e-6, s"$b revenue")
      assert(got(b)._3 == got(b)._2 / 7.0, s"$b avg_yearly spelling")
    }
  }

  private def md5bucket(salt: Int, key: Long, m: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt|$key".getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(4)
    Integer.parseInt(hex, 16) % m
  }

  test("sketch_countmin_freq: estimates recompute and never underestimate") {
    val keys = Tables.orders(spark, sfStatic).select(col("o_custkey")).collect()
      .map(_.getLong(0))
    val truth = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cells = keys.flatMap(k => (0 to 3).map(r => (r, md5bucket(r, k, 1024))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = StaticResults.collected(spark, "sketch_countmin_freq")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 10)
    val expTop = truth.toSeq.sortBy { case (k, c) => (-c, k) }.take(10).toMap
    got.foreach { case (k, tc, est, over) =>
      assert(expTop(k) == tc, s"$k true count")
      val expEst = (0 to 3).map(r => cells((r, md5bucket(r, k, 1024)))).min
      assert(est == expEst, s"$k estimate")
      assert(est >= tc, s"$k CMS must never underestimate")
      assert(over == est - tc)
    }
  }

  test("sketch_bloom_fpr: zero false negatives and an exactly-recomputed bit set") {
    val members = Tables.orders(spark, sfStatic)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-01-01").cast("date"))
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val bits = members.flatMap(k => (0 to 2).map(r => md5bucket(r, k, 65536)))
    val probes = Tables.customer(spark, sfStatic).select(col("c_custkey")).collect()
      .map(_.getLong(0))
    val fp = probes.count(k => !members(k) &&
      (0 to 2).forall(r => bits(md5bucket(r, k, 65536))))
    val r = StaticResults.collected(spark, "sketch_bloom_fpr").head
    assert(r.getLong(0) == members.size.toLong)
    assert(r.getLong(1) == bits.size.toLong)
    assert(r.getLong(2) == probes.length - members.size.toLong)
    assert(r.getLong(3) == fp.toLong)
    assert(r.getLong(4) == 0L, "a Bloom filter can never false-negative")
  }

  test("ts_cusum_alarm: the windowed closed form equals the max(0, .) recursion") {
    val daily = Tables.events(spark, sfStatic)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("cents"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val got = StaticResults.collected(spark, "ts_cusum_alarm")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    daily.groupBy(_._1).foreach { case (t, rows) =>
      val xs = rows.sortBy(_._2.toEpochDay).map(_._3)
      val mu = xs.sum / xs.length
      var c = 0L; var mx = 0L; var alarms = 0L
      xs.foreach { x =>
        c = math.max(0L, c + (x - mu))
        mx = math.max(mx, c)
        if (c > mu) alarms += 1
      }
      val (nd, muc, maxc, na) = got(t)
      assert(nd == xs.length.toLong, s"$t n_days")
      assert(muc == mu, s"$t mu")
      assert(maxc == mx, s"$t max_cusum (closed form vs recursion)")
      assert(na == alarms, s"$t n_alarm_days")
    }
  }

  test("sketch_hll_linear: occupancy recomputes and the estimate tracks truth") {
    val keys = Tables.orders(spark, sfStatic).select(col("o_custkey")).collect()
      .map(_.getLong(0))
    val nTrue = keys.distinct.length.toLong
    val occ = keys.map(k => md5bucket(0, k, 4096)).distinct.length.toLong
    val r = StaticResults.collected(spark, "sketch_hll_linear").head
    assert(r.getLong(0) == 4096L)
    assert(r.getLong(1) == nTrue)
    assert(r.getLong(2) == occ)
    assert(r.getLong(3) == 4096L - occ)
    val est = math.floor(4096 * BigDecimal(math.log(4096.0 / (4096 - occ)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.5).toLong
    assert(r.getLong(4) == est, "estimate spelling")
    assert(math.abs(est - nTrue).toDouble / nTrue < 0.10,
      "linear counting should be within 10% at this occupancy")
  }

  test("funnel_time_to_convert: the gap histogram recomputes from raw events") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_type"),
        unix_micros(expr("date_trunc('second', ts)")).as("t")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = evs.groupBy(_._1).values.flatMap { rs =>
      val signups = rs.filter(_._2 == "signup").map(_._3)
      if (signups.isEmpty) None
      else {
        val t1 = signups.min
        val purch = rs.filter(e => e._2 == "purchase" && e._3 > t1).map(_._3)
        if (purch.isEmpty) None else Some((purch.min - t1) / 3600000000L)
      }
    }.toSeq.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = StaticResults.collected(spark, "funnel_time_to_convert")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("stream_late_drop_audit: lateness recomputes under the md5 arrival jitter") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = evs.groupBy(_._1).view.mapValues { rs =>
      val arr = rs.map { case (_, id, t) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(4)
        val jit = Integer.parseInt(hex, 16) % 3601 - 1800
        (t + jit.toLong * 1000000L, id, t)
      }.sortBy(e => (e._1, e._2))
      var wm = Long.MinValue; var late = 0L
      arr.foreach { case (_, _, t) =>
        wm = math.max(wm, t)
        if (t < wm - 600000000L) late += 1
      }
      (rs.length.toLong, late)
    }.toMap
    val got = StaticResults.collected(spark, "stream_late_drop_audit")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0), "the jitter must actually produce lateness")
  }

  test("drift_unigram_jsd: a JVM recompute with the same rounding agrees, and 0 <= JSD <= ln 2") {
    val toks = Tables.documents(spark, sfStatic)
      .select((col("doc_id") % 2).as("coh"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(t => (r.getLong(0), t)))
    val tf = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val np = tf.collect { case ((0L, _), c) => c }.sum
    val nq = tf.collect { case ((1L, _), c) => c }.sum
    val terms = tf.keys.map(_._2).toSet
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    var sp = BigDecimal(0); var sq = BigDecimal(0)
    terms.foreach { t =>
      val cp = tf.getOrElse((0L, t), 0L); val cq = tf.getOrElse((1L, t), 0L)
      val a = cp * nq; val b = cq * np
      if (cp > 0) sp += BigDecimal(cp) * r6(math.log(2.0 * a / (a + b)))
      if (cq > 0) sq += BigDecimal(cq) * r6(math.log(2.0 * b / (a + b)))
    }
    val expected = 0.5 * (sp.toDouble / np + sq.toDouble / nq)
    val r = StaticResults.collected(spark, "drift_unigram_jsd").head
    assert(r.getLong(3) == np && r.getLong(4) == nq)
    assert(r.getLong(2) == terms.size.toLong)
    assert(r.getDouble(5) == expected, "JSD value (same rounding)")
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= math.log(2.0) + 1e-6,
      "JSD is bounded by ln 2")
  }

  test("dedup_url_canonical: groups collapse exactly to doc_id div 8") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val expected = docs.groupBy(_ / 8)
      .map { case (g, ds) =>
        s"www.example.com/docs/$g?id=$g" ->
          (ds.distinct.length.toLong, ds.length.toLong, ds.min)
      }
    val got = StaticResults.collected(spark, "dedup_url_canonical")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (_, nd, keep)) =>
      assert(got(k)._2 == nd, s"$k n_docs")
      assert(got(k)._3 == keep, s"$k survivor")
      assert(got(k)._1 >= 1 && got(k)._1 <= got(k)._2, s"$k raw-variant bound")
    }
    assert(got.values.map(_._2).sum == docs.length.toLong,
      "every doc lands in exactly one canonical group")
    assert(got.values.exists(v => v._1 > 1 && v._1 < v._2),
      "the mess must produce raw variants AND some raw URLs must repeat")
  }

  test("report_ytd_running: YTD restarts each January and ends at the year total") {
    val rows = StaticResults.collected(spark, "report_ytd_running")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val byYear = rows.groupBy(_._1)
    val orders = Tables.orders(spark, sfStatic)
      .select(year(col("o_orderdate")).as("y"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy(col("y")).agg(sum(col("cents")).as("c")).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    byYear.foreach { case (y, ms) =>
      val sorted = ms.sortBy(_._2)
      assert(sorted.head._3 == sorted.head._4, s"$y first month YTD = month")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 > a._4, s"$y YTD strictly increases")
        case _ => ()
      }
      assert(sorted.last._4 == orders(y).toDouble / 100.0, s"$y year total")
    }
  }

  test("multimodal_image_tiles: tiles exactly partition every synthesized image") {
    val got = StaticResults.collected(spark, "multimodal_image_tiles")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val byDoc = got.groupBy(_._1)
    Tables.documents(spark, sfStatic).select(col("doc_id")).collect()
      .map(_.getLong(0)).foreach { id =>
        val w = 640 + (id % 5) * 160; val h = 480 + (id % 7) * 120
        val tiles = byDoc(id)
        assert(tiles.length == ((w + 511) / 512) * ((h + 511) / 512),
          s"$id tile count")
        assert(tiles.map(_._8).sum == w * h, s"$id pixels partition the image")
        tiles.foreach { t =>
          assert(t._6 > t._4 && t._7 > t._5, s"$id non-degenerate tile")
          assert(t._6 <= w && t._7 <= h, s"$id clamped to the image")
        }
      }
  }

  test("sketch_cms_join_forecast: estimate recomputes and never underestimates") {
    val a = Tables.events(spark, sfStatic).select(col("user_id")).collect()
      .map(_.getLong(0))
    val b = Tables.orders(spark, sfStatic).select(col("o_custkey")).collect()
      .map(_.getLong(0))
    val ca = a.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cb = b.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val trueRows = ca.map { case (k, c) => c * cb.getOrElse(k, 0L) }.sum
    def cms(ks: Array[Long]) = ks
      .flatMap(k => (0 to 3).map(r => (r, md5bucket(r, k, 16384))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sa = cms(a); val sb = cms(b)
    val est = (0 to 3).map { r =>
      (0 until 16384).map(bk =>
        sa.getOrElse((r, bk), 0L) * sb.getOrElse((r, bk), 0L)).sum
    }.min
    val row = StaticResults.collected(spark, "sketch_cms_join_forecast").head
    assert(row.getLong(2) == trueRows)
    assert(row.getLong(3) == est, "inner-product estimate")
    assert(est >= trueRows, "CMS inner product never underestimates")
  }

  test("report_value_migration: bands recompute against each year's floor mean") {
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def yearMap(y: Int) = orders.filter(_._2 == y).groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    val m95 = yearMap(1995); val m96 = yearMap(1996)
    val a95 = m95.values.sum / m95.size; val a96 = m96.values.sum / m96.size
    def band(c: Option[Long], avg: Long) = c match {
      case None => "none"
      case Some(v) if v * 2 < avg => "low"
      case Some(v) if v <= avg * 2 => "mid"
      case _ => "high"
    }
    val expected = (m95.keySet ++ m96.keySet).toSeq
      .map(k => (band(m95.get(k), a95), band(m96.get(k), a96)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = StaticResults.collected(spark, "report_value_migration")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("agg_gini_value: the rank formula recomputes and stays in [0, 1)") {
    val cust = Tables.customer(spark, sfStatic)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cents = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expected = cents.toSeq.groupBy { case (k, _) => cust(k) }
      .map { case (seg, cs) =>
        val sorted = cs.sortBy { case (k, c) => (c, k) }.map(_._2)
        val n = sorted.length.toLong
        val total = sorted.sum
        val rx = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
        seg -> (n, total,
          (2 * rx - (n + 1) * total).toDouble / (n.toDouble * total))
      }
    val got = StaticResults.collected(spark, "agg_gini_value")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (seg, v) =>
      assert(got(seg) == v, s"$seg gini recompute")
      assert(v._3 >= 0.0 && v._3 < 1.0, s"$seg gini bounds")
    }
  }

  test("report_xyz_variability: classes recompute from weekly demand moments") {
    val wk = Tables.lineitem(spark, sfStatic)
      .select(col("l_partkey"),
        expr("datediff(l_shipdate, DATE '1992-01-01') div 7").as("w"),
        expr("CAST(CAST(l_quantity AS DECIMAL(12,4)) * 10 AS BIGINT)").as("q"))
      .groupBy(col("l_partkey"), col("w")).agg(sum(col("q")).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expected = wk.groupBy(_._1).values.map { rs =>
      val n = rs.length.toLong; val s = rs.map(_._2).sum
      val s2 = rs.map(x => x._2 * x._2).sum
      val num = n * s2 - s * s
      val cls = if (4 * num <= s * s) "X" else if (num <= s * s) "Y" else "Z"
      (cls, n, s)
    }.toSeq.groupBy(_._1).view.mapValues { ps =>
      (ps.length.toLong, ps.map(_._2).sum, ps.map(_._3).sum)
    }.toMap
    val got = StaticResults.collected(spark, "report_xyz_variability")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected)
    assert(got.values.map(_._1).sum == wk.map(_._1).distinct.length.toLong)
  }

  test("attribution_time_decay: credits recompute and dust is bounded by touches") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val clicks = evs.filter(_._3 == "click").groupBy(_._2)
    val expected = evs.filter(_._3 == "purchase").flatMap {
      case (pid, u, _, pt, cents) =>
        val ws = clicks.getOrElse(u, Array.empty[(Long, Long, String, Long, Long)])
          .filter(c => c._4 <= pt && pt - c._4 <= 604800000000L)
          .map(c => 1L << (6 - (pt - c._4) / 86400000000L).toInt)
        if (ws.isEmpty) None
        else {
          val wsum = ws.sum
          val credited = ws.map(w => cents * w / wsum).sum
          Some(pid -> (ws.length.toLong, wsum, credited, cents - credited))
        }
    }.toMap
    val got = StaticResults.collected(spark, "attribution_time_decay")
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
    got.values.foreach { case (nt, _, _, dust) =>
      assert(dust >= 0 && dust < nt, "dust bounded by the touch count")
    }
  }

  test("events_hourly_heatmap: integer dow/hour recompute and match the calendar") {
    val evs = Tables.events(spark, sfStatic)
      .select(unix_micros(col("ts")).as("us"),
        expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = evs.groupBy { case (us, _) =>
      ((us / 86400000000L + 4) % 7, (us / 3600000000L) % 24)
    }.view.mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
    val got = StaticResults.collected(spark, "events_hourly_heatmap")
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected)
    // spelling sanity: the integer dow agrees with java.time's calendar
    val sample = evs.head._1
    val cal = java.time.Instant.ofEpochSecond(sample / 1000000L)
      .atZone(java.time.ZoneOffset.UTC).getDayOfWeek.getValue % 7 // Sunday=0
    assert((sample / 86400000000L + 4) % 7 == cal.toLong)
  }

  test("harmonize_fx_convert: per-order floor conversion recomputes") {
    val orders = Tables.orders(spark, sfStatic)
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("c")).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
    val expected = orders.groupBy(o => (o._1, o._2)).view.mapValues { os =>
      val rate = 900L + (os.head._2 - 1) * 10
      (os.length.toLong, os.map(_._3).sum, os.map(o => o._3 * rate / 1000).sum)
    }.toMap
    val got = StaticResults.collected(spark, "harmonize_fx_convert")
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    // conversion is per ORDER then summed, not floor-of-sum
    got.foreach { case ((_, m), (_, native, usd)) =>
      val rate = 900L + (m - 1) * 10
      assert(usd <= native * rate / 1000, "sum of floors <= floor of sum")
    }
  }

  test("split_by_user_leakfree: user sets are disjoint and exhaustive") {
    val users = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(u: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      Integer.parseInt(hex, 16) % 10 match {
        case 0 => "test"; case 1 => "valid"; case _ => "train"
      }
    }
    val bySplit = users.map(_._1).distinct.groupBy(bucket)
    val got = StaticResults.collected(spark, "split_by_user_leakfree")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == bySplit.keySet)
    bySplit.foreach { case (s2, us) =>
      assert(got(s2)._1 == us.length.toLong, s"$s2 n_users")
    }
    val sets = bySplit.values.map(_.toSet).toSeq
    sets.combinations(2).foreach { case Seq(x, y2) =>
      assert((x & y2).isEmpty, "splits must not share users")
    }
    assert(sets.map(_.size).sum == users.map(_._1).distinct.length)
    assert(got.values.map(_._2).sum == users.length.toLong)
  }

  test("sketch_hll_registers: registers and the harmonic estimate recompute exactly") {
    val keys = Tables.orders(spark, sfStatic).select(col("o_custkey")).collect()
      .map(_.getLong(0))
    val regs = Array.fill(64)(0)
    keys.foreach { k =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val hv = java.lang.Long.parseLong(hex, 16)
      val b = (hv / 67108864L).toInt
      val w2 = hv % 67108864L
      val rho = if (w2 == 0) 27
        else 27 - java.lang.Long.toBinaryString(w2).length
      regs(b) = math.max(regs(b), rho)
    }
    val z = regs.map(m2 => math.pow(2.0, -m2)).sum
    val est = math.floor(0.709 * 64 * 64 / z + 0.5).toLong
    val nTrue = keys.distinct.length.toLong
    val r = StaticResults.collected(spark, "sketch_hll_registers").head
    assert(r.getLong(0) == 64L)
    assert(r.getLong(1) == nTrue)
    assert(r.getLong(2) == regs.count(_ == 0).toLong)
    assert(r.getLong(3) == est, "harmonic-mean estimate (exact dyadic sum)")
    assert(math.abs(est - nTrue).toDouble / nTrue < 0.4,
      "raw HLL should land within ~3 standard errors at m=64")
  }

  test("ts_order_gap_survival: the curve recomputes and is monotone decreasing") {
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay, r.getLong(2)))
    val gaps = orders.groupBy(_._1).values.flatMap { os =>
      os.sortBy(o => (o._2, o._3)).sliding(2).collect {
        case Array(a, b) => b._2 - a._2
      }
    }.toSeq
    val got = StaticResults.collected(spark, "ts_order_gap_survival")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == Set(30L, 60L, 90L, 120L, 180L, 360L))
    got.foreach { case (t, (n, ex, ppm)) =>
      assert(n == gaps.length.toLong, s"$t n_gaps")
      assert(ex == gaps.count(_ > t).toLong, s"$t n_exceeding")
      assert(ppm == ex * 1000000L / n, s"$t survival_ppm")
    }
    val curve = got.toSeq.sortBy(_._1).map(_._2._2)
    assert(curve == curve.sorted.reverse, "survival is monotone decreasing")
  }

  test("dq_order_lineitem_dates: violation counts recompute per order year") {
    val joined = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfStatic)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(year(col("o_orderdate")).as("y"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("dd"))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong))
    val expected = joined.groupBy(_._1).view.mapValues { rs =>
      val v = rs.count(_._2 < 0).toLong
      (rs.length.toLong, v, rs.map(_._2).min, v * 1000000L / rs.length)
    }.toMap
    val got = StaticResults.collected(spark, "dq_order_lineitem_dates")
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0), "the audit must measure a real defect rate")
  }

  test("agg_multi_distinct: counts recompute and the plan uses one Expand, one scan") {
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderpriority"), col("o_custkey"),
        to_date(col("o_orderdate")).as("d")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2).toLocalDate))
    val expected = orders.groupBy(_._1).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).distinct.length.toLong,
        rs.map(_._3).distinct.length.toLong,
        rs.map(r => (r._2, r._3)).distinct.length.toLong)
    }.toMap
    val df = Aggregates.aggMultiDistinct.run(spark, sfStatic)
    val got = StaticResults.collected(spark, "agg_multi_distinct")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    // count on sparkPlan: the AQE-wrapped executedPlan string prints
    // the scan once per plan snapshot and double-counts
    val plan = df.queryExecution.sparkPlan
    assert(plan.toString.contains("Expand"),
      "multi-distinct must plan via Expand")
    assert(plan.collectLeaves().size == 1,
      "the fact must be scanned exactly once")
  }

  test("stream_tumbling_distinct: distinct users recompute per 6h window") {
    val evs = Tables.events(spark, sfStatic)
      .select(unix_micros(col("ts")).as("us"), col("event_type"),
        col("user_id")).collect()
      .map(r => (r.getLong(0) / 21600000000L, r.getString(1), r.getLong(2)))
    val expected = evs.groupBy(e => (e._1, e._2)).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._3).distinct.length.toLong)
    }.toMap
    val got = StaticResults.collected(spark, "stream_tumbling_distinct")
      .map { r =>
        val start = r.getTimestamp(0).getTime / 1000 * 1000000L
        ((start / 21600000000L, r.getString(1)), (r.getLong(2), r.getLong(3)))
      }.toMap
    assert(got == expected)
    got.values.foreach { case (n, u) => assert(u <= n) }
  }

  test("corpus_length_log2: every bucket's extrema respect its power-of-two range") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).filter(_._2 >= 1)
    val expected = docs.groupBy { case (l, n) =>
      (l, 63 - java.lang.Long.numberOfLeadingZeros(n))
    }.view.mapValues(rs =>
      (rs.length.toLong, rs.map(_._2).sum, rs.map(_._2).min, rs.map(_._2).max))
      .toMap
    val got = StaticResults.collected(spark, "corpus_length_log2")
      .map(r => (r.getString(0), r.getLong(1).toInt) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
    got.foreach { case ((_, b), (_, _, mn, mx)) =>
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"bucket $b extrema inside [2^$b, 2^${b + 1})")
    }
  }

  test("profile_key_skew: top-10 selection and ppm arithmetic recompute") {
    val counts = Tables.orders(spark, sfStatic).select(col("o_custkey")).collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum
    val nd = counts.size.toLong
    val expectedTop = counts.toSeq.sortBy { case (k, n) => (-n, k) }.take(10)
    val rows = StaticResults.collected(spark, "profile_key_skew")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    assert(rows.map(t => (t._1, t._2)).toSeq == expectedTop)
    rows.foreach { case (_, n, share, vsAvg) =>
      assert(share == n * 1000000L / total)
      assert(vsAvg == n * nd * 1000000L / total)
    }
  }
}
