package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 second-batch additions,
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle, so a systematic cross-engine bug can't hide a
  * wrong formulation (the R5OpsSpec discipline).
  */
class R12bOpsSpec extends SparkSpec {

  private val keys = Seq(
    "q5_local_supplier", "q10_returned_items", "graph_jaccard_neighbors",
    "tokenizer_bpe_pairs", "sample_weighted_pps", "shard_token_balanced",
    "stats_chi_square", "ts_autocorr_daily", "win_streaks_daily",
    "q14_promo_revenue", "q16_supplier_variety", "embed_top_component",
    "q22_no_order_customers", "stream_custom_sessions", "graph_bfs_levels",
    "q6_revenue_delta", "q13_customer_distribution", "q15_top_supplier",
    "q19_discounted_revenue", "dedup_band_tuning", "embed_cosine_histogram")

  test("every r12b key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("sample_weighted_pps: multiplicities sum to exactly n=5 per source") {
    val rows = StaticResults.collected(spark, "sample_weighted_pps")
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      val total = rs.map(_.getLong(3)).sum
      assert(total == 5L, s"$src: systematic PPS must place exactly n points, got $total")
      assert(rs.forall(_.getLong(3) >= 1L), s"$src: selected doc with multiplicity < 1")
    }
    // every source present in the fixture is sampled
    val allSources = Tables.documents(spark, sfStatic)
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(bySource.keySet == allSources)
  }

  test("sample_weighted_pps: docs heavier than W/n are always selected") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val w = docs.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val selected = StaticResults.collected(spark, "sample_weighted_pps")
      .map(r => (r.getString(0), r.getLong(1))).toSet
    docs.filter { case (s0, _, nc) => nc * 5 > w(s0) }.foreach { case (s0, id, _) =>
      assert(selected.contains((s0, id)),
        s"doc $id in $s0 outweighs W/n but was not selected")
    }
  }

  test("shard_token_balanced: shard stats partition each language exactly") {
    val rows = StaticResults.collected(spark, "shard_token_balanced")
    val docs = Tables.documents(spark, sfStatic)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val (nDocs, nChars) = docs(lang)
      assert(rs.map(_.getLong(2)).sum == nDocs, s"$lang: doc count mismatch")
      assert(rs.map(_.getLong(3)).sum == nChars, s"$lang: char total mismatch")
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.head == 0L && ids.last == ids.length - 1L,
        s"$lang: shard ids not contiguous from 0: ${ids.mkString(",")}")
    }
  }

  test("graph_jaccard_neighbors: top pairs recompute from JVM part sets") {
    val sp = Tables.lineitem(spark, sfStatic)
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parts = sp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = StaticResults.collected(spark, "graph_jaccard_neighbors")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "pair not canonicalized a < b")
      val common = (parts(a) & parts(b)).size.toLong
      val union = (parts(a) | parts(b)).size.toLong
      assert(r.getLong(2) == common, s"($a,$b): common mismatch")
      assert(r.getLong(3) == parts(a).size.toLong, s"($a,$b): deg_a mismatch")
      assert(r.getLong(4) == parts(b).size.toLong, s"($a,$b): deg_b mismatch")
      assert(r.getLong(5) == common * 1000000L / union, s"($a,$b): ppm mismatch")
    }
    // ranking: non-increasing jaccard down the list
    val ppm = rows.map(_.getLong(5))
    assert(ppm.zip(ppm.tail).forall { case (x, y) => x >= y })
  }

  test("tokenizer_bpe_pairs: pair counts recompute from raw text in JVM") {
    val texts = Tables.documents(spark, sfStatic).select(col("text")).collect()
      .map(_.getString(0))
    val wc = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.split(" ", -1).filter(_.length >= 2)
      .foreach(t => wc(t) = wc.getOrElse(t, 0L) + 1L))
    val occ = scala.collection.mutable.Map.empty[String, Long]
    val words = scala.collection.mutable.Map.empty[String, Set[String]]
    wc.foreach { case (t, c) =>
      t.sliding(2).foreach { p =>
        occ(p) = occ.getOrElse(p, 0L) + c
        words(p) = words.getOrElse(p, Set.empty) + t
      }
    }
    val expected = occ.toSeq.map { case (p, c) => (p, c, words(p).size.toLong) }
      .sortBy { case (p, c, _) => (-c, p) }.take(40)
    val got = StaticResults.collected(spark, "tokenizer_bpe_pairs")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("stats_chi_square: per-lang contributions recompute in JVM doubles") {
    val obs = Tables.documents(spark, sfStatic)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val langs = obs.keys.map(_._1).toSeq.distinct
    val sources = obs.keys.map(_._2).toSeq.distinct
    val rt = langs.map(l => l -> obs.collect { case ((l2, _), c) if l2 == l => c }.sum).toMap
    val ct = sources.map(s0 => s0 -> obs.collect { case ((_, s2), c) if s2 == s0 => c }.sum).toMap
    val n = obs.values.sum
    val rows = StaticResults.collected(spark, "stats_chi_square")
    assert(rows.map(_.getString(0)).toSeq == langs.sorted)
    rows.foreach { r =>
      val l = r.getString(0)
      assert(r.getLong(1) == rt(l))
      val chi = sources.map { s0 =>
        val o = obs.getOrElse((l, s0), 0L)
        val diff = (o * n - rt(l) * ct(s0)).toDouble
        diff * diff / (n.toDouble * rt(l) * ct(s0))
      }.sum
      assert(math.abs(r.getLong(2) - chi * 1000) <= 1.0,
        s"$l: chi2 milli ${r.getLong(2)} vs JVM ${chi * 1000}")
    }
  }

  test("ts_autocorr_daily: coefficients bounded and match a JVM Pearson") {
    val rows = StaticResults.collected(spark, "ts_autocorr_daily")
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sfStatic)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        (col("value").cast("decimal(12,4)") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("cents"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    rows.foreach { r =>
      val et = r.getString(0)
      val series = daily.filter(_._1 == et).sortBy(_._2.getTime).map(_._3)
      val pairs = series.zip(series.tail).map { case (prev, cur) => (cur, prev) }
      val n = pairs.length.toDouble
      assert(r.getLong(1) == pairs.length.toLong)
      val (sx, sy) = (pairs.map(_._1).sum.toDouble, pairs.map(_._2).sum.toDouble)
      val sxx = pairs.map(p => p._1.toDouble * p._1).sum
      val syy = pairs.map(p => p._2.toDouble * p._2).sum
      val sxy = pairs.map(p => p._1.toDouble * p._2).sum
      val jvm = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      val got = r.getDouble(2)
      assert(got >= -1.0001 && got <= 1.0001, s"$et: out of range $got")
      assert(math.abs(got - jvm) < 1e-9, s"$et: $got vs JVM $jvm")
    }
  }

  test("win_streaks_daily: streak decomposition recomputes in JVM") {
    val active = Tables.events(spark, sfStatic)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val rows = StaticResults.collected(spark, "win_streaks_daily")
    val byUser = active.groupBy(_._1)
    assert(rows.map(_.getLong(0)).toSet == byUser.keySet)
    rows.foreach { r =>
      val days = byUser(r.getLong(0)).map(_._2).sortBy(_.toEpochDay)
      // decompose into maximal consecutive runs
      val runs = days.foldLeft(List.empty[List[java.time.LocalDate]]) {
        case (acc, d) => acc match {
          case (h :: t) :: rest if h.plusDays(1) == d => (d :: h :: t) :: rest
          case _ => List(d) :: acc
        }
      }.map(_.reverse).reverse
      assert(r.getLong(1) == days.length.toLong, "n_active_days")
      assert(r.getLong(2) == runs.length.toLong, "n_streaks")
      val longest = runs.map(_.length).max
      assert(r.getLong(3) == longest.toLong, "longest_streak")
      val earliestLongest = runs.filter(_.length == longest).map(_.head)
        .minBy(_.toEpochDay)
      assert(r.getDate(4).toLocalDate == earliestLongest, "longest_start")
    }
  }

  test("q14_promo_revenue: ratio recomputes from JVM BigDecimal sums") {
    import java.math.{BigDecimal => JBD}
    val parts = Tables.part(spark, sfStatic)
      .select(col("p_partkey"), col("p_type")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_partkey"), col("l_shipdate"), col("l_extendedprice"),
        col("l_discount")).collect()
      .filter(r => { val d = r.get(1).toString; d >= "1997-01-01" && d < "1998-01-01" })
    val byMonth = li.groupBy(_.get(1).toString.substring(0, 7))
    val rows = StaticResults.collected(spark, "q14_promo_revenue")
      .map(r => r.getDate(0).toString.substring(0, 7) -> r).toMap
    assert(rows.keySet == byMonth.keySet)
    byMonth.foreach { case (m, rs) =>
      def rev(f: org.apache.spark.sql.Row => Boolean) = rs.filter(f)
        .map(r => new JBD(r.getDouble(2)).setScale(2, java.math.RoundingMode.HALF_UP)
          .multiply(JBD.ONE.subtract(
            new JBD(r.getDouble(3)).setScale(2, java.math.RoundingMode.HALF_UP))))
        .foldLeft(JBD.ZERO)(_ add _)
      val pr = rev(r => parts(r.getLong(0)) == "PROMO")
      val tr = rev(_ => true)
      val row = rows(m)
      assert(math.abs(row.getDouble(1) - pr.doubleValue) < 1e-9, s"$m promo")
      assert(math.abs(row.getDouble(2) - tr.doubleValue) < 1e-9, s"$m total")
      val ppm = math.floor(pr.doubleValue * 1000000 / tr.doubleValue + 0.5).toLong
      assert(row.getLong(3) == ppm, s"$m ppm")
    }
  }

  test("q16_supplier_variety: distinct counts exclude flagged suppliers") {
    val excluded = Tables.supplier(spark, sfStatic)
      .filter(col("s_acctbal") < 0).collect().map(_.getLong(0)).toSet
    val parts = Tables.part(spark, sfStatic)
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_type"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getString(3))).toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_partkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byGroup = li
      .filter { case (pk, sk) => parts(pk)._3 != "PROMO" && !excluded.contains(sk) }
      .groupBy { case (pk, _) => (parts(pk)._1, parts(pk)._2) }
      .view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val rows = StaticResults.collected(spark, "q16_supplier_variety")
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { r =>
      val k = (r.getString(0), r.getInt(1))
      assert(byGroup(k) == r.getLong(2), s"$k count")
    }
    // descending by count, and top row is the global max
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    assert(cnts.head == byGroup.values.max)
  }

  test("embed_top_component: the fixed-point power iteration replays in JVM BigInt") {
    val embs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).toArray)
    val m = embs.map(_.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))
    val dims = m.head.length
    def iterate(v: Array[Long]): Array[Long] = {
      val u = new Array[Long](dims)
      m.foreach { row =>
        var s = 0L
        var j = 0
        while (j < dims) { s += row(j) * v(j); j += 1 }
        var i = 0
        while (i < dims) { u(i) += row(i) * s; i += 1 }
      }
      val mx = math.max(u.map(math.abs).max, 1L)
      u.map(x => if (x < 0) -((-x * 1000L) / mx) else (x * 1000L) / mx)
    }
    val expected = iterate(iterate(Array.fill(dims)(1000L)))
    val rows = StaticResults.collected(spark, "embed_top_component")
    assert(rows.length == dims)
    rows.foreach(r => assert(r.getLong(1) == expected(r.getLong(0).toInt - 1),
      s"dim ${r.getLong(0)}"))
    // normalization: some dim carries exactly ±1000 milli
    assert(rows.map(r => math.abs(r.getLong(1))).max == 1000L)
  }

  test("q22_no_order_customers: threshold and exclusion recompute in JVM") {
    import java.math.{BigDecimal => JBD}
    val custs = Tables.customer(spark, sfStatic)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val pos = custs.filter(_._3 > 0.0)
    val threshold = pos.map(c => new JBD(c._3).setScale(2, java.math.RoundingMode.HALF_UP))
      .foldLeft(JBD.ZERO)(_ add _).doubleValue / pos.length
    val recent = Tables.orders(spark, sfStatic)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    val nations = Tables.nation(spark, sfStatic).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val expected = custs
      .filter(c => c._3 > threshold && !recent.contains(c._1))
      .groupBy(c => nations(c._2))
      .view.mapValues(_.length.toLong).toMap
    val rows = StaticResults.collected(spark, "q22_no_order_customers")
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
    assert(rows.nonEmpty)
  }

  test("stream_custom_sessions: batch twin emits all but each user's last session") {
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000 * 1000))
    val byUser = events.groupBy(_._1)
    val expected = byUser.flatMap { case (u, es) =>
      val ts = es.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[List[Long]]) { (acc, t) =>
        acc match {
          case (h :: tl) :: rest if t - h < 1800L * 1000 => (t :: h :: tl) :: rest
          case _ => List(t) :: acc
        }
      }.map(_.reverse).reverse
      sessions.dropRight(1).map(sess => (u, sess.head, sess.length.toLong))
    }.toSet
    val got = StaticResults.collected(spark, "stream_custom_sessions")
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(got == expected)
  }

  test("graph_bfs_levels: frontier census recomputes from a JVM BFS") {
    val eb = Tables.orders(spark, sfStatic)
      .join(Tables.lineitem(spark, sfStatic), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
    eb.foreach { case (c, s0) =>
      adj(c) = adj.getOrElse(c, Set.empty) + s0
      adj(s0) = adj.getOrElse(s0, Set.empty) + c
    }
    val seed = eb.flatMap(e => Seq(e._1, e._2)).min
    var visited = Set(seed)
    var frontier = Set(seed)
    val levels = scala.collection.mutable.ListBuffer((0L, Set(seed)))
    for (lvl <- 1 to 3) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- visited
      visited ++= frontier
      if (frontier.nonEmpty) levels += ((lvl.toLong, frontier))
    }
    val rows = StaticResults.collected(spark, "graph_bfs_levels")
    val got = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = levels.map { case (l, s0) =>
      l -> (s0.size.toLong, s0.min, s0.max) }.toMap
    assert(got == want)
  }

  test("q6/q13/q15/q19: the second TPC-H batch recomputes in JVM") {
    import java.math.{BigDecimal => JBD}
    def dec2(x: Double) = new JBD(x).setScale(2, java.math.RoundingMode.HALF_UP)
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString, r.getDouble(3),
        dec2(r.getDouble(4)), dec2(r.getDouble(5))))
    // q6: filter + conditional sum
    val q6rows = li.filter(l => l._3 >= "1997-01-01" && l._3 < "1998-01-01" &&
      l._6.doubleValue >= 0.05 && l._6.doubleValue <= 0.07 && l._4 < 24)
    val q6 = StaticResults.collected(spark, "q6_revenue_delta").head
    assert(q6.getLong(1) == q6rows.length.toLong)
    val q6rev = q6rows.map(l => l._5.multiply(l._6)).foldLeft(JBD.ZERO)(_ add _)
    assert(math.abs(q6.getDouble(0) - q6rev.doubleValue) < 1e-9)
    // q13: histogram of per-customer order counts, with a 0 bucket
    val custs = Tables.customer(spark, sfStatic).select(col("c_custkey"))
      .collect().map(_.getLong(0))
    val ordCount = Tables.orders(spark, sfStatic).select(col("o_custkey")).collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val hist = custs.map(c => ordCount.getOrElse(c, 0L))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val q13 = StaticResults.collected(spark, "q13_customer_distribution")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q13 == hist)
    // q15: all suppliers achieving the max quarterly revenue (ties kept)
    val q15rows = li.filter(l => l._3 >= "1997-01-01" && l._3 < "1997-04-01")
    val bySupp = q15rows.groupBy(_._2).view.mapValues(
      _.map(l => l._5.multiply(JBD.ONE.subtract(l._6)))
        .foldLeft(JBD.ZERO)(_ add _)).toMap
    val mx = bySupp.values.max
    val winners = bySupp.filter(_._2.compareTo(mx) == 0).keySet
    val q15 = StaticResults.collected(spark, "q15_top_supplier")
    assert(q15.map(_.getLong(0)).toSet == winners)
    q15.foreach(r => assert(math.abs(r.getDouble(2) - mx.doubleValue) < 1e-9))
    // q19: disjunctive arms neither drop nor duplicate
    val parts = Tables.part(spark, sfStatic)
      .select(col("p_partkey"), col("p_brand"), col("p_size")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val arms = li.filter { l =>
      val (b, sz) = parts(l._1)
      (b == "Brand#1" && sz >= 1 && sz <= 15 && l._4 >= 1 && l._4 <= 20) ||
      (b == "Brand#2" && sz >= 1 && sz <= 25 && l._4 >= 5 && l._4 <= 30) ||
      (b == "Brand#3" && sz >= 1 && sz <= 35 && l._4 >= 10 && l._4 <= 40)
    }
    val q19 = StaticResults.collected(spark, "q19_discounted_revenue").head
    assert(q19.getLong(1) == arms.length.toLong)
    val q19rev = arms.map(l => l._5.multiply(JBD.ONE.subtract(l._6)))
      .foldLeft(JBD.ZERO)(_ add _)
    assert(math.abs(q19.getDouble(0) - q19rev.doubleValue) < 1e-9)
  }

  test("dedup_band_tuning: schemes nest (b2r4 ⊆ b4r2 ⊆ b8r1) and b4r2 matches production") {
    val rows = StaticResults.collected(spark, "dedup_band_tuning")
      .map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("b2r4", "b4r2", "b8r1"))
    // a 4-row band match implies its 2-row halves match, which imply
    // the single-row bands match: candidate sets are nested
    assert(rows("b2r4")._1 <= rows("b4r2")._1)
    assert(rows("b4r2")._1 <= rows("b8r1")._1)
    assert(rows("b2r4")._2 <= rows("b4r2")._2)
    assert(rows("b4r2")._2 <= rows("b8r1")._2)
    // the 4×2 scheme IS the production banding — its verified count
    // equals the graded dedup_minhash_lsh pair list
    val production = StaticResults.collected(spark, "dedup_minhash_lsh").length.toLong
    assert(rows("b4r2")._2 == production)
    // ppm consistency
    rows.values.foreach { case (c, v, ppm) =>
      assert(ppm == (if (c == 0) 0L else v * 1000000L / c))
      assert(v <= c)
    }
  }

  test("embed_cosine_histogram: per-label masses sum to C(n,2), buckets bounded") {
    val perLabel = Tables.embeddings(spark, sfStatic)
      .groupBy(col("label")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = StaticResults.collected(spark, "embed_cosine_histogram")
    rows.foreach { r =>
      assert(r.getLong(1) >= -10L && r.getLong(1) <= 10L, "bucket out of range")
    }
    val sums = rows.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    perLabel.foreach { case (l, n) =>
      assert(sums.getOrElse(l, 0L) == n * (n - 1) / 2, s"label $l pair mass")
    }
  }

  test("q5/q10: revenue recomputes from a JVM join at sf0.001") {
    import java.math.{BigDecimal => JBD}
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"), col("l_returnflag")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        new JBD(r.getDouble(2)).setScale(2, java.math.RoundingMode.HALF_UP),
        new JBD(r.getDouble(3)).setScale(2, java.math.RoundingMode.HALF_UP),
        r.getString(4)))
    val ord = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString))
    // Q10 check: top row's revenue recomputes exactly
    val q10 = StaticResults.collected(spark, "q10_returned_items")
    assert(q10.nonEmpty && q10.length <= 20)
    val custOf = ord.map(o => o._1 -> o._2).toMap
    val inQ = ord.filter(o => o._3 >= "1997-01-01" && o._3 < "1997-07-01")
      .map(_._1).toSet
    val topCust = q10.head.getLong(0)
    val expected = li.filter(l => l._5 == "R" && inQ.contains(l._1) &&
        custOf(l._1) == topCust)
      .map(l => l._3.multiply(JBD.ONE.subtract(l._4)))
      .foldLeft(JBD.ZERO)(_ add _)
    assert(math.abs(q10.head.getDouble(3) - expected.doubleValue) < 1e-9)
    // revenues non-increasing
    val revs = q10.map(_.getDouble(3))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    // Q5 check: every row's nation is in ASIA and revenue positive
    val q5 = StaticResults.collected(spark, "q5_local_supplier")
    assert(q5.nonEmpty)
    val asia = Tables.nation(spark, sfStatic)
      .join(Tables.region(spark, sfStatic).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name")).collect().map(_.getString(0)).toSet
    q5.foreach { r =>
      assert(asia.contains(r.getString(0)))
      assert(r.getDouble(1) > 0)
    }
  }
}
