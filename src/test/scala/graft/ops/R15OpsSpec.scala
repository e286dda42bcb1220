package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-15 batch, checked by FULL
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle: the two mergeable sketches are rebuilt from raw keys via
  * java MessageDigest md5 (including the merge==one-pass equality the
  * family exists to certify), the TPC-H shapes from scala collection
  * joins, and every audit stat from exact BigInt/floorDiv algebra. */
class R15OpsSpec extends SparkSpec {

  private val keys = Seq(
    "sketch_quantile_merge", "sketch_heavy_hitters_merge",
    "q9_product_profit", "q21_waiting_suppliers", "privacy_k_anonymity",
    "privacy_l_diversity", "ab_srm_check", "stats_anova_f",
    "eval_calibration_bins", "win_cumulative_reset",
    "events_session_gap_sweep", "privacy_generalization_ladder",
    "multimodal_pyramid_plan", "report_discount_whatif",
    "eval_dedup_pr_curve", "ops_capacity_backlog", "stats_levene_bf",
    "shard_plan_from_sketch", "dq_table_checksum", "fn_xml_parse",
    "fn_variant_json")

  test("r15 keys are partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("sketch_quantile_merge: merged state EQUALS the one-pass state, " +
      "estimates come from it, exact side is truly exact") {
    // the property the key exists to certify: per-shard bottom-64
    // states merged by "bottom-64 of the union" == one global pass
    val byHash = orderCents.map { case (k, c) => (h32(k), k, c) }
      .sortBy(t => (t._1, t._2))
    val onePass = byHash.take(64)
    val merged = orderCents.groupBy(_._1 % 8).values
      .flatMap(_.map { case (k, c) => (h32(k), k, c) }
        .sortBy(t => (t._1, t._2)).take(64))
      .toArray.sortBy(t => (t._1, t._2)).take(64)
    assert(merged.toSeq == onePass.toSeq,
      "bottom-64 of per-shard bottom-64s must equal the one-pass bottom-64")

    val sample = onePass.map(t => (t._3, t._2)).sortBy(identity).map(_._1)
    val exactSorted = orderCents.map { case (k, c) => (c, k) }
      .sortBy(identity).map(_._1)
    val n = exactSorted.length
    val got = StaticResults.collected(spark, "sketch_quantile_merge")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet == Set(25L, 50L, 75L, 90L, 99L))
    got.foreach { case (p, (nRows, est, exact)) =>
      assert(nRows == n)
      assert(est == sample(((64 - 1) * p / 100).toInt),
        s"p$p: estimate must be the sample's rank-selected value")
      assert(exact == exactSorted((((n - 1) * p) / 100).toInt),
        s"p$p: exact side must be the true rank-selected percentile")
    }
  }

  test("sketch_heavy_hitters_merge matches a driver-side recomputation " +
      "and the merged candidates cover the exact top-8") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.flatMap { case (id, t) => t.split(" ", -1).map((id % 8, _)) }
    val global = toks.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val top8 = global.toSeq.sortBy { case (t, c) => (-c, t) }.take(8)
    val cand = toks.groupBy(_._1).values.flatMap { sh =>
      sh.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
        .toSeq.sortBy { case (t, c) => (-c, t) }.take(8).map(_._1)
    }.toSet
    val got = StaticResults.collected(spark, "sketch_heavy_hitters_merge")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4)))
    assert(got.length == 8)
    got.foreach { case (rank, tok, cnt, found, nCand) =>
      assert((tok, cnt) == top8(rank.toInt - 1), s"rank $rank mismatch")
      assert(found == cand.contains(tok))
      assert(nCand == cand.size.toLong)
    }
    // the merge-guarantee this family ships for: every exact top-8
    // token is in the merged candidate set at this fixture
    assert(got.forall(_._4), "merged candidates must cover the exact top-8")
  }

  test("q9_product_profit matches an exact BigDecimal recomputation") {
    val nation = Tables.nation(spark, sfStatic)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val supp = Tables.supplier(spark, sfStatic)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> nation(r.getInt(1))).toMap
    val retail = Tables.part(spark, sfStatic)
      .select(col("p_partkey"), col("p_retailprice")).collect()
      .map(r => r.getLong(0) ->
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .toMap
    val oYear = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
      .collect()
    def d2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def d4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val expect = li.groupBy(r =>
        (supp(r.getLong(2)), oYear(r.getLong(0)))).map { case (k, rs) =>
      val profit = rs.map { r =>
        d2(r.getDouble(3)) * (BigDecimal(1) - d2(r.getDouble(4))) -
          retail(r.getLong(1)) * d4(r.getDouble(5)) * BigDecimal("0.5")
      }.sum
      k -> (profit.toDouble, rs.length.toLong)
    }
    val got = StaticResults.collected(spark, "q9_product_profit")
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, e) => assert(got(k) == e, s"$k: ${got(k)} vs $e") }
  }

  test("q21_waiting_suppliers matches a collection-join recomputation") {
    val oMeta = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate").cast("date")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDate(2).toLocalDate))
      .toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate))
    val lo = li.filter(l => oMeta(l._1)._1 == "F").map { l =>
      val lag = java.time.temporal.ChronoUnit.DAYS
        .between(oMeta(l._1)._2, l._3)
      (l._1, l._2, lag > 90)
    }
    val byOrder = lo.groupBy(_._1)
    val counted = lo.filter(_._3).filter { case (ok, sk, _) =>
      val others = byOrder(ok).filter(_._2 != sk)
      others.nonEmpty && !others.exists(_._3)
    }
    val sName = Tables.supplier(spark, sfStatic)
      .select(col("s_suppkey"), col("s_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = counted.groupBy(_._2)
      .map { case (sk, rs) => sName(sk) -> rs.length.toLong }
    val got = StaticResults.collected(spark, "q21_waiting_suppliers")
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == expect)
  }

  test("privacy_k_anonymity matches an exact recomputation at every k") {
    val rows = Tables.customer(spark, sfStatic)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), cents(r.getDouble(2)) / 100000))
    val sizes = rows.groupBy(identity).values.map(_.length.toLong).toSeq
    val got = StaticResults.collected(spark, "privacy_k_anonymity")
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    Seq(2L, 5L, 10L).foreach { k =>
      val atRisk = sizes.filter(_ < k).sum
      val e = (sizes.length.toLong, sizes.count(_ < k).toLong, atRisk,
        sizes.sum, atRisk * 1000000L / sizes.sum)
      assert(got(k) == e, s"k=$k: ${got(k)} vs $e")
    }
    // trunc-bucket semantics really exercised: scala / on nonnegative
    // longs above matches both engines' trunc division, and the
    // fixture must carry at least one negative balance for the
    // sign-semantics to be graded at all
    assert(rows.exists(_._3 <= 0), "fixture lost its negative balances")
  }

  test("privacy_l_diversity matches an exact recomputation") {
    val cust = Tables.customer(spark, sfStatic)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val ords = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (cust(r.getLong(0)), r.getString(1)))
    val expect = ords.groupBy(_._1).values
      .map(g => (g.map(_._2).distinct.length.toLong, g.length.toLong))
      .groupBy(_._1)
      .map { case (l, gs) => l -> (gs.size.toLong, gs.map(_._2).sum) }
    val got = StaticResults.collected(spark, "privacy_l_diversity")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
  }

  test("ab_srm_check matches the exact chi-square recomputation") {
    val users = Tables.events(spark, sfStatic).select(col("user_id")).distinct()
      .collect().map(_.getLong(0))
    val a = users.count(u => md5hex(u.toString).head <= '7').toLong
    val n = users.length.toLong
    val chi2 = (2 * a - n) * (2 * a - n) * 1000000L / n
    val got = StaticResults.collected(spark, "ab_srm_check")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got("A") == (a, n, chi2, chi2 > 3841459L))
    assert(got("B") == (n - a, n, chi2, chi2 > 3841459L))
  }

  test("stats_anova_f matches an exact BigInt recomputation") {
    val xs = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), BigInt(cents(r.getDouble(1)))))
    val groups = xs.groupBy(_._1).values.toSeq
    val k = groups.length
    val n = xs.length
    val t = xs.map(_._2).sum
    def fdiv(a: BigInt, b: BigInt): BigInt = a / b // nonneg operands
    val ssw = groups.map { g =>
      val ng = BigInt(g.length); val sg = g.map(_._2).sum
      val qg = g.map(x => x._2 * x._2).sum
      fdiv((ng * qg - sg * sg) * 1000, ng)
    }.sum
    val sb = groups.map { g =>
      val ng = BigInt(g.length); val sg = g.map(_._2).sum
      fdiv(sg * sg * 1000, ng)
    }.sum
    val ssb = (sb - fdiv(t * t * 1000, BigInt(n))).max(BigInt(0))
    val fPpm = ssb * BigInt(n - k) * 1000000 / (ssw * BigInt(k - 1))
    val eta2 = ssb * 1000000 / (ssb + ssw)
    val r = StaticResults.collected(spark, "stats_anova_f").head
    assert((r.getLong(0), r.getLong(1)) == (k.toLong, n.toLong))
    assert(r.getLong(2) == ssw.toLong && r.getLong(3) == ssb.toLong)
    assert(r.getLong(4) == fPpm.toLong && r.getLong(5) == eta2.toLong)
  }

  test("eval_calibration_bins matches an exact recomputation and bins " +
      "conserve all orders") {
    val rows = Tables.orders(spark, sfStatic)
      .select(col("o_orderdate").cast("date"), col("o_orderstatus")).collect()
      .map(r => (r.getDate(0).toLocalDate, if (r.getString(1) == "F") 1L else 0L))
    val mn = rows.map(_._1).min
    val span = java.time.temporal.ChronoUnit.DAYS
      .between(mn, rows.map(_._1).max)
    val sc = rows.map { case (dt, y) =>
      val p = java.time.temporal.ChronoUnit.DAYS.between(mn, dt) * 1000000L / span
      (math.min(p / 100000, 9), p, y)
    }
    val expect = sc.groupBy(_._1).map { case (bin, g) =>
      val nb = g.length.toLong
      val sp = g.map(_._2).sum; val sy = g.map(_._3).sum
      val brier = g.map(x => (x._2 - x._3 * 1000000L) * (x._2 - x._3 * 1000000L)).sum
      bin -> (nb, sp / nb, sy * 1000000L / nb,
        sp / nb - sy * 1000000L / nb, brier / nb)
    }
    val got = StaticResults.collected(spark, "eval_calibration_bins")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
    assert(got.values.map(_._1).sum == rows.length.toLong,
      "bins must conserve every order")
  }

  test("win_cumulative_reset: segments advance exactly after purchases " +
      "and running sums telescope per (user, segment)") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        cents(r.getDouble(4))))
    val expect = evs.groupBy(_._2).toSeq.flatMap { case (u, es) =>
      val sorted = es.toSeq.sortBy(e => (e._3, e._1))
      var seg = 0L; var run = 0L; var prevSeg = -1L
      sorted.map { e =>
        if (seg != prevSeg) { run = 0L; prevSeg = seg }
        run += e._5
        val out = (e._1, u, seg, run)
        if (e._4 == "purchase") seg += 1
        out
      }
    }.map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val got = StaticResults.collected(spark, "win_cumulative_reset")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect)
  }

  test("privacy_generalization_ladder matches an exact recomputation " +
      "and conserves all customers") {
    val rows = Tables.customer(spark, sfStatic)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), cents(r.getDouble(2)) / 100000))
    val c0 = rows.groupBy(identity).map { case (k, v) => k -> v.length }
    val c1 = rows.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.length }
    val c2 = rows.groupBy(_._1).map { case (k, v) => k -> v.length }
    val levels = rows.map { r =>
      if (c0(r) >= 5) 0L else if (c1((r._1, r._2)) >= 5) 1L
      else if (c2(r._1) >= 5) 2L else 3L
    }
    val expect = levels.groupBy(identity).map { case (l, v) =>
      l -> (v.length.toLong, v.length.toLong * 1000000L / rows.length)
    }
    val got = StaticResults.collected(spark, "privacy_generalization_ladder")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    assert(got.values.map(_._1).sum == rows.length.toLong)
  }

  test("multimodal_pyramid_plan matches a ceil-halving simulation for " +
      "every image") {
    val got = StaticResults.collected(spark, "multimodal_pyramid_plan")
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.documents(spark, sfStatic).select(col("doc_id")).collect()
      .map(_.getLong(0))
    val expect = docs.flatMap { id =>
      val (w0, h0) = (640 + (id % 5) * 160, 480 + (id % 7) * 120)
      // levels 0..L where L = first level with max(w,h) <= 64
      var dims = Seq((w0, h0))
      while (dims.last._1.max(dims.last._2) > 64)
        dims = dims :+ ((dims.last._1 + 1) / 2, (dims.last._2 + 1) / 2)
      dims.zipWithIndex.map { case ((w, h), l) =>
        (id, l.toLong) -> ((dims.length - 1).toLong, w, h, w * h)
      }
    }.toMap
    assert(got == expect)
    // the plan's own contract: the last level fits, the one before not
    docs.foreach { id =>
      val n = got((id, 0L))._1
      val (_, lw, lh, _) = got((id, n))
      assert(lw.max(lh) <= 64, s"doc $id: final level does not fit")
      if (n > 0) {
        val (_, pw, ph, _) = got((id, n - 1))
        assert(pw.max(ph) > 64, s"doc $id: ladder is longer than needed")
      }
    }
  }

  test("report_discount_whatif matches an exact BigDecimal recomputation " +
      "and is monotone in the cap") {
    def d2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_extendedprice"), col("l_discount")).collect()
      .map(r => (d2(r.getDouble(0)), d2(r.getDouble(1))))
    val got = StaticResults.collected(spark, "report_discount_whatif")
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val actual = li.map { case (p, dd) => p * (BigDecimal(1) - dd) }.sum
    Seq(0L, 4L, 8L).foreach { c =>
      val cap = BigDecimal(c) / 100
      val capped = li.map { case (p, dd) =>
        p * (BigDecimal(1) - (if (dd < cap) dd else cap))
      }.sum
      val nCapped = li.count(_._2 > cap).toLong
      val e = (capped.toDouble, actual.toDouble, (capped - actual).toDouble,
        nCapped)
      assert(got(c) == e, s"cap $c: ${got(c)} vs $e")
    }
    assert(got(0L)._1 >= got(4L)._1 && got(4L)._1 >= got(8L)._1,
      "capped revenue must be monotone non-increasing in the cap")
  }

  test("eval_dedup_pr_curve matches a driver-side shingle/band/jaccard " +
      "replica at every threshold") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // truth: the corpus's constructed duplication — shared 64-char
    // prefix (dedup_prefix_cluster's notion)
    val nTruth = docs.groupBy(d => d._2.take(64)).values
      .map(g => g.length.toLong * (g.length - 1) / 2).sum
    assert(nTruth > 0, "fixture lost its prefix-duplicate construction")
    // replica of the graded minhash pipeline (R14OpsSpec's spellings)
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length < 3) Set.empty
      else (2 until t.length).map(i => s"${t(i - 2)} ${t(i - 1)} ${t(i)}").toSet
    }
    def sig(sh: Set[String]): Seq[String] = {
      val hs = sh.toSeq.map(md5hex)
      (0 until 8).map(i => hs.map(_.substring(3 * i, 3 * i + 8)).min)
    }
    val withSig = docs.filter(d => shingles(d._2).nonEmpty)
      .map(d => (d._1, shingles(d._2), sig(shingles(d._2))))
    val byBand = withSig.flatMap(d =>
      (0 until 4).map(b => (b, s"${d._3(2 * b)}|${d._3(2 * b + 1)}") -> d._1))
      .groupBy(_._1).values.map(_.map(_._2).toSeq)
    val cand = byBand.flatMap(ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    val shingleOf = withSig.map(d => d._1 -> d._2).toMap
    val pfxOf = docs.map(d => d._1 -> d._2.take(64)).toMap
    val scored = cand.toSeq.map { case (a, b) =>
      val (sa, sb) = (shingleOf(a), shingleOf(b))
      (sa.intersect(sb).size.toDouble / sa.union(sb).size,
        pfxOf(a) == pfxOf(b))
    }
    val got = StaticResults.collected(spark, "eval_dedup_pr_curve")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    got.keys.foreach { t =>
      val pred = scored.filter(_._1 >= t / 100.0)
      val tp = pred.count(_._2).toLong
      val e = (pred.length.toLong, tp, nTruth,
        tp * 1000000L / pred.length, tp * 1000000L / nTruth,
        2 * tp * 1000000L / (pred.length + nTruth))
      assert(got(t) == e, s"t=$t: ${got(t)} vs $e")
    }
    assert(got.contains(50L) && got.contains(90L))
    // prediction sets nest as t rises, so TP is monotone non-increasing
    assert(got(50L)._2 >= got(90L)._2)
  }

  test("ops_capacity_backlog matches a day-by-day Lindley replay") {
    val arr = Tables.orders(spark, sfStatic)
      .select(year(col("o_orderdate")).cast("int"),
        col("o_orderdate").cast("date")).collect()
      .map(r => (r.getInt(0), r.getDate(1).toLocalDate))
    val got = StaticResults.collected(spark, "ops_capacity_backlog")
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val byYear = arr.groupBy(_._1)
    var checked = 0
    byYear.foreach { case (yr, rows) =>
      val start = java.time.LocalDate.of(yr, 1, 1)
      val nDays = start.plusYears(1).toEpochDay - start.toEpochDay
      val counts = rows.groupBy(r =>
        r._2.toEpochDay - start.toEpochDay + 1)
        .map { case (d, v) => d -> v.length.toLong }
      val k = (counts.values.sum + nDays - 1) / nDays
      // the independent check: replay b_d = max(0, b_{d-1} + a_d - K)
      // over EVERY day of the year, including empty ones
      var b = 0L
      (1L to nDays).foreach { d =>
        val a = counts.getOrElse(d, 0L)
        b = math.max(0L, b + a - k)
        if (a > 0) {
          assert(got((yr, d)) == (a, k, b),
            s"yr $yr day $d: ${got((yr, d))} vs ($a, $k, $b)")
          checked += 1
        }
      }
    }
    assert(checked == got.size, "every graded row was replayed")
  }

  test("stats_levene_bf matches an exact BigInt recomputation over " +
      "median deviations") {
    val xs = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), BigInt(cents(r.getDouble(2)))))
    val meds = xs.groupBy(_._1).map { case (g, v) =>
      val sorted = v.sortBy(e => (e._3, e._2)).map(_._3)
      g -> sorted(((sorted.length - 1) * 5 / 10).toInt)
    }
    val zs = xs.map(e => (e._1, (e._3 - meds(e._1)).abs))
    val groups = zs.groupBy(_._1).values.toSeq
    val k = groups.length; val n = zs.length
    val t = zs.map(_._2).sum
    val ssw = groups.map { g =>
      val ng = BigInt(g.length); val sg = g.map(_._2).sum
      val qg = g.map(x => x._2 * x._2).sum
      (ng * qg - sg * sg) * 1000 / ng
    }.sum
    val sb = groups.map { g =>
      val ng = BigInt(g.length); val sg = g.map(_._2).sum
      sg * sg * 1000 / ng
    }.sum
    val ssb = (sb - t * t * 1000 / BigInt(n)).max(BigInt(0))
    val fPpm = ssb * BigInt(n - k) * 1000000 / (ssw * BigInt(k - 1))
    val r = StaticResults.collected(spark, "stats_levene_bf").head
    assert((r.getLong(0), r.getLong(1)) == (k.toLong, n.toLong))
    assert(r.getLong(2) == ssw.toLong && r.getLong(3) == ssb.toLong)
    assert(r.getLong(4) == fPpm.toLong)
  }

  test("shard_plan_from_sketch: boundaries come from the merged sample, " +
      "shards partition every row, balance recomputes exactly") {
    // same merged sample as the quantile-merge replica
    val byHash = orderCents.map { case (k, c) => (h32(k), k, c) }
    val merged = orderCents.groupBy(_._1 % 8).values
      .flatMap(_.map { case (k, c) => (h32(k), k, c) }
        .sortBy(t => (t._1, t._2)).take(64))
      .toArray.sortBy(t => (t._1, t._2)).take(64)
    val sample = merged.map(t => (t._3, t._2)).sortBy(identity)
    val bounds = (1 to 15).map(i => sample(4 * i - 1)) // ranks 4,8,...,60
    def shardOf(c: Long, k: Long): Int =
      bounds.count(b => b._1 < c || (b._1 == c && b._2 <= k))
    val expect = orderCents.groupBy { case (k, c) => shardOf(c, k) }
      .map { case (sh, rs) =>
        sh.toLong -> (rs.length.toLong, rs.map(_._2).min, rs.map(_._2).max)
      }
    val n = orderCents.length.toLong
    val got = StaticResults.collected(spark, "shard_plan_from_sketch")
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == (0L to 15L).toSet, "all 16 planned shards present")
    assert(got.values.map(_._1).sum == n, "shards must partition every row")
    expect.foreach { case (sh, (cnt, mn, mx)) =>
      val g = got(sh)
      assert((g._1, g._2, g._3) == (cnt, mn, mx), s"shard $sh")
      assert(g._4 == cnt * 1000000L / n && g._5 == g._4 - 62500L)
    }
    assert(byHash.nonEmpty)
  }

  test("dq_table_checksum matches a driver-side recomputation and the " +
      "modular sum merges across arbitrary shardings") {
    val P = BigInt("9223372036854775783")
    def h15(canon: String): Long =
      java.lang.Long.parseLong(md5hex(canon).substring(0, 15), 16)
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"),
        col("o_orderdate").cast("date")).collect()
      .map(r => h15(s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|" +
        s"${r.getString(3)}|${cents(r.getDouble(4))}|${r.getDate(5)}"))
    val cust = Tables.customer(spark, sfStatic)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment")).collect()
      .map(r => h15(s"${r.getLong(0)}|${r.getString(1)}|${r.getInt(2)}|" +
        s"${r.getString(3)}"))
    val supp = Tables.supplier(spark, sfStatic)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey")).collect()
      .map(r => h15(s"${r.getLong(0)}|${r.getString(1)}|${r.getInt(2)}"))
    def sumMod(hs: Array[Long]): Long =
      (hs.map(BigInt(_)).sum mod P).toLong
    val got = StaticResults.collected(spark, "dq_table_checksum")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("orders") == (orders.length.toLong, sumMod(orders)))
    assert(got("customer") == (cust.length.toLong, sumMod(cust)))
    assert(got("supplier") == (supp.length.toLong, sumMod(supp)))
    // the merge contract: per-shard partial sums mod P recombine to
    // the same checksum under ANY sharding
    val sharded = orders.grouped(37).map(g => BigInt(sumMod(g))).sum.mod(P)
    assert(sharded.toLong == sumMod(orders))
  }

  test("fn_xml_parse: the XML round trip loses nothing vs the base columns") {
    val expect = Tables.orders(spark, sfStatic)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), cents(r.getDouble(2))))
      .groupBy(_._1)
      .map { case (p, rs) =>
        p -> (rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum)
      }
    val got = StaticResults.collected(spark, "fn_xml_parse")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect)
  }

  test("fn_variant_json: variant_get extraction matches a driver-side " +
      "JSON parse") {
    val re = """\{\s*"k"\s*:\s*(-?\d+)\s*\}""".r
    val expect = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("props")).collect()
      .map { r =>
        val k = r.getString(1) match {
          case re(v) => v.toLong
          case other => fail(s"unexpected props shape: $other")
        }
        (r.getString(0), k)
      }
      .groupBy(_._1)
      .map { case (t, rs) =>
        t -> (rs.length.toLong, rs.map(_._2).sum, rs.map(_._2).min,
          rs.map(_._2).max)
      }
    val got = StaticResults.collected(spark, "fn_variant_json")
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expect)
  }

  test("events_session_gap_sweep matches an exact recomputation and is " +
      "monotone in the gap") {
    val evs = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = evs.groupBy(_._1).values.map(_.sortBy(e => (e._3, e._2)))
    def stats(gapUs: Long): (Long, Long) = {
      var sessions = 0L; var singles = 0L
      byUser.foreach { es =>
        val ts = es.map(_._3)
        ts.indices.foreach { i =>
          val startB = i == 0 || ts(i) - ts(i - 1) > gapUs
          val endB = i == ts.length - 1 || ts(i + 1) - ts(i) > gapUs
          if (startB) sessions += 1
          if (startB && endB) singles += 1
        }
      }
      (sessions, singles)
    }
    val got = StaticResults.collected(spark, "events_session_gap_sweep")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val n = evs.length.toLong
    Seq(600L, 1800L, 3600L).foreach { g =>
      val (se, si) = stats(g * 1000000L)
      assert(got(g) == (n, se, si, n * 1000L / se), s"gap $g")
    }
    assert(got(600L)._2 >= got(1800L)._2 && got(1800L)._2 >= got(3600L)._2,
      "session count must be monotone non-increasing in the gap")
  }
}
