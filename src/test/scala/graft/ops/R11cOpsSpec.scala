package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-11 third-session additions,
  * checked by driver-side recomputation at sf0.001 — independent of
  * the DuckDB oracle, so a systematic cross-engine bug can't hide a
  * wrong formulation (the R5OpsSpec discipline).
  */
class R11cOpsSpec extends SparkSpec {

  private val r11cKeys = Seq(
    "fn_struct", "sample_class_balance", "text_readability",
    "win_running_distinct", "win_rolling_median", "pattern_consecutive",
    "attribution_linear", "graph_pagerank",
    "join_asof_nearest", "agg_weighted_median", "pivot_multi_agg",
    "win_ratio_to_report", "dedup_prefix_cluster", "mix_temperature_resample",
    "join_scd2_pointintime", "agg_skew_kurtosis", "eval_langid_confusion",
    "ts_ohlc_daily", "dq_rule_check",
    "drift_value_histogram", "drift_embedding_centroid",
    "agg_gini_impurity", "join_snowflake_5way",
    "stream_topk_windowed", "win_max_drawdown", "fn_try_safe",
    "win_pct_change")

  test("every r11c key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, r11cKeys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("fn_struct: comparisons recompute in plain JVM arithmetic") {
    val rows = StaticResults.collected(spark, "fn_struct")
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.length == orders.size)
    rows.foreach { r =>
      val (ok, ck, st) = (r.getLong(0), orders(r.getLong(0))._1, orders(r.getLong(0))._2)
      assert(r.getBoolean(1), "a struct must equal itself")
      // (ck, ok) < (ck, ok+1): second field decides
      assert(r.getBoolean(2), "lexicographic < on the tie-broken field")
      // (ck, ok) < (ck-1, ok): first field decides, and decides false
      assert(!r.getBoolean(3), "lexicographic < must stop at the first field")
      assert(r.getString(4) == st, "field extraction must round-trip")
      assert(r.getLong(5) == ck * 3, "nested two-level extraction")
    }
  }

  test("sample_class_balance: exact equal quotas, a subset, and re-runnable") {
    val rows = StaticResults.collected(spark, "sample_class_balance")
      .map(r => (r.getString(0), r.getLong(1)))
    val docs = Tables.documents(spark, sfStatic)
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val nLangs = docs.map(_._1).size
    val quota = 200 / nLangs
    val perLang = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang.values.toSet == Set(quota),
      s"every language must contribute exactly $quota docs: $perLang")
    assert(rows.forall(docs), "sample must be a subset of the corpus")
    // determinism: the same call selects the same rows
    val again = Sampling.sampleClassBalance.run(spark, sfStatic).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == again.toSeq)
  }

  test("text_readability: counts recompute against JVM regexes") {
    val out = StaticResults.collected(spark, "text_readability")
      .map(r => r.getLong(0) -> r).toMap
    val texts = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val wordRe = "[a-z]+".r; val syllRe = "[aeiouy]+".r; val sentRe = "[.!?]+".r
    texts.foreach { case (id, text) =>
      val lower = text.toLowerCase
      val words = wordRe.findAllIn(lower).toSeq
      if (words.nonEmpty) {
        val r = out(id)
        val syll = syllRe.findAllIn(lower).size.toLong
        val mono = words.count(w => syllRe.findAllIn(w).size == 1).toLong
        val sent = math.max(1, sentRe.findAllIn(text).size).toLong
        assert(r.getLong(1) == words.size.toLong, s"doc $id words")
        assert(r.getLong(2) == syll, s"doc $id syllables")
        assert(r.getLong(3) == mono, s"doc $id monosyllables")
        assert(r.getLong(4) == sent, s"doc $id sentences")
        assert(r.getLong(5) == 1000L * syll / words.size, s"doc $id spw")
        assert(r.getLong(7) ==
          390L * words.size / sent + 11800L * syll / words.size - 15590L,
          s"doc $id fk grade")
      } else assert(!out.contains(id), s"doc $id: zero words must be filtered")
    }
  }

  test("win_running_distinct: monotone per user, final value = exact distinct count") {
    val rows = StaticResults.collected(spark, "win_running_distinct")
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getLong(4)))
    val byUser = rows.groupBy(_._1)
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val truth = events.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    byUser.foreach { case (u, es) =>
      // output is ordered by event_id within user and the counter may
      // only step by 0 or 1, starting at 1
      val counts = es.sortBy(_._2).map(_._4).toSeq
      assert(counts.head == 1L, s"user $u starts at one distinct type")
      counts.sliding(2).foreach {
        case Seq(a, b) => assert(b == a || b == a + 1, s"user $u: step $a->$b")
        case _ =>
      }
      assert(counts.last == truth(u).toLong,
        s"user $u: final running count must equal the exact distinct count")
    }
  }

  test("win_rolling_median: full JVM recomputation per customer") {
    val rows = StaticResults.collected(spark, "win_rolling_median")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(12,2)").as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.time.LocalDateTime](2),
        r.getDecimal(3).movePointRight(2).longValueExact()))
    val byCust = orders.groupBy(_._1)
    val expected = byCust.toSeq.flatMap { case (_, os) =>
      val ordered = os.sortBy(o => (o._3, o._2))(
        Ordering.Tuple2(Ordering.comparatorToOrdering(
          java.util.Comparator.naturalOrder[java.time.LocalDateTime]()),
          Ordering.Long))
      ordered.zipWithIndex.map { case (o, i) =>
        val win = ordered.slice(math.max(0, i - 6), i + 1).map(_._4).sorted
        (o._1, o._2) -> (o._4, win(win.size / 2), win.size)
      }
    }.toMap
    rows.foreach { case (ck, ok, cents, med, nWin) =>
      val (eCents, eMed, eN) = expected((ck, ok))
      assert(cents == eCents, s"order $ok cents")
      assert(med == eMed, s"order $ok rolling median")
      assert(nWin == eN, s"order $ok window size")
    }
  }

  test("pattern_consecutive: JVM scan of each user's ordered stream agrees") {
    val out = StaticResults.collected(spark, "pattern_consecutive")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map { r =>
        val t = r.getTimestamp(3).toInstant
        // full µs precision — getTime() alone truncates to ms and
        // could mis-order same-ms ties vs the engine's µs sort
        (r.getLong(0), r.getLong(1), r.getString(2),
          t.getEpochSecond * 1000000L + t.getNano / 1000L)
      }
    val truth = events.groupBy(_._1).view.mapValues { es =>
      val types = es.sortBy(e => (e._4, e._2)).map(_._3).toSeq
      types.sliding(3).count(_ == Seq("view", "click", "purchase"))
    }.toMap.filter(_._2 > 0)
    assert(out.keySet == truth.keySet, "matching user sets")
    truth.foreach { case (u, n) => assert(out(u) == n.toLong, s"user $u matches") }
  }

  test("attribution_linear: credit allocation reconciles to the purchase total") {
    val rows = StaticResults.collected(spark, "attribution_linear")
    assert(rows.nonEmpty)
    val cents = Tables.events(spark, sfStatic)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        (col("value").cast("decimal(12,4)") * 100).cast("long").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (pid, n, credit, rem) = (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= 1, s"purchase $pid: touched purchases have at least one click")
      assert(rem >= 0 && rem < n, s"purchase $pid: remainder bounded by touches")
      assert(credit * n + rem == cents(pid),
        s"purchase $pid: allocation must reconcile exactly")
    }
  }

  test("graph_pagerank: full 3-iteration JVM recomputation at sf0.001") {
    val out = StaticResults.collected(spark, "graph_pagerank")
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val eb = Tables.orders(spark, sfStatic)
      .join(Tables.lineitem(spark, sfStatic), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = eb.flatMap { case (ck, sk) =>
      Seq((ck * 2, sk * 2 + 1), (sk * 2 + 1, ck * 2)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank: Map[Long, Long] = deg.map { case (id, _) => id -> 1000000L }
    (1 to 3).foreach { _ =>
      val recv = edges.groupBy(_._2).view.mapValues { in =>
        in.map { case (src, _) => rank(src) * 85 / (100 * deg(src)) }.sum
      }.toMap
      rank = recv.map { case (id, s) => id -> (150000L + s) }
    }
    assert(out.size == rank.size, "one output row per node")
    rank.foreach { case (id, r) =>
      val kind = if (id % 2 == 0) "customer" else "supplier"
      assert(out((kind, id / 2)) == r, s"node $id rank")
    }
  }

  test("join_asof_nearest: nearest click recomputes from a JVM scan per user") {
    val out = StaticResults.collected(spark, "join_asof_nearest")
      .map(r => r.getLong(0) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getString(4))).toMap
    val events = Tables.events(spark, sfStatic)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .collect()
      .map { r =>
        val t = r.getTimestamp(3).toInstant
        (r.getLong(0), r.getLong(1), r.getString(2),
          t.getEpochSecond * 1000000L + t.getNano / 1000L)
      }
    events.groupBy(_._2).foreach { case (_, es) =>
      val ordered = es.sortBy(e => (e._4, e._1)).toSeq
      ordered.zipWithIndex.foreach { case ((id, _, tpe, us), i) =>
        if (tpe == "purchase") {
          val back = ordered.take(i).filter(_._3 == "click").lastOption.map(us - _._4)
          val fwd = ordered.drop(i + 1).find(_._3 == "click").map(_._4 - us)
          val (gap, dir) = (back, fwd) match {
            case (None, None)       => (None, "none")
            case (Some(b), None)    => (Some(b), "before")
            case (None, Some(f))    => (Some(f), "after")
            case (Some(b), Some(f)) =>
              if (b <= f) (Some(b), "before") else (Some(f), "after")
          }
          assert(out(id) == ((gap, dir)), s"purchase $id nearest click")
        }
      }
    }
  }

  test("agg_weighted_median: half the weight sits at or below the answer") {
    val out = StaticResults.collected(spark, "agg_weighted_median")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("p"),
        (col("l_quantity").cast("decimal(12,4)") * 10000).cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    li.groupBy(_._1).foreach { case (flag, rows) =>
      val (med, tot) = out(flag)
      assert(tot == rows.map(_._3).sum, s"$flag total weight")
      val below = rows.filter(_._2 <= med).map(_._3).sum
      val strictlyBelow = rows.filter(_._2 < med).map(_._3).sum
      assert(2 * below >= tot, s"$flag: weight at or below the median reaches half")
      assert(2 * strictlyBelow < tot, s"$flag: the median is the FIRST such price")
    }
  }

  test("pivot_multi_agg: both aggregate planes recompute per user") {
    val out = StaticResults.collected(spark, "pivot_multi_agg")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_type"),
        (col("value").cast("decimal(12,4)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    events.groupBy(_._1).foreach { case (u, es) =>
      def n(t: String) = es.count(_._2 == t).toLong
      def c(t: String) = es.filter(_._2 == t).map(_._3).sum
      assert(out(u) == ((n("click"), c("click"), n("purchase"), c("purchase"),
        n("view"), c("view"))), s"user $u pivot cells")
    }
  }

  test("win_ratio_to_report: shares are exact floor-ppm and nearly sum to 1M") {
    val rows = StaticResults.collected(spark, "win_ratio_to_report")
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (ck, os) =>
      val tot = os.head._3
      assert(os.map(_._2).sum == tot, s"cust $ck total")
      os.foreach { case (_, cents, t, ppm) =>
        assert(t == tot)
        assert(ppm == cents * 1000000L / tot, s"cust $ck share")
      }
      // floor division loses at most (n_orders - 1) ppm
      val s = os.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - os.length, s"cust $ck ppm sum $s")
    }
  }

  test("dedup_prefix_cluster: clusters really share a 64-char prefix") {
    val out = StaticResults.collected(spark, "dedup_prefix_cluster")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).take(64)))
    val byPrefix = docs.groupBy(_._2).filter(_._2.length > 1)
    assert(out.length == byPrefix.size, "one row per real cluster")
    val byCanonical = out.map(r => r._3 -> r).toMap
    byPrefix.foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      val row = byCanonical(ids.head)
      assert(row._2 == ids.length.toLong && row._4 == ids.last,
        s"cluster of ${ids.head}")
    }
  }

  test("mix_temperature_resample: rates follow 1/sqrt(n) and rarest keeps all") {
    val rows = StaticResults.collected(spark, "mix_temperature_resample")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val counts = Tables.documents(spark, sfStatic).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val expectedRate =
        math.floor(1000.0 * math.sqrt(nMin.toDouble / counts(lang).toDouble)).toLong
      assert(rs.forall(_._3 == expectedRate), s"$lang keep rate")
      // the kept fraction should be within ±10 permille-points of the
      // rate at this corpus size (md5 uniformity, not a tight bound)
      val kept = 1000.0 * rs.length / counts(lang)
      assert(math.abs(kept - expectedRate) < 110, s"$lang kept $kept vs $expectedRate")
    }
    val rarest = counts.minBy(_._2)._1
    assert(rows.count(_._2 == rarest).toLong == counts(rarest),
      "the rarest class is kept in full")
  }

  test("join_scd2_pointintime: interval scan in the JVM finds the same state") {
    val out = StaticResults.collected(spark, "join_scd2_pointintime")
      .map(r => r.getLong(0) -> (Option(r.getString(2)),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    events.groupBy(_._1).foreach { case (_, es) =>
      val ordered = es.sortBy(_._2).toSeq
      // state runs by event_id: (type, start)
      val runs = ordered.foldLeft(Vector.empty[(String, Long)]) { (acc, e) =>
        if (acc.nonEmpty && acc.last._1 == e._3) acc else acc :+ (e._3, e._2)
      }
      ordered.filter(_._3 == "purchase").foreach { case (_, id, _) =>
        // last run starting strictly before this event
        val prior = runs.takeWhile(_._2 < id).lastOption
        assert(out(id) == ((prior.map(_._1), prior.map(_._2))),
          s"purchase $id prior state")
      }
    }
  }

  test("agg_skew_kurtosis: moments recompute from exact BigInt sums") {
    val out = StaticResults.collected(spark, "agg_skew_kurtosis")
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_returnflag"),
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint) div 100000"))
      .collect().map(r => (r.getString(0), BigInt(r.getLong(1))))
    li.groupBy(_._1).foreach { case (flag, rows) =>
      val (n, mean, sd, skew, kurt) = out(flag)
      assert(n == rows.length.toLong)
      val xs = rows.map(_._2)
      val m = xs.sum.toDouble / n
      val q2 = xs.map(x => x * x).sum.toDouble / n
      val v = q2 - m * m
      assert(mean == m, s"$flag mean exact")
      assert(sd == math.sqrt(v), s"$flag sd exact")
      // the shape stats are float finishes — recompute the same tree
      val q3 = xs.map(x => x * x * x).sum.toDouble / n
      val q4 = xs.map(x => x * x * x * x).sum.toDouble / n
      val sk = (q3 - 3 * m * q2 + 2 * m * m * m) /
        (math.sqrt(v) * math.sqrt(v) * math.sqrt(v))
      val ku = (q4 - 4 * m * q3 + 6 * m * m * q2 - 3 * m * m * m * m) / (v * v) - 3
      assert(math.abs(skew - sk) < 1e-12, s"$flag skewness")
      assert(math.abs(kurt - ku) < 1e-12, s"$flag kurtosis")
    }
  }

  test("eval_langid_confusion: cells sum to the per-doc prediction table") {
    val cells = StaticResults.collected(spark, "eval_langid_confusion")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val perDoc = StaticResults.collected(spark, "text_langid")
      .map(r => (r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(cells.map(_._3).sum == perDoc.length.toLong, "total docs conserved")
    cells.foreach { case (actual, pred, n, nCorrect) =>
      val members = perDoc.filter(p => p._1 == actual && p._2 == pred)
      assert(members.length.toLong == n, s"cell ($actual,$pred) count")
      assert(members.count(_._3).toLong == nCorrect, s"cell ($actual,$pred) correct")
      assert(if (actual == pred) nCorrect == n else nCorrect == 0L,
        s"cell ($actual,$pred): correctness is diagonal membership")
    }
  }

  test("ts_ohlc_daily: bars recompute from a JVM scan per (user, day)") {
    val out = StaticResults.collected(spark, "ts_ohlc_daily")
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast("decimal(12,4)") * 100).cast("long").as("c"))
      .collect()
      .map { r =>
        val t = r.getTimestamp(2).toInstant
        (r.getLong(0), r.getLong(1),
          t.getEpochSecond * 1000000L + t.getNano / 1000L,
          java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)
            .toLocalDate.toString, r.getLong(3))
      }
    val truth = events.groupBy(e => (e._1, e._4)).map { case (k, es) =>
      val ordered = es.sortBy(e => (e._3, e._2))
      k -> (ordered.head._5, es.map(_._5).max, es.map(_._5).min,
        ordered.last._5, es.length.toLong, es.map(_._5).sum)
    }
    assert(out.size == truth.size)
    truth.foreach { case (k, bar) => assert(out(k) == bar, s"bar $k") }
  }

  test("dq_rule_check: every rule recomputes and the firing rules really fire") {
    val rules = StaticResults.collected(spark, "dq_rule_check")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rules.size == 8)
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_totalprice"), col("o_orderstatus")).collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    assert(rules("orders_null_key") == ((0L, orders.length.toLong)))
    assert(rules("orders_nonpositive_total")._1 == 0L)
    assert(rules("orders_status_domain")._1 ==
      orders.count(o => !Set("F", "O", "P")(o._2)).toLong)
    assert(rules("orders_total_gt_400k")._1 ==
      orders.count(_._1 > 400000).toLong)
    val disc = Tables.lineitem(spark, sfStatic).select(col("l_discount")).collect()
      .map(_.getDouble(0))
    assert(rules("lineitem_discount_gt_8pct") ==
      ((disc.count(_ > 0.08).toLong, disc.length.toLong)))
    // the clean fixture has intact FKs — and the firing rules must fire
    assert(rules("lineitem_orphan_order")._1 == 0L)
    assert(rules("orders_orphan_customer")._1 == 0L)
    assert(rules("lineitem_discount_gt_8pct")._1 > 0L,
      "a rule designed to fire on this corpus must fire")
    assert(rules("orders_total_gt_400k")._1 > 0L)
  }

  test("drift_value_histogram: bins conserve mass and shares floor-divide exactly") {
    val rows = StaticResults.collected(spark, "drift_value_histogram")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == (0L until 10L), "all 10 bins present")
    val events = Tables.events(spark, sfStatic)
      .select((col("value").cast("decimal(12,4)") * 100).cast("long").as("c"),
        dayofmonth(col("ts")).as("dom"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val ref = events.filter(_._2 <= 15); val cur = events.filter(_._2 > 15)
    assert(rows.map(_._2).sum == ref.length.toLong, "ref mass conserved")
    assert(rows.map(_._3).sum == cur.length.toLong, "cur mass conserved")
    rows.foreach { case (bin, nr, nc, rppm, cppm, delta) =>
      assert(nr == ref.count(e => math.min(9L, e._1 / 5000) == bin).toLong)
      assert(nc == cur.count(e => math.min(9L, e._1 / 5000) == bin).toLong)
      assert(rppm == (if (nr == 0) 0L else nr * 1000000L / ref.length))
      assert(cppm == (if (nc == 0) 0L else nc * 1000000L / cur.length))
      assert(delta == cppm - rppm)
    }
  }

  test("drift_embedding_centroid: cosine recomputes from exact milli sums") {
    val out = StaticResults.collected(spark, "drift_embedding_centroid")
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    vecs.groupBy(_._2).foreach { case (label, vs) =>
      val even = vs.filter(_._1 % 2 == 0); val odd = vs.filter(_._1 % 2 == 1)
      val dim = vs.head._3.length
      // r13: floor-MEAN centroid components (cohort-size-invariant,
      // range-safe) — Math.floorDiv matches both engines' exact
      // (s - pmod(s, n)) div n spelling on negative sums.
      def centroid(cs: Array[(Long, Int, Seq[Float])]) =
        (0 until dim).map(i => Math.floorDiv(cs.map(v =>
          math.floor(v._3(i).toDouble * 1000 + 0.5).toLong).sum, cs.length.toLong))
      val (se, so) = (centroid(even), centroid(odd))
      val dot = se.zip(so).map { case (a, b) => a * b }.sum.toDouble
      val ee = se.map(a => a * a).sum.toDouble
      val oo = so.map(a => a * a).sum.toDouble
      val (ne, no, cos) = out(label)
      assert(ne == even.length.toLong && no == odd.length.toLong)
      assert(cos == dot / (math.sqrt(ee) * math.sqrt(oo)), s"label $label cosine")
    }
  }

  test("agg_gini_impurity: integer Gini recomputes and bounds hold") {
    val out = StaticResults.collected(spark, "agg_gini_impurity")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfStatic)
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val byLang = ds.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val tot = ds.length.toLong
      val gini = 1000000L - byLang.values.map(n => n * n).sum * 1000000L / (tot * tot)
      val (nl, nd, g) = out(src)
      assert(nl == byLang.size.toLong && nd == tot && g == gini, s"source $src")
      // 0 for a single-lang source; < 1e6 always
      assert(g >= 0L && g < 1000000L)
    }
  }

  test("join_snowflake_5way: the chain reconciles against independent per-level counts") {
    val rows = StaticResults.collected(spark, "join_snowflake_5way")
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    // total item count across all (region, nation) cells must equal
    // the full lineitem⋈orders⋈customer chain cardinality (every
    // order has a customer, every customer a nation, every nation a
    // region — FK integrity certified by dq_rule_check)
    val nItems = Tables.lineitem(spark, sfStatic).count()
    assert(rows.map(_._2._1).sum == nItems, "every line item lands in one cell")
    assert(rows.map(_._1).distinct.length == rows.length, "cells are unique")
    rows.foreach { case (cell, (n, rev)) =>
      assert(n > 0 && rev > 0, s"cell $cell non-degenerate")
    }
  }
}
