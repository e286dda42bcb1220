package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 additions, checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle, so a systematic cross-engine bug can't hide a wrong
  * formulation (the R5OpsSpec discipline).
  */
class R12OpsSpec extends SparkSpec {

  private val r12Keys = Seq(
    "agg_bool_countif", "q3_shipping_priority", "q18_large_volume",
    "join_exists_flag", "win_ewma_dyadic", "path_trigram_top",
    "mix_upsample_epochs", "vocab_oov_rate", "sample_systematic",
    "harmonize_crosswalk", "dedup_containment",
    "agg_corr_explicit", "event_transition_matrix", "fn_url_parse",
    "knn_holdout_eval", "embed_norm_audit", "stream_rate_alert",
    "join_asof_forward", "graph_triangle_count", "multimodal_chunk_audio",
    "agg_grouping_id", "source_csv_quoted",
    "dedup_segment_level", "ab_test_metrics", "order_rfm_segments",
    "dedup_source_priority",
    "evolution_delete_cascade", "source_text_lines", "source_binary_files",
    "agg_string_concat",
    "session_conversion", "basket_assoc_rules", "agg_zscore_outliers",
    "q4_order_priority", "join_bloom_prefilter", "dedup_cluster_star")

  test("every r12 key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, r12Keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("agg_bool_countif: flags and conditional counts recompute in plain JVM logic") {
    val rows = StaticResults.collected(spark, "agg_bool_countif")
      .map(r => r.getString(0) -> r).toMap
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    val byPrio = orders.groupBy(_._1)
    assert(rows.keySet == byPrio.keySet)
    byPrio.foreach { case (prio, os) =>
      val r = rows(prio)
      assert(r.getLong(1) == os.length)
      assert(r.getBoolean(2) == os.forall(_._2 < 495000))
      assert(r.getBoolean(3) == os.exists(_._2 > 450000))
      assert(r.getBoolean(4) == os.forall(o => Set("F", "O", "P")(o._3)))
      assert(r.getLong(5) == os.count(_._3 == "F"))
      assert(r.getLong(6) == os.count(_._2 > 450000))
    }
  }

  test("q18_large_volume: every emitted order's recomputed quantity sum exceeds the cut") {
    val rows = StaticResults.collected(spark, "q18_large_volume")
    val sums = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_quantity")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(1)).sum).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ok = r.getLong(2)
      assert(sums(ok) > 250, s"order $ok emitted with sum ${sums(ok)}")
      assert(math.abs(sums(ok) - r.getDouble(5)) < 1e-6)
    }
    val expected = sums.filter(_._2 > 250).keySet
    assert(rows.map(_.getLong(2)).toSet == expected,
      "emitted orders differ from the recomputed heavy-order set")
  }

  test("join_exists_flag: per-nation splits reconcile and match a recomputed mark join") {
    val rows = StaticResults.collected(spark, "join_exists_flag")
    val custByNation = Tables.customer(spark, sfStatic)
      .join(Tables.nation(spark, sfStatic), col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name"), col("c_custkey")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ordersByCust = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(1))).toMap
    rows.foreach { r =>
      val (nation, n, high, any, none) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val custs = custByNation(nation)
      assert(n == custs.size)
      assert(any + none == n, s"$nation: with/without split doesn't cover")
      assert(high == custs.count(c =>
        ordersByCust.getOrElse(c, Array.empty[Double]).exists(_ > 450000)))
      assert(any == custs.count(ordersByCust.contains))
    }
  }

  test("win_ewma_dyadic: smoother recomputes from each customer's raw order history") {
    val rows = StaticResults.collected(spark, "win_ewma_dyadic")
    val hist = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.time.LocalDateTime](2),
        r.getLong(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3.toString, t._2)).map(_._4).toIndexedSeq).toMap
    assert(rows.nonEmpty)
    val emitted = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val (ck, cents, ewma) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val series = hist(ck)
      // cents can repeat within a customer; some position with this
      // value must reproduce the emitted trailing-8 dot product
      val i = (7 until series.length).find { j =>
        series(j) == cents &&
          (0 to 7).map(k => series(j - k) * (128L >> k)).sum / 255 == ewma
      }
      assert(i.isDefined, s"cust $ck: no window position reproduces ewma $ewma")
    }
    // row count: every customer contributes max(0, n-7) rows
    val expected = hist.values.map(s => math.max(0, s.length - 7)).sum
    assert(emitted.size == expected)
  }

  test("path_trigram_top: counts recompute from per-user sorted event streams") {
    val rows = StaticResults.collected(spark, "path_trigram_top")
      .map(r => r.getString(0) -> r.getLong(1))
    val streams = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime, r.getString(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._3, t._2)).map(_._4).toSeq).toMap
    val all = streams.values.flatMap(_.sliding(3).filter(_.size == 3)
      .map(_.mkString(">"))).groupBy(identity).view.mapValues(_.size.toLong).toMap
    // the emitted 20 must agree with recomputed counts and be the true top-20
    rows.foreach { case (p, n) => assert(all(p) == n, s"$p: $n vs ${all(p)}") }
    val top = all.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(rows.toSeq == top)
  }

  test("mix_upsample_epochs: repeat factors derive from counts and epochs are uniform") {
    val rows = StaticResults.collected(spark, "mix_upsample_epochs")
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfStatic).select(col("lang"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val mx = counts.values.max
    counts.foreach { case (lang, cnt) =>
      val rep = math.min(4L, mx / cnt)
      val chars = docs.filter(_._1 == lang).map(_._2).sum
      (1L to rep).foreach { ep =>
        assert(rows((lang, ep)) == ((cnt, chars)),
          s"$lang epoch $ep: every epoch must repeat the class verbatim")
      }
      assert(!rows.contains((lang, rep + 1)), s"$lang: epoch beyond factor $rep")
    }
  }

  test("vocab_oov_rate: OOV mass recomputes against the top-8 vocabulary") {
    val rows = StaticResults.collected(spark, "vocab_oov_rate")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfStatic).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val corpus = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong)
    val vocab = corpus.toSeq.sortBy { case (t, c) => (-c, t) }.take(8).map(_._1).toSet
    docs.foreach { case (id, toks) =>
      val oov = toks.count(t => !vocab(t)).toLong
      assert(rows(id) == ((toks.size.toLong, oov, oov * 1000 / toks.size)),
        s"doc $id: OOV mismatch")
    }
  }

  test("sample_systematic: membership is exactly every 20th rank of the md5 order") {
    val rows = StaticResults.collected(spark, "sample_systematic")
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val ranked = Tables.documents(spark, sfStatic)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).map(_._2).toIndexedSeq)
      .toMap
    val expected = ranked.flatMap { case (src, ids) =>
      ids.zipWithIndex.collect { case (id, i) if i % 20 == 0 => (src, id, i + 1) }
    }.toSet
    assert(rows.toSet == expected)
  }

  test("harmonize_crosswalk: two-hop fallthrough labels partition all customers") {
    val rows = StaticResults.collected(spark, "harmonize_crosswalk")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nCust = Tables.customer(spark, sfStatic).count()
    assert(rows.values.sum == nCust, "crosswalk drops or duplicates customers")
    assert(rows.keySet == Set("CORE", "GROWTH", "Z4-UNMAPPED", "UNMAPPED"))
  }

  test("agg_corr_explicit: corr matches a direct double-precision recomputation") {
    val rows = StaticResults.collected(spark, "agg_corr_explicit")
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    rows.foreach { r =>
      val (flag, n, corr) = (r.getString(0), r.getLong(1), r.getDouble(2))
      val xs = li.filter(_._1 == flag)
      assert(n == xs.length)
      val x = xs.map(_._2); val y = xs.map(_._3)
      val mx = x.sum / n; val my = y.sum / n
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum / n
      val sx = math.sqrt(x.map(a => (a - mx) * (a - mx)).sum / n)
      val sy = math.sqrt(y.map(b => (b - my) * (b - my)).sum / n)
      // the graded value uses exact integer power sums; a naive float
      // recomputation agrees to ~1e-6 relative
      assert(math.abs(corr - cov / (sx * sy)) < 1e-6,
        s"$flag: corr $corr vs recomputed ${cov / (sx * sy)}")
      assert(corr >= -1.0 && corr <= 1.0)
    }
  }

  test("event_transition_matrix: rows normalize to ≤1e6 ppm per from-state") {
    val rows = StaticResults.collected(spark, "event_transition_matrix")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byFrom = rows.groupBy(_._1)
    byFrom.foreach { case (from, rs) =>
      val tot = rs.head._4
      assert(rs.map(_._3).sum == tot, s"$from: counts don't sum to the marginal")
      val ppmSum = rs.map(_._5).sum
      // floor-ppm rows sum to ≤ 1e6 and within |to-states| of it
      assert(ppmSum <= 1000000L && ppmSum > 1000000L - rs.length,
        s"$from: ppm sum $ppmSum")
      rs.foreach { t => assert(t._5 == t._3 * 1000000L / tot) }
    }
  }

  test("fn_url_parse: parsed components reassemble into the original url") {
    val rows = StaticResults.collected(spark, "fn_url_parse")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (url, host, path, query, kParam, frag) =
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getString(6))
      assert(url == s"https://$host$path?$query#$frag")
      assert(query.contains(s"k=$kParam"))
      assert(host.startsWith("www.shop-") && host.endsWith(".example.com"))
    }
  }

  test("knn_holdout_eval: confusion matrix covers every holdout vector exactly once") {
    val rows = StaticResults.collected(spark, "knn_holdout_eval")
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val holdout = Tables.embeddings(spark, sfStatic)
      .filter(col("vec_id") % 50 === 0).select(col("label")).collect()
      .map(_.getInt(0))
    assert(rows.map(_._3).sum == holdout.length,
      "every holdout vector must be classified exactly once")
    val actualTotals = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val holdoutByLabel = holdout.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(actualTotals == holdoutByLabel,
      "per-actual-label totals must match the holdout composition")
  }

  test("embed_norm_audit: norm² recomputes from raw components per label") {
    val rows = StaticResults.collected(spark, "embed_norm_audit")
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val norm2 = vecs.map { case (l, e) =>
      (l, e.map(x => { val m = math.floor(x.toDouble * 1000 + 0.5).toLong; m * m }).sum)
    }
    val byLabel = norm2.groupBy(_._1)
    assert(rows.keySet == byLabel.keySet)
    byLabel.foreach { case (l, ns) =>
      val (n, mn, mx) = rows(l)
      assert(n == ns.length)
      assert(mn == ns.map(_._2).min && mx == ns.map(_._2).max)
    }
  }

  test("stream_rate_alert: alerts recompute from per-type window series") {
    val rows = StaticResults.collected(spark, "stream_rate_alert")
      .map(r => (r.getString(1), r.getTimestamp(0).getTime, r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val series = rs.sortBy(_._2)
      assert(series.head._4 == -1L, "first window must have no predecessor")
      series.sliding(2).foreach {
        case Array(prev, cur) =>
          assert(cur._4 == prev._3, "prev column must equal the previous window's n")
          assert(cur._5 == (cur._3 > 2 * prev._3))
        case _ =>
      }
    }
  }

  test("graph_triangle_count: kernel recomputes from a JVM adjacency walk") {
    val r = StaticResults.collected(spark, "graph_triangle_count").head
    val li = Tables.lineitem(spark, sfStatic)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(row => (row.getLong(0), row.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    // oriented a<b<c: every triangle is counted exactly once, at its
    // lowest edge (a,b), as |fwd(a) ∩ fwd(b)|
    val fwd = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tri = edges.toSeq.map { case (a, b) =>
      val nb = fwd.getOrElse(b, Set.empty[Long])
      fwd.getOrElse(a, Set.empty[Long]).count(nb.contains)
    }.sum
    assert(r.getLong(0) == deg.size && r.getLong(1) == edges.size)
    assert(r.getLong(2) == wedges, "wedge count")
    assert(r.getLong(3) == tri.toLong, "triangle count")
    assert(r.getLong(4) == r.getLong(3) * 3000000L / wedges)
    assert(r.getLong(3) > 0, "fixture graph must contain triangles to certify")
  }

  test("agg_grouping_id: levels reconcile — each rollup level re-aggregates the base") {
    val rows = StaticResults.collected(spark, "agg_grouping_id")
    val base = rows.filter(_.getLong(2) == 0)
    val langLevel = rows.filter(_.getLong(2) == 1)
    val total = rows.filter(_.getLong(2) == 3)
    assert(total.length == 1 && langLevel.nonEmpty && base.nonEmpty)
    assert(base.map(_.getLong(5)).sum == total.head.getLong(5))
    langLevel.foreach { lr =>
      val kids = base.filter(_.getString(0) == lr.getString(0))
      assert(lr.getLong(5) == kids.map(_.getLong(5)).sum)
      assert(lr.getLong(6) == kids.map(_.getLong(6)).sum)
      assert(lr.isNullAt(1) && lr.getLong(3) == 0 && lr.getLong(4) == 1)
    }
  }

  test("multimodal_chunk_audio: segments tile each doc's duration with 5s overlap") {
    val rows = StaticResults.collected(spark, "multimodal_chunk_audio")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    val durs = Tables.documents(spark, sfStatic).select(col("doc_id"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1) * 25).toMap
    assert(rows.keySet == durs.keySet.filter(durs(_) > 0))
    rows.foreach { case (id, segs) =>
      val dur = durs(id)
      val sorted = segs.sortBy(_._2)
      assert(sorted.length == (dur + 24999) / 25000)
      sorted.foreach { case (_, no, st, en, ns) =>
        assert(st == no * 25000 && en == math.min(st + 30000, dur))
        assert(ns == (en - st) * 16000 / 1000)
        assert(st < dur, "no segment starts past the end")
      }
      assert(sorted.last._4 == dur, "segments must cover to the exact end")
    }
  }

  test("source_csv_quoted: hostile fields survive the sink+source cycle byte-for-byte") {
    val rows = StaticResults.collected(spark, "source_csv_quoted")
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("source"), col("lang")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val (src, lang) = docs(r.getLong(0))
      val expected = s"""$src,\n"$lang"-end"""
      assert(r.getString(1) == expected,
        s"doc ${r.getLong(0)}: ${r.getString(1)} != $expected")
    }
  }

  test("dedup_segment_level: duplicate-segment fractions recompute from raw text") {
    val rows = StaticResults.collected(spark, "dedup_segment_level")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfStatic).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val segs = docs.flatMap { case (id, ts) =>
      ts.grouped(8).map(g => (id, g.mkString(" ")))
    }
    val docsPerSeg = segs.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toMap
    docs.foreach { case (id, ts) =>
      val mySegs = ts.grouped(8).map(_.mkString(" ")).toSeq
      val nDup = mySegs.count(sg => docsPerSeg(sg) >= 2).toLong
      val n = mySegs.size.toLong
      assert(rows(id) == ((n, nDup, nDup * 1000 / n)), s"doc $id")
    }
  }

  test("ab_test_metrics: arm splits and lift recompute from raw events") {
    val rows = StaticResults.collected(spark, "ab_test_metrics")
    val ev = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("user_id"),
        expr("cast(cast(value as decimal(12,4)) * 100 as bigint)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1) % 2, r.getLong(2)))
    rows.foreach { r =>
      val t = r.getString(0)
      val a = ev.filter(e => e._1 == t && e._2 == 0)
      val b = ev.filter(e => e._1 == t && e._2 == 1)
      assert(r.getLong(1) == a.length && r.getLong(2) == b.length)
      assert(r.getLong(3) == a.map(_._3).sum && r.getLong(4) == b.map(_._3).sum)
      val avgA = a.map(_._3).sum * 1000 / a.length
      val avgB = b.map(_._3).sum * 1000 / b.length
      assert(r.getLong(5) == avgA && r.getLong(6) == avgB)
      val lift = if (avgB >= avgA) (avgB - avgA) * 1000000 / avgA
        else -((avgA - avgB) * 1000000 / avgA)
      assert(r.getLong(7) == lift)
    }
  }

  test("order_rfm_segments: quartile cuts are exact ntile(4) over unique orders") {
    val rows = StaticResults.collected(spark, "order_rfm_segments")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val custs = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1),
        math.round(r.getDouble(2) * 100)))
      .groupBy(_._1).map { case (ck, os) =>
        val rec = java.time.temporal.ChronoUnit.DAYS.between(
          os.map(_._2).max.toLocalDate, java.time.LocalDate.of(2001, 9, 1))
        (ck, rec, os.length.toLong, os.map(_._3).sum)
      }.toSeq
    def ntile4(sorted: Seq[Long]): Map[Long, Int] = {
      val n = sorted.length; val base = n / 4; val extra = n % 4
      sorted.zipWithIndex.map { case (ck, i) =>
        val q = if (i < extra * (base + 1)) i / (base + 1) + 1
          else extra + (i - extra * (base + 1)) / base + 1
        ck -> q
      }.toMap
    }
    val rq = ntile4(custs.sortBy(c => (c._2, c._1)).map(_._1))
    val fq = ntile4(custs.sortBy(c => (-c._3, c._1)).map(_._1))
    val mq = ntile4(custs.sortBy(c => (-c._4, c._1)).map(_._1))
    val expected = custs.groupBy(c => s"R${rq(c._1)}F${fq(c._1)}M${mq(c._1)}")
      .map { case (seg, cs) => (seg, cs.size.toLong, cs.map(_._4).sum) }
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == expected)
  }

  test("dedup_source_priority: survivors are the (priority, id)-argmin of each cluster") {
    val rows = StaticResults.collected(spark, "dedup_source_priority")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("source"), substring(col("text"), 1, 64).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1).drop(3).toLong, r.getString(2)))
    val clusters = docs.groupBy(_._3).filter(_._2.length >= 2)
    assert(rows.size == clusters.size)
    assert(rows.nonEmpty, "fixture must contain prefix clusters to certify")
    clusters.foreach { case (_, members) =>
      val surv = members.minBy(m => (m._2, m._1))
      val hit = rows.values.find(v => v._2 == surv._1)
      assert(hit.isDefined && hit.get._1 == members.length.toLong &&
        hit.get._3 == surv._2)
    }
  }

  test("evolution_delete_cascade: splits reconcile and deletion is total per user") {
    val rows = StaticResults.collected(spark, "evolution_delete_cascade")
    val ev = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val t = r.getString(0)
      val all = ev.filter(_._1 == t)
      val doomed = all.filter(_._2 % 97 == 0)
      assert(r.getLong(1) == all.length - doomed.length)
      assert(r.getLong(2) == doomed.length)
      assert(r.getLong(3) == all.filter(_._2 % 97 != 0).map(_._2).distinct.length)
      assert(r.getLong(4) == doomed.map(_._2).distinct.length)
    }
    assert(rows.map(_.getLong(2)).sum > 0, "deletion list must be non-empty to certify")
  }

  test("source_text_lines and source_binary_files: byte-exact against direct recomputation") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val lines = StaticResults.collected(spark, "source_text_lines")
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(lines.toSeq == docs.sortBy(_._1).toSeq)
    val bins = StaticResults.collected(spark, "source_binary_files")
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val expected = docs.groupBy(_._2).view.mapValues { ds =>
      val body = ds.sortBy(_._1).map(_._3).mkString + "\n"
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (body.length.toLong, dig)
    }.toMap
    assert(bins.map(_._1).toSet == expected.keySet)
    bins.foreach { case (lang, n, dig) =>
      assert((n, dig) == expected(lang), s"$lang: binaryFile payload drifted")
    }
  }

  test("agg_string_concat: joined strings decompose back to the distinct sets") {
    val rows = StaticResults.collected(spark, "agg_string_concat")
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        year(col("o_orderdate")).cast("string").as("yr")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    rows.foreach { r =>
      val os = orders.filter(_._1 == r.getString(0))
      assert(r.getString(1).split("\\|").toSeq == os.map(_._2).distinct.sorted.toSeq)
      assert(r.getString(2).split("\\|").toSeq == os.map(_._3).distinct.sorted.toSeq)
      assert(r.getLong(3) == os.length)
    }
  }

  test("session_conversion: flags recompute from a JVM sessionization") {
    val rows = StaticResults.collected(spark, "session_conversion")
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3), r.getBoolean(5), r.getBoolean(6))).toMap
    val ev = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Protocol.tsSec(col("ts")).cast("long").as("sec")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val tagged: Seq[(Long, Long, String)] =
      ev.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
        val sorted = es.sortBy(e => (e._4, e._2)).toSeq
        var sess = 0L; var prev = Long.MinValue
        sorted.map { e =>
          if (prev == Long.MinValue || e._4 - prev > 1800) sess += 1
          prev = e._4
          (uid, sess, e._3)
        }
      }
    val expected = tagged.groupBy(t => (t._1, t._2)).map { case (k, ts) =>
      val types = ts.map(_._3).toSet
      k -> ((ts.size.toLong, types("view"), types("purchase"),
        types("view") && types("purchase")))
    }
    assert(rows == expected)
  }

  test("basket_assoc_rules: metrics recompute from raw 1996 baskets") {
    val rows = StaticResults.collected(spark, "basket_assoc_rules")
    val li = Tables.lineitem(spark, sfStatic)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = li.map(_._1).distinct.length.toLong
    val itemN = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairN = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.length == math.min(20, pairN.size))
    val expectedTop = pairN.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    rows.zip(expectedTop).foreach { case (r, ((a, b), n)) =>
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((a, b, n)))
      assert(r.getLong(3) == n * 1000000L / nBaskets)
      assert(r.getLong(4) == n * 1000000L / itemN(a))
      assert(r.getLong(5) == n * nBaskets * 1000000L / (itemN(a) * itemN(b)))
    }
  }

  test("agg_zscore_outliers: every emitted row exceeds the cut; none are missed") {
    val rows = StaticResults.collected(spark, "agg_zscore_outliers")
    val o = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 100")
          .as("dol")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val stats = o.groupBy(_._2).view.mapValues { os =>
      val n = os.length.toDouble
      val mu = os.map(_._3).sum.toDouble / n
      val s2 = os.map(d => d._3.toDouble * d._3).sum / n
      (mu, math.sqrt(s2 - mu * mu))
    }.toMap
    val expected = o.filter { case (_, p, d) =>
      val (mu, sg) = stats(p); math.abs((d - mu) / sg) > 1.5
    }.map(_._1).toSet
    assert(rows.map(_.getLong(0)).toSet == expected)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mu, sg) = stats(r.getString(1))
      assert(math.abs(r.getDouble(3) - (r.getLong(2) - mu) / sg) < 1e-9)
    }
  }

  test("q4_order_priority: counts recompute from an existence scan") {
    val rows = StaticResults.collected(spark, "q4_order_priority")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey"), col("l_shipdate")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val o = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getString(2)))
    val expected = o.filter { case (ok, od, _) =>
      od.getYear == 1997 && od.getMonthValue <= 3 &&
        li.getOrElse(ok, Array.empty[java.time.LocalDateTime])
          .exists(_.isAfter(od.toLocalDate.plusDays(60).atStartOfDay))
    }.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(rows == expected && rows.values.sum > 0)
  }

  test("join_bloom_prefilter: result is identical to the plain join (the safety identity)") {
    val bloomed = StaticResults.collected(spark, "join_bloom_prefilter")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val build = Tables.orders(spark, sfStatic).filter(col("o_totalprice") > 480000)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plain = Tables.lineitem(spark, sfStatic)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
      .join(build, "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.Protocol.sumMoney(col("l_extendedprice")).as("s"))
      .orderBy(col("o_orderpriority")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(bloomed == plain && bloomed.nonEmpty)
  }

  test("dedup_cluster_star: star-loop clusters agree with the graded min-label clusters") {
    val star = StaticResults.collected(spark, "dedup_cluster_star")
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the min-label key covers ALL docs (singletons included); the
    // star key covers edge-endpoint nodes — restrict to multi-member
    // clusters and the two independent algorithms must agree exactly
    val minLabel = StaticResults.collected(spark, "dedup_cluster_cc")
      .map(r => (r.getLong(1), r.getLong(0))).groupBy(_._1)
      .collect { case (cid, ms) if ms.length >= 2 => cid -> ms.length.toLong }
    assert(star == minLabel.toMap && star.nonEmpty)
  }

  test("dedup_containment: containment pairs recompute from raw token sets") {
    val rows = StaticResults.collected(spark, "dedup_containment")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSet))
    val pairs = for {
      (ida, la, ta) <- docs
      (idb, lb, tb) <- docs
      if la == lb && ida < idb && ta.size != tb.size &&
        ((ta subsetOf tb) || (tb subsetOf ta))
    } yield if (ta.size >= tb.size) (ida, idb) else (idb, ida)
    val expected = pairs.groupBy(_._1).view.mapValues { ps =>
      val contained = ps.map(_._2)
      (contained.size.toLong, contained.min, contained.max)
    }.toMap
    assert(rows == expected)
  }
}
