package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-18 batch, checked by FULL
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle: the semantic prune / IVF sweep / HNSW route / rerank /
  * MMR family is replayed from raw embeddings through plain-Scala
  * quantization and argmin/argmax scans, both edge-store contracts
  * are replayed from the raw fact join, and every exact-integer fold
  * (McNemar, Fleiss, ESS, PSI, cascade, curriculum, SPC rules) is
  * recomputed with BigInt / Long arithmetic that shares no code with
  * the product. */
class R18OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) — the
    * ts_acf_lags cents spelling the r18 ts/SPC keys reuse. */
  private def cents4(v: Double): Long =
    (BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 100)
      .setScale(0, BigDecimal.RoundingMode.DOWN).toLongExact

  /** floor(price * 100 + 0.5) — the half-up cents spelling of the
    * r18 orders keys (dq_schema_drift / PSI / Theil / Atkinson). */
  private def centsHalfUp(v: Double): Long =
    math.floor(v * 100 + 0.5).toLong

  private lazy val embRows: Array[(Long, Int, Array[Float])] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))

  /** Milli quantization floor(x·1000) per component — the kmeansEx
    * spelling. */
  private lazy val milli: Map[Long, Array[Long]] =
    embRows.map { case (id, _, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1000).toLong)
    }.toMap

  private lazy val labelOf: Map[Long, Int] =
    embRows.map(e => e._1 -> e._2).toMap

  /** Label-seeded milli centroids: per (label, dim) floor(sum/n). */
  private lazy val centroids: Map[Int, Array[Long]] =
    embRows.groupBy(_._2).map { case (l, xs) =>
      val n = xs.length
      l -> (0 until 64).map { i =>
        val s = xs.map(x => milli(x._1)(i)).sum
        math.floor(s.toDouble / n).toLong
      }.toArray
    }

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum

  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  private lazy val docRows: Array[(Long, String, String, String, Long)] =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  private lazy val orderRows: Array[(Long, Long, String, Double,
      java.time.LocalDate, String)] =
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        // o_orderdate is timestamp_ntz -> the Row cell is LocalDateTime
        r.getAs[java.time.LocalDateTime](4).toLocalDate, r.getString(5)))

  private lazy val eventRows: Array[(java.sql.Timestamp, Long, String,
      Double)] =
    Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))

  private def eventDay(ts: java.sql.Timestamp): java.time.LocalDate =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate

  private val keys = Seq(
    "dedup_semantic_prune", "ann_ivf_probe_sweep", "ann_hnsw_greedy_route",
    "sim_rerank_two_stage", "graph_edge_store_roundtrip",
    "graph_adamic_adar", "dq_schema_drift", "curation_cascade_cost",
    "stats_mcnemar_paired", "stats_fleiss_kappa", "mix_curriculum_schedule",
    "sample_ess_importance", "ts_pacf_lag2", "agg_theil_index",
    "sim_mmr_diversify", "eval_ece_brier_decomp",
    "privacy_epsilon_composition", "graph_edge_store_incremental",
    "dq_psi_price_drift", "events_spc_western_electric",
    "agg_atkinson_index", "agg_hoover_index", "privacy_randomized_response",
    "ts_ljung_box")

  test("r18 keys are partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("dedup_semantic_prune: centroid cosine, representative, and " +
      "prune census replayed") {
    val ncl = centroids.map { case (l, c) => l -> c.map(x => x * x).sum }
    val cosOf = embRows.map { case (id, l, _) =>
      val v = milli(id)
      val nv = v.map(x => x * x).sum
      val c = if (nv == 0L || ncl(l) == 0L) 0.0
        else round6(dot(v, centroids(l)).toDouble /
          (math.sqrt(nv.toDouble) * math.sqrt(ncl(l).toDouble)))
      (id, l, c)
    }
    val expect = cosOf.groupBy(_._2).toSeq.map { case (l, xs) =>
      val ranked = xs.sortBy { case (id, _, c) => (-c, id) }
      val rep = ranked.head._1
      val pruned = ranked.tail.count(_._3 >= 0.25).toLong
      (l, xs.length.toLong, rep, pruned, xs.length - pruned,
        pruned * 1000000L / xs.length)
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("dedup_semantic_prune")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    assert(expect.map(_._4).sum > 0, "threshold must prune a real tail")
    assert(expect.forall(_._5 > 0), "the representative always survives")
  }

  test("ann_ivf_probe_sweep: centroid routing + exact top-10 recall " +
      "replayed") {
    val qs = (0L until 8L)
    val expect = qs.flatMap { q =>
      val cd = centroids.toSeq
        .map { case (cl, c) => (cl, d2(milli(q), c)) }
        .sortBy { case (cl, dd) => (dd, cl) }
      val vd = embRows.filter(_._1 != q)
        .map { case (id, l, _) => (id, l, d2(milli(q), milli(id))) }
      val top10 = vd.sortBy { case (id, _, dd) => (dd, id) }.take(10)
      val sizes = embRows.groupBy(_._2).map { case (l, xs) => l -> xs.length }
      Seq(1, 2, 4).map { np =>
        val probed = cd.take(np).map(_._1).toSet
        val scanned = probed.toSeq.map(sizes).sum.toLong
        val hits = top10.count(t => probed(t._2)).toLong
        (q, np.toLong, scanned, hits, hits * 10)
      }
    }.toSeq
    val got = graft.SparkEntry.queries("ann_ivf_probe_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
    // the sweep must be monotone per query: more probes, same-or-more recall
    expect.grouped(3).foreach { g =>
      assert(g(0)._4 <= g(1)._4 && g(1)._4 <= g(2)._4, s"non-monotone: $g")
    }
  }

  test("ann_hnsw_greedy_route: layer census + per-layer descent target " +
      "replayed") {
    def layer(id: Long): Int =
      math.min(4, md5hex(id.toString).takeWhile(_ == '0').length)
    val expect = (0L until 8L).flatMap { q =>
      (0 to 4).flatMap { lvl =>
        val pool = embRows.map(_._1).filter(v => layer(v) >= lvl)
        val cands = pool.filter(_ != q)
          .map(v => (v, d2(milli(q), milli(v))))
        if (cands.isEmpty) None
        else {
          val best = cands.minBy { case (v, dd) => (dd, v) }
          val pn = pool.length.toLong
          val hops = if (pn <= 1) 0L
            else (64 - java.lang.Long.numberOfLeadingZeros(pn - 1)).toLong
          Some((q, lvl.toLong, pn, best._1, best._2, hops))
        }
      }
    }.sortBy(t => (t._1, t._2))
    val got = graft.SparkEntry.queries("ann_hnsw_greedy_route")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // descent targets improve (d2 non-increasing) as layers descend
    expect.groupBy(_._1).values.foreach { rows =>
      val byLayer = rows.sortBy(-_._2)
      byLayer.sliding(2).foreach {
        case Seq(hi, lo) => assert(lo._5 <= hi._5,
          s"pool nesting must not worsen the target: $hi -> $lo")
        case _ =>
      }
    }
  }

  test("sim_rerank_two_stage: coarse scan + exact rerank replayed") {
    val centi: Map[Long, Array[Long]] = embRows.map { case (id, _, e) =>
      id -> e.map(x => math.floor(x.toDouble * 10).toLong)
    }.toMap
    val expect = (0L until 8L).map { q =>
      val others = embRows.map(_._1).filter(_ != q)
      val s2 = others.map(v => v -> dot(milli(q), milli(v))).toMap
      val s1 = others.map(v => v -> dot(centi(q), centi(v))).toMap
      val exact10 = others.sortBy(v => (-s2(v), v)).take(10)
      val stage1 = others.sortBy(v => (-s1(v), v)).take(20)
      val rerank10 = stage1.sortBy(v => (-s2(v), v)).take(10)
      val hits = exact10.count(rerank10.toSet).toLong
      val top1 = if (exact10.head == rerank10.head) 1L else 0L
      (q, 20L, hits, hits * 10, top1)
    }
    val got = graft.SparkEntry.queries("sim_rerank_two_stage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
  }

  private lazy val lineRows: Array[(Long, Long, Long)] =
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  private lazy val tradeEdges: Set[(Long, Long)] = {
    val custOf = orderRows.map(o => o._1 -> o._2).toMap
    lineRows.flatMap(l => custOf.get(l._1).map(ck => (ck, l._3))).toSet
  }

  test("graph_edge_store_roundtrip: stored == recomputed and the degree " +
      "census replayed") {
    val degC = tradeEdges.groupBy(_._1).map { case (_, xs) => xs.size }
    val degS = tradeEdges.groupBy(_._2).map { case (_, xs) => xs.size }
    val r = graft.SparkEntry.queries("graph_edge_store_roundtrip")(spark, sf)
      .collect().head
    assert(r.getLong(0) == tradeEdges.size.toLong, "n_edges")
    assert(r.getLong(1) == tradeEdges.size.toLong, "n_stored")
    assert(r.getLong(2) == 0L, "parquet roundtrip must be lossless")
    assert(r.getLong(3) == degC.size.toLong, "n_cust")
    assert(r.getLong(4) == degS.size.toLong, "n_supp")
    assert(r.getLong(5) == degC.max.toLong, "max_cust_deg")
    assert(r.getLong(6) == degS.max.toLong, "max_supp_deg")
  }

  test("graph_edge_store_incremental: increment classification + the " +
      "merged == rebuild identity replayed") {
    val priorKeys = orderRows.filter(o => md5hex(o._1.toString).head <= '7')
      .map(_._1).toSet
    val custOf = orderRows.map(o => o._1 -> o._2).toMap
    def edges(keys: Long => Boolean): Set[(Long, Long)] =
      lineRows.filter(l => keys(l._1))
        .flatMap(l => custOf.get(l._1).map(ck => (ck, l._3))).toSet
    val ebp = edges(priorKeys)
    val ebi = edges(k => custOf.contains(k) && !priorKeys(k))
    val nNew = (ebi -- ebp).size.toLong
    val r = graft.SparkEntry.queries("graph_edge_store_incremental")(
      spark, sf).collect().head
    assert(r.getLong(0) == ebp.size.toLong, "n_stored")
    assert(r.getLong(1) == ebi.size.toLong, "n_increment")
    assert(r.getLong(2) == nNew, "n_new")
    assert(r.getLong(3) == ebi.size - nNew, "n_dup")
    assert(r.getLong(4) == (ebp ++ ebi).size.toLong, "n_merged")
    assert(r.getLong(5) == tradeEdges.size.toLong, "n_full_rebuild")
    assert(r.getLong(6) == 0L, "merged must equal the full rebuild")
    assert(nNew > 0 && ebi.size - nNew > 0,
      "fixture must exercise both increment outcomes")
  }

  test("graph_adamic_adar: hub-discounted wedge weights replayed") {
    val sp = lineRows.map(l => (l._3, l._2)).toSet
    val byPart = sp.groupBy(_._2).view.mapValues(_.map(_._1).toSeq.sorted)
    val acc = collection.mutable.Map[(Long, Long), (Long, Long)]()
    byPart.values.filter(_.size >= 2).foreach { sks =>
      val w = math.floor(1000000.0 / math.log(sks.size.toDouble)).toLong
      for (i <- sks.indices; j <- (i + 1) until sks.size) {
        val k = (sks(i), sks(j))
        val (c0, a0) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (c0 + 1, a0 + w)
      }
    }
    val expect = acc.toSeq
      .map { case ((a, b), (c, aa)) => (a, b, c, aa) }
      .sortBy { case (a, b, _, aa) => (-aa, a, b) }.take(50)
    val got = graft.SparkEntry.queries("graph_adamic_adar")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("dq_schema_drift: per-half profile metrics replayed") {
    val (prior, incr) = orderRows.partition(o =>
      md5hex(o._1.toString).head <= '7')
    def prof(xs: Array[(Long, Long, String, Double, java.time.LocalDate,
        String)]) = {
      val cents = xs.map(o => centsHalfUp(o._4))
      Map(
        "n_rows" -> xs.length.toLong,
        "nd_custkey" -> xs.map(_._2).distinct.length.toLong,
        "nd_status" -> xs.map(_._3).distinct.length.toLong,
        "nd_priority" -> xs.map(_._6).distinct.length.toLong,
        "sum_price_cents" -> cents.sum,
        "mean_price_cents" -> cents.sum / xs.length,
        "min_price_cents" -> cents.min,
        "max_price_cents" -> cents.max)
    }
    val (p, i) = (prof(prior), prof(incr))
    val expect = p.keys.toSeq.sorted.map(m =>
      (m, p(m), i(m), math.abs(p(m) - i(m))))
    val got = graft.SparkEntry.queries("dq_schema_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("curation_cascade_cost: funnel counts and cumulative costs " +
      "replayed") {
    val flags = docRows.map { d =>
      val toks = d._2.split(" ", -1)
      val pLen = d._5 >= 100
      val pLang = Set("en", "es", "de", "fr")(d._3)
      val pQual = toks.length >= 10 &&
        toks.distinct.length.toDouble / toks.length >= 0.3
      (d._1, d._2, pLen, pLang, pQual)
    }
    val n0 = flags.length.toLong
    val nl = flags.count(_._3).toLong
    val nll = flags.count(f => f._3 && f._4).toLong
    val nq = flags.count(_._5).toLong
    val nql = flags.count(f => f._5 && f._4).toLong
    val nall = flags.count(f => f._3 && f._4 && f._5).toLong
    val nsurv = flags.filter(f => f._3 && f._4 && f._5)
      .groupBy(_._2).size.toLong
    val expect = Seq(
      ("cheap_first", 1L, "len", n0, nl, n0, n0),
      ("cheap_first", 2L, "lang", nl, nll, nl * 2, n0 + nl * 2),
      ("cheap_first", 3L, "quality", nll, nall, nll * 10,
        n0 + nl * 2 + nll * 10),
      ("cheap_first", 4L, "dedup", nall, nsurv, nall * 5,
        n0 + nl * 2 + nll * 10 + nall * 5),
      ("quality_first", 1L, "quality", n0, nq, n0 * 10, n0 * 10),
      ("quality_first", 2L, "lang", nq, nql, nq * 2, n0 * 10 + nq * 2),
      ("quality_first", 3L, "len", nql, nall, nql, n0 * 10 + nq * 2 + nql),
      ("quality_first", 4L, "dedup", nall, nsurv, nall * 5,
        n0 * 10 + nq * 2 + nql + nall * 5))
    val got = graft.SparkEntry.queries("curation_cascade_cost")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect)
    // ordering must matter: cheap-first strictly cheaper here
    assert(expect(3)._7 < expect(7)._7)
  }

  test("stats_mcnemar_paired: discordant-pair chi-square replayed") {
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val expect = eventRows.groupBy(_._3).toSeq.map { case (t, xs) =>
      val byUser = xs.groupBy(_._2)
      val pc = byUser.values.map { es =>
        (es.exists(_._1.before(cut)), es.exists(e => !e._1.before(cut)))
      }
      val b = pc.count { case (p, q) => p && !q }.toLong
      val c = pc.count { case (p, q) => !p && q }.toLong
      val chi = if (b + c == 0) None
        else Some((b - c) * (b - c) * 1000000L / (b + c))
      (t, byUser.size.toLong, b, c, chi, chi.map(_ > 3841459L))
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("stats_mcnemar_paired")(spark, sf)
      .collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getBoolean(5)))
      }.toSeq
    assert(got == expect)
  }

  test("stats_fleiss_kappa: the cleared rational replayed with BigInt") {
    val cats = docRows.map { d =>
      val ntok = d._2.split(" ", -1).length.toLong
      def cat(lo: Long, hi: Long) = if (ntok < lo) 0 else if (ntok < hi) 1 else 2
      (cat(50, 150), cat(60, 140), cat(40, 160))
    }
    val njs = cats.map { case (a, b, c) =>
      (0 to 2).map(j => Seq(a, b, c).count(_ == j).toLong)
    }
    val n = BigInt(cats.length)
    val s = njs.map(v => BigInt(v.map(x => x * x).sum)).sum
    val cj = (0 to 2).map(j => BigInt(njs.map(_(j)).sum))
    val t = cj.map(c => c * c).sum
    val num = 3 * n * (s - 3 * n) - 2 * t
    val den = 18 * n * n - 2 * t
    val r = graft.SparkEntry.queries("stats_fleiss_kappa")(spark, sf)
      .collect().head
    assert(r.getLong(0) == n.toLong)
    assert(r.getLong(1) == s.toLong)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (cj(0).toLong, cj(1).toLong, cj(2).toLong))
    assert(r.getLong(5) == ((s - 3 * n) * 1000000 / (6 * n)).toLong)
    assert(r.getLong(6) == (t * 1000000 / (9 * n * n)).toLong)
    assert(r.getLong(7) == (num * 1000000 / den).toLong)
    // raters genuinely disagree on the boundary band
    assert(r.getLong(7) < 1000000L && r.getLong(7) > 0L)
  }

  test("mix_curriculum_schedule: histogram-cumulative phases replayed") {
    val ntoks = docRows.map(_._2.split(" ", -1).length.toLong)
    val h = ntoks.groupBy(identity).view
      .mapValues(xs => (xs.length.toLong, xs.sum)).toMap
    val n = ntoks.length.toLong
    val tokAll = ntoks.sum
    val expect = h.toSeq.map { case (t, (nd, toks)) =>
      val cumBefore = h.filter(_._1 < t).values.map(_._1).sum
      (math.min(3L, cumBefore * 4 / n), t, nd, toks)
    }.groupBy(_._1).toSeq.map { case (ph, xs) =>
      (ph, xs.map(_._3).sum, xs.map(_._2).min, xs.map(_._2).max,
        xs.map(_._4).sum, xs.map(_._4).sum * 1000000L / tokAll)
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("mix_curriculum_schedule")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // phases are ordered by length: min of phase k+1 > max of phase k
    expect.sliding(2).foreach {
      case Seq(a, b) => assert(b._3 > a._4)
      case _ =>
    }
  }

  test("sample_ess_importance: weights + the ESS rational replayed") {
    val bySrc = docRows.groupBy(_._4).toSeq.sortBy(_._1)
    val n = docRows.length.toLong
    val charsAll = docRows.map(_._5).sum
    val rows = bySrc.map { case (src, xs) =>
      val nd = xs.length.toLong
      val chars = xs.map(_._5).sum
      val actual = nd * 1000000L / n
      val target = chars * 1000000L / charsAll
      (src, nd, actual, target, target * 1000000L / actual)
    }
    val sw = rows.map(r => BigInt(r._2) * r._5).sum
    val sww = rows.map(r => BigInt(r._2) * r._5 * r._5).sum
    val ess = (sw * sw * 1000000 / (BigInt(n) * sww)).toLong
    val expect = rows.map(r => (r._1, r._2, r._3, r._4, r._5, ess))
    val got = graft.SparkEntry.queries("sample_ess_importance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    assert(ess > 0L && ess <= 1000000L)
  }

  private lazy val dailyCents4: Map[(String, java.time.LocalDate), Long] =
    eventRows.groupBy(e => (e._3, eventDay(e._1)))
      .map { case (k, xs) => k -> xs.map(e => cents4(e._4)).sum }

  test("ts_pacf_lag2: lag Pearsons + the Durbin-Levinson fold replayed") {
    def acf(t: String, lag: Int): (Long, Double) = {
      val m = dailyCents4.filter(_._1._1 == t)
        .map { case ((_, d), c) => d -> c }
      val pairs = m.toSeq.flatMap { case (d, x) =>
        m.get(d.plusDays(lag)).map(y => (x, y))
      }
      val n = pairs.length.toLong
      val sx = pairs.map(p => BigInt(p._1)).sum
      val sy = pairs.map(p => BigInt(p._2)).sum
      val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
      val syy = pairs.map(p => BigInt(p._2) * p._2).sum
      val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
      val a = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (math.sqrt(n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
          math.sqrt(n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      (n, a)
    }
    val types = eventRows.map(_._3).distinct.sorted.toSeq
    val expect = types.map { t =>
      val (n1, a1) = acf(t, 1); val (n2, a2) = acf(t, 2)
      val p = if (1.0 - a1 * a1 == 0.0) None
        else Some((a2 - a1 * a1) / (1.0 - a1 * a1))
      (t, n1, n2, a1, a2, p)
    }
    val got = graft.SparkEntry.queries("ts_pacf_lag2")(spark, sf)
      .collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))
      }.toSeq
    assert(got == expect)
  }

  private lazy val custRevNation: Seq[(String, Long)] = {
    val natName = Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val custNat = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    orderRows.groupBy(_._2).toSeq.map { case (ck, os) =>
      (natName(custNat(ck)), os.map(o => centsHalfUp(o._4)).sum)
    }
  }

  test("agg_theil_index: per-term floor-micro quantization replayed") {
    val expect = custRevNation.groupBy(_._1).toSeq.map { case (nat, xs) =>
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      val st = xs.map { case (_, x) =>
        val r = (x * n).toDouble / s
        math.floor(r * math.log(r) * 1000000).toLong
      }.sum
      (nat, n, s / n, st / n)
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("agg_theil_index")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("agg_atkinson_index: quantized geomean replayed") {
    val expect = custRevNation.groupBy(_._1).toSeq.map { case (nat, xs) =>
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      val sl = xs.map(x => math.floor(math.log(x._2.toDouble) * 1000000)
        .toLong).sum
      val a = 1000000L - math.floor(
        math.exp((sl / n).toDouble / 1000000.0) * n / s * 1000000).toLong
      (nat, n, s / n, a)
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("agg_atkinson_index")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    // inequality indices must be in (0, 1) ppm and internally consistent
    expect.foreach(e => assert(e._4 > 0 && e._4 < 1000000L))
  }

  test("sim_mmr_diversify: the greedy pick sequence replayed " +
      "imperatively") {
    val expect = (0L until 8L).flatMap { q =>
      val others = embRows.map(_._1).filter(_ != q)
      val rel = others.map(v => v -> dot(milli(q), milli(v))).toMap
      val cand = others.sortBy(v => (-rel(v), v)).take(20)
      val sim = (for (a <- cand; b <- cand if a != b)
        yield (a, b) -> dot(milli(a), milli(b))).toMap
      val picked = collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val first = cand.minBy(v => (-rel(v), v))
      picked += ((first, rel(first), 0L))
      for (_ <- 2 to 5) {
        val sel = picked.map(_._1).toSet
        val best = cand.filterNot(sel)
          .map { v =>
            val ms = sel.map(sv => sim((v, sv))).max
            (v, rel(v), ms)
          }
          .minBy { case (v, r, ms) => (-(7 * r - 3 * ms), v) }
        picked += best
      }
      picked.zipWithIndex.map { case ((v, r, ms), i) =>
        (q, (i + 1).toLong, v, r, ms, 7 * r - 3 * ms)
      }
    }.sortBy(t => (t._1, t._2))
    val got = graft.SparkEntry.queries("sim_mmr_diversify")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // diversification must actually reorder: some pick differs from
    // the pure-relevance prefix for at least one probe
    val pure = (0L until 8L).flatMap { q =>
      val others = embRows.map(_._1).filter(_ != q)
      val rel = others.map(v => v -> dot(milli(q), milli(v))).toMap
      others.sortBy(v => (-rel(v), v)).take(5).zipWithIndex
        .map { case (v, i) => (q, (i + 1).toLong, v) }
    }.toSet
    assert(expect.map(t => (t._1, t._2, t._3)).toSet != pure,
      "MMR must diverge from pure relevance somewhere")
  }

  test("eval_ece_brier_decomp: binned calibration folds replayed with " +
      "BigInt") {
    val dates = orderRows.map(_._5)
    val mn = dates.min
    val span = java.time.temporal.ChronoUnit.DAYS.between(mn, dates.max)
    val sc = orderRows.map { o =>
      val p = java.time.temporal.ChronoUnit.DAYS.between(mn, o._5) *
        1000000L / span
      (p, if (o._3 == "F") 1L else 0L)
    }
    val bins = sc.groupBy(s => math.min(s._1 / 100000L, 9L)).map {
      case (_, xs) =>
        val n = xs.length.toLong
        val sp = xs.map(_._1).sum
        val sy = xs.map(_._2).sum
        val sb = xs.map(x => BigInt(x._1 - x._2 * 1000000L).pow(2)).sum
        (n, sp / n, sy * 1000000L / n, sy, sb)
    }.toSeq
    val nn = BigInt(bins.map(_._1).sum)
    val syy = BigInt(bins.map(_._4).sum)
    val ece = bins.map(b => BigInt(b._1) * math.abs(b._2 - b._3)).sum / nn
    val rel = bins.map(b => BigInt(b._1) * BigInt(b._2 - b._3).pow(2))
      .sum / nn
    val brier = bins.map(_._5).sum / nn
    val ybarAll = syy * 1000000 / nn
    val res = bins.map(b => BigInt(b._1) * (BigInt(b._3) - ybarAll).pow(2))
      .sum / nn
    val unc = ybarAll * (1000000 - ybarAll)
    val r = graft.SparkEntry.queries("eval_ece_brier_decomp")(spark, sf)
      .collect().head
    assert(r.getLong(0) == nn.toLong)
    assert(r.getLong(1) == ece.toLong, "ece")
    assert(r.getLong(2) == brier.toLong, "brier")
    assert(r.getLong(3) == rel.toLong, "reliability")
    assert(r.getLong(4) == res.toLong, "resolution")
    assert(r.getLong(5) == unc.toLong, "uncertainty")
  }

  test("privacy_epsilon_composition: both bounds replayed " +
      "operand-for-operand") {
    val expect = eventRows.groupBy(_._3).toSeq.map { case (t, xs) =>
      val k = xs.map(e => eventDay(e._1)).distinct.length.toLong
      val adv = math.floor((0.1 * math.sqrt(2.0 * k * math.log(1000000.0))
        + k * 0.1 * (math.exp(0.1) - 1.0)) * 1000000).toLong
      (t, k, k * 100000L, adv, adv < k * 100000L)
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("privacy_epsilon_composition")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got == expect)
    // with eps0 = 0.1 the advanced bound crosses below basic only past
    // k ~ 34 queries; pin the crossover itself rather than either side
    expect.foreach(e => assert(e._5 == (e._2 > 34L),
      s"advanced-composition crossover must sit at k ~ 34: $e"))
  }

  test("dq_psi_price_drift: smoothed-share PSI replayed") {
    val sc = orderRows.map { o =>
      (md5hex(o._1.toString).head <= '7',
        math.min(9L, centsHalfUp(o._4) / 5000000L))
    }
    val bins = sc.groupBy(_._2).toSeq.sortBy(_._1)
    val np = sc.count(_._1).toLong
    val ni = sc.length - np
    val nb = bins.length.toLong
    val rows = bins.map { case (b, xs) =>
      val cp = xs.count(_._1).toLong
      val ci = xs.length - cp
      val pD = (cp + 1).toDouble / (np + nb)
      val qD = (ci + 1).toDouble / (ni + nb)
      (b, cp, ci, (cp + 1) * 1000000L / (np + nb),
        (ci + 1) * 1000000L / (ni + nb),
        math.floor((pD - qD) * math.log(pD / qD) * 1000000).toLong)
    }
    val psi = rows.map(_._6).sum
    val expect = rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, psi))
    val got = graft.SparkEntry.queries("dq_psi_price_drift")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect)
    // every term of a PSI is non-negative up to the floor quantization
    assert(rows.forall(_._6 >= -1L))
  }

  test("agg_hoover_index: the no-transcendental rational replayed with " +
      "BigInt") {
    val expect = custRevNation.groupBy(_._1).toSeq.map { case (nat, xs) =>
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      val sd = xs.map(x => (BigInt(x._2) * n - s).abs).sum
      (nat, n, s / n, (sd * 1000000 / (2 * BigInt(n) * s)).toLong)
    }.sortBy(_._1)
    val got = graft.SparkEntry.queries("agg_hoover_index")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    expect.foreach(e => assert(e._4 > 0 && e._4 < 500000L,
      s"Hoover is bounded by 1/2: $e"))
  }

  test("privacy_randomized_response: mechanism + debias estimator " +
      "replayed") {
    val langs = docRows.map(_._3).distinct.sorted
    val n = docRows.length.toLong
    val reports = docRows.map { d =>
      val keep = md5hex(d._1.toString + ":rr").charAt(0) < 'c'
      val idx = (java.lang.Long.parseLong(
        md5hex("rr:" + d._1.toString).substring(0, 4), 16) %
        langs.length).toInt
      (d._3, if (keep) d._3 else langs(idx))
    }
    val expect = langs.map { l =>
      val trueN = reports.count(_._1 == l).toLong
      val noisy = reports.count(_._2 == l).toLong
      val est = (20 * noisy - n) * 1000 / 15
      (l, trueN, noisy, est, math.abs(est - trueN * 1000))
    }.toSeq
    val got = graft.SparkEntry.queries("privacy_randomized_response")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect)
    // the mechanism must actually flip some reports, and the debiased
    // estimates must still sum to ~N (the estimator is mass-preserving:
    // Σ(20·noisyⱼ − N)/15 = (20N − 5N)/15 = N, up to the 5 floor steps)
    assert(reports.exists(p => p._1 != p._2))
    assert(math.abs(expect.map(_._4).sum - n * 1000) <= 5L)
  }

  test("ts_ljung_box: the fixed-order three-lag fold replayed") {
    def acf(t: String, lag: Int): Double = {
      val m = dailyCents4.filter(_._1._1 == t)
        .map { case ((_, d), c) => d -> c }
      val pairs = m.toSeq.flatMap { case (d, x) =>
        m.get(d.plusDays(lag)).map(y => (x, y))
      }
      val np = pairs.length.toLong
      val sx = pairs.map(p => BigInt(p._1)).sum
      val sy = pairs.map(p => BigInt(p._2)).sum
      val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
      val syy = pairs.map(p => BigInt(p._2) * p._2).sum
      val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
      (np.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (math.sqrt(np.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
          math.sqrt(np.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
    }
    val expect = eventRows.map(_._3).distinct.sorted.toSeq.map { t =>
      val n = dailyCents4.count(_._1._1 == t).toLong
      val (a1, a2, a3) = (acf(t, 1), acf(t, 2), acf(t, 3))
      val q = math.floor(n * (n + 2) *
        (a1 * a1 / (n - 1) + a2 * a2 / (n - 2) + a3 * a3 / (n - 3)) *
        1000000).toLong
      (t, n, q, q > 7814728L)
    }
    val got = graft.SparkEntry.queries("ts_ljung_box")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got == expect)
  }

  test("events_spc_western_electric: z-chart + all four rules replayed") {
    val expect = dailyCents4.groupBy(_._1._1).toSeq.flatMap { case (t, m) =>
      val days = m.toSeq.map { case ((_, d), c) => (d, c) }.sortBy(_._1.toString)
      val n = days.length.toLong
      val sx = days.map(d => BigInt(d._2)).sum
      val sxx = days.map(d => BigInt(d._2) * d._2).sum
      val zs = days.map { case (_, c) =>
        val num = n.toDouble * c.toDouble - sx.toDouble
        val den = math.sqrt(n.toDouble * sxx.toDouble -
          sx.toDouble * sx.toDouble)
        math.floor(num / den * 1000).toLong
      }
      days.indices.map { i =>
        def w(k: Int) = zs.slice(math.max(0, i - k + 1), i + 1)
        val r1 = math.abs(zs(i)) > 3000
        val r2 = w(3).count(_ > 2000) >= 2 || w(3).count(_ < -2000) >= 2
        val r3 = w(5).count(_ > 1000) >= 4 || w(5).count(_ < -1000) >= 4
        val r4 = w(8).length == 8 &&
          (w(8).count(_ > 0) == 8 || w(8).count(_ < 0) == 8)
        (t, days(i)._1.toString, days(i)._2, zs(i), r1, r2, r3, r4)
      }
    }.sortBy(e => (e._1, e._2))
    val got = graft.SparkEntry.queries("events_spc_western_electric")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7))).toSeq
    assert(got == expect)
  }
}
