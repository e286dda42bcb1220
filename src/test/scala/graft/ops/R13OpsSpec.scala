package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Semantic invariants of the round-13 batch (FK orphan census,
  * hapax profile, token-length histogram, keyframe budget, bounce
  * rate, retention triangle), checked by driver-side recomputation at
  * sf0.001 — independent of the DuckDB oracle.
  */
class R13OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys = Seq("dq_referential_orphans", "text_hapax_ratio",
    "vocab_token_len_histogram", "multimodal_keyframe_budget",
    "events_bounce_rate", "cohort_retention_triangle",
    "report_lorenz_deciles", "graph_modularity_nations",
    "sim_centroid_classifier", "corpus_vocab_growth",
    "report_ship_lag_histogram", "drift_value_psi",
    "curation_rule_overlap", "mix_dedup_adjusted")

  test("every r13 key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("dq_referential_orphans: orphan counts recompute from key sets") {
    val rows = Sampling.dqReferentialOrphans.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def keysOf(df: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      df.select(col(c).cast("long")).collect().map(r =>
        if (r.isNullAt(0)) Long.MinValue else r.getLong(0)).toSeq
    val custKeys = keysOf(Tables.customer(spark, sf), "c_custkey").toSet
    val orderKeys = keysOf(Tables.orders(spark, sf), "o_orderkey").toSet
    val childChecks = Seq(
      ("orders.o_custkey->customer", keysOf(Tables.orders(spark, sf), "o_custkey"), custKeys),
      ("lineitem.l_orderkey->orders", keysOf(Tables.lineitem(spark, sf), "l_orderkey"), orderKeys),
      ("events.user_id->customer", keysOf(Tables.events(spark, sf), "user_id"), custKeys))
    childChecks.foreach { case (name, child, parents) =>
      val (nChild, nOrph, ppm) = rows(name)
      assert(nChild == child.length.toLong, s"$name n_child")
      assert(nOrph == child.count(k => !parents.contains(k)).toLong, s"$name n_orphans")
      assert(ppm == nOrph * 1000000L / nChild, s"$name ppm")
    }
    assert(rows.size == 8, "eight declared relationships")
    // the TPC-H core relationships must come back clean on this fixture
    Seq("lineitem.l_orderkey->orders", "orders.o_custkey->customer",
      "customer.c_nationkey->nation", "nation.n_regionkey->region")
      .foreach(k => assert(rows(k)._2 == 0L, s"$k should have no orphans"))
  }

  test("text_hapax_ratio: tail counts recompute from a token multiset") {
    val rows = CorpusOps.textHapaxRatio.run(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val freq = ds.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val (nTok, nTerms, nHapax, nDis, permille) = rows(src)
      assert(nTok == freq.values.sum, s"$src token total")
      assert(nTerms == freq.size.toLong, s"$src distinct terms")
      assert(nHapax == freq.values.count(_ == 1L).toLong, s"$src hapax")
      assert(nDis == freq.values.count(_ == 2L).toLong, s"$src dis")
      assert(permille == nHapax * 1000L / nTerms, s"$src permille")
    }
  }

  test("vocab_token_len_histogram: buckets recompute and permilles sum sanely") {
    val rows = CorpusOps.vocabTokenLenHistogram.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    docs.groupBy(_._1).foreach { case (lang, ds) =>
      val lens = ds.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .map(t => math.min(t.length, 15))
      val byLen = lens.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val tot = lens.length.toLong
      byLen.foreach { case (len, n) =>
        val (nOcc, permille) = rows((lang, len))
        assert(nOcc == n, s"$lang len $len count")
        assert(permille == n * 1000L / tot, s"$lang len $len permille")
      }
      // floor-permilles across a lang's buckets sum to ≤ 1000
      // .toSeq first: mapping over the key SET would dedupe equal
      // permille values before summing
      val s = byLen.keys.toSeq.map(l => rows((lang, l))._2).sum
      assert(s <= 1000L && s > 1000L - byLen.size, s"$lang permille mass $s")
    }
  }

  test("multimodal_keyframe_budget: each source hands out exactly 1000 frames") {
    val rows = LlmPipeline.multimodalKeyframeBudget.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val bySource = rows.groupBy(_._2)
    bySource.foreach { case (src, ds) =>
      assert(ds.map(_._5).sum == 1000L, s"$src must allocate the whole budget")
      val wtot = ds.map(_._3).sum
      ds.foreach { case (doc, _, dur, base, frames) =>
        assert(base == 1000L * dur / wtot, s"doc $doc floor share")
        assert(frames == base || frames == base + 1, s"doc $doc within 1 of share")
      }
    }
    // apportionment never inverts ordering: a doc with more duration
    // never gets fewer frames than a same-source doc with less
    bySource.foreach { case (src, ds) =>
      val sorted = ds.sortBy(x => (x._3, -x._1)).toSeq
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2)
          assert(pair(0)._5 <= pair(1)._5 + 1,
            s"$src monotonicity: ${pair(0)} vs ${pair(1)}")
      }
    }
  }

  test("events_bounce_rate: bounce sessions recompute from a driver-side sessionizer") {
    val rows = EventAnalytics.eventsBounceRate.run(spark, sf).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).cast("timestamp").as("ts_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Timestamp](2)))
    val sessions = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3.getTime, e._2))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]() // (startMs, n)
      var start = 0L; var last = 0L; var n = 0
      sorted.foreach { e =>
        val t = e._3.getTime
        if (n == 0 || t - last >= 1800 * 1000L) {
          if (n > 0) out += ((start, n))
          start = t; n = 1
        } else n += 1
        last = t
      }
      if (n > 0) out += ((start, n))
      out
    }
    val byDay = sessions.groupBy { case (startMs, _) =>
      java.time.Instant.ofEpochMilli(startMs)
        .atOffset(java.time.ZoneOffset.UTC).toLocalDate.toString }
    assert(rows.keySet == byDay.keySet, "one row per session-start day")
    byDay.foreach { case (day, ss) =>
      val (nSess, nBounce, ppm) = rows(day)
      assert(nSess == ss.length.toLong, s"$day session count")
      assert(nBounce == ss.count(_._2 == 1).toLong, s"$day bounce count")
      assert(ppm == nBounce * 1000000L / nSess, s"$day ppm")
    }
  }

  test("cohort_retention_triangle: age-0 is always full retention and shares recompute") {
    val rows = EventAnalytics.cohortRetentionTriangle.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val weeks = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000L div 7").as("wk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val firstWk = weeks.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cohortSize = firstWk.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val active = weeks.map { case (u, w) => (firstWk(u), w - firstWk(u), u) }
      .distinct.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).distinct.length.toLong)
    assert(rows.keySet == active.toMap.keySet)
    rows.foreach { case ((cw, age), (size, nAct, ppm)) =>
      assert(size == cohortSize(cw), s"cohort $cw size")
      assert(nAct == active((cw, age)), s"($cw,$age) active")
      assert(ppm == nAct * 1000000L / size, s"($cw,$age) ppm")
      if (age == 0L)
        assert(ppm == 1000000L, "every user is active in their cohort week")
      assert(age >= 0L)
    }
  }

  test("report_lorenz_deciles: the curve is a valid ascending Lorenz curve") {
    val rows = Aggregates.reportLorenzDeciles.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(rows.map(_._2).sum == nCust, "every active customer lands in one decile")
    assert(rows.last._5 == 1000000L, "the full cumulative share is exactly 1e6 ppm")
    rows.sliding(2).foreach { pr =>
      if (pr.length == 2) {
        assert(pr(0)._5 <= pr(1)._5, "cumulative share is nondecreasing")
        // ascending revenue ranks: a later decile's MEAN revenue is >= earlier's
        assert(pr(0)._3 * pr(1)._2 <= pr(1)._3 * pr(0)._2,
          s"decile means must be nondecreasing: ${pr(0)} vs ${pr(1)}")
      }
    }
    assert(rows.map(_._4).max == rows.map(_._3).sum, "last cum equals total")
  }

  test("graph_modularity_nations: degree and edge conservation hold") {
    val rows = ClusterOps.graphModularityNations.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val m = Tables.lineitem(spark, sf).count()
    assert(rows.map(_._3).sum == 2 * m, "sum of degrees is twice the edge count")
    assert(rows.map(_._2).sum <= m, "internal edges cannot exceed all edges")
    assert(rows.forall(r => r._2 <= r._3), "internal edges bounded by degree")
    // modularity contributions live in [-1e6, 1e6]
    assert(rows.forall(r => r._4 >= -1000000L && r._4 <= 1000000L))
  }

  test("sim_centroid_classifier: the confusion matrix recomputes exactly") {
    val rows = LlmExtras.simCentroidClassifier.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)
        .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))
    val dim = vecs.head._3.length
    val cents = vecs.groupBy(_._2).map { case (lbl, vs) =>
      lbl -> (0 until dim).map(i =>
        Math.floorDiv(vs.map(_._3(i)).sum, vs.length.toLong)).toArray
    }
    val truth = vecs.map { case (_, lbl, mv) =>
      val pred = cents.toSeq.map { case (cl, c) =>
        (mv.indices.map(i => (mv(i) - c(i)) * (mv(i) - c(i))).sum, cl)
      }.min._2
      (lbl, pred)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.keySet == truth.keySet)
    truth.foreach { case (cell, n) =>
      assert(rows(cell)._1 == n, s"cell $cell count")
      assert(rows(cell)._2 == (if (cell._1 == cell._2) n else 0L), s"cell $cell diag")
    }
  }

  test("corpus_vocab_growth: the curve is monotone and ends at the full corpus") {
    val rows = CorpusOps.corpusVocabGrowth.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 10L).toSeq)
    rows.sliding(2).foreach { pr =>
      if (pr.length == 2) {
        assert(pr(0)._3 <= pr(1)._3 && pr(0)._4 <= pr(1)._4, "monotone growth")
      }
    }
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
    assert(rows.last._3 == toks.length.toLong, "k=10 covers every token")
    assert(rows.last._4 == toks.distinct.length.toLong, "k=10 covers the full vocabulary")
  }

  test("drift_value_psi: terms recompute and the index is nonnegative-summing") {
    val rows = DriftOps.driftValuePsi.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(r => r._2 + r._3).sum == nOrders, "every order in one cell")
    assert(rows.map(_._1).toSeq == (0L to 10L), "all 11 scaffold buckets present")
    val (tr, tc) = (rows.map(_._2).sum, rows.map(_._3).sum)
    rows.foreach { case (b, nr, nc, rppm, cppm, psi) =>
      assert(rppm == nr * 1000000L / tr && cppm == nc * 1000000L / tc, s"bucket $b ppm")
      if (nr > 0 && nc > 0) {
        val lnr = BigDecimal(math.log(nr.toDouble * tc / (nc.toDouble * tr)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val expect = (nr.toDouble * tc - nc.toDouble * tr) / (tr.toDouble * tc) * lnr
        assert(psi == expect, s"bucket $b psi term")
        assert(psi >= 0.0 || math.abs(psi) < 1e-3,
          s"bucket $b: (p-q) and ln(p/q) share a sign, so PSI terms are ~nonnegative")
      } else assert(psi == 0.0, s"bucket $b empty-side convention")
    }
  }

  test("curation_rule_overlap: the matrix is symmetric with consistent diagonals") {
    val rows = PipelineOps.curationRuleOverlap.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { case ((a, b), n) =>
      assert(rows((b, a)) == n, s"($a,$b) symmetric")
      assert(n <= rows((a, a)) && n <= rows((b, b)),
        s"($a,$b) overlap bounded by both diagonals")
    }
    // recompute the 'short' diagonal from raw token counts
    // split with limit -1 to mirror the op's size(split(text,' '))
    // (ADVICE r13): the op counts empty tokens from consecutive/
    // leading/trailing spaces; a nonEmpty-filtered recount would
    // disagree on any such fixture text.
    val nShort = Tables.documents(spark, sf).select("text").collect()
      .count(_.getString(0).split(" ", -1).length < 30).toLong
    if (nShort > 0) assert(rows(("short", "short")) == nShort)
    else assert(!rows.contains(("short", "short")))
  }

  test("mix_dedup_adjusted: weights renormalize over global survivors") {
    val rows = PipelineOps.mixDedupAdjusted.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val keeper = docs.groupBy(_._3).map { case (_, ds) => ds.map(_._1).min }.toSet
    val bySrc = docs.groupBy(_._2)
    val totalKept = docs.count(d => keeper(d._1)).toLong
    assert(rows.map(_._3).sum == totalKept, "survivors conserved")
    rows.foreach { case (src, nRaw, nKept, dupPpm, wPpm) =>
      val ds = bySrc(src)
      assert(nRaw == ds.length.toLong, s"$src raw")
      assert(nKept == ds.count(d => keeper(d._1)).toLong, s"$src kept")
      assert(dupPpm == (nRaw - nKept) * 1000000L / nRaw, s"$src dup ppm")
      assert(wPpm == nKept * 1000000L / totalKept, s"$src weight ppm")
    }
  }

  test("report_ship_lag_histogram: buckets cover every line item exactly once") {
    val rows = Aggregates.reportShipLagHistogram.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nLi = Tables.lineitem(spark, sf).count()
    assert(rows.map(_._2).sum == nLi)
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 15))
    val tot = rows.map(_._2).sum
    rows.foreach { case (_, nb, pm) => assert(pm == nb * 1000L / tot) }
  }
}
