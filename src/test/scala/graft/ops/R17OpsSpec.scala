package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-17 batch, checked by FULL
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle: the minhash store/classify legs and the b-bit audit are
  * replayed from raw text through a plain-Scala MD5 minhash, the
  * retrieval evals (RRF / AUC / MAP) re-rank from the replicated
  * float-cosine tree, and every exact-integer fold (DiD, changepoint,
  * t-closeness, bootstrap, salt plan, KN bigrams) is recomputed with
  * BigInt / floorDiv arithmetic that shares no code with the product.
  */
class R17OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def isPrior(id: Long): Boolean = md5hex(id.toString).charAt(0) <= '7'

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cents(v: Double): Long =
    (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact

  /** Replicates graft_cosine's exact tree (the R14OpsSpec spelling):
    * per-element float→double widening, DOUBLE accumulation in index
    * order, one division, round-6 HALF_UP. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    round6(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Plain-Scala replay of the shingleBase signature: distinct token
    * 3-gram shingles, h_i = min over shingles of md5hex.substring(3i,
    * 3i+8), for docs with >= 3 tokens. */
  private lazy val sigs: Map[Long, Array[String]] =
    Tables.documents(spark, sf).select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ", -1)
        if (toks.length < 3) None
        else {
          val shingles = toks.sliding(3).map(_.mkString(" ")).toSet
          val sig = (0 until 8).map { i =>
            shingles.map(sh => md5hex(sh).substring(3 * i, 3 * i + 8)).min
          }.toArray
          Some(r.getLong(0) -> sig)
        }
      }.toMap

  private lazy val shingleSets: Map[Long, Set[String]] =
    Tables.documents(spark, sf).select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ", -1)
        if (toks.length < 3) None
        else Some(r.getLong(0) -> toks.sliding(3).map(_.mkString(" ")).toSet)
      }.toMap

  private def bandsOf(sig: Array[String]): Seq[(Int, String)] =
    (0 until 4).map(b => b -> s"${sig(2 * b)}|${sig(2 * b + 1)}")

  private val keys = Seq(
    "dedup_signature_store_roundtrip", "eval_rrf_fusion", "eval_auc_roc",
    "eval_map_at_k", "stats_wilson_ci", "ab_diff_in_diff",
    "win_bollinger_bands", "ts_changepoint_split", "graph_bipartite_twohop",
    "graph_cut_conductance", "dedup_minhash_bbit", "text_kneser_ney_bigram",
    "fn_binary_codecs", "shard_salt_plan", "privacy_t_closeness",
    "stats_bootstrap_ci", "sim_filtered_topk", "attribution_position_based",
    "ann_hnsw_layer_assign", "stats_paired_t", "sample_halton_vdc",
    "stats_cohens_d", "mix_chinchilla_plan", "sim_centroid_distance_matrix")

  test("r17 keys are partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("dedup_signature_store_roundtrip: plain-Scala minhash replay of " +
      "store + classification, and the roundtrip really is lossless") {
    val prior = sigs.filter { case (id, _) => isPrior(id) }
    val inc = sigs.filter { case (id, _) => !isPrior(id) }
    val priorBands = prior.toSeq.flatMap { case (_, s) => bandsOf(s) }.toSet
    val dup = inc.count { case (_, s) => bandsOf(s).exists(priorBands) }
    val row = graft.SparkEntry.queries("dedup_signature_store_roundtrip")(
      spark, sf).collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getLong(0) == prior.size.toLong, "n_prior")
    assert(r.getLong(1) == prior.size.toLong, "n_stored == n_prior")
    assert(r.getLong(2) == 0L, "parquet roundtrip must be lossless")
    assert(r.getLong(3) == inc.size.toLong, "n_increment")
    assert(r.getLong(4) == dup.toLong, "n_inc_band_dup")
    assert(r.getLong(5) == (inc.size - dup).toLong, "n_inc_new")
    assert(dup > 0 && inc.size - dup > 0,
      "fixture must exercise both classification outcomes")
  }

  test("eval_rrf_fusion: rank + fusion replayed in plain Scala over " +
      "the two legs") {
    val lex = CorpusOps.bm25Scores(spark, sf)
      .select(col("doc_id"), col("score_micro")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, sc) => (-sc, id) }.take(50)
    val lexRank = lex.zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qEmb = vecs.find(_._1 == 0L).get._2
    val den = vecs.filter(_._1 != 0L)
      .map { case (id, e) => (id, cos(e, qEmb)) }
      .sortBy { case (id, s) => (-s, id) }.take(50)
    val denRank = den.zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val fusedIds = (lexRank.keySet ++ denRank.keySet).toSeq
    val expect = fusedIds.map { id =>
      val rl = lexRank.get(id); val rd = denRank.get(id)
      val rrf = rl.map(r => 1000000L / (60 + r)).getOrElse(0L) +
        rd.map(r => 1000000L / (60 + r)).getOrElse(0L)
      (id, rl, rd, rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(20)
    val got = graft.SparkEntry.queries("eval_rrf_fusion")(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3))).toSeq
    assert(got == expect)
    assert(expect.exists(_._2.isEmpty) || expect.exists(_._3.isEmpty) ||
      expect.exists(t => t._2.isDefined && t._3.isDefined),
      "fusion should mix legs")
  }

  private lazy val vecsFull: Array[(Long, Int, Array[Float])] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))

  test("eval_auc_roc: mid-rank Mann-Whitney AUC replayed in plain Scala") {
    val queries = vecsFull.filter(v => md5hex(v._1.toString).head == '0')
    val perQ = queries.map { case (qid, qlab, qemb) =>
      val cand = vecsFull.filter(_._1 != qid)
        .map(v => (cos(v._3, qemb), if (v._2 == qlab) 1L else 0L))
      // ascending by sim; tie groups share a mid-rank
      val groups = cand.groupBy(_._1).toSeq.sortBy(_._1)
      var seen = 0L; var s2 = BigInt(0); var nPos = 0L
      groups.foreach { case (_, xs) =>
        val cnt = xs.length.toLong
        val pos = xs.map(_._2).sum
        val minRank = seen + 1
        s2 += BigInt(pos) * (2 * minRank + cnt - 1)
        nPos += pos; seen += cnt
      }
      val n = cand.length.toLong
      val auc =
        if (nPos == 0 || n - nPos == 0) None
        else Some(((s2 - BigInt(nPos) * (nPos + 1)) * 1000000 /
          (BigInt(2) * nPos * (n - nPos))).toLong)
      (qlab, auc)
    }
    val expect = perQ.groupBy(_._1).map { case (lab, xs) =>
      val defined = xs.flatMap(_._2)
      lab -> (xs.length.toLong,
        if (defined.isEmpty) None
        else Some(Math.floorDiv(defined.sum, defined.length.toLong)),
        if (defined.isEmpty) None else Some(defined.min),
        if (defined.isEmpty) None else Some(defined.max))
    }
    val got = graft.SparkEntry.queries("eval_auc_roc")(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(got == expect)
    assert(expect.values.exists(_._2.exists(_ > 500000L)),
      "same-label retrieval should beat coin-flip AUC somewhere")
  }

  test("eval_map_at_k: AP@10 / P@10 / R@10 replayed in plain Scala " +
      "(floor-per-term convention)") {
    val queries = vecsFull.filter(v => md5hex(v._1.toString).head == '0')
    val perQ = queries.map { case (qid, qlab, qemb) =>
      val ranked = vecsFull.filter(_._1 != qid)
        .map(v => (v._1, if (v._2 == qlab) 1L else 0L, cos(v._3, qemb)))
        .sortBy { case (id, _, s) => (-s, id) }
      val nRel = ranked.map(_._2).sum
      var cum = 0L; var apSum = 0L; var hits10 = 0L
      ranked.zipWithIndex.foreach { case ((_, rel, _), i) =>
        val rnk = i + 1L
        cum += rel
        if (rnk <= 10 && rel == 1) { apSum += cum * 1000000L / rnk; hits10 += 1 }
      }
      val ap = if (nRel == 0) 0L else apSum / math.min(nRel, 10L)
      val p10 = hits10 * 100000L
      val r10 = if (nRel == 0) 0L else hits10 * 1000000L / nRel
      (qlab, ap, p10, r10)
    }
    val expect = perQ.groupBy(_._1).map { case (lab, xs) =>
      val n = xs.length.toLong
      lab -> (n, Math.floorDiv(xs.map(_._2).sum, n),
        Math.floorDiv(xs.map(_._3).sum, n), Math.floorDiv(xs.map(_._4).sum, n))
    }
    val got = graft.SparkEntry.queries("eval_map_at_k")(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got == expect)
  }

  private lazy val eventRows: Array[(Long, java.sql.Timestamp, Long, String, Double)] =
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))

  test("stats_wilson_ci: the float chain replayed operand-for-operand") {
    val byType = eventRows.groupBy(_._4)
    val expect = byType.map { case (t, xs) =>
      val n = xs.length.toLong
      val x = xs.count(e => cents(e._5) > 10000L).toLong
      val ph = x.toDouble / n.toDouble
      val nd = n.toDouble
      val z2 = 3.841459
      val lo = round6((ph + z2 / (2.0 * nd)
        - math.sqrt(z2) * math.sqrt(ph * (1.0 - ph) / nd + z2 / (4.0 * nd * nd)))
        / (1.0 + z2 / nd))
      val hi = round6((ph + z2 / (2.0 * nd)
        + math.sqrt(z2) * math.sqrt(ph * (1.0 - ph) / nd + z2 / (4.0 * nd * nd)))
        / (1.0 + z2 / nd))
      t -> (n, x, x * 1000000L / n, lo, hi)
    }
    val got = graft.SparkEntry.queries("stats_wilson_ci")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got == expect)
    expect.values.foreach { case (_, _, pppm, lo, hi) =>
      assert(lo < pppm / 1e6 && pppm / 1e6 < hi, "CI brackets the point estimate")
    }
  }

  test("ab_diff_in_diff: cell means and the DiD fold replayed exactly") {
    val cut = java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli
    val expect = eventRows.groupBy(_._4).map { case (t, xs) =>
      def cell(tr: Boolean, post: Boolean) = {
        val c = xs.filter(e => (md5hex(e._3.toString).head <= '7') == tr &&
          (e._2.getTime >= cut) == post)
        (c.length.toLong, c.map(e => cents(e._5)).sum)
      }
      val (ncc, scc) = cell(tr = false, post = false)
      val (ncp, scp) = cell(tr = false, post = true)
      val (ntc, stc) = cell(tr = true, post = false)
      val (ntp, stp) = cell(tr = true, post = true)
      def mean(n: Long, s: Long) = if (n == 0) None else Some(s * 1000000L / n)
      val did = for {
        mtp <- mean(ntp, stp); mtc <- mean(ntc, stc)
        mcp <- mean(ncp, scp); mcc <- mean(ncc, scc)
      } yield (mtp - mtc) - (mcp - mcc)
      t -> (ncc, ncp, ntc, ntp, mean(ncc, scc), mean(ncp, scp),
        mean(ntc, stc), mean(ntp, stp), did)
    }
    val got = graft.SparkEntry.queries("ab_diff_in_diff")(spark, sf).collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), opt(5), opt(6), opt(7), opt(8), opt(9))
      }.toMap
    assert(got == expect)
  }

  private lazy val dailyCents: Map[(String, java.time.LocalDate), Long] =
    eventRows.groupBy(e => (e._4,
      e._2.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate))
      .map { case (k, xs) => k -> xs.map(e => cents(e._5)).sum }

  test("win_bollinger_bands: rolling sums + the band float chain replayed") {
    val expect = dailyCents.groupBy(_._1._1).flatMap { case (t, m) =>
      val days = m.toSeq.map { case ((_, d), c) => (d, c) }.sortBy(_._1.toString)
      days.indices.map { i =>
        val win = days.slice(math.max(0, i - 6), i + 1).map(_._2)
        val n = win.length.toLong
        val sx = win.sum; val sxx = win.map(c => c * c).sum
        val meanC = sx.toDouble / n.toDouble
        val sd = if (n <= 1) None
          else Some(math.sqrt((n * sxx - sx * sx).toDouble /
            (n * (n - 1)).toDouble / n.toDouble))
        val outside = sd.map(s =>
          if (days(i)._2.toDouble < meanC - 2.0 * s ||
            days(i)._2.toDouble > meanC + 2.0 * s) 1 else 0)
        (t, days(i)._1.toString) -> (days(i)._2, n, round6(meanC),
          sd.map(s => round6(meanC - 2.0 * s)), sd.map(s => round6(meanC + 2.0 * s)),
          outside)
      }
    }
    val got = graft.SparkEntry.queries("win_bollinger_bands")(spark, sf)
      .collect().map { r =>
        (r.getString(0), r.getDate(1).toString) -> (r.getLong(2), r.getLong(3),
          r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          if (r.isNullAt(7)) None else Some(r.getInt(7)))
      }.toMap
    assert(got == expect)
  }

  test("ts_changepoint_split: the BSS argmax replayed with BigInt") {
    val expect = dailyCents.groupBy(_._1._1).map { case (t, m) =>
      val days = m.toSeq.map { case ((_, d), c) => (d, c / 100) }
        .sortBy(_._1.toString)
      val n = days.length.toLong
      val s = days.map(_._2).sum
      var sk = 0L
      val scored = days.dropRight(1).zipWithIndex.map { case ((d, v), i) =>
        val k = i + 1L
        sk += v
        val num = BigInt(sk * n - s * k)
        (d, k, sk, (num * num / (k * (n - k))).toLong)
      }
      val best = scored.minBy { case (_, k, _, sc) => (-sc, k) }
      t -> (best._1.toString, best._2, n, best._4,
        best._3 * 1000000L / best._2, (s - best._3) * 1000000L / (n - best._2))
    }
    val got = graft.SparkEntry.queries("ts_changepoint_split")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got == expect)
  }

  private lazy val ebPairs: Set[(Long, Long)] = {
    val custByOrder = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey"))
      .collect()
      .flatMap(r => custByOrder.get(r.getLong(0)).map(c => (c, r.getLong(1))))
      .toSet
  }

  test("graph_bipartite_twohop: degree combinatorics replayed from raw pairs") {
    val deg = ebPairs.toSeq.groupBy(_._2).map { case (sk, xs) => sk -> xs.length.toLong }
    val total = deg.values.map(d => d * (d - 1) / 2).sum
    val expect = deg.toSeq
      .map { case (sk, d) => (sk, d, d * (d - 1) / 2, total, deg.size.toLong) }
      .sortBy { case (sk, _, p, _, _) => (-p, sk) }.take(15)
    val got = graft.SparkEntry.queries("graph_bipartite_twohop")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
  }

  test("graph_cut_conductance: the cut algebra replayed from raw dims") {
    def lv(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[Number](i).longValue
    val natRegion = {
      val regions = Tables.region(spark, sf)
        .select(col("r_regionkey"), col("r_name")).collect()
        .map(r => lv(r, 0) -> r.getString(1)).toMap
      Tables.nation(spark, sf).select(col("n_nationkey"), col("n_regionkey"))
        .collect().map(r => lv(r, 0) -> regions(lv(r, 1))).toMap
    }
    val custRegion = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => lv(r, 0) -> natRegion(lv(r, 1))).toMap
    val suppRegion = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => lv(r, 0) -> natRegion(lv(r, 1))).toMap
    val tagged = ebPairs.toSeq.map { case (ck, sk) => (custRegion(ck), suppRegion(sk)) }
    val volAll = 2L * tagged.length
    val expect = natRegion.values.toSet.toSeq.sorted.map { reg =>
      val nWithin = tagged.count(p => p._1 == reg && p._2 == reg).toLong
      val vol = tagged.count(_._1 == reg).toLong + tagged.count(_._2 == reg).toLong
      val nCross = vol - 2 * nWithin
      val minVol = math.min(vol, volAll - vol)
      val cond = if (minVol == 0) None else Some(nCross * 1000000L / minVol)
      (reg, nWithin, nCross, vol, cond)
    }
    val got = graft.SparkEntry.queries("graph_cut_conductance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == expect)
  }

  test("dedup_minhash_bbit: full plain-Scala LSH replay incl. the " +
      "b=4 collision correction") {
    val cand = (for {
      (ida, sa) <- sigs.toSeq; (idb, sb) <- sigs.toSeq
      if ida < idb && bandsOf(sa).toSet.intersect(bandsOf(sb).toSet).nonEmpty
    } yield (ida, idb)).sorted
    val expect = cand.map { case (a, b) =>
      val (sa, sb) = (sigs(a), sigs(b))
      val m32 = (0 until 8).count(i => sa(i) == sb(i)).toLong
      val mb = (0 until 8).count(i => sa(i).charAt(7) == sb(i).charAt(7)).toLong
      val est = if (2 * mb - 1 <= 0) 0L else (2 * mb - 1) * 1000000L / 15
      val (xa, xb) = (shingleSets(a), shingleSets(b))
      val inter = xa.intersect(xb).size
      val jacc = inter.toDouble / (xa.size + xb.size - inter)
      (a, b, m32, mb, m32 * 125000L, est, jacc)
    }
    val got = graft.SparkEntry.queries("dedup_minhash_bbit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("text_kneser_ney_bigram: counts, marginals, and the d=3/4 " +
      "rational replayed with BigInt") {
    val bigrams = Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap { r =>
        val t = r.getString(0).split(" ", -1)
        if (t.length < 2) Nil else t.sliding(2).map(p => (p(0), p(1))).toSeq
      }
    val bc = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cw1 = bc.toSeq.groupBy(_._1._1).map { case (w, xs) => w -> xs.map(_._2).sum }
    val n1p = bc.keys.toSeq.groupBy(_._1).map { case (w, xs) => w -> xs.length.toLong }
    val n1c = bc.keys.toSeq.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    val tTypes = bc.size.toLong
    val expect = bc.toSeq.map { case ((w1, w2), c) =>
      val pkn = ((BigInt(4 * c - 3) * tTypes + BigInt(3) * n1p(w1) * n1c(w2))
        * 1000000 / (BigInt(4) * tTypes * cw1(w1))).toLong
      (w1, w2, c, cw1(w1), n1p(w1), n1c(w2), tTypes, pkn)
    }.sortBy { case (w1, w2, c, _, _, _, _, _) => (-c, w1, w2) }.take(20)
    val got = graft.SparkEntry.queries("text_kneser_ney_bigram")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSeq
    assert(got == expect)
    // probabilities must be valid and the smoothing mass visible
    expect.foreach { case (_, _, _, _, _, _, _, pkn) =>
      assert(pkn > 0 && pkn <= 1000000L)
    }
  }

  test("fn_binary_codecs: java.util.Base64 + manual hex replay") {
    val expect = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect().map { r =>
        val p16 = r.getString(1).take(16)
        val p8 = r.getString(1).take(8)
        val bytes16 = p16.getBytes("UTF-8")
        val b64 = java.util.Base64.getEncoder.encodeToString(bytes16)
        val hx = p8.getBytes("UTF-8").map("%02x".format(_)).mkString
        val rt = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
        r.getLong(0) -> (b64, hx, bytes16.length.toLong,
          if (rt == p16) 1 else 0)
      }.toMap
    val got = graft.SparkEntry.queries("fn_binary_codecs")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toMap
    assert(got == expect)
    assert(got.values.forall(_._4 == 1), "every roundtrip must hold")
  }

  test("shard_salt_plan: the ceil-div histogram replayed") {
    val counts = eventRows.groupBy(_._3).map { case (_, xs) => xs.length.toLong }
    val salted = counts.map(c => (c, (c + 199) / 200)).toSeq
    val totalSplits = salted.map(_._2).sum
    val totalRows = salted.map(_._1).sum
    val expect = salted.groupBy(_._2).map { case (sn, xs) =>
      sn -> (xs.length.toLong, xs.map(_._1).sum,
        xs.map(_._1).sum * 1000000L / totalRows, totalSplits)
    }
    val got = graft.SparkEntry.queries("shard_salt_plan")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got == expect)
  }

  test("privacy_t_closeness: total variation incl. the absent-value " +
      "mass replayed with BigInt") {
    val rows = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1),
        cents(r.getDouble(2)) / 100000L))
    val nAll = rows.length.toLong
    val vGlobal = rows.groupBy(_._3).map { case (v, xs) => v -> xs.length.toLong }
    val expect = rows.groupBy(r => (r._1, r._2)).map { case (qi, xs) =>
      val nG = xs.length.toLong
      val gv = xs.groupBy(_._3).map { case (v, ys) => v -> ys.length.toLong }
      val tv2 = vGlobal.map { case (v, nv) =>
        val ngv = gv.getOrElse(v, 0L)
        (BigInt(ngv) * nAll - BigInt(nv) * nG).abs
      }.sum
      val ppm = (tv2 * 1000000 / (BigInt(2) * nG * nAll)).toLong
      qi -> (nG, ppm, if (ppm <= 200000L) 1 else 0)
    }
    val got = graft.SparkEntry.queries("privacy_t_closeness")(spark, sf)
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(got == expect)
    assert(expect.values.exists(_._2 > 0), "some group must diverge")
  }

  test("sim_filtered_topk: pre-filter truth vs post-filter overfetch " +
      "replayed in plain Scala") {
    val queries = vecsFull.filter(v => md5hex(v._1.toString).head == '0')
    val perQ = queries.map { case (qid, qlab, qemb) =>
      val ranked = vecsFull.filter(_._1 != qid)
        .map(v => (v._1, v._2 == qlab, cos(v._3, qemb)))
        .sortBy { case (id, _, s) => (-s, id) }
      val pre = ranked.filter(_._2).take(5).map(_._1).toSet
      val post = ranked.take(50).filter(_._2).take(5).map(_._1).toSet
      (qlab, pre.size.toLong, pre.intersect(post).size.toLong)
    }
    val expect = perQ.groupBy(_._1).map { case (lab, xs) =>
      val nPre = xs.map(_._2).sum; val nHit = xs.map(_._3).sum
      lab -> (xs.length.toLong, nPre, nHit, nHit * 1000000L / nPre,
        xs.count(x => x._3 < x._2).toLong)
    }
    val got = graft.SparkEntry.queries("sim_filtered_topk")(spark, sf)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
  }

  test("attribution_position_based: the U-shape credits replayed from " +
      "raw journeys at microsecond precision") {
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val purchases = eventRows.filter(_._4 == "purchase")
    val clicks = eventRows.filter(_._4 == "click")
    val byUser = clicks.groupBy(_._3)
    val expect = purchases.flatMap { pur =>
      val touches = byUser.getOrElse(pur._3, Array.empty)
        .filter(c => us(c._2) <= us(pur._2) &&
          us(pur._2) - us(c._2) <= 604800000000L)
        .sortBy(c => (us(c._2), c._1))
      if (touches.isEmpty) None
      else {
        val n = touches.length.toLong
        val (fp, lp) = if (n == 1) (1000000, 0)
          else if (n == 2) (500000, 500000) else (400000, 400000)
        val mid = if (n <= 2) 0L else 200000L / (n - 2)
        val rem = if (n <= 2) 0L else 200000L - mid * (n - 2)
        Some(pur._1 -> (n, touches.head._1, touches.last._1,
          fp, lp, mid, rem))
      }
    }.toMap
    val got = graft.SparkEntry.queries("attribution_position_based")(
      spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7))).toMap
    assert(got == expect)
    assert(expect.values.exists(_._1 >= 3), "fixture must exercise middles")
  }

  test("ann_hnsw_layer_assign: the geometric layer census replayed") {
    val layers = vecsFull.map { case (id, lab, _) =>
      val lz = md5hex(id.toString).takeWhile(_ == '0').length
      (math.min(4, lz), id, lab)
    }
    val census = layers.groupBy(_._1).map { case (l, xs) =>
      l -> (xs.length.toLong, xs.map(_._3).distinct.length.toLong,
        xs.map(_._2).min, xs.map(_._2).max)
    }
    val expect = census.map { case (l, (n, nl, mn, mx)) =>
      l -> (n, nl, mn, mx,
        census.filter(_._1 >= l).values.map(_._1).sum)
    }
    val got = graft.SparkEntry.queries("ann_hnsw_layer_assign")(spark, sf)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
    assert(expect.keySet.contains(0) && expect.size >= 2,
      "fixture must populate at least two layers")
  }

  test("stats_paired_t: the paired-difference rational replayed with BigInt") {
    val cut = java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli
    val expect = eventRows.groupBy(_._4).flatMap { case (t, xs) =>
      val ds = xs.groupBy(_._3).values.flatMap { ue =>
        val (post, pre) = ue.partition(_._2.getTime >= cut)
        if (post.isEmpty || pre.isEmpty) None
        else Some(post.map(e => cents(e._5)).sum * 1000000L / post.length
          - pre.map(e => cents(e._5)).sum * 1000000L / pre.length)
      }.toSeq
      val n = ds.length.toLong
      if (n == 0) None else {
        val sd = ds.sum
        val sdd = ds.map(d => BigInt(d) * d).sum
        val denom = BigInt(n) * sdd - BigInt(sd) * sd
        val t2 = if (n <= 1 || denom == 0) None
          else Some((BigInt(sd) * sd * (n - 1) * 1000000 / denom).toLong)
        // bare truncating division — Spark div == DuckDB // on every sign
        Some(t -> (n, sd, sd / n, t2, t2.map(_ > 3841459L)))
      }
    }
    val got = graft.SparkEntry.queries("stats_paired_t")(spark, sf)
      .collect().map { r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getBoolean(5)))
      }.toMap
    assert(got == expect)
  }

  test("sample_halton_vdc: the bit-reversal selector and both samples " +
      "replayed in plain Scala") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def vdc(k: Long): Long =
      (0 until 20).map(i => ((k >> i) & 1L) << (19 - i)).sum
    val expect = docs.groupBy(_._2).map { case (src, xs) =>
      val n = xs.length.toLong
      val v = xs.count(x => vdc(x._1) < 262144).toLong
      val m = xs.count(x => md5hex(x._1.toString).head <= '3').toLong
      val both = xs.count(x => vdc(x._1) < 262144 &&
        md5hex(x._1.toString).head <= '3').toLong
      src -> (n, v, m, both,
        math.abs(v * 1000000L / n - 250000L),
        math.abs(m * 1000000L / n - 250000L))
    }
    val got = graft.SparkEntry.queries("sample_halton_vdc")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == expect)
    // the QMC property the key exists to show, at the granularity it
    // actually holds: over the CONTIGUOUS corpus id range the
    // bit-reversal sample is near-exactly 25% (per-source id sets are
    // strided, so per-source deviations can go either way)
    val n = docs.length.toLong
    val vAll = docs.count(x => vdc(x._1) < 262144).toLong
    val mAll = docs.count(x => md5hex(x._1.toString).head <= '3').toLong
    assert(math.abs(vAll * 1000000L / n - 250000L) <=
      math.abs(mAll * 1000000L / n - 250000L))
  }

  test("stats_cohens_d: the pooled-SD float chain replayed " +
      "operand-for-operand") {
    def arm(t: String) = {
      val xs = eventRows.filter(_._4 == t).map(e => cents(e._5))
      (xs.length.toLong, xs.sum, xs.map(x => BigInt(x) * x).sum)
    }
    val (n1, s1, q1) = arm("purchase"); val (n2, s2, q2) = arm("click")
    val d = (s1.toDouble / n1.toDouble - s2.toDouble / n2.toDouble) /
      math.sqrt(((q1.toDouble - s1.toDouble * s1.toDouble / n1.toDouble)
        + (q2.toDouble - s2.toDouble * s2.toDouble / n2.toDouble))
        / (n1 + n2 - 2).toDouble)
    val row = graft.SparkEntry.queries("stats_cohens_d")(spark, sf)
      .collect().head
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(row.getLong(2) == s1 * 1000000L / n1 - s2 * 1000000L / n2)
    assert(row.getDouble(3) == round6(d))
  }

  test("mix_chinchilla_plan: the allocation arithmetic replayed") {
    val corpusTokens = Tables.documents(spark, sf).select(col("text"))
      .collect().map(_.getString(0).split(" ", -1).length.toLong).sum
    val expect = Seq(1000L, 1000000L, 1000000000L).map { pf =>
      val nOpt = math.floor(math.sqrt(pf.toDouble * 1e15 / 120.0)).toLong
      val dOpt = 20 * nOpt
      pf -> (nOpt, dOpt, corpusTokens,
        (dOpt + corpusTokens - 1) / corpusTokens,
        if (corpusTokens >= dOpt) 1000000L
        else corpusTokens * 1000000L / dOpt)
    }.toMap
    val got = graft.SparkEntry.queries("mix_chinchilla_plan")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
    assert(expect(1000000000L)._5 < 1000000L,
      "the largest budget must exceed the fixture corpus")
  }

  test("sim_centroid_distance_matrix: milli centroids + exact L2 " +
      "replayed in plain Scala") {
    val centroids = vecsFull.flatMap { case (_, lab, emb) =>
      emb.indices.map(i =>
        (lab, i) -> math.floor(emb(i).toDouble * 1000 + 0.5).toLong)
    }.groupBy(_._1).map { case (k, xs) =>
      val s = xs.map(_._2).sum; val n = xs.length.toLong
      // sign-safe floor mean: (s - pmod(s, n)) / n
      k -> (s - ((s % n) + n) % n) / n
    }
    val labels = centroids.keys.map(_._1).toSeq.distinct.sorted
    val dims = centroids.keys.map(_._2).toSeq.distinct
    val expect = (for {
      a <- labels; b <- labels if a < b
    } yield {
      val d2 = dims.map { i =>
        val diff = centroids((a, i)) - centroids((b, i)); diff * diff
      }.sum
      (a, b) -> (d2, math.floor(math.sqrt(d2.toDouble)).toLong)
    }).toMap
    val got = graft.SparkEntry.queries("sim_centroid_distance_matrix")(
      spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("stats_bootstrap_ci: the 32 deterministic replicates and their " +
      "order statistics replayed") {
    val expect = eventRows.groupBy(_._4).map { case (t, xs) =>
      val reps = (0 until 32).map { rep =>
        val (g, i) = (rep / 8, rep % 8)
        var wsum = 0L; var wn = 0L
        xs.foreach { e =>
          val h = Integer.parseInt(
            md5hex(s"${e._1}:$g").substring(4 * i, 4 * i + 4), 16)
          val m = if (h < 24109) 0L else if (h < 48218) 1L
            else if (h < 60275) 2L else if (h < 64291) 3L else 4L
          wsum += m * cents(e._5); wn += m
        }
        (rep, wsum * 1000000L / wn)
      }.sortBy { case (rep, mean) => (mean, rep) }
      val n = xs.length.toLong
      val full = xs.map(e => cents(e._5)).sum * 1000000L / n
      t -> (n, full, reps(1)._2, reps(30)._2, 32L)
    }
    val got = graft.SparkEntry.queries("stats_bootstrap_ci")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
    got.values.foreach { case (_, full, lo, hi, _) =>
      assert(lo <= hi && lo <= full && full <= hi,
        "bootstrap interval should bracket the full-data mean")
    }
  }
}
