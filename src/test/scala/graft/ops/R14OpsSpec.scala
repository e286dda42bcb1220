package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-14 batch, checked by FULL
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle: the incremental-dedup report is rebuilt from raw text via
  * java MessageDigest md5 (split, digests, keepers, minhash bands,
  * exact shingle jaccard), and every BPE merge round is re-simulated
  * with java String.replace (the same non-overlapping left-to-right
  * scan contract as both engines' replace()). */
class R14OpsSpec extends SparkSpec {

  private val keys = Seq(
    "dedup_incremental_snapshot", "tokenizer_bpe_merges",
    "agg_incremental_merge", "multimodal_av_align",
    "text_perplexity_heldout", "profile_split_drift",
    "shard_range_boundaries", "dq_functional_dependency",
    "eval_retrieval_mrr", "stream_static_enrich",
    "corpus_dedup_impact_curve", "win_time_weighted_avg",
    "embed_chunk_mean_pool", "mix_anneal_two_phase",
    "events_alert_storm_suppression", "dq_value_set_conformance",
    "vocab_subword_fertility", "report_contribution_waterfall")

  test("r14 keys are partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("dedup_incremental_snapshot matches a full driver-side recomputation") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def isPrior(id: Long): Boolean = md5hex(id.toString).head <= '7'
    val prior = docs.filter(d => isPrior(d._1))
    val inc = docs.filter(d => !isPrior(d._1))
    assert(prior.nonEmpty && inc.nonEmpty, "parity split degenerate at sf0.001")

    val priorDigests = prior.map(d => md5hex(d._3)).toSet
    val incKeeper = inc.groupBy(d => md5hex(d._3))
      .map { case (h, ds) => h -> ds.map(_._1).min }

    // minhash replica: per doc the distinct 3-gram shingle set (split
    // limit -1 — empty tokens COUNT, mirroring size(split(text,' ')))
    // and 8 signature windows substr(md5hex, 3i+1, 8)
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length < 3) Set.empty
      else (2 until t.length).map(i => s"${t(i - 2)} ${t(i - 1)} ${t(i)}").toSet
    }
    def sig(sh: Set[String]): Seq[String] = {
      val hs = sh.toSeq.map(md5hex)
      (0 until 8).map(i => hs.map(_.substring(3 * i, 3 * i + 8)).min)
    }
    val withSig = docs.filter(d => shingles(d._3).nonEmpty)
      .map(d => (d._1, shingles(d._3), sig(shingles(d._3))))
    def bandsOf(h: Seq[String]): Seq[(Int, String)] =
      (0 until 4).map(b => b -> s"${h(2 * b)}|${h(2 * b + 1)}")
    val priorByBand = withSig.filter(d => isPrior(d._1))
      .flatMap(d => bandsOf(d._3).map(bs => bs -> d._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val shingleOf = withSig.map(d => d._1 -> d._2).toMap
    def jacc(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    val nearDocs = withSig.filter(d => !isPrior(d._1)).filter { d =>
      bandsOf(d._3).flatMap(bs => priorByBand.getOrElse(bs, Seq.empty[Long]))
        .distinct.exists(p => jacc(d._2, shingleOf(p)) >= 0.5)
    }.map(_._1).toSet

    case class Cls(ep: Boolean, ia: Boolean, nd: Boolean)
    val expect = inc.groupBy(_._2).map { case (src, ds) =>
      val cls = ds.map { d =>
        val h = md5hex(d._3)
        Cls(priorDigests(h), incKeeper(h) != d._1, nearDocs(d._1))
      }
      src -> (ds.length.toLong,
        cls.count(_.ep).toLong,
        cls.count(c => !c.ep && c.ia).toLong,
        cls.count(c => !c.ep && !c.ia && c.nd).toLong,
        cls.count(c => !c.ep && !c.ia && !c.nd).toLong)
    }
    val got = StaticResults.collected(spark, "dedup_incremental_snapshot")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == expect.keySet, "source row sets differ")
    expect.foreach { case (src, e) =>
      assert(got(src) == e, s"$src: got ${got(src)}, recomputed $e")
    }
    // attrition conservation: the four buckets partition the increment
    got.values.foreach { case (n, a, b, c, k) => assert(n == a + b + c + k) }
  }

  test("tokenizer_bpe_merges matches a 3-round driver-side BPE simulation") {
    val toks = Tables.documents(spark, sfStatic).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ")).filter(_.length >= 2)
    var vocab: Map[String, Long] = toks.groupBy(identity)
      .map { case (t, a) => (" " + t.map(c => s"$c ").mkString) -> a.length.toLong }
    // NOTE keys are the padded seqs; two toks never collide (spaces
    // removed reconstruct the tok), so the map stays per-word exact
    def stats(v: Map[String, Long]): Map[(String, String), (Long, Long)] = {
      val flat = v.toSeq.flatMap { case (seq, wc) =>
        val a = seq.trim.split(" ")
        (1 until a.length).map(i => (seq, (a(i - 1), a(i)), wc))
      }
      flat.groupBy(_._2).map { case (p, xs) =>
        p -> (xs.map(_._3).sum, xs.map(_._1).distinct.length.toLong)
      }
    }
    def top(st: Map[(String, String), (Long, Long)]): ((String, String), (Long, Long)) =
      st.toSeq.sortBy { case ((l, r), (n, _)) => (-n, l, r) }.head
    val got = StaticResults.collected(spark, "tokenizer_bpe_merges")
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), "one row per round, ordered")
    for (round <- 1 to 3) {
      val st = stats(vocab)
      val ((l, r), (nOcc, nWords)) = top(st)
      val row = got(round - 1)
      assert((row._2, row._3, row._4, row._5) == (l, r, nOcc, nWords),
        s"round $round: got $row, simulated (($l,$r),($nOcc,$nWords))")
      assert(nOcc >= nWords && nWords >= 1, s"round $round sanity")
      // apply the merge exactly as the engines do: two sequential
      // non-overlapping replace passes (java String.replace has the
      // same original-scan contract)
      vocab = vocab.toSeq.map { case (seq, wc) =>
        seq.replace(s" $l $r ", s" $l$r ").replace(s" $l $r ", s" $l$r ") -> wc
      }.toMap
    }
  }

  test("agg_incremental_merge: merged state equals the direct whole-table aggregate") {
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast(org.apache.spark.sql.types.LongType).as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def isPrior(k: Long): Boolean = md5hex(k.toString).head <= '7'
    val got = StaticResults.collected(spark, "agg_incremental_merge")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val byGrp = orders.groupBy(_._2)
    assert(got.keySet == byGrp.keySet)
    byGrp.foreach { case (grp, os) =>
      val (np, nd, nm, s, mn, mx, avg) = got(grp)
      // the POINT of the key: the merged state must equal the direct
      // aggregate a full rescan would produce
      assert(nm == os.length.toLong, s"$grp n_merged")
      assert(np == os.count(o => isPrior(o._1)).toLong, s"$grp n_prior")
      assert(nd == nm - np, s"$grp n_delta")
      assert(s == os.map(_._3).sum, s"$grp sum")
      assert(mn == os.map(_._3).min && mx == os.map(_._3).max, s"$grp min/max")
      assert(avg == Math.floorDiv(s, nm), s"$grp floor mean")
    }
  }

  test("multimodal_av_align matches the exact integer simulation") {
    val metas = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = metas.flatMap { case (id, nc) =>
      val dur = nc * 40L; val fps = 24L + (id % 3) * 6
      val nFrames = dur * fps / 1000
      if (nFrames <= 0) Seq.empty
      else {
        val nSamples = math.min(8L, nFrames)
        val kfs = (0L until nSamples).map(i =>
          (if (nSamples > 1) i * (nFrames - 1) / (nSamples - 1) else 0L)
            * 1000 / fps)
        val nSegs = (dur + 3999) / 4000
        (0L until nSegs).map { sn =>
          val start = sn * 4000
          val kf = kfs.filter(_ <= start).max
          (id, sn, start, kf, start - kf)
        }
      }
    }.sortBy(t => (t._1, t._2))
    val got = StaticResults.collected(spark, "multimodal_av_align")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect.toSeq, s"first diff: ${
      got.zip(expect).find { case (a, b) => a != b }}")
    got.foreach { case (_, _, start, kf, gap) =>
      assert(kf <= start && gap == start - kf)
    }
  }

  test("text_perplexity_heldout matches a driver-side LM recomputation") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def isTrain(id: Long): Boolean = md5hex(id.toString).head <= '7'
    def tfOf(text: String): Map[String, Long] =
      text.split(" ", -1).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val trf = docs.filter(d => isTrain(d._1)).flatMap(d => tfOf(d._3))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val nTrain = trf.values.sum; val v = trf.size.toLong
    def lp6(c: Long): BigDecimal =
      BigDecimal(math.log((c + 1).toDouble / (nTrain + v)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expect = docs.filter(d => !isTrain(d._1) && tfOf(d._3).nonEmpty)
      .groupBy(_._2).map { case (src, ds) =>
        val terms = ds.flatMap(d => tfOf(d._3).toSeq.map { case (t, tf) =>
          (d._1, t, tf) })
        val nTok = terms.map(_._3).sum
        val xent = -terms.map { case (_, t, tf) =>
          lp6(trf.getOrElse(t, 0L)) * BigDecimal(tf) }.sum
        src -> (ds.length.toLong, nTok,
          (xent * 1000000).toLongExact,
          Math.floorDiv((xent * 1000000).toLongExact, nTok))
      }
    val got = StaticResults.collected(spark, "text_perplexity_heldout")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (src, e) =>
      assert(got(src) == e, s"$src: got ${got(src)}, recomputed $e")
    }
  }

  test("shard_range_boundaries: exact balanced shards with contiguous key ranges") {
    val cents = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast(org.apache.spark.sql.types.LongType).as("cents"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sorted // (cents, orderkey) total order — the op's rank order
    val n = cents.length.toLong
    val expect = cents.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 16 / n }
      .map { case (sh, xs) =>
        sh -> (xs.length.toLong, xs.map(_._1._1).min, xs.map(_._1._1).max) }
    val got = StaticResults.collected(spark, "shard_range_boundaries")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, e) => assert(got(k) == e, s"shard $k: ${got(k)} vs $e") }
    // exact balance: shard sizes differ by at most 1 row
    val sizes = got.values.map(_._1)
    assert(sizes.max - sizes.min <= 1, s"imbalanced: $sizes")
    // contiguous, non-overlapping key ranges in shard order
    got.toSeq.sortBy(_._1).sliding(2).foreach {
      case Seq((_, (_, _, aMax)), (_, (_, bMin, _))) => assert(aMax <= bMin)
      case _ => ()
    }
  }

  test("dq_functional_dependency: PKs hold, known violations are counted exactly") {
    val got = StaticResults.collected(spark, "dq_functional_dependency")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 5)
    // the two true keys must audit clean
    assert(got("customer.c_custkey->c_nationkey")._2 == 0L)
    assert(got("nation.n_nationkey->n_regionkey")._2 == 0L)
    // exact recompute of one violated FD
    val perCust = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).distinct.length.toLong }
    val e = (perCust.size.toLong, perCust.count(_ > 1).toLong, perCust.max)
    assert(got("orders.o_custkey->o_orderpriority") == e)
  }

  test("eval_retrieval_mrr matches a driver-side brute-force recomputation") {
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      // replicate graft_cosine's exact tree: per-element float→double
      // widening, DOUBLE accumulation in index order, one division,
      // then fcosine's round-6 (Spark Round = HALF_UP)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val queries = vecs.filter(v => md5hex(v._1.toString).head == '0')
    assert(queries.nonEmpty)
    val expect = queries.map { case (qid, qlab, qemb) =>
      val ranked = vecs.filter(_._1 != qid)
        .map(v => (v._1, v._2, cos(v._3, qemb)))
        .sortBy { case (id, _, s) => (-s, id) }
      val first = ranked.indexWhere(_._2 == qlab)
      (qlab, if (first < 0) 0L else 1000000L / (first + 1))
    }.groupBy(_._1).map { case (lab, xs) =>
      lab.toLong -> (xs.length.toLong, xs.map(_._2).sum,
        Math.floorDiv(xs.map(_._2).sum, xs.length.toLong))
    }
    val got = StaticResults.collected(spark, "eval_retrieval_mrr")
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (lab, e) =>
      assert(got(lab) == e, s"label $lab: got ${got(lab)}, recomputed $e")
    }
  }

  test("stream_static_enrich: totals conserve events, orphans land in 'unknown'") {
    val rows = StaticResults.collected(spark, "stream_static_enrich")
    val nEvents = Tables.events(spark, sfStatic).count()
    assert(rows.map(_.getLong(2)).sum == nEvents, "every event lands in one cell")
    val known = Tables.customer(spark, sfStatic).select(col("c_custkey")).collect()
      .map(_.getLong(0)).toSet
    val nOrphans = Tables.events(spark, sfStatic).select(col("user_id")).collect()
      .map(_.getLong(0)).count(u => !known(u)).toLong
    assert(rows.filter(_.getString(1) == "unknown").map(_.getLong(2)).sum == nOrphans,
      "orphan user_ids map to the 'unknown' nation")
  }

  test("corpus_dedup_impact_curve: monotone in the threshold, consistent with the graded LSH pairs") {
    val rows = StaticResults.collected(spark, "corpus_dedup_impact_curve")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(50L, 70L, 90L))
    assert(rows(50L)._1 >= rows(70L)._1 && rows(70L)._1 >= rows(90L)._1)
    assert(rows(50L)._2 >= rows(70L)._2 && rows(70L)._2 >= rows(90L)._2)
    // the 0.50 cell must agree with the graded dedup_minhash_lsh pairs
    val lshPairs = StaticResults.collected(spark, "dedup_minhash_lsh").length.toLong
    assert(rows(50L)._1 == lshPairs, "threshold-0.50 pair count == dedup_minhash_lsh")
    rows.values.foreach { case (np, ndocs) =>
      assert(ndocs <= 2 * np, "a pair affects at most 2 docs")
      assert(np == 0 || ndocs >= 2, "any pair affects at least 2 distinct docs")
    }
  }

  test("win_time_weighted_avg matches a driver-side recomputation") {
    val events = Tables.events(spark, sfStatic)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
        (graft.Protocol.money(col("value")) * 100)
          .cast(org.apache.spark.sql.types.LongType).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = events.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val ivs = sorted.zip(sorted.drop(1))
        .map { case (a, b) => (a._4, b._3 - a._3) }.filter(_._2 > 0)
      if (ivs.isEmpty) None
      else {
        val span = ivs.map(_._2).sum
        val wsum = ivs.map { case (c, dt) => c * dt }.sum
        Some(u -> (ivs.length.toLong, span, Math.floorDiv(wsum, span)))
      }
    }
    val got = StaticResults.collected(spark, "win_time_weighted_avg")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (u, e) => assert(got(u) == e, s"user $u: ${got(u)} vs $e") }
  }

  test("embed_chunk_mean_pool matches a driver-side pooling recomputation") {
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def milli(x: Float): Long = math.floor(x.toDouble * 1000 + 0.5).toLong
    val expect = vecs.groupBy(_._1 / 4).map { case (doc, ch) =>
      val dims = ch.head._2.indices
      val n = ch.length.toLong
      val pooled = dims.map(i =>
        Math.floorDiv(ch.map(c => milli(c._2(i))).sum, n))
      val first = ch.minBy(_._1)._2.map(milli)
      val norm2 = pooled.map(c => c * c).sum
      val dot = dims.map(i => pooled(i) * first(i)).sum
      val ff = first.map(m => m * m).sum
      val cos = dot.toDouble / (math.sqrt(norm2.toDouble) * math.sqrt(ff.toDouble))
      doc -> (n, norm2, cos)
    }
    val got = StaticResults.collected(spark, "embed_chunk_mean_pool")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (doc, e) =>
      assert(got(doc) == e, s"doc $doc: ${got(doc)} vs $e")
    }
  }

  test("mix_anneal_two_phase: phase 1 covers the corpus, phase 2 admits by the curation rules") {
    val docs = Tables.documents(spark, sfStatic)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def ntok(t: String): Long = t.split(" ", -1).length.toLong
    def nuniq(t: String): Long = t.split(" ", -1).distinct.length.toLong
    val p2 = docs.filter { case (_, t) => ntok(t) >= 30 && 10 * nuniq(t) >= 4 * ntok(t) }
    val got = StaticResults.collected(spark, "mix_anneal_two_phase")
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def expectPhase(ds: Array[(String, String)], phase: Long): Unit = {
      val tot = ds.map(d => ntok(d._2)).sum
      ds.groupBy(_._1).foreach { case (src, xs) =>
        val tks = xs.map(d => ntok(d._2)).sum
        assert(got((phase, src)) ==
          (xs.length.toLong, tks, tks * 1000000L / tot), s"phase $phase $src")
      }
    }
    expectPhase(docs, 1L); expectPhase(p2, 2L)
    assert(p2.length < docs.length, "the anneal bar must actually filter")
    // phase weights renormalize: ppm sums to ~1e6 (floor slack is
    // strictly below the number of sources in the phase)
    Seq(1L, 2L).foreach { ph =>
      val srcs = got.keys.count(_._1 == ph)
      val s = got.collect { case ((p, _), (_, _, w)) if p == ph => w }.sum
      assert(s > 1000000L - srcs && s <= 1000000L, s"phase $ph ppm sum $s")
    }
  }

  test("events_alert_storm_suppression matches a driver-side island recomputation") {
    val alerts = Tables.events(spark, sfStatic)
      .filter(col("value") > 150)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = alerts.groupBy(_._1).map { case (tp, xs) =>
      val ts = xs.sortBy(x => (x._3, x._2)).map(_._3)
      val lens = scala.collection.mutable.ListBuffer[Long]()
      var prev = Long.MinValue
      ts.foreach { t0 =>
        if (prev == Long.MinValue || t0 - prev > 600000000L) lens += 1L
        else lens(lens.length - 1) += 1L
        prev = t0
      }
      tp -> (ts.length.toLong, lens.length.toLong, lens.max,
        (ts.length.toLong - lens.length) * 1000000L / ts.length)
    }
    val got = StaticResults.collected(spark, "events_alert_storm_suppression")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (tp, e) => assert(got(tp) == e, s"$tp: ${got(tp)} vs $e") }
  }

  test("dq_value_set_conformance: clean contracts audit zero, the narrow lang contract counts zh") {
    val got = StaticResults.collected(spark, "dq_value_set_conformance")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 4)
    assert(got("orders.o_orderpriority")._3 == 0L)
    assert(got("lineitem.l_returnflag")._3 == 0L)
    assert(got("events.event_type")._3 == 0L)
    val nZh = Tables.documents(spark, sfStatic).filter(col("lang") === "zh").count()
    assert(got("documents.lang")._3 == nZh && nZh > 0,
      "the deliberately-narrow lang contract must count the zh drift")
    assert(got("documents.lang")._1 == Tables.documents(spark, sfStatic).count())
  }

  test("vocab_subword_fertility matches the 3-merge simulation's vocabulary") {
    // reuse the BPE simulation from the merges test: apply the three
    // simulated top pairs, then histogram symbols-per-word
    val toks = Tables.documents(spark, sfStatic).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ")).filter(_.length >= 2)
    var vocab: Map[String, Long] = toks.groupBy(identity)
      .map { case (t, a) => (" " + t.map(c => s"$c ").mkString) -> a.length.toLong }
    for (_ <- 1 to 3) {
      val st = vocab.toSeq.flatMap { case (seq, wc) =>
        val a = seq.trim.split(" ")
        (1 until a.length).map(i => (seq, (a(i - 1), a(i)), wc))
      }.groupBy(_._2).map { case (p, xs) =>
        p -> (xs.map(_._3).sum, xs.map(_._1).distinct.length.toLong) }
      val ((l, r), _) = st.toSeq.sortBy { case ((l0, r0), (n, _)) => (-n, l0, r0) }.head
      vocab = vocab.toSeq.map { case (seq, wc) =>
        seq.replace(s" $l $r ", s" $l$r ").replace(s" $l $r ", s" $l$r ") -> wc
      }.toMap
    }
    val expect = vocab.toSeq
      .map { case (seq, wc) => (math.min(seq.trim.split(" ").length.toLong, 15L), wc) }
      .groupBy(_._1).map { case (k, xs) =>
        k -> (xs.length.toLong, xs.map(_._2).sum) }
    val got = StaticResults.collected(spark, "vocab_subword_fertility")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect, s"got $got\nexpected $expect")
  }

  test("report_contribution_waterfall: running deltas telescope in bar order") {
    val rows = StaticResults.collected(spark, "report_contribution_waterfall")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 25, "one bar per nation")
    // output order IS contribution order, and running is its prefix sum
    var run = 0L
    rows.foreach { case (nation, prev, curr, delta, running) =>
      assert(delta == curr - prev, s"$nation delta")
      run += delta
      assert(running == run, s"$nation running")
    }
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(d => -d).toSeq,
      "bars ordered by contribution")
  }

  test("profile_split_drift matches a driver-side profile") {
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast(org.apache.spark.sql.types.LongType).as("cents"),
        datediff(col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast(
            org.apache.spark.sql.types.LongType).as("eday"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def split(k: Long): String = if (md5hex(k.toString).head <= '7') "prior" else "delta"
    val cells = orders.flatMap { case (ok, ck, cents, eday) =>
      Seq(("o_custkey", split(ok), ck), ("order_epoch_day", split(ok), eday),
        ("price_cents", split(ok), cents))
    }
    val expect = cells.groupBy(c => (c._1, c._2)).map { case (k, xs) =>
      val vs = xs.map(_._3)
      k -> (vs.length.toLong, 0L, vs.sum, vs.min, vs.max,
        Math.floorDiv(vs.sum * 1000, vs.length.toLong))
    }
    val got = StaticResults.collected(spark, "profile_split_drift")
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, e) => assert(got(k) == e, s"$k: ${got(k)} vs $e") }
  }
}
