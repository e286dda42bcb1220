package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-16 batch, checked by FULL
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle: the incremental cluster maintenance is replayed with a
  * plain scala union-find (both the prior map and the folded final
  * map), and the key's output is additionally pinned row-for-row
  * against the graded from-scratch `dedup_cluster_cc` operator — the
  * merge == full-recompute equality the key exists to certify. */
class R16OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def isPrior(id: Long): Boolean = md5hex(id.toString).charAt(0) <= '7'

  /** Plain sequential union-find with min-id roots — the ground-truth
    * CC implementation nothing in the product shares code with. */
  private def unionFind(nodes: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private lazy val pairs: Seq[(Long, Long)] =
    LlmExtras.minhashPairs(spark, sf).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private lazy val docIds: Seq[Long] =
    Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq

  private val keys = Seq(
    "dedup_cluster_incremental", "stats_welch_t", "ab_power_sample_size",
    "win_rolling_corr", "sketch_bloom_merge", "privacy_contribution_capping",
    "split_time_based", "eval_ndcg_at10", "dq_iqr_outliers",
    "graph_local_clustering", "report_seasonality_index",
    "events_markov_stationary", "sim_mips_topk", "join_spatial_grid",
    "stats_prop_ztest", "ts_acf_lags", "fn_hash_digests",
    "layout_clustering_depth", "source_parquet_bloom",
    "embed_matryoshka_truncation", "eval_cohens_kappa",
    "dq_embedding_coverage", "ts_seasonal_strength", "profile_column_matrix")

  test("r16 keys are partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("dedup_cluster_incremental: union-find replay of BOTH maps " +
      "(prior + folded) matches every output column") {
    val rows = graft.SparkEntry.queries("dedup_cluster_incremental")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getInt(5)))
    assert(rows.length == docIds.length, "one row per corpus doc")
    // ground truth: full-graph CC and prior-graph CC, both union-find
    val full = unionFind(docIds, pairs)
    val priorDocs = docIds.filter(isPrior)
    val prior = unionFind(priorDocs,
      pairs.filter { case (a, b) => isPrior(a) && isPrior(b) })
    val sizes = full.values.groupBy(identity).map { case (k, v) => k -> v.size }
    // the increment must actually exercise the maintenance path: at
    // least one cluster merging prior and increment docs
    assert(rows.exists { case (id, cl, sz, wp, _, _) => wp == 1 && sz > 1 &&
      rows.exists { case (id2, cl2, _, wp2, _, _) =>
        cl2 == cl && wp2 == 0 && id2 != id } },
      "fixture carries no prior+increment mixed cluster — nothing certified")
    rows.foreach { case (id, cl, sz, wp, pcl, rel) =>
      assert(cl == full(id), s"doc $id: cluster_id $cl != union-find ${full(id)}")
      assert(sz == sizes(full(id)).toLong, s"doc $id: cluster_size")
      assert((wp == 1) == isPrior(id), s"doc $id: was_prior")
      if (isPrior(id))
        assert(pcl.contains(prior(id)), s"doc $id: prior_cluster_id")
      else assert(pcl.isEmpty, s"doc $id: increment doc must have NULL prior root")
      assert((rel == 1) == (isPrior(id) && prior(id) != full(id)),
        s"doc $id: relabeled flag")
    }
  }

  private def cents(d: Double): Long =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact

  private lazy val eventRows: Array[(Long, Long, String, Long, java.sql.Timestamp)] =
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        cents(r.getDouble(3)), r.getTimestamp(4)))

  /** floor division on BigInt (both engines' `div`/`//` on nonneg). */
  private def fdiv(a: BigInt, b: BigInt): BigInt = {
    require(a >= 0 && b > 0, "fdiv replay only spells nonneg operands")
    a / b
  }

  test("stats_welch_t: exact BigInt replay of every output column") {
    def arm(t: String): (BigInt, BigInt, BigInt) = {
      val xs = eventRows.filter(_._3 == t).map(_._4)
      (BigInt(xs.length), BigInt(xs.map(BigInt(_)).sum.toString),
        xs.map(x => BigInt(x) * x).sum)
    }
    val (n1, s1, q1) = arm("purchase"); val (n2, s2, q2) = arm("click")
    val mean1 = fdiv(s1 * 1000000, n1); val mean2 = fdiv(s2 * 1000000, n2)
    val v1 = fdiv((n1 * q1 - s1 * s1) * 1000000, n1 * (n1 - 1))
    val v2 = fdiv((n2 * q2 - s2 * s2) * 1000000, n2 * (n2 - 1))
    val se2 = fdiv(v1, n1) + fdiv(v2, n2)
    val dm = mean1 - mean2
    val t2 = fdiv(dm * dm, se2)
    val a1 = fdiv(fdiv(v1, n1), 1000); val a2 = fdiv(fdiv(v2, n2), 1000)
    val df = fdiv(fdiv(se2, 1000) * fdiv(se2, 1000) * 1000,
      fdiv(a1 * a1, n1 - 1) + fdiv(a2 * a2, n2 - 1))
    val r = graft.SparkEntry.queries("stats_welch_t")(spark, sf)
      .collect().head
    assert(r.getLong(0) == n1.toLong && r.getLong(1) == n2.toLong)
    assert(r.getLong(2) == mean1.toLong && r.getLong(3) == mean2.toLong)
    assert(r.getLong(4) == v1.toLong && r.getLong(5) == v2.toLong)
    assert(r.getLong(6) == se2.toLong)
    assert(r.getLong(7) == t2.toLong, "t2_micro")
    assert(r.getLong(8) == df.toLong, "df_milli")
    assert(r.getBoolean(9) == (t2 > 3841459), "significant")
  }

  test("ab_power_sample_size: replay + the ceiling really is the minimal n") {
    val rows = graft.SparkEntry.queries("ab_power_sample_size")(spark, sf)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = eventRows.filter(_._3 == t).map(_._4)
      val n = BigInt(xs.length); val s = xs.map(BigInt(_)).sum
      val q = xs.map(x => BigInt(x) * x).sum
      val mean = fdiv(s * 1000000, n)
      val v = fdiv((n * q - s * s) * 1000000, n * (n - 1))
      val delta = fdiv(mean, 20)
      val nReq = fdiv(2 * BigInt(7848879) * v + delta * delta - 1,
        delta * delta)
      assert(r.getLong(1) == n.toLong && r.getLong(2) == mean.toLong)
      assert(r.getLong(3) == v.toLong && r.getLong(4) == delta.toLong)
      assert(r.getLong(5) == nReq.toLong, s"$t: n_required")
      // ceiling property: n_required arms suffice, one fewer does not
      assert(nReq * delta * delta >= 2 * BigInt(7848879) * v, s"$t: suffices")
      assert((nReq - 1) * delta * delta < 2 * BigInt(7848879) * v,
        s"$t: not minimal")
    }
  }

  test("win_rolling_corr: sliding-window BigInt replay per customer") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
          + " AS BIGINT)"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        cents(r.getDouble(3))))
    val expected = orders.groupBy(_._1).flatMap { case (ck, rows) =>
      val sorted = rows.sortBy(t => (t._3, t._2))
      sorted.indices.map { i =>
        val fr = sorted.slice(math.max(0, i - 7), i + 1)
        val n = BigInt(fr.length)
        val sx = fr.map(t => BigInt(t._3)).sum
        val sy = fr.map(t => BigInt(t._4)).sum
        val sxx = fr.map(t => BigInt(t._3) * t._3).sum
        val syy = fr.map(t => BigInt(t._4) * t._4).sum
        val sxy = fr.map(t => BigInt(t._3) * t._4).sum
        val cxy = n * sxy - sx * sy
        val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
        val corr2 = if (vx == 0 || vy == 0) None
          else Some((if (cxy >= 0) BigInt(1) else BigInt(-1)) *
            fdiv(cxy * cxy * 1000000, vx * vy))
        (ck, sorted(i)._2) -> (n.toLong, cxy.toLong, corr2.map(_.toLong))
      }
    }
    val got = graft.SparkEntry.queries("win_rolling_corr")(spark, sf)
      .collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val (n, cov, c2) = expected(k)
      assert(r.getLong(2) == n && r.getLong(3) == cov, s"$k: window sums")
      val gotC2 = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(gotC2 == c2, s"$k: corr2_signed_ppm")
    }
  }

  test("sketch_bloom_merge: scala bit replay; every word's merge equals " +
      "one-pass (the property the key certifies)") {
    val keys = Tables.orders(spark, sf).select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0))
    val hs = keys.flatMap(k => (0 to 2).map(j =>
      (k % 8, java.lang.Long.parseLong(
        md5hex(s"$k#$j").substring(0, 8), 16) % 64512)))
    val shardWords = hs.groupBy { case (sh, h) => (sh, h / 63) }
      .map { case ((sh, w), xs) =>
        (sh, w) -> xs.map { case (_, h) => 1L << (h % 63).toInt }
          .reduce(_ | _) }
    val merged = shardWords.groupBy(_._1._2)
      .map { case (w, m) => w -> m.values.reduce(_ | _) }
    val onePass = hs.groupBy(_._2 / 63)
      .map { case (w, xs) => w -> xs.map { case (_, h) =>
        1L << (h % 63).toInt }.reduce(_ | _) }
    assert(merged == onePass, "BIT_OR merge must equal the one-pass build")
    val rows = graft.SparkEntry.queries("sketch_bloom_merge")(spark, sf)
      .collect()
    assert(rows.length == merged.size)
    rows.foreach { r =>
      val w = r.getLong(0)
      assert(r.getLong(1) == merged(w), s"word $w bits")
      assert(r.getLong(2) == java.lang.Long.bitCount(merged(w)).toLong)
      assert(r.getBoolean(4), s"word $w: merge_equals_onepass must hold")
    }
  }

  test("privacy_contribution_capping + split_time_based: scala replays") {
    // capping: keep-first-8 per (user, type) by (ts, event_id)
    val capRows = graft.SparkEntry
      .queries("privacy_contribution_capping")(spark, sf).collect()
    capRows.foreach { r =>
      val t = r.getString(0)
      val ofType = eventRows.filter(_._3 == t)
      val byUser = ofType.groupBy(_._2)
      val kept = byUser.values.flatMap(
        _.sortBy(e => (e._5.getTime, e._1)).take(8)).toSeq
      val sum = ofType.map(e => BigInt(e._4)).sum
      val keptSum = kept.map(e => BigInt(e._4)).sum
      assert(r.getLong(1) == ofType.length.toLong, s"$t rows")
      assert(r.getLong(2) == kept.size.toLong, s"$t kept")
      assert(r.getLong(3) == byUser.values.map(_.length).max.toLong)
      assert(r.getLong(4) == math.min(
        byUser.values.map(_.length).max.toLong, 8L))
      assert(r.getLong(5) == sum.toLong && r.getLong(6) == keptSum.toLong)
      assert(r.getLong(7) == fdiv((sum - keptSum) * 1000000, sum).toLong)
    }
    // time split: boundary 2024-01-22, leakage = users on both sides
    val bound = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    val withSplit = eventRows.map(e =>
      (if (e._5.before(bound)) "train" else "test", e._2, e._4))
    val leaky = withSplit.groupBy(_._2)
      .filter(_._2.map(_._1).distinct.length == 2).keySet
    val splitRows = graft.SparkEntry.queries("split_time_based")(spark, sf)
      .collect()
    assert(splitRows.map(_.getString(0)).toSeq == Seq("test", "train"))
    splitRows.foreach { r =>
      val sp = r.getString(0)
      val rows = withSplit.filter(_._1 == sp)
      val leakyRows = rows.count(e => leaky(e._2))
      assert(r.getLong(1) == rows.length.toLong, s"$sp rows")
      assert(r.getLong(2) == rows.map(_._2).distinct.length.toLong)
      assert(r.getLong(3) == rows.map(e => BigInt(e._3)).sum.toLong)
      assert(r.getLong(4) == rows.filter(e => leaky(e._2))
        .map(_._2).distinct.length.toLong, s"$sp leaky users")
      assert(r.getLong(5) == leakyRows.toLong)
      assert(r.getLong(6) == fdiv(BigInt(leakyRows) * 1000000,
        BigInt(rows.length)).toLong)
    }
  }

  test("eval_ndcg_at10: brute-force scala replay with the literal discounts") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val disc = Array(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
    val queries = vecs.filter(v => md5hex(v._1.toString).head == '0')
    assert(queries.nonEmpty)
    val expect = queries.map { case (qid, qlab, qemb) =>
      val ranked = vecs.filter(_._1 != qid)
        .map(v => (v._1, v._2, cos(v._3, qemb)))
        .sortBy { case (id, _, s) => (-s, id) }
      val dcg = ranked.take(10).zipWithIndex
        .collect { case ((_, l, _), i) if l == qlab => disc(i) }.sum
      val nRel = ranked.count(_._2 == qlab)
      val idcg = disc.take(math.min(nRel, 10)).sum
      (qlab, if (idcg == 0) 0L else Math.floorDiv(dcg * 1000000L, idcg))
    }.groupBy(_._1).map { case (lab, xs) =>
      lab.toLong -> (xs.length.toLong, xs.map(_._2).sum,
        Math.floorDiv(xs.map(_._2).sum, xs.length.toLong))
    }
    val got = graft.SparkEntry.queries("eval_ndcg_at10")(spark, sf)
      .collect()
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (lab, e) =>
      assert(got(lab) == e, s"label $lab: got ${got(lab)}, recomputed $e")
    }
  }

  test("dq_iqr_outliers: quartile + fence replay per event type") {
    val rows = graft.SparkEntry.queries("dq_iqr_outliers")(spark, sf)
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = eventRows.filter(_._3 == t)
        .sortBy(e => (e._4, e._1)).map(_._4)
      val n = xs.length
      val q1 = xs(((n - 1) * 25 / 100).toInt)
      val q3 = xs(((n - 1) * 75 / 100).toInt)
      val iqr = q3 - q1
      val lo = q1 - 3 * iqr / 2; val hi = q3 + 3 * iqr / 2
      val below = xs.count(_ < lo); val above = xs.count(_ > hi)
      assert(r.getLong(1) == n.toLong && r.getLong(2) == q1 &&
        r.getLong(3) == q3 && r.getLong(4) == iqr, s"$t quartiles")
      assert(r.getLong(5) == lo && r.getLong(6) == hi, s"$t fences")
      assert(r.getLong(7) == below.toLong && r.getLong(8) == above.toLong)
      assert(r.getLong(9) ==
        Math.floorDiv((below + above).toLong * 1000000L, n.toLong))
    }
  }

  test("graph_local_clustering: adjacency-set replay; node totals tie out " +
      "to the global triangle kernel") {
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(
          org.apache.spark.sql.types.DateType).cast(
          org.apache.spark.sql.types.TimestampType) &&
        col("l_shipdate") < lit("1997-01-01").cast(
          org.apache.spark.sql.types.DateType).cast(
          org.apache.spark.sql.types.TimestampType))
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val rows = graft.SparkEntry.queries("graph_local_clustering")(spark, sf)
      .collect()
    assert(rows.length == adj.size, "one row per graph node")
    var triSum = 0L
    rows.foreach { r =>
      val node = r.getLong(0); val nb = adj(node)
      assert(r.getLong(1) == nb.size.toLong, s"node $node degree")
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(u, v) => adj(u)(v) }.toLong
      assert(r.getLong(2) == tri, s"node $node triangles")
      triSum += tri
      val expLcc = if (nb.size < 2) None
        else Some(Math.floorDiv(tri * 2000000L,
          nb.size.toLong * (nb.size - 1)))
      val gotLcc = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(gotLcc == expLcc, s"node $node lcc_ppm")
    }
    // each triangle counted once per corner — 3× the global kernel
    val global = graft.SparkEntry.queries("graph_triangle_count")(spark, sf)
      .collect().head.getLong(3)
    assert(triSum == 3 * global, "corner sum must be 3x the triangle count")
  }

  test("report_seasonality_index: replay + the 12 indices sum to ~12e6") {
    val orders = Tables.orders(spark, sf)
      .select(month(col("o_orderdate")).cast(
        org.apache.spark.sql.types.LongType), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), cents(r.getDouble(1))))
    val tot = orders.map(e => BigInt(e._2)).sum
    val rows = graft.SparkEntry.queries("report_seasonality_index")(spark, sf)
      .collect()
    assert(rows.length == 12)
    var idxSum = BigInt(0)
    rows.foreach { r =>
      val m = r.getLong(0)
      val ofM = orders.filter(_._1 == m)
      val c = ofM.map(e => BigInt(e._2)).sum
      assert(r.getLong(1) == ofM.length.toLong && r.getLong(2) == c.toLong)
      val idx = fdiv(c * 12000000, tot)
      assert(r.getLong(3) == idx.toLong, s"month $m index")
      idxSum += idx
    }
    assert((BigInt(12000000) - idxSum) >= 0 && (BigInt(12000000) - idxSum) < 12,
      "floor indices must sum to 12e6 minus at most 11 ppm of flooring")
  }

  test("events_markov_stationary: BigInt power-iteration replay") {
    val trans = eventRows.groupBy(_._2).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._5.getTime, e._1))
      sorted.map(_._3).toSeq.sliding(2).collect { case Seq(a, b) => (a, b) }
    }.toSeq
    val counts = trans.groupBy(identity).map { case (k, v) => k -> v.size }
    val tot = counts.groupBy(_._1._1)
      .map { case (f, m) => f -> m.values.sum }
    val p = counts.map { case ((f, t), n) =>
      (f, t) -> fdiv(BigInt(n) * 1000000, BigInt(tot(f))) }
    val types = eventRows.map(_._3).distinct.sorted
    var pi: Map[String, BigInt] =
      types.map(_ -> fdiv(BigInt(1000000), BigInt(types.length))).toMap
    val path = Seq.newBuilder[Map[String, BigInt]]
    path += pi
    (1 to 3).foreach { _ =>
      pi = types.map { t =>
        t -> fdiv(types.map(f =>
          pi(f) * p.getOrElse((f, t), BigInt(0))).sum, BigInt(1000000))
      }.toMap
      path += pi
    }
    val exp = path.result()
    val rows = graft.SparkEntry.queries("events_markov_stationary")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == types.toSeq)
    rows.foreach { r =>
      val t = r.getString(0)
      (0 to 3).foreach { i =>
        assert(r.getLong(i + 1) == exp(i)(t).toLong, s"$t pi$i")
      }
    }
    // mass conservation up to flooring: each round leaks < k ppm
    assert(exp(3).values.sum > 1000000 - 4 * types.length,
      "stationary mass must survive flooring")
  }

  test("sim_mips_topk: scala brute-force dot replay") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val qEmb = vecs.find(_._1 == 0L).get._3
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (i <- a.indices) acc += a(i).toDouble * b(i).toDouble
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val exp = vecs.filter(_._1 != 0L)
      .map(v => (v._1, v._2, dot(v._3, qEmb)))
      .sortBy { case (id, _, s) => (-s, id) }.take(10)
    val got = graft.SparkEntry.queries("sim_mips_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == exp.toSeq, "MIPS top-10 must match the exact scan")
  }

  test("join_spatial_grid: the grid join finds EXACTLY the all-pairs " +
      "radius result (cell=radius completeness) + histogram replay") {
    val pts = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map { r =>
        val k = r.getLong(0)
        val x = (k * 37) % 1000
        val y = ((cents(r.getDouble(1)) % 1000) + 1000) % 1000
        (k, x, y)
      }
    val pairs = (for {
      a <- pts; b <- pts
      if a._1 < b._1 &&
        (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3) <= 625
    } yield (a._1, b._1)).toSet
    val nb = pairs.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val hist = pts.map(p => nb.getOrElse(p._1, 0L))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val rows = graft.SparkEntry.queries("join_spatial_grid")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(r => r._1 -> r._2).toMap == hist,
      "grid-blocked candidates must reproduce the exact all-pairs histogram")
    assert(rows.forall(_._3 == pairs.size.toLong), "total pair count")
  }

  test("stats_prop_ztest: BigInt replay, arms interior (not degenerate)") {
    val conv = eventRows.groupBy(_._2).map { case (uid, es) =>
      uid -> es.exists(e => e._3 == "purchase" && e._4 >= 18000)
    }
    val (arm0, arm1) = conv.keys.toSeq.partition(u => isPrior(u))
    val n1 = BigInt(arm0.size); val c1 = BigInt(arm0.count(conv))
    val n2 = BigInt(arm1.size); val c2 = BigInt(arm1.count(conv))
    assert(c1 + c2 > 0 && c1 + c2 < n1 + n2,
      "fixture must keep the pooled proportion interior or the key " +
        "certifies nothing")
    val num = (c1 * n2 - c2 * n1).pow(2) * (n1 + n2) * 1000000
    val den = n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2)
    val r = graft.SparkEntry.queries("stats_prop_ztest")(spark, sf)
      .collect().head
    assert(r.getLong(0) == n1.toLong && r.getLong(1) == c1.toLong)
    assert(r.getLong(2) == n2.toLong && r.getLong(3) == c2.toLong)
    assert(r.getLong(4) == fdiv(c1 * 1000000, n1).toLong)
    assert(r.getLong(5) == fdiv(c2 * 1000000, n2).toLong)
    assert(r.getLong(6) == fdiv(num, den).toLong, "z2_micro")
    assert(r.getBoolean(7) == (fdiv(num, den) > 3841459))
  }

  test("ts_acf_lags: BigInt sums + one-float-chain replay; lag 1 agrees " +
      "with the graded ts_autocorr_daily") {
    val daily = eventRows.groupBy(e => (e._3,
        e._5.toLocalDateTime.toLocalDate))
      .map { case (k, es) => k -> es.map(e => BigInt(e._4)).sum }
    val rows = graft.SparkEntry.queries("ts_acf_lags")(spark, sf).collect()
    assert(rows.length == 35, "5 types x 7 lags")
    rows.foreach { r =>
      val (t, lag) = (r.getString(0), r.getLong(1).toInt)
      val ofT = daily.collect { case ((tt, d), c) if tt == t => (d, c) }
      val ps = ofT.toSeq.flatMap { case (d, x) =>
        ofT.get(d.plusDays(lag.toLong)).map(y => (x, y)) }
      val n = BigInt(ps.length)
      val sx = ps.map(_._1).sum; val sy = ps.map(_._2).sum
      val sxx = ps.map(p => p._1 * p._1).sum
      val syy = ps.map(p => p._2 * p._2).sum
      val sxy = ps.map(p => p._1 * p._2).sum
      assert(r.getLong(2) == n.toLong, s"$t lag $lag: n")
      val acf = (n.toLong * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (math.sqrt(n.toLong * sxx.toDouble - sx.toDouble * sx.toDouble) *
          math.sqrt(n.toLong * syy.toDouble - sy.toDouble * sy.toDouble))
      assert(r.getDouble(3) == acf, s"$t lag $lag: acf")
    }
    val lag1 = rows.filter(_.getLong(1) == 1L)
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    graft.SparkEntry.queries("ts_autocorr_daily")(spark, sf).collect()
      .foreach { r =>
        assert(lag1(r.getString(0)) == r.getDouble(2),
          s"${r.getString(0)}: lag-1 must equal the graded lag-1 key")
      }
  }

  test("fn_hash_digests: JVM MessageDigest replay of both digests") {
    def sha256hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val custs = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val hs = custs.map { case (k, n) =>
      (md5hex(s"$n|$k"), sha256hex(s"$n|$k")) }
    val exp = hs.groupBy(_._1.head).map { case (b, xs) =>
      b.toString -> (xs.length.toLong,
        xs.count(x => x._2.head == x._1.head).toLong,
        xs.map(_._1).min, xs.map(_._2).min) }
    val got = graft.SparkEntry.queries("fn_hash_digests")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toMap
    assert(got == exp)
  }

  test("layout_clustering_depth: zone replay; sorting collapses overlap") {
    val vs = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), cents(r.getDouble(1))))
    def zones(ordered: Seq[Long]): Seq[(Long, Long)] =
      ordered.grouped(64).map(g => (g.min, g.max)).toSeq
    def overlaps(zs: Seq[(Long, Long)]): Long =
      (for (i <- zs.indices; j <- (i + 1) until zs.length
        if zs(i)._2 >= zs(j)._1 && zs(j)._2 >= zs(i)._1) yield 1).size.toLong
    val natural = zones(vs.sortBy(_._1).map(_._2).toSeq)
    val sorted = zones(vs.sortBy(v => (v._2, v._1)).map(_._2).toSeq)
    val got = graft.SparkEntry.queries("layout_clustering_depth")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val natPairs = overlaps(natural); val srtPairs = overlaps(sorted)
    assert(got("natural") == (natural.length.toLong, natPairs,
      Math.floorDiv(natPairs * 1000000L,
        natural.length.toLong * (natural.length - 1) / 2)))
    assert(got("sorted") == (sorted.length.toLong, srtPairs,
      Math.floorDiv(srtPairs * 1000000L,
        sorted.length.toLong * (sorted.length - 1) / 2)))
    assert(srtPairs < natPairs,
      "sorting must strictly reduce zone-stat overlap or the metric is dead")
  }

  test("source_parquet_bloom: replay + the footer really carries a bloom " +
      "filter on user_id") {
    val rows = graft.SparkEntry.queries("source_parquet_bloom")(spark, sf)
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val of = eventRows.filter(e => e._3 == t && e._2 == 7L)
      assert(r.getLong(1) == of.length.toLong, s"$t n")
      assert(r.getLong(2) == of.map(e => BigInt(e._4)).sum.toLong, s"$t sum")
      assert(r.getLong(3) == of.map(_._1).min, s"$t min_event_id")
    }
    assert(rows.map(_.getLong(1)).sum ==
      eventRows.count(_._2 == 7L).toLong, "user 7's events all covered")
    // footer check: write with the same options, read the metadata
    val out = graft.TempDirs.create("graft_bloomspec")
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .option("parquet.bloom.filter.expected.ndv#user_id", "1000")
      .option("parquet.enable.dictionary#user_id", "false")
      .parquet(out)
    val file = new java.io.File(out).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
      val userCol = cols.filter(
        _.getPath.toDotString == "user_id")
      assert(userCol.nonEmpty)
      assert(userCol.forall(_.getBloomFilterOffset >= 0),
        "user_id column chunks must carry a bloom filter offset")
      val otherCol = cols.filter(_.getPath.toDotString == "event_type")
      assert(otherCol.forall(_.getBloomFilterOffset < 0),
        "non-enabled columns must NOT carry bloom filters")
    } finally reader.close()
  }

  test("embed_matryoshka_truncation: prefix-dot replay; budget 64 is the " +
      "identity") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dotK(a: Array[Float], b: Array[Float], k: Int): Double = {
      var acc = 0.0
      for (i <- 0 until k) acc += a(i).toDouble * b(i).toDouble
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val queries = vecs.filter(v => md5hex(v._1.toString).head == '0')
    val expect = Seq(16, 32, 64).map { kd =>
      val per = queries.map { case (qid, qemb) =>
        val cands = vecs.filter(_._1 != qid)
        val dk = cands.map(v => (v._1, dotK(v._2, qemb, kd)))
        val d64 = cands.map(v => (v._1, dotK(v._2, qemb, 64)))
        val topK = dk.minBy { case (id, s) => (-s, id) }._1
        val topF = d64.minBy { case (id, s) => (-s, id) }._1
        val gaps = cands.indices.map(i =>
          math.floor((d64(i)._2 - dk(i)._2) * 1000000).toLong)
        (topK == topF, gaps.sum, gaps.length.toLong)
      }
      val agree = per.count(_._1).toLong
      val sumGap = per.map(_._2).sum
      val np = per.map(_._3).sum
      kd.toLong -> (queries.length.toLong, agree,
        Math.floorDiv(agree * 1000000L, queries.length.toLong),
        sumGap, sumGap / np)
    }.toMap
    val got = graft.SparkEntry
      .queries("embed_matryoshka_truncation")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == expect)
    assert(got(64L)._3 == 1000000L && got(64L)._4 == 0L,
      "budget 64 must agree with itself with zero gap")
  }

  test("eval_cohens_kappa: BigInt replay, raters non-degenerate") {
    val docs = Tables.documents(spark, sf)
      .select(col("n_chars"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1)
        (if (r.getLong(0) >= 450) 1 else 0,
          if (toks.distinct.length * 10 >= toks.length * 7) 1 else 0)
      }
    val n = BigInt(docs.length)
    val a = BigInt(docs.count(p => p._1 == 1 && p._2 == 1))
    val b = BigInt(docs.count(p => p._1 == 1 && p._2 == 0))
    val c = BigInt(docs.count(p => p._1 == 0 && p._2 == 1))
    val dd = BigInt(docs.count(p => p._1 == 0 && p._2 == 0))
    assert(a + b > 0 && c + dd > 0 && a + c > 0 && b + dd > 0,
      "both raters must split the corpus or kappa certifies nothing")
    val e = (a + b) * (a + c) + (c + dd) * (b + dd)
    val r = graft.SparkEntry.queries("eval_cohens_kappa")(spark, sf)
      .collect().head
    assert(r.getLong(0) == n.toLong && r.getLong(1) == a.toLong &&
      r.getLong(2) == b.toLong && r.getLong(3) == c.toLong &&
      r.getLong(4) == dd.toLong)
    assert(r.getLong(5) == fdiv((a + dd) * 1000000, n).toLong)
    assert(r.getLong(6) == fdiv(e * 1000000, n * n).toLong)
    // truncating division (matches both engines' div/// on any sign)
    val kap = ((n * (a + dd) - e) * 1000000) / (n * n - e)
    assert(r.getLong(7) == kap.toLong, "kappa_ppm")
  }

  test("dq_embedding_coverage: replay; the audit sees the real join gap") {
    val vecIds = Tables.embeddings(spark, sf).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rows = graft.SparkEntry.queries("dq_embedding_coverage")(spark, sf)
      .collect()
    rows.foreach { r =>
      val lang = r.getString(0)
      val ofL = docs.filter(_._2 == lang)
      val withV = ofL.filter(d => vecIds(d._1))
      assert(r.getLong(1) == ofL.length.toLong)
      assert(r.getLong(2) == withV.length.toLong)
      assert(r.getLong(3) == Math.floorDiv(withV.length.toLong * 1000000L,
        ofL.length.toLong))
      val firstUn = ofL.filterNot(d => vecIds(d._1)).map(_._1)
        .sorted.headOption
      val gotUn = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(gotUn == firstUn, s"$lang first_uncovered_doc")
    }
  }

  test("ts_seasonal_strength: BigInt replay FROM the graded decomposition " +
      "output (shared-core tie)") {
    val dec = graft.SparkEntry.queries("ts_decompose_additive")(spark, sf)
      .collect().filter(r => !r.isNullAt(3))
      .map(r => (BigInt(r.getLong(2)), BigInt(r.getLong(3)),
        BigInt(r.getLong(4))))
    val rs = dec.map { case (rev, tr, se) => rev - tr - se }
    val dts = dec.map { case (rev, tr, _) => rev - tr }
    val dss = dec.map { case (rev, _, se) => rev - se }
    val n = BigInt(dec.length)
    def ss(xs: Array[BigInt]): BigInt =
      n * xs.map(x => x * x).sum - xs.sum * xs.sum
    def strength(num: BigInt, den: BigInt): Option[BigInt] =
      if (den == 0) None
      else Some((BigInt(1000000) - fdiv(num * 1000000, den)).max(BigInt(0)))
    val r = graft.SparkEntry.queries("ts_seasonal_strength")(spark, sf)
      .collect().head
    assert(r.getLong(0) == n.toLong)
    def got(i: Int): Option[BigInt] =
      if (r.isNullAt(i)) None else Some(BigInt(r.getLong(i)))
    assert(got(1) == strength(ss(rs), ss(dss)), "strength_trend_ppm")
    assert(got(2) == strength(ss(rs), ss(dts)), "strength_seasonal_ppm")
  }

  test("profile_column_matrix: collected-orders replay of every cell") {
    val os = Tables.orders(spark, sf).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
        col("o_orderpriority"))
      .collect()
    val n = os.length.toLong
    def rend2(d: Double): String =
      BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val exp = Map(
      "o_orderkey" -> (os.map(_.getLong(0)).distinct.length.toLong,
        os.map(_.getLong(0)).min.toString, os.map(_.getLong(0)).max.toString),
      "o_custkey" -> (os.map(_.getLong(1)).distinct.length.toLong,
        os.map(_.getLong(1)).min.toString, os.map(_.getLong(1)).max.toString),
      "o_orderstatus" -> (os.map(_.getString(2)).distinct.length.toLong,
        os.map(_.getString(2)).min, os.map(_.getString(2)).max),
      "o_totalprice" -> (os.map(r => rend2(r.getDouble(3)))
          .distinct.length.toLong,
        rend2(os.map(_.getDouble(3)).min), rend2(os.map(_.getDouble(3)).max)),
      "o_orderdate" -> (os.map(_.getDate(4).toString).distinct.length.toLong,
        os.map(_.getDate(4).toString).min, os.map(_.getDate(4).toString).max),
      "o_orderpriority" -> (os.map(_.getString(5)).distinct.length.toLong,
        os.map(_.getString(5)).min, os.map(_.getString(5)).max))
    val rows = graft.SparkEntry.queries("profile_column_matrix")(spark, sf)
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val (nd, mn, mx) = exp(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == nd, s"${r.getString(0)}")
      assert(r.getString(3) == mn && r.getString(4) == mx,
        s"${r.getString(0)} min/max renderings")
    }
  }

  test("dedup_cluster_incremental == dedup_cluster_cc on the shared columns " +
      "(merge equals from-scratch recompute)") {
    val inc = graft.SparkEntry.queries("dedup_cluster_incremental")(spark, sf)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(_.toString).sorted
    val scratch = graft.SparkEntry.queries("dedup_cluster_cc")(spark, sf)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(_.toString).sorted
    assert(inc.sameElements(scratch),
      "incremental maintenance diverged from the from-scratch CC operator")
  }
}
