package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the r18b batch, checked by FULL driver-side
  * recomputation at sf0.001 — independent of the DuckDB oracle: the
  * Gopher rule census and padding sweep are replayed from raw
  * document strings, Jarque–Bera from BigInt power sums through the
  * same one float tree, Kruskal–Wallis from a plain-Scala sort-based
  * midrank assignment (NOT the prefix-pass spelling — an independent
  * derivation of the same ranks), and the trimmed mean from a full
  * sort-and-slice (NOT the histogram-overlap spelling). */
class R18bOpsSpec extends SparkSpec {

  test("text_gopher_rules: all four rules replayed from raw strings") {
    val stop = Set("a", "row", "join", "filter", "stream")
    val flags = docSources.map { case (_, text, source) =>
      val ts = text.split(" ", -1)
      val ntok = ts.length.toLong
      val sumchars = text.count(_ != ' ').toLong
      val nstop = ts.toSet.intersect(stop).size
      val toks = ts.filter(_.nonEmpty)
      val maxc = if (toks.isEmpty) 0L
        else toks.groupBy(identity).values.map(_.length).max.toLong
      val r1 = ntok >= 20 && ntok <= 180
      val r2 = sumchars * 1000 >= 3800 * ntok && sumchars * 1000 <= 5000 * ntok
      val r3 = nstop >= 2
      val r4 = maxc * 5 <= ntok
      (source, r1, r2, r3, r4, toks.nonEmpty)
    }
    // docs with no nonempty token drop through the inner maxc join
    val kept = flags.filter(_._6)
    val expect = kept.groupBy(_._1).toSeq.map { case (src, xs) =>
      def c(f: ((String, Boolean, Boolean, Boolean, Boolean, Boolean))
          => Boolean) = xs.count(f).toLong
      val all = c(x => x._2 && x._3 && x._4 && x._5)
      (src, xs.length.toLong, c(_._2), c(_._3), c(_._4), c(_._5), all,
        all * 1000000L / xs.length)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "text_gopher_rules")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(got == expect)
    // the rules must discriminate at this tier: neither vacuous nor
    // absolute for the all-rules census
    val totAll = expect.map(_._7).sum
    val totDocs = expect.map(_._2).sum
    assert(totAll > 0 && totAll < totDocs)
  }

  test("pack_padding_waste_sweep: chunk arithmetic replayed") {
    val ntoks = docSources.map(_._2.split(" ", -1).length.toLong)
    val expect = Seq(64L, 128L, 256L).map { l =>
      val chunks = ntoks.map(n => (n + l - 1) / l)
      val padded = chunks.map(_ * l).sum
      (l, ntoks.length.toLong, ntoks.sum, chunks.sum, padded,
        (padded - ntoks.sum) * 1000000L / padded)
    }
    val got = StaticResults.collected(spark, "pack_padding_waste_sweep")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // waste must shrink monotonically as context length drops
    assert(expect.map(_._6) == expect.map(_._6).sorted)
  }

  test("stats_jarque_bera: BigInt power sums through the one float " +
      "tree") {
    val ev = Tables.events(spark, sfStatic)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), cents4(r.getDouble(1)))).toSeq
    val expect = ev.groupBy(_._1).toSeq.map { case (t, xs) =>
      val n = BigInt(xs.length)
      val v = xs.map(x => BigInt(x._2))
      val s1 = v.sum; val s2 = v.map(x => x * x).sum
      val s3 = v.map(x => x * x * x).sum; val s4 = v.map(x => x * x * x * x).sum
      // floored central moments — the n-power divisions keep every
      // double operand below 2^53 (DecimalCastBoundsSpec rule)
      val a2 = (n * s2 - s1 * s1) / (n * n)
      val a3 = (n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1) /
        (n * n * n)
      val a4 = (n * n * n * s4 - 4 * n * n * s1 * s3 +
        6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1) / (n * n * n * n)
      val d2 = a2.toDouble; val d3 = a3.toDouble; val d4 = a4.toDouble
      val skewSq = d3 * d3 / (d2 * d2 * d2)
      val kurt = d4 / (d2 * d2)
      val jb = n.toDouble * (skewSq + (kurt - 3) * (kurt - 3) / 4) / 6
      (t, xs.length.toLong, math.floor(skewSq * 1000000).toLong,
        math.floor(kurt * 1000000).toLong,
        math.floor(jb * 1000000).toLong,
        math.floor(jb * 1000000).toLong > 5991465L)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "stats_jarque_bera")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == expect)
    // kurtosis of any real distribution is positive
    assert(expect.forall(_._4 > 0))
  }

  test("stats_kruskal_wallis: sort-based midranks, independent of the " +
      "prefix-pass spelling") {
    val pri = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val rows = Tables.orders(spark, sfStatic)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), cents(r.getDouble(1)))).toSeq
    // doubled midranks by value: positions pre+1..pre+cnt share
    // doubled midrank 2*pre + cnt + 1
    val byV = rows.groupBy(_._2).toSeq.sortBy(_._1)
    var pre = 0L
    val dmid = scala.collection.mutable.Map[Long, Long]()
    var tie = BigInt(0)
    byV.foreach { case (v, xs) =>
      val cnt = xs.length.toLong
      dmid(v) = 2 * pre + cnt + 1
      tie += BigInt(cnt) * cnt * cnt - cnt
      pre += cnt
    }
    val n = BigInt(rows.length)
    val r2 = pri.map(p => rows.filter(_._1 == p)
      .map(x => BigInt(dmid(x._2))).sum)
    val ns = pri.map(p => BigInt(rows.count(_._1 == p)))
    val q = r2.zip(ns).map { case (r, ng) =>
      if (ng == 0) BigInt(0) else r * r / ng }.sum
    val hMicro = (BigInt(3000000) * q / (n * (n + 1)) -
      BigInt(3000000) * (n + 1)).toLong
    val den = n * n * n - n - tie
    val hc = (BigInt(hMicro) * (n * n * n - n) / den).toLong
    val got = StaticResults.collected(spark, "stats_kruskal_wallis")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getBoolean(9))).toSeq
    val expect = Seq((n.toLong, ns(0).toLong, ns(1).toLong, ns(2).toLong,
      ns(3).toLong, ns(4).toLong, hMicro, tie.toLong, hc,
      hc > 9487729L))
    assert(got == expect)
    // H is nonnegative up to the 5 per-group floor steps
    assert(hMicro >= -5L * 3000000 / (n * (n + 1)).toLong - 1)
  }

  test("shard_consistent_hash_moves: successor-rule rings replayed; " +
      "keys only ever move TO the new node") {
    def ring(nNodes: Int): Seq[(Long, Long)] = // (vh, node)
      (0 until nNodes).flatMap(n => (0 until 16).map(r =>
        (hexLong(md5hex(s"node$n:$r").substring(0, 8)), n.toLong)))
    def assign(r: Seq[(Long, Long)], kh: Long): Long = {
      val succ = r.filter(_._1 >= kh)
      val pick = if (succ.nonEmpty) succ.minBy(x => (x._1, x._2))
        else r.minBy(x => (x._1, x._2))
      // mirror the two-step spelling: min vh, then min node at that vh
      r.filter(_._1 == pick._1).map(_._2).min
    }
    val r8 = ring(8); val r9 = ring(9)
    val keys = docSources.map(d =>
      (d._1, hexLong(md5hex(s"key:${d._1}").substring(0, 8))))
    val pairs = keys.map { case (_, kh) => (assign(r8, kh), assign(r9, kh)) }
    val moved = pairs.count(p => p._1 != p._2).toLong
    val expect = (0L to 8L).map { n =>
      (n, pairs.count(_._1 == n).toLong, pairs.count(_._2 == n).toLong,
        pairs.count(p => p._1 != p._2 && p._2 == n).toLong, moved,
        moved * 1000000L / keys.length)
    }
    val got = StaticResults.collected(spark, "shard_consistent_hash_moves")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // consistent hashing's defining property: adding node 8 only
    // moves keys TO node 8, and roughly 16/144 of them
    expect.dropRight(1).foreach(e => assert(e._4 == 0L,
      s"keys arrived at an old node: $e"))
    assert(expect.last._2 == 0L && expect.last._4 == moved)
    assert(moved > 0 && moved * 3 < keys.length)
  }

  test("sample_cluster_twostage: both md5 draws + the HT debias " +
      "replayed") {
    val rows = docSources.map { case (id, text, src) =>
      val sel1 = hexLong(md5hex(s"s1:$src").substring(0, 4)) % 5 < 2
      val sel2 = hexLong(md5hex(s"s2:$id").substring(0, 4)) % 4 == 0
      (src, text.split(" ", -1).length.toLong, sel1, sel2)
    }
    val trueTotal = rows.map(_._2).sum
    val estTotal = rows.filter(r => r._3 && r._4).map(_._2).sum * 10
    val expect = rows.groupBy(_._1).toSeq.map { case (src, xs) =>
      (src, xs.head._3, xs.length.toLong, xs.map(_._2).sum,
        xs.count(x => x._3 && x._4).toLong,
        xs.filter(x => x._3 && x._4).map(_._2).sum,
        trueTotal, estTotal,
        (estTotal - trueTotal) * 1000000L / trueTotal)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "sample_cluster_twostage")
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8))).toSeq
    assert(got == expect)
    // at least one source in, at least one out, and the HT estimate
    // is within 2x of truth at this tier
    assert(expect.exists(_._2) && expect.exists(!_._2))
    assert(estTotal > trueTotal / 2 && estTotal < trueTotal * 2)
  }

  test("win_rsi_sma: gains/losses windows replayed; RSI rational") {
    val expect = dailyCents4.keys.map(_._1).toSeq.distinct.sorted
      .flatMap { t =>
        val days = dailyCents4.filter(_._1._1 == t).toSeq
          .map { case ((_, d), c) => (d, c) }.sortBy(_._1.toString)
        val deltas = days.indices.map(i =>
          if (i == 0) 0L else days(i)._2 - days(i - 1)._2)
        days.indices.filter(_ >= 14).map { i =>
          val w = (i - 13) to i
          val gs = w.map(j => math.max(deltas(j), 0L)).sum
          val ls = w.map(j => math.max(-deltas(j), 0L)).sum
          val rsi = if (gs + ls == 0) None
            else Some(gs * 1000000L / (gs + ls))
          (t, days(i)._1.toString, gs, ls, rsi)
        }
      }
    val got = StaticResults.collected(spark, "win_rsi_sma")
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == expect)
    expect.flatMap(_._5).foreach(v => assert(v >= 0 && v <= 1000000L))
  }

  test("win_stochastic_osc: fortnight range position + %D replayed") {
    val expect = dailyCents4.keys.map(_._1).toSeq.distinct.sorted
      .flatMap { t =>
        val days = dailyCents4.filter(_._1._1 == t).toSeq
          .map { case ((_, d), c) => (d, c) }.sortBy(_._1.toString)
        val ks = days.indices.map { i =>
          val w = (math.max(0, i - 13) to i).map(days(_)._2)
          val lo = w.min; val hi = w.max
          if (hi == lo) None
          else Some((days(i)._2 - lo) * 1000000L / (hi - lo))
        }
        days.indices.filter(_ >= 15).map { i =>
          val d3 = for { a <- ks(i); b <- ks(i - 1); c <- ks(i - 2) }
            yield (a + b + c) / 3
          (t, days(i)._1.toString, ks(i), d3)
        }
      }
    val got = StaticResults.collected(spark, "win_stochastic_osc")
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got == expect)
  }

  test("ops_queueing_mm1: exact span/service fold + the rho/Lq/Wq " +
      "rationals replayed") {
    val expect = eventTypeRows.groupBy(_._2).toSeq.map { case (t, xs) =>
      val us = xs.map { e =>
        val i = e._1.toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      val n = xs.length.toLong
      val span = (us.max - us.min) / 1000L
      val svc = xs.map(e => cents4(e._3)).sum
      val mean = svc * 1000L / n
      val rho = if (span == 0) None else Some(svc * 1000000L / span)
      val lq = rho.filter(_ < 1000000L)
        .map(r => r * r / (1000000L - r))
      val wq = lq.map(l => l * span / (1000L * n))
      (t, n, span, mean, rho, lq, wq)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "ops_queueing_mm1")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSeq
    assert(got == expect)
    // a 30-day span with second-scale service must be UNDER-utilized
    expect.foreach(e => assert(e._5.exists(_ < 500000L), s"rho: $e"))
  }

  test("stats_friedman_test: within-day midranks replayed from the " +
      "complete matrix") {
    val types = eventTypeRows.map(_._2).distinct.sorted
    val days = eventTypeRows.map(e => eventDay(e._1)).distinct
    val counts = eventTypeRows.groupBy(e => (eventDay(e._1), e._2))
      .map { case (k, xs) => k -> xs.length.toLong }
    val k = types.length.toLong
    val n = days.length.toLong
    val r2 = types.map { t =>
      t -> days.map { day =>
        val me = counts.getOrElse((day, t), 0L)
        val all = types.map(u => counts.getOrElse((day, u), 0L))
        2 * all.count(_ < me).toLong + all.count(_ == me).toLong + 1
      }.sum
    }
    val sr2 = r2.map(x => BigInt(x._2) * x._2).sum
    val chi2 = (BigInt(3000000) * sr2 / (n * k * (k + 1)) -
      BigInt(3000000) * n * (k + 1)).toLong
    val expect = r2.map { case (t, r) =>
      (t, r, n, chi2, chi2 > 9487729L) }.sortBy(_._1).toSeq
    val got = StaticResults.collected(spark, "stats_friedman_test")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == expect)
    // doubled midrank sums over a complete k-treatment block design
    // must total n*k*(k+1)
    assert(r2.map(_._2).sum == n * k * (k + 1))
  }

  test("eval_krippendorff_alpha: coincidence algebra replayed with " +
      "missing ratings") {
    val boundaries = Seq((0, 40L, 70L), (1, 45L, 65L), (2, 35L, 75L))
    val cats = docSources.map { case (id, text, _) =>
      val ntok = text.split(" ", -1).length.toLong
      boundaries.map { case (i, lo, hi) =>
        if (md5hex(s"$id:kr$i").charAt(0) < 'd')
          Some(if (ntok < lo) 0 else if (ntok < hi) 1 else 2)
        else None
      }
    }.map(_.flatten).filter(_.length >= 2)
    val nd = cats.length.toLong
    val ntot = cats.map(_.length.toLong).sum
    val cs = (0 to 2).map(c => cats.map(_.count(_ == c).toLong).sum)
    val tt = cats.map { xs =>
      val m = xs.length.toLong
      val di = (0 to 2).map { c =>
        val nc = xs.count(_ == c).toLong; nc * (m - nc) }.sum
      if (m == 3) di else 2 * di
    }.sum
    val de2 = cs.map(c => c * (ntot - c)).sum
    val expect = Seq((nd, ntot, cs(0), cs(1), cs(2),
      tt * 1000000L / (2 * ntot), de2 * 1000000L / (ntot * (ntot - 1)),
      1000000L - tt * (ntot - 1) * 1000000L / (2 * de2)))
    val got = StaticResults.collected(spark, "eval_krippendorff_alpha")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expect)
    // all three categories populated, and rule-raters on the same
    // signal must agree far above chance
    assert(cs.forall(_ > 0))
    assert(expect.head._8 > 300000L)
  }

  test("multimodal_aspect_buckets: exact nearest-ratio argmin replayed") {
    val buckets = Seq((0L, "1:1", 1L, 1L), (1L, "4:3", 4L, 3L),
      (2L, "3:4", 3L, 4L), (3L, "16:9", 16L, 9L), (4L, "9:16", 9L, 16L))
    val picks = docSources.map { case (id, _, _) =>
      val w = 128L * (1 + hexLong(md5hex(s"w:$id").substring(0, 2)) % 12)
      val h = 128L * (1 + hexLong(md5hex(s"h:$id").substring(0, 2)) % 12)
      val best = buckets.minBy { case (idx, _, bn, bd) =>
        (math.abs(w * bd - h * bn) * (144 / bd), idx) }
      (best._1, best._2, w, h,
        math.abs(w * best._4 - h * best._3) * 1000000L / (h * best._4))
    }
    val expect = picks.groupBy(p => (p._1, p._2)).toSeq
      .map { case ((idx, nm), xs) =>
        (idx, nm, xs.length.toLong, xs.map(p => p._3 * p._4).sum,
          xs.map(_._5).sum / xs.length) }
      .sortBy(_._1)
    val got = StaticResults.collected(spark, "multimodal_aspect_buckets")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect)
    // the square bucket must absorb every w == h image exactly
    val squares = picks.count(p => p._3 == p._4)
    assert(expect.find(_._1 == 0L).exists(_._3 >= squares))
  }

  test("stats_bh_fdr: step-up replayed; rejections land only on " +
      "planted sources") {
    val rows = docSources.map { case (id, _, src) =>
      val planted = hexLong(md5hex(s"plant:$src").substring(0, 4)) % 5 == 0
      val base = hexLong(md5hex(s"bh:$id").substring(0, 4)) % 10 < 2
      val boost = hexLong(md5hex(s"bh2:$id").substring(0, 4)) % 10 < 5
      (src, planted, base || (planted && boost))
    }
    val bySrc = rows.groupBy(_._1).toSeq.map { case (src, xs) =>
      (src, xs.head._2, xs.length.toLong, xs.count(_._3).toLong) }
    val nn = bySrc.map(_._3).sum; val cc = bySrc.map(_._4).sum
    val m = bySrc.length.toLong
    val ps = bySrc.map { case (src, pl, n1, c1) =>
      val num = BigInt(c1 * (nn - n1) - (cc - c1) * n1)
      val z2 = (num * num * nn * 1000000 /
        (BigInt(n1) * (nn - n1) * cc * (nn - cc))).toLong
      val p = math.floor(math.exp(-z2.toDouble / 2000000) * 1000000).toLong
      (src, pl, n1, c1, p)
    }
    val ranked = ps.map { case (src, pl, n1, c1, p) =>
      val rank = 1L + ps.count(o => o._5 < p ||
        (o._5 == p && o._1 < src))
      (src, pl, n1, c1, p, rank)
    }
    val kmax = ranked.filter(r => r._5 * m <= r._6 * 100000L)
      .map(_._6).reduceOption(_ max _).getOrElse(0L)
    val expect = ranked.map(r =>
      (r._1, r._2, r._3, r._4, r._5, r._6, r._6 <= kmax)).sortBy(_._1)
    val got = StaticResults.collected(spark, "stats_bh_fdr")
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == expect)
    // ground truth: something is rejected, and ONLY planted sources
    val rejected = expect.filter(_._7)
    assert(rejected.nonEmpty)
    assert(rejected.forall(_._2), s"false rejection: $rejected")
  }

  test("ts_ewma_crossover: dyadic fast/slow sums + sign flips " +
      "replayed") {
    val expect = dailyCents4.keys.map(_._1).toSeq.distinct.sorted
      .map { t =>
        val days = dailyCents4.filter(_._1._1 == t).toSeq
          .map { case ((_, d), c) => (d, c) }.sortBy(_._1.toString)
        val sgn = days.indices.drop(7).map { i =>
          def c(k: Int) = days(i - k)._2
          val fast = (c(0) * 8 + c(1) * 4 + c(2) * 2 + c(3)) / 15
          val slow = (c(0) * 128 + c(1) * 64 + c(2) * 32 + c(3) * 16 +
            c(4) * 8 + c(5) * 4 + c(6) * 2 + c(7)) / 255
          (days(i)._1, fast.compare(slow).toLong)
        }
        val crosses = sgn.indices.drop(1).flatMap { j =>
          val (d, s) = sgn(j); val ps = sgn(j - 1)._2
          if (s == 1 && ps == -1) Some((d, "up"))
          else if (s == -1 && ps == 1) Some((d, "down")) else None
        }
        (t, sgn.length.toLong,
          crosses.count(_._2 == "up").toLong,
          crosses.count(_._2 == "down").toLong,
          crosses.headOption.map(_._1.toString))
      }
    val got = StaticResults.collected(spark, "ts_ewma_crossover")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDate(4).toString))).toSeq
    assert(got == expect)
  }

  private lazy val milliVecs: Map[Long, Array[Long]] =
    Tables.embeddings(spark, sfStatic).select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 1000).toLong)).toMap

  test("ann_pq_adc_recall: codebook assignment, ADC scan, and exact " +
      "top-10 replayed end to end") {
    val panel = (0L to 7L).filter(milliVecs.contains)
    def seg(v: Array[Long], s: Int): Array[Long] =
      v.slice(s * 16, s * 16 + 16)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // per (vec, subspace): nearest panel code by (d2, code)
    val codes = milliVecs.map { case (id, v) =>
      id -> (0 until 4).map { sp =>
        panel.map(c => (d2(seg(v, sp), seg(milliVecs(c), sp)), c))
          .minBy(x => (x._1, x._2))._2
      }
    }
    val expect = panel.map { q =>
      val qv = milliVecs(q)
      val exact = milliVecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (d2(qv, v), id) }
        .sortBy(identity).take(10).map(_._2).toSet
      val adcTop = codes.toSeq.filter(_._1 != q)
        .map { case (id, cs) =>
          val ad = (0 until 4).map(sp =>
            d2(seg(qv, sp), seg(milliVecs(cs(sp)), sp))).sum
          (ad, id)
        }.sortBy(identity).take(10).map(_._2).toSet
      val overlap = exact.intersect(adcTop).size.toLong
      (q, overlap, overlap * 1000000L / 10)
    }.toSeq
    val got = StaticResults.collected(spark, "ann_pq_adc_recall")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expect)
    // the compressed scan must beat random: mean recall over the
    // panel above 10% (random top-10 of 500 would give ~2%)
    assert(expect.map(_._2).sum * 10 >= expect.length)
  }

  test("sketch_ams_f2: signs, Z folds, and median-of-means replayed") {
    val freq = liRows.groupBy(_._4).map { case (k, xs) =>
      k -> xs.length.toLong }
    val f2 = freq.values.map(c => BigInt(c) * c).sum
    val zs = (0L until 16L).map { j =>
      freq.map { case (v, c) =>
        if (hexLong(md5hex(s"$j:$v").substring(0, 1)) % 2 == 0) c else -c
      }.sum
    }
    val ests = zs.map(z => BigInt(z) * z)
    val gms = (0 until 4).map(g =>
      (g.toLong, (ests.slice(g * 4, g * 4 + 4).sum / 4).toLong))
    val ranked = gms.map { case (g, me) =>
      (me, 1 + gms.count(o => o._2 < me || (o._2 == me && o._1 < g))) }
    val mom = ranked.filter(r => r._2 == 2 || r._2 == 3)
      .map(_._1).sum / 2
    val mean16 = (ests.sum / 16).toLong
    val expect = Seq((f2.toLong, mean16, mom,
      (BigInt(mom) - f2) * 1000000 / f2)).map(t =>
      (t._1, t._2, t._3, t._4.toLong))
    val got = StaticResults.collected(spark, "sketch_ams_f2")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    // an unbiased F2 sketch at 16 functions lands within 100%
    assert(math.abs(expect.head._4) < 1000000L)
  }

  test("agg_geometric_harmonic: AM >= GM >= HM replayed") {
    val expect = liRows.map(r => (r._1,
        (BigDecimal(r._2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          * 1000).toLongExact))
      .filter(_._2 > 0)
      .groupBy(_._1).toSeq.map { case (f, xs) =>
        val n = xs.length.toLong
        val sq = xs.map(_._2).sum
        val sl = xs.map(x =>
          math.floor(math.log(x._2.toDouble) * 1000000).toLong).sum
        val sr = xs.map(x => 1000000000000L / x._2).sum
        (f, n, sq / n,
          math.floor(math.exp((sl / n).toDouble / 1000000)).toLong,
          (BigInt(n) * 1000000000000L / sr).toLong)
      }.sortBy(_._1)
    val got = StaticResults.collected(spark, "agg_geometric_harmonic")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect)
    expect.foreach { e =>
      assert(e._3 >= e._4 && e._4 >= e._5, s"AM>=GM>=HM violated: $e")
    }
  }

  test("mix_entropy_effective_domains: quantized Shannon fold " +
      "replayed") {
    val counts = docSources.groupBy(_._3).map { case (_, xs) =>
      xs.length.toLong }.toSeq
    val m = counts.length.toLong
    val nd = counts.sum
    val snl = counts.map(c =>
      c * math.floor(math.log(c.toDouble) * 1000000).toLong).sum
    val h = math.floor(math.log(nd.toDouble) * 1000000).toLong - snl / nd
    val eff = math.floor(math.exp(h.toDouble / 1000000) * 1000).toLong
    val hn = if (m == 1) None
      else Some(h * 1000000L /
        math.floor(math.log(m.toDouble) * 1000000).toLong)
    val expect = Seq((nd, m, h, eff, hn))
    val got = StaticResults.collected(spark, "mix_entropy_effective_domains")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == expect)
    // 0 <= H <= ln m, and the Hill number cannot exceed m
    assert(h >= 0 && eff <= m * 1000 + 1)
  }

  test("graph_rich_club: top-degree double-semijoin density replayed") {
    val orders = Tables.orders(spark, sfStatic).select(col("o_orderkey"),
        col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val eb = liRows.flatMap(l => orders.get(l._3).map(ck => (ck, l._5)))
      .distinct
    val topc = eb.groupBy(_._1).map { case (k, xs) =>
      (k, xs.length.toLong) }.toSeq
      .sortBy { case (k, dg) => (-dg, k) }.take(20).map(_._1).toSet
    val tops = eb.groupBy(_._2).map { case (k, xs) =>
      (k, xs.length.toLong) }.toSeq
      .sortBy { case (k, dg) => (-dg, k) }.take(20).map(_._1).toSet
    val nCust = eb.map(_._1).distinct.length.toLong
    val nSupp = eb.map(_._2).distinct.length.toLong
    val nEdges = eb.length.toLong
    val rich = eb.count(e => topc(e._1) && tops(e._2)).toLong
    val rd = rich * 1000000L / 400
    val od = nEdges * 1000000L / (nCust * nSupp)
    val expect = Seq((nCust, nSupp, nEdges, rich, 400L, rd, od,
      rd * 1000 / od))
    val got = StaticResults.collected(spark, "graph_rich_club")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(got == expect)
    assert(rich > 0 && rich <= 400)
  }

  test("privacy_laplace_histogram: inverse-CDF noise replayed; " +
      "noise is bounded and sign-balanced with u") {
    val expect = docLangs.groupBy(_._2).toSeq.map { case (lang, xs) =>
      val n = xs.length.toLong
      val u = hexLong(md5hex(s"lap:$lang").substring(0, 8)) % 1000000L
      val sign = if (u + u >= 1000000L) -1.0 else 1.0
      val noise = math.floor(sign *
        math.log(1 - 2 * math.abs((u + 0.5) / 1000000.0 - 0.5)) *
        1000000).toLong
      (lang, n, u, noise, n * 1000000L + noise, math.abs(noise),
        1000000L)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "privacy_laplace_histogram")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect)
    // u > 1/2 must give positive noise (right tail), u < 1/2 negative
    expect.foreach { e =>
      if (e._3 + e._3 >= 1000000L) assert(e._4 >= 0) else assert(e._4 <= 0)
    }
  }

  test("corpus_simpson_diversity: exact collision probability " +
      "replayed per language") {
    val expect = docLangs.groupBy(_._2).toSeq.map { case (lang, xs) =>
      val toks = xs.flatMap(_._3.split(" ", -1)).filter(_.nonEmpty)
      val freq = toks.groupBy(identity).map(_._2.length.toLong)
      val n = toks.length.toLong
      val s2 = freq.map(c => BigInt(c) * (c - 1)).sum
      (lang, freq.size.toLong, n,
        (s2 * 1000000 / (BigInt(n) * (n - 1))).toLong,
        (BigInt(1000000) - s2 * 1000000 / (BigInt(n) * (n - 1))).toLong,
        (BigInt(n) * (n - 1) * 1000 / s2).toLong)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "corpus_simpson_diversity")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // inverse Simpson (Hill-2) cannot exceed the type count
    expect.foreach(e => assert(e._6 <= e._2 * 1000))
  }

  test("stats_bartlett: fixed-order variance/log fold replayed") {
    val ev = eventTypeRows.map(e => (e._2, cents4(e._3)))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val stats = types.map { t =>
      val xs = ev.filter(_._1 == t).map(x => BigInt(x._2))
      val n = xs.length.toLong
      val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
      // milli-quantized variance: integer ln arguments (protocol)
      (n, ((BigInt(n) * s2 - s1 * s1) * 1000 /
        (BigInt(n) * (n - 1))).toLong)
    }
    val nn = stats.map(_._1).sum
    val sp2 = stats.map { case (n, v) => BigInt(n - 1) * v }.sum /
      (nn - 5)
    val sl = stats.map { case (n, v) =>
      (n - 1) * round6(math.log(v.toDouble)) }.sum
    val sr = stats.map { case (n, _) => 1.0 / (n - 1) }.sum
    val chi2 = math.floor(
      ((nn - 5) * round6(math.log(sp2.toDouble)) - sl) /
        (1 + (sr - 1.0 / (nn - 5)) / 12) * 1000000).toLong
    val got = StaticResults.collected(spark, "stats_bartlett")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got == Seq((nn, 5L, chi2, chi2 > 9487729L)))
    // the x1000 ln offsets must cancel: chi2 of the milli spelling
    // equals the raw-variance chi2 up to the floor quantization
    val rawV = types.map { t =>
      val xs = ev.filter(_._1 == t).map(x => BigInt(x._2))
      val n = xs.length.toLong
      val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
      (n, (BigInt(n) * s2 - s1 * s1).toDouble / (n.toDouble * (n - 1)))
    }
    val rawChi2 = ((nn - 5) * math.log(
      rawV.map { case (n, v) => (n - 1) * v }.sum / (nn - 5)) -
      rawV.map { case (n, v) => (n - 1) * math.log(v) }.sum) /
      (1 + (sr - 1.0 / (nn - 5)) / 12) * 1000000
    assert(math.abs(chi2 - rawChi2) < 2000, s"$chi2 vs $rawChi2")
  }

  test("dedup_cluster_purity: token-set fingerprint clusters " +
      "replayed") {
    val expect = docLangs.groupBy { d =>
      d._3.split(" ", -1).distinct.sorted.mkString(" ")
    }.toSeq.map { case (_, xs) =>
      val sz = xs.length.toLong
      val maxc = xs.groupBy(_._2).values.map(_.length).max.toLong
      (sz, maxc * 1000000L / sz)
    }.groupBy { case (sz, _) =>
      if (sz == 1) "1" else if (sz == 2) "2" else if (sz <= 4) "3-4"
      else if (sz <= 8) "5-8" else "9+"
    }.toSeq.map { case (b, xs) =>
      (b, xs.length.toLong, xs.map(_._1).sum,
        xs.map(_._2).sum / xs.length)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "dedup_cluster_purity")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    // the fixture's near-duplicates must actually cluster: some
    // bucket beyond singletons exists, and singleton purity is 1
    assert(expect.exists(_._1 != "1"))
    assert(expect.find(_._1 == "1").forall(_._4 == 1000000L))
  }

  test("ts_poisson_dispersion: complete-matrix dispersion rational " +
      "replayed") {
    val types = eventTypeRows.map(_._2).distinct.sorted
    val days = eventTypeRows.map(e => eventDay(e._1)).distinct
    val counts = eventTypeRows.groupBy(e => (eventDay(e._1), e._2))
      .map { case (k, xs) => k -> xs.length.toLong }
    val expect = types.map { t =>
      val cs = days.map(day => counts.getOrElse((day, t), 0L))
      val n = cs.length.toLong
      val sc = cs.sum
      val scc = cs.map(c => BigInt(c) * c).sum
      val num = BigInt(n) * scc - BigInt(sc) * sc
      val disp = (num * 1000 / ((n - 1) * BigInt(sc))).toLong
      (t, n, sc * 1000 / n, disp, (num * 1000000 / BigInt(sc)).toLong,
        disp > 1500L, disp < 500L)
    }.toSeq
    val got = StaticResults.collected(spark, "ts_poisson_dispersion")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
      .toSeq
    assert(got == expect)
    // dispersion is defined and positive for every type at this tier
    expect.foreach(e => assert(e._4 > 0))
  }

  test("report_theil_between_within: the decomposition replayed and " +
      "additivity pinned") {
    val orders = Tables.orders(spark, sfStatic).select(col("o_custkey"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5)
        .toLong))
    val custNation = Tables.customer(spark, sfStatic).select(col("c_custkey"),
        col("c_nationkey")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val nationRegion = Tables.nation(spark, sfStatic).select(col("n_nationkey"),
        col("n_regionkey")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    val regionName = Tables.region(spark, sfStatic).select(col("r_regionkey"),
        col("r_name")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    val custRev = orders.groupBy(_._1).toSeq.flatMap { case (ck, xs) =>
      custNation.get(ck).map { nk =>
        (regionName(nationRegion(nk)), xs.map(_._2).sum) }
    }
    val nn = custRev.length.toLong
    val ss = custRev.map(_._2).sum
    def theilFold(xs: Seq[Long], n: Long, sTot: Long): Long = {
      val terms = xs.map { x =>
        val r = (x * n).toDouble / sTot
        math.floor(r * math.log(r) * 1000000).toLong
      }
      terms.sum / n
    }
    val tTotal = theilFold(custRev.map(_._2), nn, ss)
    val per = custRev.groupBy(_._1).toSeq.map { case (rg, xs) =>
      val nr = xs.length.toLong
      val sr = xs.map(_._2).sum
      val tw = theilFold(xs.map(_._2), nr, sr)
      val bt = math.floor((sr.toDouble / ss) *
        math.log(sr.toDouble * nn / (ss.toDouble * nr)) * 1000000).toLong
      val ww = (BigInt(sr) * tw / ss).toLong
      (rg, nr, sr, tw, bt, ww)
    }.sortBy(_._1)
    val tB = per.map(_._5).sum; val tW = per.map(_._6).sum
    val expect = per.map(p =>
      (p._1, p._2, p._3, p._4, p._5, p._6, tTotal, tB, tW))
    val got = StaticResults.collected(spark, "report_theil_between_within")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toSeq
    assert(got == expect)
    // Theil's defining property: total = between + within, up to the
    // per-row floor quantization
    assert(math.abs(tTotal - (tB + tW)) < 1000L,
      s"additivity: $tTotal vs ${tB + tW}")
  }

  test("ts_parkinson_volatility: daily log-range fold replayed") {
    val expect = eventTypeRows.groupBy(e => (e._2, eventDay(e._1))).toSeq
      .map { case ((t, _), xs) =>
        (t, xs.map(e => cents4(e._3)).max, xs.map(e => cents4(e._3)).min)
      }.filter(x => x._3 > 0 && x._2 > x._3)
      .groupBy(_._1).toSeq.map { case (t, ds) =>
        val terms = ds.map { case (_, h, l) =>
          val lr = math.log(h.toDouble / l)
          math.floor(lr * lr * 1000000).toLong
        }
        val n = ds.length.toLong
        val st = terms.sum
        (t, n, st / n, st * 1000000L / n / 2772588L)
      }.sortBy(_._1)
    val got = StaticResults.collected(spark, "ts_parkinson_volatility")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    expect.foreach(e => assert(e._4 >= 0))
  }

  test("corpus_source_kl: per-source divergence replayed; KL " +
      "nonnegative up to floors") {
    val st = docSources.flatMap(d => d._2.split(" ", -1).filter(_.nonEmpty)
      .map(t => (d._3, t)))
    val freq = st.groupBy(identity).map { case (k, xs) =>
      k -> xs.length.toLong }
    val ct = st.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val nn = st.length.toLong
    val expect = st.map(_._1).distinct.sorted.map { src =>
      val mine = freq.filter(_._1._1 == src)
      val ns = mine.values.sum
      val kl = mine.map { case ((_, t), c) =>
        math.floor((c.toDouble / ns) *
          math.log(c.toDouble * nn / (ns.toDouble * ct(t))) * 1000000)
          .toLong
      }.sum
      (src, ns, mine.size.toLong, kl)
    }
    val got = StaticResults.collected(spark, "corpus_source_kl")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect)
    expect.foreach(e => assert(e._4 >= -e._3, s"KL < -types: $e"))
  }

  test("events_hill_tail_index: top-50 order statistics replayed") {
    val byUser = Tables.events(spark, sfStatic).select(col("user_id"))
      .collect().map(_.getLong(0)).groupBy(identity)
      .map { case (u, xs) => (u, xs.length.toLong) }.toSeq
    val top = byUser.sortBy { case (u, c) => (-c, u) }.take(50)
    val ranked = top.map { case (u, c) =>
      (u, c, 1 + top.count { case (bu, bc) =>
        bc > c || (bc == c && bu < u) })
    }
    val k = ranked.map(_._3).max.toLong
    val xk = ranked.filter(_._3 == k).map(_._2).max
    val head = ranked.filter(_._3 < k)
    val sl = head.map(x =>
      math.floor(math.log(x._2.toDouble) * 1000000).toLong).sum
    val inv = sl / head.length -
      math.floor(math.log(xk.toDouble) * 1000000).toLong
    val alpha = if (inv <= 0) None else Some(1000000000L / inv)
    val expect = Seq((byUser.length.toLong, k, xk, inv, alpha))
    val got = StaticResults.collected(spark, "events_hill_tail_index")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == expect)
    // activity counts are heavy-ish tailed but finite: alpha defined
    assert(alpha.nonEmpty && alpha.get > 0)
  }

  test("corpus_mattr_windowed: global token positions + 50-token " +
      "windows replayed") {
    val expect: Seq[(String, Long, Long)] =
      docLangs.map(_._2).distinct.sorted.toSeq.flatMap { lang =>
      val stream = docLangs.filter(_._2 == lang).sortBy(_._1)
        .flatMap(d => d._3.split(" ", -1).filter(_.nonEmpty))
      val wins = stream.grouped(50).filter(_.length == 50).toSeq
      if (wins.isEmpty) None
      else {
        val types = wins.map(_.distinct.length.toLong).sum
        Some((lang, wins.length.toLong,
          types * 1000000L / (wins.length * 50L)))
      }
    }
    val got = StaticResults.collected(spark, "corpus_mattr_windowed")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expect)
    // MATTR is a share of the window size
    expect.foreach(e => assert(e._3 > 0 && e._3 <= 1000000L))
  }

  test("agg_trimmed_mean: full sort-and-slice, independent of the " +
      "histogram-overlap spelling") {
    val rows = Tables.lineitem(spark, sfStatic)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), cents(r.getDouble(1)))).toSeq
    val expect = rows.groupBy(_._1).toSeq.map { case (f, xs) =>
      val vs = xs.map(_._2).sorted
      val n = vs.length.toLong
      val k = n / 10
      val kept = vs.slice(k.toInt, (n - k).toInt)
      val sall = vs.map(BigInt(_)).sum
      val skept = kept.map(BigInt(_)).sum
      (f, n, k, (sall / n).toLong, (skept / (n - 2 * k)).toLong)
    }.sortBy(_._1)
    val got = StaticResults.collected(spark, "agg_trimmed_mean")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
    // trimming a right-skewed money column must not RAISE the mean
    // by much; sanity: trimmed mean within 50% of the mean
    expect.foreach { e =>
      assert(math.abs(e._5 - e._4) * 2 <= e._4, s"implausible trim: $e")
    }
  }
}
