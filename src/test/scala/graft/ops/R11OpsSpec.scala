package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-11 additions, checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle, so a systematic cross-engine bug can't hide a wrong
  * formulation (the R5OpsSpec discipline).
  */
class R11OpsSpec extends SparkSpec {

  private val r11Keys = Seq(
    "fn_bitwise", "agg_argminmax", "agg_bitmap_distinct", "win_fill_locf",
    "win_interpolate_linear", "join_interval_overlap", "join_asof_tolerance",
    "cooccur_pmi", "text_ngram_novelty", "profile_documents",
    "multimodal_frame_sample")

  test("every r11 key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, r11Keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("fn_bitwise: every op recomputes in plain JVM long arithmetic") {
    val rows = StaticResults.collected(spark, "fn_bitwise")
    assert(rows.length == Tables.events(spark, sfStatic).count())
    rows.foreach { r =>
      val id = r.getLong(0); val bxor = r.getLong(3)
      assert(r.getLong(1) == (id & 255L))
      assert(r.getLong(2) == (id | 4096L))
      assert(r.getLong(4) == ~id)
      assert(r.getLong(5) == (id << 3))
      assert(r.getLong(6) == (id >> 2))
      assert(r.getInt(7) == java.lang.Long.bitCount(id))
      assert(r.getBoolean(8) == (id != 0 && (id & (id - 1)) == 0))
      // xor is against user_id, not carried in the output — verify
      // it's an involution consistent with the carried event_id.
      assert((bxor ^ id) >= 0, "user_id is non-negative by fixture contract")
    }
  }

  test("agg_argminmax: arg rows really carry the group's price extrema") {
    val rows = StaticResults.collected(spark, "agg_argminmax")
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("tp"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val byPri = orders.groupBy(_._1)
    assert(rows.length == byPri.size)
    rows.foreach { r =>
      val (pri, maxOrder, minOrder) = (r.getString(0), r.getLong(1), r.getLong(2))
      val grp = byPri(pri)
      // unique composite (cents, orderkey) — recompute the argmax the
      // slow way and demand the exact same order id.
      def key(t: (String, Long, java.math.BigDecimal)): (java.math.BigDecimal, Long) =
        (t._3, t._2)
      implicit val ord: Ordering[(java.math.BigDecimal, Long)] =
        Ordering.Tuple2(Ordering.comparatorToOrdering(
          java.util.Comparator.naturalOrder[java.math.BigDecimal]()), Ordering.Long)
      assert(maxOrder == grp.maxBy(key)._2)
      assert(minOrder == grp.minBy(key)._2)
      // extrema now leave as exact cents BIGINT (D2/D12, r12)
      assert(r.getLong(3) == grp.map(_._3).max(
        Ordering.comparatorToOrdering(java.util.Comparator.naturalOrder[java.math.BigDecimal]()))
        .movePointRight(2).longValueExact())
      assert(r.getLong(5) == grp.length)
    }
  }

  test("win_fill_locf: fill equals raw on observed days and never invents values") {
    val rows = StaticResults.collected(spark, "win_fill_locf")
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val seq = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
      // cents BIGINT since r12 (D2/D12 — no raw DECIMAL in output)
      var lastObs: java.lang.Long = null
      var lastObsDay: Long = -1
      seq.foreach { r =>
        val raw: java.lang.Long = if (r.isNullAt(2)) null else r.getLong(2)
        val filled: java.lang.Long = if (r.isNullAt(3)) null else r.getLong(3)
        if (raw != null) { lastObs = raw; lastObsDay = r.getDate(1).toLocalDate.toEpochDay }
        if (lastObs == null) assert(filled == null, "no fill before first observation")
        else assert(filled == lastObs, "LOCF carries the last observation")
        if (lastObs != null) {
          val staleness = r.getDate(1).toLocalDate.toEpochDay - lastObsDay
          assert(!r.isNullAt(4) && r.getInt(4).toLong == staleness)
          if (raw != null) assert(r.getInt(4) == 0)
        } else assert(r.isNullAt(4))
      }
    }
  }

  test("join_interval_overlap: exact match vs a naive all-pairs recomputation") {
    val rows = StaticResults.collected(spark, "join_interval_overlap")
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val purchases = Tables.events(spark, sfStatic)
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val naive = purchases.groupBy(t => (t._1, t._2)).map { case ((day, u), es) =>
      (day, u, es.map(_._3).min, es.map(_._3).max)
    }.toSeq.groupBy(_._1).flatMap { case (day, ivs) =>
      val pairs = for {
        a <- ivs; b <- ivs
        if a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
      } yield math.min(a._4, b._4) - math.max(a._3, b._3)
      if (pairs.isEmpty) None
      else Some(day -> (pairs.size.toLong, pairs.sum))
    }
    assert(rows == naive, "day-blocked join must equal the naive all-pairs result")
  }

  test("cooccur_pmi: pair counts match a set-based recomputation; pmi bounded") {
    val rows = StaticResults.collected(spark, "cooccur_pmi")
    val docs = Tables.documents(spark, sfStatic).select(col("text")).collect()
      .map(_.getString(0).split(" ").distinct.sorted)
    val nd = docs.length.toLong
    val ca = docs.flatten.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val cab = docs.flatMap { t =>
      for (i <- t.indices; j <- i + 1 until t.length) yield (t(i), t(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    assert(rows.length == cab.size)
    rows.foreach { r =>
      val (ta, tb, c) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(ta < tb, "pairs are canonically ordered")
      assert(cab((ta, tb)) == c)
      assert(c <= math.min(ca(ta), ca(tb)), "co-occurrence is bounded by marginals")
      val expected = math.floor(
        math.log(c.toDouble * nd / (ca(ta) * ca(tb))) * 1000 + 0.5).toLong
      assert(r.getLong(3) == expected)
    }
  }

  test("agg_bitmap_distinct: popcount equals the COUNT DISTINCT self-check") {
    val rows = StaticResults.collected(spark, "agg_bitmap_distinct")
    assert(rows.nonEmpty)
    val expected = Tables.events(spark, sfStatic)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .groupBy(_.getLong(0))
      .map { case (u, ds) => u -> ds.map(_.getDate(1).toLocalDate.toEpochDay).toSet }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (u, bitmap, n) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(java.lang.Long.bitCount(bitmap) == n)
      assert(r.getLong(3) == n.toLong, "bitmap popcount vs COUNT(DISTINCT)")
      val epoch0 = java.time.LocalDate.parse("2024-01-01").toEpochDay
      val fromBitmap = (0 until 63).filter(b => (bitmap & (1L << b)) != 0)
        .map(_ + epoch0).toSet
      assert(fromBitmap == expected(u).map(_.toInt), "bitmap decodes to the day set")
    }
  }

  test("win_interpolate_linear: anchors exact, interior points on the line") {
    val rows = StaticResults.collected(spark, "win_interpolate_linear")
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val seq = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
      val obs = seq.zipWithIndex.filter(!_._1.isNullAt(2))
      seq.zipWithIndex.foreach { case (r, i) =>
        if (!r.isNullAt(2)) assert(r.getLong(3) == r.getLong(2), "observed day is its own anchor")
        else {
          val prev = obs.takeWhile(_._2 < i).lastOption
          val next = obs.dropWhile(_._2 < i).headOption
          (prev, next) match {
            case (Some((p, pi)), Some((n, ni))) =>
              val pc = p.getLong(2); val nc = n.getLong(2)
              val want = pc + math.floor((nc - pc).toDouble * (i - pi) / (ni - pi)).toLong
              assert(!r.isNullAt(3) && r.getLong(3) == want, "interior point lies on the line")
            case _ => assert(r.isNullAt(3), "no extrapolation outside the anchors")
          }
        }
      }
    }
  }

  test("text_ngram_novelty: equals a string-shingle first-seen recomputation") {
    val rows = StaticResults.collected(spark, "text_ngram_novelty")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
      .filter(_._2.length >= 3)
      .map { case (id, t) =>
        id -> t.sliding(3).map(_.mkString(" ")).toArray.distinct
      }.sortBy(_._1)
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    val expect = docs.map { case (id, gs) =>
      gs.foreach(g => if (!firstSeen.contains(g)) firstSeen(g) = id)
      id -> (gs.length.toLong, gs.count(g => firstSeen(g) == id).toLong)
    }.toMap
    assert(rows == expect,
      "hashed-shingle novelty must equal the string-shingle recomputation " +
        "(also certifies collision-freedom at fixture scale)")
  }

  test("profile_documents: one row, fields recompute from the table") {
    val r = StaticResults.collected(spark, "profile_documents") match {
      case Array(only) => only
    }
    val docs = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect()
    val nDocs = docs.length.toLong
    val nDistinct = docs.map(_.getString(1)).distinct.length.toLong
    assert(r.getLong(0) == nDocs)
    assert(r.getLong(1) == nDistinct)
    assert(r.getLong(2) == (nDocs - nDistinct) * 1000000L / nDocs)
    assert(r.getLong(3) == docs.map(_.getString(2)).distinct.length.toLong)
    assert(r.getLong(4) == docs.map(_.getString(3)).distinct.length.toLong)
    val total = docs.map(_.getLong(4)).sum
    assert(r.getLong(5) == total)
    assert(r.getLong(6) == total * 1000000L / nDocs)
    assert(r.getLong(7) == docs.map(_.getLong(0)).min)
    assert(r.getLong(8) == docs.map(_.getLong(0)).max)
  }

  test("join_asof_tolerance: agrees with the base as-of join, gated at 600 s") {
    val base = StaticResults.collected(spark, "join_asof_event")
      .map { r =>
        val click = if (r.isNullAt(3)) None
          else Some(r.getTimestamp(3).getTime / 1000)
        r.getLong(0) -> (r.getTimestamp(2).getTime / 1000, click)
      }.toMap
    val rows = StaticResults.collected(spark, "join_asof_tolerance")
    assert(rows.length == base.size, "same purchase set as the base as-of key")
    rows.foreach { r =>
      val (pSec, baseClick) = base(r.getLong(0))
      assert(r.getLong(2) == pSec)
      baseClick match {
        case Some(c) if pSec - c <= 600 =>
          assert(!r.isNullAt(3) && r.getLong(3) == c)
          assert(r.getLong(4) == pSec - c && r.getLong(4) >= 0)
        case _ =>
          assert(r.isNullAt(3) && r.isNullAt(4), "stale or absent matches are rejected")
      }
    }
  }

  test("multimodal_frame_sample: uniform grid covers [0, n_frames) endpoint-inclusive") {
    val rows = StaticResults.collected(spark, "multimodal_frame_sample")
    val meta = Tables.documents(spark, sfStatic)
      .select(col("doc_id"), col("n_chars")).collect()
      .map { r =>
        val id = r.getLong(0); val fps = 24 + (id % 3) * 6
        id -> (fps, r.getLong(1) * 40 * fps / 1000)
      }.toMap
    rows.groupBy(_.getLong(0)).foreach { case (docId, rs) =>
      val (fps, nFrames) = meta(docId)
      val ns = math.min(8L, nFrames)
      val seq = rs.sortBy(_.getLong(1))
      assert(seq.length == ns)
      assert(seq.map(_.getLong(1)).toSeq == (0L until ns))
      val idx = seq.map(_.getLong(2))
      assert(idx.head == 0L)
      if (ns > 1) assert(idx.last == nFrames - 1, "grid is endpoint-inclusive")
      assert(idx.zip(idx.tail).forall { case (a, b) => a <= b })
      seq.foreach { r =>
        assert(r.getLong(2) < nFrames)
        assert(r.getLong(3) == r.getLong(2) * 1000 / fps)
      }
    }
  }
}
