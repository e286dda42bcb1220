package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 twelfth-batch additions
  * (source overlap matrix, peak concurrency, runs test), checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle.
  */
class R12lOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val keys =
    Seq("corpus_source_overlap", "events_peak_concurrency", "stats_runs_test")

  test("every r12l key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("corpus_source_overlap: 3-gram Jaccard recomputes from driver-side sets") {
    val rows = CorpusOps.corpusSourceOverlap.run(spark, sf).collect()
    val sets = Tables.documents(spark, sf)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
      .groupBy(_._1).map { case (src, docs) =>
        (src, docs.flatMap(_._2.sliding(3).filter(_.size == 3)
          .map(_.mkString(" "))).toSet)
      }
    val srcs = sets.keySet.toSeq.sorted
    assert(rows.length == srcs.size * (srcs.size - 1) / 2,
      "every unordered source pair must be present")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, "pairs are canonically ordered")
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa intersect sb).size.toLong
      assert(r.getLong(2) == sa.size.toLong && r.getLong(3) == sb.size.toLong)
      assert(r.getLong(4) == inter, s"($a,$b) intersection")
      assert(r.getLong(5) ==
        inter * 1000000L / (sa.size + sb.size - inter), s"($a,$b) jaccard")
    }
    // discriminative: the matrix must not be all-ones or all-zeros
    val js = rows.map(_.getLong(5))
    assert(js.min < js.max, "degenerate Jaccard matrix")
  }

  test("events_peak_concurrency: peak recomputes from a driver-side sweep") {
    val r = EventAnalytics.eventsPeakConcurrency.run(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    // rebuild sessions driver-side: 30-min-gap islands per user
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("second", col("ts")).cast("long")
        .as("sec"), col("event_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1)
    val intervals = byUser.values.flatMap { es =>
      val secs = es.sortBy(e => (e._2, e._3)).map(_._2)
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var start = secs.head; var last = secs.head
      secs.tail.foreach { s0 =>
        if (s0 - last > 1800) { sessions += ((start, last + 1800)); start = s0 }
        last = s0
      }
      sessions += ((start, last + 1800))
      sessions
    }.toSeq
    assert(row.getLong(0) == intervals.size.toLong, "session count")
    val deltas = intervals.flatMap { case (a, b) => Seq((a, 1L), (b, -1L)) }
      .groupBy(_._1).map { case (sec, ds) => (sec, ds.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    var run = 0L; var peak = -1L; var at = 0L
    deltas.foreach { case (sec, d0) =>
      run += d0
      if (run > peak) { peak = run; at = sec }
    }
    assert(row.getLong(1) == peak, s"peak ${row.getLong(1)} != $peak")
    assert(row.getLong(2) == at, s"at_sec ${row.getLong(2)} != $at")
    assert(peak >= 1L && peak <= intervals.size.toLong)
  }

  test("stats_runs_test: runs and z recompute from a driver-side walk") {
    val rows = DriftOps.statsRunsTest.run(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1995, 1996))
    val daily = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .as("cents"))
      .collect().map(x => (x.getInt(0), x.getDate(1).toLocalDate, x.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val series = daily(r.getInt(0)).sortBy(_._2.toEpochDay)
      val sorted = series.map(_._3).sorted
      val med = sorted((sorted.size - 1) / 2)
      val sides = series.filter(_._3 != med).map(x => x._3 > med)
      val na = sides.count(identity).toLong
      val nb = sides.size.toLong - na
      val nRuns = 1L + sides.toSeq.sliding(2).count {
        case Seq(x, y) => x != y
        case _ => false
      }
      assert((r.getLong(1), r.getLong(2)) == ((na, nb)))
      assert(r.getLong(3) == nRuns, s"yr ${r.getInt(0)} runs")
      assert(r.getLong(4) == 1000L + 2000L * na * nb / (na + nb))
      val mu = 1 + 2.0 * na * nb / (na + nb)
      val varr = 2.0 * na * nb * (2.0 * na * nb - na - nb) /
        ((na + nb).toDouble * (na + nb) * (na + nb - 1))
      val z = (nRuns.toDouble - mu) / math.sqrt(varr)
      assert(r.getLong(5) == math.floor(z * 1000 + 0.5).toLong,
        s"yr ${r.getInt(0)} z")
    }
  }
}
