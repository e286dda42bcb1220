package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._
import Replay._

/** Semantic invariants of the round-12 thirteenth-batch additions
  * (PQ codes, nested-parquet roundtrip, char coverage), checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle.
  */
class R12mOpsSpec extends SparkSpec {

  private val keys =
    Seq("sim_pq_codes", "source_parquet_nested", "vocab_char_coverage")

  test("every r12m key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("sim_pq_codes: assignments recompute from a driver-side codebook walk") {
    val rows = StaticResults.collected(spark, "sim_pq_codes")
    val vecs = Tables.embeddings(spark, sfStatic)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000).toLong)))
      .toMap
    val seeds = (0L to 7L).map(c => c -> vecs(c)).toMap
    // per (vector, subspace): nearest seed sub-vector, ties to min code
    val assigned = for {
      (vid, q) <- vecs.toSeq; s <- 0 until 4
    } yield {
      val d2 = seeds.map { case (c, sv) =>
        val d = (s * 16 until (s + 1) * 16)
          .map(i => { val x = q(i) - sv(i); x * x }).sum
        (c, d)
      }
      val best = d2.minBy { case (c, d) => (d, c) }
      ((s, best._1.toInt), best._2)
    }
    val expect = assigned.groupBy(_._1).map { case (k, xs) =>
      (k, (xs.size.toLong, xs.map(_._2).sum))
    }
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, d) = expect((r.getInt(0), r.getInt(1)))
      assert((r.getLong(2), r.getLong(3)) == ((n, d)),
        s"subspace ${r.getInt(0)} code ${r.getInt(1)}")
    }
    // every (vector, subspace) pair gets exactly one code
    assert(rows.map(_.getLong(2)).sum == vecs.size.toLong * 4)
    // a seed's own subspace residual is zero, so every subspace has
    // at least one zero-distance population
    (0 until 4).foreach { s =>
      assert(rows.filter(_.getInt(0) == s).map(_.getLong(3)).min >= 0L)
    }
  }

  test("source_parquet_nested: rollup matches the flat tables; empty arrays survive") {
    val rows = StaticResults.collected(spark, "source_parquet_nested")
    val cust = Tables.customer(spark, sfStatic)
      .select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val orders = Tables.orders(spark, sfStatic)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).toSeq) }
    val bySeg = cust.groupBy(_._2)
    assert(rows.map(_.getString(0)).toSet == bySeg.keySet)
    rows.foreach { r =>
      val cs = bySeg(r.getString(0)).map(_._1).toSeq
      val os = cs.flatMap(c => orders.getOrElse(c, Seq.empty[Long]))
      assert(r.getLong(1) == cs.size.toLong, s"${r.getString(0)} customers")
      assert(r.getLong(2) == os.size.toLong, s"${r.getString(0)} orders")
      assert(r.getLong(3) == os.sum, s"${r.getString(0)} cents")
    }
    // customer count must survive even for customers with zero orders
    assert(rows.map(_.getLong(1)).sum == cust.length.toLong)
  }

  test("vocab_char_coverage: monotone, bounded, top-8 recomputes exactly") {
    val rows = StaticResults.collected(spark, "vocab_char_coverage")
      .sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(8, 16, 32, 64))
    val freqs = Tables.documents(spark, sfStatic)
      .select(col("text")).collect().flatMap(_.getString(0))
      .groupBy(identity).map { case (c, o) => (c.toString, o.length.toLong) }
      .toSeq
    val total = freqs.map(_._2).sum
    val sorted = freqs.sortBy { case (c, f) => (-f, c) }
    rows.foreach { r =>
      val top = sorted.take(r.getInt(0))
      assert(r.getLong(1) == top.length.toLong)
      assert(r.getLong(2) == top.map(_._2).sum, s"N=${r.getInt(0)} mass")
      assert(r.getLong(3) == top.map(_._2).sum * 1000000L / total)
    }
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b.getLong(2) >= a.getLong(2), "coverage must be nondecreasing")
      case _ => ()
    }
    assert(rows.last.getLong(3) <= 1000000L)
  }
}
