package graft.ops

import graft.{SparkSpec, StaticResults, Tables}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-12 eleventh-batch additions
  * (degree assortativity, bot-rate flags, type-token ratio), checked
  * by driver-side recomputation at sf0.001 — independent of the
  * DuckDB oracle.
  */
class R12kOpsSpec extends SparkSpec {

  private val keys = Seq("graph_degree_assortativity",
    "events_bot_rate_flags", "corpus_type_token_ratio")

  test("every r12k key is partition-count invariant (the 100 TB correctness property)") {
    val bad = graft.WidthInvarianceSpec.failures(spark, keys)
    assert(bad.isEmpty, s"width-invariance failures:\n${bad.mkString("\n")}")
  }

  test("graph_degree_assortativity: recomputes from a driver-side edge walk") {
    val r = StaticResults.collected(spark, "graph_degree_assortativity")
    assert(r.length == 1)
    val row = r.head
    val pairs = Tables.orders(spark, sfStatic)
      .join(Tables.lineitem(spark, sfStatic),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(x => (x.getLong(0) * 2, x.getLong(1) * 2 + 1))
    val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
    val deg = edges.groupBy(_._1).map { case (id, es) => (id, es.length.toLong) }
    assert(row.getLong(0) == edges.length.toLong, "directed edge count")
    assert(row.getLong(1) == deg.size.toLong, "node count")
    val xy = edges.map { case (s, d0) => (deg(s).toDouble, deg(d0).toDouble) }
    val n = xy.length.toDouble
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum; val syy = xy.map(p => p._2 * p._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val expect = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(math.abs(row.getDouble(2) - expect) < 1e-9,
      s"assortativity ${row.getDouble(2)} != recomputed $expect")
    // bipartite symmetric-marginal sanity: |r| <= 1
    assert(math.abs(row.getDouble(2)) <= 1.0)
  }

  test("events_bot_rate_flags: rate, burst and flags recompute per user") {
    val rows = StaticResults.collected(spark, "events_bot_rate_flags")
    val perUser = Tables.events(spark, sfStatic)
      .select(col("user_id"), date_trunc("minute", col("ts")).as("mn"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      .groupBy(_._1).map { case (u, xs) =>
        val byMin = xs.groupBy(_._2).map(_._2.length.toLong)
        (u, (xs.length.toLong, byMin.size.toLong, byMin.max))
      }
    assert(rows.length == perUser.size)
    rows.foreach { r =>
      val (n, am, mx) = perUser(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((n, am, mx)))
      assert(r.getLong(4) == n * 1000L / am)
      assert(r.getBoolean(5) == (mx >= 2))
      assert(r.getBoolean(6) == (n * 1000L / am > 1000L))
    }
    // thresholds must be non-degenerate on this fixture
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }

  test("corpus_type_token_ratio: types/tokens recompute per source") {
    val rows = StaticResults.collected(spark, "corpus_type_token_ratio")
    val bySource = Tables.documents(spark, sfStatic)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
      .groupBy(_._1).map { case (src, xs) =>
        val all = xs.flatMap(_._2)
        (src, (all.distinct.size.toLong, all.size.toLong))
      }
    assert(rows.map(_.getString(0)).toSet == bySource.keySet)
    rows.foreach { r =>
      val (types, tokens) = bySource(r.getString(0))
      assert(r.getLong(1) == types && r.getLong(2) == tokens)
      assert(r.getLong(3) == types * 1000000L / tokens)
      assert(r.getLong(4) ==
        math.floor(types.toDouble / math.sqrt(tokens.toDouble) * 1000 + 0.5)
          .toLong)
      assert(r.getLong(3) > 0L && r.getLong(3) <= 1000000L)
    }
  }
}
