package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, TimestampType}
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster assignment: the step a real dedup pipeline runs
  * AFTER pairwise near-dup detection. Pairs only say "a looks like b";
  * to actually drop duplicates you need connected components — the
  * transitive closure of the pair relation — and one survivor per
  * component.
  *
  * Implementation is Pregel-style minimum-label propagation: every doc
  * starts labeled with its own id, and each round every node takes the
  * min of its own label and its neighbors' labels, until a fixpoint.
  * Rounds needed = the component diameter (near-dup clusters are
  * shallow: a handful of rounds), and each round is one shuffle of the
  * (tiny, pairs-sized) edge list against the label table — no
  * quadratic work, no driver-side graph. At 100 TB the same loop holds
  * (labels and edges both hash-partition on id); if components ever get
  * deep, the known upgrade is the alternating large-star/small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond"), which converges in O(log n) rounds with the same
  * join-shape per round.
  */
object ClusterOps {

  /** ONE spelling of the customer⇄supplier trade graph (VERDICT r16
    * item 1 — the same silent-drift hazard class the r15 KMV
    * extraction retired): the distinct trade-partnership table and
    * its symmetric doubled edge list were textually duplicated across
    * the whole graph family (pagerank, BFS, label propagation,
    * k-core, assortativity, HITS). These two SQL CTE constants and
    * the two Spark builders below are now the only copies; every
    * graph key interpolates / calls them.
    *
    * `eb` = distinct (custkey, suppkey) partnerships from
    * orders⋈lineitem — the bipartite trade graph's edge set.
    * `edges` = both directions with node ids packing kind+key into
    * one long (custkey*2 / suppkey*2+1), so every node has in- and
    * out-edges and no dangling-mass term is needed downstream. */
  val tradeEbCte: String =
    """eb AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  val tradeEdgesCtes: String = tradeEbCte + """,
      |edges AS MATERIALIZED (
      |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM eb
      |  UNION ALL
      |  SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM eb)""".stripMargin

  /** Spark twin of `tradeEbCte`: (ck, sk) distinct partnerships.
    * NOT persisted — callers own persistence (some persist eb itself,
    * some only the doubled edges).
    *
    * r19 batch 3 finding (recorded so it isn't re-tried): spreading
    * the single-split lineitem probe here (spreadIfNarrow before the
    * broadcast join) was measured and REJECTED — back-to-back
    * KeyTime A/B showed +0.15-0.27 s steady-state on EVERY consumer
    * (pagerank 1.33→1.54, LPA 1.28→1.53, rich_club 0.90→1.15,
    * assortativity 0.94→1.2, hits 1.44→1.58, k_core 1.7→1.9). The
    * probe side of a broadcast join is cheap; the added round-robin
    * exchange (plus its sort-before-repartition in the same scan
    * task) costs more than the one-task probe saves, and most
    * consumers re-partition the result themselves anyway. */
  def tradeEb(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()

  /** Spark twin of `tradeEdgesCtes`'s `edges`: the symmetric doubled
    * (src, dst) list. The union's two branches share eb's exchanges
    * (ReuseExchange); callers persist the result when a loop re-reads
    * it. */
  def tradeSymEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val eb = tradeEb(s, d)
    eb.select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      .union(eb.select((col("sk") * 2 + 1).as("src"), (col("ck") * 2).as("dst")))
  }

  /** r19-opt finding, recorded so the next round doesn't re-try it:
    * re-rooting the UNROLLED fixed-round kernels (PageRank, BFS,
    * LPA, k-core, HITS) through the `minLabel`-style RDD bridge was
    * MEASURED AND REJECTED — per-round persist+count+createDataFrame
    * flattened the logical trees but added row-encoder round-trips
    * and count actions, and in-region JIT went UP (graph_bfs_levels
    * 1.6 → 5.8 s jit, wall 2.95 → 3.14 s; graph_pagerank 1.9 → 4.4 s
    * jit, wall 2.99 → 3.58 s at sf0.1). The bridge pays off for
    * LOOPS WITH PER-ROUND ACTIONS whose replanning grows unboundedly
    * (dedup_cluster_cc); at 3 unrolled rounds the persisted-IMR
    * plans are already physically shallow and the win is negative.
    * The productive lever is fewer OPERATORS per round — see the
    * per-key r19 rewrites below. */

  /** Connected components over the `dedup_minhash_lsh` verified pairs
    * (jaccard ≥ 0.5), extended to every document (non-duplicated docs
    * are their own singleton cluster). Output is the full dedup map:
    * doc -> cluster id (min doc_id in the component), cluster size, and
    * whether the doc is the canonical survivor. The oracle re-derives
    * the same components with a recursive CTE over the identical pair
    * query, so transitivity itself is cross-checked, not just the
    * pair list. */
  val dedupClusterCc: QDef = q(
    "dedup_cluster_cc",
    s"""WITH RECURSIVE pairs AS (
       |${LlmExtras.dedupMinhashLsh.oracle.get}
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(id, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  CAST(doc_id = cluster_id AS INT) AS is_survivor
       |FROM cc
       |ORDER BY doc_id""") { (s, d) =>
    // Edge list = the graded near-dup query's own output, symmetrized
    // by a row-local explode of both endpoint orders — NOT a union of
    // two selects, whose branches would each run the LSH verify join
    // once (shingleBase is cached, but the candidate join + merge-walk
    // verify ran twice). Persisted: every propagation round joins
    // against it.
    val edgesDeep = LlmExtras.minhashPairs(s, d)
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Materialize BEFORE anything forks the lineage: the first
    // propagation job would otherwise reference the cold cache through
    // two racing branches and run the full LSH pipeline twice.
    val tEdges0 = System.nanoTime()
    val nEdges = edgesDeep.count()
    val tEdges = (System.nanoTime() - tEdges0) / 1e9
    System.err.println(f"[dedup_cluster_cc] n_edges=$nEdges pairs_s=$tEdges%.2f")
    // ONE spelling of the propagation (ADVICE r16): the seeded
    // neighbor-min + pointer-jump loop, its RDD-bridged rounds, the
    // run_tag cache privacy, and the loud non-convergence failure all
    // live in pipeline.ConnectedComponents.minLabel, shared with both
    // legs of dedup_cluster_incremental. Propagation runs ONLY over
    // nodes that appear in some pair — the singleton majority (at
    // 100 TB: almost the whole corpus) never enters the loop and
    // joins back in at the end. The loop's shuffles are sized from
    // the measured edge count (withLoopWidth), and the session width
    // is restored before the corpus-scale final assembly below.
    val finalLabels = graft.pipeline.ConnectedComponents.withLoopWidth(s, nEdges) {
      graft.pipeline.ConnectedComponents.minLabel(s, edgesDeep, "dedup_cluster_cc")
    }
    // Cluster sizes come from the TINY label table, not a corpus-wide
    // window: every member of a component that has an edge is an edge
    // endpoint by construction, so counting labels counts the whole
    // component — and every doc outside the label table is a singleton
    // of size 1. The final assembly is one join over the corpus scan;
    // the planner broadcasts the label side while it fits (no explicit
    // hint: at 100 TB a dup set can outgrow broadcast range, and the
    // SMJ fallback is the right degradation).
    val sized = finalLabels
      .join(finalLabels.groupBy(col("lbl").as("l2")).agg(count(lit(1)).as("sz")),
        col("lbl") === col("l2"))
      .select(col("id"), col("lbl"), col("sz"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(sized, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_survivor"))
      .orderBy("doc_id")
  }

  /** Degree profile of the near-dup graph: for each degree (number of
    * verified near-duplicate partners), how many documents have it —
    * including the degree-0 singleton mass, which at a real corpus
    * scale is almost everything. The monitoring view a dedup pipeline
    * publishes per run (a fattening high-degree tail is the classic
    * symptom of a boilerplate flood or a broken shingle hash). Two
    * wordcount-shaped shuffles over the (pairs-sized) edge list; the
    * corpus itself contributes one count. */
  val graphDegreeStats: QDef = q(
    "graph_degree_stats",
    s"""WITH pairs AS (
       |${LlmExtras.dedupMinhashLsh.oracle.get}
       |),
       |ends AS (
       |  SELECT doc_a AS id FROM pairs
       |  UNION ALL
       |  SELECT doc_b FROM pairs),
       |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM ends GROUP BY id),
       |hist AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree)
       |SELECT degree, n_nodes FROM hist
       |UNION ALL
       |SELECT CAST(0 AS BIGINT) AS degree,
       |  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM deg) AS n_nodes
       |ORDER BY degree""") { (s, d) =>
    // both endpoints in one pass (row-local explode) — a union of two
    // selects would run the LSH verify join once per branch
    val ends = LlmExtras.minhashPairs(s, d)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
    val deg = ends.groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val zero = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(deg.agg(count(lit(1)).as("n_ep")))
      .select(lit(0L).as("degree"), (col("n_docs") - col("n_ep")).as("n_nodes"))
    hist.union(zero).orderBy(col("degree"))
  }

  /** Integer PageRank (r11, third session) — fixed-iteration rank
    * propagation over the customer⇄supplier trade graph (distinct
    * orders⋈lineitem partnerships, both directions, so every node
    * has in- and out-edges and no dangling-mass term is needed).
    * The iterative-graph twin of `dedup_cluster_cc`'s label loop:
    * each of the 3 unrolled iterations is one edge⋈rank equi-join +
    * one hash agg on the destination — shuffles follow edge count,
    * never node², and the weighted edge table is built once and
    * persisted across iterations (same reuse trick as
    * `cooccur_pmi`'s marginals). Ranks are integer MICRO-units with
    * damping 0.85 as `(rank*85) div (100*outdeg)` — floor division
    * of positive longs is identical in both engines, so three
    * iterations stay bit-deterministic with no float accumulation
    * order to control. At 100 TB: iteration count is FIXED (no
    * driver-side convergence probe), per-round cost is one
    * edge-partitioned join — the standard distributed PageRank
    * shape. Node ids pack kind+key into one long (custkey*2 /
    * suppkey*2+1). */
  val graphPagerank: QDef = q(
    "graph_pagerank",
    s"""WITH ${tradeEdgesCtes},
      |deg AS MATERIALIZED (
      |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      |ew AS MATERIALIZED (
      |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src),
      |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM deg),
      |r1 AS MATERIALIZED (
      |  SELECT ew.dst AS id, 150000 + SUM((r.rank * 85) // (100 * ew.deg)) AS rank
      |  FROM ew JOIN r0 r ON r.id = ew.src GROUP BY ew.dst),
      |r2 AS MATERIALIZED (
      |  SELECT ew.dst AS id, 150000 + SUM((r.rank * 85) // (100 * ew.deg)) AS rank
      |  FROM ew JOIN r1 r ON r.id = ew.src GROUP BY ew.dst),
      |r3 AS (
      |  SELECT ew.dst AS id, 150000 + SUM((r.rank * 85) // (100 * ew.deg)) AS rank
      |  FROM ew JOIN r2 r ON r.id = ew.src GROUP BY ew.dst)
      |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_kind,
      |  id // 2 AS node_key, CAST(rank AS BIGINT) AS rank_micro
      |FROM r3
      |ORDER BY node_kind, node_key""") { (s, d) =>
    val edges = tradeSymEdges(s, d)
    // deg and every per-iteration rank table are O(nodes) rows — the
    // graph's SMALL side. Broadcasting them means the (large) edge
    // table is never shuffled: building ew is a map-side join over
    // the edge scan, and each iteration is broadcast-join + partial
    // agg, shuffling only group-cardinality partials. At a node
    // count beyond broadcast range, drop the hints and both joins
    // degrade to SMJ on src — the standard distributed-PageRank
    // shuffle — with no semantic change.
    // persist (not localCheckpoint, not unpersisted here): the plan
    // stays fully declarative with its recompute lineage intact —
    // losing a cached block recomputes it instead of failing the
    // query — and the harness drivers (Bench/Verify) clearCache()
    // between queries, the same cache-lifecycle contract
    // `dedup_cluster_cc` relies on. The returned plan's exchanges
    // stay visible to the golden shuffle audit.
    // raw edge list persisted FIRST: both deg and the deg-carrying
    // ew below derive from it, and unpersisted each build would
    // recompute the orders⋈lineitem distinct union from scratch
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r19-opt (guide §1.2 "the distributed algorithm" / op-count per
    // round): the r18 shape joined each round's node-sized rank
    // table back against deg to derive the out-share BEFORE the edge
    // probe — one extra node×node join per round inside every
    // broadcast build. The destination's degree is a FUNCTION of the
    // edge row, so the edge cache now carries deg(dst) (one
    // broadcast join at build time, paid once), each round groups by
    // (dst, dst_deg) — same groups, deg is functionally dependent —
    // and emits next round's share directly from the agg projection:
    // one join + one agg per round, no deg re-join anywhere.
    // share(u) = (rank(u)*85) div (100*deg(u)) is unchanged algebra,
    // so ranks are bit-identical to the oracle's.
    // ew pinned to HashPartitioning(dst) (guide §2.4, the LPA r18
    // layout): every round's (dst, dst_deg) agg — dst_deg is
    // functionally dependent on dst — then plans exchange-free, so
    // the 3 rounds pay ZERO data-sized exchanges for ONE up-front
    // repartition. Same documented hub caveat as LPA: at power-law
    // scale, salt srcs above a degree ceiling.
    val ew = e0
      .join(broadcast(deg.select(col("src").as("dk"),
        col("deg").as("dst_deg"))), col("dk") === col("dst"))
      .select(col("src"), col("dst"), col("dst_deg"))
      .repartition(s.sparkContext.defaultParallelism, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 0 share folds the constant seed rank: (10⁶·85) div
    // (100·deg) — identical to r0 ⋈ deg in the r18 spelling
    val s0 = deg.select(col("src").as("id"),
      expr("(1000000 * 85) div (100 * deg)").as("share"))
    // middle rounds emit (id, share); the last emits (id, rank)
    def step(sh: org.apache.spark.sql.DataFrame, last: Boolean) = {
      val agg = ew.join(broadcast(sh), col("id") === col("src"))
        .groupBy(col("dst"), col("dst_deg"))
        .agg((lit(150000L) + sum(col("share"))).as("rank"))
      if (last) agg.select(col("dst").as("id"), col("rank"))
      else agg.select(col("dst").as("id"),
        expr("(rank * 85) div (100 * dst_deg)").as("share"))
    }
    val r3 = step(step(step(s0, false), false), true)
    r3.select(
        when(col("id") % 2 === 0, "customer").otherwise("supplier")
          .as("node_kind"),
        expr("id div 2").as("node_key"),
        col("rank").cast("bigint").as("rank_micro"))
      .orderBy(col("node_kind"), col("node_key"))
  }

  /** The part co-purchase graph: `e` holds the distinct oriented
    * (a < b) pairs of parts on the same order among 1996 shipments (the
    * date filter pushes to the scan and bounds the graph). */
  private[ops] val coPartCtes: String =
    """li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
      |e AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)""".stripMargin

  /** Spark twin of `coPartCtes`'s `e`, persisted: it feeds the degree
    * aggregate and every join leg (exchange reuse covers the
    * self-joins). */
  private[ops] def coPartEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampType))
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Triangle count + global clustering coefficient (r12) — the
    * third classic graph kernel next to CC and PageRank, over the
    * part co-purchase graph (parts appearing on the same order,
    * 1996 shipments — the date filter pushes to the scan and bounds
    * the graph). Exact integer statistics: wedge count from the
    * degree table, triangle count via the oriented 3-way edge
    * self-join (a<b<c orientation counts each triangle exactly once
    * — the standard distributed formulation; at scale the e1⋈e2 path
    * join is bounded by Σ deg²(b), which degree-orienting edges
    * low→high keeps near m^1.5), clustering = 3·triangles/wedges in
    * floor ppm. The edge table is built once and persisted: it feeds
    * the degree aggregate and all three join legs (exchange reuse
    * covers the self-joins). */
  val graphTriangleCount: QDef = q(
    "graph_triangle_count",
    s"""WITH ${coPartCtes},
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS dg
      |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
      |  GROUP BY node),
      |tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
      |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
      |  CAST((SELECT SUM(dg * (dg - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
      |  n_triangles,
      |  (n_triangles * 3000000)
      |    // CAST((SELECT SUM(dg * (dg - 1) // 2) FROM deg) AS BIGINT)
      |    AS clustering_ppm
      |FROM tri""") { (s, d) =>
    val e = coPartEdges(s, d)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val wedgeRow = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    val edgeRow = e.agg(count(lit(1)).as("n_edges"))
    val triRow = e.select(col("a").as("a1"), col("b").as("b1"))
      .join(e.select(col("a").as("a2"), col("b").as("b2")), col("b1") === col("a2"))
      .join(e.select(col("a").as("a3"), col("b").as("b3")),
        col("a3") === col("a1") && col("b3") === col("b2"))
      .agg(count(lit(1)).as("n_triangles"))
    triRow.join(broadcast(wedgeRow), lit(true), "left")
      .join(broadcast(edgeRow), lit(true), "left")
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(n_triangles * 3000000) div n_wedges").as("clustering_ppm"))
  }

  /** Market-basket association rules (r12) — support / confidence /
    * lift over the same 1996 co-purchase universe the triangle
    * kernel uses, graded as the top-20 item pairs by support. All
    * three metrics are exact floor-ppm integers: support =
    * pair-baskets / baskets, confidence(a→b) = pair / baskets(a),
    * lift = pair·baskets·10⁶ div (baskets(a)·baskets(b)). Pair
    * counts key on DISTINCT (order, a, b) — a part appearing on two
    * lines of one order never double-counts; item marginals
    * broadcast into the pair table; top-20 is TakeOrdered. At scale
    * the pair-generation step is the standard frequent-itemset
    * candidate join bounded by per-basket item counts. */
  val basketAssocRules: QDef = q(
    "basket_assoc_rules",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
      |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM li),
      |item AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_n
      |  FROM li GROUP BY l_partkey),
      |pair AS (
      |  SELECT x.l_partkey AS a, y.l_partkey AS b, CAST(count(*) AS BIGINT) AS pair_n
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY x.l_partkey, y.l_partkey)
      |SELECT a, b, pair_n,
      |  (pair_n * 1000000) // n_baskets AS support_ppm,
      |  (pair_n * 1000000) // ia.item_n AS conf_a_to_b_ppm,
      |  (pair_n * n_baskets * 1000000) // (ia.item_n * ib.item_n) AS lift_ppm
      |FROM pair
      |JOIN item ia ON ia.l_partkey = a
      |JOIN item ib ON ib.l_partkey = b
      |CROSS JOIN n
      |ORDER BY pair_n DESC, a, b
      |LIMIT 20""") { (s, d) =>
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampType))
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = li.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    val item = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("item_n"))
    val pair = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("pair_n"))
    pair
      .join(broadcast(item.select(col("l_partkey").as("ka"), col("item_n").as("ia"))),
        col("a") === col("ka"))
      .join(broadcast(item.select(col("l_partkey").as("kb"), col("item_n").as("ib"))),
        col("b") === col("kb"))
      .join(broadcast(n), lit(true), "left")
      .select(col("a"), col("b"), col("pair_n"),
        expr("(pair_n * 1000000) div n_baskets").as("support_ppm"),
        expr("(pair_n * 1000000) div ia").as("conf_a_to_b_ppm"),
        expr("(pair_n * n_baskets * 1000000) div (ia * ib)").as("lift_ppm"))
      .orderBy(col("pair_n").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Alternating-star connected components (r12) — grades the
    * `graft.pipeline.ConnectedComponents` large-star/small-star loop
    * (Kiveris et al., the O(log n)-rounds-on-ANY-shape alternative
    * to the min-label loop `dedup_cluster_cc` grades) through the
    * oracle: component structure is unique, and both algorithms
    * converge to cluster_id = component min, so the recursive-CTE
    * oracle is shared logic with the min-label key — two independent
    * distributed algorithms certified against one ground truth. The
    * graded view aggregates per cluster (size + id range), keeping
    * output cluster-bounded. */
  val dedupClusterStar: QDef = q(
    "dedup_cluster_star",
    s"""WITH RECURSIVE pairs AS (
       |${graft.ops.LlmExtras.dedupMinhashLsh.oracle.get}
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(id, root) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, MIN(root) AS cluster_id FROM reach GROUP BY id)
       |SELECT cluster_id,
       |  CAST(count(*) AS BIGINT) AS cluster_size,
       |  CAST(min(id) AS BIGINT) AS min_member,
       |  CAST(max(id) AS BIGINT) AS max_member
       |FROM cc
       |GROUP BY cluster_id
       |ORDER BY cluster_id""") { (s, d) =>
    val labels = graft.pipeline.ConnectedComponents.largeStarSmallStar(
      s, graft.ops.LlmExtras.minhashPairs(s, d))
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col("id")).as("min_member"),
        max(col("id")).as("max_member"))
      .orderBy(col("cluster_id"))
  }

  /** Neighbor-set Jaccard similarity (r12) — node similarity by
    * shared neighbors over the supplier→part supply graph, the
    * entity-resolution / co-engagement primitive ("suppliers with
    * near-identical catalogs", "users with near-identical follow
    * sets"). The scalable shape is the WEDGE JOIN: self-join the
    * distinct (supplier, part) edge list on the part key — cost
    * follows Σ_part C(deg,2) (wedge count), never supplier² — then
    * one hash agg to common-neighbor counts and a broadcast of the
    * (node-sized) degree table for the |A∪B| denominator. At 100 TB
    * the same plan holds with the standard hub guard: cap or salt
    * parts above a degree ceiling (a part supplied by everyone
    * contributes no similarity signal but quadratic wedges — same
    * mitigation family as `join_skew_salted`). Jaccard ships as exact
    * integer ppm (floor div is identical in both engines); top-50
    * presentation is TakeOrderedAndProject. */
  val graphJaccardNeighbors: QDef = q(
    "graph_jaccard_neighbors",
    """WITH sp AS (
      |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
      |deg AS (
      |  SELECT sk, CAST(count(*) AS BIGINT) AS deg FROM sp GROUP BY sk),
      |pairs AS (
      |  SELECT a.sk AS supp_a, b.sk AS supp_b,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY a.sk, b.sk)
      |SELECT supp_a, supp_b, common, da.deg AS deg_a, db.deg AS deg_b,
      |  common * 1000000 // (da.deg + db.deg - common) AS jaccard_ppm
      |FROM pairs
      |JOIN deg da ON da.sk = supp_a
      |JOIN deg db ON db.sk = supp_b
      |ORDER BY jaccard_ppm DESC, supp_a, supp_b
      |LIMIT 50""") { (s, d) =>
    import graft.functions.VectorFunctions.orderedPairs
    // ONE shuffle builds the per-part sorted supplier adjacency
    // straight from the fact (collect_set dedups in the same agg —
    // no separate DISTINCT pass), and the codegen'd
    // graft_ordered_pairs enumerates each part's C(d,2) co-supply
    // pairs row-locally — each unordered pair exactly once, where
    // the self-join formulation probed d² candidates per part and
    // shuffled the edge list twice (measured 2.8 s → 1.0 s at
    // sf0.1).
    val adj = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      // repartition(pk) BEFORE the set agg (r19-opt, guide §2.5):
      // the single-split fixture scan otherwise builds every
      // adjacency set inside one task (the adamic_adar twin's note);
      // explicit session width — the per-key reduce policy (4) would
      // cap the set-building map work
      .repartition(s.sparkContext.defaultParallelism, col("pk"))
      .groupBy(col("pk"))
      .agg(sort_array(collect_set(col("sk"))).as("sks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    adj.count() // materialize before the degree/pair branches fork
    val deg = adj.select(explode(col("sks")).as("sk"))
      .groupBy(col("sk")).agg(count(lit(1)).as("deg"))
    val pairs = adj
      .select(explode(orderedPairs(col("sks"))).as("p"))
      .select(col("p.a").as("sa"), col("p.b").as("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("common"))
    val out = pairs
      .join(broadcast(deg.select(col("sk"), col("deg").as("deg_a"))),
        col("sk") === col("sa"))
      .drop("sk")
      .join(broadcast(deg.select(col("sk"), col("deg").as("deg_b"))),
        col("sk") === col("sb"))
      .select(col("sa").as("supp_a"), col("sb").as("supp_b"), col("common"),
        col("deg_a"), col("deg_b"),
        expr("common * 1000000L div (deg_a + deg_b - common)").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("supp_a"), col("supp_b"))
      .limit(50)
    out
  }

  /** BFS frontier levels (r12b) — breadth-first traversal from a
    * deterministic seed (the minimum node id) over the customer⇄
    * supplier trade graph: the missing traversal member of the graph
    * family (degree/PageRank/CC/triangles/Jaccard). Three unrolled
    * rounds of frontier expansion: each round is one edge⋈frontier
    * equi-join + an anti-join against the visited set — the
    * distributed BFS shape whose per-round cost follows the frontier's
    * edge incidence, never nodes². The frontier/visited tables are
    * node-sized (broadcast; beyond broadcast range they degrade to
    * SMJ on the node key with no semantic change), and the edge table
    * is built once and persisted across rounds like graph_pagerank's.
    * Output is the per-level census (count + key range), which is the
    * reachability audit a graph pipeline publishes per run. */
  val graphBfsLevels: QDef = q(
    "graph_bfs_levels",
    s"""WITH ${tradeEdgesCtes},
      |l0 AS (SELECT MIN(src) AS id FROM edges),
      |l1 AS MATERIALIZED (
      |  SELECT DISTINCT e.dst AS id FROM edges e JOIN l0 ON e.src = l0.id
      |  WHERE e.dst NOT IN (SELECT id FROM l0)),
      |l2 AS MATERIALIZED (
      |  SELECT DISTINCT e.dst AS id FROM edges e JOIN l1 ON e.src = l1.id
      |  WHERE e.dst NOT IN (SELECT id FROM l0 UNION ALL SELECT id FROM l1)),
      |l3 AS MATERIALIZED (
      |  SELECT DISTINCT e.dst AS id FROM edges e JOIN l2 ON e.src = l2.id
      |  WHERE e.dst NOT IN (SELECT id FROM l0 UNION ALL SELECT id FROM l1
      |                      UNION ALL SELECT id FROM l2)),
      |census AS (
      |  SELECT 0 AS level, id FROM l0
      |  UNION ALL SELECT 1, id FROM l1
      |  UNION ALL SELECT 2, id FROM l2
      |  UNION ALL SELECT 3, id FROM l3)
      |SELECT CAST(level AS BIGINT) AS level,
      |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  MIN(id) AS min_node, MAX(id) AS max_node
      |FROM census GROUP BY level
      |ORDER BY level""") { (s, d) =>
    // r19-opt note: pinning this cache to HashPartitioning(dst) (the
    // LPA layout, to make each round's distinct exchange-free) was
    // measured and REJECTED — three targeted windows read ~5.0 s vs
    // ~3.6 s unpinned; the per-round distinct carries only
    // frontier-incident rows, far less than the up-front full-edge
    // repartition costs here.
    val edges = tradeSymEdges(s, d)
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize before the rounds fork the lineage
    val l0 = edges.agg(min(col("src")).as("id"))
    def expand(frontier: org.apache.spark.sql.DataFrame,
        visited: org.apache.spark.sql.DataFrame) =
      edges.join(broadcast(frontier.select(col("id").as("fid"))),
          col("src") === col("fid"))
        .select(col("dst").as("id")).distinct()
        .join(broadcast(visited.select(col("id").as("vid"))),
          col("id") === col("vid"), "left_anti")
    // Persist + materialize each frontier: l1 is referenced by v1,
    // l2's expand AND the census — unpersisted, every reference
    // re-runs the round including its broadcast builds (measured
    // 3.55 s with 7.2 s of in-region JIT at sf0.1; the CC loop's
    // materialize-per-round rule applies to unrolled rounds too).
    // r19-opt note: the RDD-bridge variant of this mat() was
    // measured and REJECTED (2.95 → 3.14 s, jit 1.6 → 5.8 s) — see
    // the finding at the top of this file.
    def mat(df: org.apache.spark.sql.DataFrame) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    }
    val l1 = mat(expand(l0, l0))
    val v1 = l0.union(l1)
    val l2 = mat(expand(l1, v1))
    val v2 = v1.union(l2)
    val l3 = mat(expand(l2, v2))
    val census = l0.select(lit(0L).as("level"), col("id"))
      .union(l1.select(lit(1L).as("level"), col("id")))
      .union(l2.select(lit(2L).as("level"), col("id")))
      .union(l3.select(lit(3L).as("level"), col("id")))
    census.groupBy(col("level"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("id")).as("min_node"), max(col("id")).as("max_node"))
      .orderBy(col("level"))
  }

  /** Synchronous label propagation, 3 fixed rounds (r12c) — the
    * community-detection kernel next to CC (pure min-label) and
    * PageRank (weighted mass): each round every node adopts the
    * PLURALITY label among its neighbors, ties broken to the smallest
    * label, over the same customer⇄supplier trade graph as
    * `graph_pagerank`. Plurality needs a (node, label) count table
    * per round — one edge⋈labels broadcast join + one (src, lbl)
    * hash agg + one per-src argmax agg; the argmax is
    * max(struct(cnt, −lbl)) (count first, then smallest label) so no
    * window and no per-src sort. Label tables are O(nodes) and
    * broadcast; the edge table is built once, persisted, and never
    * shuffled — at node counts beyond broadcast range the joins
    * degrade to SMJ on src, the standard distributed-LPA shape.
    * Round count is FIXED (no convergence probe): 3 sync rounds is
    * the published early-stop regime for LPA (oscillation risk grows
    * after), and fixed rounds keep the answer bit-deterministic.
    * Output is the community-size histogram. */
  val graphLabelPropagation: QDef = q(
    "graph_label_propagation",
    s"""WITH ${tradeEdgesCtes},
      |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
      |c1 AS (SELECT e.src, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM edges e JOIN l0 l ON l.id = e.dst GROUP BY e.src, l.lbl),
      |l1 AS MATERIALIZED (SELECT src AS id, lbl FROM (
      |  SELECT src, lbl, row_number() OVER (
      |    PARTITION BY src ORDER BY cnt DESC, lbl ASC) AS rn FROM c1)
      |  WHERE rn = 1),
      |c2 AS (SELECT e.src, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM edges e JOIN l1 l ON l.id = e.dst GROUP BY e.src, l.lbl),
      |l2 AS MATERIALIZED (SELECT src AS id, lbl FROM (
      |  SELECT src, lbl, row_number() OVER (
      |    PARTITION BY src ORDER BY cnt DESC, lbl ASC) AS rn FROM c2)
      |  WHERE rn = 1),
      |c3 AS (SELECT e.src, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM edges e JOIN l2 l ON l.id = e.dst GROUP BY e.src, l.lbl),
      |l3 AS (SELECT src AS id, lbl FROM (
      |  SELECT src, lbl, row_number() OVER (
      |    PARTITION BY src ORDER BY cnt DESC, lbl ASC) AS rn FROM c3)
      |  WHERE rn = 1)
      |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM l3 GROUP BY lbl ORDER BY community""") { (s, d) =>
    // Pre-partition the persisted edge table on src (guide §2.4,
    // r18-opt): round 1's (src, lbl) groups are exactly the edge set
    // — labels start unique per node, so the partial agg reduces
    // NOTHING and an unpartitioned edge cache shuffles ~|edges| rows
    // in round 1 (and large fractions in rounds 2-3). With
    // HashPartitioning(src) pinned into the cache, every per-round
    // agg — the (src, lbl) count AND the per-src argmax — plans
    // exchange-free (src ⊆ each grouping key), trading 3 rounds of
    // data-sized exchanges for ONE up-front repartition. At cluster
    // scale this is the same one-partitioning-serves-the-loop layout,
    // with the documented hub caveat (salt/AQE-skew above a degree
    // ceiling).
    // Width = session parallelism, not the 4-partition reduce policy:
    // the pinned partitioning IS the loop's compute layout (every
    // round's 1M-group hash aggs run on exactly these partitions), so
    // the narrow reduce width would cap 3 rounds of real work at 4
    // tasks. At cluster scale this is the conf-sized map width.
    // Hub skew handled (r19-opt, guide §2.5 — closes the r18 "salt
    // above a degree ceiling" caveat, VERDICT r18 item 4): srcs whose
    // degree exceeds spark.graft.lpa.hubDegreeCeiling (conf; default
    // 4096 — chosen so a hub's single-partition slice stays a
    // sub-second scan at any SF, production clusters tune it to
    // rows-per-core) split into their OWN cache, SALTED by a
    // deterministic dst hash, so no single src partition is the
    // every-round straggler on a power-law graph. The hub leg
    // aggregates two-level — (src, lbl, salt) exchange-free off the
    // (src, salt) cache partitioning, then (src, lbl) over hub-sized
    // partials — and each src lives in EXACTLY ONE leg, so the
    // per-src argmax can run per leg and the union of the two label
    // tables is the round's l, bit-identical to the unsplit kernel.
    // GATED ON THE MEASURED MAX DEGREE (r19-opt batch 3): the split
    // machinery (anti/semi legs, a second cache, hub-leg aggs in all
    // three rounds) costs real plan+JIT time even when the hub set is
    // EMPTY — which it provably is whenever max(degree) ≤ ceiling.
    // One exchange-free degree probe over the partitioned edge cache
    // decides the branch (the same runtime-statistics decision AQE's
    // skew handling makes); both branches compute the identical
    // fixpoint, because a hub split with zero hubs IS the lean
    // kernel. LpaHubSplitSpec pins leg-equivalence on a synthetic hub
    // graph with the ceiling forced low (that branch stays exercised
    // and graded at every SF via the spec).
    val hubCeiling = s.conf.getOption("spark.graft.lpa.hubDegreeCeiling")
      .getOrElse("4096").toLong
    val par = s.sparkContext.defaultParallelism
    val e0 = tradeSymEdges(s, d)
      .repartition(par, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val maxDeg = deg.agg(max(col("dg"))).head().getLong(0)
    // ids are positive (key*2(+1), keys ≥ 1) so −lbl preserves the
    // smallest-label tiebreak inside the lexicographic struct max
    def argmax(c: org.apache.spark.sql.DataFrame) = c
      .groupBy(col("src"))
      .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
      .select(col("src").as("id"), (-col("m.neg")).as("lbl"))
    // Round 1 constant-folded (r19-opt, guide §1.2): l0 assigns
    // every node its OWN id, and the edge list is distinct, so round
    // 1's (src, lbl) counts are all exactly 1 and the plurality
    // argmax (cnt DESC, lbl ASC) degenerates to the MINIMUM
    // neighbor id — one exchange-free agg over the partitioned edge
    // cache instead of l0's node-extraction distinct + a broadcast
    // build + the two-level count/argmax aggs. Rounds 2-3 run the
    // general plurality kernel unchanged, so the fixpoint is
    // bit-identical to the oracle's 3-round chain.
    val l3 = if (maxDeg <= hubCeiling) {
      // Lean kernel: no hubs exist, so the split's two legs collapse
      // to the single partitioned cache (the r18 shape + the round-1
      // fold). e0 is already HashPartitioning(src).
      def round(l: org.apache.spark.sql.DataFrame) =
        argmax(e0.join(broadcast(l), e0("dst") === l("id"))
          .groupBy(col("src"), col("lbl"))
          .agg(count(lit(1)).as("cnt")))
      val l1 = e0.groupBy(col("src")).agg(min(col("dst")).as("lbl"))
        .select(col("src").as("id"), col("lbl"))
      round(round(l1))
    } else {
      val hubs = deg.filter(col("dg") > hubCeiling).select(col("src"))
      // broadcast anti/semi joins PRESERVE the probe's partitioning,
      // so the non-hub cache keeps HashPartitioning(src) for free and
      // only the (small) hub leg pays the (src, salt) re-shuffle.
      val edges = e0.join(broadcast(hubs), Seq("src"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val eHub = e0.join(broadcast(hubs), Seq("src"), "left_semi")
        .withColumn("salt", pmod(xxhash64(col("dst")), lit(8L)))
        .repartition(par, col("src"), col("salt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      def round(l: org.apache.spark.sql.DataFrame) = {
        val cN = edges.join(broadcast(l), edges("dst") === l("id"))
          .groupBy(col("src"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        val cH = eHub.join(broadcast(l), eHub("dst") === l("id"))
          .groupBy(col("src"), col("lbl"), col("salt"))
          .agg(count(lit(1)).as("c1"))
          .groupBy(col("src"), col("lbl"))
          .agg(sum(col("c1")).as("cnt"))
        argmax(cN).unionAll(argmax(cH))
      }
      val l1 = edges.groupBy(col("src")).agg(min(col("dst")).as("lbl"))
        .select(col("src").as("id"), col("lbl"))
        .unionAll(eHub.groupBy(col("src"), col("salt"))
          .agg(min(col("dst")).as("m1"))
          .groupBy(col("src")).agg(min(col("m1")).as("lbl"))
          .select(col("src").as("id"), col("lbl")))
      round(round(l1))
    }
    l3.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
      .orderBy(col("community"))
  }

  /** Iterated 2-core degree pruning, 3 fixed rounds (r12c) — the
    * k-core peeling kernel: each round drops every node with fewer
    * than 2 remaining neighbors, then the edges touching it; the
    * round-by-round (n_nodes, n_edges) decay curve is the density
    * profile an operator reads to size graph workloads (a curve that
    * doesn't flatten means the graph is all tendrils). Fixed rounds,
    * not to-convergence — same bit-determinism rule as LPA/PageRank;
    * 3 rounds bound the true 2-core from above. Per round: one
    * degree agg over the surviving edges + two semi-joins against
    * the broadcast O(nodes) keep-set — the edge table shuffles only
    * shrinking degree partials; beyond broadcast range the
    * semi-joins degrade to SMJ on src/dst, the standard distributed
    * peeling shape. */
  val graphKCore: QDef = q(
    "graph_k_core",
    s"""WITH ${tradeEdgesCtes},
      |k1 AS (SELECT src FROM edges GROUP BY src HAVING COUNT(*) >= 2),
      |e1 AS MATERIALIZED (SELECT src, dst FROM edges
      |  WHERE src IN (SELECT src FROM k1) AND dst IN (SELECT src FROM k1)),
      |k2 AS (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= 2),
      |e2 AS MATERIALIZED (SELECT src, dst FROM e1
      |  WHERE src IN (SELECT src FROM k2) AND dst IN (SELECT src FROM k2)),
      |k3 AS (SELECT src FROM e2 GROUP BY src HAVING COUNT(*) >= 2),
      |e3 AS MATERIALIZED (SELECT src, dst FROM e2
      |  WHERE src IN (SELECT src FROM k3) AND dst IN (SELECT src FROM k3))
      |SELECT CAST(0 AS BIGINT) AS round,
      |  (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM edges) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges
      |UNION ALL
      |SELECT 1, (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e1),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e1)
      |UNION ALL
      |SELECT 2, (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e2),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
      |UNION ALL
      |SELECT 3, (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e3),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e3)
      |ORDER BY round""") { (s, d) =>
    // r19-opt (guide §1.2 / §2.3): the r18 shape aggregated each
    // round's edge set TWICE — once for the keep-set (degree ≥ 2)
    // inside prune, and once more per stats leg as a
    // countDistinct(src) Expand agg (4 Expands, each re-walking an
    // edge cache). One persisted node-sized degree table per round
    // now serves both: keep = filter(c ≥ 2), n_nodes = COUNT(*) over
    // the degree rows (src is its grouping key, so the distinct is
    // free), n_edges = SUM(c). Exact integer identities, so the
    // decay curve is bit-identical to the oracle's.
    // e0 pinned to HashPartitioning(src) (guide §2.4): the
    // broadcast semi-joins inside prune PRESERVE the probe side's
    // partitioning, so all four per-round degree aggs plan
    // exchange-free for one up-front repartition (the LPA r18
    // layout; same hub caveat).
    val e0 = tradeSymEdges(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def degOf(e: org.apache.spark.sql.DataFrame) =
      e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    def prune(e: org.apache.spark.sql.DataFrame,
        dg: org.apache.spark.sql.DataFrame) = {
      val keep = dg.filter(col("c") >= 2).select(col("src"))
      e.join(broadcast(keep), Seq("src"), "left_semi")
        .join(broadcast(keep.withColumnRenamed("src", "dst")),
          Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val d0 = degOf(e0)
    val e1 = prune(e0, d0); val d1 = degOf(e1)
    val e2 = prune(e1, d1); val d2 = degOf(e2)
    val e3 = prune(e2, d2); val d3 = degOf(e3)
    def stats(i: Int, dg: org.apache.spark.sql.DataFrame) =
      dg.agg(count(lit(1)).as("n_nodes"), sum(col("c")).as("n_edges"))
        .select(lit(i.toLong).as("round"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"))
    stats(0, d0).union(stats(1, d1)).union(stats(2, d2)).union(stats(3, d3))
      .orderBy(col("round"))
  }

  /** Degree assortativity (r12k) — Newman 2002: the Pearson
    * correlation of endpoint degrees over the edges of the
    * customer⇄supplier trade graph (the same distinct-partnership
    * bidirectional edge set PageRank walks, so r < 0 reads "hubs
    * attach to leaves" — the expected sign for a bipartite
    * trade graph). The moment fold is `agg_corr_explicit`'s
    * (DECIMAL(38,0) partials, one DOUBLE conversion, one
    * identically-spelled formula); counting every undirected edge in
    * BOTH directions makes the x/y marginals symmetric, which IS the
    * standard undirected definition. Scale posture: edges built once
    * and persisted; the node-degree table broadcasts onto the two
    * endpoint joins (beyond broadcast range the documented fallback
    * is SMJ on the endpoint key — the PageRank degradation); one
    * moment fold ends the plan. */
  val graphDegreeAssortativity: QDef = q(
    "graph_degree_assortativity",
    s"""WITH ${tradeEdgesCtes},
      |deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM edges GROUP BY 1),
      |j AS (
      |  SELECT ds.deg AS x, dd.deg AS y
      |  FROM edges e JOIN deg ds ON ds.id = e.src
      |  JOIN deg dd ON dd.id = e.dst),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM j),
      |t AS (SELECT n, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
      |    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy,
      |    CAST(sxy AS DOUBLE) AS dxy FROM s)
      |SELECT n AS n_directed_edges,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
      |  (n * dxy - dx * dy) / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy))
      |    AS assortativity
      |FROM t""") { (s, d) =>
    val edges = tradeSymEdges(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r19 batch 3 (guide §5 persist-when-reused): deg feeds BOTH
    // broadcast builds and the n_nodes fold — unpersisted, each of
    // the three re-aggregated the 1.17M-row doubled edge cache.
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val j = edges
      .join(broadcast(deg.select(col("id").as("sid"), col("deg").as("x"))),
        col("sid") === col("src"))
      .join(broadcast(deg.select(col("id").as("did"), col("deg").as("y"))),
        col("did") === col("dst"))
      .select(col("x"), col("y"))
    val decX = col("x").cast(DecimalType(38, 0))
    val decY = col("y").cast(DecimalType(38, 0))
    val sums = j.agg(count(lit(1)).as("n"),
      sum(decX).as("sx"), sum(decY).as("sy"),
      sum(decX * col("x")).as("sxx"), sum(decY * col("y")).as("syy"),
      sum(decX * col("y")).as("sxy"))
    val t = sums.select(col("n"),
      col("sx").cast(DoubleType).as("dx"), col("sy").cast(DoubleType).as("dy"),
      col("sxx").cast(DoubleType).as("dxx"),
      col("syy").cast(DoubleType).as("dyy"),
      col("sxy").cast(DoubleType).as("dxy"))
    t.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n").as("n_directed_edges"), col("n_nodes"),
        ((col("n") * col("dxy") - col("dx") * col("dy"))
          / (sqrt(col("n") * col("dxx") - col("dx") * col("dx"))
            * sqrt(col("n") * col("dyy") - col("dy") * col("dy"))))
          .as("assortativity"))
  }

  /** HITS hubs & authorities (r12r) — Kleinberg 1999, PageRank's
    * bipartite sibling, natural on the customer→supplier trade graph:
    * a customer is a good HUB when it buys from good authorities, a
    * supplier a good AUTHORITY when good hubs buy from it. Two fixed
    * mutual-reinforcement rounds with MAX-normalization after every
    * half-step (score·10⁶ div max — floor division of positive longs,
    * bit-identical in both engines; the conventional L2 norm would
    * put a sqrt inside the loop, so the max-normalized variant is the
    * exact-arithmetic formulation and is documented as such). Graded
    * as the top-10 of each side (ties to the smaller key). Scale
    * posture: the distinct-partnership edge table is built once and
    * persisted; each half-step broadcasts an O(nodes) score table
    * onto it (the PageRank share-table shape — beyond broadcast
    * range, SMJ on the edge key) and aggregates on the opposite key;
    * normalization is a one-row broadcast. */
  val graphHitsScores: QDef = q(
    "graph_hits_scores",
    s"""WITH ${tradeEbCte},
      |a1r AS (SELECT sk, CAST(SUM(1000000) AS BIGINT) AS s
      |  FROM eb GROUP BY 1),
      |a1m AS (SELECT MAX(s) AS m FROM a1r),
      |a1 AS (SELECT sk, CAST(s * 1000000 // m AS BIGINT) AS auth
      |  FROM a1r CROSS JOIN a1m),
      |h1r AS (SELECT eb.ck, CAST(SUM(a1.auth) AS BIGINT) AS s
      |  FROM eb JOIN a1 ON a1.sk = eb.sk GROUP BY 1),
      |h1m AS (SELECT MAX(s) AS m FROM h1r),
      |h1 AS (SELECT ck, CAST(s * 1000000 // m AS BIGINT) AS hub
      |  FROM h1r CROSS JOIN h1m),
      |a2r AS (SELECT eb.sk, CAST(SUM(h1.hub) AS BIGINT) AS s
      |  FROM eb JOIN h1 ON h1.ck = eb.ck GROUP BY 1),
      |a2m AS (SELECT MAX(s) AS m FROM a2r),
      |a2 AS (SELECT sk, CAST(s * 1000000 // m AS BIGINT) AS auth
      |  FROM a2r CROSS JOIN a2m),
      |h2r AS (SELECT eb.ck, CAST(SUM(a2.auth) AS BIGINT) AS s
      |  FROM eb JOIN a2 ON a2.sk = eb.sk GROUP BY 1),
      |h2m AS (SELECT MAX(s) AS m FROM h2r),
      |h2 AS (SELECT ck, CAST(s * 1000000 // m AS BIGINT) AS hub
      |  FROM h2r CROSS JOIN h2m),
      |ta AS (SELECT 'authority' AS kind, sk AS node, auth AS score_micro
      |  FROM a2 ORDER BY auth DESC, sk LIMIT 10),
      |th AS (SELECT 'hub' AS kind, ck AS node, hub AS score_micro
      |  FROM h2 ORDER BY hub DESC, ck LIMIT 10)
      |SELECT * FROM ta UNION ALL SELECT * FROM th
      |ORDER BY kind, score_micro DESC, node""") { (s, d) =>
    // r19-opt note: pinning eb to HashPartitioning(sk) (the LPA
    // layout) was measured and REJECTED — steady-state ~1.8 → ~2.1 s
    // at sf0.1. The half-step aggs reduce to |suppliers|-sized
    // partials (map-side combine already removes ~everything), so
    // the saved exchanges are tiny while the up-front repartition
    // of the full partnership table is not.
    val eb = tradeEb(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Each normalize references its input TWICE (the values side and
    // the max-scalar broadcast side), so an unpersisted chain doubles
    // the plan subtree per iteration — 2^3 copies of the eb aggregate
    // by a2, which is what blew the formatted plan to ~300 Exchange
    // nodes and charged the key for replanning/rescheduling the same
    // node-sized aggs (r18-opt). Persisting the raw score table —
    // |nodes| rows — collapses the duplication at every level; the
    // shuffles themselves were already deduped by ReuseExchange, so
    // this buys back planning and job-scheduling time, not I/O.
    def normalize(rIn: org.apache.spark.sql.DataFrame, key: String,
        out: String): org.apache.spark.sql.DataFrame = {
      val r = rIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.crossJoin(broadcast(r.agg(max(col("s")).as("m"))))
        .select(col(key), expr("CAST(s * 1000000 div m AS BIGINT)").as(out))
    }
    val a1 = normalize(
      eb.groupBy(col("sk")).agg(sum(lit(1000000L)).as("s")), "sk", "auth")
    val h1 = normalize(
      eb.join(broadcast(a1.withColumnRenamed("sk", "jk")),
          col("jk") === col("sk"))
        .groupBy(col("ck")).agg(sum(col("auth")).as("s")), "ck", "hub")
    // a2 is consumed TWICE (h2's broadcast side and the authority
    // top-10): unpersisted, the entire a1→h1→a2 chain — three eb
    // passes plus three max-normalize broadcast builds — replans and
    // recomputes once per consumer (the duplicated subtree blew the
    // formatted plan to ~300 Exchange nodes; r18-opt measured the
    // persist at 3.97 s → 3.32 s in a 6-key targeted window, most of
    // the residue being that window's in-region JIT). Node-sized
    // (|suppliers| rows), so the cache cost is negligible at any
    // scale.
    val a2 = normalize(
      eb.join(broadcast(h1.withColumnRenamed("ck", "jk")),
          col("jk") === col("ck"))
        .groupBy(col("sk")).agg(sum(col("hub")).as("s")), "sk", "auth")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val h2 = normalize(
      eb.join(broadcast(a2.withColumnRenamed("sk", "jk")),
          col("jk") === col("sk"))
        .groupBy(col("ck")).agg(sum(col("auth")).as("s")), "ck", "hub")
    val ta = a2.orderBy(col("auth").desc, col("sk")).limit(10)
      .select(lit("authority").as("kind"), col("sk").as("node"),
        col("auth").as("score_micro"))
    val th = h2.orderBy(col("hub").desc, col("ck")).limit(10)
      .select(lit("hub").as("kind"), col("ck").as("node"),
        col("hub").as("score_micro"))
    ta.unionAll(th)
      .orderBy(col("kind"), col("score_micro").desc, col("node"))
  }

  /** Modularity of the nation partition on the trade multigraph
    * (r13b) — is customer↔supplier trade nation-assortative? Each
    * lineitem is one undirected edge between its order's customer and
    * its supplier; communities are the endpoints' nations. Newman
    * modularity per community, Q_c = e_c/m − (d_c/2m)², reported as
    * the exact integer numerator (4·m·e_c − d_c²) over 4m² in
    * sign-decomposed trunc-toward-zero ppm (both engines spell the
    * CASE identically — floor vs trunc never diverges). The products
    * ride DECIMAL(38,0) (4m²·10⁶ outgrows int64 past ~sf0.3) and end
    * in an integral division — no decimal→double cast, so the 2^53
    * gate has nothing to flag. Scale: one fact join + two
    * nation-sized aggs. */
  val graphModularityNations: QDef = q(
    "graph_modularity_nations",
    """WITH edges AS (
      |  SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
      |deg AS (
      |  SELECT nation, CAST(SUM(dn) AS BIGINT) AS d FROM (
      |    SELECT cust_nation AS nation, CAST(COUNT(*) AS BIGINT) AS dn
      |    FROM edges GROUP BY 1
      |    UNION ALL
      |    SELECT supp_nation, CAST(COUNT(*) AS BIGINT) FROM edges GROUP BY 1)
      |  GROUP BY nation),
      |internal AS (
      |  SELECT cust_nation AS nation, CAST(COUNT(*) AS BIGINT) AS e_in
      |  FROM edges WHERE cust_nation = supp_nation GROUP BY 1),
      |q AS (
      |  SELECT deg.nation, COALESCE(i.e_in, 0) AS e_in, deg.d,
      |    4 * m.m * COALESCE(i.e_in, 0) - deg.d * deg.d AS num,
      |    4 * m.m * m.m AS den
      |  FROM deg LEFT JOIN internal i ON deg.nation = i.nation CROSS JOIN m)
      |SELECT nation, e_in AS n_internal_edges, d AS degree_sum,
      |  CAST(CASE WHEN num >= 0
      |    THEN (CAST(num AS HUGEINT) * 1000000) // den
      |    ELSE -((CAST(-num AS HUGEINT) * 1000000) // den) END AS BIGINT)
      |    AS contrib_ppm
      |FROM q ORDER BY nation""") { (s, d) =>
    // r19 batch 3 (guide §2.3): the persisted raw (cust_nation,
    // supp_nation) edge list (|lineitem| rows) was re-scanned three
    // times (m, the doubled deg union, internal). Persist the
    // ≤|nations|² COUNT table instead — m/deg/internal are exact
    // integer functions of it (the cut_conductance treatment), so
    // the fact pass runs ONCE and the cache shrinks from edge volume
    // to a constant. (Spreading the single-split probe side was
    // measured and rejected here like in tradeEb: the partial agg
    // reduces 600k→625 in the scan task, so the extra exchange only
    // added cost — steady 1.16 s without vs ~1.4 s with.)
    val ecnt = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("c_nk"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").as("s_nk"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nk") === col("cnk"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nk") === col("snk"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(count(lit(1)).as("en"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = ecnt.agg(sum(col("en")).cast(LongType).as("m"))
    val deg = ecnt.select(col("cust_nation").as("nation"), col("en"))
      .unionAll(ecnt.select(col("supp_nation"), col("en")))
      .groupBy(col("nation")).agg(sum(col("en")).cast(LongType).as("d"))
    val internal = ecnt.filter(col("cust_nation") === col("supp_nation"))
      .groupBy(col("cust_nation").as("i_nation"))
      .agg(sum(col("en")).cast(LongType).as("e_in"))
    deg.join(broadcast(internal), col("nation") === col("i_nation"), "left")
      .crossJoin(broadcast(m))
      .select(col("nation"),
        coalesce(col("e_in"), lit(0L)).as("n_internal_edges"),
        col("d").as("degree_sum"),
        (lit(4) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("d") * col("d")).as("num"),
        (lit(4) * col("m") * col("m")).as("den"))
      .select(col("nation"), col("n_internal_edges"), col("degree_sum"),
        expr("""CAST(CASE WHEN num >= 0
          THEN (CAST(num AS DECIMAL(38,0)) * 1000000) div den
          ELSE -((CAST(-num AS DECIMAL(38,0)) * 1000000) div den) END AS BIGINT)""")
          .as("contrib_ppm"))
      .orderBy(col("nation"))
  }

  /** Per-node local clustering coefficient (r16) — the node-level
    * companion to `graph_triangle_count`'s single global number, over
    * the SAME 1996 part co-purchase graph: per part, its degree,
    * incident-triangle count (each oriented a<b<c triangle exploded
    * row-locally to its three corners), and 2·tri/(deg·(deg−1)) in
    * floor-ppm (NULL for degree-1 nodes — no possible wedge). The
    * per-node view is what a graph-health monitor actually plots: a
    * bimodal LCC histogram is the classic clique-flood symptom the
    * global coefficient averages away. Same oriented 3-way edge join
    * as the global kernel, one extra corner explode + node agg. */
  val graphLocalClustering: QDef = q(
    "graph_local_clustering",
    s"""WITH ${coPartCtes},
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS degree
      |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
      |  GROUP BY node),
      |tc AS (
      |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tcn
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |nt AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      |  FROM (SELECT ta AS node FROM tc UNION ALL SELECT tb FROM tc
      |        UNION ALL SELECT tcn FROM tc)
      |  GROUP BY node)
      |SELECT deg.node AS part_key, degree,
      |  COALESCE(n_tri, 0) AS n_triangles,
      |  CASE WHEN degree < 2 THEN CAST(NULL AS BIGINT)
      |    ELSE CAST(COALESCE(n_tri, 0) * 2000000
      |      // (degree * (degree - 1)) AS BIGINT) END AS lcc_ppm
      |FROM deg LEFT JOIN nt ON nt.node = deg.node
      |ORDER BY part_key""") { (s, d) =>
    val e = coPartEdges(s, d)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tc = e.select(col("a").as("a1"), col("b").as("b1"))
      .join(e.select(col("a").as("a2"), col("b").as("b2")),
        col("b1") === col("a2"))
      .join(e.select(col("a").as("a3"), col("b").as("b3")),
        col("a3") === col("a1") && col("b3") === col("b2"))
      .select(col("a1").as("ta"), col("b1").as("tb"), col("b2").as("tcn"))
    val nt = tc.select(explode(array(col("ta"), col("tb"), col("tcn")))
        .as("tnode"))
      .groupBy(col("tnode")).agg(count(lit(1)).as("n_tri"))
    deg.join(nt, col("tnode") === col("node"), "left")
      .select(col("node").as("part_key"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        expr("CASE WHEN degree < 2 THEN CAST(NULL AS BIGINT)"
          + " ELSE CAST(COALESCE(n_tri, 0) * 2000000"
          + " div (degree * (degree - 1)) AS BIGINT) END").as("lcc_ppm"))
      .orderBy(col("part_key"))
  }

  /** Bipartite two-hop path census (r17) — the seventh consumer of
    * the shared trade-graph primitive (`tradeEb`): how
    * many customer–customer co-purchase pairs each supplier induces.
    * The supplier-side projection of a bipartite graph materializes
    * deg² rows per hub — the classic graph blow-up — but its SIZE is
    * pure degree combinatorics: paths2(s) = deg·(deg−1)/2. One
    * degree agg + a 1-row broadcast total; the pairs themselves are
    * NEVER enumerated (the projection-planning number an engineer
    * reads before attempting the projection at 100 TB). Top-15 hubs
    * under (paths2 DESC, suppkey). */
  val graphBipartiteTwohop: QDef = q(
    "graph_bipartite_twohop",
    s"""WITH ${tradeEbCte},
      |deg AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM eb GROUP BY sk),
      |tot AS (SELECT
      |  CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS total_paths2,
      |  CAST(COUNT(*) AS BIGINT) AS n_suppliers FROM deg)
      |SELECT sk AS suppkey, deg,
      |  CAST(deg * (deg - 1) // 2 AS BIGINT) AS paths2,
      |  total_paths2, n_suppliers
      |FROM deg CROSS JOIN tot
      |ORDER BY paths2 DESC, suppkey
      |LIMIT 15""") { (s, d) =>
    val deg = tradeEb(s, d)
      .groupBy(col("sk")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tot = deg.agg(
      sum(expr("deg * (deg - 1) div 2")).cast(LongType).as("total_paths2"),
      count(lit(1)).as("n_suppliers"))
    deg.crossJoin(broadcast(tot))
      .select(col("sk").as("suppkey"), col("deg"),
        expr("CAST(deg * (deg - 1) div 2 AS BIGINT)").as("paths2"),
        col("total_paths2"), col("n_suppliers"))
      .orderBy(col("paths2").desc, col("suppkey"))
      .limit(15)
  }

  /** Region-cut conductance (r17) — the community-quality metric over
    * the shared trade graph (eighth `tradeEb` consumer): for each
    * region's node set S (customers and suppliers whose nation is in
    * the region), conductance = cross-cut edges / min(vol(S),
    * vol(V∖S)) — the number that says whether region-sharded graph
    * processing would cut few edges. Endpoint-region tagging rides
    * two broadcast dim joins; everything after is 5-row algebra in
    * exact integers (conductance in floor-ppm, empty side guarded
    * NULL, min spelled as CASE per the decimal-least note — these
    * are BIGINTs but one spelling is one spelling). */
  val graphCutConductance: QDef = q(
    "graph_cut_conductance",
    s"""WITH ${tradeEbCte},
      |cr AS (
      |  SELECT c_custkey AS ck, r_name AS rc FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |sr AS (
      |  SELECT s_suppkey AS sk, r_name AS rs FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |e AS (
      |  SELECT cr.rc, sr.rs FROM eb
      |  JOIN cr ON eb.ck = cr.ck JOIN sr ON eb.sk = sr.sk),
      |tot AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS vol_all FROM e),
      |nc AS (SELECT rc AS region, CAST(COUNT(*) AS BIGINT) AS n_c
      |  FROM e GROUP BY rc),
      |ns AS (SELECT rs AS region, CAST(COUNT(*) AS BIGINT) AS n_s
      |  FROM e GROUP BY rs),
      |nw AS (SELECT rc AS region, CAST(COUNT(*) AS BIGINT) AS n_within
      |  FROM e WHERE rc = rs GROUP BY rc),
      |m AS (
      |  SELECT r_name AS region,
      |    COALESCE(n_within, 0) AS n_within,
      |    COALESCE(n_c, 0) + COALESCE(n_s, 0)
      |      - 2 * COALESCE(n_within, 0) AS n_cross,
      |    COALESCE(n_c, 0) + COALESCE(n_s, 0) AS vol
      |  FROM region
      |  LEFT JOIN nc ON nc.region = r_name
      |  LEFT JOIN ns ON ns.region = r_name
      |  LEFT JOIN nw ON nw.region = r_name)
      |SELECT region, n_within, n_cross, vol,
      |  CASE WHEN (CASE WHEN vol < vol_all - vol THEN vol
      |      ELSE vol_all - vol END) = 0 THEN NULL
      |    ELSE CAST(n_cross * 1000000
      |      // (CASE WHEN vol < vol_all - vol THEN vol
      |          ELSE vol_all - vol END) AS BIGINT) END AS conductance_ppm
      |FROM m CROSS JOIN tot
      |ORDER BY region""") { (s, d) =>
    val cr = Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey").as("e_ck"), col("r_name").as("rc"))
    val sr = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey").as("e_sk"), col("r_name").as("rs"))
    // r19-opt (guide §2.3, aggregate before you persist): the four
    // downstream legs (vol_all, per-region endpoint counts, within-
    // region counts) are all exact functions of the (rc, rs) COUNT
    // table — ≤|regions|² = 25 rows — so persist THAT, not the raw
    // |edges|-sized (rc, rs) projection the r18 shape cached and then
    // re-scanned four times. At 100 TB the cache shrinks from
    // edge-volume to a constant 25 rows and each leg is row-trivial.
    val e = tradeEb(s, d)
      .join(broadcast(cr), col("ck") === col("e_ck"))
      .join(broadcast(sr), col("sk") === col("e_sk"))
      .groupBy(col("rc"), col("rs")).agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tot = e.agg((sum(col("n")) * 2).as("vol_all"))
    val nc = e.groupBy(col("rc").as("nc_region"))
      .agg(sum(col("n")).cast(LongType).as("n_c"))
    val ns = e.groupBy(col("rs").as("ns_region"))
      .agg(sum(col("n")).cast(LongType).as("n_s"))
    val nw = e.filter(col("rc") === col("rs"))
      .groupBy(col("rc").as("nw_region"))
      .agg(sum(col("n")).cast(LongType).as("n_within"))
    val m = Tables.region(s, d).select(col("r_name").as("region"))
      .join(broadcast(nc), col("nc_region") === col("region"), "left")
      .join(broadcast(ns), col("ns_region") === col("region"), "left")
      .join(broadcast(nw), col("nw_region") === col("region"), "left")
      .select(col("region"),
        coalesce(col("n_within"), lit(0L)).as("n_within"),
        (coalesce(col("n_c"), lit(0L)) + coalesce(col("n_s"), lit(0L))
          - lit(2L) * coalesce(col("n_within"), lit(0L))).as("n_cross"),
        (coalesce(col("n_c"), lit(0L)) + coalesce(col("n_s"), lit(0L)))
          .as("vol"))
    m.crossJoin(broadcast(tot))
      .select(col("region"), col("n_within"), col("n_cross"), col("vol"),
        expr("CASE WHEN (CASE WHEN vol < vol_all - vol THEN vol"
          + " ELSE vol_all - vol END) = 0 THEN NULL"
          + " ELSE CAST(n_cross * 1000000"
          + " div (CASE WHEN vol < vol_all - vol THEN vol"
          + " ELSE vol_all - vol END) AS BIGINT) END").as("conductance_ppm"))
      .orderBy(col("region"))
  }

  /** Stored-edge-table contract for the graph family (r18, VERDICT
    * r17 item 2 — the `dedup_signature_store_roundtrip` pattern
    * applied): eight graph keys rebuild `tradeEb` (the DISTINCT
    * orders⋈lineitem partnership edge set) from the facts per query,
    * which is correct under the bench contract but not the 100 TB
    * posture — there the edge table is PERSISTED and incrementally
    * maintained, and nothing graded that a stored edge table equals
    * recomputation. This key (1) builds `tradeEb` (ONE spelling with
    * every graph consumer), WRITES it through the parquet sink and
    * re-reads it; (2) pins the roundtrip edge-for-edge — the full
    * outer join of stored vs recomputed counts presence drift on
    * either side, and the oracle states the contract as literal 0,
    * so ANY parquet-boundary perturbation is a loud hash failure;
    * (3) runs a real consumer off the STORED side ONLY (the degree
    * census: node counts and max degrees per partition class — the
    * stats a capacity planner reads). The oracle recomputes
    * everything from the facts, so the grade certifies
    * stored == recomputed end to end. Scale: the stored side is
    * read, never rebuilt; the audit join shuffles edge-sized rows
    * (full outer cannot broadcast); every count is a 1-row broadcast
    * fold. Edge keys are BIGINTs — parquet roundtrips them
    * losslessly by construction, which is exactly the property the
    * full-outer pin certifies rather than assumes. */
  val graphEdgeStoreRoundtrip: QDef = q(
    "graph_edge_store_roundtrip",
    s"""WITH ${tradeEbCte},
      |deg_c AS (SELECT ck, COUNT(*) AS dc FROM eb GROUP BY ck),
      |deg_s AS (SELECT sk, COUNT(*) AS ds FROM eb GROUP BY sk)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM eb) AS n_edges,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM eb) AS n_stored,
      |  CAST(0 AS BIGINT) AS n_roundtrip_mismatch,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg_c) AS n_cust,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg_s) AS n_supp,
      |  (SELECT CAST(MAX(dc) AS BIGINT) FROM deg_c) AS max_cust_deg,
      |  (SELECT CAST(MAX(ds) AS BIGINT) FROM deg_s) AS max_supp_deg""") {
    (s, d) =>
    // persist: edges is consumed TWICE — the write action below AND
    // the recomputed side of the full-outer audit — so an unpersisted
    // lineage rebuilt the orders⋈lineitem DISTINCT once per consumer
    // (r18-opt; the audit's "recomputed" side semantics are
    // unchanged: the cache holds exactly the recomputation the write
    // consumed, which is the equality under test).
    val edges = tradeEb(s, d)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the coalesce(1) write: the sink's single
    // task would otherwise narrow-collapse the orders⋈lineitem
    // DISTINCT into itself and compute it single-threaded (r19-opt —
    // measured as the dominant term of this key)
    edges.count()
    // The parquet sink + re-read IS the operator under test; the
    // write is the query's first action after the cache materializes
    // (the r17 signature-store convention). coalesce(1) +
    // in-partition sort replaces the old global sort + coalesce:
    // identical single sorted file, minus the range-sampling job and
    // range exchange the global sort planned (r18-opt).
    val out = graft.TempDirs.create("graft_edgestore")
    edges.coalesce(1).sortWithinPartitions(col("ck"), col("sk"))
      .write.mode("overwrite").parquet(out)
    val stored = s.read.parquet(out).persist(StorageLevel.MEMORY_AND_DISK)
    // r19-opt (guide §2.3/§3): the full-outer SMJ audit shuffled AND
    // sorted both edge-sized sides just to count presence drift.
    // Both sides are duplicate-free sets, so the same count is the
    // symmetric difference of a TAGGED UNION under one hash agg —
    // one exchange, no sorts, recomputed-vs-stored semantics
    // unchanged (both sides still real: the cache on one, the
    // re-read parquet on the other). coalesce: SUM over zero rows is
    // NULL but the oracle's contract is literal 0 (the r17 ADVICE
    // rule, applied from the start).
    val aMis = edges.select(col("ck"), col("sk"), lit(1L).as("a"), lit(0L).as("b"))
      .unionAll(stored.select(col("ck"), col("sk"), lit(0L).as("a"), lit(1L).as("b")))
      .groupBy(col("ck"), col("sk"))
      .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      .agg(coalesce(sum(when(col("na") === 0L || col("nb") === 0L, 1L)
        .otherwise(0L)), lit(0L)).as("n_roundtrip_mismatch"))
    val aEdges = edges.agg(count(lit(1)).as("n_edges"))
    // the consumer leg reads the STORED table only; n_stored folds
    // over the customer-degree table (Σ dc = |stored| exactly)
    // instead of a third stored scan (r19-opt)
    val degC = stored.groupBy(col("ck")).agg(count(lit(1)).as("dc"))
    val degS = stored.groupBy(col("sk")).agg(count(lit(1)).as("ds"))
    val aC = degC.agg(count(lit(1)).as("n_cust"),
      max(col("dc")).as("max_cust_deg"),
      coalesce(sum(col("dc")), lit(0L)).as("n_stored"))
    val aS = degS.agg(count(lit(1)).as("n_supp"),
      max(col("ds")).as("max_supp_deg"))
    aEdges.crossJoin(broadcast(aMis))
      .crossJoin(broadcast(aC)).crossJoin(broadcast(aS))
      .select(col("n_edges"), col("n_stored"), col("n_roundtrip_mismatch"),
        col("n_cust"), col("n_supp"), col("max_cust_deg"),
        col("max_supp_deg"))
  }

  /** Adamic–Adar link prediction (r18) — the hub-discounted
    * common-neighbor score next to `graph_jaccard_neighbors` (raw
    * overlap): AA(a,b) = Σ_{p ∈ N(a)∩N(b)} 1/ln(deg p) over the
    * supplier→part supply graph, the standard "which link forms
    * next" ranking where a part supplied by everyone contributes
    * almost nothing and a rare co-supplied part a lot. Per-part
    * weight is floor-micro-quantized BEFORE summing
    * (floor(10⁶/ln(deg)) — ONE float op per part on identical
    * integer input, then exact BIGINT sums, so the cross-engine sum
    * order cannot drift a bit). Same wedge machinery as the Jaccard
    * twin: one shuffle to per-part sorted adjacency, codegen'd
    * `graft_ordered_pairs` enumerates each part's C(d,2) pairs
    * row-locally — cost follows wedge count, never supplier². Same
    * 100 TB hub guard applies (cap/salt parts above a degree
    * ceiling). Top-50 by score is TakeOrdered. */
  val graphAdamicAdar: QDef = q(
    "graph_adamic_adar",
    """WITH sp AS (
      |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
      |pdeg AS (SELECT pk, COUNT(*) AS pd FROM sp GROUP BY pk),
      |w AS (
      |  SELECT pk,
      |    CAST(floor(1000000.0 / ln(CAST(pd AS DOUBLE))) AS BIGINT) AS w
      |  FROM pdeg WHERE pd >= 2)
      |SELECT a.sk AS supp_a, b.sk AS supp_b,
      |  CAST(COUNT(*) AS BIGINT) AS common,
      |  CAST(SUM(w.w) AS BIGINT) AS aa_micro
      |FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk
      |JOIN w ON w.pk = a.pk
      |GROUP BY a.sk, b.sk
      |ORDER BY aa_micro DESC, supp_a, supp_b
      |LIMIT 50""") { (s, d) =>
    import graft.functions.VectorFunctions.orderedPairs
    // repartition(pk) BEFORE the set agg (r19-opt, guide §2.5 input
    // parallelism): the fixture fact is one parquet split, so the
    // partial collect_set built every adjacency set inside the
    // single scan task; pk-hash first spreads set-building across
    // the session width and the agg plans exchange-free on top
    val adj = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .repartition(col("pk"))
      .groupBy(col("pk"))
      .agg(sort_array(collect_set(col("sk"))).as("sks"))
      .filter(size(col("sks")) >= 2)
      .select(col("sks"),
        floor(lit(1000000.0) / log(size(col("sks")).cast(DoubleType)))
          .cast(LongType).as("w"))
    adj.select(explode(orderedPairs(col("sks"))).as("p"), col("w"))
      .groupBy(col("p.a").as("supp_a"), col("p.b").as("supp_b"))
      .agg(count(lit(1)).as("common"), sum(col("w")).as("aa_micro"))
      .orderBy(col("aa_micro").desc, col("supp_a"), col("supp_b"))
      .limit(50)
  }

  /** Incremental edge-store maintenance (r18) — the daily-run
    * companion to `graph_edge_store_roundtrip` (which certifies the
    * store equals recomputation): the PRIOR half of orders
    * (md5-parity on o_orderkey, the house snapshot convention)
    * builds the stored edge table through the parquet sink; the
    * increment half's edges classify against the STORED side only
    * (anti-join = genuinely new partnerships, semi-join = already
    * known), and the merged store is pinned against a full rebuild
    * from ALL orders — the oracle states merged_minus_full as
    * literal 0, so the incremental-maintenance identity
    * stored ∪ increment ≡ rebuild is a hash-graded contract, not an
    * assumption. At 100 TB the daily cost follows the increment and
    * the store is read, never rebuilt; the rebuild leg here is the
    * eval tier that certifies the identity. */
  val graphEdgeStoreIncremental: QDef = q(
    "graph_edge_store_incremental",
    """WITH po AS (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7'),
      |io AS (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) > '7'),
      |ebp AS (
      |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      |  FROM po JOIN lineitem ON o_orderkey = l_orderkey),
      |ebi AS (
      |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      |  FROM io JOIN lineitem ON o_orderkey = l_orderkey),
      |ebf AS (
      |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |nw AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_new FROM ebi
      |  WHERE NOT EXISTS (SELECT 1 FROM ebp
      |    WHERE ebp.ck = ebi.ck AND ebp.sk = ebi.sk))
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ebp) AS n_stored,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ebi) AS n_increment,
      |  (SELECT n_new FROM nw) AS n_new,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ebi) - (SELECT n_new FROM nw)
      |    AS n_dup,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ebp) + (SELECT n_new FROM nw)
      |    AS n_merged,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ebf) AS n_full_rebuild,
      |  CAST(0 AS BIGINT) AS merged_minus_full""") { (s, d) =>
    val isPriorO =
      substring(md5(col("o_orderkey").cast(StringType)), 1, 1) <= "7"
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    // r19-opt (guide §1.2/§2.3): the r18 spelling ran the
    // orders⋈lineitem join + a DISTINCT agg THREE times (prior,
    // increment, full-rebuild legs — measured 2.7-3.3 s steady-state
    // at sf0.1). The md5-parity halves PARTITION orders, so ONE
    // tagged pass computes all three sets exactly: group the single
    // join by (ck, sk) with per-pair hasPrior/hasIncr flags —
    // ebp = σ(hasPrior), ebi = σ(hasIncr), and the full rebuild is
    // the whole pair table (distinct over a union of a partition =
    // the same set). The STORE semantics are unchanged: prior edges
    // still go THROUGH the parquet sink and the increment still
    // classifies by anti-join against the RE-READ stored side only.
    val g = orders
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"),
        when(isPriorO, 1L).otherwise(0L).as("p"))
      .groupBy(col("ck"), col("sk"))
      .agg(max(col("p")).as("has_p"), max(lit(1L) - col("p")).as("has_i"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the pair table BEFORE the coalesce(1) write: the
    // sink's single task would otherwise narrow-collapse the whole
    // join+agg lineage into itself and compute it single-threaded
    // (r19-opt — measured as the dominant term of this key)
    g.count()
    val out = graft.TempDirs.create("graft_edgestore_inc")
    // coalesce(1) + in-partition sort: identical single sorted file,
    // minus the global sort's range-sampling job + exchange (r18-opt,
    // the roundtrip twin's spelling).
    g.filter(col("has_p") === 1L).select(col("ck"), col("sk"))
      .coalesce(1).sortWithinPartitions(col("ck"), col("sk"))
      .write.mode("overwrite").parquet(out)
    val stored = s.read.parquet(out).persist(StorageLevel.MEMORY_AND_DISK)
    val ebi = g.filter(col("has_i") === 1L).select(col("ck"), col("sk"))
    val st = stored.select(col("ck").as("s_ck"), col("sk").as("s_sk"))
    val aNew = ebi.join(st,
        col("ck") === col("s_ck") && col("sk") === col("s_sk"), "left_anti")
      .agg(count(lit(1)).as("n_new"))
    val aStored = stored.agg(count(lit(1)).as("n_stored"))
    // increment and full-rebuild counts fold over the ONE pair table
    val aRest = g.agg(coalesce(sum(col("has_i")), lit(0L)).as("n_increment"),
      count(lit(1)).as("n_full_rebuild"))
    aStored.crossJoin(broadcast(aRest)).crossJoin(broadcast(aNew))
      .select(col("n_stored"), col("n_increment"), col("n_new"),
        (col("n_increment") - col("n_new")).as("n_dup"),
        (col("n_stored") + col("n_new")).as("n_merged"),
        col("n_full_rebuild"),
        (col("n_stored") + col("n_new") - col("n_full_rebuild"))
          .as("merged_minus_full"))
  }

  /** Rich-club density (r18b) — do the highest-degree customers and
    * suppliers trade disproportionately with EACH OTHER? Over the
    * shared `tradeEb` bipartite edge set (ONE spelling with the
    * eight graph-family consumers): top-20 customers and top-20
    * suppliers by distinct-partner degree (deterministic (deg DESC,
    * key) order), the edge density among them vs the overall
    * bipartite density, and the rich-club ratio in milli. The top
    * sets are TakeOrdered(20) global sort-limits; the rich-edge
    * count is one broadcast double-semijoin over eb — never an
    * all-pairs anything. */
  val graphRichClub: QDef = q(
    "graph_rich_club",
    s"""WITH ${tradeEbCte},
      |cd AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS deg FROM eb
      |  GROUP BY ck),
      |sd AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS deg FROM eb
      |  GROUP BY sk),
      |topc AS (SELECT ck FROM cd ORDER BY deg DESC, ck LIMIT 20),
      |tops AS (SELECT sk FROM sd ORDER BY deg DESC, sk LIMIT 20),
      |tot AS (
      |  SELECT CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_cust,
      |    CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_supp,
      |    CAST(COUNT(*) AS BIGINT) AS n_edges
      |  FROM eb),
      |rich AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS rich_edges
      |  FROM eb JOIN topc ON topc.ck = eb.ck
      |    JOIN tops ON tops.sk = eb.sk)
      |SELECT tot.n_cust, tot.n_supp, tot.n_edges, rich.rich_edges,
      |  CAST(400 AS BIGINT) AS rich_possible,
      |  CAST(rich.rich_edges * 1000000 // 400 AS BIGINT)
      |    AS rich_density_ppm,
      |  CAST(tot.n_edges * 1000000 // (tot.n_cust * tot.n_supp)
      |    AS BIGINT) AS overall_density_ppm,
      |  CAST((rich.rich_edges * 1000000 // 400) * 1000
      |    // (tot.n_edges * 1000000 // (tot.n_cust * tot.n_supp))
      |    AS BIGINT) AS rich_club_ratio_milli
      |FROM tot CROSS JOIN rich""") { (s, d) =>
    // r19 batch 3 (guide §2.3): tot's two-distinct aggregate planned
    // an Expand over the ~587k-row eb cache (3× the rows through a
    // partial agg). The degree tables needed for the top-20 cuts
    // already determine every total exactly: n_cust = |cd|, n_supp =
    // |sd|, n_edges = Σ cd.deg (eb is duplicate-free) — so persist
    // the two node-sized degree tables and fold them instead.
    val eb = tradeEb(s, d).persist()
    val cd = eb.groupBy(col("ck")).agg(count(lit(1)).as("deg")).persist()
    val sd = eb.groupBy(col("sk")).agg(count(lit(1)).as("deg")).persist()
    val topc = cd.orderBy(col("deg").desc, col("ck")).limit(20).select(col("ck"))
    val tops = sd.orderBy(col("deg").desc, col("sk")).limit(20).select(col("sk"))
    val tot = cd.agg(count(lit(1)).as("n_cust"), sum(col("deg")).cast(LongType).as("n_edges"))
      .crossJoin(broadcast(sd.agg(count(lit(1)).as("n_supp"))))
      .select(col("n_cust"), col("n_supp"), col("n_edges"))
    val rich = eb.join(broadcast(topc.select(col("ck").as("t_ck"))),
        col("t_ck") === col("ck"))
      .join(broadcast(tops.select(col("sk").as("t_sk"))),
        col("t_sk") === col("sk"))
      .agg(count(lit(1)).as("rich_edges"))
    tot.crossJoin(broadcast(rich))
      .select(col("n_cust"), col("n_supp"), col("n_edges"),
        col("rich_edges"), lit(400L).as("rich_possible"),
        expr("rich_edges * 1000000 div 400").as("rich_density_ppm"),
        expr("n_edges * 1000000 div (n_cust * n_supp)")
          .as("overall_density_ppm"),
        expr("(rich_edges * 1000000 div 400) * 1000"
          + " div (n_edges * 1000000 div (n_cust * n_supp))")
          .as("rich_club_ratio_milli"))
  }

  val all: Seq[QDef] = Seq(dedupClusterCc, graphDegreeStats, graphPagerank,
    graphTriangleCount, basketAssocRules, dedupClusterStar,
    graphJaccardNeighbors, graphBfsLevels, graphLabelPropagation,
    graphKCore, graphDegreeAssortativity, graphHitsScores,
    graphModularityNations, graphLocalClustering, graphBipartiteTwohop,
    graphCutConductance, graphEdgeStoreRoundtrip, graphAdamicAdar,
    graphEdgeStoreIncremental, graphRichClub)
}
