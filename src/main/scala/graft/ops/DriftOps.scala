package graft.ops

import graft.{PartitionPolicy, QDef, Tables}
import graft.QDef.q
import graft.Protocol._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window

/** Distribution-drift monitors (r11c) — the checks a production
  * training-data pipeline runs between ingest batches: has the value
  * distribution moved, have the embeddings moved? Both are graded
  * with exact integer statistics (counts, floor-ppm shares, milli-
  * quantized component sums), so the monitors hash-match the oracle
  * bit-for-bit; no KL/PSI logarithms appear because libm `ln` is not
  * correctly-rounded across engines — the per-bin deltas carry the
  * same signal.
  */
object DriftOps {

  /** Value-histogram drift: events bucketed into 10 fixed-width
    * cents bins, first half-month (ref) vs second (cur), per-bin
    * counts + floor-ppm shares + delta. Two aggregate passes over
    * the fact (cohort is a row-local projection, never a join); the
    * bin scaffold is a literal 10-row range so empty bins surface as
    * zeros instead of vanishing. At 100 TB: shuffles carry
    * 2×10 partial rows per map task — nothing scales with data. */
  val driftValueHistogram: QDef = q(
    "drift_value_histogram",
    """WITH e AS (
      |  SELECT CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents,
      |    CASE WHEN CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS INT) <= 15
      |      THEN 'ref' ELSE 'cur' END AS cohort
      |  FROM events),
      |b AS (
      |  SELECT cohort, LEAST(9, GREATEST(0, cents // 5000)) AS bin,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY cohort, LEAST(9, GREATEST(0, cents // 5000))),
      |t AS (SELECT cohort, CAST(sum(n) AS BIGINT) AS tot FROM b GROUP BY cohort),
      |bins AS (SELECT unnest(range(0, 10)) AS bin)
      |SELECT bins.bin,
      |  COALESCE(r.n, 0) AS n_ref, COALESCE(c.n, 0) AS n_cur,
      |  COALESCE((r.n * 1000000) // rt.tot, 0) AS ref_ppm,
      |  COALESCE((c.n * 1000000) // ct.tot, 0) AS cur_ppm,
      |  COALESCE((c.n * 1000000) // ct.tot, 0)
      |    - COALESCE((r.n * 1000000) // rt.tot, 0) AS delta_ppm
      |FROM bins
      |LEFT JOIN b r ON r.cohort = 'ref' AND r.bin = bins.bin
      |LEFT JOIN b c ON c.cohort = 'cur' AND c.bin = bins.bin
      |LEFT JOIN t rt ON rt.cohort = 'ref'
      |LEFT JOIN t ct ON ct.cohort = 'cur'
      |ORDER BY bins.bin""") { (s, d) =>
    val e = Tables.events(s, d).select(
      (qty(col("value")) * 100).cast(LongType).as("cents"),
      when(dayofmonth(col("ts")) <= 15, "ref").otherwise("cur").as("cohort"))
    // GREATEST(0, ·) clamp (ADVICE r11; premise corrected r15: DuckDB
    // 1.0.0's integer `//` truncates exactly like `div`, so the
    // engines agree even on negatives) — kept because trunc division
    // would fold negative cents into bin 0 silently; the clamp makes
    // the sub-zero bin an explicit, documented decision on both sides.
    val b = e.groupBy(col("cohort"),
        least(lit(9L), greatest(lit(0L), expr("cents div 5000"))).as("bin"))
      .agg(count(lit(1)).as("n"))
    val t = b.groupBy(col("cohort")).agg(sum(col("n")).as("tot"))
    val bins = s.range(0, 10).select(col("id").as("bin"))
    val r = b.filter(col("cohort") === "ref").select(col("bin").as("rb"), col("n").as("rn"))
    val c = b.filter(col("cohort") === "cur").select(col("bin").as("cb"), col("n").as("cn"))
    val rt = t.filter(col("cohort") === "ref").select(col("tot").as("rtot"))
    val ct = t.filter(col("cohort") === "cur").select(col("tot").as("ctot"))
    // LEFT joins on lit(true), not crossJoin (ADVICE r11): if a cohort
    // is empty (all timestamps in one half-month), a crossJoin with
    // its empty one-row total table would annihilate all 10 scaffold
    // bins, while the oracle's LEFT JOIN keeps them with COALESCE'd
    // zeros. The left join preserves the scaffold; the NULL total
    // makes each ppm NULL → coalesced 0, matching the oracle.
    bins.join(broadcast(r), col("bin") === col("rb"), "left")
      .join(broadcast(c), col("bin") === col("cb"), "left")
      .join(broadcast(rt), lit(true), "left")
      .join(broadcast(ct), lit(true), "left")
      .select(col("bin"),
        coalesce(col("rn"), lit(0L)).as("n_ref"),
        coalesce(col("cn"), lit(0L)).as("n_cur"),
        coalesce(expr("(rn * 1000000) div rtot"), lit(0L)).as("ref_ppm"),
        coalesce(expr("(cn * 1000000) div ctot"), lit(0L)).as("cur_ppm"),
        (coalesce(expr("(cn * 1000000) div ctot"), lit(0L))
          - coalesce(expr("(rn * 1000000) div rtot"), lit(0L))).as("delta_ppm"))
      .orderBy(col("bin"))
  }

  /** Embedding-centroid drift: per label, the cosine between the
    * even-id and odd-id cohorts' centroid directions. Components are
    * milli-quantized (floor(x·1000 + 0.5) — the same portable
    * half-up `embed_quantize_int8` uses), summed per (label, cohort,
    * position) as exact longs, reduced to FLOOR-MEAN centroid
    * components (r13 — cohort-size-invariant |ce| ≤ 1000, keeping
    * every downstream sum exact far below 2^53 at any scale), and
    * the cosine is ONE identical float expression tree over those
    * exact integers — bit-equal across engines. Scale-aware: the dimension explode shuffles
    * labels×cohorts×dims partial rows (map-side combined), never
    * vectors; the cohort pairing joins tables of that same bounded
    * size. Positions are engine-local (0- vs 1-based) — they only
    * pair sums within an engine and never reach the output. */
  val driftEmbeddingCentroid: QDef = q(
    "drift_embedding_centroid",
    """WITH q AS (
      |  SELECT vec_id, label, vec_id % 2 AS cohort, t.pos AS pos,
      |    CAST(floor(CAST(embedding[t.pos] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS milli
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
      |c AS (
      |  SELECT label, cohort, pos, CAST(sum(milli) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM q GROUP BY label, cohort, pos),
      |pairs AS (
      |  SELECT a.label, a.pos, a.s AS se, b.s AS so, a.n AS ne, b.n AS no_
      |  FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
      |  WHERE a.cohort = 0 AND b.cohort = 1),
      |cent AS (
      |  SELECT label, pos, ne, no_,
      |    (se - ((se % ne) + ne) % ne) // ne AS ce,
      |    (so - ((so % no_) + no_) % no_) // no_ AS co
      |  FROM pairs),
      |dots AS (
      |  SELECT label, CAST(min(ne) AS BIGINT) AS n_even, CAST(min(no_) AS BIGINT) AS n_odd,
      |    CAST(sum(ce * co) AS DOUBLE) AS dot,
      |    CAST(sum(ce * ce) AS DOUBLE) AS ee, CAST(sum(co * co) AS DOUBLE) AS oo
      |  FROM cent GROUP BY label)
      |SELECT label, n_even, n_odd, dot / (sqrt(ee) * sqrt(oo)) AS centroid_cosine
      |FROM dots ORDER BY label""") { (s, d) =>
    // defaultParallelism, not a hardcoded 32 (ADVICE r11): the
    // pre-explode spread should track the session's actual
    // parallelism, not bake a magic width into the plan.
    val qv = Tables.embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"), (col("vec_id") % 2).as("cohort"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("cohort"), col("pos"),
        floor(col("x").cast(DoubleType) * 1000 + 0.5).cast(LongType).as("milli"))
    val c = qv.groupBy(col("label"), col("cohort"), col("pos"))
      .agg(sum(col("milli")).as("s"), count(lit(1)).as("n"))
    val even = c.filter(col("cohort") === 0)
      .select(col("label"), col("pos"), col("s").as("se"), col("n").as("ne"))
    val odd = c.filter(col("cohort") === 1)
      .select(col("label").as("l2"), col("pos").as("p2"),
        col("s").as("so"), col("n").as("no_"))
    // r13 range-safe rescale: the r12 form summed se·so products of
    // raw component SUMS through DECIMAL(38,0) and cast the result to
    // DOUBLE — a sum that grows with cohort-size² and lands in DuckDB
    // 1.0.0's int128→DOUBLE 1-ulp misround zone above ~2^63 (PLANS.md,
    // measured). The cosine is now taken between the FLOOR-MEAN
    // centroid vectors (milli-mean per position, exact floor division
    // spelled (s − pmod(s, n)) div n because Spark's `div` truncates
    // toward zero while DuckDB's `//` floors — they disagree on
    // negative sums): |ce| ≤ 1000 regardless of cohort size, so every
    // sum below is ≤ dims·1e6 ≈ 6.4e7 — exact in both engines at ANY
    // scale, no wide decimal ever reaching a float cast.
    even.join(odd, col("label") === col("l2") && col("pos") === col("p2"))
      .select(col("label"), col("ne"), col("no_"),
        expr("(se - pmod(se, ne)) div ne").as("ce"),
        expr("(so - pmod(so, no_)) div no_").as("co"))
      .groupBy(col("label"))
      .agg(min(col("ne")).as("n_even"), min(col("no_")).as("n_odd"),
        sum(col("ce") * col("co")).as("dotl"),
        sum(col("ce") * col("ce")).as("eel"),
        sum(col("co") * col("co")).as("ool"))
      .select(col("label"), col("n_even"), col("n_odd"),
        (col("dotl").cast(DoubleType)
          / (sqrt(col("eel").cast(DoubleType)) * sqrt(col("ool").cast(DoubleType))))
          .as("centroid_cosine"))
      .orderBy(col("label"))
  }

  /** Chi-square independence audit (r12) — is document source
    * independent of language? The composition monitor a corpus
    * pipeline alarms on (a source suddenly feeding one language =
    * scraper drift), and the classic feature-relevance statistic.
    * Determinism: no logarithms — each cell's contribution is the
    * rational ((O·N − rt·ct)²) / (N·rt·ct), whose square/division are
    * single correctly-rounded IEEE ops on exactly-representable
    * integer operands (products stay far below 2^53 at graded SFs),
    * then the established per-term DECIMAL(28,18) quantization +
    * exact sum + milli-unit floor makes the per-lang total order-
    * independent across engines. EMPTY cells are scaffolded in (a
    * zero-observation cell still contributes E = rt·ct/N) via the
    * cross of the two tiny marginal tables — at 100 TB the scaffold
    * is |langs|×|sources|, nothing scales with the corpus: one
    * wordcount-shaped shuffle to the contingency table, broadcast
    * marginals after. */
  val statsChiSquare: QDef = q(
    "stats_chi_square",
    """WITH o AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
      |  FROM documents GROUP BY lang, source),
      |rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS rtot FROM o GROUP BY lang),
      |ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS ctot FROM o GROUP BY source),
      |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS ntot FROM o),
      |cells AS (
      |  SELECT rt.lang, rt.rtot, ct.source, ct.ctot,
      |    COALESCE(o.obs, 0) AS obs, n.ntot
      |  FROM rt CROSS JOIN ct CROSS JOIN n
      |  LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source),
      |terms AS (
      |  SELECT lang, rtot,
      |    CAST(CAST(obs * ntot - rtot * ctot AS DOUBLE)
      |      * CAST(obs * ntot - rtot * ctot AS DOUBLE)
      |      / (CAST(ntot AS DOUBLE) * rtot * ctot)
      |      AS DECIMAL(28,18)) AS term
      |  FROM cells)
      |SELECT lang, rtot AS n_docs,
      |  CAST(floor(CAST(SUM(term) AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |    AS chi2_part_milli
      |FROM terms GROUP BY lang, rtot
      |ORDER BY lang""") { (s, d) =>
    val o = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rt = o.groupBy(col("lang")).agg(sum(col("obs")).cast(LongType).as("rtot"))
    val ct = o.groupBy(col("source")).agg(sum(col("obs")).cast(LongType).as("ctot"))
    val n = o.agg(sum(col("obs")).cast(LongType).as("ntot"))
    val cells = rt.crossJoin(broadcast(ct)).crossJoin(broadcast(n))
      .join(o.select(col("lang").as("ol"), col("source").as("os"), col("obs")),
        col("ol") === col("lang") && col("os") === col("source"), "left")
      .select(col("lang"), col("rtot"),
        coalesce(col("obs"), lit(0L)).as("obs"), col("ntot"), col("ctot"))
    cells
      .withColumn("term", expr(
        """CAST(CAST(obs * ntot - rtot * ctot AS DOUBLE)
          |  * CAST(obs * ntot - rtot * ctot AS DOUBLE)
          |  / (CAST(ntot AS DOUBLE) * rtot * ctot)
          |  AS DECIMAL(28,18))""".stripMargin))
      .groupBy(col("lang"), col("rtot"))
      .agg(sum(col("term")).as("t"))
      .select(col("lang"), col("rtot").as("n_docs"),
        floor(col("t").cast(DoubleType) * 1000 + 0.5).cast(LongType)
          .as("chi2_part_milli"))
      .orderBy(col("lang"))
  }

  /** Dominant principal component of the embedding cloud (r12b) —
    * two fixed rounds of power iteration on the (uncentered) Gram
    * matrix, the monitoring twin of drift_embedding_centroid: a
    * shifting top component is the first symptom of an embedding
    * regime change. The Spark plan is MATRIX-FREE — the Gram matrix
    * is never materialized: each round computes the per-row scalar
    * s_r = ⟨m_r, v⟩ with the codegen'd `graft_dot_long` against the
    * broadcast dim-sized v (row-local, zero shuffle), then one
    * dim-keyed hash agg for u_i = Σ_r m_ri·s_r — shuffle carries
    * |dims| partials per map task regardless of corpus size. That is
    * the standard distributed power-iteration/PCA shape at 100 TB.
    * Determinism: embeddings quantize to milli ints, every product
    * and sum stays in BIGINT (magnitude audit: |m|≤578 quantized,
    * s ≤ 64·578·1000 ≈ 3.7e7, u ≤ rows·578·s ≈ 4.3e13 at sf0.1 —
    * far inside 2^63), and the per-round renormalization is the
    * sign-safe floor division used by win_pct_change (Spark `div`
    * truncates, DuckDB `//` floors — they agree only after the
    * CASE-decomposition on sign). The oracle spells the same
    * iteration as explicit join-aggregates over the exploded
    * (vec_id, pos, m) table — two independent formulations, one
    * exact-integer answer. */
  val embedTopComponent: QDef = q(
    "embed_top_component",
    """WITH e AS (
      |  SELECT vec_id, t.pos AS pos,
      |    CAST(floor(CAST(embedding[t.pos] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS m
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
      |s1 AS (
      |  SELECT vec_id, CAST(SUM(m * 1000) AS BIGINT) AS s FROM e GROUP BY vec_id),
      |u1 AS (
      |  SELECT e.pos, CAST(SUM(e.m * s1.s) AS BIGINT) AS u
      |  FROM e JOIN s1 USING (vec_id) GROUP BY e.pos),
      |m1 AS (SELECT GREATEST(CAST(MAX(abs(u)) AS BIGINT), 1) AS mx FROM u1),
      |v1 AS (
      |  SELECT pos,
      |    CASE WHEN u < 0 THEN -((-u * 1000) // mx) ELSE (u * 1000) // mx END AS v
      |  FROM u1, m1),
      |s2 AS (
      |  SELECT e.vec_id, CAST(SUM(e.m * v1.v) AS BIGINT) AS s
      |  FROM e JOIN v1 USING (pos) GROUP BY e.vec_id),
      |u2 AS (
      |  SELECT e.pos, CAST(SUM(e.m * s2.s) AS BIGINT) AS u
      |  FROM e JOIN s2 USING (vec_id) GROUP BY e.pos),
      |m2 AS (SELECT GREATEST(CAST(MAX(abs(u)) AS BIGINT), 1) AS mx FROM u2)
      |SELECT CAST(pos AS BIGINT) AS pos,
      |  CAST(CASE WHEN u < 0 THEN -((-u * 1000) // mx) ELSE (u * 1000) // mx END
      |    AS BIGINT) AS v_milli
      |FROM u2, m2
      |ORDER BY pos""") { (s, d) =>
    import graft.functions.VectorFunctions.longDot
    val base = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("marr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // v0 = all-ones (milli): constant array, length taken from any row
    val v0 = base.limit(1)
      .select(expr("transform(marr, x -> 1000L)").as("varr"))
    // one round: u_i = Σ_r m_ri · ⟨m_r, v⟩, then sign-safe renorm to milli
    def round(vTbl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val u = base.crossJoin(broadcast(vTbl))
        .select(col("marr"), longDot(col("marr"), col("varr")).as("s"))
        .select(posexplode(col("marr")).as(Seq("pos0", "m")), col("s"))
        .groupBy(col("pos0")).agg(sum(col("m") * col("s")).as("u"))
      val mx = u.agg(greatest(max(abs(col("u"))), lit(1L)).as("mx"))
      u.crossJoin(broadcast(mx))
        .select(col("pos0"), expr(
          "CASE WHEN u < 0 THEN -((-u * 1000L) div mx) ELSE (u * 1000L) div mx END")
          .as("v"))
    }
    def pack(vRows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      vRows.agg(expr("sort_array(collect_list(struct(pos0, v)))").as("sv"))
        .select(expr("transform(sv, e -> e.v)").as("varr"))
    val v2 = round(pack(round(v0)))
    v2.select((col("pos0") + 1).cast(LongType).as("pos"),
        col("v").cast(LongType).as("v_milli"))
      .orderBy(col("pos"))
  }

  /** Pairwise-cosine histogram per label (r12b) — the similarity-
    * distribution monitor a dedup/clustering pipeline watches: a mass
    * shift toward bucket 9–10 means near-duplicate contamination, a
    * flattening means the embedding space is collapsing. Pairs are
    * label-blocked (the dedup_near_embedding discipline — never
    * all-pairs: per-label C(n,2), which at 100 TB becomes the
    * LSH-bucketed estimate with the same histogram shape). Cosines
    * ride the fused codegen expression, protocol-rounded to 6
    * decimals, then decile-bucketed by floor — both engines bucket
    * identical doubles identically. */
  val embedCosineHistogram: QDef = q(
    "embed_cosine_histogram",
    s"""WITH p AS (
      |  SELECT a.label,
      |    CAST(floor(${graft.ops.VecMath.sqlCosine("a.embedding", "b.embedding")}
      |      * 10) AS BIGINT) AS bucket
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT label, bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM p GROUP BY label, bucket
      |ORDER BY label, bucket""") { (s, d) =>
    import graft.ops.VecMath.fcosine
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = e.select(col("vec_id").as("va"), col("label"),
      col("embedding").as("ea"))
    // spread the probe side (one-file scan = one partition) — the
    // pair join itself is label-blocked
    val b = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("vb"), col("label").as("lb"),
        col("embedding").as("eb"))
    b.join(broadcast(a), col("label") === col("lb") && col("va") < col("vb"))
      .select(col("label"),
        floor(fcosine(col("ea"), col("eb")) * 10).cast(LongType).as("bucket"))
      .groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("label"), col("bucket"))
  }

  /** One-sided CUSUM drift alarm (r12c) — the sequential change
    * detector the histogram monitors can't replace (it accumulates
    * small persistent shifts that never trip a per-day threshold).
    * Per event type over daily cents totals: C_t = max(0, C_{t-1} +
    * (x_t − μ)) via its windowed closed form C_t = S_t − min(0,
    * min_{k≤t} S_k) — two frames over the same per-type day order, no
    * recursion, all integer. μ is the per-type floor mean (totals
    * positive ⇒ truncate = floor on both engines); the alarm
    * threshold is one mean day's volume. Windows partition by type
    * over the DAY-level aggregate — width follows days, never raw
    * events. */
  val tsCusumAlarm: QDef = q(
    "ts_cusum_alarm",
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu,
      |    CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY event_type),
      |s AS (
      |  SELECT daily.event_type, day, mu, n_days,
      |    SUM(cents - mu) OVER (PARTITION BY daily.event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM daily JOIN m ON daily.event_type = m.event_type),
      |c AS (
      |  SELECT event_type, mu, n_days,
      |    run - LEAST(0, MIN(run) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      |  FROM s)
      |SELECT event_type,
      |  CAST(MAX(n_days) AS BIGINT) AS n_days,
      |  CAST(MAX(mu) AS BIGINT) AS mu_cents,
      |  CAST(MAX(cusum) AS BIGINT) AS max_cusum,
      |  CAST(SUM(CASE WHEN cusum > mu THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_alarm_days
      |FROM c GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (qty(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("cents"))
    val m = daily.groupBy(col("event_type"))
      .agg(expr("CAST(sum(cents) div count(*) AS BIGINT)").as("mu"),
        count(lit(1)).as("n_days"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = daily.join(broadcast(m), "event_type")
      .select(col("event_type"), col("day"), col("mu"), col("n_days"),
        sum(col("cents") - col("mu")).over(w).as("run"))
      .select(col("event_type"), col("mu"), col("n_days"),
        (col("run") - least(lit(0L), min(col("run")).over(w))).as("cusum"))
    cus.groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"), max(col("mu")).as("mu_cents"),
        max(col("cusum")).as("max_cusum"),
        sum(when(col("cusum") > col("mu"), 1L).otherwise(0L))
          .as("n_alarm_days"))
      .orderBy(col("event_type"))
  }

  /** Jensen–Shannon divergence between cohort unigram distributions
    * (r12c) — the symmetric, bounded corpus-drift number PSI/KL
    * dashboards quote; cohorts are even/odd doc_id halves. Float
    * discipline is text_term_entropy's: each term's ln is rounded to
    * 6 digits then quantized to DECIMAL(28,6) and multiplied by the
    * INTEGER term count, so both cohort sums are exact decimal (no
    * float accumulation order), and the output edge is one
    * identically-spelled float tree. The ln argument 2p/(p+q) is
    * cleared of its inner divisions: with a = cp·Nq and b = cq·Np
    * (exact BIGINTs < 2⁵³) it is 2a/(a+b) — one exact-input double
    * division per term per side. Terms absent from one cohort
    * contribute only to the other (0·ln 0 = 0), scaffolded by a full
    * outer term join. Shuffles carry (cohort, term) partials —
    * vocabulary-sized, never the token stream. */
  val driftUnigramJsd: QDef = q(
    "drift_unigram_jsd",
    """WITH tok AS (
      |  SELECT doc_id % 2 AS coh, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT coh, term, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY coh, term),
      |n AS (SELECT coh, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY coh),
      |p AS (SELECT term, c AS cp FROM tf WHERE coh = 0),
      |qq AS (SELECT term AS tq, c AS cq FROM tf WHERE coh = 1),
      |j AS (
      |  SELECT COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
      |  FROM p FULL OUTER JOIN qq ON p.term = qq.tq),
      |np AS (SELECT n AS np FROM n WHERE coh = 0),
      |nq AS (SELECT n AS nq FROM n WHERE coh = 1),
      |t AS (
      |  SELECT cp, cq, cp * nq AS a, cq * np AS b FROM j, np, nq),
      |s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN cp > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_terms_ref,
      |    CAST(SUM(CASE WHEN cq > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_terms_cur,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms_union,
      |    SUM(CASE WHEN cp > 0 THEN CAST(cp AS DECIMAL(12,0))
      |      * CAST(ROUND(ln(2.0 * a / (a + b)), 6) AS DECIMAL(28,6)) END)
      |      AS sp,
      |    SUM(CASE WHEN cq > 0 THEN CAST(cq AS DECIMAL(12,0))
      |      * CAST(ROUND(ln(2.0 * b / (a + b)), 6) AS DECIMAL(28,6)) END)
      |      AS sq
      |  FROM t)
      |SELECT n_terms_ref, n_terms_cur, n_terms_union,
      |  (SELECT np FROM np) AS n_tokens_ref,
      |  (SELECT nq FROM nq) AS n_tokens_cur,
      |  0.5 * (CAST(sp AS DOUBLE) / (SELECT np FROM np)
      |       + CAST(sq AS DOUBLE) / (SELECT nq FROM nq)) AS jsd_nats
      |FROM s""") { (s, d) =>
    val tok = Tables.documents(s, d)
      .select((col("doc_id") % 2).as("coh"),
        explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("coh"), col("term"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = tf.groupBy(col("coh")).agg(sum(col("c")).cast(LongType).as("n"))
    val p = tf.filter(col("coh") === 0).select(col("term"), col("c").as("cp"))
    val qd = tf.filter(col("coh") === 1)
      .select(col("term").as("tq"), col("c").as("cq"))
    val j = p.join(qd, col("term") === col("tq"), "full")
      .select(coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cq"), lit(0L)).as("cq"))
    val np = n.filter(col("coh") === 0).select(col("n").as("np"))
    val nq = n.filter(col("coh") === 1).select(col("n").as("nq"))
    val t = j.crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      .select(col("cp"), col("cq"), col("np"), col("nq"),
        (col("cp") * col("nq")).as("a"), (col("cq") * col("np")).as("b"))
    def lnTerm(num: org.apache.spark.sql.Column) =
      round(log(lit(2.0) * num / (col("a") + col("b"))), 6)
        .cast(DecimalType(28, 6))
    t.agg(
        sum(when(col("cp") > 0, 1L).otherwise(0L)).as("n_terms_ref"),
        sum(when(col("cq") > 0, 1L).otherwise(0L)).as("n_terms_cur"),
        count(lit(1)).as("n_terms_union"),
        max(col("np")).as("n_tokens_ref"),
        max(col("nq")).as("n_tokens_cur"),
        sum(when(col("cp") > 0,
          col("cp").cast(DecimalType(12, 0)) * lnTerm(col("a")))).as("sp"),
        sum(when(col("cq") > 0,
          col("cq").cast(DecimalType(12, 0)) * lnTerm(col("b")))).as("sq"))
      .select(col("n_terms_ref"), col("n_terms_cur"), col("n_terms_union"),
        col("n_tokens_ref"), col("n_tokens_cur"),
        (lit(0.5) * (col("sp").cast(DoubleType) / col("n_tokens_ref")
          + col("sq").cast(DoubleType) / col("n_tokens_cur")))
          .as("jsd_nats"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test (r12e) — has the order-
    * value distribution moved between the 1995 and 1996 cohorts? The
    * distribution-free test a pipeline runs when histogram bins are
    * too coarse. EXACT-INTEGER throughout: with cohort sizes na/nb and
    * right-continuous ECDFs evaluated at every distinct cents value v,
    * the KS statistic is D = max |cumA·nb − cumB·na| / (na·nb) — the
    * numerator and the final floor-ppm are pure BIGINT algebra
    * (na·nb ≈ 5·10¹⁴ even at 1000× the graded SF, far inside 2⁶³), so
    * both engines hash-match bit-for-bit with no libm anywhere. The
    * argmax value reports WHERE the distributions diverge (ties → min
    * v, a total order). Scale posture: the global cumulative sum is
    * the distributed TWO-PASS prefix — value-level counts bucket into
    * $10k blocks, the running sum windows PARTITION BY bucket (never
    * an unpartitioned window), and each bucket's offset comes from a
    * broadcast self-join over the ≤50-row per-bucket total table; the
    * final argmax is one global max-of-struct aggregate. Shuffles
    * carry distinct-value partial counts only. */
  import org.apache.spark.sql.expressions.Window

  val statsKsTest: QDef = q(
    "stats_ks_test",
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |    CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM orders
      |  WHERE year(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |  CAST(SUM(cb) AS BIGINT) AS nb FROM c),
      |cum AS (
      |  SELECT v,
      |    CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
      |    CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
      |  FROM c),
      |g AS (
      |  SELECT v, abs(cum_a * nb - cum_b * na) AS gap
      |  FROM cum CROSS JOIN tot),
      |mx AS (SELECT CAST(MAX(gap) AS BIGINT) AS d_num FROM g)
      |SELECT na, nb, d_num,
      |  CAST((SELECT MIN(v) FROM g WHERE gap = d_num) AS BIGINT) AS at_cents,
      |  CAST(d_num * 1000000 // (na * nb) AS BIGINT) AS ks_d_ppm
      |FROM tot CROSS JOIN mx""") { (s, d) =>
    val c = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select((money(col("o_totalprice")) * 100).cast(LongType).as("v"),
        when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L).as("a"),
        when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L).as("b"))
      .groupBy(col("v"))
      .agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))
      .withColumn("bkt", expr("v div 1000000"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = c.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // pass 1: running sums INSIDE each $10k bucket (partitioned window)
    val w = Window.partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = c.select(col("v"), col("bkt"),
      sum(col("ca")).over(w).as("ra"), sum(col("cb")).over(w).as("rb"))
    // pass 2: each bucket's offset = total of all STRICTLY EARLIER
    // buckets, from the tiny per-bucket table (broadcast self-join)
    val btot = c.groupBy(col("bkt"))
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"))
    val bpre = btot.select(col("bkt"), col("ba"), col("bb")).as("x")
      .join(broadcast(btot.select(col("bkt").as("ybkt"),
        col("ba").as("yba"), col("bb").as("ybb"))),
        col("ybkt") < col("x.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("yba")), lit(0L)).as("pa"),
        coalesce(sum(col("ybb")), lit(0L)).as("pb"))
    val g = within.join(broadcast(bpre), "bkt")
      .crossJoin(broadcast(tot))
      .select(col("v"),
        abs((col("ra") + col("pa")) * col("nb")
          - (col("rb") + col("pb")) * col("na")).as("gap"))
    val best = g.agg(max(struct(col("gap"), (-col("v")).as("nv"))).as("m"))
    best.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("m.gap").as("d_num"),
        (-col("m.nv")).as("at_cents"),
        expr("CAST(m.gap * 1000000 div (na * nb) AS BIGINT)").as("ks_d_ppm"))
  }

  /** Exclusive prefix counts over distinct values — the distributed
    * rank primitive the rank statistics below share (`stats_ks_test`
    * spells the same two-pass shape inline): within-bucket running
    * sums via a PARTITIONED window, cross-bucket offsets from the
    * tiny per-bucket total table (broadcast strictly-earlier
    * self-join) — never an unpartitioned window. Input: one row per
    * distinct value `v` with a BIGINT weight `cnt` (extra columns
    * ride along); output adds `pre` = Σ cnt over all values strictly
    * below v. Shuffles carry distinct-value partial counts only. */
  private[ops] def exclusivePrefix(counts: org.apache.spark.sql.DataFrame,
      bucketOf: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val c = counts.withColumn("bkt", bucketOf)
    val w = Window.partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = c.withColumn("run", sum(col("cnt")).over(w))
    val btot = c.groupBy(col("bkt")).agg(sum(col("cnt")).as("bt"))
    val bpre = btot.as("x")
      .join(broadcast(btot.select(col("bkt").as("ybkt"), col("bt").as("ybt"))),
        col("ybkt") < col("x.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("ybt")), lit(0L)).as("off"))
    within.join(broadcast(bpre), "bkt")
      .withColumn("pre", col("run") - col("cnt") + col("off"))
      .drop("bkt", "bt", "run", "off")
  }

  /** Mann–Whitney U rank-sum test (r12f) — the nonparametric "did the
    * order-value distribution SHIFT between the 1995 and 1996
    * cohorts" companion to `stats_ks_test` (KS is sensitive to any
    * ECDF gap, U to stochastic dominance). EXACT-INTEGER via DOUBLED
    * midranks: a tie group occupying rank positions pre+1..pre+cnt
    * has doubled midrank 2·pre + cnt + 1 (always an integer), so
    * 2·R_A = Σ_v ca_v·(2·pre_v + cnt_v + 1) and 2·U_A = 2·R_A −
    * na(na+1) are pure BIGINT algebra — both engines hash-match
    * bit-for-bit, no libm. `auc_ppm` = U_A/(na·nb) in floor-ppm is
    * the common-language effect size P(A>B) + ½P(A=B) (Mann &
    * Whitney 1947). All operands nonnegative (2R_A ≥ na(na+1)), so
    * Spark `div` and DuckDB `//` agree. Scale posture: one distinct-
    * value count agg, the shared bucketed-prefix rank pass, one
    * DECIMAL(38)-partial fold — shuffles carry distinct-value rows
    * only. The ppm numerator u2·10⁶ needs |u2| ≤ 2·na·nb ≲ 9·10¹²
    * (na,nb ≤ ~2·10⁶ cohorts); beyond that, divide na·nb first. */
  val statsMannWhitneyU: QDef = q(
    "stats_mannwhitney_u",
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |    CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM orders
      |  WHERE year(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |  CAST(SUM(cb) AS BIGINT) AS nb FROM c),
      |cum AS (
      |  SELECT v, ca, ca + cb AS cnt,
      |    CAST(COALESCE(SUM(ca + cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS pre
      |  FROM c),
      |r AS (SELECT CAST(SUM(ca * (2 * pre + cnt + 1)) AS BIGINT) AS r2a
      |  FROM cum)
      |SELECT na, nb, r2a,
      |  CAST(r2a - na * (na + 1) AS BIGINT) AS u2a,
      |  CAST((r2a - na * (na + 1)) * 1000000 // (2 * na * nb) AS BIGINT)
      |    AS auc_ppm
      |FROM tot CROSS JOIN r""") { (s, d) =>
    val c = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select((money(col("o_totalprice")) * 100).cast(LongType).as("v"),
        when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L).as("a"),
        when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L).as("b"))
      .groupBy(col("v"))
      .agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = c.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val ranked = exclusivePrefix(c, expr("v div 1000000"))
    val r = ranked
      .agg(sum((col("ca") * (lit(2L) * col("pre") + col("cnt") + lit(1L)))
        .cast(DecimalType(38, 0))).as("r2d"))
      .select(col("r2d").cast(LongType).as("r2a"))
    r.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("r2a"),
        (col("r2a") - col("na") * (col("na") + 1)).as("u2a"),
        expr("CAST((r2a - na * (na + 1)) * 1000000 div (2 * na * nb) AS BIGINT)")
          .as("auc_ppm"))
  }

  /** Spearman rank correlation (r12f) — is a customer's ORDER COUNT
    * monotonically associated with their TOTAL SPEND? Pearson
    * (`agg_corr_explicit`) grades the linear association; Spearman is
    * the rank version a skewed-spend distribution needs (Spearman
    * 1904). Ties use midranks, kept exact via DOUBLED midranks
    * (2·pre + cnt + 1 — integers; the ×2 cancels in ρ). Both rank
    * maps come from the shared bucketed-prefix primitive — the
    * small order-count map broadcasts back, the per-cents map joins
    * on the value key (an equi-shuffle sized by customer
    * cardinality). Moment fold + final formula are spelled exactly
    * as `agg_corr_explicit` (DECIMAL(38,0) partials, one DOUBLE
    * conversion, IEEE-exact sqrt — the one libm call both engines
    * correctly round). */
  val statsSpearmanCorr: QDef = q(
    "stats_spearman_corr",
    """WITH cust AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |r AS (SELECT
      |    2 * (RANK() OVER (ORDER BY x)) + COUNT(*) OVER (PARTITION BY x) - 1
      |      AS rx,
      |    2 * (RANK() OVER (ORDER BY y)) + COUNT(*) OVER (PARTITION BY y) - 1
      |      AS ry
      |  FROM cust),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(rx AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(ry AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
      |    SUM(CAST(ry AS DECIMAL(38,0)) * ry) AS syy,
      |    SUM(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy
      |  FROM r),
      |t AS (SELECT n, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
      |    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy,
      |    CAST(sxy AS DOUBLE) AS dxy
      |  FROM s)
      |SELECT n,
      |  (n * dxy - dx * dy) / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy))
      |    AS rho_spearman
      |FROM t""") { (s, d) =>
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"),
        sum((money(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def doubledMidrank(vals: org.apache.spark.sql.DataFrame,
        bucketOf: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
      exclusivePrefix(vals.groupBy(col("v")).agg(count(lit(1)).as("cnt")),
          bucketOf)
        .select(col("v"),
          (lit(2L) * col("pre") + col("cnt") + lit(1L)).as("r2"))
    val xr = doubledMidrank(cust.select(col("x").as("v")), expr("v div 8"))
      .select(col("v").as("x"), col("r2").as("rx"))
    val yr = doubledMidrank(cust.select(col("y").as("v")),
        expr("v div 100000000"))
      .select(col("v").as("y"), col("r2").as("ry"))
    val ranked = cust.join(broadcast(xr), "x").join(yr, "y")
    val decRx = col("rx").cast(DecimalType(38, 0))
    val decRy = col("ry").cast(DecimalType(38, 0))
    val sums = ranked.agg(count(lit(1)).as("n"),
      sum(decRx).as("sx"), sum(decRy).as("sy"),
      sum(decRx * col("rx")).as("sxx"), sum(decRy * col("ry")).as("syy"),
      sum(decRx * col("ry")).as("sxy"))
    val t = sums.select(col("n"),
      col("sx").cast(DoubleType).as("dx"), col("sy").cast(DoubleType).as("dy"),
      col("sxx").cast(DoubleType).as("dxx"),
      col("syy").cast(DoubleType).as("dyy"),
      col("sxy").cast(DoubleType).as("dxy"))
    t.select(col("n"),
      ((col("n") * col("dxy") - col("dx") * col("dy"))
        / (sqrt(col("n") * col("dxx") - col("dx") * col("dx"))
          * sqrt(col("n") * col("dyy") - col("dy") * col("dy"))))
        .as("rho_spearman"))
  }

  /** Cramér's V (r12j) — the EFFECT SIZE the χ² test
    * (`stats_chi_square`) needs alongside it: V = √(χ² / (n·(min(r,c)
    * − 1))) ∈ [0,1] answers "how strongly are order priority and
    * order status associated", where raw χ² only answers "more than
    * chance". Numeric ladder is stats_chi_square's exactly: each
    * cell's (obs·n − rtot·ctot)²/(n·rtot·ctot) term is computed as a
    * DOUBLE on exact BIGINT operands and immediately quantized to
    * DECIMAL(28,18), so the ≤15-cell sum is order-independent; the
    * final double tree (one division, one IEEE sqrt) is spelled
    * identically in both engines and reported half-up in milli.
    * Scale posture: one fact agg to the r×c contingency table;
    * everything after is ≤15 rows of broadcast algebra. */
  val statsCramersV: QDef = q(
    "stats_cramers_v",
    """WITH o AS (
      |  SELECT o_orderpriority AS pr, o_orderstatus AS st,
      |    CAST(count(*) AS BIGINT) AS obs
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT pr, CAST(SUM(obs) AS BIGINT) AS rtot FROM o GROUP BY pr),
      |ct AS (SELECT st, CAST(SUM(obs) AS BIGINT) AS ctot FROM o GROUP BY st),
      |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS ntot FROM o),
      |dims AS (SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS r,
      |  CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS c),
      |cells AS (
      |  SELECT rt.rtot, ct.ctot, COALESCE(o.obs, 0) AS obs, n.ntot
      |  FROM rt CROSS JOIN ct CROSS JOIN n
      |  LEFT JOIN o ON o.pr = rt.pr AND o.st = ct.st),
      |terms AS (
      |  SELECT ntot,
      |    CAST(CAST(obs * ntot - rtot * ctot AS DOUBLE)
      |      * CAST(obs * ntot - rtot * ctot AS DOUBLE)
      |      / (CAST(ntot AS DOUBLE) * rtot * ctot)
      |      AS DECIMAL(28,18)) AS term
      |  FROM cells),
      |chi AS (SELECT ntot, CAST(SUM(term) AS DOUBLE) AS chi2
      |  FROM terms GROUP BY ntot)
      |SELECT ntot AS n, r AS n_rows, c AS n_cols,
      |  CAST(floor(chi2 * 1000 + 0.5) AS BIGINT) AS chi2_milli,
      |  CAST(floor(sqrt(chi2 / (CAST(ntot AS DOUBLE)
      |    * (least(r, c) - 1))) * 1000 + 0.5) AS BIGINT) AS cramers_v_milli
      |FROM chi CROSS JOIN dims""") { (s, d) =>
    val o = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rt = o.groupBy(col("pr")).agg(sum(col("obs")).cast(LongType).as("rtot"))
    val ct = o.groupBy(col("st")).agg(sum(col("obs")).cast(LongType).as("ctot"))
    val n = o.agg(sum(col("obs")).cast(LongType).as("ntot"))
    val dims = rt.agg(count(lit(1)).as("r"))
      .crossJoin(broadcast(ct.agg(count(lit(1)).as("c"))))
    val cells = rt.crossJoin(broadcast(ct)).crossJoin(broadcast(n))
      .join(o.select(col("pr").as("op"), col("st").as("os"), col("obs")),
        col("op") === col("pr") && col("os") === col("st"), "left")
      .select(col("rtot"), col("ctot"),
        coalesce(col("obs"), lit(0L)).as("obs"), col("ntot"))
    val chi = cells
      .withColumn("term", expr(
        """CAST(CAST(obs * ntot - rtot * ctot AS DOUBLE)
          |  * CAST(obs * ntot - rtot * ctot AS DOUBLE)
          |  / (CAST(ntot AS DOUBLE) * rtot * ctot)
          |  AS DECIMAL(28,18))""".stripMargin))
      .groupBy(col("ntot"))
      .agg(sum(col("term")).cast(DoubleType).as("chi2"))
    chi.crossJoin(broadcast(dims))
      .select(col("ntot").as("n"), col("r").as("n_rows"),
        col("c").as("n_cols"),
        floor(col("chi2") * 1000 + 0.5).cast(LongType).as("chi2_milli"),
        floor(sqrt(col("chi2") / (col("ntot").cast(DoubleType)
          * (least(col("r"), col("c")) - 1))) * 1000 + 0.5)
          .cast(LongType).as("cramers_v_milli"))
  }

  /** Wald–Wolfowitz runs test (r12l) — is the daily-revenue series
    * RANDOM around its median, or does it trend/cycle? Per year:
    * days strictly above vs below the year's LOWER-median daily
    * revenue (median-equal days excluded, the standard convention),
    * the observed count of runs (maximal same-side streaks in day
    * order), the expected count 1 + 2ab/(a+b) in exact floor-milli,
    * and the z-score (R − μ)/σ with σ² = 2ab(2ab−a−b)/((a+b)²(a+b−1))
    * as ONE identically-spelled double tree, half-up milli (double
    * `floor(x·1000+0.5)` rounds negatives identically in both
    * engines — no integer-div sign seam). Every window partitions by
    * YEAR: the per-partition row count is calendar-bounded (≤366),
    * so the rank and lag passes scale out with years regardless of
    * fact volume. Degenerate years (one side empty) yield NULL z by
    * the same CASE in both engines. */
  val statsRunsTest: QDef = q(
    "stats_runs_test",
    """WITH daily AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      AS day,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT yr, day, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY cents, day)
      |      AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY yr) AS BIGINT) AS n
      |  FROM daily),
      |med AS (SELECT yr, cents AS med FROM rk WHERE rn = (n + 1) // 2),
      |sides AS (
      |  SELECT rk.yr, rk.day,
      |    CASE WHEN rk.cents > med.med THEN 1 ELSE 0 END AS side
      |  FROM rk JOIN med ON med.yr = rk.yr
      |  WHERE rk.cents <> med.med),
      |runs AS (
      |  SELECT yr, day, side,
      |    CASE WHEN lag(side) OVER (PARTITION BY yr ORDER BY day) IS NULL
      |      OR side <> lag(side) OVER (PARTITION BY yr ORDER BY day)
      |      THEN 1 ELSE 0 END AS chg
      |  FROM sides),
      |agg AS (
      |  SELECT yr, CAST(SUM(side) AS BIGINT) AS na,
      |    CAST(SUM(1 - side) AS BIGINT) AS nb,
      |    CAST(SUM(chg) AS BIGINT) AS n_runs
      |  FROM runs GROUP BY 1)
      |SELECT yr, na AS n_above, nb AS n_below, n_runs,
      |  CAST(1000 + (2000 * na * nb) // (na + nb) AS BIGINT)
      |    AS exp_runs_milli,
      |  CASE WHEN na = 0 OR nb = 0 THEN NULL
      |    ELSE CAST(floor((CAST(n_runs AS DOUBLE)
      |      - (1 + 2.0 * na * nb / (na + nb)))
      |      / sqrt(2.0 * na * nb * (2.0 * na * nb - na - nb)
      |        / (CAST(na + nb AS DOUBLE) * (na + nb) * (na + nb - 1)))
      |      * 1000 + 0.5) AS BIGINT) END AS z_milli
      |FROM agg ORDER BY yr""") { (s, d) =>
    val daily = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).cast(IntegerType).as("yr"),
        datediff(col("o_orderdate").cast(DateType),
          lit("1995-01-01").cast(DateType)).as("day"))
      .agg(sum((money(col("o_totalprice")) * 100).cast(LongType)).as("cents"))
    val wRank = Window.partitionBy(col("yr")).orderBy(col("cents"), col("day"))
    val wCnt = Window.partitionBy(col("yr"))
    val rk = daily.select(col("yr"), col("day"), col("cents"),
        row_number().over(wRank).cast(LongType).as("rn"),
        count(lit(1)).over(wCnt).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val med = rk.filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("yr").as("myr"), col("cents").as("med"))
    val sides = rk.join(broadcast(med), col("myr") === col("yr"))
      .filter(col("cents") =!= col("med"))
      .select(col("yr"), col("day"),
        when(col("cents") > col("med"), 1L).otherwise(0L).as("side"))
    val wDay = Window.partitionBy(col("yr")).orderBy(col("day"))
    val runs = sides.select(col("yr"), col("side"),
      when(lag(col("side"), 1).over(wDay).isNull
        || col("side") =!= lag(col("side"), 1).over(wDay), 1L)
        .otherwise(0L).as("chg"))
    val agg = runs.groupBy(col("yr"))
      .agg(sum(col("side")).as("na"), sum(lit(1L) - col("side")).as("nb"),
        sum(col("chg")).as("n_runs"))
    agg.select(col("yr"), col("na").as("n_above"), col("nb").as("n_below"),
        col("n_runs"),
        expr("CAST(1000 + (2000 * na * nb) div (na + nb) AS BIGINT)")
          .as("exp_runs_milli"),
        when(col("na") === 0 || col("nb") === 0, lit(null).cast(LongType))
          .otherwise(expr(
            """CAST(floor((CAST(n_runs AS DOUBLE)
              |  - (1 + 2.0 * na * nb / (na + nb)))
              |  / sqrt(2.0 * na * nb * (2.0 * na * nb - na - nb)
              |    / (CAST(na + nb AS DOUBLE) * (na + nb) * (na + nb - 1)))
              |  * 1000 + 0.5) AS BIGINT)""".stripMargin))
          .as("z_milli"))
      .orderBy(col("yr"))
  }

  /** Kendall's τ-b (r12q) — the concordance companion to Spearman:
    * do 1995 and 1996 share a SEASONAL revenue shape? The two years'
    * daily totals pair by calendar (month, day) — Feb 29 drops out
    * of the matched inner join — and every day pair (i < j) is
    * classified concordant / discordant / x-tied / y-tied in exact
    * integers; τ-b = (C − D)/√((n₀−Tx)(n₀−Ty)) is ONE
    * identically-spelled double tree, half-up milli (Kendall 1938).
    * The O(n²) pair join is CALENDAR-BOUNDED (≤365² pairs regardless
    * of data volume — the ts_theil_sen scale argument); the fact
    * table is touched once by the daily agg. */
  val statsKendallTau: QDef = q(
    "stats_kendall_tau",
    """WITH daily AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |    CAST(month(o_orderdate) AS INTEGER) AS mo,
      |    CAST(day(o_orderdate) AS INTEGER) AS dy,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT a.mo, a.dy, a.cents AS x, b.cents AS y
      |  FROM daily a JOIN daily b
      |    ON b.mo = a.mo AND b.dy = a.dy AND a.yr = 1995 AND b.yr = 1996),
      |pairs AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN (i.x - j.x) * (i.y - j.y) > 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN (i.x - j.x) * (i.y - j.y) < 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN i.x = j.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |    CAST(SUM(CASE WHEN i.y = j.y THEN 1 ELSE 0 END) AS BIGINT) AS ty,
      |    CAST(COUNT(*) AS BIGINT) AS n0
      |  FROM p i JOIN p j
      |    ON j.mo > i.mo OR (j.mo = i.mo AND j.dy > i.dy)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM p)
      |SELECT n_days, n0 AS n_pairs, c AS concordant, d AS discordant,
      |  CAST(floor(CAST(c - d AS DOUBLE)
      |    / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
      |    * 1000 + 0.5) AS BIGINT) AS tau_b_milli
      |FROM pairs CROSS JOIN n""") { (s, d) =>
    val daily = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).cast(IntegerType).as("yr"),
        month(col("o_orderdate")).cast(IntegerType).as("mo"),
        dayofmonth(col("o_orderdate")).cast(IntegerType).as("dy"))
      .agg(sum((money(col("o_totalprice")) * 100).cast(LongType)).as("cents"))
    val p = daily.filter(col("yr") === 1995)
      .select(col("mo"), col("dy"), col("cents").as("x"))
      .join(daily.filter(col("yr") === 1996)
          .select(col("mo").as("mo2"), col("dy").as("dy2"),
            col("cents").as("y")),
        col("mo2") === col("mo") && col("dy2") === col("dy"))
      .select(col("mo"), col("dy"), col("x"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val j = p.select(col("mo").as("jmo"), col("dy").as("jdy"),
      col("x").as("jx"), col("y").as("jy"))
    // the probe side is ≤366 rows by the calendar bound — broadcast it
    // so the theta join plans as BroadcastNestedLoopJoin, never a
    // CartesianProduct (PlanInvariantsSpec bans the latter registry-wide)
    val pairs = p.join(broadcast(j), col("jmo") > col("mo")
        || (col("jmo") === col("mo") && col("jdy") > col("dy")))
      .agg(
        sum(when((col("x") - col("jx")) * (col("y") - col("jy")) > 0, 1L)
          .otherwise(0L)).as("c"),
        sum(when((col("x") - col("jx")) * (col("y") - col("jy")) < 0, 1L)
          .otherwise(0L)).as("d"),
        sum(when(col("x") === col("jx"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("y") === col("jy"), 1L).otherwise(0L)).as("ty"),
        count(lit(1)).as("n0"))
    val n = p.agg(count(lit(1)).as("n_days"))
    pairs.crossJoin(broadcast(n))
      .select(col("n_days"), col("n0").as("n_pairs"),
        col("c").as("concordant"), col("d").as("discordant"),
        floor((col("c") - col("d")).cast(DoubleType)
          / sqrt((col("n0") - col("tx")).cast(DoubleType)
            * (col("n0") - col("ty")).cast(DoubleType))
          * 1000 + 0.5).cast(LongType).as("tau_b_milli"))
  }

  /** Population Stability Index of order value (r13b) — THE model-
    * monitoring drift number: Σ (p_i − q_i)·ln(p_i/q_i) over 11 fixed
    * $50k buckets between the early (≤1997) and late (≥1998) order
    * eras, per-bucket. Determinism: counts and share differences are
    * exact integer algebra cast once to double; the log follows the
    * `drift_unigram_jsd` protocol — ln over a RATIO OF EXACT INTEGERS,
    * rounded to 6 decimals into DECIMAL(28,6) (the two engines' libm
    * ln agree far inside 1e-6), one shared float finish. Buckets empty
    * on either side contribute 0 by the standard PSI convention
    * (documented deviation from +∞). A 22-cell agg over one scan. */
  val driftValuePsi: QDef = q(
    "drift_value_psi",
    """WITH o AS (
      |  SELECT CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) <= 1997
      |    THEN 0 ELSE 1 END AS era,
      |    least(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000000, 10)
      |      AS bucket
      |  FROM orders),
      |c AS (
      |  SELECT era, bucket, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM o GROUP BY era, bucket),
      |bins AS (SELECT unnest(range(0, 11)) AS bucket),
      |r AS (SELECT bucket AS rb, n AS nr FROM c WHERE era = 0),
      |cu AS (SELECT bucket AS cb, n AS nc FROM c WHERE era = 1),
      |t AS (
      |  SELECT CAST(bins.bucket AS BIGINT) AS bucket,
      |    COALESCE(nr, 0) AS n_ref, COALESCE(nc, 0) AS n_cur
      |  FROM bins LEFT JOIN r ON bins.bucket = rb
      |    LEFT JOIN cu ON bins.bucket = cb),
      |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
      |  CAST(SUM(n_cur) AS BIGINT) AS tc FROM t)
      |SELECT bucket, n_ref, n_cur,
      |  (n_ref * 1000000) // tr AS ref_ppm,
      |  (n_cur * 1000000) // tc AS cur_ppm,
      |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
      |    CAST(n_ref * tc - n_cur * tr AS DOUBLE) / (CAST(tr AS DOUBLE) * tc)
      |      * CAST(CAST(ROUND(ln(CAST(n_ref * tc AS DOUBLE) / (n_cur * tr)), 6)
      |          AS DECIMAL(28,6)) AS DOUBLE)
      |  ELSE 0.0 END AS psi_term
      |FROM t CROSS JOIN tot
      |ORDER BY bucket""") { (s, d) =>
    val o = Tables.orders(s, d)
      .select(when(year(col("o_orderdate").cast(TimestampType)) <= 1997, 0)
          .otherwise(1).as("era"),
        least(expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 5000000"),
          lit(10L)).as("bucket"))
    val c = o.groupBy(col("era"), col("bucket")).agg(count(lit(1)).as("n"))
    val bins = s.range(0, 11).select(col("id").as("bucket"))
    val r = c.filter(col("era") === 0).select(col("bucket").as("rb"), col("n").as("nr"))
    val cu = c.filter(col("era") === 1).select(col("bucket").as("cb"), col("n").as("nc"))
    val t = bins.join(broadcast(r), col("bucket") === col("rb"), "left")
      .join(broadcast(cu), col("bucket") === col("cb"), "left")
      .select(col("bucket"),
        coalesce(col("nr"), lit(0L)).as("n_ref"),
        coalesce(col("nc"), lit(0L)).as("n_cur"))
    val tot = t.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    t.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        expr("(n_ref * 1000000) div tr").as("ref_ppm"),
        expr("(n_cur * 1000000) div tc").as("cur_ppm"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          (col("n_ref") * col("tc") - col("n_cur") * col("tr")).cast(DoubleType)
            / (col("tr").cast(DoubleType) * col("tc"))
            * round(log((col("n_ref") * col("tc")).cast(DoubleType)
                / (col("n_cur") * col("tr"))), 6)
              .cast(DecimalType(28, 6)).cast(DoubleType))
          .otherwise(lit(0.0)).as("psi_term"))
      .orderBy(col("bucket"))
  }

  /** Chunk→document embedding pooling audit (r14f) — the RAG-index
    * build step that mean-pools chunk embeddings into a document
    * vector, graded as the audit a pipeline reads after pooling:
    * chunks group 4-per-doc (vec_id div 4), the pooled vector is the
    * per-dimension FLOOR-MEAN of milli-quantized components (the
    * `drift_embedding_centroid` range-safe spelling — |component| ≤
    * 1000 regardless of chunk count, exact at any scale), and per doc
    * the report carries the pooled norm² (exact BIGINT) and the
    * cosine between the pooled vector and chunk 0 — the "how
    * representative is the first chunk" signal that decides whether
    * cheap first-chunk indexing suffices. One positional explode +
    * one (doc, pos) agg + one broadcast-scale join; sqrt/division is
    * the single shared float finish. */
  val embedChunkMeanPool: QDef = q(
    "embed_chunk_mean_pool",
    """WITH m AS (
      |  SELECT vec_id, vec_id // 4 AS doc, t.pos AS pos,
      |    CAST(floor(CAST(embedding[t.pos] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |      AS milli
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
      |p AS (
      |  SELECT doc, pos, CAST(SUM(milli) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM m GROUP BY doc, pos),
      |cm AS (
      |  SELECT doc, pos, n, (s - ((s % n) + n) % n) // n AS c
      |  FROM p),
      |f AS (SELECT vec_id // 4 AS fdoc, pos, milli FROM m WHERE vec_id % 4 = 0),
      |dots AS (
      |  SELECT cm.doc, CAST(MIN(cm.n) AS BIGINT) AS n_chunks,
      |    CAST(SUM(cm.c * cm.c) AS BIGINT) AS norm2,
      |    CAST(SUM(cm.c * f.milli) AS DOUBLE) AS dot,
      |    CAST(SUM(cm.c * cm.c) AS DOUBLE) AS cc,
      |    CAST(SUM(f.milli * f.milli) AS DOUBLE) AS ff
      |  FROM cm JOIN f ON f.fdoc = cm.doc AND f.pos = cm.pos
      |  GROUP BY cm.doc)
      |SELECT doc, n_chunks, norm2,
      |  dot / (sqrt(cc) * sqrt(ff)) AS cos_first_chunk
      |FROM dots ORDER BY doc""") { (s, d) =>
    val m = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), expr("vec_id div 4").as("doc"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), col("doc"), (col("pos0") + 1).as("pos"),
        floor(col("x").cast(DoubleType) * 1000 + 0.5).cast(LongType).as("milli"))
    val p = m.groupBy(col("doc"), col("pos"))
      .agg(sum(col("milli")).as("s"), count(lit(1)).as("n"))
    val cm = p.select(col("doc"), col("pos"), col("n"),
      expr("(s - pmod(s, n)) div n").as("c"))
    val f = m.filter(col("vec_id") % 4 === 0)
      .select(expr("vec_id div 4").as("fdoc"), col("pos").as("fpos"),
        col("milli").as("fm"))
    cm.join(f, col("fdoc") === col("doc") && col("fpos") === col("pos"))
      .groupBy(col("doc"))
      .agg(min(col("n")).as("n_chunks"),
        sum(col("c") * col("c")).as("norm2"),
        sum(col("c") * col("fm")).cast(DoubleType).as("dot"),
        sum(col("c") * col("c")).cast(DoubleType).as("cc"),
        sum(col("fm") * col("fm")).cast(DoubleType).as("ff"))
      .select(col("doc"), col("n_chunks"), col("norm2"),
        (col("dot") / (sqrt(col("cc")) * sqrt(col("ff"))))
          .as("cos_first_chunk"))
      .orderBy(col("doc"))
  }

  /** One-way ANOVA (r15) — the omnibus "do the group means differ"
    * test the stats family lacked (chi²/KS/U cover categorical and
    * two-sample shapes; ANOVA covers k-group means): value cents by
    * event type. Everything up to the final two ratios is exact:
    * per-group (n, Σx, Σx²) in BIGINT, SSW = Σ_g (n_g·Q_g − S_g²)/n_g
    * and SSB = Σ_g S_g²/n_g − T²/n graded in per-term FLOOR-milli
    * (every term nonnegative — Cauchy-Schwarz — so `div` ≡ `//`; the
    * one subtraction is clamped at 0 with greatest() in BOTH engines
    * since flooring can push an SSB≈0 a few milli negative). The big
    * products — INCLUDING the per-row square x·x (ADVICE r15) — ride
    * DECIMAL(38)/HUGEINT (the stats-family fold) and F/η² come
    * out in floor-ppm. One group agg + one k-row fold. */
  val statsAnovaF: QDef = q(
    "stats_anova_f",
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS ng,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sg,
      |    SUM(CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |          AS HUGEINT)
      |        * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS qg
      |  FROM events GROUP BY event_type),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(ng) AS BIGINT) AS n,
      |    CAST(SUM(sg) AS BIGINT) AS t,
      |    CAST(SUM((CAST(ng AS HUGEINT) * qg - CAST(sg AS HUGEINT) * sg)
      |      * 1000 // ng) AS BIGINT) AS ssw_milli,
      |    CAST(SUM(CAST(sg AS HUGEINT) * sg * 1000 // ng) AS BIGINT)
      |      AS sb_milli
      |  FROM g)
      |SELECT k, n, ssw_milli,
      |  greatest(sb_milli - CAST(CAST(t AS HUGEINT) * t * 1000 // n
      |    AS BIGINT), 0) AS ssb_milli,
      |  CAST(CAST(greatest(sb_milli - CAST(CAST(t AS HUGEINT) * t * 1000
      |        // n AS BIGINT), 0) AS HUGEINT)
      |      * (n - k) * 1000000 // (CAST(ssw_milli AS HUGEINT) * (k - 1))
      |    AS BIGINT) AS f_ppm,
      |  CAST(CAST(greatest(sb_milli - CAST(CAST(t AS HUGEINT) * t * 1000
      |        // n AS BIGINT), 0) AS HUGEINT) * 1000000
      |      // (greatest(sb_milli - CAST(CAST(t AS HUGEINT) * t * 1000
      |          // n AS BIGINT), 0) + ssw_milli)
      |    AS BIGINT) AS eta2_ppm
      |FROM f""") { (s, d) =>
    val cents = "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
    val g = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"),
        sum(expr(cents)).as("sg"),
        // per-row square rides DECIMAL(38)/HUGEINT like the
        // group-level products (ADVICE r15): bare BIGINT·BIGINT
        // overflows above ~3.0e9 cents per value
        sum(expr(s"CAST($cents AS DECIMAL(38,0)) * $cents")).as("qg"))
    val f = g.agg(
      count(lit(1)).as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).as("t"),
      sum(expr("(CAST(ng AS DECIMAL(38,0)) * qg - CAST(sg AS DECIMAL(38,0))" +
        " * sg) * 1000 div ng")).cast(LongType).as("ssw_milli"),
      sum(expr("CAST(sg AS DECIMAL(38,0)) * sg * 1000 div ng"))
        .cast(LongType).as("sb_milli"))
    f.select(col("k"), col("n"), col("ssw_milli"),
        expr("greatest(sb_milli - CAST(CAST(t AS DECIMAL(38,0)) * t * 1000" +
          " div n AS BIGINT), 0)").as("ssb_milli"))
      .select(col("k"), col("n"), col("ssw_milli"), col("ssb_milli"),
        expr("CAST(CAST(ssb_milli AS DECIMAL(38,0)) * (n - k) * 1000000" +
          " div (CAST(ssw_milli AS DECIMAL(38,0)) * (k - 1)) AS BIGINT)")
          .as("f_ppm"),
        expr("CAST(CAST(ssb_milli AS DECIMAL(38,0)) * 1000000" +
          " div (ssb_milli + ssw_milli) AS BIGINT)").as("eta2_ppm"))
  }

  /** Capacity-backlog ledger (r15d) — the queueing simulation an ops
    * team runs against order arrivals: daily arrivals vs a per-year
    * ceil-mean daily capacity K, backlog via the LINDLEY recursion
    * b_d = max(0, b_{d−1} + a_d − K) — which is NOT windowable as
    * written, but its closed form b_d = S_d − K·d − min(0, min_{j≤d}
    * (S_j − K·j)) is: S jumps only on arrival days and S_j − K·j
    * falls by K on every empty day, so the inner min over ALL days is
    * the running min over arrival rows of (S_i − K·(next_day_i − 1)),
    * merged with the current row's own S_i − K·d_i AND the zero-sum
    * prefix run before the year's first arrival (slack −K·(first_d −
    * 1), which also subsumes the j=0 base case). Four
    * year-partitioned windows (running sum, lead, partition min,
    * running min) in one exchange — the
    * year boundary is the ledger reset, so no global funnel at any
    * scale. Pure BIGINT; the spec replays the recursion day by
    * day. */
  val opsCapacityBacklog: QDef = q(
    "ops_capacity_backlog",
    """WITH a AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |    CAST(date_diff('day',
      |      CAST(CAST(year(o_orderdate) AS VARCHAR) || '-01-01' AS DATE),
      |      CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS arrivals
      |  FROM orders GROUP BY 1, 2),
      |yk AS (
      |  SELECT yr,
      |    CAST((SUM(arrivals) + CAST(date_diff('day',
      |        CAST(CAST(yr AS VARCHAR) || '-01-01' AS DATE),
      |        CAST(CAST(yr + 1 AS VARCHAR) || '-01-01' AS DATE)) AS BIGINT)
      |      - 1) // CAST(date_diff('day',
      |        CAST(CAST(yr AS VARCHAR) || '-01-01' AS DATE),
      |        CAST(CAST(yr + 1 AS VARCHAR) || '-01-01' AS DATE)) AS BIGINT)
      |      AS BIGINT) AS k
      |  FROM a GROUP BY yr),
      |w AS (
      |  SELECT a.yr, d, arrivals, k,
      |    SUM(arrivals) OVER (PARTITION BY a.yr ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |    lead(d) OVER (PARTITION BY a.yr ORDER BY d) AS next_d,
      |    min(d) OVER (PARTITION BY a.yr) AS first_d
      |  FROM a JOIN yk ON yk.yr = a.yr),
      |m AS (
      |  SELECT yr, d, arrivals, k, s, first_d,
      |    min(s - k * (COALESCE(next_d, d + 1) - 1)) OVER (
      |      PARTITION BY yr ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
      |  FROM w)
      |SELECT yr, d AS day_of_year, arrivals, k AS capacity,
      |  CAST(s - k * d - least(-k * (first_d - 1),
      |    CASE WHEN prev_min IS NULL OR s - k * d < prev_min
      |      THEN s - k * d ELSE prev_min END) AS BIGINT) AS backlog
      |FROM m ORDER BY yr, d""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val a = Tables.orders(s, d)
      .select(year(col("o_orderdate")).cast("int").as("yr"),
        (datediff(col("o_orderdate").cast(DateType),
          expr("CAST(CAST(year(o_orderdate) AS STRING) || '-01-01' AS DATE)"))
          + 1).cast(LongType).as("d"))
      .groupBy(col("yr"), col("d")).agg(count(lit(1)).as("arrivals"))
    val yk = a.groupBy(col("yr").as("kyr"))
      .agg(sum(col("arrivals")).as("tot"))
      .select(col("kyr"),
        expr("CAST((tot + CAST(datediff(" +
          "CAST(CAST(kyr + 1 AS STRING) || '-01-01' AS DATE)," +
          "CAST(CAST(kyr AS STRING) || '-01-01' AS DATE)) AS BIGINT) - 1)" +
          " div CAST(datediff(" +
          "CAST(CAST(kyr + 1 AS STRING) || '-01-01' AS DATE)," +
          "CAST(CAST(kyr AS STRING) || '-01-01' AS DATE)) AS BIGINT)" +
          " AS BIGINT)").as("k"))
    val wOrd = Window.partitionBy(col("yr")).orderBy(col("d"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    a.join(broadcast(yk), col("yr") === col("kyr"))
      .select(col("yr"), col("d"), col("arrivals"), col("k"),
        sum(col("arrivals")).over(wRun).as("s"),
        lead(col("d"), 1).over(wOrd).as("next_d"),
        // the empty prefix before the year's FIRST arrival is itself
        // a zero-sum run whose end slack -k*(first_d - 1) must join
        // the min, or a late first arrival under-reports its backlog
        min(col("d")).over(Window.partitionBy(col("yr"))).as("first_d"))
      .select(col("yr"), col("d"), col("arrivals"), col("k"), col("s"),
        col("first_d"),
        min(col("s") - col("k") * (coalesce(col("next_d"), col("d") + 1) - 1))
          .over(wPrev).as("prev_min"))
      .select(col("yr"), col("d").as("day_of_year"), col("arrivals"),
        col("k").as("capacity"),
        expr("s - k * d - least(-k * (first_d - 1)," +
          " CASE WHEN prev_min IS NULL OR s - k * d < prev_min" +
          " THEN s - k * d ELSE prev_min END)").as("backlog"))
      .orderBy(col("yr"), col("day_of_year"))
  }

  /** Brown–Forsythe / Levene test (r15d) — `stats_anova_f` asks "do
    * the means differ", this asks "do the SPREADS differ" (the
    * variance-homogeneity check that decides whether ANOVA's
    * assumption even holds): the same F statistic computed over
    * z = |x − median_g|, with the group median rank-selected exactly
    * (lower median, the `agg_quantiles_exact` convention) so z stays
    * pure BIGINT. Identical DECIMAL(38)/HUGEINT fold as the ANOVA
    * key; one extra group-partitioned rank window to select
    * medians. */
  val statsLeveneBf: QDef = q(
    "stats_levene_bf",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      |  FROM events),
      |r AS (
      |  SELECT event_type, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY x, event_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |med AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n - 1) * 5 // 10 + 1 THEN x END) AS med
      |  FROM r GROUP BY event_type),
      |z AS (
      |  SELECT e.event_type, abs(e.x - med) AS z
      |  FROM e JOIN med ON med.event_type = e.event_type),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
      |    CAST(SUM(z) AS BIGINT) AS sg,
      |    SUM(CAST(z AS HUGEINT) * z) AS qg
      |  FROM z GROUP BY event_type),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(ng) AS BIGINT) AS n,
      |    CAST(SUM(sg) AS BIGINT) AS t,
      |    CAST(SUM((CAST(ng AS HUGEINT) * qg - CAST(sg AS HUGEINT) * sg)
      |      * 1000 // ng) AS BIGINT) AS ssw_milli,
      |    CAST(SUM(CAST(sg AS HUGEINT) * sg * 1000 // ng) AS BIGINT)
      |      AS sb_milli
      |  FROM g)
      |SELECT k, n, ssw_milli,
      |  greatest(sb_milli - CAST(CAST(t AS HUGEINT) * t * 1000 // n
      |    AS BIGINT), 0) AS ssb_milli,
      |  CAST(CAST(greatest(sb_milli - CAST(CAST(t AS HUGEINT) * t * 1000
      |        // n AS BIGINT), 0) AS HUGEINT)
      |      * (n - k) * 1000000 // (CAST(ssw_milli AS HUGEINT) * (k - 1))
      |    AS BIGINT) AS f_ppm
      |FROM f""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (money(col("value")) * 100).cast(LongType).as("x"))
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("x"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val med = e
      .select(col("event_type"), col("x"),
        row_number().over(wOrd).as("rn"), count(lit(1)).over(wAll).as("n"))
      .groupBy(col("event_type").as("met"))
      .agg(max(when(col("rn") === expr("(n - 1) * 5 div 10 + 1"),
        col("x"))).as("med"))
    val g = e.join(broadcast(med), col("event_type") === col("met"))
      .select(col("event_type"), abs(col("x") - col("med")).as("z"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"), sum(col("z")).as("sg"),
        // per-row square in DECIMAL(38) — same any-scale posture as
        // the ANOVA key's qg (ADVICE r15)
        sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("qg"))
    val f = g.agg(
      count(lit(1)).as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).as("t"),
      sum(expr("(CAST(ng AS DECIMAL(38,0)) * qg - CAST(sg AS DECIMAL(38,0))" +
        " * sg) * 1000 div ng")).cast(LongType).as("ssw_milli"),
      sum(expr("CAST(sg AS DECIMAL(38,0)) * sg * 1000 div ng"))
        .cast(LongType).as("sb_milli"))
    f.select(col("k"), col("n"), col("ssw_milli"),
        expr("greatest(sb_milli - CAST(CAST(t AS DECIMAL(38,0)) * t * 1000" +
          " div n AS BIGINT), 0)").as("ssb_milli"))
      .select(col("k"), col("n"), col("ssw_milli"), col("ssb_milli"),
        expr("CAST(CAST(ssb_milli AS DECIMAL(38,0)) * (n - k) * 1000000" +
          " div (CAST(ssw_milli AS DECIMAL(38,0)) * (k - 1)) AS BIGINT)")
          .as("f_ppm"))
  }

  /** Welch's two-sample t test (r16) — the unequal-variance mean
    * comparison the stats family lacked (`stats_anova_f` is k-group
    * pooled-variance; `stats_mannwhitney_u` is rank-based): purchase
    * vs click value cents. Per-arm (n, Σx, Σx²) exact with the
    * per-row square in DECIMAL(38)/HUGEINT, means and variances in
    * floor-micro, t² = Δmean²/se² in floor-micro via the DECIMAL(38)
    * fold (Δ can be negative; its square is not), Welch–Satterthwaite
    * df in floor-milli with its per-arm quotients floored to milli
    * BEFORE squaring (Spark's IntegralDivide returns BIGINT, so an
    * intermediate quotient must stay sub-int64 — DuckDB's HUGEINT //
    * is matched by flooring the same nonneg operands). `significant` uses the
    * df→∞ 95% bound z² = 3.841459 (the `ab_srm_check` constant) —
    * exact at event-table arm sizes. Operand bound: the 1e6 scaling
    * caps |value| at ~$3·10²³ before the DECIMAL(38) products clip —
    * any-scale for money. One 2-group agg + one 1-row fold. */
  val statsWelchT: QDef = q(
    "stats_welch_t",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM e GROUP BY event_type),
      |w AS (
      |  SELECT
      |    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
      |    MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
      |    MAX(CASE WHEN event_type = 'purchase' THEN q END) AS q1,
      |    MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
      |    MAX(CASE WHEN event_type = 'click' THEN s END) AS s2,
      |    MAX(CASE WHEN event_type = 'click' THEN q END) AS q2
      |  FROM g),
      |m AS (
      |  SELECT n1, n2,
      |    CAST(s1 * 1000000 // n1 AS BIGINT) AS mean1_micro,
      |    CAST(s2 * 1000000 // n2 AS BIGINT) AS mean2_micro,
      |    CASE WHEN n1 <= 1 THEN NULL ELSE
      |      CAST((CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1)
      |      * 1000000 // (CAST(n1 AS HUGEINT) * (n1 - 1)) AS BIGINT)
      |      END AS var1_micro,
      |    CASE WHEN n2 <= 1 THEN NULL ELSE
      |      CAST((CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2)
      |      * 1000000 // (CAST(n2 AS HUGEINT) * (n2 - 1)) AS BIGINT)
      |      END AS var2_micro
      |  FROM w),
      |t AS (
      |  SELECT *,
      |    var1_micro // n1 + var2_micro // n2 AS se2_micro,
      |    mean1_micro - mean2_micro AS dm_micro,
      |    var1_micro // n1 // 1000 AS a1_milli,
      |    var2_micro // n2 // 1000 AS a2_milli
      |  FROM m),
      |f AS (
      |  SELECT n1, n2, mean1_micro, mean2_micro, var1_micro, var2_micro,
      |    se2_micro,
      |    CASE WHEN se2_micro = 0 THEN NULL ELSE
      |      CAST(CAST(dm_micro AS HUGEINT) * dm_micro // se2_micro AS BIGINT)
      |      END AS t2_micro,
      |    CASE WHEN CAST(a1_milli AS HUGEINT) * a1_milli // (n1 - 1)
      |        + CAST(a2_milli AS HUGEINT) * a2_milli // (n2 - 1) = 0 THEN NULL
      |      ELSE CAST(CAST(se2_micro // 1000 AS HUGEINT) * (se2_micro // 1000)
      |      * 1000
      |      // (CAST(a1_milli AS HUGEINT) * a1_milli // (n1 - 1)
      |        + CAST(a2_milli AS HUGEINT) * a2_milli // (n2 - 1))
      |      AS BIGINT) END AS df_milli
      |  FROM t)
      |SELECT *, t2_micro > 3841459 AS significant FROM f""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("x"))
    val g = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
    val w = g.agg(
      max(when(col("event_type") === "purchase", col("n"))).as("n1"),
      max(when(col("event_type") === "purchase", col("s"))).as("s1"),
      max(when(col("event_type") === "purchase", col("q"))).as("q1"),
      max(when(col("event_type") === "click", col("n"))).as("n2"),
      max(when(col("event_type") === "click", col("s"))).as("s2"),
      max(when(col("event_type") === "click", col("q"))).as("q2"))
    val m = w.select(col("n1"), col("n2"),
      expr("CAST(s1 * 1000000 div n1 AS BIGINT)").as("mean1_micro"),
      expr("CAST(s2 * 1000000 div n2 AS BIGINT)").as("mean2_micro"),
      expr("CASE WHEN n1 <= 1 THEN NULL ELSE"
        + " CAST((CAST(n1 AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0))"
        + " * s1) * 1000000 div (CAST(n1 AS DECIMAL(38,0)) * (n1 - 1))"
        + " AS BIGINT) END").as("var1_micro"),
      expr("CASE WHEN n2 <= 1 THEN NULL ELSE"
        + " CAST((CAST(n2 AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0))"
        + " * s2) * 1000000 div (CAST(n2 AS DECIMAL(38,0)) * (n2 - 1))"
        + " AS BIGINT) END").as("var2_micro"))
    // Welch df intermediates rescaled to milli BEFORE squaring: Spark's
    // IntegralDivide always returns BIGINT, so a quotient like
    // (var/n)²/(n−1) (~7e19 here) would overflow where DuckDB's
    // HUGEINT `//` sails through — flooring the SAME nonneg operands
    // to milli first keeps every quotient sub-int64 in BOTH engines.
    val t = m
      .withColumn("se2_micro",
        expr("var1_micro div n1 + var2_micro div n2"))
      .withColumn("dm_micro", col("mean1_micro") - col("mean2_micro"))
      .withColumn("a1_milli", expr("var1_micro div n1 div 1000"))
      .withColumn("a2_milli", expr("var2_micro div n2 div 1000"))
    val f = t.select(col("n1"), col("n2"), col("mean1_micro"),
      col("mean2_micro"), col("var1_micro"), col("var2_micro"),
      col("se2_micro"),
      expr("CASE WHEN se2_micro = 0 THEN NULL ELSE"
        + " CAST(CAST(dm_micro AS DECIMAL(38,0)) * dm_micro div se2_micro"
        + " AS BIGINT) END").as("t2_micro"),
      expr("CASE WHEN CAST(a1_milli AS DECIMAL(38,0)) * a1_milli div (n1 - 1)"
        + " + CAST(a2_milli AS DECIMAL(38,0)) * a2_milli div (n2 - 1) = 0"
        + " THEN NULL ELSE"
        + " CAST(CAST(se2_micro div 1000 AS DECIMAL(38,0))"
        + " * (se2_micro div 1000) * 1000"
        + " div (CAST(a1_milli AS DECIMAL(38,0)) * a1_milli div (n1 - 1)"
        + " + CAST(a2_milli AS DECIMAL(38,0)) * a2_milli div (n2 - 1))"
        + " AS BIGINT) END").as("df_milli"))
    f.withColumn("significant", col("t2_micro") > 3841459L)
  }

  /** Two-proportion z-test (r16) — the conversion-rate comparison
    * completing the experimentation triplet: `ab_srm_check` gates the
    * SPLIT, `stats_welch_t` compares continuous MEANS, this compares
    * RATES between the md5-parity arms. Conversion = the user made a
    * HIGH-VALUE purchase (≥ $180) — deliberately rare enough that
    * neither p̂ = 0 nor p̂ = 1 degenerates the pooled variance at any
    * fixture tier (plain "any purchase" converts EVERY user at
    * sf0.001); the all-converted/none-converted edges still guard to
    * NULL identically in both engines. The pooled z² collapses to
    * pure integers:
    * z² = (c1·n2 − c2·n1)²·(n1+n2) / (n1·n2·(c1+c2)·(n1+n2−c1−c2)),
    * ridden through DECIMAL(38)/HUGEINT, reported in floor-micro with
    * the df=1 95% bound 3.841459. One distinct-user agg + a 1-row
    * fold. */
  val statsPropZtest: QDef = q(
    "stats_prop_ztest",
    """WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
      |      THEN 0 ELSE 1 END AS arm,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND CAST(value AS DECIMAL(12,2)) >= 180 THEN 1 ELSE 0 END)
      |      AS conv
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c2
      |  FROM u),
      |f AS (
      |  SELECT n1, c1, n2, c2,
      |    CAST(c1 * 1000000 // n1 AS BIGINT) AS p1_ppm,
      |    CAST(c2 * 1000000 // n2 AS BIGINT) AS p2_ppm,
      |    CASE WHEN c1 + c2 = 0 OR n1 + n2 - c1 - c2 = 0
      |      THEN CAST(NULL AS BIGINT)
      |      ELSE CAST(CAST(c1 * n2 - c2 * n1 AS HUGEINT)
      |          * (c1 * n2 - c2 * n1) * (n1 + n2) * 1000000
      |        // (CAST(n1 AS HUGEINT) * n2 * (c1 + c2)
      |          * (n1 + n2 - c1 - c2)) AS BIGINT) END AS z2_micro
      |  FROM c)
      |SELECT *, z2_micro > 3841459 AS significant FROM f""") { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          expr("CAST(value AS DECIMAL(12,2)) >= 180"), 1).otherwise(0))
        .as("conv"))
      .select(
        when(substring(md5(col("user_id").cast(StringType)), 1, 1) <= "7",
          0).otherwise(1).as("arm"), col("conv"))
    val c = u.agg(
      count_if(col("arm") === 0).as("n1"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast(LongType)
        .as("c1"),
      count_if(col("arm") === 1).as("n2"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast(LongType)
        .as("c2"))
    c.select(col("n1"), col("c1"), col("n2"), col("c2"),
        expr("CAST(c1 * 1000000 div n1 AS BIGINT)").as("p1_ppm"),
        expr("CAST(c2 * 1000000 div n2 AS BIGINT)").as("p2_ppm"),
        expr("CASE WHEN c1 + c2 = 0 OR n1 + n2 - c1 - c2 = 0"
          + " THEN CAST(NULL AS BIGINT)"
          + " ELSE CAST(CAST(c1 * n2 - c2 * n1 AS DECIMAL(38,0))"
          + " * (c1 * n2 - c2 * n1) * (n1 + n2) * 1000000"
          + " div (CAST(n1 AS DECIMAL(38,0)) * n2 * (c1 + c2)"
          + " * (n1 + n2 - c1 - c2)) AS BIGINT) END").as("z2_micro"))
      .withColumn("significant", col("z2_micro") > 3841459L)
  }

  /** Matryoshka truncation audit (r16) — the modern embedding-compression
    * question (MRL): if the index stores only the first k dimensions,
    * how often does the TRUNCATED inner product still pick the same
    * top-1 as the full vector, and how big is the score gap? Per dim
    * budget 16/32/64 over the md5-sampled query set: truncated and
    * full dots are the shared sequential float fold over the SLICED
    * arrays (round-6, D10), top-1 under (dot DESC, vec_id), the gap
    * floored to exact integer micro per pair so sums stay
    * order-independent (negative sums divide by bare truncating
    * div — identical in both engines per the r15 measurement). The
    * eval-tier answer to "can we ship the 16-dim index". */
  val embedMatryoshkaTruncation: QDef = q(
    "embed_matryoshka_truncation",
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |bud AS (SELECT * FROM (VALUES (16), (32), (64)) t(kd)),
      |pair AS (
      |  SELECT bud.kd, q.q_id, e.vec_id,
      |    ROUND(list_reduce(list_transform(range(1, bud.kd + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)),
      |      (x, y) -> x + y), 6) AS dk,
      |    ROUND(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)),
      |      (x, y) -> x + y), 6) AS d64
      |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id CROSS JOIN bud),
      |r AS (
      |  SELECT kd, q_id, vec_id,
      |    row_number() OVER (PARTITION BY kd, q_id
      |      ORDER BY dk DESC, vec_id) AS rk,
      |    row_number() OVER (PARTITION BY kd, q_id
      |      ORDER BY d64 DESC, vec_id) AS rf,
      |    CAST(floor((d64 - dk) * 1000000) AS BIGINT) AS gap_micro
      |  FROM pair),
      |t1 AS (
      |  SELECT kd, q_id,
      |    MAX(CASE WHEN rk = 1 THEN vec_id END) AS top_k,
      |    MAX(CASE WHEN rf = 1 THEN vec_id END) AS top_full,
      |    CAST(SUM(gap_micro) AS BIGINT) AS sum_gap,
      |    CAST(COUNT(*) AS BIGINT) AS np
      |  FROM r GROUP BY kd, q_id)
      |SELECT CAST(kd AS BIGINT) AS dim_budget,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(SUM(CASE WHEN top_k = top_full THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_top1_agree,
      |  CAST(SUM(CASE WHEN top_k = top_full THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS agree_ppm,
      |  CAST(SUM(sum_gap) AS BIGINT) AS sum_gap_micro,
      |  CAST(SUM(sum_gap) // SUM(np) AS BIGINT) AS mean_gap_micro
      |FROM t1 GROUP BY kd ORDER BY dim_budget""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val qs = e.filter(
        substring(md5(col("vec_id").cast(StringType)), 1, 1) === "0")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val bud = Seq(16, 32, 64).toDF("kd")
    val pair = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .crossJoin(broadcast(bud))
      .select(col("kd"), col("q_id"), col("vec_id"),
        round(VecMath.fdot(expr("slice(embedding, 1, kd)"),
          expr("slice(q_emb, 1, kd)")), 6).as("dk"),
        round(VecMath.fdot(col("embedding"), col("q_emb")), 6).as("d64"))
    val wk = Window.partitionBy(col("kd"), col("q_id"))
      .orderBy(col("dk").desc, col("vec_id"))
    val wf = Window.partitionBy(col("kd"), col("q_id"))
      .orderBy(col("d64").desc, col("vec_id"))
    val r = pair.select(col("kd"), col("q_id"), col("vec_id"),
      row_number().over(wk).as("rk"), row_number().over(wf).as("rf"),
      expr("CAST(floor((d64 - dk) * 1000000) AS BIGINT)").as("gap_micro"))
    val t1 = r.groupBy(col("kd"), col("q_id"))
      .agg(max(when(col("rk") === 1, col("vec_id"))).as("top_k"),
        max(when(col("rf") === 1, col("vec_id"))).as("top_full"),
        sum(col("gap_micro")).as("sum_gap"), count(lit(1)).as("np"))
    t1.groupBy(col("kd"))
      .agg(count(lit(1)).as("n_queries"),
        count_if(col("top_k") === col("top_full")).as("n_top1_agree"),
        sum(col("sum_gap")).cast(LongType).as("sum_gap_micro"),
        sum(col("np")).as("tot_np"))
      .select(col("kd").cast(LongType).as("dim_budget"), col("n_queries"),
        col("n_top1_agree"),
        expr("CAST(n_top1_agree * 1000000 div n_queries AS BIGINT)")
          .as("agree_ppm"),
        col("sum_gap_micro"),
        expr("CAST(sum_gap_micro div tot_np AS BIGINT)")
          .as("mean_gap_micro"))
      .orderBy(col("dim_budget"))
  }

  /** Wilson score interval (r17) — the proportion CI the stats
    * family lacked (`stats_prop_ztest` tests a difference;
    * `eval_calibration_bins` bins continuous scores): per event type,
    * the share of high-value events (> $100) with its 95% Wilson
    * bounds. (x, n) are exact integers; the interval itself is ONE
    * fixed float expression chain over them — /, *, +, −, sqrt are
    * all IEEE-correctly-rounded, so identical operand order gives
    * bit-identical doubles in both engines (the
    * `graph_degree_assortativity` precedent), with ROUND(…,6) as
    * defense-in-depth. z² = 3.841459 is the house constant
    * (ab_srm_check); z = sqrt(z²) never runs on data. One group agg +
    * row-local math + presentation sort. */
  val statsWilsonCi: QDef = q(
    "stats_wilson_ci",
    """WITH g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN CAST(CAST(value AS DECIMAL(12,2)) * 100
      |      AS BIGINT) > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM events GROUP BY event_type),
      |t AS (
      |  SELECT event_type, n, x,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
      |    CAST(n AS DOUBLE) AS nd
      |  FROM g)
      |SELECT event_type, n, x,
      |  CAST(x * 1000000 // n AS BIGINT) AS p_ppm,
      |  ROUND((ph + 3.841459 / (2.0 * nd)
      |    - sqrt(3.841459) * sqrt(ph * (1.0 - ph) / nd
      |      + 3.841459 / (4.0 * nd * nd)))
      |    / (1.0 + 3.841459 / nd), 6) AS wilson_lo,
      |  ROUND((ph + 3.841459 / (2.0 * nd)
      |    + sqrt(3.841459) * sqrt(ph * (1.0 - ph) / nd
      |      + 3.841459 / (4.0 * nd * nd)))
      |    / (1.0 + 3.841459 / nd), 6) AS wilson_hi
      |FROM t ORDER BY event_type""") { (s, d) =>
    val g = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          > 10000L, 1L).otherwise(0L)).as("x"))
    val t = g.select(col("event_type"), col("n"), col("x"),
      (col("x").cast(DoubleType) / col("n").cast(DoubleType)).as("ph"),
      col("n").cast(DoubleType).as("nd"))
    t.select(col("event_type"), col("n"), col("x"),
        expr("CAST(x * 1000000 div n AS BIGINT)").as("p_ppm"),
        round((col("ph") + lit(3.841459) / (lit(2.0) * col("nd"))
          - sqrt(lit(3.841459)) * sqrt(col("ph") * (lit(1.0) - col("ph"))
            / col("nd")
            + lit(3.841459) / (lit(4.0) * col("nd") * col("nd"))))
          / (lit(1.0) + lit(3.841459) / col("nd")), 6).as("wilson_lo"),
        round((col("ph") + lit(3.841459) / (lit(2.0) * col("nd"))
          + sqrt(lit(3.841459)) * sqrt(col("ph") * (lit(1.0) - col("ph"))
            / col("nd")
            + lit(3.841459) / (lit(4.0) * col("nd") * col("nd"))))
          / (lit(1.0) + lit(3.841459) / col("nd")), 6).as("wilson_hi"))
      .orderBy(col("event_type"))
  }

  /** Poisson-bootstrap confidence interval (r17) — the inference
    * layer over `sample_poisson_bootstrap`'s replicate machinery
    * (same 16-bit thresholds = the Poisson(1) CDF at 65536): per
    * event type, 32 deterministic replicate means of the cents value
    * in floor-micro, with the 2nd/31st order statistics as the ~94%
    * central interval next to the full-data mean. HASH ECONOMY
    * (measured: one md5 per (event, replicate) benched 8.8 s at
    * sf0.1): each md5 is 128 bits = EIGHT independent 16-bit windows,
    * so replicate (g, i) draws its weight from window i of
    * md5(event_id:g) — 4 md5s per event for 32 replicates, the
    * substr/threshold work row-local and codegen'd. Replicates are
    * row-local weight draws → one (type, rep) agg with map-side
    * combine (160 output rows regardless of corpus size); ranking is
    * a type-partitioned window over 32 rows. A replicate with zero
    * total weight (probability ~0.37^n) is filtered identically in
    * both engines so NULL ordering never arises. */
  val statsBootstrapCi: QDef = q(
    "stats_bootstrap_ci",
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |x AS (
      |  SELECT event_type, cents, g,
      |    md5(CAST(event_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) AS h
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS g)),
      |k AS (
      |  SELECT event_type, g * 8 + i AS rep, cents,
      |    CASE WHEN h16 < 24109 THEN 0 WHEN h16 < 48218 THEN 1
      |         WHEN h16 < 60275 THEN 2 WHEN h16 < 64291 THEN 3
      |         ELSE 4 END AS m
      |  FROM (SELECT event_type, cents, g, i,
      |    ('0x' || substr(h, i * 4 + 1, 4))::INT AS h16
      |    FROM x CROSS JOIN (SELECT unnest(range(0, 8)) AS i))),
      |rm AS (
      |  SELECT event_type, rep,
      |    CAST(SUM(m * cents) * 1000000 // SUM(m) AS BIGINT) AS rep_mean_micro
      |  FROM k GROUP BY event_type, rep
      |  HAVING SUM(m) > 0),
      |rk AS (
      |  SELECT event_type, rep_mean_micro,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY rep_mean_micro, rep) AS rn
      |  FROM rm),
      |f AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro
      |  FROM e GROUP BY event_type)
      |SELECT f.event_type, f.n, f.mean_micro,
      |  MAX(CASE WHEN rn = 2 THEN rep_mean_micro END) AS boot_lo_micro,
      |  MAX(CASE WHEN rn = 31 THEN rep_mean_micro END) AS boot_hi_micro,
      |  CAST(32 AS BIGINT) AS n_replicates
      |FROM f JOIN rk ON rk.event_type = f.event_type
      |GROUP BY f.event_type, f.n, f.mean_micro
      |ORDER BY f.event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // r19-opt (guide §2.5 input-parallelism class): the events file
    // is ONE small parquet split, so the whole ×32 replicate
    // explosion (md5s, conv windows, agg partials — ~32·|events|
    // rows of row-local work) ran in a single scan task while 31
    // cores idled (measured 3.2 s at sf0.1, scaling ratio 1.23 —
    // the suite's flattest "real compute" key). One round-robin
    // repartition spreads the draw work across the session width;
    // BOTH consumers (the replicate fold and the full-data mean)
    // hang off the same exchange, so the second events scan the r17
    // spelling paid is gone too (ReuseExchange). At cluster scale
    // the same spelling holds — the exchange carries |events| rows
    // of three narrow columns, 32× less than what the explode emits.
    val e0 = Tables.events(s, d)
      .select(col("event_id"), col("event_id").cast(StringType)
          .as("event_id_str"), col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
    val e = PartitionPolicy.spreadIfNarrow(s, e0)
    val x = e.select(col("event_type"), col("cents"), col("event_id_str"),
        explode(sequence(lit(0), lit(3))).as("g"))
      .withColumn("h", md5(concat(col("event_id_str"), lit(":"),
        col("g").cast(StringType))))
    val h16 = conv(expr("substring(h, i * 4 + 1, 4)"), 16, 10)
      .cast(IntegerType)
    val k = x.select(col("event_type"), col("cents"), col("g"), col("h"),
        explode(sequence(lit(0), lit(7))).as("i"))
      .select(col("event_type"), (col("g") * 8 + col("i")).as("rep"),
        col("cents"),
        when(h16 < 24109, 0L).when(h16 < 48218, 1L).when(h16 < 60275, 2L)
          .when(h16 < 64291, 3L).otherwise(4L).as("m"))
    val rm = k.groupBy(col("event_type"), col("rep"))
      .agg(sum(col("m") * col("cents")).as("wsum"), sum(col("m")).as("wn"))
      .filter(col("wn") > 0)
      .select(col("event_type"), col("rep"),
        expr("CAST(wsum * 1000000 div wn AS BIGINT)").as("rep_mean_micro"))
    val rk = rm.select(col("event_type").as("rk_type"), col("rep_mean_micro"),
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("rep_mean_micro"), col("rep"))).as("rn"))
    val f = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(cents) * 1000000 div COUNT(*) AS BIGINT)")
          .as("mean_micro"))
    f.join(rk, col("rk_type") === col("event_type"))
      .groupBy(col("event_type"), col("n"), col("mean_micro"))
      .agg(max(when(col("rn") === 2, col("rep_mean_micro")))
          .as("boot_lo_micro"),
        max(when(col("rn") === 31, col("rep_mean_micro")))
          .as("boot_hi_micro"))
      .withColumn("n_replicates", lit(32L))
      .orderBy(col("event_type"))
  }

  /** Paired t test (r17) — the within-subject complement to
    * `stats_welch_t` (independent arms): per event type, each user's
    * pre- vs post-cut (2024-01-16) mean value in floor-micro, the
    * test running on the per-user differences of users active on
    * BOTH sides. t² = (Σd)²·(n−1)/(n·Σd² − (Σd)²) — one exact
    * rational over the (possibly negative) integer d's, squares
    * ridden through DECIMAL(38)/HUGEINT, ·10⁶ floor, both degenerate
    * denominators guarded NULL. significant at the house z² bound
    * 3.841459 (df→∞). Two (type, user)-keyed aggs + a type fold. */
  val statsPairedT: QDef = q(
    "stats_paired_t",
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |u AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CASE WHEN post THEN cents ELSE 0 END) AS BIGINT) AS s_post,
      |    CAST(SUM(CASE WHEN post THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
      |    CAST(SUM(CASE WHEN post THEN 0 ELSE cents END) AS BIGINT) AS s_pre,
      |    CAST(SUM(CASE WHEN post THEN 0 ELSE 1 END) AS BIGINT) AS n_pre
      |  FROM e GROUP BY event_type, user_id),
      |dd AS (
      |  SELECT event_type,
      |    CAST(s_post * 1000000 // n_post AS BIGINT)
      |      - CAST(s_pre * 1000000 // n_pre AS BIGINT) AS dv
      |  FROM u WHERE n_post > 0 AND n_pre > 0),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(dv) AS BIGINT) AS sd,
      |    SUM(CAST(dv AS HUGEINT) * dv) AS sdd
      |  FROM dd GROUP BY event_type)
      |SELECT event_type, n, sd AS sum_d_micro,
      |  CASE WHEN n = 0 THEN NULL ELSE sd // n END AS mean_d_micro,
      |  CASE WHEN n <= 1 OR n * sdd - CAST(sd AS HUGEINT) * sd = 0 THEN NULL
      |    ELSE CAST(CAST(sd AS HUGEINT) * sd * (n - 1) * 1000000
      |      // (n * sdd - CAST(sd AS HUGEINT) * sd) AS BIGINT) END
      |    AS t2_micro,
      |  CASE WHEN n <= 1 OR n * sdd - CAST(sd AS HUGEINT) * sd = 0 THEN NULL
      |    ELSE CAST(CAST(sd AS HUGEINT) * sd * (n - 1) * 1000000
      |      // (n * sdd - CAST(sd AS HUGEINT) * sd) AS BIGINT) > 3841459 END
      |    AS significant
      |FROM g ORDER BY event_type""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        (col("ts") >= lit("2024-01-16 00:00:00").cast(TimestampType))
          .as("post"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
    val u = e.groupBy(col("event_type"), col("user_id"))
      .agg(sum(when(col("post"), col("cents")).otherwise(0L)).as("s_post"),
        sum(when(col("post"), 1L).otherwise(0L)).as("n_post"),
        sum(when(col("post"), 0L).otherwise(col("cents"))).as("s_pre"),
        sum(when(col("post"), 0L).otherwise(1L)).as("n_pre"))
    val dd = u.filter(col("n_post") > 0 && col("n_pre") > 0)
      .select(col("event_type"),
        (expr("CAST(s_post * 1000000 div n_post AS BIGINT)")
          - expr("CAST(s_pre * 1000000 div n_pre AS BIGINT)")).as("dv"))
    val g = dd.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("dv")).as("sd"),
        sum(expr("CAST(dv AS DECIMAL(38,0)) * dv")).as("sdd"))
    g.select(col("event_type"), col("n"), col("sd").as("sum_d_micro"),
        expr("CASE WHEN n = 0 THEN NULL ELSE sd div n END")
          .as("mean_d_micro"),
        expr("CASE WHEN n <= 1 OR n * sdd - CAST(sd AS DECIMAL(38,0)) * sd"
          + " = 0 THEN NULL"
          + " ELSE CAST(CAST(sd AS DECIMAL(38,0)) * sd * (n - 1) * 1000000"
          + " div (n * sdd - CAST(sd AS DECIMAL(38,0)) * sd) AS BIGINT) END")
          .as("t2_micro"))
      .withColumn("significant", col("t2_micro") > 3841459L)
      .orderBy(col("event_type"))
  }

  /** Cohen's d effect size (r17) — the magnitude companion to
    * `stats_welch_t`'s significance (a 100 TB A/B readout needs both:
    * at scale everything is significant, only effect size decides):
    * purchase vs click cents, pooled SD from the same exact
    * (n, Σx, Σx²) sums, d = Δmean/s_pooled as the one float chain
    * (divisions + one sqrt, correctly rounded ⇒ cross-engine
    * bit-identical), ROUND(…,6), n ≤ 1 legs guarded NULL. One
    * 2-group agg + a 1-row fold. */
  val statsCohensD: QDef = q(
    "stats_cohens_d",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM e GROUP BY event_type),
      |w AS (
      |  SELECT
      |    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
      |    MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
      |    MAX(CASE WHEN event_type = 'purchase' THEN q END) AS q1,
      |    MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
      |    MAX(CASE WHEN event_type = 'click' THEN s END) AS s2,
      |    MAX(CASE WHEN event_type = 'click' THEN q END) AS q2
      |  FROM g)
      |SELECT n1, n2,
      |  CAST(s1 * 1000000 // n1 - s2 * 1000000 // n2 AS BIGINT)
      |    AS mean_diff_micro,
      |  CASE WHEN n1 <= 1 OR n2 <= 1 THEN NULL ELSE
      |    ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |      / sqrt(((CAST(q1 AS DOUBLE)
      |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |        + (CAST(q2 AS DOUBLE)
      |          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
      |        / CAST(n1 + n2 - 2 AS DOUBLE)), 6) END AS cohens_d
      |FROM w""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("x"))
    val g = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
    val w = g.agg(
      max(when(col("event_type") === "purchase", col("n"))).as("n1"),
      max(when(col("event_type") === "purchase", col("s"))).as("s1"),
      max(when(col("event_type") === "purchase", col("q"))).as("q1"),
      max(when(col("event_type") === "click", col("n"))).as("n2"),
      max(when(col("event_type") === "click", col("s"))).as("s2"),
      max(when(col("event_type") === "click", col("q"))).as("q2"))
    w.select(col("n1"), col("n2"),
      expr("CAST(s1 * 1000000 div n1 - s2 * 1000000 div n2 AS BIGINT)")
        .as("mean_diff_micro"),
      when(col("n1") <= 1 || col("n2") <= 1, lit(null).cast(DoubleType))
        .otherwise(round(
          (col("s1").cast(DoubleType) / col("n1").cast(DoubleType)
            - col("s2").cast(DoubleType) / col("n2").cast(DoubleType))
          / sqrt(((col("q1").cast(DoubleType)
              - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
                / col("n1").cast(DoubleType))
            + (col("q2").cast(DoubleType)
              - col("s2").cast(DoubleType) * col("s2").cast(DoubleType)
                / col("n2").cast(DoubleType)))
            / (col("n1") + col("n2") - 2).cast(DoubleType)), 6))
        .as("cohens_d"))
  }

  /** McNemar's paired-proportion test (r18) — the within-subject
    * binary complement to `stats_paired_t` (continuous) and
    * `stats_prop_ztest` (independent arms): per event type, each
    * user's pre- vs post-cut ACTIVITY (any event of that type before
    * / after the shared 2024-01-16 cut) is a paired binary outcome,
    * and the test statistic uses only the DISCORDANT pairs:
    * χ² = (b−c)²/(b+c) with b = active-pre-only, c =
    * active-post-only. Exact integers end to end — χ² ships in
    * floor-micro ((b−c)²·10⁶ div (b+c), zero-discordance guarded
    * NULL), significance at the house z² bound 3.841459. One
    * (type, user)-keyed agg + a type fold. */
  val statsMcnemarPaired: QDef = q(
    "stats_mcnemar_paired",
    """WITH u AS (
      |  SELECT event_type, user_id,
      |    MAX(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |      THEN 1 ELSE 0 END) AS pre,
      |    MAX(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |      THEN 1 ELSE 0 END) AS post
      |  FROM events GROUP BY event_type, user_id)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(pre * (1 - post)) AS BIGINT) AS n_pre_only,
      |  CAST(SUM((1 - pre) * post) AS BIGINT) AS n_post_only,
      |  CASE WHEN SUM(pre * (1 - post)) + SUM((1 - pre) * post) = 0
      |    THEN NULL
      |    ELSE CAST((SUM(pre * (1 - post)) - SUM((1 - pre) * post))
      |      * (SUM(pre * (1 - post)) - SUM((1 - pre) * post)) * 1000000
      |      // (SUM(pre * (1 - post)) + SUM((1 - pre) * post)) AS BIGINT)
      |    END AS chi2_micro,
      |  CASE WHEN SUM(pre * (1 - post)) + SUM((1 - pre) * post) = 0
      |    THEN NULL
      |    ELSE CAST((SUM(pre * (1 - post)) - SUM((1 - pre) * post))
      |      * (SUM(pre * (1 - post)) - SUM((1 - pre) * post)) * 1000000
      |      // (SUM(pre * (1 - post)) + SUM((1 - pre) * post)) AS BIGINT)
      |      > 3841459 END AS significant
      |FROM u GROUP BY event_type
      |ORDER BY event_type""") { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        when(col("ts") < lit("2024-01-16 00:00:00").cast(TimestampType), 1L)
          .otherwise(0L).as("pre_f"),
        when(col("ts") >= lit("2024-01-16 00:00:00").cast(TimestampType), 1L)
          .otherwise(0L).as("post_f"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(max(col("pre_f")).as("pre"), max(col("post_f")).as("post"))
    u.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("pre") * (lit(1L) - col("post"))).as("b"),
        sum((lit(1L) - col("pre")) * col("post")).as("c"))
      .select(col("event_type"), col("n_users"),
        col("b").as("n_pre_only"), col("c").as("n_post_only"),
        when(col("b") + col("c") === 0L, lit(null).cast(LongType))
          .otherwise(expr("(b - c) * (b - c) * 1000000 div (b + c)"))
          .as("chi2_micro"),
        when(col("b") + col("c") === 0L, lit(null).cast(BooleanType))
          .otherwise(expr("(b - c) * (b - c) * 1000000 div (b + c)")
            > 3841459L).as("significant"))
      .orderBy(col("event_type"))
  }

  /** Fleiss' kappa (r18) — multi-rater chance-corrected agreement,
    * the n-rater generalization of the graded `eval_cohens_kappa`
    * (2 raters): three deterministic rule-raters categorize every
    * document by token count with rater-specific boundaries (the
    * disagreement band between 40 and 60 / 140 and 160 tokens is
    * real), and κ = (P̄−P̄e)/(1−P̄e) is ONE exact rational after
    * clearing denominators: with n=3 raters, N docs, S = Σᵢⱼ nᵢⱼ²
    * and T = Σⱼ Cⱼ², κ·ppm = (3N(S−3N) − 2T)·10⁶ div (18N² − 2T)
    * (complete-agreement den=0 guarded NULL). Per-doc category
    * counts are row-local; the grade is one corpus fold — the
    * agreement audit a labeling pipeline publishes per batch. */
  val statsFleissKappa: QDef = q(
    "stats_fleiss_kappa",
    """WITH t AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |r AS (
      |  SELECT
      |    CASE WHEN ntok < 50 THEN 0 WHEN ntok < 150 THEN 1 ELSE 2 END AS r0,
      |    CASE WHEN ntok < 60 THEN 0 WHEN ntok < 140 THEN 1 ELSE 2 END AS r1,
      |    CASE WHEN ntok < 40 THEN 0 WHEN ntok < 160 THEN 1 ELSE 2 END AS r2
      |  FROM t),
      |n AS (
      |  SELECT
      |    (CASE WHEN r0 = 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN r1 = 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN r2 = 0 THEN 1 ELSE 0 END) AS n0,
      |    (CASE WHEN r0 = 1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN r1 = 1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN r2 = 1 THEN 1 ELSE 0 END) AS n1,
      |    (CASE WHEN r0 = 2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN r1 = 2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN r2 = 2 THEN 1 ELSE 0 END) AS n2
      |  FROM r),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
      |    CAST(SUM(n0 * n0 + n1 * n1 + n2 * n2) AS BIGINT) AS s_sq,
      |    CAST(SUM(n0) AS BIGINT) AS c0, CAST(SUM(n1) AS BIGINT) AS c1,
      |    CAST(SUM(n2) AS BIGINT) AS c2
      |  FROM n)
      |SELECT nd AS n_docs, s_sq, c0, c1, c2,
      |  CAST((s_sq - 3 * nd) * 1000000 // (6 * nd) AS BIGINT) AS pbar_ppm,
      |  CAST((c0 * c0 + c1 * c1 + c2 * c2) * 1000000 // (9 * nd * nd)
      |    AS BIGINT) AS pe_ppm,
      |  CASE WHEN 18 * nd * nd - 2 * (c0 * c0 + c1 * c1 + c2 * c2) = 0
      |    THEN NULL
      |    ELSE CAST((3 * nd * (s_sq - 3 * nd)
      |        - 2 * (c0 * c0 + c1 * c1 + c2 * c2)) * 1000000
      |      // (18 * nd * nd - 2 * (c0 * c0 + c1 * c1 + c2 * c2))
      |      AS BIGINT) END AS kappa_ppm
      |FROM f""") { (s, d) =>
    val ntok = size(split(col("text"), " ")).cast(LongType)
    def cat(lo: Long, hi: Long): Column =
      when(col("ntok") < lo, 0L).when(col("ntok") < hi, 1L).otherwise(2L)
    val r = Tables.documents(s, d).select(ntok.as("ntok"))
      .select(cat(50, 150).as("r0"), cat(60, 140).as("r1"),
        cat(40, 160).as("r2"))
    def nj(j: Long): Column =
      Seq("r0", "r1", "r2")
        .map(c => when(col(c) === j, 1L).otherwise(0L)).reduce(_ + _)
    val f = r.select(nj(0).as("n0"), nj(1).as("n1"), nj(2).as("n2"))
      .agg(count(lit(1)).as("nd"),
        sum(col("n0") * col("n0") + col("n1") * col("n1")
          + col("n2") * col("n2")).as("s_sq"),
        sum(col("n0")).as("c0"), sum(col("n1")).as("c1"),
        sum(col("n2")).as("c2"))
    f.select(col("nd").as("n_docs"), col("s_sq"), col("c0"), col("c1"),
        col("c2"),
        expr("(s_sq - 3 * nd) * 1000000 div (6 * nd)").as("pbar_ppm"),
        expr("(c0 * c0 + c1 * c1 + c2 * c2) * 1000000 div (9 * nd * nd)")
          .as("pe_ppm"),
        when(expr("18 * nd * nd - 2 * (c0 * c0 + c1 * c1 + c2 * c2)") === 0L,
          lit(null).cast(LongType))
          .otherwise(expr(
            """(3 * nd * (s_sq - 3 * nd)
              | - 2 * (c0 * c0 + c1 * c1 + c2 * c2)) * 1000000
              | div (18 * nd * nd
              | - 2 * (c0 * c0 + c1 * c1 + c2 * c2))""".stripMargin))
          .as("kappa_ppm"))
  }

  private[ops] val dec = DecimalType(38, 0)

  /** Jarque–Bera normality test (r18b) — does the per-type event
    * value LOOK normal? The moment-based omnibus test (Jarque &
    * Bera 1980): JB = n/6·(S² + (K−3)²/4) from skewness S and
    * kurtosis K. All four raw power sums are EXACT (cents⁴ through
    * DECIMAL(38) partials), the n-scaled numerators
    * n·Σx²−(Σx)², n²Σx³−3nΣxΣx²+2(Σx)³,
    * n³Σx⁴−4n²ΣxΣx³+6n(Σx)²Σx²−3(Σx)⁴ are exact integer algebra,
    * and the central moments m_k = numerator div n^k are FLOORED
    * exact integers (quantization, not float drift — and the floor
    * keeps every DOUBLE operand below 2⁵³, the DecimalCastBounds
    * rule; S² = m3²/m2³, K = m4/m2²). ONLY the final ratios go
    * through one identical float tree (floor micro). m2 = 0
    * (constant column) guards to NULL. One grouped agg + row-local
    * algebra — two exchanges, constant output. χ²₂ 5%-critical
    * 5.991465 pins `significant`. */
  val statsJarqueBera: QDef = q(
    "stats_jarque_bera",
    """WITH x AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) AS s1,
      |    CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
      |    CAST(SUM(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
      |    CAST(SUM(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
      |  FROM x GROUP BY event_type),
      |a AS (
      |  SELECT event_type, n,
      |    CAST((n * s2 - s1 * s1) // (CAST(n AS HUGEINT) * n) AS BIGINT)
      |      AS m2,
      |    CAST((n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1)
      |      // (CAST(n AS HUGEINT) * n * n) AS BIGINT) AS m3,
      |    CAST((n * n * n * s4 - 4 * n * n * s1 * s3
      |        + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1)
      |      // (CAST(n AS HUGEINT) * n * n * n) AS BIGINT) AS m4
      |  FROM m)
      |SELECT event_type, n,
      |  CASE WHEN m2 = 0 THEN NULL ELSE
      |    CAST(FLOOR(CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE)
      |      / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
      |      * 1000000) AS BIGINT) END AS skew_sq_micro,
      |  CASE WHEN m2 = 0 THEN NULL ELSE
      |    CAST(FLOOR(CAST(m4 AS DOUBLE)
      |      / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) * 1000000)
      |      AS BIGINT) END AS kurt_micro,
      |  CASE WHEN m2 = 0 THEN NULL ELSE
      |    CAST(FLOOR(CAST(n AS DOUBLE)
      |      * (CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE)
      |          / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)
      |            * CAST(m2 AS DOUBLE))
      |        + (CAST(m4 AS DOUBLE) / (CAST(m2 AS DOUBLE)
      |            * CAST(m2 AS DOUBLE)) - 3)
      |          * (CAST(m4 AS DOUBLE) / (CAST(m2 AS DOUBLE)
      |            * CAST(m2 AS DOUBLE)) - 3) / 4) / 6 * 1000000)
      |      AS BIGINT) END AS jb_micro,
      |  CASE WHEN m2 = 0 THEN NULL ELSE
      |    CAST(FLOOR(CAST(n AS DOUBLE)
      |      * (CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE)
      |          / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)
      |            * CAST(m2 AS DOUBLE))
      |        + (CAST(m4 AS DOUBLE) / (CAST(m2 AS DOUBLE)
      |            * CAST(m2 AS DOUBLE)) - 3)
      |          * (CAST(m4 AS DOUBLE) / (CAST(m2 AS DOUBLE)
      |            * CAST(m2 AS DOUBLE)) - 3) / 4) / 6 * 1000000)
      |      AS BIGINT) > 5991465 END AS significant
      |FROM a ORDER BY event_type""") { (s, d) =>
    val x = Tables.events(s, d).select(col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("v"))
    val m = x.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(dec)).as("s1"),
        sum(col("v").cast(dec) * col("v")).as("s2"),
        sum(col("v").cast(dec) * col("v") * col("v")).as("s3"),
        sum(col("v").cast(dec) * col("v") * col("v") * col("v")).as("s4"))
    val a = m.select(col("event_type"), col("n"),
      expr("CAST((CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1)"
        + " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("m2"),
      expr("CAST((CAST(n AS DECIMAL(38,0)) * n * s3"
        + " - 3 * CAST(n AS DECIMAL(38,0)) * s1 * s2"
        + " + 2 * s1 * s1 * s1)"
        + " div (CAST(n AS DECIMAL(38,0)) * n * n) AS BIGINT)").as("m3"),
      expr("CAST((CAST(n AS DECIMAL(38,0)) * n * n * s4"
        + " - 4 * CAST(n AS DECIMAL(38,0)) * n * s1 * s3"
        + " + 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2"
        + " - 3 * s1 * s1 * s1 * s1)"
        + " div (CAST(n AS DECIMAL(38,0)) * n * n * n) AS BIGINT)")
        .as("m4"))
    // the ONE float tree, spelled identically to the oracle
    val jbTree = "CAST(n AS DOUBLE)" +
      " * (CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE)" +
      " / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))" +
      " + (CAST(m4 AS DOUBLE) / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))" +
      " - 3) * (CAST(m4 AS DOUBLE)" +
      " / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3) / 4) / 6" +
      " * 1000000"
    a.select(col("event_type"), col("n"),
        when(col("m2") === 0, lit(null).cast(LongType))
          .otherwise(expr("CAST(FLOOR(CAST(m3 AS DOUBLE) * CAST(m3 AS DOUBLE)"
            + " / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)"
            + " * CAST(m2 AS DOUBLE)) * 1000000) AS BIGINT)"))
          .as("skew_sq_micro"),
        when(col("m2") === 0, lit(null).cast(LongType))
          .otherwise(expr("CAST(FLOOR(CAST(m4 AS DOUBLE)"
            + " / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) * 1000000)"
            + " AS BIGINT)")).as("kurt_micro"),
        when(col("m2") === 0, lit(null).cast(LongType))
          .otherwise(expr(s"CAST(FLOOR($jbTree) AS BIGINT)")).as("jb_micro"),
        when(col("m2") === 0, lit(null).cast(BooleanType))
          .otherwise(expr(s"CAST(FLOOR($jbTree) AS BIGINT) > 5991465"))
          .as("significant"))
      .orderBy(col("event_type"))
  }

  /** Kruskal–Wallis H test (r18b) — does order value differ across
    * the five order priorities, without assuming normality? The
    * k-group generalization of the graded `stats_mannwhitney_u`,
    * sharing its EXACT doubled-midrank machinery: per-value group
    * counts, the bucketed exclusive-prefix rank pass
    * (`exclusivePrefix` — ONE spelling), doubled rank sums
    * 2R_g = Σ_v c_gv·(2·pre_v + cnt_v + 1), then
    * H = 3/(N(N+1))·Σ(2R_g)²/n_g − 3(N+1) where each (2R_g)²/n_g is
    * a FLOORED exact integer division (error < 5 absolute before
    * the micro scaling — quantization, not float drift, identical
    * in both engines). Tie correction C = 1 − Σ(t³−t)/(N³−N)
    * applied as one more exact rational. NO floats anywhere. χ²₄
    * 5%-critical 9.487729 pins `significant`. Shuffles: one
    * distinct-value histogram, the bucketed-prefix pass, one fold —
    * all value-histogram-sized. */
  val statsKruskalWallis: QDef = q(
    "stats_kruskal_wallis",
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS v,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c2,
      |    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c3,
      |    CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1
      |      ELSE 0 END) AS BIGINT) AS c4,
      |    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c5,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM orders GROUP BY 1),
      |cum AS (
      |  SELECT *, CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS pre
      |  FROM c),
      |r AS (
      |  SELECT
      |    CAST(SUM(c1 * (2 * pre + cnt + 1)) AS HUGEINT) AS r1,
      |    CAST(SUM(c2 * (2 * pre + cnt + 1)) AS HUGEINT) AS r2,
      |    CAST(SUM(c3 * (2 * pre + cnt + 1)) AS HUGEINT) AS r3,
      |    CAST(SUM(c4 * (2 * pre + cnt + 1)) AS HUGEINT) AS r4,
      |    CAST(SUM(c5 * (2 * pre + cnt + 1)) AS HUGEINT) AS r5,
      |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(c3) AS BIGINT) AS n3, CAST(SUM(c4) AS BIGINT) AS n4,
      |    CAST(SUM(c5) AS BIGINT) AS n5,
      |    CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT)
      |      AS tie
      |  FROM cum),
      |h AS (
      |  SELECT n, n1, n2, n3, n4, n5, tie,
      |    CAST(3000000 * (
      |        CASE WHEN n1 = 0 THEN 0 ELSE r1 * r1 // n1 END
      |      + CASE WHEN n2 = 0 THEN 0 ELSE r2 * r2 // n2 END
      |      + CASE WHEN n3 = 0 THEN 0 ELSE r3 * r3 // n3 END
      |      + CASE WHEN n4 = 0 THEN 0 ELSE r4 * r4 // n4 END
      |      + CASE WHEN n5 = 0 THEN 0 ELSE r5 * r5 // n5 END)
      |      // (n * (n + 1)) - 3000000 * (n + 1) AS BIGINT) AS h_micro
      |  FROM r)
      |SELECT n, n1, n2, n3, n4, n5, h_micro,
      |  CAST(tie AS BIGINT) AS tie_mass,
      |  CASE WHEN CAST(n AS HUGEINT) * n * n - n - tie = 0 THEN NULL
      |    ELSE CAST(CAST(h_micro AS HUGEINT) * (CAST(n AS HUGEINT) * n * n - n)
      |      // (CAST(n AS HUGEINT) * n * n - n - tie) AS BIGINT)
      |    END AS h_corrected_micro,
      |  CASE WHEN CAST(n AS HUGEINT) * n * n - n - tie = 0 THEN NULL
      |    ELSE CAST(h_micro AS HUGEINT) * (CAST(n AS HUGEINT) * n * n - n)
      |      // (CAST(n AS HUGEINT) * n * n - n - tie) > 9487729
      |    END AS significant
      |FROM h""") { (s, d) =>
    def grp(p: String): Column =
      sum(when(col("o_orderpriority") === p, 1L).otherwise(0L))
    val c = Tables.orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100"
        + " AS BIGINT)").as("v"), col("o_orderpriority"))
      .groupBy(col("v"))
      .agg(grp("1-URGENT").as("c1"), grp("2-HIGH").as("c2"),
        grp("3-MEDIUM").as("c3"), grp("4-NOT SPECIFIED").as("c4"),
        grp("5-LOW").as("c5"), count(lit(1)).as("cnt"))
    val cum = exclusivePrefix(c, expr("v div 1000000"))
    def rsum(i: Int): Column =
      sum((col(s"c$i") * (lit(2L) * col("pre") + col("cnt") + lit(1L)))
        .cast(dec)).as(s"r$i")
    val r = cum.agg(rsum(1), rsum(2), rsum(3), rsum(4), rsum(5),
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c3")).as("n3"), sum(col("c4")).as("n4"),
      sum(col("c5")).as("n5"), sum(col("cnt")).as("n"),
      sum((col("cnt").cast(dec) * col("cnt") * col("cnt") - col("cnt")))
        .as("tie"))
    val qterms = (1 to 5).map(i =>
      s"CASE WHEN n$i = 0 THEN 0 ELSE r$i * r$i div n$i END")
      .mkString(" + ")
    val h = r.select(col("n"), col("n1"), col("n2"), col("n3"), col("n4"),
      col("n5"), col("tie"),
      expr(s"CAST(CAST(3000000 AS DECIMAL(38,0)) * ($qterms)"
        + " div (n * (n + 1)) - 3000000 * (n + 1) AS BIGINT)")
        .as("h_micro"))
    h.select(col("n"), col("n1"), col("n2"), col("n3"), col("n4"),
        col("n5"), col("h_micro"), col("tie").cast(LongType).as("tie_mass"),
        when(expr("CAST(n AS DECIMAL(38,0)) * n * n - n - tie") === 0,
          lit(null).cast(LongType))
          .otherwise(expr("CAST(CAST(h_micro AS DECIMAL(38,0))"
            + " * (CAST(n AS DECIMAL(38,0)) * n * n - n)"
            + " div (CAST(n AS DECIMAL(38,0)) * n * n - n - tie)"
            + " AS BIGINT)")).as("h_corrected_micro"),
        when(expr("CAST(n AS DECIMAL(38,0)) * n * n - n - tie") === 0,
          lit(null).cast(BooleanType))
          .otherwise(expr("CAST(h_micro AS DECIMAL(38,0))"
            + " * (CAST(n AS DECIMAL(38,0)) * n * n - n)"
            + " div (CAST(n AS DECIMAL(38,0)) * n * n - n - tie)"
            + " > 9487729")).as("significant"))
  }

  /** M/M/1 queueing audit (r18b) — the capacity-planning algebra an
    * event-ingest pipeline publishes per stream: arrivals n over the
    * observed span (exact µs epochs), deterministic synthetic
    * service time = value cents in ms, utilization
    * ρ·ppm = 10⁶·Σsvc div span_ms, queue length Lq = ρ²/(1−ρ) and
    * wait Wq = Lq/λ both as exact rationals on the ppm integers
    * (ρ ≥ 1 and zero-span guard to NULL). ONE grouped agg + row
    * algebra — the entire operator is a fold, constant output at
    * any scale. */
  val opsQueueingMm1: QDef = q(
    "ops_queueing_mm1",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS svc_ms
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST((MAX(us) - MIN(us)) // 1000 AS BIGINT) AS span_ms,
      |    CAST(SUM(svc_ms) AS BIGINT) AS svc_total_ms
      |  FROM e GROUP BY event_type),
      |r AS (
      |  SELECT event_type, n, span_ms, svc_total_ms,
      |    CAST(svc_total_ms * 1000 // n AS BIGINT) AS mean_svc_ms_milli,
      |    CASE WHEN span_ms = 0 THEN NULL
      |      ELSE CAST(svc_total_ms * 1000000 // span_ms AS BIGINT) END
      |      AS rho_ppm
      |  FROM m)
      |SELECT event_type, n, span_ms, mean_svc_ms_milli, rho_ppm,
      |  CASE WHEN rho_ppm IS NULL OR rho_ppm >= 1000000 THEN NULL
      |    ELSE CAST(rho_ppm * rho_ppm // (1000000 - rho_ppm) AS BIGINT)
      |    END AS lq_ppm,
      |  CASE WHEN rho_ppm IS NULL OR rho_ppm >= 1000000 THEN NULL
      |    ELSE CAST((rho_ppm * rho_ppm // (1000000 - rho_ppm)) * span_ms
      |      // (1000 * n) AS BIGINT) END AS wq_ms_milli
      |FROM r ORDER BY event_type""") { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      unix_micros(col("ts")).as("us"),
      expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)")
        .as("svc_ms"))
    val m = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST((MAX(us) - MIN(us)) div 1000 AS BIGINT)").as("span_ms"),
        sum(col("svc_ms")).cast(LongType).as("svc_total_ms"))
    val r = m.select(col("event_type"), col("n"), col("span_ms"),
      col("svc_total_ms"),
      expr("CAST(svc_total_ms * 1000 div n AS BIGINT)")
        .as("mean_svc_ms_milli"),
      when(col("span_ms") === 0, lit(null).cast(LongType))
        .otherwise(expr("CAST(svc_total_ms * 1000000 div span_ms"
          + " AS BIGINT)")).as("rho_ppm"))
    r.select(col("event_type"), col("n"), col("span_ms"),
        col("mean_svc_ms_milli"), col("rho_ppm"),
        when(col("rho_ppm").isNull || col("rho_ppm") >= 1000000L,
          lit(null).cast(LongType))
          .otherwise(expr("CAST(rho_ppm * rho_ppm div (1000000 - rho_ppm)"
            + " AS BIGINT)")).as("lq_ppm"),
        when(col("rho_ppm").isNull || col("rho_ppm") >= 1000000L,
          lit(null).cast(LongType))
          .otherwise(expr("CAST((rho_ppm * rho_ppm div (1000000 - rho_ppm))"
            + " * span_ms div (1000 * n) AS BIGINT)")).as("wq_ms_milli"))
      .orderBy(col("event_type"))
  }

  /** Friedman rank test (r18b) — do the five event types keep the
    * same daily-volume ORDERING across the month, blocking on day?
    * The repeated-measures companion to `stats_kruskal_wallis`
    * (blocks kill the day-to-day level shifts KW would conflate).
    * Complete 30×5 matrix (absent cells are true zero counts),
    * EXACT doubled midranks within each day via the 5×5-per-day
    * pair self-join (2m = 2·#less + #equal + 1, #equal including
    * self), doubled rank sums, and
    * χ²F = 3·Σ(2R_j)² div (n·k·(k+1)) − 3·n·(k+1) in floor-micro —
    * the Σ(2R)² spelling absorbs the ΣR² = Σ(2R)²/4 factor into
    * 12/4 = 3, so NO floats anywhere. χ²₄ 5%-critical 9.487729.
    * All frames are day×type-sized. */
  val statsFriedmanTest: QDef = q(
    "stats_friedman_test",
    """WITH dt AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM dt),
      |types AS (SELECT DISTINCT event_type FROM dt),
      |cm AS (
      |  SELECT d.day, t.event_type, COALESCE(dt.cnt, 0) AS cnt
      |  FROM days d CROSS JOIN types t
      |  LEFT JOIN dt ON dt.day = d.day AND dt.event_type = t.event_type),
      |mid AS (
      |  SELECT a.day, a.event_type,
      |    CAST(2 * SUM(CASE WHEN b.cnt < a.cnt THEN 1 ELSE 0 END)
      |      + SUM(CASE WHEN b.cnt = a.cnt THEN 1 ELSE 0 END) + 1 AS BIGINT)
      |      AS dm
      |  FROM cm a JOIN cm b ON b.day = a.day
      |  GROUP BY a.day, a.event_type, a.cnt),
      |rs AS (SELECT event_type, CAST(SUM(dm) AS BIGINT) AS r2sum
      |  FROM mid GROUP BY event_type),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
      |f AS (SELECT CAST(SUM(CAST(r2sum AS HUGEINT) * r2sum) AS HUGEINT)
      |    AS sr2, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM rs)
      |SELECT rs.event_type, rs.r2sum, nb.n AS n_days,
      |  CAST(3000000 * f.sr2 // (nb.n * f.k * (f.k + 1))
      |    - 3000000 * nb.n * (f.k + 1) AS BIGINT) AS chi2_micro,
      |  3000000 * f.sr2 // (nb.n * f.k * (f.k + 1))
      |    - 3000000 * nb.n * (f.k + 1) > 9487729 AS significant
      |FROM rs CROSS JOIN nb CROSS JOIN f
      |ORDER BY rs.event_type""") { (s, d) =>
    val dt = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val days = dt.select(col("day")).distinct()
    val types = dt.select(col("event_type")).distinct()
    val cm = days.crossJoin(broadcast(types))
      .join(dt.select(col("day").as("j_day"),
          col("event_type").as("j_type"), col("cnt")),
        col("j_day") === col("day") && col("j_type") === col("event_type"),
        "left")
      .select(col("day"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val mid = cm.as("a")
      .join(cm.select(col("day").as("b_day"), col("cnt").as("b_cnt")),
        col("b_day") === col("a.day"))
      .groupBy(col("a.day").as("day"), col("event_type"), col("a.cnt"))
      .agg((lit(2L) * count_if(col("b_cnt") < col("a.cnt"))
        + count_if(col("b_cnt") === col("a.cnt")) + lit(1L)).as("dm"))
    val rs = mid.groupBy(col("event_type")).agg(sum(col("dm")).as("r2sum"))
    val nb = days.agg(count(lit(1)).as("n"))
    val f = rs.agg(sum(col("r2sum").cast(dec) * col("r2sum")).as("sr2"),
      count(lit(1)).as("k"))
    rs.crossJoin(broadcast(nb)).crossJoin(broadcast(f))
      .select(col("event_type"), col("r2sum"), col("n").as("n_days"),
        expr("CAST(3000000 * sr2 div (n * k * (k + 1))"
          + " - 3000000 * n * (k + 1) AS BIGINT)").as("chi2_micro"))
      .withColumn("significant", col("chi2_micro") > 9487729L)
      .orderBy(col("event_type"))
  }

  /** Benjamini–Hochberg FDR with a PLANTED signal (r18b) — the
    * multiple-testing step-up every experimentation platform runs,
    * graded against known ground truth: md5-designated "polluted"
    * sources (md5('plant:'·source) % 5 = 0) get an elevated
    * deterministic flag rate (base 2/10 ∨ boost 5/10 ≈ 0.6 vs 0.2),
    * each source is tested against the rest with the exact-integer
    * pooled two-proportion z² (the `stats_prop_ztest` spelling),
    * p-values are the CHERNOFF BOUND p ≤ exp(−z²/2) — a valid
    * conservative bound needing no erf, ONE identical exp float
    * tree — and BH at q = 0.10 runs as: rank by (p, source) via a
    * broadcast m-row self-join (no unpartitioned window), k* =
    * max{rank : p·m ≤ rank·q}, reject rank ≤ k*. The spec pins that
    * rejections land only on planted sources. All frames are
    * source-count-sized after one fold. */
  val statsBhFdr: QDef = q(
    "stats_bh_fdr",
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN ('0x' || substr(md5('plant:' || source), 1, 4))
      |      ::BIGINT % 5 = 0 THEN 1 ELSE 0 END AS planted,
      |    CASE WHEN ('0x' || substr(md5('bh:' || CAST(doc_id AS VARCHAR)),
      |      1, 4))::BIGINT % 10 < 2 THEN 1 ELSE 0 END AS base,
      |    CASE WHEN ('0x' || substr(md5('bh2:' || CAST(doc_id AS VARCHAR)),
      |      1, 4))::BIGINT % 10 < 5 THEN 1 ELSE 0 END AS boost
      |  FROM documents),
      |f AS (
      |  SELECT source, MAX(planted) AS planted,
      |    CAST(COUNT(*) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN base = 1 OR (planted = 1 AND boost = 1)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM d GROUP BY source),
      |g AS (SELECT CAST(SUM(n1) AS BIGINT) AS nn,
      |  CAST(SUM(c1) AS BIGINT) AS cc, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM f),
      |p AS (
      |  SELECT f.source, f.planted, f.n1, f.c1, g.m,
      |    CASE WHEN g.cc = 0 OR g.nn - g.cc = 0 OR g.nn = f.n1
      |      THEN 1000000
      |      ELSE CAST(FLOOR(exp(-CAST(
      |        CAST(f.c1 * (g.nn - f.n1) - (g.cc - f.c1) * f.n1 AS HUGEINT)
      |          * (f.c1 * (g.nn - f.n1) - (g.cc - f.c1) * f.n1) * g.nn
      |          * 1000000
      |        // (CAST(f.n1 AS HUGEINT) * (g.nn - f.n1) * g.cc
      |          * (g.nn - g.cc)) AS DOUBLE) / 2000000) * 1000000)
      |        AS BIGINT) END AS p_micro
      |  FROM f CROSS JOIN g),
      |rk AS (
      |  SELECT a.source, a.planted, a.n1, a.c1, a.m, a.p_micro,
      |    CAST(1 + COUNT(b.source) AS BIGINT) AS bh_rank
      |  FROM p a LEFT JOIN p b ON b.p_micro < a.p_micro
      |    OR (b.p_micro = a.p_micro AND b.source < a.source)
      |  GROUP BY a.source, a.planted, a.n1, a.c1, a.m, a.p_micro),
      |km AS (SELECT COALESCE(MAX(CASE WHEN p_micro * m <= bh_rank * 100000
      |  THEN bh_rank END), 0) AS kmax FROM rk)
      |SELECT rk.source, rk.planted = 1 AS planted, rk.n1 AS n_docs,
      |  rk.c1 AS n_flagged, rk.p_micro AS p_bound_micro, rk.bh_rank,
      |  rk.bh_rank <= km.kmax AS rejected
      |FROM rk CROSS JOIN km ORDER BY rk.source""") { (s, d) =>
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
      when(conv(substring(md5(concat(lit("plant:"), col("source"))),
        1, 4), 16, 10).cast(LongType) % 5 === 0, 1L).otherwise(0L)
        .as("planted"),
      when(conv(substring(md5(concat(lit("bh:"),
        col("doc_id").cast(StringType))), 1, 4), 16, 10)
        .cast(LongType) % 10 < 2, 1L).otherwise(0L).as("base"),
      when(conv(substring(md5(concat(lit("bh2:"),
        col("doc_id").cast(StringType))), 1, 4), 16, 10)
        .cast(LongType) % 10 < 5, 1L).otherwise(0L).as("boost"))
    val f = base.groupBy(col("source"))
      .agg(max(col("planted")).as("planted"), count(lit(1)).as("n1"),
        sum(when(col("base") === 1 ||
          (col("planted") === 1 && col("boost") === 1), 1L)
          .otherwise(0L)).as("c1"))
    val g = f.agg(sum(col("n1")).as("nn"), sum(col("c1")).as("cc"),
      count(lit(1)).as("m"))
    val p = f.crossJoin(broadcast(g))
      .select(col("source"), col("planted"), col("n1"), col("c1"),
        col("m"),
        when(col("cc") === 0 || col("nn") - col("cc") === 0 ||
            col("nn") === col("n1"), lit(1000000L))
          .otherwise(expr("CAST(FLOOR(exp(-CAST("
            + "CAST(c1 * (nn - n1) - (cc - c1) * n1 AS DECIMAL(38,0))"
            + " * (c1 * (nn - n1) - (cc - c1) * n1) * nn * 1000000"
            + " div (CAST(n1 AS DECIMAL(38,0)) * (nn - n1) * cc"
            + " * (nn - cc)) AS DOUBLE) / 2000000) * 1000000)"
            + " AS BIGINT)")).as("p_micro"))
      .persist()
    val rk = p.as("a")
      .join(broadcast(p.select(col("p_micro").as("b_p"),
          col("source").as("b_src"))),
        col("b_p") < col("a.p_micro") ||
          (col("b_p") === col("a.p_micro") &&
            col("b_src") < col("a.source")), "left")
      .groupBy(col("a.source").as("source"), col("a.planted").as("planted"),
        col("a.n1").as("n1"), col("a.c1").as("c1"), col("a.m").as("m"),
        col("a.p_micro").as("p_micro"))
      .agg((lit(1L) + count(col("b_src"))).as("bh_rank"))
    val km = rk.agg(coalesce(max(when(
      col("p_micro") * col("m") <= col("bh_rank") * 100000L,
      col("bh_rank"))), lit(0L)).as("kmax"))
    rk.crossJoin(broadcast(km))
      .select(col("source"), (col("planted") === 1L).as("planted"),
        col("n1").as("n_docs"), col("c1").as("n_flagged"),
        col("p_micro").as("p_bound_micro"), col("bh_rank"),
        (col("bh_rank") <= col("kmax")).as("rejected"))
      .orderBy(col("source"))
  }

  /** Bartlett's test for equal variances (r18b) — the parametric
    * twin of the graded robust `stats_levene_bf`: over the five
    * event types' value distributions,
    * χ² = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(Sᵢ²)] / C with the standard
    * correction C. Per-group sums are EXACT DECIMAL(38) partials;
    * each variance is a FLOORED milli-quantized integer (the
    * transcendental-protocol rule: every ln argument is
    * integer-backed AND its output ROUND(·,6)-quantized — the
    * `drift_unigram_jsd` protocol; the ×1000 offsets cancel up to
    * that quantization because Σ(nᵢ−1) = N−k), and the logs + C
    * fold in FIXED order on the
    * 1-row frame (the `ts_ljung_box` discipline — a float SUM
    * aggregate would be order-dependent). Zero/absent variances
    * guard to NULL. χ²₄ 5%-critical 9.487729. Output is the 1-row
    * verdict. */
  val statsBartlett: QDef = q(
    "stats_bartlett",
    """WITH x AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) AS s1,
      |    CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      |  FROM x GROUP BY event_type),
      |g AS (
      |  SELECT event_type, n,
      |    CAST((n * s2 - s1 * s1) * 1000
      |      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS s2i
      |  FROM m),
      |w AS (
      |  SELECT
      |    MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
      |    MAX(CASE WHEN event_type = 'error' THEN n END) AS n2,
      |    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n3,
      |    MAX(CASE WHEN event_type = 'signup' THEN n END) AS n4,
      |    MAX(CASE WHEN event_type = 'view' THEN n END) AS n5,
      |    MAX(CASE WHEN event_type = 'click' THEN s2i END) AS v1,
      |    MAX(CASE WHEN event_type = 'error' THEN s2i END) AS v2,
      |    MAX(CASE WHEN event_type = 'purchase' THEN s2i END) AS v3,
      |    MAX(CASE WHEN event_type = 'signup' THEN s2i END) AS v4,
      |    MAX(CASE WHEN event_type = 'view' THEN s2i END) AS v5
      |  FROM g),
      |t AS (
      |  SELECT n1 + n2 + n3 + n4 + n5 AS nn,
      |    ((n1 - 1) * v1 + (n2 - 1) * v2 + (n3 - 1) * v3 + (n4 - 1) * v4
      |      + (n5 - 1) * v5) // (n1 + n2 + n3 + n4 + n5 - 5) AS sp2,
      |    (n1 - 1) * ROUND(ln(CAST(v1 AS DOUBLE)), 6) + (n2 - 1)
      |      * ROUND(ln(CAST(v2 AS DOUBLE)), 6)
      |      + (n3 - 1) * ROUND(ln(CAST(v3 AS DOUBLE)), 6)
      |      + (n4 - 1) * ROUND(ln(CAST(v4 AS DOUBLE)), 6)
      |      + (n5 - 1) * ROUND(ln(CAST(v5 AS DOUBLE)), 6) AS sl,
      |    1.0 / (n1 - 1) + 1.0 / (n2 - 1) + 1.0 / (n3 - 1)
      |      + 1.0 / (n4 - 1) + 1.0 / (n5 - 1) AS sr,
      |    LEAST(v1, v2, v3, v4, v5) AS vmin
      |  FROM w)
      |SELECT CAST(nn AS BIGINT) AS n, CAST(5 AS BIGINT) AS k,
      |  CASE WHEN vmin <= 0 THEN NULL ELSE
      |    CAST(FLOOR(((nn - 5) * ROUND(ln(CAST(sp2 AS DOUBLE)), 6) - sl)
      |      / (1 + (sr - 1.0 / (nn - 5)) / 12) * 1000000) AS BIGINT)
      |    END AS chi2_micro,
      |  CASE WHEN vmin <= 0 THEN NULL ELSE
      |    FLOOR(((nn - 5) * ROUND(ln(CAST(sp2 AS DOUBLE)), 6) - sl)
      |      / (1 + (sr - 1.0 / (nn - 5)) / 12) * 1000000) > 9487729
      |    END AS significant
      |FROM t""") { (s, d) =>
    val x = Tables.events(s, d).select(col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)").as("v"))
    val m = x.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("s1"),
        sum(col("v").cast(dec) * col("v")).as("s2"))
    val g = m.select(col("event_type"), col("n"),
      expr("CAST((CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1) * 1000"
        + " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)")
        .as("s2i"))
    def pick(t: String, c: String, as0: String): Column =
      max(when(col("event_type") === t, col(c))).as(as0)
    val w = g.agg(
      pick("click", "n", "n1"), pick("error", "n", "n2"),
      pick("purchase", "n", "n3"), pick("signup", "n", "n4"),
      pick("view", "n", "n5"),
      pick("click", "s2i", "v1"), pick("error", "s2i", "v2"),
      pick("purchase", "s2i", "v3"), pick("signup", "s2i", "v4"),
      pick("view", "s2i", "v5"))
    val t = w.select(
      expr("n1 + n2 + n3 + n4 + n5").as("nn"),
      expr("((n1 - 1) * v1 + (n2 - 1) * v2 + (n3 - 1) * v3"
        + " + (n4 - 1) * v4 + (n5 - 1) * v5)"
        + " div (n1 + n2 + n3 + n4 + n5 - 5)").as("sp2"),
      expr("(n1 - 1) * ROUND(ln(CAST(v1 AS DOUBLE)), 6) + (n2 - 1)"
        + " * ROUND(ln(CAST(v2 AS DOUBLE)), 6)"
        + " + (n3 - 1) * ROUND(ln(CAST(v3 AS DOUBLE)), 6)"
        + " + (n4 - 1) * ROUND(ln(CAST(v4 AS DOUBLE)), 6)"
        + " + (n5 - 1) * ROUND(ln(CAST(v5 AS DOUBLE)), 6)").as("sl"),
      expr("1.0 / (n1 - 1) + 1.0 / (n2 - 1) + 1.0 / (n3 - 1)"
        + " + 1.0 / (n4 - 1) + 1.0 / (n5 - 1)").as("sr"),
      expr("LEAST(v1, v2, v3, v4, v5)").as("vmin"))
    t.select(col("nn").cast(LongType).as("n"), lit(5L).as("k"),
        when(col("vmin") <= 0, lit(null).cast(LongType))
          .otherwise(expr("CAST(FLOOR(((nn - 5)"
            + " * ROUND(ln(CAST(sp2 AS DOUBLE)), 6)"
            + " - sl) / (1 + (sr - 1.0 / (nn - 5)) / 12) * 1000000)"
            + " AS BIGINT)")).as("chi2_micro"))
      .withColumn("significant",
        when(col("chi2_micro").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_micro") > 9487729L))
  }

  val all: Seq[QDef] = Seq(driftValueHistogram, driftEmbeddingCentroid,
    statsChiSquare, embedTopComponent, embedCosineHistogram, tsCusumAlarm,
    driftUnigramJsd, statsKsTest, statsMannWhitneyU, statsSpearmanCorr,
    statsCramersV, statsRunsTest, statsKendallTau, driftValuePsi,
    embedChunkMeanPool, statsAnovaF, opsCapacityBacklog, statsLeveneBf,
    statsWelchT, statsPropZtest, embedMatryoshkaTruncation, statsWilsonCi,
    statsBootstrapCi, statsPairedT, statsCohensD, statsMcnemarPaired,
    statsFleissKappa, statsJarqueBera, statsKruskalWallis, opsQueueingMm1,
    statsFriedmanTest, statsBhFdr, statsBartlett)
}
