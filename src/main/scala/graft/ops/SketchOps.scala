package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window

/** Probabilistic-structure audits (r12c) — Count-Min and Bloom built
  * HERE as exact, deterministic dataflow (md5-derived hash positions,
  * integer cells) so both engines materialize the identical sketch and
  * the driver hash-grades the real estimate/collision behavior, not a
  * mocked one. That is the point at 100 TB: a sketch's cells table is
  * FIXED-SIZE regardless of corpus (d×w counters, m bits), so the
  * shuffle carries map-side partials of a few hundred rows per task
  * while the raw key space never co-locates — these two keys certify
  * the estimate algebra that makes that trade safe to rely on.
  */
object SketchOps {

  /** md5-derived bucket in [0, m): the sample_hash_docs idiom with a
    * row-index salt, identical in both engines. */
  private def bucket(salt: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column, m: Int) =
    (conv(substring(md5(concat(salt.cast(StringType), lit("|"),
      key.cast(StringType))), 1, 4), 16, 10).cast(IntegerType) % m)

  private def bucketSql(salt: String, key: String, m: Int) =
    s"('0x' || substr(md5(CAST($salt AS VARCHAR) || '|' || CAST($key AS VARCHAR)), 1, 4))::INT % $m"

  /** Count-Min sketch frequency audit: a depth-4 × width-1024 CMS over
    * customer order counts, probed at the top-10 true-heaviest keys —
    * per key the true count, the CMS estimate (min over the 4 rows)
    * and the collision overestimate. The cells table is 4096 rows no
    * matter the corpus (the ×4 row explode is ROW-LOCAL, the cell agg
    * has map-side partials), and the probe side is a 10-row
    * TakeOrdered result joined against the broadcast cells — the
    * exact shape a heavy-hitter monitor runs per ingest batch. */
  val sketchCountminFreq: QDef = q(
    "sketch_countmin_freq",
    s"""WITH base AS (SELECT o_custkey AS k FROM orders),
      |t AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM base GROUP BY k),
      |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cells AS (
      |  SELECT r, ${bucketSql("r", "k", 1024)} AS b,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM base CROSS JOIN rws GROUP BY 1, 2),
      |top10 AS (SELECT k, cnt FROM t ORDER BY cnt DESC, k LIMIT 10),
      |probe AS (
      |  SELECT k, cnt, r, ${bucketSql("r", "k", 1024)} AS b
      |  FROM top10 CROSS JOIN rws)
      |SELECT p.k AS o_custkey,
      |  CAST(MAX(p.cnt) AS BIGINT) AS true_cnt,
      |  CAST(MIN(c.c) AS BIGINT) AS est_cnt,
      |  CAST(MIN(c.c) - MAX(p.cnt) AS BIGINT) AS over_cnt
      |FROM probe p JOIN cells c ON c.r = p.r AND c.b = p.b
      |GROUP BY p.k
      |ORDER BY true_cnt DESC, o_custkey""") { (s, d) =>
    val rows4 = array((0 to 3).map(lit): _*)
    val base = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val t = base.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    // Cells from the per-key count table t (guide §2.3, r18-opt):
    // the raw-fact ×4 explode shuffled 4×|orders| rows; exploding the
    // |customers|-row t — already built for the true-count leg, so
    // ReuseExchange plans ONE orders scan+shuffle — sums the same
    // per-(r, b) counts exactly (bucket is deterministic in (r, k)).
    val cells = t
      .select(col("k"), col("cnt"), explode(rows4).as("r"))
      .groupBy(col("r"), bucket(col("r"), col("k"), 1024).as("b"))
      .agg(sum(col("cnt")).cast(LongType).as("c"))
    val top10 = t.orderBy(col("cnt").desc, col("k")).limit(10)
    val probe = top10.select(col("k"), col("cnt"), explode(rows4).as("pr"))
      .select(col("k"), col("cnt"), col("pr"),
        bucket(col("pr"), col("k"), 1024).as("pb"))
    probe.join(broadcast(cells),
        col("pr") === col("r") && col("pb") === col("b"))
      .groupBy(col("k"))
      .agg(max(col("cnt")).as("true_cnt"), min(col("c")).as("est_cnt"),
        (min(col("c")) - max(col("cnt"))).as("over_cnt"))
      .select(col("k").as("o_custkey"), col("true_cnt"), col("est_cnt"),
        col("over_cnt"))
      .orderBy(col("true_cnt").desc, col("o_custkey"))
  }

  /** Bloom-filter false-positive audit: a 65536-bit, 3-hash Bloom
    * built over the customers who ordered in 1995, probed with every
    * customer — members recalled perfectly (the spec pins zero false
    * negatives), non-members measured for the actual FPR the filter
    * would pay as a join pre-filter (the BloomJoin design read). The
    * bit set is ≤3·|members| rows (broadcast); the probe explodes ×3
    * row-locally and re-aggregates per key, so cost is 3 rows per
    * probe key, never |probe|×|members|. */
  val sketchBloomFpr: QDef = q(
    "sketch_bloom_fpr",
    s"""WITH members AS (
      |  SELECT DISTINCT o_custkey AS k FROM orders
      |  WHERE o_orderdate >= DATE '1995-01-01'
      |    AND o_orderdate < DATE '1996-01-01'),
      |rws AS (SELECT unnest([0, 1, 2]) AS r),
      |bits AS (
      |  SELECT DISTINCT ${bucketSql("r", "k", 65536)} AS pos
      |  FROM members CROSS JOIN rws),
      |probe AS (
      |  SELECT c_custkey AS k,
      |    MAX(CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END) AS is_member,
      |    MIN(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS claimed
      |  FROM customer
      |  CROSS JOIN rws
      |  LEFT JOIN members m ON m.k = c_custkey
      |  LEFT JOIN bits ON bits.pos = ${bucketSql("r", "c_custkey", 65536)}
      |  GROUP BY c_custkey)
      |SELECT
      |  CAST(SUM(is_member) AS BIGINT) AS n_members,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
      |  CAST(SUM(1 - is_member) AS BIGINT) AS n_nonmembers,
      |  CAST(SUM(CASE WHEN is_member = 0 AND claimed = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_pos,
      |  CAST(SUM(CASE WHEN is_member = 1 AND claimed = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_neg,
      |  CAST(floor(CAST(SUM(CASE WHEN is_member = 0 AND claimed = 1
      |      THEN 1 ELSE 0 END) AS DOUBLE) * 1000000
      |    / CAST(SUM(1 - is_member) AS DOUBLE) + 0.5) AS BIGINT) AS fpr_ppm
      |FROM probe""") { (s, d) =>
    val rows3 = array((0 to 2).map(lit): _*)
    val members = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast(DateType) &&
        col("o_orderdate") < lit("1996-01-01").cast(DateType))
      .select(col("o_custkey").as("k")).distinct()
    val bits = members.select(explode(rows3).as("r"), col("k"))
      .select(bucket(col("r"), col("k"), 65536).as("pos")).distinct()
    val probe = Tables.customer(s, d).select(col("c_custkey"))
      .select(col("c_custkey"), explode(rows3).as("r"))
      .join(broadcast(members), col("k") === col("c_custkey"), "left")
      .join(broadcast(bits),
        col("pos") === bucket(col("r"), col("c_custkey"), 65536), "left")
      .groupBy(col("c_custkey"))
      .agg(max(when(col("k").isNotNull, 1).otherwise(0)).as("is_member"),
        min(when(col("pos").isNotNull, 1).otherwise(0)).as("claimed"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    probe.agg(
        sum(col("is_member")).cast(LongType).as("n_members"),
        sum(lit(1) - col("is_member")).cast(LongType).as("n_nonmembers"),
        sum(when(col("is_member") === 0 && col("claimed") === 1, 1)
          .otherwise(0)).cast(LongType).as("n_false_pos"),
        sum(when(col("is_member") === 1 && col("claimed") === 0, 1)
          .otherwise(0)).cast(LongType).as("n_false_neg"))
      .crossJoin(broadcast(nBits))
      .select(col("n_members"), col("n_bits_set"), col("n_nonmembers"),
        col("n_false_pos"), col("n_false_neg"),
        floor(col("n_false_pos").cast(DoubleType) * 1000000
          / col("n_nonmembers").cast(DoubleType) + 0.5)
          .cast(LongType).as("fpr_ppm"))
  }

  /** Linear-counting cardinality audit: the occupancy-based distinct
    * estimator (the small-cardinality regime HyperLogLog falls back
    * to): hash every key into m=4096 buckets, estimate n̂ = m·ln(m/V)
    * from the V empty buckets, grade estimate against the exact
    * count. The one transcendental is rounded to 6 digits before the
    * integer finish (the tf-idf D6 discipline); the occupancy table
    * is ≤m rows regardless of corpus and the distinct-bucket agg has
    * map-side partials — the fixed-size-state trade this family
    * certifies. */
  val sketchHllLinear: QDef = q(
    "sketch_hll_linear",
    s"""WITH base AS (SELECT o_custkey AS k FROM orders),
      |occ AS (
      |  SELECT DISTINCT ${bucketSql("0", "k", 4096)} AS b FROM base),
      |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_occupied FROM occ),
      |t AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_true FROM base)
      |SELECT CAST(4096 AS BIGINT) AS m, n_true, n_occupied,
      |  CAST(4096 - n_occupied AS BIGINT) AS n_empty,
      |  CAST(floor(4096 * round(ln(4096.0
      |      / CAST(4096 - n_occupied AS DOUBLE)), 6) + 0.5) AS BIGINT)
      |    AS est_distinct
      |FROM t, v""") { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val occ = base.select(bucket(lit(0), col("k"), 4096).as("b")).distinct()
    val v = occ.agg(count(lit(1)).as("n_occupied"))
    val t = base.agg(countDistinct(col("k")).as("n_true"))
    t.crossJoin(broadcast(v))
      .select(lit(4096L).as("m"), col("n_true"), col("n_occupied"),
        (lit(4096L) - col("n_occupied")).as("n_empty"),
        floor(lit(4096) * round(log(lit(4096.0)
            / (lit(4096L) - col("n_occupied")).cast(DoubleType)), 6) + 0.5)
          .cast(LongType).as("est_distinct"))
  }

  /** CMS join-size forecast: the inner product of two Count-Min
    * sketches upper-bounds the equi-join output size — the optimizer
    * read `join_cardinality_probe` computes exactly, here from two
    * fixed-size (4×16384) sketches instead of two full key histograms,
    * which is what a planner can actually afford to keep per column
    * at 100 TB. est = min over rows of Σ_b cmsA[r][b]·cmsB[r][b];
    * graded against the exact Σ cntA·cntB with the signed floor-ppm
    * overestimate (provably ≥ 0). Both sketch builds are row-local
    * ×4 explodes into cell aggs with map-side partials. */
  val sketchCmsJoinForecast: QDef = q(
    "sketch_cms_join_forecast",
    s"""WITH a AS (SELECT user_id AS k FROM events),
      |b AS (SELECT o_custkey AS k FROM orders),
      |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |ca AS (
      |  SELECT r, ${bucketSql("r", "k", 16384)} AS bk,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM a CROSS JOIN rws GROUP BY 1, 2),
      |cb AS (
      |  SELECT r, ${bucketSql("r", "k", 16384)} AS bk,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM b CROSS JOIN rws GROUP BY 1, 2),
      |er AS (
      |  SELECT ca.r, CAST(SUM(ca.c * cb.c) AS BIGINT) AS est
      |  FROM ca JOIN cb ON ca.r = cb.r AND ca.bk = cb.bk GROUP BY ca.r),
      |tr AS (
      |  SELECT CAST(SUM(x.c * y.c) AS BIGINT) AS true_rows
      |  FROM (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM a GROUP BY k) x
      |  JOIN (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY k) y
      |    ON x.k = y.k)
      |SELECT CAST(4 AS BIGINT) AS depth, CAST(16384 AS BIGINT) AS width,
      |  true_rows, CAST(MIN(est) AS BIGINT) AS est_rows,
      |  CAST(floor(CAST(MIN(est) - true_rows AS DOUBLE) * 1000000
      |    / CAST(true_rows AS DOUBLE) + 0.5) AS BIGINT) AS over_ppm
      |FROM er, tr GROUP BY true_rows""") { (s, d) =>
    val rows4 = array((0 to 3).map(lit): _*)
    // Aggregate BEFORE the ×4 row explode (guide §2.3, r18-opt): the
    // original exploded the raw fact (|events|×4 rows) into the cell
    // agg, shuffling 4× the fact; the per-key count table — which the
    // true-rows leg needs anyway — is |keys| rows, so exploding THAT
    // and summing counts reaches the identical (r, bk) cells with a
    // 40× smaller explode. ReuseExchange dedupes the shared per-key
    // agg between the cell and true legs (one scan, one shuffle per
    // side). cells(c) = Σ_k cnt(k)·[bucket(r,k)=bk] — exact, since
    // bucket is deterministic in (r, k).
    def cells(keyCounts: org.apache.spark.sql.DataFrame) = keyCounts
      .select(col("k"), col("c"), explode(rows4).as("r"))
      .groupBy(col("r"), bucket(col("r"), col("k"), 16384).as("bk"))
      .agg(sum(col("c")).cast(LongType).as("c"))
    val a = Tables.events(s, d).select(col("user_id").as("k"))
    val b = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val ak = a.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val bk = b.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val ca = cells(ak)
    val cb = cells(bk).select(col("r").as("r2"), col("bk").as("bk2"),
      col("c").as("c2"))
    val er = ca.join(broadcast(cb),
        col("r") === col("r2") && col("bk") === col("bk2"))
      .groupBy(col("r"))
      .agg(sum(col("c") * col("c2")).cast(LongType).as("est"))
    val tr = ak
      .join(bk.select(col("k").as("k2"), col("c").as("c2")),
        col("k") === col("k2"))
      .agg(sum(col("c") * col("c2")).cast(LongType).as("true_rows"))
    er.agg(min(col("est")).as("est_rows"))
      .crossJoin(broadcast(tr))
      .select(lit(4L).as("depth"), lit(16384L).as("width"),
        col("true_rows"), col("est_rows"),
        floor((col("est_rows") - col("true_rows")).cast(DoubleType) * 1000000
          / col("true_rows").cast(DoubleType) + 0.5)
          .cast(LongType).as("over_ppm"))
  }

  /** Raw-HyperLogLog register audit: the m=64 register table (max
    * leading-zero rank per bucket from a 32-bit md5 hash: 6 bucket
    * bits, 26 rank bits) and the harmonic-mean estimate
    * α·m²/Σ2^(−M_b). m is deliberately SMALL so n ≫ 2.5m and the
    * raw regime is exercised (`sketch_hll_linear` owns the
    * small-cardinality branch). Every 2^(−M) is an exact dyadic
    * double and the 64-term sum stays inside 53 mantissa bits, so Z
    * is exact and ORDER-INDEPENDENT — the float discipline that lets
    * an HLL estimate hash-match across engines. Rank via
    * length(bin(w)) — identical unpadded binary strings on both
    * engines. err_ppm is sign-safe floor (the win_pct_change
    * discipline). */
  val sketchHllRegisters: QDef = q(
    "sketch_hll_registers",
    s"""WITH base AS (SELECT o_custkey AS k FROM orders),
      |h AS (
      |  SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS hv
      |  FROM base),
      |reg0 AS (
      |  SELECT hv // 67108864 AS b,
      |    MAX(CASE WHEN hv % 67108864 = 0 THEN 27
      |        ELSE 27 - length(bin(hv % 67108864)) END) AS m
      |  FROM h GROUP BY 1),
      |reg AS (
      |  SELECT r AS b, COALESCE(m, 0) AS m
      |  FROM range(0, 64) t(r) LEFT JOIN reg0 ON reg0.b = r),
      |z AS (SELECT SUM(power(2.0, -m)) AS zz,
      |  CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |  FROM reg),
      |t AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_true FROM base)
      |SELECT CAST(64 AS BIGINT) AS m, n_true, n_zero,
      |  CAST(floor(0.709 * 64 * 64 / zz + 0.5) AS BIGINT) AS est_rows,
      |  CASE WHEN floor(0.709 * 64 * 64 / zz + 0.5) >= n_true
      |    THEN CAST((CAST(floor(0.709 * 64 * 64 / zz + 0.5) AS BIGINT)
      |      - n_true) * 1000000 // n_true AS BIGINT)
      |    ELSE -CAST((n_true - CAST(floor(0.709 * 64 * 64 / zz + 0.5)
      |      AS BIGINT)) * 1000000 // n_true AS BIGINT) END AS err_ppm
      |FROM z, t""") { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val h = base.select(col("k"),
      conv(substring(md5(col("k").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType).as("hv"))
    val reg0 = h
      .groupBy(expr("hv div 67108864").as("b"))
      .agg(max(when(col("hv") % 67108864 === 0, 27)
        .otherwise(lit(27) - length(bin(col("hv") % 67108864)))).as("m"))
    val scaffold = s.range(0, 64).select(col("id").as("b2"))
    val reg = scaffold.join(broadcast(reg0), col("b2") === col("b"), "left")
      .select(coalesce(col("m"), lit(0)).as("m"))
    val z = reg.agg(sum(pow(lit(2.0), -col("m"))).as("zz"),
      sum(when(col("m") === 0, 1L).otherwise(0L)).as("n_zero"))
    val t = base.agg(countDistinct(col("k")).as("n_true"))
    val est = floor(lit(0.709) * 64 * 64 / col("zz") + 0.5).cast(LongType)
    z.crossJoin(broadcast(t))
      .select(lit(64L).as("m"), col("n_true"), col("n_zero"),
        est.as("est_rows"),
        when(est >= col("n_true"),
          expr(s"CAST((CAST(floor(0.709 * 64 * 64 / zz + 0.5) AS BIGINT)" +
            " - n_true) * 1000000 div n_true AS BIGINT)"))
          .otherwise(-expr(s"CAST((n_true - CAST(floor(0.709 * 64 * 64 / zz" +
            " + 0.5) AS BIGINT)) * 1000000 div n_true AS BIGINT)"))
          .as("err_ppm"))
  }

  /** KMV (k-minimum-values / bottom-k) distinct-count audit: hash every
    * distinct order customer to a 32-bit value (md5 prefix — identical
    * in both engines), keep only the 256 smallest hashes, and read off
    * the estimate (k−1)·2³²/h₍ₖ₎ at k ∈ {16, 64, 256} against the
    * exact distinct count. This is THE mergeable distinct sketch for
    * 100 TB: each partition ships its bottom-k (k longs, constant
    * size), merge = union + re-take-bottom-k — here the bottom-256 is
    * one TakeOrdered (O(k) per partition, no global sort), ranks come
    * from a 256-row broadcast self-join (never a single-partition
    * window), and the estimate algebra is exact BIGINT division. */
  val sketchKmvDistinct: QDef = q(
    "sketch_kmv_distinct",
    """WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |hs AS (SELECT DISTINCT
      |    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h
      |  FROM keys),
      |truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct FROM keys),
      |bottom AS (SELECT h FROM hs ORDER BY h LIMIT 256),
      |ranked AS (
      |  SELECT a.h, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM bottom a JOIN bottom b ON b.h <= a.h GROUP BY a.h),
      |kth AS (
      |  SELECT r AS k, h AS kth_min_h,
      |    CAST((r - 1) * 4294967296 // h AS BIGINT) AS est_distinct
      |  FROM ranked WHERE r IN (16, 64, 256))
      |SELECT k, kth_min_h, est_distinct, true_distinct,
      |  CASE WHEN est_distinct >= true_distinct
      |    THEN CAST((est_distinct - true_distinct) * 1000000 // true_distinct
      |      AS BIGINT)
      |    ELSE -CAST((true_distinct - est_distinct) * 1000000 // true_distinct
      |      AS BIGINT) END AS err_ppm
      |FROM kth CROSS JOIN truth
      |ORDER BY k""") { (s, d) =>
    val keys = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
    val hs = keys.select(
      conv(substring(md5(col("k").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType).as("h")).distinct()
    val truth = keys.agg(count(lit(1)).as("true_distinct"))
    val bottom = hs.orderBy(col("h")).limit(256)
    val ranked = bottom.as("a")
      .join(broadcast(bottom.as("b")), col("b.h") <= col("a.h"))
      .groupBy(col("a.h").as("h")).agg(count(lit(1)).as("r"))
    val kth = ranked.filter(col("r").isin(16L, 64L, 256L))
      .select(col("r").as("k"), col("h").as("kth_min_h"),
        expr("CAST((r - 1) * 4294967296 div h AS BIGINT)")
          .as("est_distinct"))
    kth.crossJoin(broadcast(truth))
      .select(col("k"), col("kth_min_h"), col("est_distinct"),
        col("true_distinct"),
        when(col("est_distinct") >= col("true_distinct"),
          expr("CAST((est_distinct - true_distinct) * 1000000" +
            " div true_distinct AS BIGINT)"))
          .otherwise(-expr("CAST((true_distinct - est_distinct) * 1000000" +
            " div true_distinct AS BIGINT)")).as("err_ppm"))
      .orderBy(col("k"))
  }

  /** HLL shard-merge audit (r12h) — the MERGEABILITY property that
    * makes a distinct sketch work at 100 TB: registers built
    * independently per shard (here custkey mod 8 — stand-in for 8
    * executors' partial sketches) then combined by per-bucket MAX
    * must equal the registers built over the whole stream in one
    * pass, because max is associative/commutative/idempotent. The
    * audit grades both estimates AND the register-for-register
    * equality witness (`registers_equal`, stronger than estimate
    * equality — two wrong registers can cancel in the harmonic sum).
    * Hash/rank/estimate algebra is `sketch_hll_registers`' exactly
    * (md5-prefix 32-bit hash, 6 bucket bits, dyadic 2^(−M) sums —
    * exact doubles, order-independent). Scale posture: per-shard
    * register tables are 8×64 rows regardless of input; everything
    * after the first agg is constant-size. */
  val sketchHllMerge: QDef = q(
    "sketch_hll_merge",
    """WITH base AS (SELECT o_custkey AS k FROM orders),
      |h AS (
      |  SELECT k, k % 8 AS shard,
      |    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS hv
      |  FROM base),
      |sreg AS (
      |  SELECT shard, hv // 67108864 AS b,
      |    MAX(CASE WHEN hv % 67108864 = 0 THEN 27
      |        ELSE 27 - length(bin(hv % 67108864)) END) AS m
      |  FROM h GROUP BY 1, 2),
      |merged0 AS (SELECT b, MAX(m) AS m FROM sreg GROUP BY 1),
      |direct0 AS (
      |  SELECT hv // 67108864 AS b,
      |    MAX(CASE WHEN hv % 67108864 = 0 THEN 27
      |        ELSE 27 - length(bin(hv % 67108864)) END) AS m
      |  FROM h GROUP BY 1),
      |grid AS (
      |  SELECT r AS b, COALESCE(merged0.m, 0) AS m1, COALESCE(direct0.m, 0) AS m2
      |  FROM range(0, 64) t(r)
      |  LEFT JOIN merged0 ON merged0.b = r
      |  LEFT JOIN direct0 ON direct0.b = r),
      |z AS (SELECT SUM(power(2.0, -m1)) AS zm, SUM(power(2.0, -m2)) AS zd,
      |  bool_and(m1 = m2) AS req FROM grid),
      |ns AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards FROM h),
      |t AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_true FROM base)
      |SELECT n_shards, CAST(64 AS BIGINT) AS m, n_true,
      |  CAST(floor(0.709 * 64 * 64 / zd + 0.5) AS BIGINT) AS est_direct,
      |  CAST(floor(0.709 * 64 * 64 / zm + 0.5) AS BIGINT) AS est_merged,
      |  req AS registers_equal
      |FROM ns, t, z""") { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val h = base.select(col("k"), (col("k") % 8).as("shard"),
      conv(substring(md5(col("k").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType).as("hv"))
    def rank = max(when(col("hv") % 67108864 === 0, 27)
      .otherwise(lit(27) - length(bin(col("hv") % 67108864)))).as("m")
    val merged = h.groupBy(col("shard"), expr("hv div 67108864").as("b"))
      .agg(rank)
      .groupBy(col("b")).agg(max(col("m")).as("m"))
    val direct = h.groupBy(expr("hv div 67108864").as("b")).agg(rank)
    val grid = s.range(0, 64).select(col("id").as("b0"))
      .join(broadcast(merged.select(col("b").as("bm"), col("m").as("mm"))),
        col("b0") === col("bm"), "left")
      .join(broadcast(direct.select(col("b").as("bd"), col("m").as("md"))),
        col("b0") === col("bd"), "left")
      .select(coalesce(col("mm"), lit(0)).as("m1"),
        coalesce(col("md"), lit(0)).as("m2"))
    val z = grid.agg(sum(pow(lit(2.0), -col("m1"))).as("zm"),
      sum(pow(lit(2.0), -col("m2"))).as("zd"),
      expr("bool_and(m1 = m2)").as("req"))
    val ns = h.agg(countDistinct(col("shard")).as("n_shards"))
    val t = base.agg(countDistinct(col("k")).as("n_true"))
    z.crossJoin(broadcast(ns)).crossJoin(broadcast(t))
      .select(col("n_shards"), lit(64L).as("m"), col("n_true"),
        floor(lit(0.709) * 64 * 64 / col("zd") + 0.5).cast(LongType)
          .as("est_direct"),
        floor(lit(0.709) * 64 * 64 / col("zm") + 0.5).cast(LongType)
          .as("est_merged"),
        col("req").as("registers_equal"))
  }

  /** Theta-sketch intersection (r12n) — the SET-OPERATION leg of the
    * KMV family (`sketch_kmv_distinct` grades cardinality; audience
    * overlap at 100 TB needs |A∩B| from two constant-size sketches
    * without touching raw keys): θ = min of the two sketches' k-th
    * minimum hashes (a sketch smaller than k is EXACT with θ = 2³²),
    * the intersection sample is every common hash below θ, and the
    * estimate is n_sample·2³²/θ — pure BIGINT division. Audited
    * against the exact key intersection (event users ⊂ order
    * customers here, so truth is non-trivial at every SF). Hash,
    * bottom-k (TakeOrdered + ≤k broadcast rank self-join, never an
    * unpartitioned window) and err_ppm spelling are
    * sketch_kmv_distinct's exactly. */
  val sketchKmvIntersection: QDef = q(
    "sketch_kmv_intersection",
    """WITH ka AS (SELECT DISTINCT user_id AS k FROM events),
      |kb AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |ha AS (SELECT DISTINCT
      |    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h
      |  FROM ka),
      |hb AS (SELECT DISTINCT
      |    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h
      |  FROM kb),
      |ba AS (SELECT h FROM ha ORDER BY h LIMIT 64),
      |bb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
      |ra AS (SELECT a.h, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM ba a JOIN ba b ON b.h <= a.h GROUP BY 1),
      |rb AS (SELECT a.h, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM bb a JOIN bb b ON b.h <= a.h GROUP BY 1),
      |th AS (
      |  SELECT least(
      |    CASE WHEN (SELECT COUNT(*) FROM ha) >= 64
      |      THEN (SELECT h FROM ra WHERE r = 64) ELSE 4294967296 END,
      |    CASE WHEN (SELECT COUNT(*) FROM hb) >= 64
      |      THEN (SELECT h FROM rb WHERE r = 64) ELSE 4294967296 END)
      |    AS theta),
      |samp AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample
      |  FROM ha JOIN hb USING (h) CROSS JOIN th WHERE h < theta),
      |tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_inter
      |  FROM ka JOIN kb USING (k))
      |SELECT CAST(64 AS BIGINT) AS k, CAST(theta AS BIGINT) AS theta,
      |  n_sample,
      |  CAST(CASE WHEN n_sample = 0 THEN 0
      |    ELSE n_sample * 4294967296 // theta END AS BIGINT) AS est_inter,
      |  true_inter,
      |  CASE WHEN n_sample * 4294967296 // theta >= true_inter
      |    THEN CAST((n_sample * 4294967296 // theta - true_inter) * 1000000
      |      // true_inter AS BIGINT)
      |    ELSE -CAST((true_inter - n_sample * 4294967296 // theta) * 1000000
      |      // true_inter AS BIGINT) END AS err_ppm
      |FROM th, samp, tru""") { (s, d) =>
    def hashes(keys: org.apache.spark.sql.DataFrame) = keys.select(
      conv(substring(md5(col("k").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType).as("h")).distinct()
    def kthOr(hs: org.apache.spark.sql.DataFrame) = {
      val bottom = hs.orderBy(col("h")).limit(64)
      val kth = bottom.as("a")
        .join(broadcast(bottom.select(col("h").as("h2"))),
          col("h2") <= col("a.h"))
        .groupBy(col("a.h").as("h")).agg(count(lit(1)).as("r"))
        .filter(col("r") === 64).agg(min(col("h")).as("kth"))
      hs.agg(count(lit(1)).as("n")).crossJoin(broadcast(kth))
        .select(when(col("n") >= 64, col("kth"))
          .otherwise(lit(4294967296L)).as("t"))
    }
    val ka = Tables.events(s, d).select(col("user_id").as("k")).distinct()
    val kb = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
    val (ha, hb) = (hashes(ka).persist(), hashes(kb).persist())
    val th = kthOr(ha).select(col("t").as("ta"))
      .crossJoin(broadcast(kthOr(hb).select(col("t").as("tb"))))
      .select(least(col("ta"), col("tb")).as("theta"))
    val samp = ha.join(hb.select(col("h").as("h2")), col("h2") === col("h"))
      .crossJoin(broadcast(th))
      .filter(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_sample"))
    val tru = ka.join(kb.select(col("k").as("k2")), col("k2") === col("k"))
      .agg(count(lit(1)).as("true_inter"))
    val est = when(col("n_sample") === 0, 0L)
      .otherwise(expr("CAST(n_sample * 4294967296 div theta AS BIGINT)"))
    samp.crossJoin(broadcast(th)).crossJoin(broadcast(tru))
      .select(lit(64L).as("k"), col("theta"), col("n_sample"),
        est.as("est_inter"), col("true_inter"),
        when(est >= col("true_inter"),
          expr("CAST((n_sample * 4294967296 div theta - true_inter)" +
            " * 1000000 div true_inter AS BIGINT)"))
          .otherwise(-expr(
            "CAST((true_inter - n_sample * 4294967296 div theta)" +
              " * 1000000 div true_inter AS BIGINT)"))
          .as("err_ppm"))
  }

  /** Shared KMV-sample primitive (VERDICT r15 item 1) — the ONE
    * spelling of the sharded bottom-64 KMV uniform sample over
    * `orders` that `sketch_quantile_merge` (sketch-state mergeability
    * audit) and `shard_plan_from_sketch` (sketch-planned layout) both
    * build on; extracted so the two graded keys cannot drift. CTEs:
    * u = (key, cents, md5-prefix hash, mod-8 shard), n = row count,
    * ps = per-shard bottom-64 states (shard-partitioned window), mg =
    * the merged bottom-64-of-union (== the one-pass global bottom-64;
    * bottom-k is associative/commutative/idempotent under union), sr
    * = the merged sample ranked by VALUE via a 64×64 broadcast
    * self-join. The Spark builder below is the plan-identical twin of
    * this text. */
  private[ops] val kmvSampleCtes: String =
    """u AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
      |    o_orderkey % 8 AS shard
      |  FROM orders),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
      |ps AS (
      |  SELECT k, cents, h FROM (
      |    SELECT k, cents, h,
      |      row_number() OVER (PARTITION BY shard ORDER BY h, k) AS rn
      |    FROM u) WHERE rn <= 64),
      |mg AS (
      |  SELECT k, cents FROM (
      |    SELECT k, cents, row_number() OVER (ORDER BY h, k) AS rn FROM ps)
      |  WHERE rn <= 64),
      |sr AS (
      |  SELECT a.cents, a.k, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM mg a JOIN mg b
      |    ON b.cents < a.cents OR (b.cents = a.cents AND b.k <= a.k)
      |  GROUP BY a.cents, a.k)"""

  /** The sharded KMV sample's Spark side: u (the scan-shaped
    * projection), n (1-row count), sr (the merged ≤64-row sample with
    * value ranks). `persistU` is the only caller-visible choice — the
    * quantile audit's exact ground-truth side re-scans u, the layout
    * planner reads it once. */
  private[ops] final case class KmvSample(
      u: DataFrame, n: DataFrame, sr: DataFrame)

  private[ops] def kmvSample(s: SparkSession, d: String,
      persistU: Boolean): KmvSample = {
    import org.apache.spark.sql.expressions.Window
    var u = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"),
        conv(substring(md5(col("o_orderkey").cast(StringType)), 1, 8), 16, 10)
          .cast(LongType).as("h"),
        expr("o_orderkey % 8").as("shard"))
    if (persistU)
      u = u.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = u.agg(count(lit(1)).as("n"))
    // per-shard bottom-64 states (shard-partitioned window), merged by
    // taking the bottom-64 of the ≤512-row union (TakeOrdered — the
    // merge a rollup runs over stored per-shard sketch tables)
    val wShard = Window.partitionBy(col("shard")).orderBy(col("h"), col("k"))
    val ps = u.select(col("k"), col("cents"), col("h"),
        row_number().over(wShard).as("rn"))
      .filter(col("rn") <= 64).select(col("k"), col("cents"), col("h"))
    val mg = ps.orderBy(col("h"), col("k")).limit(64)
      .select(col("k"), col("cents"))
    // sample ranks by VALUE: 64×64 broadcast rank self-join
    val sr = mg.as("a")
      .join(broadcast(mg.select(col("k").as("bk"), col("cents").as("bc"))),
        col("bc") < col("a.cents") ||
          (col("bc") === col("a.cents") && col("bk") <= col("a.k")))
      .groupBy(col("a.cents").as("cents"), col("a.k").as("k"))
      .agg(count(lit(1)).as("r"))
    KmvSample(u, n, sr)
  }

  /** Mergeable quantile sketch audit (r15, VERDICT r14 item 2) — the
    * sharded-percentile property a 100 TB rollup actually relies on:
    * percentile STATES built independently per shard must merge into
    * the same state one pass over the whole table would build.
    *
    * The sketch is a KMV (bottom-k by hash order) uniform sample —
    * the exact-dyadic formulation the verdict asked for: each of 8
    * shards (o_orderkey mod 8 — stand-in for 8 executors' partials)
    * keeps its 64 rows of smallest md5-prefix hash; the MERGE is
    * "bottom-64 of the union", which equals the one-pass global
    * bottom-64 because bottom-k is associative/commutative/idempotent
    * under union (the spec pins that equality row-for-row). Quantile
    * estimate at p = the sample's value at rank ⌊(k−1)·p/100⌋+1 (the
    * `agg_quantiles_exact` rank convention), graded against the EXACT
    * percentile from full-table ranks via the shared bucketed
    * two-pass exclusive-prefix (never an unpartitioned window on the
    * big side; the ≤512-row merged state ranks through broadcast
    * self-joins). err_ppm uses the sign-split floor spelling so
    * Spark `div` and DuckDB `//` agree on every sign. Scale: the
    * per-shard state is 64 rows regardless of input; only the exact
    * ground-truth side (the audit's honest cost) touches full-table
    * ranks. The sample itself (u/ps/mg/sr) is the shared
    * [[kmvSampleCtes]]/[[kmvSample]] primitive, also consumed by
    * `shard_plan_from_sketch`. */
  val sketchQuantileMerge: QDef = q(
    "sketch_quantile_merge",
    s"""WITH $kmvSampleCtes,
      |pct AS (SELECT * FROM (VALUES (25), (50), (75), (90), (99)) AS t(p)),
      |est AS (
      |  SELECT p, MAX(CASE WHEN r = (64 - 1) * p // 100 + 1 THEN cents END)
      |    AS est_cents
      |  FROM sr CROSS JOIN pct GROUP BY p),
      |rk AS (
      |  SELECT cents,
      |    CAST(row_number() OVER (ORDER BY cents, k) AS BIGINT) AS rank
      |  FROM u),
      |ex AS (
      |  SELECT p, MAX(CASE WHEN rank = (n - 1) * p // 100 + 1 THEN cents END)
      |    AS exact_cents
      |  FROM rk CROSS JOIN n CROSS JOIN pct GROUP BY p)
      |SELECT CAST(p AS BIGINT) AS pct, n.n AS n_rows,
      |  CAST(64 AS BIGINT) AS sample_k, est_cents, exact_cents,
      |  est_cents - exact_cents AS err_cents,
      |  CASE WHEN est_cents >= exact_cents
      |    THEN CAST((est_cents - exact_cents) * 1000000 // exact_cents
      |      AS BIGINT)
      |    ELSE -CAST((exact_cents - est_cents) * 1000000 // exact_cents
      |      AS BIGINT) END AS err_ppm
      |FROM est JOIN ex USING (p) CROSS JOIN n
      |ORDER BY pct""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ks = kmvSample(s, d, persistU = true)
    val u = ks.u; val n = ks.n; val sr = ks.sr
    import s.implicits._
    val pcts = Seq(25, 50, 75, 90, 99).toDF("p")
    val est = sr.crossJoin(broadcast(pcts))
      .groupBy(col("p"))
      .agg(max(when(col("r") === expr("(64 - 1) * p div 100 + 1"),
        col("cents"))).as("est_cents"))
    // exact side: full-table ranks via the shared bucketed two-pass
    // exclusive-prefix (shard_range_boundaries' machinery)
    val xc = u.groupBy(col("cents").as("v")).agg(count(lit(1)).as("cnt"))
    val pre = DriftOps.exclusivePrefix(xc, expr("v div 10000000"))
      .select(col("v"), col("pre"))
    val wTie = Window.partitionBy(col("cents")).orderBy(col("k"))
    val rk = u.join(pre, col("v") === col("cents"))
      .select(col("cents"), (col("pre") + row_number().over(wTie)).as("rank"))
    val ex = rk.crossJoin(broadcast(n)).crossJoin(broadcast(pcts))
      .groupBy(col("p").as("ep"))
      .agg(max(when(col("rank") === expr("(n - 1) * p div 100 + 1"),
        col("cents"))).as("exact_cents"))
    est.join(broadcast(ex), col("p") === col("ep"))
      .crossJoin(broadcast(n))
      .select(col("p").cast(LongType).as("pct"), col("n").as("n_rows"),
        lit(64L).as("sample_k"), col("est_cents"), col("exact_cents"),
        (col("est_cents") - col("exact_cents")).as("err_cents"),
        when(col("est_cents") >= col("exact_cents"),
          expr("CAST((est_cents - exact_cents) * 1000000 div exact_cents" +
            " AS BIGINT)"))
          .otherwise(-expr("CAST((exact_cents - est_cents) * 1000000" +
            " div exact_cents AS BIGINT)")).as("err_ppm"))
      .orderBy(col("pct"))
  }

  /** Mergeable heavy-hitters audit (r15) — the frequent-items leg of
    * the sketch-merge family: per-shard top-8 token candidate lists
    * (the Misra-Gries/SpaceSaving summary's exact-spellable core)
    * merged by candidate-set union, then audited against the exact
    * global top-8. The pigeonhole guarantee this grades: any token
    * with global count > N_shard_max·8 must enter at least one
    * shard's top-8, so a merged candidate set can only miss tail
    * items — `found_by_merge` is the per-rank witness and
    * `n_candidates` the merged state's size (≤64 rows regardless of
    * corpus size; the exact global count side is the audit's honest
    * cost, not the production path). Ties break by token text in both
    * engines. */
  val sketchHeavyHittersMerge: QDef = q(
    "sketch_heavy_hitters_merge",
    """WITH tok AS (
      |  SELECT doc_id % 8 AS shard, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)),
      |sc AS (
      |  SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY shard, tok),
      |cand AS (
      |  SELECT DISTINCT tok FROM (
      |    SELECT tok,
      |      row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, tok)
      |        AS rn
      |    FROM sc) WHERE rn <= 8),
      |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
      |gc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY tok),
      |top8 AS (SELECT tok, cnt FROM gc ORDER BY cnt DESC, tok LIMIT 8),
      |rt AS (
      |  SELECT a.tok, a.cnt, CAST(COUNT(*) AS BIGINT) AS rank
      |  FROM top8 a JOIN top8 b
      |    ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.tok <= a.tok)
      |  GROUP BY a.tok, a.cnt)
      |SELECT rt.rank, rt.tok, rt.cnt,
      |  cand.tok IS NOT NULL AS found_by_merge, nc.n_candidates
      |FROM rt LEFT JOIN cand ON cand.tok = rt.tok CROSS JOIN nc
      |ORDER BY rt.rank""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(expr("doc_id % 8").as("shard"),
        explode(split(col("text"), " ")).as("tok"))
    val sc = tok.groupBy(col("shard"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val wShard = Window.partitionBy(col("shard"))
      .orderBy(col("cnt").desc, col("tok"))
    val cand = sc.select(col("tok"), row_number().over(wShard).as("rn"))
      .filter(col("rn") <= 8).select(col("tok")).distinct()
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val gc = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top8 = gc.orderBy(col("cnt").desc, col("tok")).limit(8)
    val rt = top8.as("a")
      .join(broadcast(top8.select(col("tok").as("bt"), col("cnt").as("bc"))),
        col("bc") > col("a.cnt") ||
          (col("bc") === col("a.cnt") && col("bt") <= col("a.tok")))
      .groupBy(col("a.tok").as("tok"), col("a.cnt").as("cnt"))
      .agg(count(lit(1)).as("rank"))
    rt.join(broadcast(cand.select(col("tok").as("ct"))),
        col("tok") === col("ct"), "left")
      .crossJoin(broadcast(nc))
      .select(col("rank"), col("tok"), col("cnt"),
        col("ct").isNotNull.as("found_by_merge"), col("n_candidates"))
      .orderBy(col("rank"))
  }

  /** Mergeable Bloom-filter states (r16) — the third sketch-merge leg
    * after quantiles and heavy hitters: `sketch_bloom_fpr` grades the
    * filter's FPR as a sparse bit-position set; THIS key grades the
    * PACKED-WORD register representation a 100 TB rollup ships — 1024
    * BIGINT words × 63 bits (the sign bit never set), 3 md5-derived
    * hashes per key, per-shard filter = BIT_OR of element words,
    * merged filter = BIT_OR over the 8 shard states. The graded
    * witness: every word's shard-merged value EQUALS the one-pass
    * value (BIT_OR associativity/commutativity/idempotence — the
    * exact-spellable merge property), plus per-word popcounts and the
    * number of shard states contributing. Fixed-width state (≤1024
    * rows per shard) regardless of corpus size. */
  val sketchBloomMerge: QDef = q(
    "sketch_bloom_merge",
    """WITH el AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |js AS (SELECT unnest([0, 1, 2]) AS j),
      |hs AS (
      |  SELECT k, k % 8 AS shard,
      |    CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#'
      |      || CAST(j AS VARCHAR)), 1, 8))::BIGINT % 64512 AS BIGINT) AS h
      |  FROM el CROSS JOIN js),
      |sf AS (
      |  SELECT shard, h // 63 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(h % 63 AS INT)) AS bits
      |  FROM hs GROUP BY shard, h // 63),
      |mg AS (
      |  SELECT w, bit_or(bits) AS merged,
      |    CAST(COUNT(*) AS BIGINT) AS n_shard_states
      |  FROM sf GROUP BY w),
      |op AS (
      |  SELECT h // 63 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(h % 63 AS INT)) AS onepass
      |  FROM hs GROUP BY h // 63)
      |SELECT mg.w AS word_idx, merged,
      |  CAST(bit_count(merged) AS BIGINT) AS bits_set,
      |  n_shard_states, merged = onepass AS merge_equals_onepass
      |FROM mg JOIN op ON op.w = mg.w
      |ORDER BY word_idx""") { (s, d) =>
    val el = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
    val js = s.range(3).select(col("id").cast(IntegerType).as("j"))
    val hs = el.crossJoin(broadcast(js))
      .select(col("k"), expr("k % 8").as("shard"),
        expr("CAST(conv(substring(md5(CAST(k AS STRING) || '#'"
          + " || CAST(j AS STRING)), 1, 8), 16, 10) % 64512 AS BIGINT)")
          .as("h"))
    val sf = hs.groupBy(col("shard"), expr("h div 63").as("w"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 63 AS INT))"))
        .as("bits"))
    val mg = sf.groupBy(col("w"))
      .agg(bit_or(col("bits")).as("merged"),
        count(lit(1)).as("n_shard_states"))
    val op = hs.groupBy(expr("h div 63").as("ow"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 63 AS INT))"))
        .as("onepass"))
    mg.join(op, col("ow") === col("w"))
      .select(col("w").as("word_idx"), col("merged"),
        bit_count(col("merged")).cast(LongType).as("bits_set"),
        col("n_shard_states"),
        (col("merged") === col("onepass")).as("merge_equals_onepass"))
      .orderBy(col("word_idx"))
  }

  /** AMS F₂ sketch audit (r18b) — the Alon–Matias–Szegedy second
    * moment (= self-join size on l_partkey) estimated with 16
    * deterministic md5 ±1 hash functions next to the exact
    * Σ freq²: Z_j = Σ_v s_j(v)·freq_v folds in ONE pass (16× via a
    * broadcast j cross join), estimates are Z_j², and the graded
    * summary is the textbook median-of-means (4 groups of 4, the
    * 4-row median via a broadcast rank self-join — no unpartitioned
    * window) with its signed error vs truth. EVERYTHING integer:
    * signs from one md5 hex parity, Z bounded by row count. The
    * sketch a join-size planner merges across shards at 100 TB —
    * constant state per hash function. */
  val sketchAmsF2: QDef = q(
    "sketch_ams_f2",
    """WITH f AS (
      |  SELECT l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |ex AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS f2
      |  FROM f),
      |js AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS j),
      |z AS (
      |  SELECT js.j,
      |    CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(js.j AS VARCHAR)
      |      || ':' || CAST(f.v AS VARCHAR)), 1, 1))::INT % 2 = 0
      |      THEN f.c ELSE -f.c END) AS BIGINT) AS zj
      |  FROM f CROSS JOIN js GROUP BY 1),
      |e AS (SELECT j, CAST(zj AS HUGEINT) * zj AS est, j // 4 AS grp
      |  FROM z),
      |gm AS (SELECT grp, CAST(SUM(est) // 4 AS BIGINT) AS mean_est
      |  FROM e GROUP BY grp),
      |rk AS (
      |  SELECT a.grp, a.mean_est,
      |    CAST(1 + COUNT(b.grp) AS BIGINT) AS rn
      |  FROM gm a LEFT JOIN gm b ON b.mean_est < a.mean_est
      |    OR (b.mean_est = a.mean_est AND b.grp < a.grp)
      |  GROUP BY a.grp, a.mean_est),
      |med AS (SELECT CAST(SUM(CASE WHEN rn IN (2, 3) THEN mean_est
      |  ELSE 0 END) // 2 AS BIGINT) AS mom FROM rk),
      |mn AS (SELECT CAST(SUM(est) // 16 AS BIGINT) AS mean16 FROM e)
      |SELECT ex.f2 AS exact_f2, mn.mean16 AS mean_est,
      |  med.mom AS median_of_means,
      |  CAST((med.mom - ex.f2) * 1000000 // ex.f2 AS BIGINT) AS err_ppm
      |FROM ex CROSS JOIN med CROSS JOIN mn""") { (s, d) =>
    import s.implicits._
    val f = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("v")).agg(count(lit(1)).as("c"))
    val ex = f.agg(sum(col("c").cast(DriftOps.dec) * col("c")).cast(LongType)
      .as("f2"))
    val js = (0L until 16L).toDF("j")
    val z = f.crossJoin(broadcast(js))
      .groupBy(col("j"))
      .agg(sum(when(conv(substring(md5(concat(col("j").cast(StringType),
          lit(":"), col("v").cast(StringType))), 1, 1), 16, 10)
          .cast(IntegerType) % 2 === 0, col("c"))
        .otherwise(-col("c"))).as("zj"))
    val e = z.select(col("j"), (col("zj").cast(DriftOps.dec) * col("zj")).as("est"),
      expr("j div 4").as("grp")).persist()
    val gm = e.groupBy(col("grp"))
      .agg(expr("CAST(SUM(est) div 4 AS BIGINT)").as("mean_est"))
    val rk = gm.as("a")
      .join(broadcast(gm.select(col("grp").as("b_grp"),
          col("mean_est").as("b_me"))),
        col("b_me") < col("a.mean_est") ||
          (col("b_me") === col("a.mean_est") &&
            col("b_grp") < col("a.grp")), "left")
      .groupBy(col("a.grp").as("grp"), col("a.mean_est").as("mean_est"))
      .agg((lit(1L) + count(col("b_grp"))).as("rn"))
    val med = rk.agg(expr("CAST(SUM(CASE WHEN rn IN (2, 3) THEN mean_est"
      + " ELSE 0 END) div 2 AS BIGINT)").as("mom"))
    val mn = e.agg(expr("CAST(SUM(est) div 16 AS BIGINT)").as("mean16"))
    ex.crossJoin(broadcast(med)).crossJoin(broadcast(mn))
      .select(col("f2").as("exact_f2"), col("mean16").as("mean_est"),
        col("mom").as("median_of_means"),
        expr("(mom - f2) * 1000000 div f2").as("err_ppm"))
  }

  val all: Seq[QDef] = Seq(sketchCountminFreq, sketchBloomFpr,
    sketchHllLinear, sketchCmsJoinForecast, sketchHllRegisters,
    sketchKmvDistinct, sketchHllMerge, sketchKmvIntersection,
    sketchQuantileMerge, sketchHeavyHittersMerge, sketchBloomMerge, sketchAmsF2)
}
