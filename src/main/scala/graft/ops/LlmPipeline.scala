package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.10 — LLM-training-data pipeline operators.
  *
  * Float protocol for vector math (D10): float32 → double is exact,
  * and BOTH engines fold the 64-dim arrays sequentially left-to-right
  * (Spark `aggregate` starting at 0.0; DuckDB `list_reduce`, whose
  * first-element seed equals 0.0+x1 exactly for addition), so dot
  * products and norms are bit-identical; similarities are rounded to
  * 6 digits for defense in depth.
  *
  * Scale posture: the blocked quadratic near-dup join is the graded
  * path (bounded blocks); the MinHash-LSH formulation that replaces
  * it at 100 TB is `dedup_minhash_lsh` in LlmExtras.
  */
/** Deterministic cross-engine vector math (D10) shared by the LLM
  * operator families: Spark expression + DuckDB-SQL twin pairs. */
private[ops] object VecMath {

  /** Exact per-element double view of an embedding. */
  def dvec(c: Column): Column = transform(c, _.cast(DoubleType))

  /** Sequential left-to-right dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** DuckDB twin of `dot` over 64-dim embedding columns. */
  def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |    (x, y) -> x + y)""".stripMargin

  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 6)

  /** Codegen'd dot product straight over float32 arrays — same
    * accumulation order and widening as `dot(dvec(a), dvec(b))`, so
    * results are bit-identical; just ~5× faster in pair joins. */
  def fdot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.floatDot(a, b)

  /** One-pass fused cosine (r6): bit-identical to
    * `round(fdot(a,b)/(sqrt(fdot(a,a))*sqrt(fdot(b,b))), 6)` — same
    * per-index accumulation order, same IEEE ops — but one array
    * traversal instead of three (FloatCosineSpec asserts the
    * equivalence over the whole embeddings fixture). */
  def fcosine(a: Column, b: Column): Column =
    round(graft.functions.VectorFunctions.floatCosine(a, b), 6)

  def sqlCosine(a: String, b: String): String =
    s"""ROUND(${sqlDot(a, b)}
       |  / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})), 6)""".stripMargin
}

object LlmPipeline {
  import VecMath._

  /** Exact-text dedup with a DETERMINISTIC survivor (min doc_id per
    * text — never dropDuplicates, which keeps an arbitrary row). */
  val dedupExactDocs: QDef = q(
    "dedup_exact_docs",
    """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies,
      |  min(lang) AS lang, length(text) AS text_len
      |FROM documents
      |GROUP BY text
      |ORDER BY keep_id""") { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        min(col("lang")).as("lang"), length(col("text")).as("text_len"))
      .drop("text")
      .orderBy(col("keep_id"))
  }

  /** Near-dup pairs by token-set Jaccard >= 0.5, blocked by lang to
    * bound the quadratic (each block joins only with itself).
    *
    * Scale formulation (same answer, bench-tuned):
    *  - NO corpus-global coordination: each doc independently maps to
    *    its sorted distinct token array in one embarrassingly-parallel
    *    pass (a corpus dictionary — however assigned — is a global
    *    artifact to build, broadcast, and keep consistent; at 100 TB
    *    vocabulary it is the bottleneck, so it is simply gone).
    *  - SALTED block join: `lang` has only 5 values, so a plain
    *    lang-keyed shuffle puts the biggest block on one core. The
    *    left side carries salt = doc_id % 16 and the (small) right
    *    side is replicated across all salts → pair generation spreads
    *    over every core. Each pair still appears exactly once.
    *  - Lossless size prefilter: jacc >= 0.5 forces the smaller
    *    token set to be >= half the larger, so mismatched sizes are
    *    skipped before any array work.
    *  - |A∩B| via the codegen'd `graft_sorted_intersect` merge walk
    *    (graft.functions) — no per-pair hash set, no allocation.
    *  - |A∪B| = |A|+|B|−|A∩B| arithmetically (sets are distinct) —
    *    no array_union materialization; and the threshold filter is
    *    the exact integer predicate 2·inter >= union (no float
    *    boundary anywhere). The output jacc value is the identical
    *    int/int division the oracle computes. */
  val dedupNearJaccard: QDef = q(
    "dedup_near_jaccard",
    """WITH d AS (SELECT doc_id, lang,
      |             list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |    / len(list_distinct(a.ts || b.ts)) AS jacc
      |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |    / len(list_distinct(a.ts || b.ts)) >= 0.5
      |ORDER BY doc_a, doc_b""") { (s, d) =>
    val nSalts = 16
    // Per-doc sorted distinct token-HASH set (xxhash64 per distinct
    // token): one stateless map pass — no shuffle, no corpus
    // dictionary, no cached prep. Distinct tokens map to distinct
    // 64-bit hashes (collision odds ~n²·2⁻⁶⁴ per doc pair — below
    // any fixture's reach; verified hash-identical to the oracle),
    // so |hash set| = |token set| and hash-set intersections equal
    // token-set intersections. The subtree is cheap enough that both
    // join sides just recompute it (at 100 TB, persist(dd) here).
    // r7: graft_shingle_hashes(t, 1) — one compiled pass instead of
    // the interpreted transform lambda; dedups by hash where the old
    // form deduped by token (identical sets absent a 64-bit collision
    // within one document — the same standing assumption the jacc
    // math above already documents).
    val dd = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.VectorFunctions.shingleHashes(
          split(col("text"), " "), 1).as("ts"))
      .withColumn("sz", size(col("ts")))
    val a = dd.select(col("doc_id").as("doc_a"), col("lang"),
      col("ts").as("ts_a"), col("sz").as("sz_a"),
      pmod(col("doc_id"), lit(nSalts)).as("salt"))
    // The probe side MUST be spread explicitly: the fixture is one
    // small parquet file → one scan partition, and a broadcast join
    // introduces no shuffle — without this repartition the entire
    // multi-million-pair evaluation runs on ONE core. (At 100 TB the
    // join leaves broadcast range and becomes a shuffle join on
    // (salt, lang) — 16×5 groups — which is exactly what the salt
    // replication is for.)
    val b = dd.repartition(s.sparkContext.defaultParallelism).crossJoin(s.range(nSalts).toDF("salt_b"))
      .select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("ts").as("ts_b"), col("sz").as("sz_b"), col("salt_b"))
    // codegen'd merge-walk intersection over primitive longs — no
    // per-pair hash set, no allocation, runs inside whole-stage codegen
    val inter = graft.functions.VectorFunctions.sortedIntersectLong(col("ts_a"), col("ts_b"))
    // Predicate ORDER is deliberate: a detached post-join filter gets
    // pushed into the join condition AHEAD of these cheap conjuncts
    // (evaluating the merge walk for every probe pair), so the
    // threshold rides in the join condition explicitly, last, and in
    // the single-occurrence form 3·inter >= sz_a+sz_b (algebraically
    // identical to 2·inter >= |A∪B| = sz_a+sz_b−inter).
    a.join(b, col("salt") === col("salt_b") && col("lang") === col("lang_b")
        && col("doc_a") < col("doc_b")
        && col("sz_a") * 2 >= col("sz_b") && col("sz_b") * 2 >= col("sz_a")
        && inter * 3 >= col("sz_a") + col("sz_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter.cast(DoubleType) / (col("sz_a") + col("sz_b") - inter)).as("jacc"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Brute-force cosine top-k around one query vector (vec_id = 0).
    * The 1-row query side is broadcast; candidates stream past it —
    * the linear-scan baseline that IVF/LSH variants accelerate. */
  val simSearchTopk: QDef = q(
    "sim_search_topk",
    s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, ${sqlCosine("embedding", "q")} AS sim
      |FROM embeddings, qv
      |WHERE vec_id <> 0
      |ORDER BY sim DESC, vec_id
      |LIMIT 10""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        fcosine(col("embedding"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Per-label 3-NN around the label's first member (min vec_id) —
    * the batch-KNN-join pattern: tiny query side broadcast, window
    * top-k per group instead of a global sort. */
  val knnPerLabel: QDef = q(
    "knn_per_label",
    s"""WITH firsts AS (
      |  SELECT label, min(vec_id) AS q_id FROM embeddings GROUP BY label),
      |q AS (
      |  SELECT f.label AS q_label, f.q_id, e.embedding AS q_emb
      |  FROM firsts f JOIN embeddings e ON e.vec_id = f.q_id)
      |SELECT q_label AS label, q_id, vec_id,
      |       ${sqlCosine("embedding", "q_emb")} AS sim
      |FROM embeddings JOIN q ON label = q_label AND vec_id <> q_id
      |QUALIFY row_number() OVER (
      |  PARTITION BY q_label
      |  ORDER BY ${sqlCosine("embedding", "q_emb")} DESC, vec_id) <= 3
      |ORDER BY label, sim DESC, vec_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val firsts = e.groupBy(col("label").as("q_label"))
      .agg(min(col("vec_id")).as("q_id"))
    val qside = firsts.join(e, firsts("q_id") === e("vec_id"))
      .select(col("q_label"), col("q_id"), col("embedding").as("q_emb"))
    e.join(broadcast(qside),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_label").as("label"), col("q_id"), col("vec_id"),
        fcosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("label"))
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy(col("label"), col("sim").desc, col("vec_id"))
  }

  /** Global top-20 tokens by frequency (token tie-break, D1). */
  val textTokenTf: QDef = q(
    "text_token_tf",
    """SELECT tok, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok
      |ORDER BY n DESC, tok
      |LIMIT 20""") { (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
  }

  /** tf-idf top term per document. The transcendental ln (D6) is
    * rounded to 6 digits FIRST (idf is a function of the integer df
    * only), then multiplied by the integer tf — so the ranking value
    * has a single well-rounded float op of each kind on both sides. */
  val textTfidfTopterms: QDef = q(
    "text_tfidf_topterms",
    """WITH tf AS (
      |  SELECT doc_id, tok AS term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT doc_id, term, tf, df,
      |  ROUND(tf * ROUND(ln((n + 1.0) / (df + 1.0)), 6), 6) AS tfidf
      |FROM tf JOIN df USING (term) CROSS JOIN n
      |QUALIFY row_number() OVER (
      |  PARTITION BY doc_id
      |  ORDER BY ROUND(tf * ROUND(ln((n + 1.0) / (df + 1.0)), 6), 6) DESC, term) = 1
      |ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // r7: the (doc, term, tf) table builds ROW-LOCALLY — one
    // hash-count pass per document (codegen'd graft_term_counts),
    // exploded at one row per DISTINCT term per doc. The r6 form
    // (explode every occurrence → groupBy(doc, term)) shipped the
    // corpus's whole token stream through Generate and an aggregation
    // exchange just to count within-document runs; that shuffle is
    // gone entirely (the bm25 zero-explode pattern, applied to an
    // unbounded vocabulary). repartition before the count pass: the
    // one-file scan is a single partition and the counting is the
    // query's heavy compute. Persisted: tf feeds BOTH the vocabulary
    // aggregate (broadcast side) and the scoring join's stream side,
    // and its recompute branch contains the repartition shuffle (the
    // persist-when-the-branch-reshuffles rule; caller unpersists via
    // clearCache, same convention as the dedup prep tables).
    val tf = docs.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.termCounts(
          split(col("text"), " "))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val idf = round(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6)
    // df is vocabulary-sized — broadcast it (unhinted, the unknown
    // aggregate stats planned an SMJ that shuffled every (doc, term)
    // row on a skewed 31-value key), and take the per-doc top-1
    // through the bounded-heap GroupedTopKExec instead of a full
    // per-doc sort window.
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * idf, 6).as("tfidf"))
    graft.plans.GroupedTopK.topkPerGroup(scored,
        groupCols = Seq("doc_id"),
        orderBy = Seq(("tfidf", false), ("term", true)),
        k = 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Per-language corpus profile (D3 exact-int average). */
  val textLangProfile: QDef = q(
    "text_lang_profile",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""") { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Multimodal enrichment: text metadata ⋈ vector table ⋈ an
    * events-derived popularity signal (documents are attributed to
    * users round-robin — the synthetic fixtures carry no explicit
    * FK). Flat scalar output for hash safety. */
  val multimodalEnrich: QDef = q(
    "multimodal_enrich",
    s"""WITH pop AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
      |SELECT doc_id, lang, source, n_chars, label,
      |  ROUND(sqrt(${sqlDot("embedding", "embedding")}), 6) AS l2norm,
      |  coalesce(n_events, 0) AS popularity
      |FROM documents
      |JOIN embeddings ON vec_id = doc_id
      |LEFT JOIN pop ON user_id = doc_id % 150
      |ORDER BY doc_id""") { (s, d) =>
    val pop = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    Tables.documents(s, d)
      .join(Tables.embeddings(s, d), col("vec_id") === col("doc_id"))
      .join(pop, col("user_id") === col("doc_id") % 150, "left")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("label"),
        round(sqrt(fdot(col("embedding"), col("embedding"))), 6).as("l2norm"),
        coalesce(col("n_events"), lit(0L)).as("popularity"))
      .orderBy(col("doc_id"))
  }

  /** Binary-column processing, oracle-graded: documents carried as an
    * opaque BINARY column (the multimodal posture — media bytes the
    * engine moves but never interprets), with the typed-metadata pass
    * a media pipeline runs per blob: byte length, leading byte, and a
    * content fingerprint. The fixture corpus is ASCII, so
    * CAST(text AS BINARY) is a deterministic blob both engines agree
    * on; the graded work (octet length, header byte, md5) is exactly
    * what `graft.multimodal` does before its (stubbed) codec step.
    * Pure scan-pipeline expressions — zero shuffles except the
    * presentation sort. */
  val multimodalBinaryMeta: QDef = q(
    "multimodal_binary_meta",
    """SELECT doc_id,
      |  CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
      |  ascii(substr(text, 1, 1)) AS first_byte,
      |  md5(text) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast(BinaryType)).cast(LongType).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"),
        md5(col("text").cast(BinaryType)).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Uniform frame sampling (r11) — the video-pipeline index pass
    * `graft.multimodal.sampleFrames` runs before any decode: from
    * per-item metadata (duration, fps — synthesized deterministically
    * from the fixture's doc stats, since the corpus carries no real
    * media), compute the k=8 uniformly-spaced frame indices and their
    * timestamps. frame_idx(i) = ⌊i·(n−1)/(k−1)⌋, the standard
    * endpoint-inclusive grid. Pure integer arithmetic end to end
    * (div, never float), one Generate per row, no shuffle except the
    * presentation sort — at 100 TB this is a scan-pipeline stage that
    * parallelizes with the files. */
  val multimodalFrameSample: QDef = q(
    "multimodal_frame_sample",
    """WITH meta AS (
      |  SELECT doc_id, n_chars * 40 AS duration_ms,
      |    24 + (doc_id % 3) * 6 AS fps
      |  FROM documents),
      |m2 AS (SELECT doc_id, fps, duration_ms * fps // 1000 AS n_frames FROM meta),
      |m3 AS (SELECT doc_id, fps, n_frames, least(8, n_frames) AS n_samples
      |  FROM m2 WHERE n_frames > 0),
      |sampled AS (
      |  SELECT doc_id, fps, i AS sample_no,
      |    CASE WHEN n_samples > 1 THEN i * (n_frames - 1) // (n_samples - 1)
      |         ELSE 0 END AS frame_idx
      |  FROM m3 CROSS JOIN range(0, 8) r(i) WHERE i < n_samples)
      |SELECT doc_id, sample_no, frame_idx,
      |  frame_idx * 1000 // fps AS frame_ts_ms
      |FROM sampled
      |ORDER BY doc_id, sample_no""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("n_chars") * 40).as("duration_ms"),
        (lit(24) + (col("doc_id") % 3) * 6).as("fps"))
      .withColumn("n_frames", expr("duration_ms * fps div 1000"))
      .filter(col("n_frames") > 0)
      .withColumn("n_samples", least(lit(8L), col("n_frames")))
      .select(col("doc_id"), col("fps"), col("n_frames"), col("n_samples"),
        explode(expr("sequence(0L, n_samples - 1)")).as("sample_no"))
      .withColumn("frame_idx",
        when(col("n_samples") > 1,
          expr("sample_no * (n_frames - 1) div (n_samples - 1)"))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("sample_no"), col("frame_idx"),
        expr("frame_idx * 1000 div fps").as("frame_ts_ms"))
      .orderBy(col("doc_id"), col("sample_no"))
  }

  /** Audio segmentation index pass (r12) — the audio twin of
    * `multimodal_frame_sample`: 30-second windows with a 25-second
    * stride (5 s overlap, the standard ASR chunking shape) over
    * synthesized per-doc audio metadata (duration from n_chars,
    * 16 kHz mono) — all pure integer arithmetic computed BEFORE any
    * codec touches bytes, so the decode stage (the honest
    * environmental stub in graft.multimodal) receives exact
    * (start, end, n_samples) slices. Row-local explode; output
    * volume is Σ ceil(duration/stride), known from metadata alone. */
  val multimodalChunkAudio: QDef = q(
    "multimodal_chunk_audio",
    """WITH meta AS (
      |  SELECT doc_id, n_chars * 25 AS duration_ms FROM documents),
      |m2 AS (
      |  SELECT doc_id, duration_ms,
      |    (duration_ms + 24999) // 25000 AS n_segs
      |  FROM meta),
      |sidx AS (
      |  SELECT doc_id, duration_ms, unnest(range(0, n_segs)) AS seg_no
      |  FROM m2),
      |segs AS (
      |  SELECT doc_id, duration_ms, seg_no, seg_no * 25000 AS seg_start_ms
      |  FROM sidx)
      |SELECT doc_id, seg_no, seg_start_ms,
      |  least(seg_start_ms + 30000, duration_ms) AS seg_end_ms,
      |  (least(seg_start_ms + 30000, duration_ms) - seg_start_ms) * 16000 // 1000
      |    AS n_samples
      |FROM segs
      |ORDER BY doc_id, seg_no""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), (col("n_chars") * 25).as("duration_ms"))
      .withColumn("n_segs", expr("(duration_ms + 24999) div 25000"))
      // n_chars = 0 ⇒ n_segs = 0, and sequence(0, -1) would emit a
      // DESCENDING [0,-1] (two bogus rows) where the oracle's
      // range(0, 0) emits none — guard the explode (ADVICE r12).
      .filter(col("n_segs") > 0)
      .select(col("doc_id"), col("duration_ms"),
        explode(expr("sequence(0L, n_segs - 1)")).as("seg_no"))
      .withColumn("seg_start_ms", col("seg_no") * 25000)
      .withColumn("seg_end_ms",
        least(col("seg_start_ms") + 30000, col("duration_ms")))
      .select(col("doc_id"), col("seg_no"), col("seg_start_ms"), col("seg_end_ms"),
        expr("(seg_end_ms - seg_start_ms) * 16000 div 1000").as("n_samples"))
      .orderBy(col("doc_id"), col("seg_no"))
  }

  /** Token-set containment dedup (r12) — the asymmetric twin of
    * `dedup_near_jaccard`: a truncated/excerpted document has LOW
    * Jaccard against its source (|A∩B|/|A∪B| shrinks with the size
    * gap) but FULL containment (A ⊆ B), so symmetric near-dup passes
    * miss exactly the crawl artifacts this catches. Pairs where the
    * smaller doc's distinct-token set is entirely contained in the
    * larger's, lang-blocked + salted (the jaccard key's layout, no
    * size-ratio prefilter — small⊂large is the point), verified by
    * the same codegen'd sorted-hash merge walk; graded as a
    * per-container report (container doc, how many docs it absorbs,
    * id range) so output stays doc-bounded while the oracle still
    * certifies every pair. At 100 TB the candidate step is
    * MinHash-LSH banding on the SMALLER side's shingles; the
    * verify-walk is unchanged. */
  val dedupContainment: QDef = q(
    "dedup_containment",
    """WITH d AS (SELECT doc_id, lang,
      |             list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents),
      |pairs AS (
      |  SELECT
      |    CASE WHEN len(a.ts) >= len(b.ts) THEN a.doc_id ELSE b.doc_id END AS container,
      |    CASE WHEN len(a.ts) >= len(b.ts) THEN b.doc_id ELSE a.doc_id END AS contained
      |  FROM d a JOIN d b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.ts, b.ts)) = least(len(a.ts), len(b.ts))
      |    AND len(a.ts) <> len(b.ts))
      |SELECT container, CAST(count(*) AS BIGINT) AS n_contained,
      |  CAST(min(contained) AS BIGINT) AS min_contained,
      |  CAST(max(contained) AS BIGINT) AS max_contained
      |FROM pairs GROUP BY container
      |ORDER BY container""") { (s, d) =>
    val nSalts = 16
    val dd = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.VectorFunctions.shingleHashes(
          split(col("text"), " "), 1).as("ts"))
      .withColumn("sz", size(col("ts")))
    val a = dd.select(col("doc_id").as("doc_a"), col("lang"),
      col("ts").as("ts_a"), col("sz").as("sz_a"),
      pmod(col("doc_id"), lit(nSalts)).as("salt"))
    val b = dd.repartition(s.sparkContext.defaultParallelism).crossJoin(s.range(nSalts).toDF("salt_b"))
      .select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("ts").as("ts_b"), col("sz").as("sz_b"), col("salt_b"))
    val inter = graft.functions.VectorFunctions.sortedIntersectLong(col("ts_a"), col("ts_b"))
    // Equal-size pairs are excluded: with distinct-token sets,
    // sz_a = sz_b ∧ full containment ⇒ identical sets — that's
    // `dedup_exact_docs`' (or near-jaccard's) territory, and keeping
    // them would make container/contained direction arbitrary.
    a.join(b, col("salt") === col("salt_b") && col("lang") === col("lang_b")
        && col("doc_a") < col("doc_b") && col("sz_a") =!= col("sz_b")
        && inter === least(col("sz_a"), col("sz_b")))
      .select(
        when(col("sz_a") >= col("sz_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("container"),
        when(col("sz_a") >= col("sz_b"), col("doc_b")).otherwise(col("doc_a"))
          .as("contained"))
      .groupBy(col("container"))
      .agg(count(lit(1)).as("n_contained"),
        min(col("contained")).as("min_contained"),
        max(col("contained")).as("max_contained"))
      .orderBy(col("container"))
  }

  /** Hard-negative mining (r12c) — the contrastive-training feed: for
    * every probe vector (deterministic every-250th id), the top-3 most
    * similar vectors carrying a DIFFERENT label. Cross-label by
    * construction, so label blocking cannot apply — instead the probe
    * set is the small side (corpus/250 rows), broadcast against one
    * full scan with the fused codegen cosine, and the top-3 cut is a
    * per-probe window over probe-keyed partitions. At 100 TB the
    * probe batch stays driver-bounded by the sampling rate and the
    * scan parallelizes with input splits — the standard mining shape
    * (one pass per probe batch, never vectors²). */
  val simHardNegatives: QDef = q(
    "sim_hard_negatives",
    s"""WITH probes AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |  FROM embeddings WHERE vec_id % 250 = 0)
      |SELECT q_id, q_label, vec_id AS neg_id, label AS neg_label,
      |       ${sqlCosine("embedding", "q_emb")} AS sim
      |FROM embeddings JOIN probes ON label <> q_label
      |QUALIFY row_number() OVER (
      |  PARTITION BY q_id
      |  ORDER BY ${sqlCosine("embedding", "q_emb")} DESC, vec_id) <= 3
      |ORDER BY q_id, sim DESC, neg_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    e.join(broadcast(probes), col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"),
        fcosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("neg_id"))))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy(col("q_id"), col("sim").desc, col("neg_id"))
  }

  /** Image tiling index pass (r12c) — the vision twin of
    * `multimodal_frame_sample` / `multimodal_chunk_audio`, completing
    * the three-modality pre-decode index family: a 512×512 tile grid
    * (stride 512, partial edge tiles clamped, the ViT-style patch
    * layout) over synthesized per-item dimensions — pure integer
    * arithmetic computed BEFORE any codec touches bytes, so the
    * decode stub receives exact pixel rectangles. Row-local double
    * explode; output volume = Σ ceil(w/512)·ceil(h/512), known from
    * metadata alone. */
  val multimodalImageTiles: QDef = q(
    "multimodal_image_tiles",
    """WITH meta AS (
      |  SELECT doc_id, 640 + (doc_id % 5) * 160 AS w,
      |    480 + (doc_id % 7) * 120 AS h
      |  FROM documents),
      |m2 AS (
      |  SELECT doc_id, w, h, (w + 511) // 512 AS n_tx, (h + 511) // 512 AS n_ty
      |  FROM meta),
      |tiles AS (
      |  SELECT doc_id, w, h, tx.i AS tile_x, ty.i AS tile_y
      |  FROM m2 CROSS JOIN range(0, 8) tx(i) CROSS JOIN range(0, 8) ty(i)
      |  WHERE tx.i < n_tx AND ty.i < n_ty)
      |SELECT doc_id, tile_x, tile_y,
      |  tile_x * 512 AS x0, tile_y * 512 AS y0,
      |  least(tile_x * 512 + 512, w) AS x1,
      |  least(tile_y * 512 + 512, h) AS y1,
      |  (least(tile_x * 512 + 512, w) - tile_x * 512)
      |    * (least(tile_y * 512 + 512, h) - tile_y * 512) AS n_px
      |FROM tiles
      |ORDER BY doc_id, tile_y, tile_x""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(640) + (col("doc_id") % 5) * 160).as("w"),
        (lit(480) + (col("doc_id") % 7) * 120).as("h"))
      .withColumn("n_tx", expr("(w + 511) div 512"))
      .withColumn("n_ty", expr("(h + 511) div 512"))
      .select(col("doc_id"), col("w"), col("h"), col("n_ty"),
        explode(expr("sequence(0L, n_tx - 1)")).as("tile_x"))
      .select(col("doc_id"), col("w"), col("h"), col("tile_x"),
        explode(expr("sequence(0L, n_ty - 1)")).as("tile_y"))
      .select(col("doc_id"), col("tile_x"), col("tile_y"),
        (col("tile_x") * 512).as("x0"), (col("tile_y") * 512).as("y0"),
        least(col("tile_x") * 512 + 512, col("w")).as("x1"),
        least(col("tile_y") * 512 + 512, col("h")).as("y1"))
      .withColumn("n_px", (col("x1") - col("x0")) * (col("y1") - col("y0")))
      .orderBy(col("doc_id"), col("tile_y"), col("tile_x"))
  }

  /** Per-source keyframe budget allocation (r13) — the multimodal
    * twin of `sample_neyman_allocation`: each SOURCE gets a 1000-
    * keyframe extraction budget, split across its documents by
    * largest-remainder apportionment proportional to synthesized
    * duration (n_chars·25 ms — the `multimodal_chunk_audio` metadata
    * convention), so every downstream decode job knows its exact
    * frame count BEFORE touching bytes. Pure BIGINT: floor share +
    * the (budget − Σfloor) biggest remainders, ties by doc_id. The
    * remainder rank is a SOURCE-partitioned window (never global);
    * at extreme docs-per-source the same answer comes from the
    * shared bucketed prefix machinery the global-rank keys use. */
  val multimodalKeyframeBudget: QDef = q(
    "multimodal_keyframe_budget",
    """WITH m AS (
      |  SELECT doc_id, source, n_chars * 25 AS duration_ms FROM documents),
      |w AS (
      |  SELECT source, CAST(SUM(duration_ms) AS BIGINT) AS wtot
      |  FROM m GROUP BY source),
      |b0 AS (
      |  SELECT m.doc_id, m.source, m.duration_ms,
      |    CAST((1000 * m.duration_ms) // w.wtot AS BIGINT) AS base,
      |    CAST((1000 * m.duration_ms) % w.wtot AS BIGINT) AS rem
      |  FROM m JOIN w ON m.source = w.source),
      |t AS (
      |  SELECT source, CAST(SUM(base) AS BIGINT) AS base_sum
      |  FROM b0 GROUP BY source),
      |b AS (
      |  SELECT b0.doc_id, b0.source, b0.duration_ms, b0.base, b0.rem,
      |    CAST(1000 - t.base_sum AS BIGINT) AS extra
      |  FROM b0 JOIN t ON b0.source = t.source),
      |r AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY rem DESC, doc_id) AS BIGINT) AS rnk
      |  FROM b)
      |SELECT b.doc_id, b.source, b.duration_ms, b.base,
      |  CAST(b.base + CASE WHEN r.rnk <= b.extra THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_frames
      |FROM b JOIN r ON b.doc_id = r.doc_id
      |ORDER BY b.doc_id""") { (s, d) =>
    val m = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), (col("n_chars") * 25).as("duration_ms"))
    val t = m.groupBy(col("source").as("t_source"))
      .agg(sum(col("duration_ms")).as("wtot"))
    val withBase = m.join(broadcast(t), col("source") === col("t_source"))
      .select(col("doc_id"), col("source"), col("duration_ms"), col("wtot"),
        expr("CAST((1000 * duration_ms) div wtot AS BIGINT)").as("base"),
        expr("CAST((1000 * duration_ms) % wtot AS BIGINT)").as("rem"))
    val baseSum = withBase.groupBy(col("source").as("b_source"))
      .agg(sum(col("base")).as("base_sum"))
    val b = withBase.join(broadcast(baseSum), col("source") === col("b_source"))
      .withColumn("extra", lit(1000L) - col("base_sum"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("rem").desc, col("doc_id"))
    b.withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("doc_id"), col("source"), col("duration_ms"), col("base"),
        (col("base") + when(col("rnk") <= col("extra"), 1L).otherwise(0L))
          .as("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** Audio↔video alignment index (r14b) — the multimodal join the
    * frame/audio index passes exist to feed: every 4-second-stride
    * caption segment is aligned to the latest SAMPLED keyframe at or
    * before its start (the as-of-backward join of AV pipelines),
    * with the sync gap in ms. Both sides derive from the SAME
    * synthesized per-doc video metadata (`multimodal_frame_sample`'s
    * duration/fps formulas), so the alignment is exact integer
    * arithmetic known before any codec runs. Spark shape: the ≤8
    * keyframes fold into a sorted per-doc array (one doc-keyed agg),
    * segments explode row-locally, and the as-of resolves as a
    * row-local array_max(filter(...)) — ONE join, no window, no
    * re-aggregation; at 100 TB this parallelizes with the media
    * files (keyframe arrays are bounded at k=8 by construction).
    * Keyframe 0 sits at ts 0, so every segment aligns (inner
    * semantics safe). */
  val multimodalAvAlign: QDef = q(
    "multimodal_av_align",
    """WITH meta AS (
      |  SELECT doc_id, n_chars * 40 AS duration_ms,
      |    24 + (doc_id % 3) * 6 AS fps
      |  FROM documents),
      |m2 AS (SELECT doc_id, fps, duration_ms,
      |  duration_ms * fps // 1000 AS n_frames FROM meta),
      |m3 AS (SELECT doc_id, fps, duration_ms, n_frames,
      |  least(8, n_frames) AS n_samples FROM m2 WHERE n_frames > 0),
      |frames AS (
      |  SELECT doc_id, duration_ms,
      |    (CASE WHEN n_samples > 1 THEN i * (n_frames - 1) // (n_samples - 1)
      |          ELSE 0 END) * 1000 // fps AS kf_ts_ms
      |  FROM m3 CROSS JOIN range(0, 8) r(i) WHERE i < n_samples),
      |segs AS (
      |  SELECT doc_id, unnest(range(0, (duration_ms + 3999) // 4000)) AS seg_no
      |  FROM m3),
      |s2 AS (SELECT doc_id, seg_no, seg_no * 4000 AS seg_start_ms FROM segs)
      |SELECT s.doc_id, s.seg_no, s.seg_start_ms,
      |  MAX(f.kf_ts_ms) AS kf_ts_ms,
      |  s.seg_start_ms - MAX(f.kf_ts_ms) AS sync_gap_ms
      |FROM s2 s JOIN frames f
      |  ON f.doc_id = s.doc_id AND f.kf_ts_ms <= s.seg_start_ms
      |GROUP BY s.doc_id, s.seg_no, s.seg_start_ms
      |ORDER BY s.doc_id, s.seg_no""") { (s, d) =>
    val m3 = Tables.documents(s, d)
      .select(col("doc_id"), (col("n_chars") * 40).as("duration_ms"),
        (lit(24) + (col("doc_id") % 3) * 6).as("fps"))
      .withColumn("n_frames", expr("duration_ms * fps div 1000"))
      .filter(col("n_frames") > 0)
      .withColumn("n_samples", least(lit(8L), col("n_frames")))
    val frames = m3
      .select(col("doc_id"), col("duration_ms"), col("fps"),
        col("n_frames"), col("n_samples"),
        explode(expr("sequence(0L, n_samples - 1)")).as("i"))
      .select(col("doc_id"), col("duration_ms"),
        (when(col("n_samples") > 1,
          expr("i * (n_frames - 1) div (n_samples - 1)")).otherwise(lit(0L))
          * 1000).as("t0"), col("fps"))
      .select(col("doc_id"), col("duration_ms"),
        expr("t0 div fps").as("kf_ts_ms"))
    val fArr = frames.groupBy(col("doc_id"), col("duration_ms"))
      .agg(sort_array(collect_list(col("kf_ts_ms"))).as("fa"))
    fArr
      .select(col("doc_id"), col("fa"),
        explode(expr("sequence(0L, (duration_ms + 3999) div 4000 - 1)"))
          .as("seg_no"))
      .select(col("doc_id"), col("seg_no"),
        (col("seg_no") * 4000).as("seg_start_ms"), col("fa"))
      .select(col("doc_id"), col("seg_no"), col("seg_start_ms"),
        expr("array_max(filter(fa, f -> f <= seg_start_ms))").as("kf_ts_ms"))
      .withColumn("sync_gap_ms", col("seg_start_ms") - col("kf_ts_ms"))
      .orderBy(col("doc_id"), col("seg_no"))
  }

  /** Multimodal pyramid plan (r15c) — the pre-decode resolution
    * ladder an image-ingest pipeline materializes BEFORE touching
    * pixels: for each image's (w, h) metadata (the
    * `multimodal_image_tiles` synthetic meta), how many ceil-halvings
    * until max(w, h) ≤ 64, and every level's exact dimensions and
    * pixel count. The level count is EXACT dyadic arithmetic, no
    * transcendentals: ceil-halving composes (ceil(ceil(a/2)/2) =
    * ceil(a/4)), so n_levels = len(bin((max-1) div 64)) and level-l
    * dims are ceil(w / 2^l) via shift-left — spellable identically in
    * both engines. Row-local throughout: one explode of ≤6 levels per
    * image, no shuffle until the presentation sort. */
  val multimodalPyramidPlan: QDef = q(
    "multimodal_pyramid_plan",
    """WITH meta AS (
      |  SELECT doc_id,
      |    CAST(640 + (doc_id % 5) * 160 AS BIGINT) AS w,
      |    CAST(480 + (doc_id % 7) * 120 AS BIGINT) AS h
      |  FROM documents),
      |m2 AS (
      |  SELECT doc_id, w, h,
      |    CASE WHEN greatest(w, h) <= 64 THEN 0
      |      ELSE length(bin((greatest(w, h) - 1) // 64)) END AS n_levels
      |  FROM meta),
      |lv AS (
      |  SELECT doc_id, w, h, n_levels, t.l AS level
      |  FROM m2, UNNEST(range(0, n_levels + 1)) AS t(l))
      |SELECT doc_id, CAST(level AS BIGINT) AS level,
      |  CAST(n_levels AS BIGINT) AS n_levels,
      |  (w + (1 << level) - 1) // (1 << level) AS lw,
      |  (h + (1 << level) - 1) // (1 << level) AS lh,
      |  ((w + (1 << level) - 1) // (1 << level))
      |    * ((h + (1 << level) - 1) // (1 << level)) AS px
      |FROM lv ORDER BY doc_id, level""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(640L) + (col("doc_id") % 5) * 160).as("w"),
        (lit(480L) + (col("doc_id") % 7) * 120).as("h"))
      .withColumn("n_levels",
        expr("CASE WHEN greatest(w, h) <= 64 THEN 0L" +
          " ELSE CAST(length(bin((greatest(w, h) - 1) div 64)) AS BIGINT)" +
          " END"))
      .select(col("doc_id"), col("w"), col("h"), col("n_levels"),
        explode(expr("sequence(0L, n_levels)")).as("level"))
      .select(col("doc_id"), col("level"), col("n_levels"),
        expr("(w + shiftleft(CAST(1 AS BIGINT), CAST(level AS INT)) - 1)" +
          " div shiftleft(CAST(1 AS BIGINT), CAST(level AS INT))").as("lw"),
        expr("(h + shiftleft(CAST(1 AS BIGINT), CAST(level AS INT)) - 1)" +
          " div shiftleft(CAST(1 AS BIGINT), CAST(level AS INT))").as("lh"))
      .withColumn("px", col("lw") * col("lh"))
      .select(col("doc_id"), col("level"), col("n_levels"), col("lw"),
        col("lh"), col("px"))
      .orderBy(col("doc_id"), col("level"))
  }

  /** Aspect-ratio bucketing plan (r18b) — the image-training prep
    * step every multimodal loader runs (group images into a fixed
    * set of aspect buckets so batches share a shape): deterministic
    * md5-synthetic dimensions (w, h = 128·(1 + md5%12), the
    * pre-decode-metadata convention of the multimodal family), five
    * canonical buckets {1:1, 4:3, 3:4, 16:9, 9:16}, and EXACT
    * nearest-ratio assignment — |w/h − n/d| comparisons cleared of
    * BOTH denominators (h cancels across candidates; ×(144/d)
    * clears d), argmin by (score, idx) via a doc-partitioned 5-row
    * rank window. Graded per bucket: image count, pixel mass, and
    * mean residual aspect error in floor-micro. At 100 TB the
    * explode side is a broadcast 5-row table and the argmin is a
    * doc-keyed window over 5-row partitions. */
  val multimodalAspectBuckets: QDef = q(
    "multimodal_aspect_buckets",
    """WITH img AS (
      |  SELECT doc_id,
      |    128 * (1 + ('0x' || substr(md5('w:' || CAST(doc_id AS VARCHAR)),
      |      1, 2))::BIGINT % 12) AS w,
      |    128 * (1 + ('0x' || substr(md5('h:' || CAST(doc_id AS VARCHAR)),
      |      1, 2))::BIGINT % 12) AS h
      |  FROM documents),
      |bk AS (SELECT * FROM (VALUES (0, '1:1', 1, 1), (1, '4:3', 4, 3),
      |  (2, '3:4', 3, 4), (3, '16:9', 16, 9), (4, '9:16', 9, 16))
      |  AS t(idx, nm, bn, bd)),
      |sc AS (
      |  SELECT img.doc_id, img.w, img.h, bk.idx, bk.nm,
      |    abs(img.w * bk.bd - img.h * bk.bn) * (144 // bk.bd) AS score,
      |    abs(img.w * bk.bd - img.h * bk.bn) * 1000000
      |      // (img.h * bk.bd) AS err_micro
      |  FROM img CROSS JOIN bk),
      |pick AS (
      |  SELECT doc_id, w, h, idx, nm, err_micro,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score, idx)
      |      AS rn
      |  FROM sc)
      |SELECT CAST(idx AS BIGINT) AS bucket_idx, nm AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_images,
      |  CAST(SUM(w * h) AS BIGINT) AS total_pixels,
      |  CAST(SUM(err_micro) // COUNT(*) AS BIGINT) AS mean_err_micro
      |FROM pick WHERE rn = 1 GROUP BY idx, nm
      |ORDER BY bucket_idx""") { (s, d) =>
    import s.implicits._
    val img = Tables.documents(s, d).select(col("doc_id"),
      (lit(128L) * (lit(1L) + conv(substring(md5(concat(lit("w:"),
        col("doc_id").cast(StringType))), 1, 2), 16, 10)
        .cast(LongType) % 12)).as("w"),
      (lit(128L) * (lit(1L) + conv(substring(md5(concat(lit("h:"),
        col("doc_id").cast(StringType))), 1, 2), 16, 10)
        .cast(LongType) % 12)).as("h"))
    val bk = Seq((0L, "1:1", 1L, 1L), (1L, "4:3", 4L, 3L),
      (2L, "3:4", 3L, 4L), (3L, "16:9", 16L, 9L), (4L, "9:16", 9L, 16L))
      .toDF("idx", "nm", "bn", "bd")
    val sc = img.crossJoin(broadcast(bk))
      .select(col("doc_id"), col("w"), col("h"), col("idx"), col("nm"),
        (abs(col("w") * col("bd") - col("h") * col("bn"))
          * expr("144 div bd")).as("score"),
        expr("abs(w * bd - h * bn) * 1000000 div (h * bd)")
          .as("err_micro"))
    val wPick = Window.partitionBy(col("doc_id"))
      .orderBy(col("score"), col("idx"))
    sc.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .groupBy(col("idx").as("bucket_idx"), col("nm").as("bucket"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("w") * col("h")).as("total_pixels"),
        expr("CAST(SUM(err_micro) div COUNT(*) AS BIGINT)")
          .as("mean_err_micro"))
      .orderBy(col("bucket_idx"))
  }

  val all: Seq[QDef] = Seq(
    dedupExactDocs, dedupNearJaccard, simSearchTopk, knnPerLabel,
    textTokenTf, textTfidfTopterms, textLangProfile, multimodalEnrich,
    multimodalBinaryMeta, multimodalFrameSample, dedupContainment,
    multimodalChunkAudio, simHardNegatives, multimodalImageTiles,
    multimodalKeyframeBudget, multimodalAvAlign, multimodalPyramidPlan,
    multimodalAspectBuckets)
}
