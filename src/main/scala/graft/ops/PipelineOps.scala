package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators beyond dedup/similarity: benchmark
  * decontamination, context-window sequence packing, weighted domain
  * mixing, and repetition scoring — the curation stages that sit
  * between raw crawl and tokenizer in a 100 TB corpus build.
  *
  * Determinism rules as everywhere else: integer arithmetic end to
  * end, one float division at the output edge, md5 for any sampling
  * decision (cross-engine identical, partition-count independent).
  */
object PipelineOps {

  /** Benchmark decontamination: flag corpus docs whose token-3-gram
    * shingle set overlaps a benchmark set (here: the `src0` docs) by
    * ≥ 5%. Shingles are xxhash64-encoded; the benchmark set rides in
    * as ONE broadcast sorted-long array and each corpus doc counts its
    * hits with the codegen'd merge walk (`graft_sorted_intersect_long`)
    * — the corpus side never explodes and never joins, so the whole
    * scan is one map pipeline. A benchmark set is small by nature
    * (MBs of n-grams for real eval suites), so the broadcast always
    * fits; if it ever didn't, the fallback is the explode + semi join
    * on the shingle hash — still zero doc×doc work. */
  val contaminationNgram: QDef = q(
    "contamination_ngram",
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(list_transform(range(3, len(t) + 1),
      |           i -> t[i-2] || ' ' || t[i-1] || ' ' || t[i])) AS shingle
      |  FROM toks),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
      |corp AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles
      |  FROM sh WHERE source <> 'src0' GROUP BY doc_id),
      |hits AS (
      |  SELECT s.doc_id, COUNT(*) AS n_hit
      |  FROM sh s JOIN bench USING (shingle)
      |  WHERE s.source <> 'src0' GROUP BY s.doc_id)
      |SELECT c.doc_id, c.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
      |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / c.n_shingles AS contam_ratio
      |FROM corp c LEFT JOIN hits h USING (doc_id)
      |WHERE CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / c.n_shingles >= 0.05
      |ORDER BY doc_id""") { (s, d) =>
    // Token arrays once per doc; the filter on source pushes to the
    // scan, so each branch only tokenizes its own rows.
    def toks(src: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Tables.documents(s, d)
        .filter(src(col("source")))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
    // Corpus: per-doc sorted distinct shingle-hash array in ONE
    // compiled pass (r7: graft_shingle_hashes replaces the
    // interpreted transform-lambda stack — same values, same sort,
    // same distinct-by-hash semantics; ShingleExpressionsSpec pins
    // the equality against the declarative form).
    def shingled(src: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      toks(src).select(col("doc_id"),
        graft.functions.VectorFunctions.shingleHashes(col("t"), 3).as("sh"))
    // Benchmark set as ONE sorted array row: per-doc distinct hash
    // arrays from the same compiled pass, exploded (Generate over a
    // codegen'd custom expression — not a higher-order lambda), then
    // the cross-document distinct + one collect.
    val bench = toks(_ === "src0")
      .select(explode(
        graft.functions.VectorFunctions.shingleHashes(col("t"), 3)).as("h"))
      .distinct()
      .agg(sort_array(collect_list(col("h"))).as("bench"))
    val inter = graft.functions.VectorFunctions
      .sortedIntersectLong(col("sh"), col("bench"))
    shingled(_ =!= "src0")
      .crossJoin(broadcast(bench))
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"),
        inter.cast(LongType).as("n_hit"))
      .withColumn("contam_ratio",
        col("n_hit").cast(DoubleType) / col("n_shingles"))
      .filter(col("contam_ratio") >= 0.05)
      .orderBy(col("doc_id"))
  }

  /** Context-window sequence packing, split-allowed: docs are laid out
    * end-to-end per source in doc_id order and cut into 512-token
    * windows; a doc's window is its exclusive token prefix-sum div
    * 512. One partitioned window (PARTITION BY source) — the prefix
    * is sequential only WITHIN a source, so packing parallelizes
    * across sources; at 100 TB you'd sub-shard the partition key
    * (source, doc_id div N) the same way the offsets here compose:
    * pure integer cumsums. */
  val packSequences: QDef = q(
    "pack_sequences",
    """SELECT source, doc_id, n_tokens,
      |  CAST(off AS BIGINT) AS token_offset,
      |  CAST(off // 512 AS BIGINT) AS seq_no
      |FROM (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
      |    COALESCE(SUM(len(string_split(text, ' '))) OVER (
      |      PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM documents)
      |ORDER BY source, doc_id""") { (s, d) =>
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("off").as("token_offset"), expr("off div 512").as("seq_no"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Weighted domain mixing: re-weight the corpus per source with
    * deterministic per-mille keep thresholds (src0 keeps all, the
    * long tail keeps 10%). The mixing config rides in as a broadcast
    * dim table — the pipeline-config-as-data shape — and the decision
    * is an md5 bucket of doc_id: identical on any engine and any
    * partitioning, so the mixed corpus is reproducible build-to-build.
    * Pure broadcast-join + filter over the scan — embarrassingly
    * parallel at any scale. */
  val mixDomainWeighted: QDef = q(
    "mix_domain_weighted",
    """SELECT doc_id, source, lang
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 1000
      |  < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 750
      |    WHEN 'src2' THEN 500 WHEN 'src3' THEN 250 ELSE 100 END
      |ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    val weights = Seq(("src0", 1000), ("src1", 750), ("src2", 500), ("src3", 250))
      .toDF("source", "keep_permille")
    Tables.documents(s, d)
      .join(broadcast(weights), Seq("source"), "left")
      .withColumn("keep_permille", coalesce(col("keep_permille"), lit(100)))
      .filter(conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
        .cast(IntegerType) % 1000 < col("keep_permille"))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc repetition metrics (the Gopher-style quality signals):
    * distinct-token fraction and top-token share. Wordcount shape —
    * explode + two partial-aggregating groupBys — which is exactly
    * the formulation that scales: both shuffles carry map-side
    * combined (doc, tok) partials, never raw occurrences. */
  val textRepetition: QDef = q(
    "text_repetition",
    """WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
      |  MAX(tf) AS top_tf,
      |  CAST(MAX(tf) AS DOUBLE) / SUM(tf) AS top_share,
      |  CAST(SUM(tf) - COUNT(*) AS DOUBLE) / SUM(tf) AS rep_ratio
      |FROM tf GROUP BY doc_id
      |ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_tf"),
        (col("top_tf").cast(DoubleType) / col("n_tokens")).as("top_share"),
        ((col("n_tokens") - col("n_distinct")).cast(DoubleType) / col("n_tokens"))
          .as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction by regex: mask emails and long digit runs, and count
    * what was masked (the audit trail a compliance pass needs). The
    * fixture corpus has no raw PII by construction, so the query first
    * derives a deterministic PII-bearing contact line from customer
    * fields — the graded op is the scrub itself. Patterns stay in the
    * common subset of Java regex (Spark) and RE2 (DuckDB): plain
    * character classes and bounded repetition, no lookaround. Pure
    * map-side string work — zero shuffles before the presentation
    * sort, so at 100 TB this runs at scan speed. */
  val textPiiScrub: QDef = {
    val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val idPat = "[0-9]{6,}"
    q(
      "text_pii_scrub",
      s"""WITH raw AS (
         |  SELECT c_custkey,
         |    c_name || ' <' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g'))
         |      || '@example.org> ref ' || CAST(CAST(c_custkey AS BIGINT) * 7919 AS VARCHAR) AS contact
         |  FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(contact, '$emailPat', '[EMAIL]', 'g'),
         |                 '$idPat', '[ID]', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(contact, '$emailPat')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(contact, '$idPat')) AS BIGINT) AS n_ids
         |FROM raw
         |ORDER BY c_custkey""") { (s, d) =>
      Tables.customer(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" <"),
            lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
            lit("@example.org> ref "),
            // 64-bit from the start: 32-bit c_custkey * 7919 overflows
            // for custkey > ~271k (SF ≳ 2) while DuckDB promotes.
            (col("c_custkey").cast(LongType) * 7919L).cast(StringType)).as("contact"))
        .select(col("c_custkey"),
          regexp_replace(regexp_replace(col("contact"), emailPat, "[EMAIL]"),
            idPat, "[ID]").as("scrubbed"),
          regexp_count(col("contact"), lit(emailPat)).cast(LongType).as("n_emails"),
          regexp_count(col("contact"), lit(idPat)).cast(LongType).as("n_ids"))
        .orderBy(col("c_custkey"))
    }
  }

  /** int8 embedding quantization: per-vector max-abs scale, elements
    * mapped to round(x·127/scale) — the standard 4× storage cut before
    * an ANN index build. Everything is elementwise (zero shuffles), and
    * the rounding is floor(y + 0.5) rather than round(): both engines
    * floor identically, while round() half-even vs half-away ties
    * could diverge. max_err re-derives the dequantized delta per
    * element — the quality audit that ships with a quantization job. */
  val embedQuantizeInt8: QDef = q(
    "embed_quantize_int8",
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, label, v,
      |    list_max(list_transform(v, x -> abs(x))) AS scale
      |  FROM e),
      |q1 AS (
      |  SELECT vec_id, label, v, scale,
      |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
      |      ELSE list_transform(v, x -> CAST(floor((x * 127.0) / scale + 0.5) AS INT))
      |    END AS q
      |  FROM sc)
      |SELECT vec_id, label, scale,
      |  array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), '|') AS q_packed,
      |  CASE WHEN scale = 0 THEN 0.0
      |    ELSE list_max(list_transform(range(1, len(v) + 1),
      |      i -> abs(v[i] - (q[i] * scale) / 127.0)))
      |  END AS max_err
      |FROM q1
      |ORDER BY vec_id""") { (s, d) =>
    // D12 flat-output rule: the driver's pandas comparer cannot
    // sort/hash list cells, so the quantized vector ships as a
    // '|'-joined string; scale/max_err stay scalars.
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q",
        when(col("scale") === 0.0, expr("transform(v, x -> 0)"))
          .otherwise(expr(
            "transform(v, x -> cast(floor((x * 127.0) / scale + 0.5) as int))")))
      .withColumn("max_err",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(expr(
            "array_max(zip_with(v, q, (a, b) -> abs(a - (b * scale) / 127.0)))")))
      .select(col("vec_id"), col("label"), col("scale"),
        expr("array_join(transform(q, x -> cast(x as string)), '|')").as("q_packed"),
        col("max_err"))
      .orderBy(col("vec_id"))
  }

  /** The curation funnel — the whole corpus-build pipeline composed
    * into ONE declarative plan: quality gate (TTR + length) → exact
    * dedup (min-id survivor) → per-source token budget, graded as the
    * per-source stage counts (the attrition report every data-curation
    * run publishes). Composition is the point: Catalyst fuses the
    * quality gate into the scan, the dedup is one text-hash shuffle,
    * the budget one per-source window — the same stages any single
    * operator pays, just pipelined, which is exactly how the engine is
    * meant to be USED at 100 TB (no materialization between stages). */
  val curationFunnel: QDef = q(
    "curation_funnel",
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nuniq
      |  FROM documents),
      |pass_q AS (
      |  SELECT * FROM t
      |  WHERE ntok >= 10 AND CAST(nuniq AS DOUBLE) / ntok >= 0.3),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM pass_q GROUP BY text),
      |kept AS (SELECT p.* FROM pass_q p JOIN surv USING (doc_id)),
      |fin AS (
      |  SELECT * FROM (
      |    SELECT source, doc_id, ntok,
      |      SUM(ntok) OVER (PARTITION BY source
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |        ROWS UNBOUNDED PRECEDING) AS cum
      |    FROM kept)
      |  WHERE cum <= 5000),
      |raw_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw FROM t GROUP BY source),
      |q_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality FROM pass_q GROUP BY source),
      |d_c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dedup FROM kept GROUP BY source),
      |f_c AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final,
      |    CAST(MAX(cum) AS BIGINT) AS tokens_final
      |  FROM fin GROUP BY source)
      |SELECT raw_c.source AS source, n_raw,
      |  COALESCE(n_quality, 0) AS n_quality,
      |  COALESCE(n_dedup, 0) AS n_dedup,
      |  COALESCE(n_final, 0) AS n_final,
      |  COALESCE(tokens_final, 0) AS tokens_final
      |FROM raw_c
      |LEFT JOIN q_c USING (source)
      |LEFT JOIN d_c USING (source)
      |LEFT JOIN f_c USING (source)
      |ORDER BY source""") { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("ntok"),
        size(array_distinct(split(col("text"), " "))).cast(LongType).as("nuniq"))
    val passQ = t.filter(col("ntok") >= 10 &&
      col("nuniq").cast(DoubleType) / col("ntok") >= 0.3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val surv = passQ.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = passQ.join(surv, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fin = kept.select(col("source"), col("doc_id"), col("ntok"),
      sum(col("ntok")).over(w).as("cum"))
      .filter(col("cum") <= 5000)
    val rawC = t.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val qC = passQ.groupBy(col("source")).agg(count(lit(1)).as("n_quality"))
    val dC = kept.groupBy(col("source")).agg(count(lit(1)).as("n_dedup"))
    val fC = fin.groupBy(col("source"))
      .agg(count(lit(1)).as("n_final"), max(col("cum")).as("tokens_final"))
    rawC
      .join(broadcast(qC), Seq("source"), "left")
      .join(broadcast(dC), Seq("source"), "left")
      .join(broadcast(fC), Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
      .orderBy(col("source"))
  }

  /** Prefix-duplicate clusters (r11c) — the truncation-duplicate
    * detector: web-crawl corpora carry documents that are identical
    * for the first N characters and then diverge (paywall cuts,
    * pagination, feed truncation), which exact whole-text dedup
    * (`dedup_exact_docs`) misses. Group by md5 of the 64-char
    * prefix, keep only real clusters (n > 1). The shuffle carries a
    * 32-hex digest + counters per row, never document bodies — the
    * `profile_documents` digest discipline. */
  val dedupPrefixCluster: QDef = q(
    "dedup_prefix_cluster",
    """WITH p AS (
      |  SELECT doc_id, n_chars, substr(text, 1, 64) AS prefix FROM documents)
      |SELECT md5(prefix) AS prefix_md5, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_doc,
      |  CAST(max(doc_id) AS BIGINT) AS max_doc,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM p GROUP BY md5(prefix) HAVING count(*) > 1
      |ORDER BY prefix_md5""") { (s, d) =>
    Tables.documents(s, d)
      .select(md5(substring(col("text"), 1, 64)).as("prefix_md5"),
        col("doc_id"), col("n_chars"))
      .groupBy(col("prefix_md5"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("n_chars")).as("total_chars"))
      .filter(col("n_docs") > 1)
      .orderBy(col("prefix_md5"))
  }

  /** Temperature-scaled resampling (r11c) — `mix_domain_weighted`
    * applies STATIC permille rates; this computes them FROM the data
    * with the α=0.5 temperature rule multilingual-corpus training
    * uses (keep-rate ∝ 1/√n_class, normalized so the rarest class
    * keeps everything): rare languages are preserved, the dominant
    * one is downsampled toward balance. sqrt and the one double
    * division are IEEE correctly-rounded in both engines, and the
    * result is floored to integer permille BEFORE the md5-keyed
    * membership test, so selection is deterministic on any
    * partitioning. The rate table is O(n_classes) rows — broadcast
    * at any corpus size; membership is a row-local filter. */
  val mixTemperatureResample: QDef = q(
    "mix_temperature_resample",
    """WITH counts AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
      |mn AS (SELECT min(n) AS n_min FROM counts),
      |rates AS (
      |  SELECT lang, CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)
      |    AS keep_permille
      |  FROM counts, mn)
      |SELECT d.doc_id, d.lang, r.keep_permille
      |FROM documents d JOIN rates r ON d.lang = r.lang
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT % 1000
      |  < r.keep_permille
      |ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val rates = counts.crossJoin(counts.agg(min(col("n")).as("n_min")))
      .select(col("lang"),
        floor(lit(1000) * sqrt(col("n_min").cast(DoubleType) / col("n").cast(DoubleType)))
          .cast(LongType).as("keep_permille"))
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .filter(conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
        .cast(IntegerType) % 1000 < col("keep_permille"))
      .select(col("doc_id"), col("lang"), col("keep_permille"))
      .orderBy(col("doc_id"))
  }

  /** Epoch upsampling (r12) — the other half of training-mix control:
    * `mix_temperature_resample` DOWN-weights abundant classes by
    * dropping docs; this UP-weights rare ones by repeating them whole
    * epochs (the standard practice for under-represented languages —
    * repeat factor = majority count div class count, capped at 4 so
    * no class over-repeats). Factors are DATA-DERIVED: one per-lang
    * count aggregate + a broadcast one-row max, then the repeat is a
    * row-local `explode(sequence(1, rep))` — output volume is
    * Σ rep(lang)·n(lang), known before the explode runs, and nothing
    * shuffles except the final lang×epoch report (≤ 5×4 groups). */
  val mixUpsampleEpochs: QDef = q(
    "mix_upsample_epochs",
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
      |           FROM documents GROUP BY lang),
      |m AS (SELECT max(cnt) AS mx FROM c),
      |f AS (SELECT lang, LEAST(4, mx // cnt) AS rep FROM c, m),
      |e AS (
      |  SELECT d.lang, t.epoch, d.n_chars
      |  FROM documents d
      |  JOIN f ON d.lang = f.lang,
      |  UNNEST(range(1, f.rep + 1)) AS t(epoch))
      |SELECT lang, CAST(epoch AS BIGINT) AS epoch,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM e GROUP BY lang, epoch
      |ORDER BY lang, epoch""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val m = c.agg(max(col("cnt")).as("mx"))
    val f = c.join(broadcast(m), lit(true), "left")
      .select(col("lang"), least(lit(4L), expr("mx div cnt")).as("rep"))
    docs.join(broadcast(f), Seq("lang"))
      .select(col("lang"), col("n_chars"),
        explode(sequence(lit(1L), col("rep"))).as("epoch"))
      .groupBy(col("lang"), col("epoch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("epoch"))
  }

  /** Embedding-norm audit (r12) — the pre-ingest sanity check every
    * vector pipeline runs: are the embeddings unit-normalized, and
    * which labels drifted? Norms are computed as EXACT integers —
    * components milli-quantize (floor(x·1000 + 0.5), the
    * `embed_quantize_int8` convention) and norm² sums row-locally as
    * Σ milli² (a unit vector ⇒ ≈ 10⁶) — so min/max/counts hash-match
    * bit-for-bit with no sqrt anywhere. The per-vector pass is a
    * row-local fold (never a dimension explode + shuffle); the label
    * report aggregates |labels| rows. */
  val embedNormAudit: QDef = q(
    "embed_norm_audit",
    """WITH v AS (
      |  SELECT label,
      |    CAST(list_sum(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |         * CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)))
      |      AS BIGINT) AS norm2
      |  FROM embeddings)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(min(norm2) AS BIGINT) AS min_norm2,
      |  CAST(max(norm2) AS BIGINT) AS max_norm2,
      |  CAST(SUM(norm2) AS DOUBLE) / count(*) AS avg_norm2,
      |  CAST(SUM(CASE WHEN abs(norm2 - 1000000) > 100000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unnormalized
      |FROM v GROUP BY label ORDER BY label""") { (s, d) =>
    val milli = "cast(floor(cast(x as double) * 1000 + 0.5) as bigint)"
    Tables.embeddings(s, d)
      .select(col("label"),
        expr(s"aggregate(embedding, 0L, (acc, x) -> acc + $milli * $milli)")
          .as("norm2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"),
        (sum(col("norm2")).cast(DoubleType) / count(lit(1))).as("avg_norm2"),
        count_if(abs(col("norm2") - 1000000) > 100000).as("n_unnormalized"))
      .orderBy(col("label"))
  }

  /** Priority-ordered canonical selection (r12) — when a duplicate
    * cluster spans SOURCES, production dedup keeps the copy from the
    * most trusted source, not an arbitrary or min-id one
    * (`dedup_prefix_cluster` is the id-rule baseline over the same
    * truncation-dup clusters; the RULE is what this key adds).
    * Priority is the numeric source suffix (src0 most trusted); the
    * survivor is the argmin of (priority, doc_id) encoded as ONE
    * composite BIGINT (priority·10¹² + doc_id) so a plain MIN
    * aggregate — exact, partition-count invariant, no min_by tie
    * ambiguity — picks it, then integer decomposition recovers id
    * and priority. Clusters key on md5 of the 64-char prefix;
    * bodies never shuffle. Only multi-copy clusters are reported
    * (the dedup decision log). */
  val dedupSourcePriority: QDef = q(
    "dedup_source_priority",
    """WITH d AS (
      |  SELECT doc_id, md5(substr(text, 1, 64)) AS h,
      |    CAST(substr(source, 4) AS BIGINT) * 1000000000000 + doc_id AS pk
      |  FROM documents),
      |g AS (
      |  SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
      |    CAST(min(pk) AS BIGINT) AS min_pk
      |  FROM d GROUP BY h
      |  HAVING count(*) >= 2)
      |SELECT h, n_copies,
      |  min_pk % 1000000000000 AS survivor_id,
      |  min_pk // 1000000000000 AS survivor_priority
      |FROM g
      |ORDER BY h""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("h"),
        (substring(col("source"), 4, 10).cast(LongType) * 1000000000000L
          + col("doc_id")).as("pk"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("pk")).as("min_pk"))
      .filter(col("n_copies") >= 2)
      .select(col("h"), col("n_copies"),
        expr("min_pk % 1000000000000").as("survivor_id"),
        expr("min_pk div 1000000000000").as("survivor_priority"))
      .orderBy(col("h"))
  }

  /** Hashing-trick collision census (r12c) — the audit run before
    * committing a feature-hashing width: every corpus term is hashed
    * into 16 buckets (md5-prefix mod, the house deterministic hash)
    * and each bucket reports how many DISTINCT terms collided into it
    * and the occurrence mass they carry — the dispersion/collision
    * profile that decides whether the width loses signal. All 16
    * buckets are scaffolded (a LEFT JOIN from the literal bucket
    * range, the drift_value_histogram discipline) so empty buckets
    * survive. Scale shape: term-level agg (term-cardinality shuffle,
    * never occurrences — `graft_term_counts` row-local build), then
    * a 16-row bucket agg; at any corpus size the shuffles carry
    * (term, count) partials only. */
  val hashFeatureCollisions: QDef = q(
    "hash_feature_collisions",
    """WITH occ AS (
      |  SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok),
      |b AS (
      |  SELECT CAST(('0x' || substr(md5(term), 1, 4))::INT % 16 AS BIGINT)
      |      AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(n) AS BIGINT) AS n_occ
      |  FROM occ GROUP BY 1)
      |SELECT g.bucket, CAST(COALESCE(n_terms, 0) AS BIGINT) AS n_terms,
      |  CAST(COALESCE(n_occ, 0) AS BIGINT) AS n_occ
      |FROM (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS bucket) g
      |LEFT JOIN b ON b.bucket = g.bucket
      |ORDER BY g.bucket""") { (s, d) =>
    val occ = Tables.documents(s, d)
      .select(explode(graft.functions.VectorFunctions.termCounts(
        split(col("text"), " "))).as("tc"))
      .groupBy(col("tc.term").as("term"))
      .agg(sum(col("tc.tf").cast(LongType)).as("n"))
    val b = occ
      .groupBy((conv(substring(md5(col("term")), 1, 4), 16, 10)
        .cast(LongType) % 16).as("bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("n")).as("n_occ"))
    val scaffold = s.range(0, 16).toDF("bucket")
    scaffold.join(broadcast(b), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"))
      .orderBy(col("bucket"))
  }

  /** URL-canonicalization dedup (r12c) — the crawl-frontier collapse
    * every web corpus runs before fetching or near-dup: raw URLs
    * (constructed deterministically with the messes real crawls
    * carry: host case, trailing slash, utm tracking params) normalize
    * to lower(host) + slash-stripped path + the one identifying query
    * param, then group. Grades per-canonical-URL raw-variant and doc
    * counts plus the deterministic min-doc survivor. Canonicalization
    * is ROW-LOCAL string work (parse_url / regexes); the only shuffle
    * groups 16-char-bounded canonical keys — never bodies. */
  val dedupUrlCanonical: QDef = q(
    "dedup_url_canonical",
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.'
      |          ELSE 'https://www.' END)
      |    || 'example.com/docs/' || (doc_id // 8)
      |    || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
      |    || '?' || (CASE WHEN doc_id % 3 = 0 THEN 'utm_source=feed&'
      |               ELSE '' END)
      |    || 'id=' || (doc_id // 8) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1))
      |    || regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1),
      |         '/$', '')
      |    || '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1)
      |      AS canonical_url
      |  FROM u)
      |SELECT canonical_url,
      |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_urls,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS keep_id
      |FROM c GROUP BY canonical_url
      |ORDER BY canonical_url""") { (s, d) =>
    val u = Tables.documents(s, d)
      .select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, "https://WWW.")
          .otherwise("https://www."),
        lit("example.com/docs/"),
        expr("doc_id div 8"),
        when(col("doc_id") % 4 === 1, "/").otherwise(""),
        lit("?"),
        when(col("doc_id") % 3 === 0, "utm_source=feed&").otherwise(""),
        lit("id="), expr("doc_id div 8")).as("url"))
    val c = u.select(col("doc_id"), col("url"), concat(
        lower(parse_url(col("url"), lit("HOST"))),
        regexp_replace(parse_url(col("url"), lit("PATH")), "/$", ""),
        lit("?id="), parse_url(col("url"), lit("QUERY"), lit("id")))
      .as("canonical_url"))
    c.groupBy(col("canonical_url"))
      .agg(countDistinct(col("url")).as("n_raw_urls"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_id"))
      .orderBy(col("canonical_url"))
  }

  /** Curation threshold sweep (r12d): the kept-docs / kept-tokens
    * retention curve over a minimum-length threshold grid — the table
    * a corpus curator reads before fixing a quality cut, answering
    * "what fraction of documents and of token mass survives each
    * candidate floor" in one pass. Plan shape: per-doc token counts
    * are row-local; the 6-row grid broadcast-joins with `tok >= thr`
    * (each doc contributes to every threshold it clears — ≤6× fanout
    * of a 2-column stream, collapsed map-side by the partial agg), and
    * the scaffold LEFT JOIN keeps zero-survivor thresholds visible
    * (the empty-cohort discipline from ADVICE r11). At 100 TB the
    * sweep costs one scan + one ≤6-group agg. */
  val curationThresholdSweep: QDef = q(
    "curation_threshold_sweep",
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS n_toks FROM toks),
      |grid AS (SELECT unnest([0, 16, 32, 64, 128, 256]) AS thr),
      |kept0 AS (
      |  SELECT thr, CAST(COUNT(*) AS BIGINT) AS docs_kept,
      |    CAST(SUM(tok) AS BIGINT) AS toks_kept
      |  FROM toks JOIN grid ON tok >= thr GROUP BY thr),
      |kept AS (
      |  SELECT g.thr, CAST(COALESCE(k.docs_kept, 0) AS BIGINT) AS docs_kept,
      |    CAST(COALESCE(k.toks_kept, 0) AS BIGINT) AS toks_kept
      |  FROM grid g LEFT JOIN kept0 k ON k.thr = g.thr)
      |SELECT thr, docs_kept, toks_kept,
      |  CAST(floor(CAST(docs_kept AS DOUBLE) * 1000000
      |    / CAST(n_docs AS DOUBLE) + 0.5) AS BIGINT) AS docs_ppm,
      |  CAST(floor(CAST(toks_kept AS DOUBLE) * 1000000
      |    / CAST(n_toks AS DOUBLE) + 0.5) AS BIGINT) AS toks_ppm
      |FROM kept CROSS JOIN tot ORDER BY thr""") { (s, d) =>
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("tok"))
    val tot = toks.agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_toks"))
    val grid = s.range(1)
      .select(explode(expr("array(0, 16, 32, 64, 128, 256)")).as("thr"))
    val kept0 = toks.join(broadcast(grid), col("tok") >= col("thr"))
      .groupBy(col("thr"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("tok")).as("toks_kept"))
    val kept = grid.join(kept0.withColumnRenamed("thr", "kthr"),
        col("kthr") === col("thr"), "left")
      .select(col("thr"), coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("toks_kept"), lit(0L)).as("toks_kept"))
    kept.crossJoin(broadcast(tot))
      .select(col("thr"), col("docs_kept"), col("toks_kept"),
        floor(col("docs_kept").cast(DoubleType) * 1000000
          / col("n_docs").cast(DoubleType) + 0.5).cast(LongType).as("docs_ppm"),
        floor(col("toks_kept").cast(DoubleType) * 1000000
          / col("n_toks").cast(DoubleType) + 0.5).cast(LongType).as("toks_ppm"))
      .orderBy(col("thr"))
  }

  /** Curation rule-overlap matrix (r13c) — which quality rules
    * actually fire TOGETHER: for the four standard filters (too-short,
    * low-diversity, exact-duplicate, oversize), the doc counts failing
    * every (rule, rule) pair — diagonals are per-rule totals, and a
    * near-diagonal off-cell means one rule subsumes another (drop it
    * and save its pass over the corpus). Rules: ntok < 30 (short),
    * 10·nuniq < 4·ntok (the integer form of diversity < 0.4),
    * non-min-doc exact-text duplicate (`dedup_exact_docs`
    * survivorship), n_chars > 450 (oversize) — thresholds sit inside
    * the fixture's operating range (ntok 10–100, diversity ≥ 0.27,
    * n_chars 44–577) so the matrix is non-trivial; a production
    * corpus dials its own. Per-doc flags fold row-locally into a
    * failed-rules array (conditional array concat — no lambda, so the
    * explode stays a plain Generate), the pair explode is ≤ 16
    * rows/doc, and the shuffle carries 16 combined cells. */
  val curationRuleOverlap: QDef = q(
    "curation_rule_overlap",
    """WITH t AS (
      |  SELECT doc_id, md5(text) AS h, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nuniq
      |  FROM documents),
      |m AS (SELECT h AS mh, MIN(doc_id) AS keeper FROM t GROUP BY h),
      |f AS (
      |  SELECT doc_id,
      |    (CASE WHEN ntok < 30 THEN ['short'] ELSE [] END)
      |      || (CASE WHEN 10 * nuniq < 4 * ntok THEN ['low_diversity'] ELSE [] END)
      |      || (CASE WHEN doc_id <> keeper THEN ['duplicate'] ELSE [] END)
      |      || (CASE WHEN n_chars > 450 THEN ['oversize'] ELSE [] END) AS failed
      |  FROM t JOIN m ON t.h = m.mh)
      |SELECT u1.ra AS rule_a, u2.rb AS rule_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM f, UNNEST(failed) u1(ra), UNNEST(failed) u2(rb)
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"),
        size(split(col("text"), " ")).cast(LongType).as("ntok"),
        size(array_distinct(split(col("text"), " "))).cast(LongType).as("nuniq"))
    val m = t.groupBy(col("h").as("mh")).agg(min(col("doc_id")).as("keeper"))
    t.join(m, col("h") === col("mh"))
      .select(col("doc_id"), expr(
        """concat(
          |  CASE WHEN ntok < 30 THEN array('short') ELSE CAST(array() AS ARRAY<STRING>) END,
          |  CASE WHEN 10 * nuniq < 4 * ntok THEN array('low_diversity') ELSE CAST(array() AS ARRAY<STRING>) END,
          |  CASE WHEN doc_id <> keeper THEN array('duplicate') ELSE CAST(array() AS ARRAY<STRING>) END,
          |  CASE WHEN n_chars > 450 THEN array('oversize') ELSE CAST(array() AS ARRAY<STRING>) END)"""
          .stripMargin).as("failed"))
      .select(col("failed"), explode(col("failed")).as("rule_a"))
      .select(col("rule_a"), explode(col("failed")).as("rule_b"))
      .groupBy(col("rule_a"), col("rule_b"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("rule_a"), col("rule_b"))
  }

  /** Dedup-adjusted mixture weights (r13c) — the sampling-weight
    * table a mixer reads AFTER exact dedup instead of before: per
    * source, raw docs, surviving docs (global min-doc-per-text
    * survivorship — a cross-source duplicate credits only the
    * keeper's source, the `dedup_exact_docs` semantics), the
    * duplication rate, and the re-normalized sampling weight over
    * surviving docs in floor-ppm. Digest-keyed shuffle (16-byte md5,
    * never text bodies); source-level algebra after. */
  val mixDedupAdjusted: QDef = q(
    "mix_dedup_adjusted",
    """WITH t AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      |m AS (SELECT h AS mh, MIN(doc_id) AS keeper FROM t GROUP BY h),
      |f AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw,
      |    CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_kept
      |  FROM t JOIN m ON t.h = m.mh GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_kept) AS BIGINT) AS total_kept FROM f)
      |SELECT source, n_raw, n_kept,
      |  ((n_raw - n_kept) * 1000000) // n_raw AS dup_ppm,
      |  (n_kept * 1000000) // tot.total_kept AS weight_ppm
      |FROM f CROSS JOIN tot ORDER BY source""") { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val m = t.groupBy(col("h").as("mh")).agg(min(col("doc_id")).as("keeper"))
    val f = t.join(m, col("h") === col("mh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        count_if(col("doc_id") === col("keeper")).as("n_kept"))
    val tot = f.agg(sum(col("n_kept")).as("total_kept"))
    f.crossJoin(broadcast(tot))
      .select(col("source"), col("n_raw"), col("n_kept"),
        expr("((n_raw - n_kept) * 1000000) div n_raw").as("dup_ppm"),
        expr("(n_kept * 1000000) div total_kept").as("weight_ppm"))
      .orderBy(col("source"))
  }

  /** Two-phase anneal mixture (r14g) — the midtraining curriculum
    * every modern LLM run schedules: phase 1 trains on the whole
    * corpus, phase 2 (the anneal) restricts to documents passing the
    * quality bar and re-normalizes source weights over the surviving
    * token mass. The bar reuses the EXACT `curation_rule_overlap`
    * rule spellings (NOT short: ntok ≥ 30; NOT low-diversity:
    * 10·nuniq ≥ 4·ntok) so the anneal's admission set is consistent
    * with the graded curation funnel. Pure integers, floor-ppm
    * weights, one row-local flag pass + two group-sized folds. */
  val mixAnnealTwoPhase: QDef = q(
    "mix_anneal_two_phase",
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nuniq
      |  FROM documents),
      |u AS (
      |  SELECT CAST(1 AS BIGINT) AS phase, source, ntok FROM t
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), source, ntok FROM t
      |  WHERE ntok >= 30 AND 10 * nuniq >= 4 * ntok),
      |f AS (
      |  SELECT phase, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS n_tokens
      |  FROM u GROUP BY phase, source),
      |tot AS (SELECT phase, CAST(SUM(n_tokens) AS BIGINT) AS t
      |  FROM f GROUP BY phase)
      |SELECT f.phase, f.source, f.n_docs, f.n_tokens,
      |  (f.n_tokens * 1000000) // tot.t AS weight_ppm
      |FROM f JOIN tot ON f.phase = tot.phase
      |ORDER BY f.phase, f.source""") { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("ntok"),
        size(array_distinct(split(col("text"), " "))).cast(LongType).as("nuniq"))
    val u = t.select(lit(1L).as("phase"), col("source"), col("ntok"))
      .unionAll(t.filter(col("ntok") >= 30 && col("nuniq") * 10 >= col("ntok") * 4)
        .select(lit(2L).as("phase"), col("source"), col("ntok")))
    val f = u.groupBy(col("phase"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
    val tot = f.groupBy(col("phase").as("t_phase"))
      .agg(sum(col("n_tokens")).as("t"))
    f.join(broadcast(tot), col("phase") === col("t_phase"))
      .select(col("phase"), col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 1000000) div t").as("weight_ppm"))
      .orderBy(col("phase"), col("source"))
  }

  /** Chinchilla compute-allocation plan (r17) — the training-run
    * sizing question a data pipeline answers before curation targets
    * are set: for each compute budget C (petaFLOP units in a literal
    * table), the compute-optimal parameter count N = sqrt(C/120)
    * (from C ≈ 6·N·D with the D = 20·N optimum) and token demand
    * D = 20·N, against the corpus's ACTUAL token supply — coverage
    * in floor-ppm and the epoch count (ceil) the corpus would need.
    * One corpus token-count agg + a 3-row broadcast budget table;
    * the sqrt chain runs on identical doubles in both engines, then
    * everything is exact integers. */
  val mixChinchillaPlan: QDef = q(
    "mix_chinchilla_plan",
    """WITH t AS (
      |  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
      |    AS corpus_tokens
      |  FROM documents),
      |b AS (SELECT CAST(pf AS BIGINT) AS budget_pflops
      |  FROM (VALUES (1000), (1000000), (1000000000)) v(pf)),
      |p AS (
      |  SELECT budget_pflops, corpus_tokens,
      |    CAST(floor(sqrt(CAST(budget_pflops AS DOUBLE) * 1e15 / 120.0))
      |      AS BIGINT) AS n_opt_params
      |  FROM b CROSS JOIN t)
      |SELECT budget_pflops, n_opt_params,
      |  20 * n_opt_params AS d_opt_tokens, corpus_tokens,
      |  CAST((20 * n_opt_params + corpus_tokens - 1) // corpus_tokens
      |    AS BIGINT) AS epochs_needed,
      |  CASE WHEN corpus_tokens >= 20 * n_opt_params THEN 1000000
      |    ELSE CAST(corpus_tokens * 1000000 // (20 * n_opt_params)
      |      AS BIGINT) END AS coverage_ppm
      |FROM p ORDER BY budget_pflops""") { (s, d) =>
    val t = Tables.documents(s, d)
      .agg(sum(size(split(col("text"), " "))).cast(LongType)
        .as("corpus_tokens"))
    val b = {
      import s.implicits._
      Seq(1000L, 1000000L, 1000000000L).toDF("budget_pflops")
    }
    val p = b.crossJoin(broadcast(t))
      .withColumn("n_opt_params",
        floor(sqrt(col("budget_pflops").cast(DoubleType) * lit(1e15)
          / lit(120.0))).cast(LongType))
    p.select(col("budget_pflops"), col("n_opt_params"),
        (lit(20L) * col("n_opt_params")).as("d_opt_tokens"),
        col("corpus_tokens"),
        expr("CAST((20 * n_opt_params + corpus_tokens - 1)"
          + " div corpus_tokens AS BIGINT)").as("epochs_needed"),
        expr("CASE WHEN corpus_tokens >= 20 * n_opt_params THEN 1000000"
          + " ELSE CAST(corpus_tokens * 1000000 div (20 * n_opt_params)"
          + " AS BIGINT) END").as("coverage_ppm"))
      .orderBy(col("budget_pflops"))
  }

  /** Filter-cascade cost audit (r18) — the stage-ordering decision a
    * curation pipeline makes once and pays forever: the SAME four
    * stages (length gate cost 1/doc, lang allowlist cost 2/doc,
    * TTR+length quality gate cost 10/doc — the `curation_funnel`
    * spellings — and exact-dedup cost 5/doc) run cheap-first vs
    * quality-first. Pure per-doc filters commute, so both plans end
    * at the same survivor set — what differs is COMPUTE: each
    * stage's cost is (docs entering) × (unit cost), and running the
    * expensive classifier first pays it on the whole corpus. Graded
    * as the full 2×4 funnel with cumulative cost — the table that
    * justifies cascade ordering at 100 TB. One scan, one flag-sum
    * fold, one dedup count; the funnel arithmetic is row-local over
    * 1-row broadcasts. */
  val curationCascadeCost: QDef = q(
    "curation_cascade_cost",
    """WITH t AS (
      |  SELECT doc_id, text, lang, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS nuniq
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, text,
      |    CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS p_len,
      |    CASE WHEN lang IN ('en', 'es', 'de', 'fr') THEN 1 ELSE 0 END
      |      AS p_lang,
      |    CASE WHEN ntok >= 10 AND CAST(nuniq AS DOUBLE) / ntok >= 0.3
      |      THEN 1 ELSE 0 END AS p_qual
      |  FROM t),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
      |    CAST(SUM(p_len) AS BIGINT) AS nl,
      |    CAST(SUM(p_len * p_lang) AS BIGINT) AS nll,
      |    CAST(SUM(p_qual) AS BIGINT) AS nq,
      |    CAST(SUM(p_qual * p_lang) AS BIGINT) AS nql,
      |    CAST(SUM(p_len * p_lang * p_qual) AS BIGINT) AS nall
      |  FROM f),
      |sv AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nsurv FROM (
      |    SELECT MIN(doc_id) FROM f
      |    WHERE p_len = 1 AND p_lang = 1 AND p_qual = 1 GROUP BY text)),
      |m AS (
      |  SELECT 'cheap_first' AS plan, 1 AS stage_idx, 'len' AS stage,
      |    n0 AS n_in, nl AS n_out, n0 * 1 AS stage_cost, n0 * 1 AS cum_cost
      |  FROM agg, sv
      |  UNION ALL SELECT 'cheap_first', 2, 'lang', nl, nll, nl * 2,
      |    n0 * 1 + nl * 2 FROM agg, sv
      |  UNION ALL SELECT 'cheap_first', 3, 'quality', nll, nall, nll * 10,
      |    n0 * 1 + nl * 2 + nll * 10 FROM agg, sv
      |  UNION ALL SELECT 'cheap_first', 4, 'dedup', nall, nsurv, nall * 5,
      |    n0 * 1 + nl * 2 + nll * 10 + nall * 5 FROM agg, sv
      |  UNION ALL SELECT 'quality_first', 1, 'quality', n0, nq, n0 * 10,
      |    n0 * 10 FROM agg, sv
      |  UNION ALL SELECT 'quality_first', 2, 'lang', nq, nql, nq * 2,
      |    n0 * 10 + nq * 2 FROM agg, sv
      |  UNION ALL SELECT 'quality_first', 3, 'len', nql, nall, nql * 1,
      |    n0 * 10 + nq * 2 + nql * 1 FROM agg, sv
      |  UNION ALL SELECT 'quality_first', 4, 'dedup', nall, nsurv, nall * 5,
      |    n0 * 10 + nq * 2 + nql * 1 + nall * 5 FROM agg, sv)
      |SELECT plan, CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_in,
      |  n_out, CAST(stage_cost AS BIGINT) AS stage_cost,
      |  CAST(cum_cost AS BIGINT) AS cum_cost
      |FROM m ORDER BY plan, stage_idx""") { (s, d) =>
    val toks = split(col("text"), " ")
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        when(col("n_chars") >= 100, 1L).otherwise(0L).as("p_len"),
        when(col("lang").isin("en", "es", "de", "fr"), 1L).otherwise(0L)
          .as("p_lang"),
        when(size(toks) >= 10 &&
            size(array_distinct(toks)).cast(DoubleType) /
              size(toks).cast(DoubleType) >= 0.3, 1L)
          .otherwise(0L).as("p_qual"))
    val agg0 = f.agg(count(lit(1)).as("n0"),
      sum(col("p_len")).as("nl"),
      sum(col("p_len") * col("p_lang")).as("nll"),
      sum(col("p_qual")).as("nq"),
      sum(col("p_qual") * col("p_lang")).as("nql"),
      sum(col("p_len") * col("p_lang") * col("p_qual")).as("nall"))
    val sv = f.filter(col("p_len") === 1L && col("p_lang") === 1L &&
        col("p_qual") === 1L)
      .groupBy(col("text")).agg(min(col("doc_id")))
      .agg(count(lit(1)).as("nsurv"))
    agg0.crossJoin(broadcast(sv))
      .select(expr(
        """stack(8,
          |  'cheap_first', 1L, 'len', n0, nl, n0 * 1L, n0 * 1L,
          |  'cheap_first', 2L, 'lang', nl, nll, nl * 2L, n0 * 1L + nl * 2L,
          |  'cheap_first', 3L, 'quality', nll, nall, nll * 10L,
          |    n0 * 1L + nl * 2L + nll * 10L,
          |  'cheap_first', 4L, 'dedup', nall, nsurv, nall * 5L,
          |    n0 * 1L + nl * 2L + nll * 10L + nall * 5L,
          |  'quality_first', 1L, 'quality', n0, nq, n0 * 10L, n0 * 10L,
          |  'quality_first', 2L, 'lang', nq, nql, nq * 2L,
          |    n0 * 10L + nq * 2L,
          |  'quality_first', 3L, 'len', nql, nall, nql * 1L,
          |    n0 * 10L + nq * 2L + nql * 1L,
          |  'quality_first', 4L, 'dedup', nall, nsurv, nall * 5L,
          |    n0 * 10L + nq * 2L + nql * 1L + nall * 5L)
          |  AS (plan, stage_idx, stage, n_in, n_out, stage_cost, cum_cost)
          |""".stripMargin))
      .orderBy(col("plan"), col("stage_idx"))
  }

  /** Curriculum schedule plan (r18) — the length-ordered training
    * curriculum (short/simple documents first) computed WITHOUT a
    * global sort: the corpus's token-count HISTOGRAM (bounded by
    * distinct lengths, not corpus size) is cumulated by a broadcast
    * value self-join — the `ann_hnsw_layer_assign` cumulative
    * pattern, no unpartitioned window anywhere — and each length
    * block is assigned phase ⌊cum_before·4/N⌋ (capped at 3): every
    * doc of one length lands in one phase, the convention a
    * histogram-driven scheduler ships. Graded per phase: doc census,
    * length bounds, token mass and its corpus share in ppm — the
    * table a curriculum sampler consumes. At 100 TB the histogram is
    * a few thousand rows regardless of corpus size. */
  val mixCurriculumSchedule: QDef = q(
    "mix_curriculum_schedule",
    """WITH t AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |h AS (
      |  SELECT ntok, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS toks
      |  FROM t GROUP BY ntok),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
      |  CAST(SUM(toks) AS BIGINT) AS tok_all FROM h),
      |cum AS (
      |  SELECT a.ntok, a.n_docs, a.toks,
      |    CAST(COALESCE(SUM(b.n_docs), 0) AS BIGINT) AS cum_before
      |  FROM h a LEFT JOIN h b ON b.ntok < a.ntok
      |  GROUP BY a.ntok, a.n_docs, a.toks),
      |ph AS (
      |  SELECT LEAST(3, cum_before * 4 // n) AS phase, c.*
      |  FROM cum c, tot)
      |SELECT CAST(phase AS BIGINT) AS phase,
      |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |  MIN(ntok) AS min_ntok, MAX(ntok) AS max_ntok,
      |  CAST(SUM(toks) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(toks) * 1000000 // MAX(t2.tok_all) AS BIGINT)
      |    AS token_share_ppm
      |FROM ph, tot t2 GROUP BY phase ORDER BY phase""") { (s, d) =>
    val h = Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast(LongType).as("ntok"))
      .groupBy(col("ntok"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("toks"))
    val tot = h.agg(sum(col("n_docs")).as("n"), sum(col("toks")).as("tok_all"))
    val cum = h.as("a")
      .join(broadcast(h.select(col("ntok").as("b_ntok"),
          col("n_docs").as("b_n"))),
        col("b_ntok") < col("a.ntok"), "left")
      .groupBy(col("a.ntok").as("ntok"), col("a.n_docs").as("n_docs"),
        col("a.toks").as("toks"))
      .agg(coalesce(sum(col("b_n")), lit(0L)).as("cum_before"))
    cum.crossJoin(broadcast(tot))
      .select(least(lit(3L), expr("cum_before * 4 div n")).as("phase"),
        col("n_docs"), col("ntok"), col("toks"), col("tok_all"))
      .groupBy(col("phase"))
      .agg(sum(col("n_docs")).as("n_docs"), min(col("ntok")).as("min_ntok"),
        max(col("ntok")).as("max_ntok"), sum(col("toks")).as("sum_tokens"),
        expr("sum(toks) * 1000000 div max(tok_all)").as("token_share_ppm"))
      .orderBy(col("phase"))
  }

  /** Sequence-packing padding-waste sweep (r18b) — the capacity
    * question asked before every pretraining run: at context length
    * L, how many tokens does naive per-document chunk-and-pad burn?
    * For L ∈ {64, 128, 256}: chunks = ⌈ntok/L⌉, padded = chunks·L,
    * waste = padded − ntok; graded per L as doc/chunk/token totals
    * and floor-ppm waste share — the number that justifies a packed
    * loader (`pack_sequences`) over naive padding. Entirely
    * row-local until one 3-group fold; the L sweep is a broadcast
    * 3-row cross join, so at 100 TB this is a single map-side pass.
    * Token count = whitespace split length (FIXTURES.md: the corpus
    * tokenizes cleanly on single spaces). */
  val packPaddingWasteSweep: QDef = q(
    "pack_padding_waste_sweep",
    """WITH t AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |l AS (SELECT CAST(unnest([64, 128, 256]) AS BIGINT) AS max_len),
      |w AS (
      |  SELECT l.max_len, t.ntok,
      |    (t.ntok + l.max_len - 1) // l.max_len AS chunks
      |  FROM t CROSS JOIN l)
      |SELECT max_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
      |  CAST(SUM(chunks) AS BIGINT) AS total_chunks,
      |  CAST(SUM(chunks * max_len) AS BIGINT) AS total_padded,
      |  CAST(SUM(chunks * max_len - ntok) * 1000000
      |    // SUM(chunks * max_len) AS BIGINT) AS waste_ppm
      |FROM w GROUP BY max_len ORDER BY max_len""") { (s, d) =>
    import s.implicits._
    val t = Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast(LongType).as("ntok"))
    val l = Seq(64L, 128L, 256L).toDF("max_len")
    t.crossJoin(broadcast(l))
      .withColumn("chunks", expr("(ntok + max_len - 1) div max_len"))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
        sum(col("chunks")).as("total_chunks"),
        sum(col("chunks") * col("max_len")).as("total_padded"),
        sum(col("chunks") * col("max_len") - col("ntok")).as("waste"))
      .select(col("max_len"), col("n_docs"), col("total_tokens"),
        col("total_chunks"), col("total_padded"),
        expr("waste * 1000000 div total_padded").as("waste_ppm"))
      .orderBy(col("max_len"))
  }

  /** Mixture entropy / effective domain count (r18b) — the
    * one-number diversity summary a data-mixing deck leads with:
    * Shannon entropy of the source mixture H = ln N − (Σ c·ln c)/N
    * through the quantize-then-fold log protocol (each term
    * c·floor(ln c·10⁶) exact), the EFFECTIVE number of domains
    * exp(H) (Hill number of order 1 — "this 20-source corpus mixes
    * like X equal sources"), and H normalized by ln(m) in ppm.
    * Complements the share table (`mix_domain_weighted`) and the
    * inequality trio with the information-theoretic view. One
    * source fold + a 1-row edge. */
  val mixEntropyEffectiveDomains: QDef = q(
    "mix_entropy_effective_domains",
    """WITH c AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(n) AS BIGINT)
      |      AS nd,
      |    CAST(SUM(n * CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS snl
      |  FROM c),
      |h AS (
      |  SELECT m, nd,
      |    CAST(FLOOR(ln(CAST(nd AS DOUBLE)) * 1000000) AS BIGINT)
      |      - snl // nd AS h_micro
      |  FROM f)
      |SELECT nd AS n_docs, m AS n_domains, h_micro,
      |  CAST(FLOOR(exp(CAST(h_micro AS DOUBLE) / 1000000) * 1000)
      |    AS BIGINT) AS eff_domains_milli,
      |  CASE WHEN m = 1 THEN NULL
      |    ELSE CAST(h_micro * 1000000
      |      // CAST(FLOOR(ln(CAST(m AS DOUBLE)) * 1000000) AS BIGINT)
      |      AS BIGINT) END AS h_norm_ppm
      |FROM h""") { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val f = c.agg(count(lit(1)).as("m"), sum(col("n")).as("nd"),
      sum(col("n") * floor(log(col("n").cast(DoubleType)) * 1000000)
        .cast(LongType)).as("snl"))
    val h = f.select(col("m"), col("nd"),
      (floor(log(col("nd").cast(DoubleType)) * 1000000).cast(LongType)
        - expr("snl div nd")).as("h_micro"))
    h.select(col("nd").as("n_docs"), col("m").as("n_domains"),
      col("h_micro"),
      expr("CAST(FLOOR(exp(CAST(h_micro AS DOUBLE) / 1000000) * 1000)"
        + " AS BIGINT)").as("eff_domains_milli"),
      when(col("m") === 1, lit(null).cast(LongType))
        .otherwise(expr("CAST(h_micro * 1000000"
          + " div CAST(FLOOR(ln(CAST(m AS DOUBLE)) * 1000000) AS BIGINT)"
          + " AS BIGINT)")).as("h_norm_ppm"))
  }

  val all: Seq[QDef] = Seq(
    contaminationNgram, packSequences, mixDomainWeighted, textRepetition,
    textPiiScrub, embedQuantizeInt8, curationFunnel, dedupPrefixCluster,
    mixTemperatureResample, mixUpsampleEpochs, embedNormAudit,
    dedupSourcePriority, hashFeatureCollisions, dedupUrlCanonical,
    curationThresholdSweep, curationRuleOverlap, mixDedupAdjusted,
    mixAnnealTwoPhase, mixChinchillaPlan, curationCascadeCost,
    mixCurriculumSchedule, packPaddingWasteSweep, mixEntropyEffectiveDomains)
}
