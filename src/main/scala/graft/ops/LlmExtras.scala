package graft.ops

import graft.{QDef, Tables}
import graft.QDef.q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Scale-path LLM-pipeline operators beyond SURVEY §2.10's core set:
  * sketch-based near-dedup (MinHash-LSH, SimHash), embedding-space
  * near-dup, and text analysis (language-ID, quality scoring,
  * fingerprinting), plus an IVF-style ANN probe.
  *
  * These are the formulations that survive 100 TB where the blocked
  * quadratic join (`dedup_near_jaccard`) cannot: LSH banding turns
  * all-pairs similarity into an equality join on band signatures
  * (shuffle on signature, candidates only within buckets), and IVF
  * routing prunes the ANN scan to one partition of the vector table.
  *
  * Determinism: every sketch is built from md5 (identical hex output
  * in Spark and DuckDB) and integer arithmetic — no float
  * accumulation anywhere except final single-division scores.
  */
object LlmExtras {
  import VecMath._

  /** MinHash(8) + LSH(4 bands × 2 rows) over token 3-gram shingles;
    * candidate pairs sharing any band bucket are verified with exact
    * shingle-set Jaccard >= 0.5.
    *
    * The 8 "permutations" are eight overlapping 8-hex-char windows of
    * ONE md5 per shingle (substr(h, 3i+1, 8), i = 0..7) — the
    * standard cheap-family trick: one hash invocation instead of
    * eight, computed as eight min-aggregates in a single groupBy (no
    * hash-index replication join). The banding is replicated
    * bit-for-bit in the oracle, so the (approximate) recall set is
    * identical across engines. */
  /** Shared DuckDB CTE chain for every minhash-derived oracle
    * (`dedup_minhash_lsh`, `dedup_cluster_cc`'s pair source,
    * `minhash_est_audit`) — one text, zero drift between them. */
  /** The signature-building prefix (tokens → shingles → minhash →
    * shingle sets) shared by [[lshCtes]] AND the band-tuning oracle,
    * which attaches its own banding CTEs to the same signatures. */
  private[ops] val mhCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(3, len(t) + 1),
      |           i -> t[i-2] || ' ' || t[i-1] || ' ' || t[i])) AS shingle
      |  FROM toks),
      |mh AS (
      |  SELECT doc_id,
      |    min(substr(md5(shingle),  1, 8)) AS h0, min(substr(md5(shingle),  4, 8)) AS h1,
      |    min(substr(md5(shingle),  7, 8)) AS h2, min(substr(md5(shingle), 10, 8)) AS h3,
      |    min(substr(md5(shingle), 13, 8)) AS h4, min(substr(md5(shingle), 16, 8)) AS h5,
      |    min(substr(md5(shingle), 19, 8)) AS h6, min(substr(md5(shingle), 22, 8)) AS h7
      |  FROM sh GROUP BY doc_id),
      |sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id)""".stripMargin

  private[ops] val lshCtes: String =
    s"""$mhCtes,
      |bands AS (
      |  SELECT doc_id, unnest(range(0, 4)) AS band,
      |    unnest([h0 || '|' || h1, h2 || '|' || h3, h4 || '|' || h5, h6 || '|' || h7]) AS sig
      |  FROM mh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      |    AND a.doc_id < b.doc_id)""".stripMargin

  val dedupMinhashLsh: QDef = q(
    "dedup_minhash_lsh",
    s"""WITH $lshCtes
      |SELECT doc_a, doc_b,
      |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) AS jacc
      |FROM cand JOIN sets x ON x.doc_id = doc_a JOIN sets y ON y.doc_id = doc_b
      |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) >= 0.5
      |ORDER BY doc_a, doc_b""") { (s, d) =>
    minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Unsorted verified near-dup pairs — the shared pipeline behind the
    * graded `dedup_minhash_lsh` (which adds the presentation sort) and
    * `dedup_cluster_cc` (which consumes the pairs orderless; skipping
    * the sort also skips the range-partitioner's sampling pass, which
    * would run the verify join a second time per materialization). */
  /** Per-doc minhash prep, ONE stateless pass, ONE persisted table
    * (persist, not localCheckpoint — lineage survives executor loss):
    *
    *   - `sl`: the SORTED DISTINCT shingle set as xxhash64 LONGS —
    *     the verify side. Longs, not strings: the merge-walk compares
    *     8-byte values instead of ~20-char UTF8 and the broadcast
    *     payload shrinks ~60%. Intersection/size COUNTS are what feed
    *     the graded output, and those are hash-invariant (the
    *     contamination_ngram precedent; collision odds ~1e-9 at 1e5
    *     distinct shingles — at 1e10+ shingles swap in the 128-bit
    *     hash).
    *   - `h0..h7`: the md5-window minhash signatures, computed PER ROW
    *     over the shingle array (one md5 per shingle via transform,
    *     then eight array_min's). The alternative (explode → md5 →
    *     groupBy with 8 min-aggregates) flows every shingle occurrence
    *     (~100× the doc count) through a full shuffle just to put them
    *     back under their doc_id; here rows never leave their
    *     partition. array_min on strings uses min()'s binary UTF8
    *     ordering, so signatures are identical to the oracle's.
    *
    * The repartition spreads the one-partition fixture scan. */
  private[ops] def shingleBase(s: SparkSession, d: String): DataFrame =
    // r7: the whole prep is the fused one-pass graft_minhash_prep
    // expression — the declarative form ran ~11 interpreted lambda
    // traversals per doc (n-gram transform, xxhash64 transform, md5
    // transform, then 8 array_min(transform(substring)) walks); md5
    // is now computed once per DISTINCT shingle and the windows
    // stream past their minima in the same loop. Same hash values,
    // same signature strings (the expression replicates xxhash64's
    // seed-42 function and substr(md5hex, 3i+1, 8) exactly —
    // ShingleExpressionsSpec pins both against the SQL forms).
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.minhashPrep(col("t"), 3).as("mp"))
      .select(Seq(col("doc_id"), col("mp.sl").as("sl")) ++ (0 until 8).map(i =>
        col("mp.mins").getItem(i).as(s"h$i")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Band buckets → distinct candidate pairs (doc_a < doc_b).
    * Takes the shingleBase table (its h0..h7 columns ARE the
    * signature). */
  private[ops] def bandCandidates(mh: DataFrame): DataFrame = {
    val bands = mh.select(col("doc_id"),
        posexplode(array(
          concat_ws("|", col("h0"), col("h1")), concat_ws("|", col("h2"), col("h3")),
          concat_ws("|", col("h4"), col("h5")), concat_ws("|", col("h6"), col("h7"))))
          .as(Seq("band", "sig")))
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band").as("band_b"), col("sig").as("sig_b"))
    a.join(b, col("band") === col("band_b") && col("sig") === col("sig_b")
        && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact Jaccard for candidate pairs via the codegen'd sorted
    * merge-walk intersection (graft_sorted_intersect_long) —
    * array_intersect/array_union built a hash set per candidate pair;
    * |A∪B| = |A|+|B|−|A∩B| since the arrays are distinct. */
  private[ops] def exactJaccard(cand: DataFrame, base: DataFrame): DataFrame = {
    val inter = graft.functions.VectorFunctions.sortedIntersectLong(col("s_a"), col("s_b"))
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("sl").as("s_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("sl").as("s_b")), "doc_b")
      .withColumn("inter", inter)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) /
          (size(col("s_a")) + size(col("s_b")) - col("inter"))).as("jacc"))
  }

  def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val base = shingleBase(s, d)
    exactJaccard(bandCandidates(base), base)
      .filter(col("jacc") >= 0.5)
  }

  /** Sketch-accuracy audit: for every LSH candidate pair, the
    * signature-estimated Jaccard (matching minhash slots / 8) next to
    * the exact shingle-set Jaccard and the absolute error — the
    * quality report a pipeline owner reads before trusting banding
    * parameters at full scale. Estimate and exact are both derived
    * from small-integer divisions, so the doubles (and their
    * difference) are bit-identical across engines. */
  val minhashEstAudit: QDef = q(
    "minhash_est_audit",
    s"""WITH $lshCtes
      |SELECT c.doc_a, c.doc_b,
      |  CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS DOUBLE) / 8.0 AS est_jacc,
      |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) AS jacc,
      |  abs(CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS DOUBLE) / 8.0 -
      |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |      / len(list_distinct(x.s || y.s))) AS abs_err
      |FROM cand c
      |JOIN mh a ON a.doc_id = c.doc_a JOIN mh b ON b.doc_id = c.doc_b
      |JOIN sets x ON x.doc_id = c.doc_a JOIN sets y ON y.doc_id = c.doc_b
      |ORDER BY doc_a, doc_b""") { (s, d) =>
    val base = shingleBase(s, d)
    val cand = bandCandidates(base)
    val matches = (0 until 8)
      .map(i => (col(s"a.h$i") === col(s"b.h$i")).cast(IntegerType))
      .reduce(_ + _)
    // ONE pair of base joins: the shingle arrays (sl) ride through
    // the same joins that fetch the h-signature columns — re-joining
    // base afterwards just to refetch sl paid two extra join stages
    // per execution (r6 review finding). And est_jacc rides inline:
    // joining exactJaccard's projection back on the pair key would
    // plan a needless SortMergeJoin.
    val est = cand
      .join(base.alias("a"), col("doc_a") === col("a.doc_id"))
      .join(base.alias("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast(DoubleType) / 8.0).as("est_jacc"),
        col("a.sl").as("s_a"), col("b.sl").as("s_b"))
    val inter = graft.functions.VectorFunctions.sortedIntersectLong(col("s_a"), col("s_b"))
    est
      .withColumn("inter", inter)
      .withColumn("jacc", col("inter").cast(DoubleType) /
        (size(col("s_a")) + size(col("s_b")) - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("est_jacc"), col("jacc"),
        abs(col("est_jacc") - col("jacc")).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 32-bit SimHash per document: md5-derived token hash bits,
    * tf-weighted ±1 votes per bit, sign-threshold — pure integer
    * arithmetic end to end. group_size counts docs sharing a
    * signature (the dedup bucketing use). */
  val dedupSimhash: QDef = q(
    "dedup_simhash",
    """WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |hv AS (
      |  SELECT doc_id, tok, tf,
      |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      |  FROM tf),
      |votes AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS v
      |  FROM hv CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
      |  GROUP BY doc_id, j),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
      |      AS simhash
      |  FROM votes GROUP BY doc_id)
      |SELECT doc_id, simhash,
      |  COUNT(*) OVER (PARTITION BY simhash) AS group_size
      |FROM sig
      |ORDER BY doc_id""") { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val hv = tf.withColumn("h",
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType))
    // The oracle spells the 32 bit-votes as a 32x CROSS JOIN row
    // blowup; here each doc folds its (hash, tf) pairs through ONE
    // compiled pass (graft_simhash, SignatureExpressions — r8; the r7
    // form was a nested interpreted `aggregate(sequence(0,31),
    // aggregate(hts, …))` paying 32 × terms lambda evals per doc) —
    // same integer votes (order-free exact sums), zero extra rows,
    // zero extra shuffles. Bit-equality with the SQL fold pinned by
    // SignatureExpressionsSpec.
    val sig = hv.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("h"), col("tf"))).as("hts"))
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhashSig(col("hts"), 32).as("simhash"))
    sig.select(col("doc_id"), col("simhash"),
        count(lit(1)).over(Window.partitionBy(col("simhash"))).as("group_size"))
      .orderBy(col("doc_id"))
  }

  /** Embedding-space near-dup pairs: cosine >= 0.4, blocked by label
    * (the cluster id plays the LSH-bucket role at scale).
    *
    * Scale formulation (same answer, bench-tuned): the double view
    * and the norm sqrt(v·v) are computed ONCE per vector before the
    * pair join (2k norms instead of 400k), and the 10-value label key
    * is salted by vec_id so pair evaluation spreads across all
    * cores. cos = dot/(norm_a·norm_b) is the identical float tree
    * the oracle evaluates. */
  val dedupNearEmbedding: QDef = q(
    "dedup_near_embedding",
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  ${sqlCosine("a.embedding", "b.embedding")} AS sim
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE ${sqlCosine("a.embedding", "b.embedding")} >= 0.4
      |ORDER BY vec_a, vec_b""") { (s, d) =>
    val nSalts = 8
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"),
      pmod(col("vec_id"), lit(nSalts)).as("salt"))
    // spread the probe side: one parquet file → one scan partition,
    // and the broadcast join adds no shuffle (same fix as
    // dedup_near_jaccard — without it pair evaluation is single-core)
    val b = e.repartition(s.sparkContext.defaultParallelism).crossJoin(s.range(nSalts).toDF("salt_b"))
      .select(col("vec_id").as("vec_b"), col("label").as("label_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"), col("salt_b"))
    a.join(b, col("salt") === col("salt_b") && col("label") === col("label_b")
        && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(fdot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6).as("sim"))
      .filter(col("sim") >= 0.4)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Character-bigram language ID: nearest centroid by integer
    * co-occurrence score normalized by language size (one float
    * division per (doc, lang) — deterministic). Self-trained on the
    * corpus; output keeps the true label for accuracy inspection. */
  val textLangid: QDef = q(
    "text_langid",
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(text)),
      |         i -> substr(text, i, 2))) AS b
      |  FROM documents),
      |tfd AS (SELECT doc_id, b, COUNT(*) AS tf FROM bg GROUP BY doc_id, b),
      |clb AS (
      |  SELECT lang, b, SUM(tf) AS c
      |  FROM tfd JOIN documents USING (doc_id)
      |  GROUP BY lang, b),
      |ltot AS (SELECT lang, SUM(c) AS tot FROM clb GROUP BY lang),
      |score AS (
      |  SELECT tfd.doc_id, clb.lang,
      |    CAST(SUM(tfd.tf * clb.c) AS DOUBLE) / max(ltot.tot) AS sc
      |  FROM tfd JOIN clb USING (b) JOIN ltot ON clb.lang = ltot.lang
      |  GROUP BY tfd.doc_id, clb.lang),
      |pred AS (
      |  SELECT doc_id, lang AS pred_lang
      |  FROM score
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang) = 1)
      |SELECT doc_id, documents.lang AS lang, pred_lang,
      |       documents.lang = pred_lang AS correct
      |FROM pred JOIN documents USING (doc_id)
      |ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    // r7: the oracle's per-(doc, b) tf table IS built now — but
    // row-locally, with zero aggregation shuffle: graft_char_bigrams
    // walks the UTF-8 bytes once (O(len), zero-copy slices — the r6
    // fix for the O(len²) substr re-scans), and graft_term_counts
    // hash-counts the bigrams within the row, so the explode emits
    // one row per DISTINCT bigram per doc (~40% of the ~1.5M-row
    // occurrence stream the r6 form shipped through Generate and
    // BOTH downstream consumers). Weighting every consumer by tf
    // keeps the sums over occurrences: SUM(tf) per (lang,b) ==
    // COUNT(*) per (lang,b), and per doc SUM(tf*c) over distinct
    // bigrams == SUM(c) over raw occurrences. Integer sums — exact,
    // hence still hash-identical to the oracle's formulation.
    // repartition before the count pass: the one-file scan is a
    // single partition — without it the bigram build lives on one
    // core. NOT persisted: the build is a stateless codegen map pass
    // and its two consumers recompute it in parallel for less than
    // the columnar cache write costs (measured on the bigger r6
    // occurrence table: persisting added ~1 s one-shot).
    // Same row semantics at the edges: a doc with <2 chars yields an
    // empty bigram array and explode drops it, exactly like the
    // length guard + empty sequence did.
    val bg = docs.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.termCounts(
          graft.functions.VectorFunctions.charBigrams(col("text")))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("b"), col("tc.tf").as("tf"))
    val clb = bg.join(broadcast(docs.select(col("doc_id"), col("lang"))), "doc_id")
      .groupBy(col("lang"), col("b")).agg(sum(col("tf")).as("c"))
    val ltot = clb.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
    // score via a PIVOTED centroid table: one broadcast join row per
    // doc-bigram with 5 count columns, instead of a 5x row blowup.
    // A lang with no shared bigram scores 0 — it can never win the
    // argmax (the true lang always shares bigrams), so predictions
    // are identical to the oracle's inner-join formulation.
    val langs = Seq("de", "en", "es", "fr", "zh")
    val clbWide = clb.groupBy(col("b"))
      .pivot("lang", langs).agg(first(col("c")))
      .select(col("b") +: langs.map(l => coalesce(col(l), lit(0L)).as(s"c_$l")): _*)
    val summed = bg.join(broadcast(clbWide), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("c_de")).as("s_de"),
        langs.tail.map(l => sum(col("tf") * col(s"c_$l")).as(s"s_$l")): _*)
    // argmax over the five wide score columns, ties to the
    // alphabetically-first lang — exactly the oracle's
    // row_number() OVER (ORDER BY sc DESC, lang) = 1, but with no
    // unpivot, no 25k-row window shuffle, and no per-row ltot join
    // (the 5 language totals ride in as a broadcast 1-row table).
    // sc = exact-int sum / exact-int total: one float division on
    // identical operands per (doc, lang) — deterministic.
    // coalesce-to-1: a lang absent from the corpus would pivot to a
    // NULL total and poison the CASE comparisons; with tot=1 its score
    // is 0/1=0 and can never beat the doc's own lang (score > 0) —
    // same outcome as the oracle's inner join dropping the lang.
    val ltotWide = ltot.groupBy()
      .pivot("lang", langs).agg(first(col("tot")))
      .select(langs.map(l => coalesce(col(l), lit(1L)).as(s"tot_$l")): _*)
    val sc = langs.map(l =>
      (col(s"s_$l").cast(DoubleType) / col(s"tot_$l")).as(s"sc_$l"))
    val scored = summed.crossJoin(broadcast(ltotWide))
      .select(col("doc_id") +: sc: _*)
    val argmax = langs.foldRight(lit(langs.last): Column) { (l, rest) =>
      if (l == langs.last) rest
      else when(langs.filter(_ > l)
        .map(m => col(s"sc_$l") >= col(s"sc_$m"))
        .reduce(_ && _), l).otherwise(rest)
    }
    val pred = scored.select(col("doc_id"), argmax.as("pred_lang"))
    pred.join(broadcast(docs.select(col("doc_id"), col("lang"))), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("lang") === col("pred_lang")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: type-token ratio, stopword ratio, average token
    * length, and a fixed-shape composite score (every ratio is a
    * single int/int division; the composite is the same literal
    * expression tree in both engines). */
  val textQuality: QDef = q(
    "text_quality",
    """WITH f AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
      |    len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','in','to'], x))) AS n_stop,
      |    length(text) AS n_char
      |  FROM documents)
      |SELECT doc_id, n_tok, n_uniq, n_stop,
      |  CAST(n_uniq AS DOUBLE) / n_tok AS ttr,
      |  CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
      |  CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok AS avg_tok_len,
      |  ROUND(0.4 * (CAST(n_uniq AS DOUBLE) / n_tok)
      |      + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
      |      + 0.2 * least(1.0, CAST(n_tok AS DOUBLE) / 100.0), 6) AS quality
      |FROM f
      |ORDER BY doc_id""") { (s, d) =>
    val t = split(col("text"), " ")
    val stops = array(Seq("the", "a", "of", "and", "in", "to").map(lit): _*)
    val f = Tables.documents(s, d).select(col("doc_id"),
      size(t).as("n_tok"),
      size(array_distinct(t)).as("n_uniq"),
      size(filter(t, x => array_contains(stops, x))).as("n_stop"),
      length(col("text")).as("n_char"))
    val ttr = col("n_uniq").cast(DoubleType) / col("n_tok")
    val stopR = col("n_stop").cast(DoubleType) / col("n_tok")
    f.select(col("doc_id"), col("n_tok"), col("n_uniq"), col("n_stop"),
        ttr.as("ttr"), stopR.as("stop_ratio"),
        ((col("n_char") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok")).as("avg_tok_len"),
        round(lit(0.4) * ttr + lit(0.4) * (lit(1.0) - stopR)
          + lit(0.2) * least(lit(1.0), col("n_tok").cast(DoubleType) / 100.0), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting two ways: whitespace split vs a BPE-ish regex
    * lexer (letter runs | digit runs | single other-glyphs) — the
    * ratio approximates tokens-per-word for budget estimation. Both
    * engines run the identical POSIX-safe pattern. */
  val textTokenCount: QDef = q(
    "text_token_count",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS bpe_per_word
      |FROM documents
      |ORDER BY doc_id""") { (s, d) =>
    val nWs = size(split(col("text"), " "))
    val nBpe = size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
    Tables.documents(s, d)
      .select(col("doc_id"), nWs.as("n_ws"), nBpe.as("n_bpe"),
        (nBpe.cast(DoubleType) / nWs).as("bpe_per_word"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: base-31 polynomial rolling hash of the
    * character stream mod 1e9+7 — pure integer fold, identical
    * left-to-right in both engines (DuckDB's first-element seed
    * equals Spark's 0-seed because 0*31 + c1 = c1). */
  val textFingerprint: QDef = q(
    "text_fingerprint",
    """WITH fp AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(1, length(text) + 1),
      |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |  FROM documents)
      |SELECT doc_id, fingerprint,
      |  COUNT(*) OVER (PARTITION BY fingerprint) AS group_size
      |FROM fp
      |ORDER BY doc_id""") { (s, d) =>
    val chars = expr(
      "transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))")
    Tables.documents(s, d)
      .select(col("doc_id"),
        aggregate(chars, lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L).as("fingerprint"))
      .select(col("doc_id"), col("fingerprint"),
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))).as("group_size"))
      .orderBy(col("doc_id"))
  }

  /** IVF-style ANN: route the query (vec_id 0) to the nearest label
    * centroid (exact scaled-integer sums; one division per label),
    * then scan ONLY that partition for cosine top-5 — the pruning
    * pattern that replaces `sim_search_topk`'s full scan at scale. */
  val annIvfLabel: QDef = q(
    "ann_ivf_label",
    s"""WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |cent AS (
      |  SELECT label, i,
      |    SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS s,
      |    COUNT(*) AS n
      |  FROM embeddings CROSS JOIN dims
      |  GROUP BY label, i),
      |qv AS (
      |  SELECT i, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qcomp
      |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) CROSS JOIN dims),
      |score AS (
      |  SELECT label, CAST(SUM(qcomp * s) AS DOUBLE) / max(n) AS sc
      |  FROM cent JOIN qv USING (i) GROUP BY label),
      |best AS (SELECT label FROM score ORDER BY sc DESC, label LIMIT 1)
      |SELECT e.label, e.vec_id,
      |  ${sqlCosine("e.embedding", "q.embedding")} AS sim
      |FROM embeddings e
      |JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q ON true
      |WHERE e.label = (SELECT label FROM best) AND e.vec_id <> 0
      |ORDER BY sim DESC, vec_id
      |LIMIT 5""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    val comp = floor(col("v").cast(DoubleType) * 1000).cast(LongType)
    val exploded = e.select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
    val cent = exploded
      .groupBy(col("label"), col("i"))
      .agg(sum(comp).as("s"), count(lit(1)).as("n"))
    val qv = exploded.filter(col("vec_id") === 0)
      .select(col("i"), comp.as("qcomp"))
    val best = cent.join(broadcast(qv), "i")
      .groupBy(col("label"))
      .agg((sum(col("qcomp") * col("s")).cast(DoubleType) / max(col("n"))).as("sc"))
      .orderBy(col("sc").desc, col("label"))
      .limit(1)
      .select(col("label").as("best_label"))
    val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.join(broadcast(best), col("label") === col("best_label"))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("label"), col("vec_id"),
        fcosine(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** Random-hyperplane LSH similarity search — the other scale path
    * next to IVF (`ann_ivf_label`): 8 pseudo-hyperplanes with md5-
    * derived ±1 signs per (plane, dim); a vector's bucket is the
    * 8-bit sign pattern of its plane projections (computed on exact
    * scaled integers — no float accumulation), and the query scans
    * ONLY its own bucket for cosine top-5. */
  val simLshBucketed: QDef = q(
    "sim_lsh_bucketed",
    s"""WITH signs AS (
      |  SELECT p, i,
      |    CASE WHEN ('0x' || substr(md5(p || ':' || i), 1, 2))::INT % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(0, 8)) AS p), (SELECT unnest(range(1, 65)) AS i)),
      |proj AS (
      |  SELECT vec_id, p,
      |    SUM(sgn * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS sp
      |  FROM embeddings CROSS JOIN signs
      |  GROUP BY vec_id, p),
      |sig AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN sp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM proj GROUP BY vec_id),
      |qb AS (SELECT bucket FROM sig WHERE vec_id = 0),
      |probes AS (
      |  SELECT unnest(list_transform(range(0, 9),
      |    k -> CASE WHEN k = 0 THEN bucket
      |              ELSE xor(bucket, 1::BIGINT << (k - 1)) END)) AS probe
      |  FROM qb)
      |SELECT s.vec_id, s.bucket,
      |  ${sqlCosine("e.embedding", "q.embedding")} AS sim
      |FROM sig s
      |JOIN probes ON s.bucket = probes.probe
      |JOIN embeddings e ON e.vec_id = s.vec_id
      |JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q ON true
      |WHERE s.vec_id <> 0
      |ORDER BY sim DESC, s.vec_id
      |LIMIT 5""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    // The oracle spells the plane projections as an unnest + two
    // GROUP BYs; here the 8×64 md5-derived ±1 sign matrix is built
    // ONCE as a single 512-element array row (md5 evaluated 512
    // times total, not per vector), broadcast onto every vector, and
    // the whole 8-bit bucket is one nested higher-order expression —
    // identical integer math (sign × exact milli-scaled components,
    // sign threshold, bit-OR), zero shuffles to compute signatures.
    // REQUIRES 64-dim embeddings: zip_with NULL-pads a short/long
    // vector, so the per-dim product is coalesced to 0 (matching the
    // oracle, where DuckDB SUM skips the NULL terms).
    val signsRow = s.range(1).select(expr(
      """transform(sequence(0, 511), k ->
        |  IF(CAST(conv(substring(md5(concat_ws(':', k div 64, k % 64 + 1)), 1, 2), 16, 10) AS INT) % 2 = 0,
        |     CAST(1 AS BIGINT), CAST(-1 AS BIGINT)))""".stripMargin).as("signs"))
    // r8: the bucket fold is one compiled pass per vector
    // (graft_lsh_bucket, SignatureExpressions) — the r7 form was a
    // nested interpreted `aggregate(sequence(0,7),
    // aggregate(zip_with(…)))` paying 8 planes × 64 dims lambda evals
    // per vector (~10M over the sf0.1 embeddings). Identical integer
    // math (sign × exact milli-scaled components, sign threshold,
    // bit-OR), pinned by SignatureExpressionsSpec.
    val bucketExpr = graft.functions.VectorFunctions
      .lshBucket(col("embedding"), col("signs"), 8, 64)
    val withB = e.crossJoin(broadcast(signsRow))
      .select(col("vec_id"), col("embedding"), bucketExpr.as("bucket"))
    // MULTI-PROBE: the query's own bucket plus every Hamming-distance-1
    // bucket — 9 probe values expanded from the 1-row query side, then
    // an EQUALITY join on bucket (the shape that stays a bucket-pruned
    // equi-join at 100 TB, unlike a bit_count(bucket ^ q) predicate
    // which would force a full nested-loop scan). The query embedding
    // rides in the SAME 9-row broadcast, so the plan has one probe-side
    // broadcast instead of a probes broadcast plus a q₀ cross join.
    val probes = withB.filter(col("vec_id") === 0)
      .select(col("bucket").as("q_bucket"), col("embedding").as("q_emb"))
      .select(explode(expr(
        """transform(sequence(0, 8), k ->
          |  IF(k = 0, q_bucket,
          |     q_bucket ^ shiftleft(CAST(1 AS BIGINT), k - 1)))""".stripMargin)).as("probe"),
        col("q_emb"))
    withB.join(broadcast(probes), col("bucket") === col("probe"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        fcosine(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** One k-means iteration over the embeddings (centroids seeded from
    * the true labels, then every vector re-assigned to its nearest
    * centroid): the convergence-step shape of distributed k-means,
    * graded as the per-(label, assigned) confusion counts. All
    * geometry is exact integer math on milli-quantized components —
    * centroid components are floor(sum/n) computed via one double
    * division on identical small-magnitude operands (|sum| ≤ 2e6, so
    * the division is exact-input in both engines), distances are
    * integer sums of squares, argmin ties go to the smaller centroid
    * id. The Spark side pivots the 10 centroids into one broadcast
    * 64-row wide table (the text_langid pattern) — assignment is a
    * single codegen'd map stage, no 10× row blowup, no window. */
  val kmeansAssign: QDef = q(
    "kmeans_assign",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |qv AS (
      |  SELECT vec_id, label, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc
      |  FROM embeddings CROSS JOIN dims),
      |cent AS (
      |  SELECT label AS cl, i,
      |    CAST(floor(CAST(SUM(qc) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      |  FROM qv GROUP BY label, i),
      |dist AS (
      |  SELECT qv.vec_id, qv.label, cent.cl,
      |    SUM((qv.qc - cent.c) * (qv.qc - cent.c)) AS d2
      |  FROM qv JOIN cent USING (i)
      |  GROUP BY qv.vec_id, qv.label, cent.cl),
      |asg AS (
      |  SELECT vec_id, label, cl,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
      |  FROM dist)
      |SELECT label, CAST(cl AS INT) AS assigned, CAST(COUNT(*) AS BIGINT) AS n
      |FROM asg WHERE rn = 1
      |GROUP BY label, cl
      |ORDER BY label, assigned""") { (s, d) =>
    val labels = 0 to 9
    kmeansAssignments(s, d)
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }

  /** The milli-quantized (vec_id, label, i, qc) component explode the
    * k-means family shares. Not persisted: every consumer re-runs the
    * posexplode, a pure codegen map over a 2k-row scan — cheaper than
    * writing a 128k-row columnar cache (measured both ways). */
  private[ops] def kmeansEx(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("label"), col("i"),
        floor(col("v").cast(DoubleType) * 1000).cast(LongType).as("qc"))

  /** Nearest-centroid assignment over label-seeded centroids — the
    * body of `kmeans_assign`, factored so `kmeans_update_round` runs
    * the IDENTICAL assignment before its Lloyd update step. Returns
    * one row per vector: (vec_id, label, assigned). */
  private def kmeansAssignments(s: SparkSession, d: String): DataFrame = {
    val labels = 0 to 9
    val ex = kmeansEx(s, d)
    val cent = ex.groupBy(col("label"), col("i"))
      .agg(floor(sum(col("qc")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("c"))
    val cw = cent.groupBy(col("i"))
      .pivot("label", labels.map(Int.box))
      .agg(first(col("c")))
      .select(col("i") +: labels.map(l => col(l.toString).as(s"c_$l")): _*)
    // coalesce to Long.MaxValue: if a label is absent from a data
    // slice its pivot column is null, and a null distance would
    // null-propagate through the argmin comparisons and silently
    // mis-assign — an unreachable-by-construction centroid must LOSE
    // every comparison instead.
    def distTo(l: Int) = coalesce(
      sum((col("qc") - col(s"c_$l")) * (col("qc") - col(s"c_$l"))),
      lit(Long.MaxValue)).as(s"d_$l")
    val dists = ex.join(broadcast(cw), "i")
      .groupBy(col("vec_id"), col("label"))
      .agg(distTo(0), labels.tail.map(distTo): _*)
    // first (smallest) centroid id that is <= every later one wins:
    // identical to the oracle's ORDER BY d2, cl tie-break.
    val argmin = labels.init.foldRight(lit(labels.last): Column) { (l, rest) =>
      when(labels.filter(_ > l).map(m => col(s"d_$l") <= col(s"d_$m")).reduce(_ && _),
        l).otherwise(rest)
    }
    dists.select(col("vec_id"), col("label"), argmin.as("assigned"))
  }

  /** One full Lloyd update (r12c) — `kmeans_assign` gives the
    * re-assignment; this key grades the step that FOLLOWS it: the new
    * centroid table recomputed from the assigned members (per-cluster
    * per-dimension floor mean over the milli-quantized components)
    * plus the member count. Together the two keys certify a complete
    * distributed k-means iteration. Same exact-integer geometry as
    * the assignment: |per-cluster component sums| ≤ 2e6, so the one
    * float division is exact-input on both engines. The update is a
    * single (cluster, dim)-keyed agg over the component explode —
    * shuffle rows bounded by k×dims partials per map task. */
  val kmeansUpdateRound: QDef = q(
    "kmeans_update_round",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |qv AS (
      |  SELECT vec_id, label, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc
      |  FROM embeddings CROSS JOIN dims),
      |cent AS (
      |  SELECT label AS cl, i,
      |    CAST(floor(CAST(SUM(qc) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      |  FROM qv GROUP BY label, i),
      |dist AS (
      |  SELECT qv.vec_id, cent.cl,
      |    SUM((qv.qc - cent.c) * (qv.qc - cent.c)) AS d2
      |  FROM qv JOIN cent USING (i)
      |  GROUP BY qv.vec_id, cent.cl),
      |asg AS (
      |  SELECT vec_id, cl,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
      |  FROM dist),
      |members AS (SELECT vec_id, cl FROM asg WHERE rn = 1)
      |SELECT CAST(m.cl AS INT) AS cluster, qv.i,
      |  CAST(floor(CAST(SUM(qv.qc) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c_new,
      |  CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM members m JOIN qv ON qv.vec_id = m.vec_id
      |GROUP BY m.cl, qv.i
      |ORDER BY cluster, i""") { (s, d) =>
    val asg = kmeansAssignments(s, d).select(col("vec_id"), col("assigned"))
    kmeansEx(s, d).join(asg, "vec_id")
      .groupBy(col("assigned").as("cluster"), col("i"))
      .agg(floor(sum(col("qc")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("c_new"),
        count(lit(1)).as("n_members"))
      // posexplode is 0-based, the oracle's range(1,65) subscripts are
      // 1-based — emit the 1-based dimension index.
      .select(col("cluster"), (col("i") + 1).cast(IntegerType).as("i"),
        col("c_new"), col("n_members"))
      .orderBy(col("cluster"), col("i"))
  }

  /** Language-ID confusion matrix (r11c) — the EVALUATION step a
    * pipeline runs over its own classifier: `text_langid`'s
    * predictions against the labeled lang, aggregated to (actual,
    * predicted) cells. Reuses the graded langid query wholesale
    * (Spark side calls its run; the oracle embeds its SQL as a CTE —
    * the `graph_degree_stats` composition pattern), so the matrix is
    * certified against the SAME predictions the per-doc key grades.
    * One tiny agg over the per-doc output; cells are bounded by
    * |langs|². */
  val evalLangidConfusion: QDef = q(
    "eval_langid_confusion",
    s"""WITH pred AS (
       |${textLangid.oracle.get}
       |)
       |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM pred
       |GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""") { (s, d) =>
    textLangid.run(s, d)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("correct").cast(LongType)).as("n_correct"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** k-NN holdout classification eval (r12) — the recall/quality
    * check a similarity index ships with: hold out every 50th vector
    * (deterministic id rule), classify each by the majority label of
    * its 5 nearest non-holdout neighbors (fused-cosine similarity,
    * vec_id tie-break; vote ties to the smaller label), and grade
    * the (actual, predicted) confusion matrix. The holdout side is
    * tiny and BROADCAST — candidates stream past it, so the
    * similarity pass is one scan × |holdout| fused cosines with no
    * shuffle; the top-5 window and the vote aggregate both operate
    * on |holdout|×k rows. At 100 TB the brute-force pass swaps for
    * the IVF/LSH routing (`ann_ivf_label`, `sim_lsh_bucketed`)
    * feeding the SAME vote; this exact form is the recall baseline
    * those variants are measured against. */
  val knnHoldoutEval: QDef = q(
    "knn_holdout_eval",
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, label AS actual, embedding AS q_emb
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |cand AS (SELECT vec_id, label, embedding FROM embeddings
      |         WHERE vec_id % 50 <> 0),
      |top AS (
      |  SELECT q_id, actual, cand.label AS c_label
      |  FROM q, cand
      |  QUALIFY row_number() OVER (PARTITION BY q_id
      |    ORDER BY ${sqlCosine("cand.embedding", "q_emb")} DESC, cand.vec_id) <= 5),
      |votes AS (
      |  SELECT q_id, actual, c_label, count(*) AS v
      |  FROM top GROUP BY q_id, actual, c_label),
      |pred AS (
      |  SELECT q_id, actual, c_label AS predicted
      |  FROM votes
      |  QUALIFY row_number() OVER (PARTITION BY q_id
      |    ORDER BY v DESC, c_label) = 1)
      |SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
      |FROM pred GROUP BY actual, predicted
      |ORDER BY actual, predicted""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("actual"),
        col("embedding").as("q_emb"))
    val cand = e.filter(col("vec_id") % 50 =!= 0).repartition(s.sparkContext.defaultParallelism)
    val simW = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val top = cand.crossJoin(broadcast(qs))
      .select(col("q_id"), col("actual"), col("label").as("c_label"),
        col("vec_id"), fcosine(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("rn", row_number().over(simW))
      .filter(col("rn") <= 5)
    val voteW = Window.partitionBy(col("q_id"))
      .orderBy(col("v").desc, col("c_label"))
    top.groupBy(col("q_id"), col("actual"), col("c_label"))
      .agg(count(lit(1)).as("v"))
      .withColumn("vr", row_number().over(voteW))
      .filter(col("vr") === 1)
      .groupBy(col("actual"), col("c_label").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("predicted"))
  }

  /** LSH band-parameter tuning report (r12b) — the cost/recall sweep
    * a dedup pipeline runs before committing a banding scheme: the
    * SAME 8 minhash values banded three ways (2×4, 4×2, 8×1), each
    * scheme's candidate volume and exact-verify precision measured.
    * More, narrower bands → recall up, candidates (≙ shuffle + verify
    * cost) up: at sf0.1 the 8×1 scheme yields ~82 k candidates vs
    * 4×2's ~2 k for the same corpus — exactly the number an operator
    * needs before a 100 TB run, where candidates are the dominant
    * cost. One signature build (the persisted shingleBase) feeds all
    * three bandings; per scheme one band-bucket equi-join + the
    * merge-walk verify, counts only — no pair lists shipped. */
  val dedupBandTuning: QDef = q(
    "dedup_band_tuning",
    s"""WITH $mhCtes,
      |bA AS (
      |  SELECT doc_id, unnest(range(0, 4)) AS band,
      |    unnest([h0 || '|' || h1, h2 || '|' || h3, h4 || '|' || h5, h6 || '|' || h7]) AS sig
      |  FROM mh),
      |cA AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bA a JOIN bA b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |bB AS (
      |  SELECT doc_id, unnest(range(0, 2)) AS band,
      |    unnest([h0 || '|' || h1 || '|' || h2 || '|' || h3,
      |            h4 || '|' || h5 || '|' || h6 || '|' || h7]) AS sig
      |  FROM mh),
      |cB AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bB a JOIN bB b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |bC AS (
      |  SELECT doc_id, unnest(range(0, 8)) AS band,
      |    unnest([h0, h1, h2, h3, h4, h5, h6, h7]) AS sig
      |  FROM mh),
      |cC AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bC a JOIN bC b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |jA AS (SELECT CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) AS jacc
      |  FROM cA JOIN sets x ON x.doc_id = doc_a JOIN sets y ON y.doc_id = doc_b),
      |jB AS (SELECT CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) AS jacc
      |  FROM cB JOIN sets x ON x.doc_id = doc_a JOIN sets y ON y.doc_id = doc_b),
      |jC AS (SELECT CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) AS jacc
      |  FROM cC JOIN sets x ON x.doc_id = doc_a JOIN sets y ON y.doc_id = doc_b),
      |stats AS (
      |  SELECT 'b2r4' AS scheme, CAST(2 AS BIGINT) AS n_bands,
      |    CAST(4 AS BIGINT) AS rows_per_band,
      |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |    CAST(COALESCE(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |      AS n_verified FROM jB
      |  UNION ALL
      |  SELECT 'b4r2', 4, 2, CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    FROM jA
      |  UNION ALL
      |  SELECT 'b8r1', 8, 1, CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    FROM jC)
      |SELECT scheme, n_bands, rows_per_band, n_candidates, n_verified,
      |  CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
      |       ELSE CAST(n_verified * 1000000 // n_candidates AS BIGINT) END
      |    AS precision_ppm
      |FROM stats ORDER BY scheme""") { (s, d) =>
    val base = shingleBase(s, d)
    base.count() // materialize before the three banding branches fork
    def cands(sigs: Seq[Column]): DataFrame = {
      val bands = base.select(col("doc_id"),
        posexplode(array(sigs: _*)).as(Seq("band", "sig")))
      val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      val b = bands.select(col("doc_id").as("doc_b"),
        col("band").as("band_b"), col("sig").as("sig_b"))
      a.join(b, col("band") === col("band_b") && col("sig") === col("sig_b") &&
          col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
    }
    def stats(name: String, nb: Int, rpb: Int, cand: DataFrame): DataFrame =
      exactJaccard(cand, base)
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("jacc") >= 0.5, 1L).otherwise(0L)), lit(0L))
            .as("n_verified"))
        .select(lit(name).as("scheme"), lit(nb.toLong).as("n_bands"),
          lit(rpb.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_verified"),
          when(col("n_candidates") === 0, 0L)
            .otherwise(expr("n_verified * 1000000L div n_candidates"))
            .as("precision_ppm"))
    val sA = Seq(concat_ws("|", col("h0"), col("h1")),
      concat_ws("|", col("h2"), col("h3")), concat_ws("|", col("h4"), col("h5")),
      concat_ws("|", col("h6"), col("h7")))
    val sB = Seq(concat_ws("|", col("h0"), col("h1"), col("h2"), col("h3")),
      concat_ws("|", col("h4"), col("h5"), col("h6"), col("h7")))
    val sC = (0 until 8).map(i => col(s"h$i"))
    stats("b2r4", 2, 4, cands(sB))
      .union(stats("b4r2", 4, 2, cands(sA)))
      .union(stats("b8r1", 8, 1, cands(sC)))
      .orderBy(col("scheme"))
  }

  /** ANN recall audit (r12d): recall@5 of the hyperplane-LSH bucket
    * probe (`sim_lsh_bucketed`'s 8-plane signature + Hamming-1
    * multi-probe) against the brute-force exact top-5, per query
    * vector over an 8-query eval panel. THE number an ANN rollout at
    * 100 TB is gated on: the candidate generation is the same
    * bucket-equality join that prunes at scale, while the exact side
    * is O(N·|panel|) — bounded by the fixed eval panel, never run
    * corpus×corpus. Per query: candidate-set size, hits among the
    * exact top-5, and recall in percent (n_hits·20 — exact integers
    * end to end; cosine ties broken by vec_id in both engines). */
  val evalAnnRecall: QDef = q(
    "eval_ann_recall",
    s"""WITH signs AS (
      |  SELECT p, i,
      |    CASE WHEN ('0x' || substr(md5(p || ':' || i), 1, 2))::INT % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(0, 8)) AS p), (SELECT unnest(range(1, 65)) AS i)),
      |proj AS (
      |  SELECT vec_id, p,
      |    SUM(sgn * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS sp
      |  FROM embeddings CROSS JOIN signs
      |  GROUP BY vec_id, p),
      |sig AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN sp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM proj GROUP BY vec_id),
      |qs AS (SELECT vec_id AS q_id, bucket AS q_bucket FROM sig WHERE vec_id < 8),
      |probes AS (
      |  SELECT q_id, unnest(list_transform(range(0, 9),
      |    k -> CASE WHEN k = 0 THEN q_bucket
      |              ELSE xor(q_bucket, 1::BIGINT << (k - 1)) END)) AS probe
      |  FROM qs),
      |cand AS (
      |  SELECT DISTINCT p.q_id, s.vec_id
      |  FROM probes p JOIN sig s ON s.bucket = p.probe
      |  WHERE s.vec_id <> p.q_id),
      |sims AS (
      |  SELECT qe.vec_id AS q_id, e.vec_id,
      |    ${sqlCosine("e.embedding", "qe.embedding")} AS sim
      |  FROM embeddings e JOIN embeddings qe
      |    ON qe.vec_id < 8 AND e.vec_id <> qe.vec_id),
      |topk AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
      |    FROM sims) WHERE rn <= 5),
      |hits AS (
      |  SELECT t.q_id, CAST(COUNT(c.vec_id) AS BIGINT) AS n_hits
      |  FROM topk t LEFT JOIN cand c ON c.q_id = t.q_id AND c.vec_id = t.vec_id
      |  GROUP BY t.q_id),
      |nc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY q_id)
      |SELECT h.q_id, CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
      |  h.n_hits, CAST(h.n_hits * 20 AS BIGINT) AS recall_pct
      |FROM hits h LEFT JOIN nc ON nc.q_id = h.q_id
      |ORDER BY h.q_id""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    // Signature construction is sim_lsh_bucketed's, verbatim: one
    // 512-element md5-derived ±1 sign row broadcast onto every vector,
    // bucket folded by the compiled graft_lsh_bucket pass.
    val signsRow = s.range(1).select(expr(
      """transform(sequence(0, 511), k ->
        |  IF(CAST(conv(substring(md5(concat_ws(':', k div 64, k % 64 + 1)), 1, 2), 16, 10) AS INT) % 2 = 0,
        |     CAST(1 AS BIGINT), CAST(-1 AS BIGINT)))""".stripMargin).as("signs"))
    val withB = e.crossJoin(broadcast(signsRow))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions
          .lshBucket(col("embedding"), col("signs"), 8, 64).as("bucket"))
    val qs = withB.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    val probes = qs.select(col("q_id"), explode(expr(
      """transform(sequence(0, 8), k ->
        |  IF(k = 0, q_bucket,
        |     q_bucket ^ shiftleft(CAST(1 AS BIGINT), k - 1)))""".stripMargin))
      .as("probe"))
    val cand = withB.select(col("vec_id"), col("bucket"))
      .join(broadcast(probes), col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val sims = e.crossJoin(broadcast(qs.select(col("q_id"), col("q_emb"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        fcosine(col("embedding"), col("q_emb")).as("sim"))
    val topk = sims.withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= 5).select(col("q_id"), col("vec_id"))
    val hits = topk
      .join(cand.select(col("q_id").as("c_q"), col("vec_id").as("c_vec")),
        col("c_q") === col("q_id") && col("c_vec") === col("vec_id"), "left")
      .groupBy(col("q_id")).agg(count(col("c_vec")).as("n_hits"))
    val nc = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
    hits.join(nc.select(col("q_id").as("nq"), col("n_cand")),
        col("nq") === col("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_hits"), (col("n_hits") * 20).cast(LongType).as("recall_pct"))
      .orderBy(col("q_id"))
  }

  /** Product-quantization codes (r12m) — the memory-compression leg
    * of the ANN family (Jégou et al. 2011): the 64-dim embedding
    * splits into 4×16-dim subspaces, each sub-vector snaps to the
    * nearest of 8 sub-centroids, and a vector is stored as 4 bytes
    * of codes instead of 256 bytes of floats. The codebook here is
    * SEED-derived (sub-vectors of vec_id 0..7 — deterministic, no
    * training loop: `kmeans_update_round` owns Lloyd updates; this
    * key grades the assign/compress machinery). Numeric ladder is
    * the k-means family's: milli-quantized components, exact BIGINT
    * squared distances, argmin ties to the smallest code via
    * min(struct(d2, code)) ≡ the oracle's ORDER BY d2, code. Graded
    * per (subspace, code): population + total residual — the
    * codebook-balance/distortion table a PQ index tuner reads.
    * Scale posture: the 32-row codebook broadcasts onto the
    * component explode; one (vec, subspace, code) distance agg, one
    * argmin agg, one ≤32-group fold. */
  val simPqCodes: QDef = q(
    "sim_pq_codes",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |qv AS (
      |  SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc,
      |    CAST((i - 1) // 16 AS INTEGER) AS s
      |  FROM embeddings CROSS JOIN dims),
      |cb AS (SELECT i, CAST(vec_id AS INTEGER) AS code, qc AS sc
      |  FROM qv WHERE vec_id < 8),
      |dist AS (
      |  SELECT q.vec_id, q.s, cb.code,
      |    CAST(SUM((q.qc - cb.sc) * (q.qc - cb.sc)) AS BIGINT) AS d2
      |  FROM qv q JOIN cb ON cb.i = q.i
      |  GROUP BY 1, 2, 3),
      |asg AS (
      |  SELECT vec_id, s, code, d2,
      |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
      |  FROM dist)
      |SELECT s AS subspace, code, CAST(COUNT(*) AS BIGINT) AS n_assigned,
      |  CAST(SUM(d2) AS BIGINT) AS sum_d2
      |FROM asg WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"),
        floor(col("v").cast(DoubleType) * 1000).cast(LongType).as("qc"),
        expr("CAST(i div 16 AS INT)").as("s"))
    val cb = ex.filter(col("vec_id") < 8)
      .select(col("i").as("ci"), col("vec_id").cast(IntegerType).as("code"),
        col("qc").as("sc"))
    val dist = ex.join(broadcast(cb), col("ci") === col("i"))
      .groupBy(col("vec_id"), col("s"), col("code"))
      .agg(sum((col("qc") - col("sc")) * (col("qc") - col("sc"))).as("d2"))
    val asg = dist.groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("code"))).as("m"))
    asg.groupBy(col("s").as("subspace"), col("m.code").as("code"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("m.d2")).as("sum_d2"))
      .orderBy(col("subspace"), col("code"))
  }

  /** Gains / cumulative-capture chart (r12s) — THE ranking-model
    * evaluation table: score every user by their PRE-period spend
    * (first 15 days — the same deterministic score CUPED covaries
    * on), cut into score deciles from the top, and report how much
    * of the POST-period outcome mass each decile captures. A good
    * score front-loads the capture; the diagonal is a random ranker.
    * EXACT DISTRIBUTED RANKS: per-user rank = exclusive prefix over
    * distinct score values (the shared bucketed two-pass primitive)
    * + row_number within the tie group (by user_id — a total order),
    * so decile membership is partitioning- and engine-independent;
    * decile = (n − rank)·10 div n. Cumulative capture comes from a
    * broadcast ≤10-row triangular self-join, never an unpartitioned
    * window. Everything is BIGINT until the floor-ppm edges. */
  val evalGainsCapture: QDef = q(
    "eval_gains_capture",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01',
      |        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) < 15
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01',
      |        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) >= 15
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(y) AS BIGINT) AS y_total FROM u),
      |rk AS (
      |  SELECT user_id, y,
      |    CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS rank
      |  FROM u),
      |dec AS (
      |  SELECT CAST(((n - rank) * 10) // n AS BIGINT) AS decile, y
      |  FROM rk CROSS JOIN n),
      |g AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(y) AS BIGINT) AS y_cents
      |  FROM dec GROUP BY 1),
      |c AS (
      |  SELECT a.decile, a.n_users, a.y_cents,
      |    CAST(SUM(b.y_cents) AS BIGINT) AS cum_cents
      |  FROM g a JOIN g b ON b.decile <= a.decile
      |  GROUP BY 1, 2, 3)
      |SELECT c.decile, c.n_users, c.y_cents,
      |  CAST(c.y_cents * 1000000 // n.y_total AS BIGINT) AS capture_ppm,
      |  CAST(c.cum_cents * 1000000 // n.y_total AS BIGINT)
      |    AS cum_capture_ppm
      |FROM c CROSS JOIN n ORDER BY c.decile""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dayNo = datediff(date_trunc("day", col("ts")).cast(DateType),
      lit("2024-01-01").cast(DateType))
    val cents = (col("value").cast(DecimalType(12, 2)) * 100)
      .cast(LongType)
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(dayNo < 15, cents).otherwise(0L)).as("x"),
        sum(when(dayNo >= 15, cents).otherwise(0L)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = u.agg(count(lit(1)).as("n"), sum(col("y")).as("y_total"))
    // exact distributed rank: exclusive prefix over distinct scores +
    // row_number within the tie group (never a global window)
    val xc = u.groupBy(col("x").as("v")).agg(count(lit(1)).as("cnt"))
    val pre = DriftOps.exclusivePrefix(xc, expr("v div 100000"))
      .select(col("v"), col("pre"))
    val wTie = Window.partitionBy(col("x")).orderBy(col("user_id"))
    val rk = u.join(pre, col("v") === col("x"))
      .select(col("user_id"), col("y"),
        (col("pre") + row_number().over(wTie)).as("rank"))
    val g = rk.crossJoin(broadcast(n))
      .select(expr("CAST(((n - rank) * 10) div n AS BIGINT)").as("decile"),
        col("y"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("y")).as("y_cents"))
    val c = g.join(broadcast(g.select(col("decile").as("bd"),
        col("y_cents").as("by"))), col("bd") <= col("decile"))
      .groupBy(col("decile"), col("n_users"), col("y_cents"))
      .agg(sum(col("by")).as("cum_cents"))
    c.crossJoin(broadcast(n))
      .select(col("decile"), col("n_users"), col("y_cents"),
        expr("CAST(y_cents * 1000000 div y_total AS BIGINT)")
          .as("capture_ppm"),
        expr("CAST(cum_cents * 1000000 div y_total AS BIGINT)")
          .as("cum_capture_ppm"))
      .orderBy(col("decile"))
  }

  /** Nearest-centroid classifier audit (r13b) — the evaluation leg of
    * the kmeans/knn family: label centroids as FLOOR-MEAN
    * milli-quantized vectors (the `drift_embedding_centroid`
    * spelling: cohort-size-invariant, exact cross-engine floor via
    * (s − pmod(s, n)) div n), every vector assigned to the centroid
    * with the smallest exact squared integer distance (ties by
    * label), reported as a confusion matrix. The explode shuffles
    * vecs×labels×dims bounded partials at fixture scale; at 100 TB
    * the candidate set comes from IVF routing (`ann_ivf_label`) and
    * this remains the held-out-sample grade. */
  val simCentroidClassifier: QDef = q(
    "sim_centroid_classifier",
    """WITH comp AS (
      |  SELECT vec_id, label, t.pos AS pos,
      |    CAST(floor(CAST(embedding[t.pos] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |      AS milli
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
      |cent AS (
      |  SELECT label AS c_label, pos,
      |    (s - ((s % n) + n) % n) // n AS c
      |  FROM (SELECT label, pos, CAST(SUM(milli) AS BIGINT) AS s,
      |          CAST(COUNT(*) AS BIGINT) AS n
      |        FROM comp GROUP BY label, pos) sums),
      |dist AS (
      |  SELECT comp.vec_id, comp.label AS true_label, cent.c_label,
      |    CAST(SUM((comp.milli - cent.c) * (comp.milli - cent.c)) AS BIGINT) AS d2
      |  FROM comp JOIN cent ON comp.pos = cent.pos
      |  GROUP BY 1, 2, 3),
      |pick AS (
      |  SELECT vec_id, true_label, c_label AS pred_label,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      |  FROM dist)
      |SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct
      |FROM pick WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val comp = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x").cast(DoubleType) * 1000 + 0.5).cast(LongType).as("milli"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cent = comp.groupBy(col("label").as("c_label"), col("pos").as("c_pos"))
      .agg(sum(col("milli")).as("s"), count(lit(1)).as("n"))
      .select(col("c_label"), col("c_pos"),
        expr("(s - pmod(s, n)) div n").as("c"))
    val dist = comp.join(broadcast(cent), col("pos") === col("c_pos"))
      .groupBy(col("vec_id"), col("label").as("true_label"), col("c_label"))
      .agg(sum((col("milli") - col("c")) * (col("milli") - col("c"))).as("d2"))
    val wPick = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_label"))
    dist.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .groupBy(col("true_label"), col("c_label").as("pred_label"))
      .agg(count(lit(1)).as("n"),
        count_if(col("true_label") === col("c_label")).as("n_correct"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** md5-parity prior-snapshot membership, shared by
    * `dedup_incremental_snapshot`, `dedup_cluster_incremental` and
    * `dedup_signature_store_roundtrip`: ~half the corpus is the
    * "already ingested" prior, the rest is today's increment. */
  private def isPrior(id: Column): Column =
    substring(md5(id.cast(StringType)), 1, 1) <= "7"

  /** Incremental snapshot dedup (r14, VERDICT r13 item 2) — the
    * operational 100 TB dedup shape: classify TODAY'S increment
    * against YESTERDAY'S already-ingested corpus instead of
    * re-deduping the world. The corpus is split by a deterministic
    * md5-parity of doc_id (first hex digit ≤ '7' → "prior snapshot",
    * else "increment" — hash-stable under id reassignment, spellable
    * in both engines). Each increment doc gets ONE status by
    * priority:
    *
    *   1. `dup_exact_prior` — its md5(text) digest already exists in
    *      the prior snapshot (digest semi-join; 16-byte keys, bodies
    *      never shuffled);
    *   2. `dup_exact_intra` — digest is new to the corpus but an
    *      earlier increment doc (min doc_id keeper) carries it;
    *   3. `near_dup_prior` — survives exact dedup but an LSH band
    *      candidate in the PRIOR snapshot verifies at shingle-set
    *      Jaccard ≥ 0.5 (the `dedup_minhash_lsh` machinery, asymmetric:
    *      increment bands ⋈ prior bands only — never increment²);
    *   4. `kept` — genuinely new content.
    *
    * Output: per-source attrition report (the numbers an operator
    * reads before promoting an increment). Scale: at 100 TB the prior
    * side is a STORED digest+signature table (built once by the
    * whole-corpus keys), so a daily run touches only the increment's
    * text — every join here is an equality join on digests or band
    * signatures whose cost follows candidate density, not corpus
    * size. */
  val dedupIncrementalSnapshot: QDef = q(
    "dedup_incremental_snapshot",
    s"""WITH ${mhCtes},
      |bands AS (
      |  SELECT doc_id, unnest(range(0, 4)) AS band,
      |    unnest([h0 || '|' || h1, h2 || '|' || h3, h4 || '|' || h5, h6 || '|' || h7]) AS sig
      |  FROM mh),
      |par AS (
      |  SELECT doc_id, source, md5(text) AS digest,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7' AS is_prior
      |  FROM documents),
      |inc AS (SELECT doc_id, source, digest FROM par WHERE NOT is_prior),
      |pd AS (SELECT DISTINCT digest FROM par WHERE is_prior),
      |ep AS (SELECT DISTINCT i.doc_id FROM inc i JOIN pd ON i.digest = pd.digest),
      |ik AS (SELECT digest, MIN(doc_id) AS keeper FROM inc GROUP BY digest),
      |ia AS (
      |  SELECT i.doc_id FROM inc i JOIN ik ON i.digest = ik.digest
      |  WHERE i.doc_id <> ik.keeper),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS inc_doc, b.doc_id AS prior_doc
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      |  JOIN par pa ON pa.doc_id = a.doc_id AND NOT pa.is_prior
      |  JOIN par pb ON pb.doc_id = b.doc_id AND pb.is_prior),
      |nd AS (
      |  SELECT DISTINCT c.inc_doc AS doc_id
      |  FROM cand c JOIN sets x ON x.doc_id = c.inc_doc
      |    JOIN sets y ON y.doc_id = c.prior_doc
      |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |      / len(list_distinct(x.s || y.s)) >= 0.5)
      |SELECT i.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_inc,
      |  CAST(COUNT(ep.doc_id) AS BIGINT) AS n_dup_exact_prior,
      |  CAST(SUM(CASE WHEN ep.doc_id IS NULL AND ia.doc_id IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_exact_intra,
      |  CAST(SUM(CASE WHEN ep.doc_id IS NULL AND ia.doc_id IS NULL
      |    AND nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_near_dup_prior,
      |  CAST(SUM(CASE WHEN ep.doc_id IS NULL AND ia.doc_id IS NULL
      |    AND nd.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM inc i
      |LEFT JOIN ep ON ep.doc_id = i.doc_id
      |LEFT JOIN ia ON ia.doc_id = i.doc_id
      |LEFT JOIN nd ON nd.doc_id = i.doc_id
      |GROUP BY i.source ORDER BY i.source""") { (s, d) =>
    val par = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("digest"),
        isPrior(col("doc_id")).as("is_prior"))
    val inc = par.filter(!col("is_prior"))
      .select(col("doc_id"), col("source"), col("digest"))
    val pd = par.filter(col("is_prior"))
      .select(col("digest").as("p_digest")).distinct()
    // the three flag sets are each DISTINCT on doc_id, so the final
    // left joins never multiply increment rows
    val ep = inc.join(pd, col("digest") === col("p_digest"), "left_semi")
      .select(col("doc_id").as("ep_doc"))
    val ik = inc.groupBy(col("digest").as("k_digest"))
      .agg(min(col("doc_id")).as("keeper"))
    val ia = inc.join(ik, col("digest") === col("k_digest"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id").as("ia_doc"))
    // near-dup vs prior only: increment bands ⋈ prior bands (the
    // asymmetric variant of bandCandidates — a production
    // run reads the prior side's h0..h7 from the stored snapshot
    // table instead of recomputing it)
    val base = shingleBase(s, d)
    def bandsOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
      posexplode(array(
        concat_ws("|", col("h0"), col("h1")), concat_ws("|", col("h2"), col("h3")),
        concat_ws("|", col("h4"), col("h5")), concat_ws("|", col("h6"), col("h7"))))
        .as(Seq("band", "sig")))
    val bInc = bandsOf(base.filter(!isPrior(col("doc_id"))))
      .select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val bPri = bandsOf(base.filter(isPrior(col("doc_id"))))
      .select(col("doc_id").as("doc_b"), col("band").as("band_b"),
        col("sig").as("sig_b"))
    val cand = bInc.join(bPri,
        col("band") === col("band_b") && col("sig") === col("sig_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val nd = exactJaccard(cand, base)
      .filter(col("jacc") >= 0.5)
      .select(col("doc_a").as("nd_doc")).distinct()
    inc.join(ep, col("doc_id") === col("ep_doc"), "left")
      .join(ia, col("doc_id") === col("ia_doc"), "left")
      .join(nd, col("doc_id") === col("nd_doc"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_inc"),
        count(col("ep_doc")).as("n_dup_exact_prior"),
        count_if(col("ep_doc").isNull && col("ia_doc").isNotNull)
          .as("n_dup_exact_intra"),
        count_if(col("ep_doc").isNull && col("ia_doc").isNull &&
          col("nd_doc").isNotNull).as("n_near_dup_prior"),
        count_if(col("ep_doc").isNull && col("ia_doc").isNull &&
          col("nd_doc").isNull).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Retrieval MRR eval (r14d) — Mean Reciprocal Rank of brute-force
    * cosine retrieval against label ground truth, per label: for each
    * md5-sampled query vector (first hex digit '0' ≈ 1/16 of the
    * corpus — hash-deterministic, no RNG), the rank of the FIRST
    * same-label neighbor under (sim DESC, vec_id) ordering;
    * reciprocal ranks in floor-micro units, label-level mean by floor
    * division. Queries with no same-label candidate contribute 0 (the
    * standard MRR convention). Completes the retrieval-eval leg next
    * to `eval_ann_recall` (recall@k) and `knn_holdout_eval`
    * (classification). Scale: this is the EVAL-tier brute force — the
    * ground-truth pass a pipeline runs on a sampled query set before
    * trusting ANN routing; the query side stays a broadcast (sampled,
    * 1/16), the per-query window is partitioned by q_id, and the
    * production-scale retrieval itself routes through `ann_ivf_label`
    * / `sim_lsh_bucketed`. Cosine is the shared quantized float tree
    * (`fcosine` ≡ `sqlCosine`, spec-pinned bit-identical), so ranks
    * agree across engines. */
  val evalRetrievalMrr: QDef = q(
    "eval_retrieval_mrr",
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |  FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |cand AS (
      |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
      |    ${VecMath.sqlCosine("e.embedding", "q.q_emb")} AS sim
      |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
      |r AS (
      |  SELECT q_id, q_label, label,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
      |  FROM cand),
      |hits AS (
      |  SELECT q_id, q_label,
      |    MIN(CASE WHEN label = q_label THEN rnk END) AS first_rank
      |  FROM r GROUP BY q_id, q_label)
      |SELECT q_label AS label,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(SUM(CASE WHEN first_rank IS NULL THEN 0
      |    ELSE 1000000 // first_rank END) AS BIGINT) AS sum_rr_micro,
      |  CAST(SUM(CASE WHEN first_rank IS NULL THEN 0
      |    ELSE 1000000 // first_rank END) AS BIGINT) // COUNT(*) AS mrr_micro
      |FROM hits GROUP BY q_label ORDER BY q_label""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    val qs = e.filter(
        substring(md5(col("vec_id").cast(StringType)), 1, 1) === "0")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val cand = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        VecMath.fcosine(col("embedding"), col("q_emb")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val hits = cand
      .select(col("q_id"), col("q_label"), col("label"),
        row_number().over(w).cast(LongType).as("rnk"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(min(when(col("label") === col("q_label"), col("rnk"))).as("first_rank"))
    hits.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("first_rank").isNull, 0L)
          .otherwise(expr("1000000 div first_rank"))).as("sum_rr_micro"))
      .select(col("label"), col("n_queries"), col("sum_rr_micro"),
        expr("sum_rr_micro div n_queries").as("mrr_micro"))
      .orderBy(col("label"))
  }

  /** Score-calibration bins (r15) — the model-monitoring reliability
    * table: a monotone "predicted probability" (order-date position
    * inside the observed date span, exact floor-ppm — a stand-in for
    * any model score already materialized as a column) binned into 10
    * fixed-width buckets against the binary outcome "order finished"
    * (status F). Per bin: volume, mean score, observed positive rate,
    * signed calibration gap (no division — exact), and the Brier
    * contribution in (ppm)² scale. Span bounds come from a 1-row
    * broadcast agg, so the pass is one scan + one 10-row agg;
    * `eval_gains_capture` grades ranking power, this grades
    * probability CALIBRATION — the two failure modes are
    * independent. */
  val evalCalibrationBins: QDef = q(
    "eval_calibration_bins",
    """WITH b AS (
      |  SELECT CAST(MIN(o_orderdate) AS DATE) AS mn,
      |    date_diff('day', CAST(MIN(o_orderdate) AS DATE),
      |      CAST(MAX(o_orderdate) AS DATE)) AS span
      |  FROM orders),
      |sc AS (
      |  SELECT
      |    date_diff('day', mn, CAST(o_orderdate AS DATE)) * 1000000 // span
      |      AS p_ppm,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders CROSS JOIN b)
      |SELECT least(p_ppm // 100000, 9) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm,
      |  CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
      |  CAST(SUM(p_ppm) // COUNT(*)
      |    - SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS gap_ppm,
      |  CAST(SUM((p_ppm - y * 1000000) * (p_ppm - y * 1000000))
      |    // COUNT(*) AS BIGINT) AS brier_ppm2
      |FROM sc GROUP BY bin ORDER BY bin""") { (s, d) =>
    val b = Tables.orders(s, d)
      .agg(min(col("o_orderdate").cast(DateType)).as("mn"),
        datediff(max(col("o_orderdate").cast(DateType)),
          min(col("o_orderdate").cast(DateType))).as("span"))
    val sc = Tables.orders(s, d)
      .crossJoin(broadcast(b))
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), mn) AS BIGINT)" +
          " * 1000000 div span").as("p_ppm"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    sc.groupBy(expr("least(p_ppm div 100000, 9)").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("p_ppm")).as("sp"), sum(col("y")).as("sy"),
        sum(expr("(p_ppm - y * 1000000) * (p_ppm - y * 1000000)")).as("sb"))
      .select(col("bin"), col("n"),
        expr("CAST(sp div n AS BIGINT)").as("mean_p_ppm"),
        expr("CAST(sy * 1000000 div n AS BIGINT)").as("pos_rate_ppm"),
        expr("CAST(sp div n - sy * 1000000 div n AS BIGINT)").as("gap_ppm"),
        expr("CAST(sb div n AS BIGINT)").as("brier_ppm2"))
      .orderBy(col("bin"))
  }

  /** Dedup-threshold PR curve (r15d) — the eval that connects the
    * dedup and eval families: treat "LSH candidate with Jaccard ≥ t"
    * as a CLASSIFIER for the corpus's constructed duplication (same
    * 64-char text prefix — `dedup_prefix_cluster`'s notion, the
    * fixture's actual near-dup generator; exact md5 dups don't exist
    * below sf0.1) and grade its precision/recall/F1 at t = 50/70/90%
    * from ONE shared signature+candidate+verify pass (the
    * `corpus_dedup_impact_curve` machinery pointed at ground truth).
    * Truth-pair counts come from prefix group sizes (Σ C(n,2) —
    * never enumerated), true positives from the prefix-equality join
    * on the already-verified candidate pairs. Recall < 1 exposes
    * exactly the pairs banding+jaccard miss (prefix-dups whose tails
    * diverged); precision < 1 counts near-dups that do not share the
    * prefix — both are the honest numbers a dedup rollout reads.
    * F1 in floor-ppm via 2TP/(pred+truth) (no float division). The
    * threshold table left-joins the grouped counts, so a threshold no
    * candidate survives still emits its n_pred=0 row (ratios NULL
    * when their denominator is 0) — the curve never silently loses
    * thresholds on a sparser corpus. */
  val evalDedupPrCurve: QDef = q(
    "eval_dedup_pr_curve",
    s"""WITH ${lshCtes},
      |dg AS (SELECT doc_id, substr(text, 1, 64) AS pfx FROM documents),
      |truth AS (
      |  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_truth FROM (
      |    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dg GROUP BY pfx)),
      |scored AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |      / len(list_distinct(x.s || y.s)) AS jacc,
      |    da.pfx = db.pfx AS is_dup
      |  FROM cand c
      |  JOIN sets x ON x.doc_id = c.doc_a JOIN sets y ON y.doc_id = c.doc_b
      |  JOIN dg da ON da.doc_id = c.doc_a JOIN dg db ON db.doc_id = c.doc_b),
      |th AS (SELECT * FROM (VALUES (50), (70), (90)) t(t)),
      |pr AS (
      |  SELECT t AS pt, CAST(COUNT(*) AS BIGINT) AS p_pred,
      |    CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS p_tp
      |  FROM scored CROSS JOIN th
      |  WHERE jacc >= t / 100.0
      |  GROUP BY t),
      |fl AS (
      |  SELECT t, COALESCE(p_pred, 0) AS n_pred, COALESCE(p_tp, 0) AS n_tp
      |  FROM th LEFT JOIN pr ON pr.pt = th.t)
      |SELECT CAST(t AS BIGINT) AS threshold_pct, n_pred, n_tp, n_truth,
      |  CASE WHEN n_pred = 0 THEN CAST(NULL AS BIGINT)
      |    ELSE CAST(n_tp * 1000000 // n_pred AS BIGINT) END AS precision_ppm,
      |  CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT)
      |    ELSE CAST(n_tp * 1000000 // n_truth AS BIGINT) END AS recall_ppm,
      |  CASE WHEN n_pred + n_truth = 0 THEN CAST(NULL AS BIGINT)
      |    ELSE CAST(2 * n_tp * 1000000 // (n_pred + n_truth) AS BIGINT) END
      |    AS f1_ppm
      |FROM fl CROSS JOIN truth
      |ORDER BY threshold_pct""") { (s, d) =>
    val base = shingleBase(s, d)
    val pairs = exactJaccard(bandCandidates(base), base)
    val dg = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("pfx"))
    val truth = dg.groupBy(col("pfx")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("n_truth"))
    val scored = pairs
      .join(dg.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")),
        "doc_a")
      .join(dg.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")),
        "doc_b")
      .select(col("jacc"), (col("pfx_a") === col("pfx_b")).as("is_dup"))
    // threshold table stays the LEFT side (ADVICE r15): a threshold
    // with zero surviving pairs must still emit its n_pred=0 row
    // (guarded NULL ratios) instead of silently vanishing from the
    // curve on a sparser corpus.
    val pr = scored.crossJoin(broadcast(PrivacyOps.intTable(s, "t", Seq(50, 70, 90))))
      .filter(col("jacc") >= col("t") / 100.0)
      .groupBy(col("t").as("pt"))
      .agg(count(lit(1)).as("p_pred"), count_if(col("is_dup")).as("p_tp"))
    PrivacyOps.intTable(s, "t", Seq(50, 70, 90))
      .join(broadcast(pr), col("pt") === col("t"), "left")
      .select(col("t"), coalesce(col("p_pred"), lit(0L)).as("n_pred"),
        coalesce(col("p_tp"), lit(0L)).as("n_tp"))
      .crossJoin(broadcast(truth))
      .select(col("t").cast(LongType).as("threshold_pct"), col("n_pred"),
        col("n_tp"), col("n_truth"),
        expr("CASE WHEN n_pred = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE CAST(n_tp * 1000000 div n_pred AS BIGINT) END")
          .as("precision_ppm"),
        expr("CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE CAST(n_tp * 1000000 div n_truth AS BIGINT) END")
          .as("recall_ppm"),
        expr("CASE WHEN n_pred + n_truth = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE CAST(2 * n_tp * 1000000 div (n_pred + n_truth) AS BIGINT)" +
          " END").as("f1_ppm"))
      .orderBy(col("threshold_pct"))
  }

  /** Incremental dedup-cluster maintenance (r16, VERDICT r15 item 2)
    * — the union-find upkeep a daily 100 TB dedup actually runs:
    * `dedup_cluster_cc` computes the corpus's duplicate clusters from
    * scratch; this key FOLDS an increment's verified near-dup pairs
    * into a STORED cluster map instead. Steps, all increment-sized
    * after the stored side is read:
    *
    *   1. stored prior map = CC over pairs among prior docs (stand-in
    *      for the persisted table a production run reads — built here
    *      because the fixture stores nothing);
    *   2. new edges = verified pairs with >= 1 increment endpoint
    *      (prior-prior pairs were all known at prior time);
    *   3. CONTRACT each new edge's endpoints through the stored map
    *      (prior doc -> its stored root, increment doc -> itself) —
    *      the quotient-graph trick that makes the merge loop run over
    *      roots + increment docs, never corpus nodes;
    *   4. CC over the contracted graph = which stored clusters merge
    *      and where the increment docs land;
    *   5. expand: every doc's new root = contracted-CC label of its
    *      contracted id (untouched clusters keep their root).
    *
    * Output = the full updated map with maintenance provenance:
    * cluster id (min doc_id — stored roots are min prior members, so
    * the contracted min IS the global min), cluster size, prior
    * membership, the stored map's root, and the `relabeled` flag
    * marking exactly the rows an incremental writer rewrites. The
    * oracle recomputes BOTH maps from scratch (two recursive CTEs),
    * so the grade IS the merge == full-recompute equality; the spec
    * additionally pins this key's map against the graded
    * `dedup_cluster_cc` output row-for-row. Scale: loop shuffles
    * follow pair counts (contracted graph <= increment edge count);
    * the corpus appears only in the stored-map read and the final
    * assembly join — per-increment cost follows increment-edge
    * incidence, not corpus size. */
  val dedupClusterIncremental: QDef = q(
    "dedup_cluster_incremental",
    s"""WITH RECURSIVE pairs AS (
       |${dedupMinhashLsh.oracle.get}
       |),
       |par AS (
       |  SELECT doc_id,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7' AS is_prior
       |  FROM documents),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |pedges AS (
       |  SELECT e.src, e.dst FROM edges e
       |  JOIN par a ON a.doc_id = e.src
       |  JOIN par b ON b.doc_id = e.dst
       |  WHERE a.is_prior AND b.is_prior),
       |reach(id, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
       |cc AS (
       |  SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id),
       |preach(id, root) AS (
       |  SELECT doc_id, doc_id FROM par WHERE is_prior
       |  UNION
       |  SELECT e.dst, r.root FROM preach r JOIN pedges e ON e.src = r.id),
       |pcc AS (
       |  SELECT id AS doc_id, MIN(root) AS prior_root FROM preach GROUP BY id)
       |SELECT c.doc_id, c.cluster_id,
       |  COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
       |  CAST(p.is_prior AS INT) AS was_prior,
       |  CASE WHEN p.is_prior THEN pc.prior_root END AS prior_cluster_id,
       |  CAST(p.is_prior AND pc.prior_root <> c.cluster_id AS INT) AS relabeled
       |FROM cc c
       |JOIN par p ON p.doc_id = c.doc_id
       |LEFT JOIN pcc pc ON pc.doc_id = c.doc_id
       |ORDER BY c.doc_id""") { (s, d) =>
    val pairsDeep = minhashPairs(s, d)
      .select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairsDeep.count()
    val pairs = s.createDataFrame(pairsDeep.rdd, pairsDeep.schema)
    // loop shuffles sized from the measured pair count, like
    // dedup_cluster_cc
    val (pmap, endsRoot) = graft.pipeline.ConnectedComponents.withLoopWidth(s, nPairs) {
      // 1. the "stored" prior map: CC over prior-prior edges
      val pe = pairs
        .filter(isPrior(col("doc_a")) && isPrior(col("doc_b")))
        .select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      pe.count()
      val pmap = graft.pipeline.ConnectedComponents
        .minLabel(s, pe, "dedup_cluster_incremental/prior")
      // 2.+3. increment edges contracted through the stored map
      // (increment ids never appear in pmap, so a bare coalesce maps
      // prior endpoints to their root and leaves increment ids alone)
      val ce = pairs
        .filter(!(isPrior(col("doc_a")) && isPrior(col("doc_b"))))
        .join(pmap.select(col("id").as("pa_id"), col("lbl").as("pa_lbl")),
          col("doc_a") === col("pa_id"), "left")
        .join(pmap.select(col("id").as("pb_id"), col("lbl").as("pb_lbl")),
          col("doc_b") === col("pb_id"), "left")
        .select(coalesce(col("pa_lbl"), col("doc_a")).as("ca"),
          coalesce(col("pb_lbl"), col("doc_b")).as("cb"))
        .select(explode(array(
          struct(col("ca").as("src"), col("cb").as("dst")),
          struct(col("cb").as("src"), col("ca").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      ce.count()
      // 4. the merge loop over the contracted graph
      val upd = graft.pipeline.ConnectedComponents
        .minLabel(s, ce, "dedup_cluster_incremental/merge")
      // 5. expand to every edge-touched doc: contracted id -> new root
      val ends = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .distinct()
      val endsRoot = ends
        .join(pmap.select(col("id").as("p_id"), col("lbl").as("p_lbl")),
          col("id") === col("p_id"), "left")
        .select(col("id"), coalesce(col("p_lbl"), col("id")).as("cr"))
        .join(upd.select(col("id").as("u_id"), col("lbl").as("u_lbl")),
          col("cr") === col("u_id"), "left")
        .select(col("id"), coalesce(col("u_lbl"), col("cr")).as("lbl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      endsRoot.count()
      (pmap, endsRoot)
    }
    // sizes from the TINY label table (every member of a >=2-doc final
    // cluster is an edge endpoint by construction); docs outside it
    // are singletons of size 1 — same argument as dedup_cluster_cc
    val sized = endsRoot
      .join(endsRoot.groupBy(col("lbl").as("l2")).agg(count(lit(1)).as("sz")),
        col("lbl") === col("l2"))
      .select(col("id"), col("lbl"), col("sz"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(sized, col("doc_id") === col("id"), "left")
      .join(pmap.select(col("id").as("pm_id"), col("lbl").as("pm_lbl")),
        col("doc_id") === col("pm_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"),
        isPrior(col("doc_id")).cast("int").as("was_prior"),
        when(isPrior(col("doc_id")),
          coalesce(col("pm_lbl"), col("doc_id"))).as("prior_cluster_id"),
        (isPrior(col("doc_id")) &&
          coalesce(col("pm_lbl"), col("doc_id")) =!=
            coalesce(col("lbl"), col("doc_id"))).cast("int").as("relabeled"))
      .orderBy(col("doc_id"))
  }

  /** NDCG@10 retrieval eval (r16) — position-weighted retrieval
    * quality next to `eval_retrieval_mrr` (first-hit only) and
    * `eval_ann_recall` (set overlap, position-blind): same md5-sampled
    * query set, same brute-force cosine ranks (the shared quantized
    * float tree, spec-pinned bit-identical across engines), relevance
    * = same label. The log2 discounts are a 10-row LITERAL table
    * (floor(1e6/log2(i+1)), documented constants — the transcendental
    * never runs at query time, the D6 discipline), ideal DCG from the
    * same table capped at min(n_rel, 10), per-query NDCG in
    * floor-micro, label-level floor mean. Queries with no same-label
    * candidate contribute 0. Eval-tier brute force by design —
    * production retrieval routes through `ann_ivf_label`. */
  val evalNdcgAt10: QDef = q(
    "eval_ndcg_at10",
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |  FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |cand AS (
      |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
      |    ${VecMath.sqlCosine("e.embedding", "q.q_emb")} AS sim
      |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
      |r AS (
      |  SELECT q_id, q_label, label,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
      |  FROM cand),
      |disc AS (SELECT * FROM (VALUES (1, 1000000), (2, 630929),
      |  (3, 500000), (4, 430676), (5, 386852), (6, 356207), (7, 333333),
      |  (8, 315464), (9, 301029), (10, 289064)) t(i, dmicro)),
      |qd AS (
      |  SELECT r.q_id, r.q_label,
      |    CAST(SUM(CASE WHEN r.label = r.q_label AND r.rnk <= 10
      |      THEN d.dmicro ELSE 0 END) AS BIGINT) AS dcg_micro,
      |    CAST(SUM(CASE WHEN r.label = r.q_label THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_rel
      |  FROM r LEFT JOIN disc d ON d.i = r.rnk
      |  GROUP BY r.q_id, r.q_label),
      |qn AS (
      |  SELECT qd.q_id, qd.q_label, qd.dcg_micro,
      |    CAST(SUM(CASE WHEN d.i <= LEAST(qd.n_rel, 10) THEN d.dmicro
      |      ELSE 0 END) AS BIGINT) AS idcg_micro
      |  FROM qd CROSS JOIN disc d
      |  GROUP BY qd.q_id, qd.q_label, qd.dcg_micro),
      |nq AS (
      |  SELECT q_label,
      |    CASE WHEN idcg_micro = 0 THEN 0
      |      ELSE CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) END
      |      AS ndcg_micro
      |  FROM qn)
      |SELECT q_label AS label,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(SUM(ndcg_micro) AS BIGINT) AS sum_ndcg_micro,
      |  CAST(SUM(ndcg_micro) AS BIGINT) // COUNT(*) AS mean_ndcg_micro
      |FROM nq GROUP BY q_label ORDER BY label""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val discRows = Seq((1, 1000000L), (2, 630929L), (3, 500000L),
      (4, 430676L), (5, 386852L), (6, 356207L), (7, 333333L),
      (8, 315464L), (9, 301029L), (10, 289064L))
    val disc = discRows.toDF("i", "dmicro")
    val e = Tables.embeddings(s, d)
    val qs = e.filter(
        substring(md5(col("vec_id").cast(StringType)), 1, 1) === "0")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val cand = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        VecMath.fcosine(col("embedding"), col("q_emb")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val qd = cand
      .select(col("q_id"), col("q_label"), col("label"),
        row_number().over(w).cast(LongType).as("rnk"))
      .join(broadcast(disc), col("i") === col("rnk"), "left")
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label") && col("rnk") <= 10,
          col("dmicro")).otherwise(0L)).as("dcg_micro"),
        sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_rel"))
    val qn = qd.crossJoin(broadcast(disc.select(col("i").as("ii"),
        col("dmicro").as("dd"))))
      .groupBy(col("q_id"), col("q_label"), col("dcg_micro"))
      .agg(sum(when(col("ii") <= least(col("n_rel"), lit(10L)), col("dd"))
        .otherwise(0L)).as("idcg_micro"))
    qn.select(col("q_label"),
        when(col("idcg_micro") === 0, 0L)
          .otherwise(expr("CAST(dcg_micro * 1000000 div idcg_micro"
            + " AS BIGINT)")).as("ndcg_micro"))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("ndcg_micro")).as("sum_ndcg_micro"))
      .select(col("label"), col("n_queries"), col("sum_ndcg_micro"),
        expr("sum_ndcg_micro div n_queries").as("mean_ndcg_micro"))
      .orderBy(col("label"))
  }

  /** Max-inner-product top-k (r16) — the recommender-scoring twin of
    * `sim_search_topk`: UNNORMALIZED dot products against the query
    * vector (MIPS — cosine's normalization is exactly what a trained
    * scoring model's magnitude encodes, so recommenders rank by raw
    * dot), top-10 under (dot DESC, vec_id) total order. The dot is
    * the shared sequential float→double fold rounded to 6 (D10);
    * TakeOrdered physical top-k, query side a 1-row broadcast. At
    * scale MIPS routes through the same IVF/LSH structures with the
    * norm folded into an extra dimension — this is the eval-tier
    * exact pass. */
  val simMipsTopk: QDef = q(
    "sim_mips_topk",
    s"""WITH q AS (
      |  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |    ROUND(${VecMath.sqlDot("e.embedding", "q_emb")}, 6) AS dot
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> 0)
      |SELECT vec_id, label, dot FROM d
      |ORDER BY dot DESC, vec_id LIMIT 10""") { (s, d) =>
    val q0 = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    Tables.embeddings(s, d).crossJoin(broadcast(q0))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(VecMath.fdot(col("embedding"), col("q_emb")), 6).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(10)
  }

  /** Cohen's kappa inter-rater agreement (r16) — the eval-ops metric
    * behind every "do our two quality classifiers agree beyond
    * chance" readout: two deterministic binary raters over documents
    * (length rule n_chars ≥ 450; lexical-diversity rule distinct
    * tokens ≥ 70% of tokens — both verified non-degenerate at every
    * fixture tier), their 2×2 confusion, observed/expected agreement
    * in floor-ppm, and kappa in ppm via the all-integer
    * (n·(a+d) − E) / (n² − E) spelling (negative kappa divides by
    * bare truncating div — identical both engines; NULL-guarded if a
    * rater is constant). One scan + a 1-row fold. */
  val evalCohensKappa: QDef = q(
    "eval_cohens_kappa",
    """WITH r AS (
      |  SELECT CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END AS ra,
      |    CASE WHEN len(list_distinct(string_split(text, ' '))) * 10
      |      >= len(string_split(text, ' ')) * 7 THEN 1 ELSE 0 END AS rb
      |  FROM documents),
      |c AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ra * rb) AS BIGINT) AS a,
      |    CAST(SUM(ra * (1 - rb)) AS BIGINT) AS b,
      |    CAST(SUM((1 - ra) * rb) AS BIGINT) AS c2,
      |    CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS d2
      |  FROM r)
      |SELECT n, a, b, c2 AS c, d2 AS d,
      |  CAST((a + d2) * 1000000 // n AS BIGINT) AS po_ppm,
      |  CAST(((a + b) * (a + c2) + (c2 + d2) * (b + d2)) * 1000000
      |    // (n * n) AS BIGINT) AS pe_ppm,
      |  CASE WHEN n * n = (a + b) * (a + c2) + (c2 + d2) * (b + d2)
      |    THEN CAST(NULL AS BIGINT)
      |    ELSE CAST((n * (a + d2)
      |        - ((a + b) * (a + c2) + (c2 + d2) * (b + d2))) * 1000000
      |      // (n * n - ((a + b) * (a + c2) + (c2 + d2) * (b + d2)))
      |      AS BIGINT) END AS kappa_ppm
      |FROM c""") { (s, d) =>
    val r = Tables.documents(s, d)
      .select(
        when(col("n_chars") >= 450, 1L).otherwise(0L).as("ra"),
        when(size(array_distinct(split(col("text"), " "))) * 10 >=
          size(split(col("text"), " ")) * 7, 1L).otherwise(0L).as("rb"))
    val c = r.agg(count(lit(1)).as("n"),
      sum(col("ra") * col("rb")).as("a"),
      sum(col("ra") * (lit(1L) - col("rb"))).as("b"),
      sum((lit(1L) - col("ra")) * col("rb")).as("c2"),
      sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("d2"))
    c.select(col("n"), col("a"), col("b"), col("c2").as("c"),
        col("d2").as("d"),
        expr("CAST((a + d2) * 1000000 div n AS BIGINT)").as("po_ppm"),
        expr("CAST(((a + b) * (a + c2) + (c2 + d2) * (b + d2)) * 1000000"
          + " div (n * n) AS BIGINT)").as("pe_ppm"),
        expr("CASE WHEN n * n = (a + b) * (a + c2) + (c2 + d2) * (b + d2)"
          + " THEN CAST(NULL AS BIGINT)"
          + " ELSE CAST((n * (a + d2)"
          + " - ((a + b) * (a + c2) + (c2 + d2) * (b + d2))) * 1000000"
          + " div (n * n - ((a + b) * (a + c2) + (c2 + d2) * (b + d2)))"
          + " AS BIGINT) END").as("kappa_ppm"))
  }

  /** Deterministic geometric HNSW layer of vec_id (md5 leading-zero
    * hex chars, capped at 4) — ONE rendering shared by
    * `ann_hnsw_layer_assign` and r18's `ann_hnsw_greedy_route`. */
  private val hnswLayerSqlExpr: String =
    """CASE WHEN 32 - length(trim(LEADING '0' FROM
      |        md5(CAST(vec_id AS VARCHAR)))) > 4 THEN 4
      |      ELSE 32 - length(trim(LEADING '0' FROM
      |        md5(CAST(vec_id AS VARCHAR)))) END""".stripMargin

  /** Spark twin of `hnswLayerSqlExpr` (column name `vec_id` fixed). */
  private def hnswLayerCol: Column = {
    val lz = lit(32) - length(expr(
      "trim(LEADING '0' FROM md5(CAST(vec_id AS STRING)))"))
    when(lz > 4, 4).otherwise(lz)
  }

  /** 4-band LSH view of a (doc_id, h0..h7) signature table — the
    * `bandCandidates` banding, exposed over an arbitrary
    * signature source so it can run over the STORED table. */
  private def sigBands(t: DataFrame): DataFrame =
    t.select(col("doc_id"),
      posexplode(array(
        concat_ws("|", col("h0"), col("h1")),
        concat_ws("|", col("h2"), col("h3")),
        concat_ws("|", col("h4"), col("h5")),
        concat_ws("|", col("h6"), col("h7"))))
        .as(Seq("band", "sig")))

  /** Stored-signature contract audit (r17, VERDICT r16 item 3) — the
    * remaining assumption under incremental dedup, now graded:
    * `dedup_incremental_snapshot` and `dedup_cluster_incremental`
    * both argue "at 100 TB the prior side is the STORED
    * digest+signature table", but nothing graded that a signature
    * table written at time T and re-read equals recomputation from
    * prior text — the contract that lets the daily run skip prior
    * text entirely. This key:
    *
    *   1. builds the md5-parity prior docs' minhash signatures from
    *      text (the shared `shingleBase` pass — one spelling with
    *      every other minhash consumer), WRITES them through the
    *      parquet sink, and re-reads;
    *   2. pins the roundtrip signature-for-signature: the full outer
    *      join of stored vs recomputed counts presence AND value
    *      mismatches (`n_roundtrip_mismatch` — the oracle states the
    *      contract as literal 0, so ANY parquet-boundary perturbation
    *      is a loud hash failure);
    *   3. runs the increment classification off the STORED table
    *      ONLY: increment docs' band signatures (from today's text)
    *      equality-join the stored side's bands — the signature-only
    *      match a stored table supports (exact-Jaccard verify needs
    *      shingle sets, which a production store doesn't keep).
    *
    * The oracle recomputes everything from text (both "stored" and
    * increment sides), so the grade certifies stored == recomputed
    * end to end. Scale: the stored side is read, never rebuilt; the
    * band join shuffles signature-sized rows; every count is a 1-row
    * broadcast fold. Signatures are hex STRINGS (8 chars) — parquet
    * roundtrips them losslessly by construction, which is exactly
    * what the grade certifies. */
  val dedupSignatureStoreRoundtrip: QDef = q(
    "dedup_signature_store_roundtrip",
    s"""WITH ${mhCtes},
      |sigp AS (SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM mh
      |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7'),
      |sigi AS (SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM mh
      |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) > '7'),
      |bp AS (
      |  SELECT doc_id, unnest(range(0, 4)) AS band,
      |    unnest([h0 || '|' || h1, h2 || '|' || h3,
      |            h4 || '|' || h5, h6 || '|' || h7]) AS sig
      |  FROM sigp),
      |bi AS (
      |  SELECT doc_id, unnest(range(0, 4)) AS band,
      |    unnest([h0 || '|' || h1, h2 || '|' || h3,
      |            h4 || '|' || h5, h6 || '|' || h7]) AS sig
      |  FROM sigi),
      |dup AS (SELECT DISTINCT bi.doc_id FROM bi JOIN bp
      |  ON bi.band = bp.band AND bi.sig = bp.sig)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sigp) AS n_prior,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sigp) AS n_stored,
      |  CAST(0 AS BIGINT) AS n_roundtrip_mismatch,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sigi) AS n_increment,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dup) AS n_inc_band_dup,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sigi)
      |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM dup) AS n_inc_new""") { (s, d) =>
    val base = shingleBase(s, d)
    val sigCols = Seq(col("doc_id")) ++ (0 until 8).map(i => col(s"h$i"))
    val prior = base.filter(isPrior(col("doc_id"))).select(sigCols: _*)
    val inc = base.filter(!isPrior(col("doc_id"))).select(sigCols: _*)
    // The parquet sink + re-read IS the operator under test. The
    // write is the query's first action, so it also materializes the
    // shared shingleBase cache before any branch forks it.
    val out = graft.TempDirs.create("graft_sigstore")
    prior.sort(col("doc_id")).coalesce(1)
      .write.mode("overwrite").parquet(out)
    val stored = s.read.parquet(out)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // roundtrip audit: presence or value drift on ANY of the 8 slots
    val st = stored.select(Seq(col("doc_id").as("s_id")) ++
      (0 until 8).map(i => col(s"h$i").as(s"s_h$i")): _*)
    val anyDrift = col("doc_id").isNull || col("s_id").isNull ||
      (0 until 8).map(i => col(s"h$i") =!= col(s"s_h$i"))
        .reduce(_ || _)
    // coalesce: SUM over zero rows is NULL, but the oracle states the
    // contract as literal 0 — an empty prior partition must still
    // match (ADVICE r17).
    val aMis = prior.join(st, col("doc_id") === col("s_id"), "full")
      .agg(coalesce(sum(when(anyDrift, 1L).otherwise(0L)), lit(0L))
        .as("n_roundtrip_mismatch"))
    val aPrior = prior.agg(count(lit(1)).as("n_prior"))
    val aStored = stored.agg(count(lit(1)).as("n_stored"))
    val aInc = inc.agg(count(lit(1)).as("n_increment"))
    // classification leg: increment text vs STORED signatures only
    val dup = sigBands(inc.select(sigCols: _*))
      .join(sigBands(stored)
          .select(col("band").as("p_band"), col("sig").as("p_sig")),
        col("band") === col("p_band") && col("sig") === col("p_sig"))
      .select(col("doc_id")).distinct()
    val aDup = dup.agg(count(lit(1)).as("n_inc_band_dup"))
    aPrior.crossJoin(broadcast(aStored)).crossJoin(broadcast(aMis))
      .crossJoin(broadcast(aInc)).crossJoin(broadcast(aDup))
      .select(col("n_prior"), col("n_stored"), col("n_roundtrip_mismatch"),
        col("n_increment"), col("n_inc_band_dup"),
        (col("n_increment") - col("n_inc_band_dup")).as("n_inc_new"))
  }

  /** Reciprocal-rank fusion (r17, VERDICT r16 item 4) — the hybrid
    * lexical+dense retrieval leg production RAG runs and the
    * similarity family graded only separately: the 3-term BM25
    * ranking (`CorpusOps.bm25Scores` — ONE spelling with
    * `bm25_topdocs`) fused with the cosine ranking against the
    * vec_id-0 probe (the `sim_mips_topk` probe convention, house
    * quantized cosine). Each leg's top-50 is ranked by a broadcast
    * rank self-join (the `sketch_heavy_hitters_merge` pattern — NO
    * unpartitioned window), fused as RRF score = Σ 1e6 div (60+rank)
    * in exact integers via a union + group (no full-outer join —
    * same rows, broadcastable shape), top-20 under (rrf DESC,
    * doc_id). Docs in one list only keep a NULL rank on the missing
    * leg and contribute one term. Scale: each leg's candidate scan is
    * the leg's own graded posture (BM25 = matching docs only; dense =
    * brute-force eval tier, IVF at scale); everything after the two
    * TakeOrdered(50)s is constant-size. */
  val evalRrfFusion: QDef = q(
    "eval_rrf_fusion",
    s"""WITH ${CorpusOps.bm25Ctes},
      |lex50 AS (
      |  SELECT doc_id, score_micro FROM bm25
      |  ORDER BY score_micro DESC, doc_id LIMIT 50),
      |lexr AS (
      |  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM lex50 a JOIN lex50 b
      |    ON b.score_micro > a.score_micro
      |    OR (b.score_micro = a.score_micro AND b.doc_id <= a.doc_id)
      |  GROUP BY a.doc_id),
      |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |den AS (
      |  SELECT e.vec_id AS doc_id,
      |    ${VecMath.sqlCosine("e.embedding", "q_emb")} AS sim
      |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
      |den50 AS (
      |  SELECT doc_id, sim FROM den ORDER BY sim DESC, doc_id LIMIT 50),
      |denr AS (
      |  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM den50 a JOIN den50 b
      |    ON b.sim > a.sim OR (b.sim = a.sim AND b.doc_id <= a.doc_id)
      |  GROUP BY a.doc_id),
      |contrib AS (
      |  SELECT doc_id, 'lex' AS leg, r FROM lexr
      |  UNION ALL
      |  SELECT doc_id, 'dense' AS leg, r FROM denr),
      |fused AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN leg = 'lex' THEN r END) AS rank_lex,
      |    MAX(CASE WHEN leg = 'dense' THEN r END) AS rank_dense,
      |    CAST(SUM(1000000 // (60 + r)) AS BIGINT) AS rrf_micro
      |  FROM contrib GROUP BY doc_id)
      |SELECT doc_id, rank_lex, rank_dense, rrf_micro
      |FROM fused
      |ORDER BY rrf_micro DESC, doc_id
      |LIMIT 20""") { (s, d) =>
    // top-50 + broadcast rank self-join, once per leg (ties broken by
    // doc_id; inclusive <= makes the count the 1-based rank itself)
    def rank50(top: DataFrame, score: String): DataFrame =
      top.as("a")
        .join(broadcast(top.select(col("doc_id").as("bd"),
            col(score).as("bs"))),
          col("bs") > col(s"a.$score") ||
            (col("bs") === col(s"a.$score") && col("bd") <= col("a.doc_id")))
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("r"))
    // r19 batch 3 (guide §5 persist-when-reused): rank50 references
    // its input on BOTH join sides, so each unpersisted 50-row leg
    // re-ran its whole upstream pipeline twice — the full BM25 score
    // pass and the full cosine scan were each paid double.
    val lex50 = CorpusOps.bm25Scores(s, d)
      .select(col("doc_id"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lexr = rank50(lex50, "score_micro")
    val q0 = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val den50 = Tables.embeddings(s, d).crossJoin(broadcast(q0))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"),
        VecMath.fcosine(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(50)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val denr = rank50(den50, "sim")
    lexr.select(col("doc_id"), lit("lex").as("leg"), col("r"))
      .union(denr.select(col("doc_id"), lit("dense").as("leg"), col("r")))
      .groupBy(col("doc_id"))
      .agg(max(when(col("leg") === "lex", col("r"))).as("rank_lex"),
        max(when(col("leg") === "dense", col("r"))).as("rank_dense"),
        sum(expr("1000000 div (60 + r)")).cast(LongType).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(20)
  }

  /** Exact rank-based ROC AUC (r17) — the threshold-free twin of
    * `eval_calibration_bins`/`eval_ndcg_at10` for the retrieval-eval
    * family: per md5-sampled query (the `eval_retrieval_mrr` query
    * set), AUC of the cosine score as a same-label classifier, via
    * the Mann–Whitney identity AUC = (ΣR₊ − n₊(n₊+1)/2)/(n₊n₋) with
    * tied scores at their MID-rank. Everything is exact integers:
    * scores collapse to (q_id, sim) groups first (sims are the house
    * round-6 quantized cosine — bit-identical across engines, and
    * DISTINCT within a query after the group), min-rank = 1 +
    * running count of strictly-smaller groups (a q_id-partitioned
    * prefix window — never unpartitioned), and 2·midrank = 2·min_rank
    * + tie_count − 1 stays integral. Per-query AUC in floor-ppm with
    * the n₊=0/n₋=0 degenerate guarded NULL in both engines; the ppm
    * product rides DECIMAL(38)/HUGEINT. Label-level floor mean over
    * the non-degenerate queries (count guarded), plus min/max.
    * Eval-tier brute force by design — the production path routes
    * candidates through `ann_ivf_label`. */
  val evalAucRoc: QDef = q(
    "eval_auc_roc",
    s"""WITH qs AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |  FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |cand AS (
      |  SELECT qs.q_id, qs.q_label,
      |    ${VecMath.sqlCosine("e.embedding", "qs.q_emb")} AS sim,
      |    CASE WHEN e.label = qs.q_label THEN 1 ELSE 0 END AS rel
      |  FROM embeddings e JOIN qs ON e.vec_id <> qs.q_id),
      |g AS (
      |  SELECT q_id, q_label, sim, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(rel) AS BIGINT) AS pos_cnt
      |  FROM cand GROUP BY q_id, q_label, sim),
      |r AS (
      |  SELECT q_id, q_label, cnt, pos_cnt,
      |    1 + COALESCE(SUM(cnt) OVER (PARTITION BY q_id ORDER BY sim
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS min_rank
      |  FROM g),
      |pq AS (
      |  SELECT q_id, q_label,
      |    CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(pos_cnt) AS BIGINT) AS n_pos,
      |    CAST(SUM(pos_cnt * (2 * min_rank + cnt - 1)) AS BIGINT) AS s2
      |  FROM r GROUP BY q_id, q_label),
      |a AS (
      |  SELECT q_id, q_label,
      |    CASE WHEN n_pos = 0 OR n - n_pos = 0 THEN NULL
      |      ELSE CAST(CAST(s2 - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
      |        // (2 * n_pos * (n - n_pos)) AS BIGINT) END AS auc_ppm
      |  FROM pq)
      |SELECT q_label AS label,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CASE WHEN COUNT(auc_ppm) = 0 THEN NULL
      |    ELSE CAST(SUM(auc_ppm) AS BIGINT) // COUNT(auc_ppm) END
      |    AS mean_auc_ppm,
      |  MIN(auc_ppm) AS min_auc_ppm, MAX(auc_ppm) AS max_auc_ppm
      |FROM a GROUP BY q_label ORDER BY label""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val qs = e.filter(
        substring(md5(col("vec_id").cast(StringType)), 1, 1) === "0")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val cand = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"),
        VecMath.fcosine(col("embedding"), col("q_emb")).as("sim"),
        when(col("label") === col("q_label"), 1L).otherwise(0L).as("rel"))
    val g = cand.groupBy(col("q_id"), col("q_label"), col("sim"))
      .agg(count(lit(1)).as("cnt"), sum(col("rel")).as("pos_cnt"))
    val wPre = Window.partitionBy(col("q_id")).orderBy(col("sim"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.select(col("q_id"), col("q_label"), col("cnt"), col("pos_cnt"),
      (lit(1L) + coalesce(sum(col("cnt")).over(wPre), lit(0L)))
        .as("min_rank"))
    val pq = r.groupBy(col("q_id"), col("q_label"))
      .agg(sum(col("cnt")).as("n"), sum(col("pos_cnt")).as("n_pos"),
        sum(col("pos_cnt") * (lit(2L) * col("min_rank") + col("cnt") - 1))
          .as("s2"))
    val a = pq.select(col("q_id"), col("q_label"),
      expr("CASE WHEN n_pos = 0 OR n - n_pos = 0 THEN NULL"
        + " ELSE CAST(CAST(s2 - n_pos * (n_pos + 1) AS DECIMAL(38,0))"
        + " * 1000000 div (2 * n_pos * (n - n_pos)) AS BIGINT) END")
        .as("auc_ppm"))
    a.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        expr("CASE WHEN COUNT(auc_ppm) = 0 THEN NULL"
          + " ELSE CAST(SUM(auc_ppm) AS BIGINT) div COUNT(auc_ppm) END")
          .as("mean_auc_ppm"),
        min(col("auc_ppm")).as("min_auc_ppm"),
        max(col("auc_ppm")).as("max_auc_ppm"))
      .orderBy(col("label"))
  }

  /** MAP@10 + P@10 + R@10 (r17) — the set-based retrieval metrics
    * completing the eval family (MRR = first hit, NDCG = graded
    * positions, AUC = threshold-free; this key = the binary-relevance
    * cut metrics). Same md5-sampled query set and brute-force cosine
    * ranks; relevance = same label. Average precision in exact
    * integers with the FLOOR-PER-TERM convention (each hit
    * contributes cum_rel·1e6 div rank; the sum divides by
    * min(n_rel, 10) — spelled as CASE, not LEAST, per the r15
    * decimal-least hazard note, though these are BIGINTs), P@10 =
    * hits·1e5 exactly, R@10 guarded on n_rel = 0 (contributes 0, the
    * `eval_ndcg_at10` convention). Label-level floor means. All
    * windows q_id-partitioned. */
  val evalMapAtK: QDef = q(
    "eval_map_at_k",
    s"""WITH qs AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |  FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |cand AS (
      |  SELECT qs.q_id, qs.q_label, e.vec_id,
      |    ${VecMath.sqlCosine("e.embedding", "qs.q_emb")} AS sim,
      |    CASE WHEN e.label = qs.q_label THEN 1 ELSE 0 END AS rel
      |  FROM embeddings e JOIN qs ON e.vec_id <> qs.q_id),
      |rk AS (
      |  SELECT q_id, q_label, rel,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
      |  FROM cand),
      |cu AS (
      |  SELECT q_id, q_label, rel, rnk,
      |    CAST(SUM(rel) OVER (PARTITION BY q_id) AS BIGINT) AS n_rel,
      |    CAST(SUM(rel) OVER (PARTITION BY q_id ORDER BY rnk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_rel
      |  FROM rk),
      |pq AS (
      |  SELECT q_id, q_label,
      |    MAX(n_rel) AS n_rel,
      |    CAST(SUM(CASE WHEN rnk <= 10 THEN rel ELSE 0 END) AS BIGINT)
      |      AS hits10,
      |    CAST(SUM(CASE WHEN rnk <= 10 AND rel = 1
      |      THEN cum_rel * 1000000 // rnk ELSE 0 END) AS BIGINT) AS ap_sum
      |  FROM cu GROUP BY q_id, q_label),
      |m AS (
      |  SELECT q_id, q_label,
      |    CASE WHEN n_rel = 0 THEN 0 ELSE ap_sum
      |      // (CASE WHEN n_rel < 10 THEN n_rel ELSE 10 END) END AS ap_micro,
      |    hits10 * 100000 AS p10_ppm,
      |    CASE WHEN n_rel = 0 THEN 0
      |      ELSE hits10 * 1000000 // n_rel END AS r10_ppm
      |  FROM pq)
      |SELECT q_label AS label,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(SUM(ap_micro) AS BIGINT) // COUNT(*) AS map_micro,
      |  CAST(SUM(p10_ppm) AS BIGINT) // COUNT(*) AS mean_p10_ppm,
      |  CAST(SUM(r10_ppm) AS BIGINT) // COUNT(*) AS mean_r10_ppm
      |FROM m GROUP BY q_label ORDER BY label""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val qs = e.filter(
        substring(md5(col("vec_id").cast(StringType)), 1, 1) === "0")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val cand = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        VecMath.fcosine(col("embedding"), col("q_emb")).as("sim"),
        when(col("label") === col("q_label"), 1L).otherwise(0L).as("rel"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val rk = cand.select(col("q_id"), col("q_label"), col("rel"),
      row_number().over(wRank).cast(LongType).as("rnk"))
    val wQ = Window.partitionBy(col("q_id"))
    val wCum = Window.partitionBy(col("q_id")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cu = rk.select(col("q_id"), col("q_label"), col("rel"), col("rnk"),
      sum(col("rel")).over(wQ).as("n_rel"),
      sum(col("rel")).over(wCum).as("cum_rel"))
    val pq = cu.groupBy(col("q_id"), col("q_label"))
      .agg(max(col("n_rel")).as("n_rel"),
        sum(when(col("rnk") <= 10, col("rel")).otherwise(0L)).as("hits10"),
        sum(when(col("rnk") <= 10 && col("rel") === 1,
          expr("cum_rel * 1000000 div rnk")).otherwise(0L)).as("ap_sum"))
    val m = pq.select(col("q_id"), col("q_label"),
      expr("CASE WHEN n_rel = 0 THEN 0 ELSE ap_sum"
        + " div (CASE WHEN n_rel < 10 THEN n_rel ELSE 10 END) END")
        .as("ap_micro"),
      (col("hits10") * 100000L).as("p10_ppm"),
      expr("CASE WHEN n_rel = 0 THEN 0"
        + " ELSE hits10 * 1000000 div n_rel END").as("r10_ppm"))
    m.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        expr("CAST(SUM(ap_micro) AS BIGINT) div COUNT(*)").as("map_micro"),
        expr("CAST(SUM(p10_ppm) AS BIGINT) div COUNT(*)").as("mean_p10_ppm"),
        expr("CAST(SUM(r10_ppm) AS BIGINT) div COUNT(*)").as("mean_r10_ppm"))
      .orderBy(col("label"))
  }

  /** b-bit minhash audit (r17) — the signature-compression question
    * next to `minhash_est_audit` (full 32-bit slots) and
    * `sim_pq_codes`/`embed_quantize_int8` (vector compression): if
    * the stored signature keeps only the LAST HEX CHAR (b=4 bits) of
    * each of the 8 slots — an 8× smaller table than
    * `dedup_signature_store_roundtrip` ships — how good is the
    * Jaccard estimate? Per LSH candidate pair: full-slot matches m32
    * (est = m/8), 4-bit matches mb with the Li–König collision
    * correction Ĵ = (p̂ − 2⁻ᵇ)/(1 − 2⁻ᵇ) = (2·mb − 1)/15 clamped at 0,
    * both in exact floor-micro, next to the exact shingle-set
    * Jaccard. All three columns derive from integer counts (the
    * exact Jaccard is the one graded division, same as
    * `dedup_minhash_lsh`). */
  val dedupMinhashBbit: QDef = q(
    "dedup_minhash_bbit",
    s"""WITH ${lshCtes}
      |SELECT c.doc_a, c.doc_b,
      |  CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS BIGINT) AS m32,
      |  CAST((CASE WHEN substr(a.h0, 8, 1) = substr(b.h0, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h1, 8, 1) = substr(b.h1, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h2, 8, 1) = substr(b.h2, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h3, 8, 1) = substr(b.h3, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h4, 8, 1) = substr(b.h4, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h5, 8, 1) = substr(b.h5, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h6, 8, 1) = substr(b.h6, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h7, 8, 1) = substr(b.h7, 8, 1) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS mb,
      |  CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) +
      |       (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS BIGINT) * 125000
      |    AS est_full_micro,
      |  CASE WHEN 2 * ((CASE WHEN substr(a.h0, 8, 1) = substr(b.h0, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h1, 8, 1) = substr(b.h1, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h2, 8, 1) = substr(b.h2, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h3, 8, 1) = substr(b.h3, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h4, 8, 1) = substr(b.h4, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h5, 8, 1) = substr(b.h5, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h6, 8, 1) = substr(b.h6, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h7, 8, 1) = substr(b.h7, 8, 1) THEN 1 ELSE 0 END)) - 1
      |      <= 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST((2 * ((CASE WHEN substr(a.h0, 8, 1) = substr(b.h0, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h1, 8, 1) = substr(b.h1, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h2, 8, 1) = substr(b.h2, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h3, 8, 1) = substr(b.h3, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h4, 8, 1) = substr(b.h4, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h5, 8, 1) = substr(b.h5, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h6, 8, 1) = substr(b.h6, 8, 1) THEN 1 ELSE 0 END) +
      |       (CASE WHEN substr(a.h7, 8, 1) = substr(b.h7, 8, 1) THEN 1 ELSE 0 END)) - 1)
      |      * 1000000 // 15 AS BIGINT) END AS est_bbit_micro,
      |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(x.s || y.s)) AS jacc
      |FROM cand c
      |JOIN mh a ON a.doc_id = c.doc_a JOIN mh b ON b.doc_id = c.doc_b
      |JOIN sets x ON x.doc_id = c.doc_a JOIN sets y ON y.doc_id = c.doc_b
      |ORDER BY doc_a, doc_b""") { (s, d) =>
    val base = shingleBase(s, d)
    val cand = bandCandidates(base)
    val sa = base.select(Seq(col("doc_id").as("a_id")) ++
      (0 until 8).map(i => col(s"h$i").as(s"a_h$i")): _*)
    val sb = base.select(Seq(col("doc_id").as("b_id")) ++
      (0 until 8).map(i => col(s"h$i").as(s"b_h$i")): _*)
    val m32 = (0 until 8).map(i =>
      when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val mb = (0 until 8).map(i =>
      when(substring(col(s"a_h$i"), 8, 1) === substring(col(s"b_h$i"), 8, 1),
        1L).otherwise(0L)).reduce(_ + _)
    val withSigs = cand
      .join(sa, col("doc_a") === col("a_id"))
      .join(sb, col("doc_b") === col("b_id"))
      .select(col("doc_a"), col("doc_b"), m32.as("m32"), mb.as("mb"))
    val jacc = exactJaccard(cand, base)
      .select(col("doc_a").as("j_a"), col("doc_b").as("j_b"), col("jacc"))
    withSigs
      .join(jacc, col("doc_a") === col("j_a") && col("doc_b") === col("j_b"))
      .select(col("doc_a"), col("doc_b"), col("m32"), col("mb"),
        (col("m32") * 125000L).as("est_full_micro"),
        when(lit(2L) * col("mb") - 1L <= 0L, 0L)
          .otherwise(expr("CAST((2 * mb - 1) * 1000000 div 15 AS BIGINT)"))
          .as("est_bbit_micro"),
        col("jacc"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Filtered vector search audit (r17) — the vector-DB question the
    * similarity family lacked: top-k under an attribute predicate
    * (candidate label = query label). Strategy A (pre-filter) ranks
    * only predicate-passing candidates; strategy B (post-filter with
    * 10×k over-fetch) takes the global top-50 and keeps passing rows.
    * Graded per label: how much of the true filtered top-5 the
    * post-filter recovered (recall floor-ppm) and how often the
    * over-fetch came back short — the number that decides whether a
    * filtered index (IVF per label / partitioned ANN) is needed at
    * scale or over-fetch suffices. Same md5-sampled queries, house
    * quantized cosine, q_id-partitioned windows only. */
  val simFilteredTopk: QDef = q(
    "sim_filtered_topk",
    s"""WITH qs AS (
      |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |  FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
      |cand AS (
      |  SELECT qs.q_id, qs.q_label, e.vec_id,
      |    ${VecMath.sqlCosine("e.embedding", "qs.q_emb")} AS sim,
      |    CASE WHEN e.label = qs.q_label THEN 1 ELSE 0 END AS pass
      |  FROM embeddings e JOIN qs ON e.vec_id <> qs.q_id),
      |pre AS (
      |  SELECT q_id, q_label, vec_id FROM (
      |    SELECT q_id, q_label, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY sim DESC, vec_id) AS rn
      |    FROM cand WHERE pass = 1) WHERE rn <= 5),
      |post AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id, pass,
      |      ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY sim DESC, vec_id) AS rn_all
      |    FROM cand) t
      |  WHERE rn_all <= 50 AND pass = 1
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rn_all) <= 5),
      |pq AS (
      |  SELECT pre.q_id, pre.q_label,
      |    CAST(COUNT(*) AS BIGINT) AS n_pre,
      |    CAST(COUNT(post.vec_id) AS BIGINT) AS n_hit
      |  FROM pre LEFT JOIN post
      |    ON post.q_id = pre.q_id AND post.vec_id = pre.vec_id
      |  GROUP BY pre.q_id, pre.q_label)
      |SELECT q_label AS label,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(SUM(n_pre) AS BIGINT) AS n_true_topk,
      |  CAST(SUM(n_hit) AS BIGINT) AS n_recovered,
      |  CAST(SUM(n_hit) * 1000000 // SUM(n_pre) AS BIGINT) AS recall_ppm,
      |  CAST(SUM(CASE WHEN n_hit < n_pre THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_queries_short
      |FROM pq GROUP BY q_label ORDER BY label""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val qs = e.filter(
        substring(md5(col("vec_id").cast(StringType)), 1, 1) === "0")
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val cand = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        VecMath.fcosine(col("embedding"), col("q_emb")).as("sim"),
        when(col("label") === col("q_label"), 1).otherwise(0).as("pass"))
    val wSim = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val pre = cand.filter(col("pass") === 1)
      .withColumn("rn", row_number().over(wSim))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("q_label"), col("vec_id"))
    val post = cand.withColumn("rn_all", row_number().over(wSim))
      .filter(col("rn_all") <= 50 && col("pass") === 1)
      .withColumn("rn_f", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rn_all"))))
      .filter(col("rn_f") <= 5)
      .select(col("q_id").as("p_qid"), col("vec_id").as("p_vid"))
    val pq = pre
      .join(post, col("p_qid") === col("q_id") && col("p_vid") === col("vec_id"),
        "left")
      .groupBy(col("q_id"), col("q_label"))
      .agg(count(lit(1)).as("n_pre"), count(col("p_vid")).as("n_hit"))
    pq.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_pre")).cast(LongType).as("n_true_topk"),
        sum(col("n_hit")).cast(LongType).as("n_recovered"),
        sum(when(col("n_hit") < col("n_pre"), 1L).otherwise(0L))
          .as("n_queries_short"))
      .select(col("label"), col("n_queries"), col("n_true_topk"),
        col("n_recovered"),
        expr("CAST(n_recovered * 1000000 div n_true_topk AS BIGINT)")
          .as("recall_ppm"),
        col("n_queries_short"))
      .orderBy(col("label"))
  }

  /** HNSW layer-assignment plan (r17) — the graph-ANN build-planning
    * leg next to `ann_ivf_label` (flat routing) and
    * `shard_plan_from_sketch` (range layout): the md5-geometric level
    * draw (P(level ≥ L) = 16⁻ᴸ — leading zero hex chars, capped at
    * 4) assigned deterministically per vector, graded as the layer
    * census with per-layer label diversity and the cumulative
    * upper-graph size (the entry-set each search descends through).
    * One scan + a 5×5 broadcast cumulative self-join — the census IS
    * the build plan: layer ≥ 1 nodes are the long-range links whose
    * memory must be provisioned up front. */
  val annHnswLayerAssign: QDef = q(
    "ann_hnsw_layer_assign",
    s"""WITH l AS (
      |  SELECT vec_id, label, $hnswLayerSqlExpr AS layer
      |  FROM embeddings),
      |c AS (
      |  SELECT layer, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
      |    MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
      |  FROM l GROUP BY layer)
      |SELECT a.layer, a.n_vecs, a.n_labels, a.min_vec, a.max_vec,
      |  CAST(SUM(b.n_vecs) AS BIGINT) AS n_at_or_above
      |FROM c a JOIN c b ON b.layer >= a.layer
      |GROUP BY a.layer, a.n_vecs, a.n_labels, a.min_vec, a.max_vec
      |ORDER BY a.layer""") { (s, d) =>
    val l = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), hnswLayerCol.as("layer"))
    val c = l.groupBy(col("layer"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("label")).as("n_labels"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
    c.as("a")
      .join(broadcast(c.select(col("layer").as("b_layer"),
          col("n_vecs").as("b_n"))),
        col("b_layer") >= col("a.layer"))
      .groupBy(col("a.layer").as("layer"), col("a.n_vecs").as("n_vecs"),
        col("a.n_labels").as("n_labels"), col("a.min_vec").as("min_vec"),
        col("a.max_vec").as("max_vec"))
      .agg(sum(col("b_n")).cast(LongType).as("n_at_or_above"))
      .orderBy(col("layer"))
  }

  /** Label-centroid distance matrix (r17) — the embedding-space
    * geometry report over the `sim_centroid_classifier` centroids
    * (same milli quantization, same sign-safe floor means): exact
    * integer L2² between every label-centroid pair (a < b) plus its
    * floor-sqrt in milli units — the confusability map an embedding
    * owner reads next to `eval_langid_confusion` (which labels are
    * too close for the classifier to separate). The matrix is
    * labels², computed from the labels×dims centroid table —
    * constant-size at any corpus scale. */
  val simCentroidDistanceMatrix: QDef = q(
    "sim_centroid_distance_matrix",
    """WITH comp AS (
      |  SELECT vec_id, label, t.pos AS pos,
      |    CAST(floor(CAST(embedding[t.pos] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |      AS milli
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)),
      |cent AS (
      |  SELECT label, pos, (s - ((s % n) + n) % n) // n AS c
      |  FROM (SELECT label, pos, CAST(SUM(milli) AS BIGINT) AS s,
      |          CAST(COUNT(*) AS BIGINT) AS n
      |        FROM comp GROUP BY label, pos) sums)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS d2_milli,
      |  CAST(floor(sqrt(CAST(SUM((a.c - b.c) * (a.c - b.c)) AS DOUBLE)))
      |    AS BIGINT) AS dist_milli
      |FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      |GROUP BY a.label, b.label
      |ORDER BY label_a, label_b""") { (s, d) =>
    val comp = Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        floor(col("x").cast(DoubleType) * 1000 + 0.5).cast(LongType)
          .as("milli"))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(sum(col("milli")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), expr("(s - pmod(s, n)) div n").as("c"))
    cent.as("a")
      .join(broadcast(cent.select(col("label").as("b_label"),
          col("pos").as("b_pos"), col("c").as("b_c"))),
        col("a.pos") === col("b_pos") && col("a.label") < col("b_label"))
      .groupBy(col("a.label").as("label_a"), col("b_label").as("label_b"))
      .agg(sum((col("c") - col("b_c")) * (col("c") - col("b_c")))
        .as("d2_milli"))
      .select(col("label_a"), col("label_b"), col("d2_milli"),
        floor(sqrt(col("d2_milli").cast(DoubleType))).cast(LongType)
          .as("dist_milli"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** The kmeans-family milli-centroid CTEs (ONE spelling with
    * `kmeans_assign`): per-(label, i) floor-mean centroid over the
    * milli-quantized component explode. */
  private val centCtes: String =
    """dims AS (SELECT unnest(range(1, 65)) AS i),
      |qv AS (
      |  SELECT vec_id, label, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc
      |  FROM embeddings CROSS JOIN dims),
      |cent AS (
      |  SELECT label AS cl, i,
      |    CAST(floor(CAST(SUM(qc) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      |  FROM qv GROUP BY label, i)""".stripMargin

  /** Spark twin of `centCtes`'s cent: (cl, i, c). Built over
    * `kmeansEx` so the quantization cannot drift. */
  private def centroids(s: SparkSession, d: String): DataFrame =
    kmeansEx(s, d)
      .groupBy(col("label").as("cl"), col("i"))
      .agg(floor(sum(col("qc")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("c"))

  /** Per-(probe, vector) exact integer squared L2 distance over the
    * milli components, probe panel = vec_id < 8 (the
    * `eval_ann_recall` panel convention), self-pairs excluded.
    * Returns (q_id, vec_id, label, d2). The panel side is an 8×64-row
    * broadcast, so the pair aggregation is one (q_id, vec_id)-keyed
    * shuffle bounded by 8·N rows — the eval-tier brute-force cost,
    * never corpus². */
  private def panelD2(s: SparkSession, d: String): DataFrame = {
    val ex = kmeansEx(s, d)
    val qp = ex.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("i").as("qi"),
        col("qc").as("qqc"))
    ex.join(broadcast(qp),
        col("i") === col("qi") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"), col("label"))
      .agg(sum((col("qc") - col("qqc")) * (col("qc") - col("qqc")))
        .as("d2"))
  }

  /** SQL twin of `panelD2` as a CTE block (expects `qv` from
    * `centCtes` in scope). */
  private val panelD2Ctes: String =
    """qp AS (SELECT vec_id AS q_id, i, qc AS qqc FROM qv WHERE vec_id < 8),
      |vd AS (
      |  SELECT qp.q_id, qv.vec_id, qv.label,
      |    SUM((qv.qc - qp.qqc) * (qv.qc - qp.qqc)) AS d2
      |  FROM qv JOIN qp ON qv.i = qp.i AND qv.vec_id <> qp.q_id
      |  GROUP BY qp.q_id, qv.vec_id, qv.label)""".stripMargin

  /** SemDeDup-style cluster-level semantic prune (r18, VERDICT r17
    * item 1) — the dedup rung between near-embedding PAIRS
    * (`dedup_near_embedding`, still pair-shaped) and what 100 TB
    * corpora actually run: cluster the embedding space (the graded
    * `kmeans_assign` milli centroids — label-seeded, ONE spelling),
    * then WITHIN each cluster keep the member closest to the
    * centroid as the representative and prune every other member
    * whose cosine-to-centroid clears the redundancy threshold 0.25
    * (members that near-collapse onto the centroid direction are
    * semantic copies of the representative's region; the fixture's
    * cos-to-centroid spread is ≈[−0.15, 0.44], so 0.25 prunes a real
    * tail). Cost follows CLUSTER SIZES, never corpus²: one
    * (vec, own-label) dot against a broadcast 640-row centroid
    * table, one label-partitioned rank window, one label fold — no
    * pair join anywhere in the plan. The cosine is the house one
    * identical float tree (exact BIGINT dot and norms into one
    * ROUND(·, 6) division); everything after is exact integers.
    * Graded per cluster: member census, representative, pruned /
    * kept counts, pruned fraction in ppm. */
  val dedupSemanticPrune: QDef = q(
    "dedup_semantic_prune",
    s"""WITH $centCtes,
      |nc AS (SELECT cl, SUM(c * c) AS ncl FROM cent GROUP BY cl),
      |dots AS (
      |  SELECT qv.vec_id, qv.label,
      |    SUM(qv.qc * cent.c) AS dot, SUM(qv.qc * qv.qc) AS nv
      |  FROM qv JOIN cent ON cent.cl = qv.label AND cent.i = qv.i
      |  GROUP BY qv.vec_id, qv.label),
      |cosd AS (
      |  SELECT d.vec_id, d.label,
      |    CASE WHEN d.nv = 0 OR nc.ncl = 0 THEN 0.0
      |      ELSE ROUND(d.dot / (sqrt(d.nv) * sqrt(nc.ncl)), 6) END AS cosc
      |  FROM dots d JOIN nc ON nc.cl = d.label),
      |rk AS (
      |  SELECT vec_id, label, cosc,
      |    row_number() OVER (PARTITION BY label ORDER BY cosc DESC, vec_id)
      |      AS rn
      |  FROM cosd)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  MIN(CASE WHEN rn = 1 THEN vec_id END) AS rep_vec,
      |  CAST(SUM(CASE WHEN rn > 1 AND cosc >= 0.25 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pruned,
      |  CAST(COUNT(*) - SUM(CASE WHEN rn > 1 AND cosc >= 0.25 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn > 1 AND cosc >= 0.25 THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS pruned_ppm
      |FROM rk GROUP BY label ORDER BY label""") { (s, d) =>
    val ex = kmeansEx(s, d)
    val cent = centroids(s, d)
    val nc = cent.groupBy(col("cl")).agg(sum(col("c") * col("c")).as("ncl"))
    val dots = ex
      .join(broadcast(cent), col("label") === col("cl") && ex("i") === cent("i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("qc") * col("c")).as("dot"),
        sum(col("qc") * col("qc")).as("nv"))
    val cosd = dots.join(broadcast(nc), col("label") === col("cl"))
      .select(col("vec_id"), col("label"),
        when(col("nv") === 0L || col("ncl") === 0L, 0.0)
          .otherwise(round(col("dot") / (sqrt(col("nv")) * sqrt(col("ncl"))), 6))
          .as("cosc"))
    val pruned = when(col("rn") > 1 && col("cosc") >= 0.25, 1L).otherwise(0L)
    cosd.withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("cosc").desc, col("vec_id"))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        min(when(col("rn") === 1, col("vec_id"))).as("rep_vec"),
        sum(pruned).as("n_pruned"))
      .select(col("label"), col("n_members"), col("rep_vec"), col("n_pruned"),
        (col("n_members") - col("n_pruned")).as("n_kept"),
        expr("n_pruned * 1000000 div n_members").as("pruned_ppm"))
      .orderBy(col("label"))
  }

  /** IVF probe-count sweep (r18) — the nprobe decision table next to
    * `ann_ivf_label` (which grades the single-list route): for each
    * panel probe and nprobe ∈ {1, 2, 4}, restrict the search to the
    * nprobe nearest inverted lists (lists = the graded label-seeded
    * milli centroids; list distance = exact integer L2 to centroid,
    * ties to the smaller label) and grade recall@10 against the
    * exact integer-L2 top-10 plus the scan cost n_scanned = Σ probed
    * list sizes — THE recall-vs-IO curve an IVF deployment picks its
    * nprobe from. Everything is exact integers (no float tree at
    * all: L2 needs no normalization). Panel-bounded brute force is
    * the truth tier, the probed-list route is what runs at scale. */
  val annIvfProbeSweep: QDef = q(
    "ann_ivf_probe_sweep",
    s"""WITH $centCtes,
      |$panelD2Ctes,
      |cd AS (
      |  SELECT qp.q_id, cent.cl,
      |    SUM((qp.qqc - cent.c) * (qp.qqc - cent.c)) AS d2
      |  FROM qp JOIN cent USING (i) GROUP BY qp.q_id, cent.cl),
      |crk AS (
      |  SELECT q_id, cl,
      |    row_number() OVER (PARTITION BY q_id ORDER BY d2, cl) AS crn
      |  FROM cd),
      |t10 AS (
      |  SELECT q_id, vec_id, label FROM (
      |    SELECT q_id, vec_id, label,
      |      row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
      |    FROM vd) WHERE rn <= 10),
      |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
      |probed AS (
      |  SELECT np.nprobe, crk.q_id, crk.cl
      |  FROM np JOIN crk ON crk.crn <= np.nprobe),
      |sizes AS (SELECT label, COUNT(*) AS n_l FROM embeddings GROUP BY label),
      |ncand AS (
      |  SELECT p.q_id, p.nprobe, CAST(SUM(s.n_l) AS BIGINT) AS n_scanned
      |  FROM probed p JOIN sizes s ON s.label = p.cl
      |  GROUP BY p.q_id, p.nprobe),
      |hits AS (
      |  SELECT t.q_id, p.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM t10 t JOIN probed p ON p.q_id = t.q_id AND p.cl = t.label
      |  GROUP BY t.q_id, p.nprobe)
      |SELECT n.q_id, CAST(n.nprobe AS BIGINT) AS nprobe, n.n_scanned,
      |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(h.n_hits, 0) * 10 AS BIGINT) AS recall_pct
      |FROM ncand n LEFT JOIN hits h
      |  ON h.q_id = n.q_id AND h.nprobe = n.nprobe
      |ORDER BY n.q_id, n.nprobe""") { (s, d) =>
    val ex = kmeansEx(s, d)
    val cent = centroids(s, d)
    val qp = ex.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("i").as("qi"), col("qc").as("qqc"))
    val cd = broadcast(qp).join(cent, col("qi") === cent("i"))
      .groupBy(col("q_id"), col("cl"))
      .agg(sum((col("qqc") - col("c")) * (col("qqc") - col("c"))).as("d2"))
    val crk = cd.withColumn("crn", row_number().over(
      Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cl"))))
    val t10 = panelD2(s, d).withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= 10).select(col("q_id"), col("vec_id"), col("label"))
    val np = s.range(3).select(expr("shiftleft(1L, cast(id as int))")
      .cast(LongType).as("nprobe")).filter(col("nprobe") <= 4)
    val probed = broadcast(np).join(crk, col("crn") <= col("nprobe"))
      .select(col("nprobe"), col("q_id"), col("cl"))
    val sizes = Tables.embeddings(s, d).groupBy(col("label").as("sl"))
      .agg(count(lit(1)).as("n_l"))
    val ncand = probed.join(broadcast(sizes), col("cl") === col("sl"))
      .groupBy(col("q_id"), col("nprobe"))
      .agg(sum(col("n_l")).cast(LongType).as("n_scanned"))
    val hits = t10.join(
        broadcast(probed.select(col("nprobe").as("p_np"),
          col("q_id").as("p_q"), col("cl").as("p_cl"))),
        col("p_q") === col("q_id") && col("p_cl") === col("label"))
      .groupBy(col("q_id"), col("p_np"))
      .agg(count(lit(1)).as("n_hits"))
    ncand.join(hits,
        ncand("q_id") === hits("q_id") && col("nprobe") === col("p_np"), "left")
      .select(ncand("q_id"), col("nprobe"), col("n_scanned"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 10L).as("recall_pct"))
      .orderBy(col("q_id"), col("nprobe"))
  }

  /** HNSW greedy-routing audit (r18, VERDICT r17 item 5) — the
    * search-cost companion to `ann_hnsw_layer_assign` (which grades
    * the build-side layer census): for each panel probe and each
    * populated layer l, the DESCENT TARGET — the exact-integer-L2
    * nearest pool member among nodes assigned layer ≥ l (the
    * upper-graph greedy search converges to at that layer before
    * dropping a level) — with the pool census and the binary-search
    * hop bound ⌈log₂ pool⌉ (exact via bin()-string length, zero
    * floats anywhere). The audit certifies the two facts HNSW rests
    * on: pools nest (pool_n non-decreasing as l falls) so best_d2 is
    * non-increasing layer by layer, and upper layers are tiny so the
    * descent entry cost is O(log n). Distance computations here are
    * the eval tier (panel × pool, bounded); at scale greedy visits
    * ~M·hops of them per layer, which is what the hop bound sizes.
    * Layer assignment is ONE spelling with `ann_hnsw_layer_assign`
    * (`hnswLayerSqlExpr`/`hnswLayerCol`). Layers whose pool
    * is empty at this corpus are absent in both engines. */
  val annHnswGreedyRoute: QDef = q(
    "ann_hnsw_greedy_route",
    s"""WITH $centCtes,
      |$panelD2Ctes,
      |lay AS (
      |  SELECT vec_id, ${hnswLayerSqlExpr} AS layer
      |  FROM embeddings),
      |lv AS (SELECT unnest(range(0, 5)) AS lvl),
      |pool AS (
      |  SELECT lv.lvl, lay.vec_id
      |  FROM lv JOIN lay ON lay.layer >= lv.lvl),
      |cnt AS (SELECT lvl, CAST(COUNT(*) AS BIGINT) AS pool_n
      |  FROM pool GROUP BY lvl),
      |best AS (
      |  SELECT v.q_id, p.lvl, v.vec_id, v.d2,
      |    row_number() OVER (PARTITION BY v.q_id, p.lvl
      |      ORDER BY v.d2, v.vec_id) AS rn
      |  FROM vd v JOIN pool p ON p.vec_id = v.vec_id)
      |SELECT b.q_id, CAST(b.lvl AS BIGINT) AS layer, c.pool_n,
      |  b.vec_id AS best_vec, CAST(b.d2 AS BIGINT) AS best_d2,
      |  CASE WHEN c.pool_n <= 1 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(length(bin(c.pool_n - 1)) AS BIGINT) END AS hops_bound
      |FROM best b JOIN cnt c ON c.lvl = b.lvl
      |WHERE b.rn = 1
      |ORDER BY q_id, layer""") { (s, d) =>
    val lay = Tables.embeddings(s, d)
      .select(col("vec_id").as("l_vec"), hnswLayerCol.as("layer"))
    val lv = s.range(5).select(col("id").cast(LongType).as("lvl"))
    val pool = broadcast(lv).join(lay, col("layer") >= col("lvl"))
      .select(col("lvl"), col("l_vec"))
    val cnt = pool.groupBy(col("lvl").as("c_lvl"))
      .agg(count(lit(1)).as("pool_n"))
    val best = panelD2(s, d)
      .join(broadcast(pool), col("l_vec") === col("vec_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"), col("lvl"))
          .orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") === 1)
    best.join(broadcast(cnt), col("c_lvl") === col("lvl"))
      .select(col("q_id"), col("lvl").as("layer"), col("pool_n"),
        col("vec_id").as("best_vec"), col("d2").cast(LongType).as("best_d2"),
        when(col("pool_n") <= 1L, 0L)
          .otherwise(length(bin(col("pool_n") - 1)).cast(LongType))
          .as("hops_bound"))
      .orderBy(col("q_id"), col("layer"))
  }

  /** Two-stage retrieval rerank audit (r18) — the
    * cheap-scan-then-exact-rerank scheme every production vector
    * store runs (scan at reduced precision, rerank survivors at full
    * precision), graded end to end in exact integers: stage 1 ranks
    * by the centi-quantized dot product (floor(x·10) components —
    * 100× coarser than the house milli standard, the 4-bits-fewer
    * scalar quantization a scan tier ships) and keeps the top-20 per
    * panel probe; stage 2 re-ranks those 20 by the milli dot and
    * keeps 10; truth is the milli-dot top-10 over ALL vectors. Per
    * probe: candidate budget, hits, recall@10, and whether the
    * top-1 survived the coarse stage — the table that decides
    * whether the scan tier's precision is safe. Both dots are exact
    * BIGINT sums (no float tree anywhere); ties break by vec_id in
    * both engines. At scale stage 2 touches only the 20 survivors
    * per query; the one-pass spelling here computes both dots in the
    * same panel-bounded aggregation (the eval-tier cost). */
  val simRerankTwoStage: QDef = q(
    "sim_rerank_two_stage",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |cv AS (
      |  SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10) AS BIGINT) AS qd
      |  FROM embeddings CROSS JOIN dims),
      |qp AS (SELECT vec_id AS q_id, i, qc AS qqc, qd AS qqd
      |  FROM cv WHERE vec_id < 8),
      |dots AS (
      |  SELECT qp.q_id, cv.vec_id,
      |    SUM(cv.qd * qp.qqd) AS s1, SUM(cv.qc * qp.qqc) AS s2
      |  FROM cv JOIN qp ON cv.i = qp.i AND cv.vec_id <> qp.q_id
      |  GROUP BY qp.q_id, cv.vec_id),
      |ex10 AS (
      |  SELECT q_id, vec_id, rne FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY s2 DESC, vec_id)
      |        AS rne
      |    FROM dots) WHERE rne <= 10),
      |r1 AS (
      |  SELECT q_id, vec_id, s2 FROM (
      |    SELECT q_id, vec_id, s2,
      |      row_number() OVER (PARTITION BY q_id ORDER BY s1 DESC, vec_id)
      |        AS rn1
      |    FROM dots) WHERE rn1 <= 20),
      |rr AS (
      |  SELECT q_id, vec_id, rn2 FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY s2 DESC, vec_id)
      |        AS rn2
      |    FROM r1) WHERE rn2 <= 10)
      |SELECT e.q_id, CAST(20 AS BIGINT) AS n_stage1,
      |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits,
      |  CAST(COUNT(r.vec_id) * 10 AS BIGINT) AS recall_pct,
      |  CAST(MAX(CASE WHEN e.rne = 1 AND r.rn2 = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS top1_match
      |FROM ex10 e LEFT JOIN rr r ON r.q_id = e.q_id AND r.vec_id = e.vec_id
      |GROUP BY e.q_id
      |ORDER BY e.q_id""") { (s, d) =>
    val cv = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"),
        floor(col("v").cast(DoubleType) * 1000).cast(LongType).as("qc"),
        floor(col("v").cast(DoubleType) * 10).cast(LongType).as("qd"))
    val qp = cv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("i").as("qi"),
        col("qc").as("qqc"), col("qd").as("qqd"))
    val dots = cv.join(broadcast(qp),
        col("i") === col("qi") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qd") * col("qqd")).as("s1"),
        sum(col("qc") * col("qqc")).as("s2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wq = Window.partitionBy(col("q_id"))
    val ex10 = dots.withColumn("rne",
        row_number().over(wq.orderBy(col("s2").desc, col("vec_id"))))
      .filter(col("rne") <= 10).select(col("q_id"), col("vec_id"), col("rne"))
    val rr = dots.withColumn("rn1",
        row_number().over(wq.orderBy(col("s1").desc, col("vec_id"))))
      .filter(col("rn1") <= 20)
      .withColumn("rn2",
        row_number().over(wq.orderBy(col("s2").desc, col("vec_id"))))
      .filter(col("rn2") <= 10)
      .select(col("q_id").as("r_q"), col("vec_id").as("r_vec"), col("rn2"))
    ex10.join(rr, col("r_q") === col("q_id") && col("r_vec") === col("vec_id"),
        "left")
      .groupBy(col("q_id"))
      .agg(count(col("r_vec")).as("n_hits"),
        max(when(col("rne") === 1 && col("rn2") === 1, 1L).otherwise(0L))
          .as("top1_match"))
      .select(col("q_id"), lit(20L).as("n_stage1"), col("n_hits"),
        (col("n_hits") * 10L).as("recall_pct"), col("top1_match"))
      .orderBy(col("q_id"))
  }

  /** Maximal Marginal Relevance diversified top-k (r18) — the
    * diversity-aware selection every production RAG retriever runs
    * after similarity search (Carbonell & Goldstein 1998): from each
    * panel probe's top-20 relevance candidates (milli-dot, the
    * two-stage convention), greedily pick 5 where pick r maximizes
    * λ·rel(q,i) − (1−λ)·max_{j∈picked} sim(i,j) with λ = 7/10 — so
    * score×10 = 7·rel − 3·max_sim is EXACT INTEGER algebra on the
    * two milli-dot families (relevance to the probe, redundancy
    * among candidates), ties to the smaller vec_id. The five rounds
    * are unrolled (bounded k, the `graph_bfs_levels` convention);
    * every post-candidate frame is panel×20-sized, the candidate
    * pair dots are 20×20 per probe — never corpus². Graded as the
    * ranked pick list with the redundancy penalty that drove each
    * pick. */
  val simMmrDiversify: QDef = q(
    "sim_mmr_diversify",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |cv AS (
      |  SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc
      |  FROM embeddings CROSS JOIN dims),
      |qp AS (SELECT vec_id AS q_id, i, qc AS qqc FROM cv WHERE vec_id < 8),
      |dots AS (
      |  SELECT qp.q_id, cv.vec_id, SUM(cv.qc * qp.qqc) AS rel
      |  FROM cv JOIN qp ON cv.i = qp.i AND cv.vec_id <> qp.q_id
      |  GROUP BY qp.q_id, cv.vec_id),
      |cand AS (
      |  SELECT q_id, vec_id, rel FROM (
      |    SELECT q_id, vec_id, rel,
      |      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id)
      |        AS rn
      |    FROM dots) WHERE rn <= 20),
      |cc AS (
      |  SELECT c.q_id, c.vec_id, cv.i, cv.qc
      |  FROM cand c JOIN cv ON cv.vec_id = c.vec_id),
      |cp AS (
      |  SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb,
      |    SUM(a.qc * b.qc) AS sim
      |  FROM cc a JOIN cc b
      |    ON b.q_id = a.q_id AND b.i = a.i AND b.vec_id <> a.vec_id
      |  GROUP BY a.q_id, a.vec_id, b.vec_id),
      |p1 AS (
      |  SELECT q_id, vec_id, rel, CAST(0 AS BIGINT) AS max_sim FROM (
      |    SELECT q_id, vec_id, rel,
      |      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id)
      |        AS rn
      |    FROM cand) WHERE rn = 1),
      |m2 AS (
      |  SELECT c.q_id, c.vec_id, c.rel, MAX(cp.sim) AS ms
      |  FROM cand c
      |  JOIN p1 ON p1.q_id = c.q_id AND p1.vec_id <> c.vec_id
      |  JOIN cp ON cp.q_id = c.q_id AND cp.va = c.vec_id
      |    AND cp.vb = p1.vec_id
      |  GROUP BY c.q_id, c.vec_id, c.rel),
      |p2 AS (
      |  SELECT q_id, vec_id, rel, ms AS max_sim FROM (
      |    SELECT q_id, vec_id, rel, ms,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY 7 * rel - 3 * ms DESC, vec_id) AS rn
      |    FROM m2) WHERE rn = 1),
      |s2 AS (SELECT q_id, vec_id FROM p1
      |  UNION ALL SELECT q_id, vec_id FROM p2),
      |m3 AS (
      |  SELECT c.q_id, c.vec_id, c.rel, MAX(cp.sim) AS ms
      |  FROM cand c
      |  JOIN cp ON cp.q_id = c.q_id AND cp.va = c.vec_id
      |  JOIN s2 ON s2.q_id = c.q_id AND s2.vec_id = cp.vb
      |  WHERE NOT EXISTS (SELECT 1 FROM s2 x
      |    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
      |  GROUP BY c.q_id, c.vec_id, c.rel),
      |p3 AS (
      |  SELECT q_id, vec_id, rel, ms AS max_sim FROM (
      |    SELECT q_id, vec_id, rel, ms,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY 7 * rel - 3 * ms DESC, vec_id) AS rn
      |    FROM m3) WHERE rn = 1),
      |s3 AS (SELECT * FROM s2 UNION ALL SELECT q_id, vec_id FROM p3),
      |m4 AS (
      |  SELECT c.q_id, c.vec_id, c.rel, MAX(cp.sim) AS ms
      |  FROM cand c
      |  JOIN cp ON cp.q_id = c.q_id AND cp.va = c.vec_id
      |  JOIN s3 ON s3.q_id = c.q_id AND s3.vec_id = cp.vb
      |  WHERE NOT EXISTS (SELECT 1 FROM s3 x
      |    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
      |  GROUP BY c.q_id, c.vec_id, c.rel),
      |p4 AS (
      |  SELECT q_id, vec_id, rel, ms AS max_sim FROM (
      |    SELECT q_id, vec_id, rel, ms,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY 7 * rel - 3 * ms DESC, vec_id) AS rn
      |    FROM m4) WHERE rn = 1),
      |s4 AS (SELECT * FROM s3 UNION ALL SELECT q_id, vec_id FROM p4),
      |m5 AS (
      |  SELECT c.q_id, c.vec_id, c.rel, MAX(cp.sim) AS ms
      |  FROM cand c
      |  JOIN cp ON cp.q_id = c.q_id AND cp.va = c.vec_id
      |  JOIN s4 ON s4.q_id = c.q_id AND s4.vec_id = cp.vb
      |  WHERE NOT EXISTS (SELECT 1 FROM s4 x
      |    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
      |  GROUP BY c.q_id, c.vec_id, c.rel),
      |p5 AS (
      |  SELECT q_id, vec_id, rel, ms AS max_sim FROM (
      |    SELECT q_id, vec_id, rel, ms,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY 7 * rel - 3 * ms DESC, vec_id) AS rn
      |    FROM m5) WHERE rn = 1),
      |picks AS (
      |  SELECT q_id, 1 AS rank, vec_id, rel, max_sim FROM p1
      |  UNION ALL SELECT q_id, 2, vec_id, rel, max_sim FROM p2
      |  UNION ALL SELECT q_id, 3, vec_id, rel, max_sim FROM p3
      |  UNION ALL SELECT q_id, 4, vec_id, rel, max_sim FROM p4
      |  UNION ALL SELECT q_id, 5, vec_id, rel, max_sim FROM p5)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
      |  CAST(rel AS BIGINT) AS rel_milli,
      |  CAST(max_sim AS BIGINT) AS max_sim_milli,
      |  CAST(7 * rel - 3 * max_sim AS BIGINT) AS mmr_score_x10
      |FROM picks ORDER BY q_id, rank""") { (s, d) =>
    val cv = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"),
        floor(col("v").cast(DoubleType) * 1000).cast(LongType).as("qc"))
    val qp = cv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("i").as("qi"),
        col("qc").as("qqc"))
    val dots = cv.join(broadcast(qp),
        col("i") === col("qi") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qc") * col("qqc")).as("rel"))
    val wq = Window.partitionBy(col("q_id"))
    // The 5-round greedy runs ROW-LOCALLY per probe via the
    // graft_mmr_picks expression over the collected candidate list +
    // its 20×20 pair-dot table — collapsing what a DataFrame loop
    // spelled as ~18 sequential AQE stages over panel×20 frames into
    // one 8-row map stage (measured 4.9 s → 0.7 s at sf0.1; identical
    // picks, replayed independently by R18OpsSpec). The candidate cut
    // and both aggregations before it keep full parallelism.
    val cand = dots.withColumn("rn",
        row_number().over(wq.orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("rn") <= 20).select(col("q_id"), col("vec_id"), col("rel"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cc = cand.select(col("q_id"), col("vec_id"))
      .join(cv.select(col("vec_id").as("c_vec"), col("i"), col("qc")),
        col("c_vec") === col("vec_id"))
    val cp = cc.select(col("q_id"), col("vec_id").as("va"), col("i"),
        col("qc"))
      .join(cc.select(col("q_id").as("b_q"), col("vec_id").as("vb"),
          col("i").as("b_i"), col("qc").as("b_qc")),
        col("b_q") === col("q_id") && col("b_i") === col("i") &&
          col("vb") =!= col("va"))
      .groupBy(col("q_id"), col("va"), col("vb"))
      .agg(sum(col("qc") * col("b_qc")).as("sim"))
    val perQ = cand.groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel"))).as("cands"))
    val simQ = cp.groupBy(col("q_id").as("s_q"))
      .agg(collect_list(struct(col("va"), col("vb"), col("sim")))
        .as("sims"))
    perQ.join(simQ, col("s_q") === col("q_id"))
      .select(col("q_id"),
        explode(graft.functions.VectorFunctions
          .mmrPicks(col("cands"), col("sims"))).as("p"))
      .select(col("q_id"), col("p.rank").as("rank"),
        col("p.v").as("vec_id"), col("p.rel").as("rel_milli"),
        col("p.max_sim").as("max_sim_milli"),
        (lit(7L) * col("p.rel") - lit(3L) * col("p.max_sim"))
          .as("mmr_score_x10"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ECE + Murphy Brier decomposition (r18) — the single-number
    * calibration verdicts over the graded `eval_calibration_bins`
    * construction (date-position pseudo-score vs order-status
    * outcome, ONE spelling): expected calibration error
    * ECE = Σ_b (n_b/N)·|p̄_b − ȳ_b| and the Brier decomposition
    * reliability − resolution + uncertainty, all computed over the
    * SAME floored bin means the bins key ships (stated convention:
    * the decomposition is of the binned forecaster). Exact integer
    * ppm/ppm² end to end — the squares ride DECIMAL(38)/HUGEINT.
    * One scan, one 10-bin agg, one fold. */
  val evalEceBrierDecomp: QDef = q(
    "eval_ece_brier_decomp",
    """WITH b AS (
      |  SELECT CAST(MIN(o_orderdate) AS DATE) AS mn,
      |    date_diff('day', CAST(MIN(o_orderdate) AS DATE),
      |      CAST(MAX(o_orderdate) AS DATE)) AS span
      |  FROM orders),
      |sc AS (
      |  SELECT
      |    date_diff('day', mn, CAST(o_orderdate AS DATE)) * 1000000 // span
      |      AS p_ppm,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders CROSS JOIN b),
      |bins AS (
      |  SELECT least(p_ppm // 100000, 9) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS pbar,
      |    CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS ybar,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM((p_ppm - y * 1000000) * (p_ppm - y * 1000000))
      |      AS HUGEINT) AS sb
      |  FROM sc GROUP BY bin),
      |f AS (
      |  SELECT CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(sy) AS HUGEINT) AS syy,
      |    CAST(SUM(n * abs(pbar - ybar)) AS HUGEINT) AS e,
      |    CAST(SUM(CAST(n AS HUGEINT) * (pbar - ybar) * (pbar - ybar))
      |      AS HUGEINT) AS rel,
      |    CAST(SUM(sb) AS HUGEINT) AS sbb
      |  FROM bins),
      |g AS (
      |  SELECT f.*, CAST(syy * 1000000 // nn AS HUGEINT) AS ybar_all FROM f)
      |SELECT CAST(nn AS BIGINT) AS n,
      |  CAST(e // nn AS BIGINT) AS ece_ppm,
      |  CAST(sbb // nn AS BIGINT) AS brier_ppm2,
      |  CAST(rel // nn AS BIGINT) AS reliability_ppm2,
      |  CAST((SELECT CAST(SUM(CAST(n AS HUGEINT)
      |      * (ybar - g.ybar_all) * (ybar - g.ybar_all)) AS HUGEINT)
      |    FROM bins) // nn AS BIGINT) AS resolution_ppm2,
      |  CAST(ybar_all * (1000000 - ybar_all) AS BIGINT) AS uncertainty_ppm2
      |FROM g""") { (s, d) =>
    val dec = DecimalType(38, 0)
    val b = Tables.orders(s, d)
      .agg(min(col("o_orderdate").cast(DateType)).as("mn"),
        datediff(max(col("o_orderdate").cast(DateType)),
          min(col("o_orderdate").cast(DateType))).as("span"))
    val sc = Tables.orders(s, d)
      .crossJoin(broadcast(b))
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), mn) AS BIGINT)" +
          " * 1000000 div span").as("p_ppm"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val bins = sc.groupBy(expr("least(p_ppm div 100000, 9)").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p_ppm")).as("sp"),
        sum(col("y")).as("sy"),
        sum(expr("(p_ppm - y * 1000000) * (p_ppm - y * 1000000)"))
          .cast(dec).as("sb"))
      .select(col("bin"), col("n"), col("sy"), col("sb"),
        expr("CAST(sp div n AS BIGINT)").as("pbar"),
        expr("CAST(sy * 1000000 div n AS BIGINT)").as("ybar"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val f = bins.agg(
      sum(col("n")).cast(dec).as("nn"), sum(col("sy")).cast(dec).as("syy"),
      sum(col("n") * abs(col("pbar") - col("ybar"))).cast(dec).as("e"),
      sum(col("n").cast(dec) * (col("pbar") - col("ybar"))
        * (col("pbar") - col("ybar"))).cast(dec).as("rel"),
      sum(col("sb")).cast(dec).as("sbb"))
      .select(col("nn"), col("syy"), col("e"), col("rel"), col("sbb"),
        expr("CAST(syy * 1000000 div nn AS DECIMAL(38,0))").as("ybar_all"))
    val res = bins.crossJoin(broadcast(f.select(col("ybar_all")
        .as("yb_all"))))
      .agg(sum(col("n").cast(dec) * (col("ybar") - col("yb_all"))
        * (col("ybar") - col("yb_all"))).cast(dec).as("resn"))
    f.crossJoin(broadcast(res))
      .select(expr("CAST(nn AS BIGINT)").as("n"),
        expr("CAST(e div nn AS BIGINT)").as("ece_ppm"),
        expr("CAST(sbb div nn AS BIGINT)").as("brier_ppm2"),
        expr("CAST(rel div nn AS BIGINT)").as("reliability_ppm2"),
        expr("CAST(resn div nn AS BIGINT)").as("resolution_ppm2"),
        expr("CAST(ybar_all * (1000000 - ybar_all) AS BIGINT)")
          .as("uncertainty_ppm2"))
  }

  /** Krippendorff's alpha, nominal (r18b) — the agreement
    * coefficient that HANDLES MISSING RATINGS, which Fleiss' kappa
    * (`stats_fleiss_kappa`) cannot: each of the three deterministic
    * rule-raters skips a document when its md5 presence draw fails
    * (p = 13/16), documents with fewer than two ratings drop, and
    * α = 1 − Do/De is ONE exact rational after clearing the
    * per-document (m_i − 1) ∈ {1, 2} denominators by doubling:
    * T = Σ_i 2·D_i/(m_i−1) is always an integer
    * (D_i = Σ_c n_ic(m_i − n_ic)), Do = T/(2n), De =
    * Σ_c n_c(n − n_c)/(n(n−1)), so α·ppm = 10⁶ −
    * T·(n−1)·10⁶ div (2·Σ_c n_c(n−n_c)). Category boundaries are
    * rater-specific token-count bands centered on the fixture's
    * 10–100 token range (40/70 ± rater offsets) so all three
    * categories are populated. Row-local per doc + ONE corpus fold. */
  val evalKrippendorffAlpha: QDef = q(
    "eval_krippendorff_alpha",
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':kr0'), 1, 1)
      |      < 'd' THEN CASE WHEN ntok < 40 THEN 0 WHEN ntok < 70 THEN 1
      |        ELSE 2 END END AS r0,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':kr1'), 1, 1)
      |      < 'd' THEN CASE WHEN ntok < 45 THEN 0 WHEN ntok < 65 THEN 1
      |        ELSE 2 END END AS r1,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':kr2'), 1, 1)
      |      < 'd' THEN CASE WHEN ntok < 35 THEN 0 WHEN ntok < 75 THEN 1
      |        ELSE 2 END END AS r2
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
      |inc AS (SELECT n0, n1, n2, n0 + n1 + n2 AS m FROM n
      |  WHERE n0 + n1 + n2 >= 2),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
      |    CAST(SUM(m) AS BIGINT) AS ntot,
      |    CAST(SUM(n0) AS BIGINT) AS c0, CAST(SUM(n1) AS BIGINT) AS c1,
      |    CAST(SUM(n2) AS BIGINT) AS c2,
      |    CAST(SUM(CASE WHEN m = 3
      |      THEN n0 * (m - n0) + n1 * (m - n1) + n2 * (m - n2)
      |      ELSE 2 * (n0 * (m - n0) + n1 * (m - n1) + n2 * (m - n2))
      |      END) AS BIGINT) AS tt
      |  FROM inc)
      |SELECT nd AS n_docs, ntot AS n_ratings, c0, c1, c2,
      |  CAST(tt * 1000000 // (2 * ntot) AS BIGINT) AS do_ppm,
      |  CAST((c0 * (ntot - c0) + c1 * (ntot - c1) + c2 * (ntot - c2))
      |    * 1000000 // (ntot * (ntot - 1)) AS BIGINT) AS de_ppm,
      |  CASE WHEN c0 * (ntot - c0) + c1 * (ntot - c1) + c2 * (ntot - c2)
      |    = 0 THEN NULL
      |    ELSE CAST(1000000 - tt * (ntot - 1) * 1000000
      |      // (2 * (c0 * (ntot - c0) + c1 * (ntot - c1)
      |        + c2 * (ntot - c2))) AS BIGINT) END AS alpha_ppm
      |FROM f""") { (s, d) =>
    val t = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("ntok"))
    def rater(i: Int, lo: Long, hi: Long): Column =
      when(substring(md5(concat(col("doc_id").cast(StringType),
          lit(s":kr$i"))), 1, 1) < "d",
        when(col("ntok") < lo, 0L).when(col("ntok") < hi, 1L)
          .otherwise(2L))
    val r = t.select(rater(0, 40, 70).as("r0"), rater(1, 45, 65).as("r1"),
      rater(2, 35, 75).as("r2"))
    def nj(j: Long): Column =
      Seq("r0", "r1", "r2")
        .map(c => when(col(c) === j, 1L).otherwise(0L)).reduce(_ + _)
    val inc = r.select(nj(0).as("n0"), nj(1).as("n1"), nj(2).as("n2"))
      .withColumn("m", col("n0") + col("n1") + col("n2"))
      .filter(col("m") >= 2)
    val di = col("n0") * (col("m") - col("n0")) +
      col("n1") * (col("m") - col("n1")) +
      col("n2") * (col("m") - col("n2"))
    val f = inc.agg(count(lit(1)).as("nd"), sum(col("m")).as("ntot"),
      sum(col("n0")).as("c0"), sum(col("n1")).as("c1"),
      sum(col("n2")).as("c2"),
      sum(when(col("m") === 3, di).otherwise(lit(2L) * di)).as("tt"))
    f.select(col("nd").as("n_docs"), col("ntot").as("n_ratings"),
      col("c0"), col("c1"), col("c2"),
      expr("CAST(tt * 1000000 div (2 * ntot) AS BIGINT)").as("do_ppm"),
      expr("CAST((c0 * (ntot - c0) + c1 * (ntot - c1) + c2 * (ntot - c2))"
        + " * 1000000 div (ntot * (ntot - 1)) AS BIGINT)").as("de_ppm"),
      when(expr("c0 * (ntot - c0) + c1 * (ntot - c1) + c2 * (ntot - c2)")
          === 0L, lit(null).cast(LongType))
        .otherwise(expr("CAST(1000000 - tt * (ntot - 1) * 1000000"
          + " div (2 * (c0 * (ntot - c0) + c1 * (ntot - c1)"
          + " + c2 * (ntot - c2))) AS BIGINT)")).as("alpha_ppm"))
  }

  /** PQ asymmetric-distance recall (r18b) — the search-quality
    * companion to `sim_pq_codes` (which grades the codebook
    * ASSIGNMENT; this grades what the compressed index actually
    * RETRIEVES): per panel probe, the ADC top-10 — distance =
    * Σ_subspace d2(q_sub, codebook[s, code_v]), computed entirely
    * from the (vec, subspace, code) assignment plus the 256-row
    * probe×code sub-distance table — against the exact milli-L2
    * top-10, as overlap and recall ppm. The SAME quantization, panel
    * (vec_id < 8 = the 8 codes), and (d2, id) tie order as the PQ
    * twin, so the two keys compose into one PQ story. Cost: the
    * code-assignment shuffle (vecs × 4 subspaces × 8 codes) + the
    * eval-tier brute-force leg bounded by the 8-probe panel — never
    * corpus². At scale ADC is the in-memory scan (4 bytes/vec);
    * the exact leg stays eval-tier. */
  val annPqAdcRecall: QDef = q(
    "ann_pq_adc_recall",
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |qv AS (
      |  SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qc,
      |    CAST((i - 1) // 16 AS INTEGER) AS s
      |  FROM embeddings CROSS JOIN dims),
      |cb AS (SELECT i, CAST(vec_id AS INTEGER) AS code, qc AS sc
      |  FROM qv WHERE vec_id < 8),
      |dist AS (
      |  SELECT q.vec_id, q.s, cb.code,
      |    CAST(SUM((q.qc - cb.sc) * (q.qc - cb.sc)) AS BIGINT) AS d2
      |  FROM qv q JOIN cb ON cb.i = q.i
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code)
      |        AS rn
      |    FROM dist) WHERE rn = 1),
      |qd AS (SELECT vec_id AS q_id, s, code, d2 FROM dist
      |  WHERE vec_id < 8),
      |adc AS (
      |  SELECT qd.q_id, c.vec_id, CAST(SUM(qd.d2) AS BIGINT) AS ad2
      |  FROM codes c JOIN qd ON qd.s = c.s AND qd.code = c.code
      |  WHERE c.vec_id <> qd.q_id GROUP BY 1, 2),
      |ext AS (
      |  SELECT a.vec_id AS q_id, b.vec_id,
      |    CAST(SUM((a.qc - b.qc) * (a.qc - b.qc)) AS BIGINT) AS d2
      |  FROM qv a JOIN qv b ON b.i = a.i AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 8 GROUP BY 1, 2),
      |topex AS (SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
      |  FROM ext) WHERE rn <= 10),
      |topadc AS (SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY ad2, vec_id) AS rn
      |  FROM adc) WHERE rn <= 10)
      |SELECT topex.q_id, CAST(COUNT(topadc.vec_id) AS BIGINT) AS n_overlap,
      |  CAST(COUNT(topadc.vec_id) * 1000000 // 10 AS BIGINT) AS recall_ppm
      |FROM topex LEFT JOIN topadc ON topadc.q_id = topex.q_id
      |  AND topadc.vec_id = topex.vec_id
      |GROUP BY topex.q_id ORDER BY topex.q_id""") { (s, d) =>
    val ex0 = kmeansEx(s, d)
      .withColumn("s", expr("CAST(i div 16 AS INT)"))
    val cb = ex0.filter(col("vec_id") < 8)
      .select(col("i").as("ci"), col("vec_id").cast(IntegerType).as("code"),
        col("qc").as("sc"))
    val dist = ex0.join(broadcast(cb), col("ci") === col("i"))
      .groupBy(col("vec_id"), col("s"), col("code"))
      .agg(sum((col("qc") - col("sc")) * (col("qc") - col("sc"))).as("d2"))
      .persist()
    val codes = dist.groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("code"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.code").as("code"))
    val qd = dist.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("s").as("qs"),
        col("code").as("qcode"), col("d2"))
    val adc = codes.join(broadcast(qd),
        col("qs") === col("s") && col("qcode") === col("code") &&
          col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(sum(col("d2")).as("ad2"))
    val qp = ex0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("e_q"), col("i").as("qi"),
        col("qc").as("qqc"))
    val ext = ex0.join(broadcast(qp),
        col("qi") === col("i") && col("e_q") =!= col("vec_id"))
      .groupBy(col("e_q").as("q_id"), col("vec_id"))
      .agg(sum((col("qc") - col("qqc")) * (col("qc") - col("qqc")))
        .as("d2"))
    val wEx = Window.partitionBy(col("q_id")).orderBy(col("d2"),
      col("vec_id"))
    val topex = ext.withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= 10).select(col("q_id"), col("vec_id"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("ad2"),
      col("vec_id"))
    val topadc = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= 10)
      .select(col("q_id").as("a_q"), col("vec_id").as("a_v"))
    topex.join(topadc, col("a_q") === col("q_id") &&
        col("a_v") === col("vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_v")).as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        expr("n_overlap * 1000000 div 10").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  /** Token-set fingerprint cluster purity (r18b) — quality audit of
    * content-fingerprint dedup clustering: documents cluster by the
    * md5 of their SORTED DISTINCT token set (byte-identical strings
    * are a special case; the fixture's near-duplicates share token
    * sets while differing byte-wise, so this is the clustering that
    * actually fires — the hash, never the raw string, keys the
    * shuffle, the 100 TB spelling), cluster sizes bucket into
    * {1, 2, 3–4, 5–8, 9+}, and each bucket grades cluster count,
    * document mass, and mean LANGUAGE PURITY (majority-lang share
    * per cluster, floor-ppm) — low purity says the shared content
    * crosses languages, i.e. boilerplate, exactly what a curation
    * pass needs surfaced. Shuffles: one (fingerprint, lang) count,
    * one fingerprint fold, one bucket fold. */
  val dedupClusterPurity: QDef = q(
    "dedup_cluster_purity",
    """WITH hl AS (
      |  SELECT md5(array_to_string(list_sort(list_distinct(
      |      string_split(text, ' '))), ' ')) AS h,
      |    lang, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |cl AS (
      |  SELECT h, CAST(SUM(c) AS BIGINT) AS sz,
      |    CAST(MAX(c) AS BIGINT) AS maxc
      |  FROM hl GROUP BY h),
      |b AS (
      |  SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
      |    WHEN sz <= 4 THEN '3-4' WHEN sz <= 8 THEN '5-8'
      |    ELSE '9+' END AS size_bucket,
      |    sz, maxc * 1000000 // sz AS purity_ppm
      |  FROM cl)
      |SELECT size_bucket, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(purity_ppm) // COUNT(*) AS BIGINT) AS mean_purity_ppm
      |FROM b GROUP BY size_bucket ORDER BY size_bucket""") { (s, d) =>
    val hl = Tables.documents(s, d)
      .select(md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " "))))).as("h"),
        col("lang"))
      .groupBy(col("h"), col("lang")).agg(count(lit(1)).as("c"))
    val cl = hl.groupBy(col("h"))
      .agg(sum(col("c")).as("sz"), max(col("c")).as("maxc"))
    val b = cl.select(
      when(col("sz") === 1, "1").when(col("sz") === 2, "2")
        .when(col("sz") <= 4, "3-4").when(col("sz") <= 8, "5-8")
        .otherwise("9+").as("size_bucket"),
      col("sz"), expr("maxc * 1000000 div sz").as("purity_ppm"))
    b.groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        expr("CAST(SUM(purity_ppm) div COUNT(*) AS BIGINT)")
          .as("mean_purity_ppm"))
      .orderBy(col("size_bucket"))
  }

  val all: Seq[QDef] = Seq(
    dedupMinhashLsh, minhashEstAudit, dedupSimhash, dedupNearEmbedding,
    textLangid, textQuality, textTokenCount, textFingerprint,
    annIvfLabel, simLshBucketed, kmeansAssign, evalLangidConfusion,
    knnHoldoutEval, dedupBandTuning, kmeansUpdateRound, evalAnnRecall,
    simPqCodes, evalGainsCapture, simCentroidClassifier,
    dedupIncrementalSnapshot, evalRetrievalMrr, evalCalibrationBins,
    evalDedupPrCurve, dedupClusterIncremental, evalNdcgAt10, simMipsTopk,
    evalCohensKappa, dedupSignatureStoreRoundtrip, evalRrfFusion, evalAucRoc,
    evalMapAtK, dedupMinhashBbit, simFilteredTopk, annHnswLayerAssign,
    simCentroidDistanceMatrix, dedupSemanticPrune, annIvfProbeSweep,
    annHnswGreedyRoute, simRerankTwoStage, simMmrDiversify, evalEceBrierDecomp,
    evalKrippendorffAlpha, annPqAdcRecall, dedupClusterPurity)
}
