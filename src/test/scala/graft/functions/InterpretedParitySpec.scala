package graft.functions

import graft.{SparkSpec, SparkEntry}

/** Codegen/interpreted parity for every custom expression, driven
  * through the graded queries that consume them.
  *
  * Why this matters at 100 TB: Spark does not FAIL when generated
  * code can't compile (a 64KB method-limit hit, a janino regression)
  * — it silently falls back to interpreted evaluation
  * (`spark.sql.codegen.factoryMode=FALLBACK` is the production
  * default). Every custom expression therefore has TWO live
  * implementations, `doGenCode` and `eval`, and a divergence between
  * them is a silent wrong-answer class that no default-mode test can
  * see. This spec forces the interpreted path (`NO_CODEGEN` +
  * whole-stage off) over the graded keys whose plans embed the custom
  * expressions (signatures, shingles, term counts, vector math,
  * sorted intersects) and asserts row-identical results against the
  * default-mode run of the same key. */
class InterpretedParitySpec extends SparkSpec with graft.SerialSuite {

  private val sf = "/root/testdata/sf0.001"

  /** One consumer key per custom-expression family (unit parity specs
    * cover the expressions in isolation; this pins them INSIDE the
    * graded plans): CharBigrams → text_langid; TermCounts/WordBigrams
    * → text_ngram_logprob; ShingleHashes + SortedIntersectLong →
    * dedup_near_jaccard; MinhashPrep → dedup_minhash_lsh; SimhashSig
    * → dedup_simhash; LshBucket → sim_lsh_bucketed; FloatDotProduct /
    * FloatCosine → sim_search_topk + dedup_near_embedding;
    * RollingHash family → text_fingerprint. */
  private val keys = Seq(
    "text_langid", "text_ngram_logprob", "dedup_near_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "sim_lsh_bucketed",
    "sim_search_topk", "dedup_near_embedding", "text_fingerprint",
    // LongDotProduct → embed_top_component; OrderedLongPairs →
    // graph_jaccard_neighbors (r12b); Slug → harmonize_unmappable
    "embed_top_component", "graph_jaccard_neighbors", "harmonize_unmappable")

  private def rows(s: org.apache.spark.sql.SparkSession, key: String): Seq[String] = {
    val df = SparkEntry.queries(key)(s, sf)
    val out = df.collect().map(_.toString).sorted.toSeq
    spark.catalog.clearCache()
    out
  }

  test("graded consumers of custom expressions match under NO_CODEGEN") {
    val default = keys.map(k => k -> rows(spark, k)).toMap
    // interpreted-mode confs on a throwaway newSession (r13):
    // parallel-safe — concurrently running suites keep codegen on.
    val noCodegen = spark.newSession()
    noCodegen.conf.set("spark.sql.codegen.wholeStage", "false")
    noCodegen.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    for (k <- keys) {
      val interpreted = rows(noCodegen, k)
      assert(interpreted == default(k),
        s"$k diverges between codegen and interpreted evaluation")
    }
  }
}
