package graft.ops

import graft.{SparkSpec, StaticResults}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the curation-pipeline operators, checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle, so a systematic cross-engine bug can't hide a wrong
  * formulation. */
class PipelineOpsSpec extends SparkSpec {

  test("contamination_ngram: no benchmark docs, ratio = n_hit/n_shingles in (0,1]") {
    val docs = spark.read.parquet(s"$sfStatic/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = StaticResults.collected(spark, "contamination_ngram")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(docs(r.getLong(0)) != "src0", s"benchmark doc ${r.getLong(0)} in output")
      val (nSh, nHit, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nHit <= nSh && nHit >= 0)
      assert(ratio == nHit.toDouble / nSh && ratio >= 0.05)
    }
  }

  test("pack_sequences: offsets are per-source exclusive prefix sums, seq_no = off/512") {
    val rows = StaticResults.collected(spark, "pack_sequences")
      .groupBy(_.getString(0))
    assert(rows.nonEmpty)
    rows.foreach { case (_, docs) =>
      // output is ordered (source, doc_id); recompute the running sum
      var run = 0L
      docs.sortBy(_.getLong(1)).foreach { r =>
        assert(r.getLong(3) == run, s"offset mismatch at doc ${r.getLong(1)}")
        assert(r.getLong(4) == run / 512)
        run += r.getLong(2)
      }
    }
  }

  test("mix_domain_weighted: equals the inline CASE formulation and keeps all of src0") {
    val out = StaticResults.collected(spark, "mix_domain_weighted")
    val docs = spark.read.parquet(s"$sfStatic/documents.parquet")
    val expected = docs.filter(
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 1000 <
        expr("""CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 750
               |WHEN 'src2' THEN 500 WHEN 'src3' THEN 250 ELSE 100 END""".stripMargin))
      .select(col("doc_id"), col("source"), col("lang"))
    // exceptAll both ways: equal as multisets
    assert(out.map(_.toString).sorted
      .sameElements(expected.collect().map(_.toString).sorted))
    val src0 = docs.filter(col("source") === "src0").count()
    assert(out.count(_.getString(1) == "src0") == src0)
  }

  test("text_repetition: metrics match a driver-side recount of the text") {
    val texts = spark.read.parquet(s"$sfStatic/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = StaticResults.collected(spark, "text_repetition")
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).split(" ", -1)
      val tf = toks.groupBy(identity).map(_._2.length)
      assert(r.getLong(1) == toks.length, "n_tokens")
      assert(r.getLong(2) == tf.size, "n_distinct")
      assert(r.getLong(3) == tf.max, "top_tf")
      assert(r.getDouble(4) == tf.max.toDouble / toks.length, "top_share")
      assert(r.getDouble(5) == (toks.length - tf.size).toDouble / toks.length, "rep_ratio")
    }
  }
}
