package graft.ops

import graft.{SparkSpec, StaticResults}
import graft.StaticPlans.sfStatic
import org.apache.spark.sql.functions._

/** Semantic invariants of the corpus-statistics operators, checked by
  * driver-side recomputation at sf0.001 — independent of the DuckDB
  * oracle, so a systematic cross-engine bug can't hide a wrong
  * formulation. */
class CorpusOpsSpec extends SparkSpec {

  test("boilerplate_ngram: counts bounded, ratio consistent, threshold honored") {
    val rows = StaticResults.collected(spark, "boilerplate_ngram")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nGrams, nBoiler, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nGrams > 0 && nBoiler >= 0 && nBoiler <= nGrams)
      assert(ratio == nBoiler.toDouble / nGrams)
    }
    // a doc made entirely of the corpus's most common 5-gram pattern
    // exists in the dup-heavy fixture, so the threshold fires somewhere
    assert(rows.exists(_.getLong(2) > 0), "no boilerplate detected at all")
  }

  test("boilerplate_ngram: broadcast and shuffle boiler modes return identical rows") {
    // the size-threshold switch must be strategy-only: the exchange
    // layout changes, the result set must not (PLANS.md r6 open item
    // 2 — the graded key freezes broadcast mode; this is the proof
    // the degradation path is safe to flip to at scale).
    val b = CorpusOps.boilerplateFrame(spark, sfStatic, boilerMode = "broadcast")
      .collect().map(_.toSeq).toSeq
    val sh = CorpusOps.boilerplateFrame(spark, sfStatic, boilerMode = "shuffle")
      .collect().map(_.toSeq).toSeq
    assert(b.nonEmpty && b == sh)
  }

  test("boilerplate boiler-join switch picks broadcast below the bound, shuffle above") {
    assert(CorpusOps.chooseBoilerJoin(10, 100) == "broadcast")
    assert(CorpusOps.chooseBoilerJoin(100, 100) == "broadcast")
    assert(CorpusOps.chooseBoilerJoin(101, 100) == "shuffle")
    // auto mode resolves without error and matches broadcast results
    // at fixture scale (boiler set far under the default bound)
    val auto = CorpusOps.boilerplateFrame(spark, sfStatic, boilerMode = "auto")
      .collect().map(_.toSeq).toSeq
    val b = CorpusOps.boilerplateFrame(spark, sfStatic, boilerMode = "broadcast")
      .collect().map(_.toSeq).toSeq
    assert(auto == b)
  }

  test("corpus_zipf: ranks are 1..n, frequencies non-increasing, ratios sum to ~1") {
    val rows = StaticResults.collected(spark, "corpus_zipf")
    assert(rows.nonEmpty && rows.length <= 100)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i + 1, "rank not dense from 1")
    }
    val freqs = rows.map(_.getLong(2))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    // the fixture vocabulary is < 100 tokens, so top-100 is the whole
    // distribution and the ratios must sum to 1
    val ratioSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(ratioSum - 1.0) < 1e-9, s"ratio sum $ratioSum")
  }

  test("split_train_holdout: partitions the corpus, buckets match md5 recompute") {
    val rows = StaticResults.collected(spark, "split_train_holdout")
    val total = rows.map(_.getLong(2)).sum
    val nDocs = spark.read.parquet(s"$sfStatic/documents.parquet").count()
    assert(total == nDocs, s"split counts $total != corpus $nDocs")
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    // train dominates under the 80/10/10 routing
    val bySplit = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
  }

  test("text_char_stats: simpson/entropy agree with a driver-side recompute") {
    val rows = StaticResults.collected(spark, "text_char_stats")
    val texts = spark.read.parquet(s"$sfStatic/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.count(_._2.nonEmpty))
    rows.foreach { r =>
      val text = texts(r.getLong(0))
      val counts = text.toSeq.groupBy(identity).values.map(_.size.toLong).toSeq
      val n = counts.sum
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == counts.size)
      val simpson = 1.0 - counts.map(c => c * c).sum.toDouble / (n * n)
      assert(math.abs(r.getDouble(3) - simpson) < 1e-12)
      val h = -counts.map { c =>
        val p = c.toDouble / n; p * (math.log(p) / math.log(2.0))
      }.sum
      // millibit resolution; the exact-decimal sum can differ from this
      // naive double sum by ulps, never by a full millibit
      assert(math.abs(r.getLong(4) - math.floor(h * 1000 + 0.5)) <= 1,
        s"entropy_mb ${r.getLong(4)} vs recompute $h")
    }
  }

  test("minhash_est_audit: estimate is k/8, exact matches pair-listed jaccard") {
    val audit = StaticResults.collected(spark, "minhash_est_audit")
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val est = r.getDouble(2)
      assert((est * 8).isWhole && est >= 0.0 && est <= 1.0)
      assert(r.getDouble(4) == math.abs(est - r.getDouble(3)))
    }
    // every verified near-dup pair (jacc >= 0.5) appears in the audit
    val pairs = StaticResults.collected(spark, "dedup_minhash_lsh")
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val auditPairs = audit.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(auditPairs))
  }
}
