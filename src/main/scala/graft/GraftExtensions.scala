package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharBigrams, FloatCosine, FloatDotProduct, LongDotProduct, LshBucket, MinhashPrep, OrderedLongPairs, ShingleHashes, SimhashSig, Slug, TermCounts, WordBigrams, WordNgrams}

/** SQL-surface registration for the engine's custom expressions
  * (`spark.sql.extensions=graft.GraftExtensions` or
  * `builder.withExtensions(new GraftExtensions)`).
  *
  * The DataFrame API does not need this (graft.functions.
  * VectorFunctions builds Columns directly); the extension exists so
  * plain Spark SQL text can call `graft_dot(a, b)` too — SURVEY §3
  * entry point B. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => FloatDotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[LongDotProduct].getName, "graft_dot_long"),
      (children: Seq[Expression]) => LongDotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_ordered_pairs"),
      new ExpressionInfo(classOf[OrderedLongPairs].getName, "graft_ordered_pairs"),
      (children: Seq[Expression]) => OrderedLongPairs(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[FloatCosine].getName, "graft_cosine"),
      (children: Seq[Expression]) => FloatCosine(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_bigrams"),
      new ExpressionInfo(classOf[CharBigrams].getName, "graft_char_bigrams"),
      (children: Seq[Expression]) => CharBigrams(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_slug"),
      new ExpressionInfo(classOf[Slug].getName, "graft_slug"),
      (children: Seq[Expression]) => Slug(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "graft_term_counts"),
      (children: Seq[Expression]) => TermCounts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_bigrams"),
      new ExpressionInfo(classOf[WordBigrams].getName, "graft_word_bigrams"),
      (children: Seq[Expression]) => WordBigrams(children.head)))
    // The Int-parameterized expressions take n as a foldable integral
    // second arg. Accepting any foldable (a 2L long literal, a CAST
    // around one, a folded arithmetic expression) instead of only a
    // bare IntegerType Literal, and failing with a real
    // AnalysisException mid-analysis instead of a raw
    // IllegalArgumentException (ADVICE r7). The error class matches
    // the actual defect (ADVICE r8): NON_FOLDABLE_ARGUMENT only for
    // a genuinely non-foldable arg; a foldable arg whose VALUE is
    // unusable (null literal, out-of-Int-range long, non-integral
    // type) raises the standard INVALID_PARAMETER_VALUE.INTEGER.
    def litInt(e: Expression, fn: String): Int = {
      if (!e.resolved || !e.foldable)
        throw new org.apache.spark.sql.AnalysisException(
          "NON_FOLDABLE_ARGUMENT",
          Map("funcName" -> s"`$fn`", "paramName" -> "`n`", "paramType" -> "\"INT\""),
          None)
      e.eval() match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
        case other => throw new org.apache.spark.sql.AnalysisException(
          "INVALID_PARAMETER_VALUE.INTEGER",
          Map("parameter" -> "`n`", "functionName" -> s"`$fn`",
            "invalidValue" -> String.valueOf(other)),
          None)
      }
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "graft_word_ngrams"),
      (children: Seq[Expression]) =>
        WordNgrams(children.head, litInt(children(1), "graft_word_ngrams"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) =>
        ShingleHashes(children.head, litInt(children(1), "graft_shingle_hashes"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_prep"),
      new ExpressionInfo(classOf[MinhashPrep].getName, "graft_minhash_prep"),
      (children: Seq[Expression]) =>
        MinhashPrep(children.head, litInt(children(1), "graft_minhash_prep"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashSig].getName, "graft_simhash"),
      (children: Seq[Expression]) =>
        SimhashSig(children.head, litInt(children(1), "graft_simhash"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "graft_lsh_bucket"),
      (children: Seq[Expression]) =>
        LshBucket(children.head, children(1),
          litInt(children(2), "graft_lsh_bucket"),
          litInt(children(3), "graft_lsh_bucket"))))
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
  }
}
