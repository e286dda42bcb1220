package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen'd float-vector dot product (SURVEY §4.3 upgrade 1).
  *
  * Replaces the `aggregate(zip_with(...))` higher-order tree in the
  * similarity operators: the built-in higher-order functions evaluate
  * their lambda interpreted per element (lambda-variable binding per
  * call), while this compiles to a tight primitive loop inside
  * whole-stage codegen — ~5× on the pair-join hot paths.
  *
  * Numerics are IDENTICAL to the tree it replaces and to the DuckDB
  * oracle (VecMath.sqlDot): each float32 is widened to double
  * (exact), products are accumulated strictly left-to-right, every
  * op IEEE-correctly-rounded — so results stay bit-deterministic
  * cross-engine (D10).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<float> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd ONE-PASS cosine similarity over float32 arrays
  * (unrounded; callers apply the protocol round(…, 6) outside).
  *
  * Semantically identical to
  * `graft_dot(a,b) / (sqrt(graft_dot(a,a)) * sqrt(graft_dot(b,b)))`
  * — the three accumulators advance in the same strictly left-to-
  * right per-index order as three separate graft_dot loops, every op
  * IEEE-correctly-rounded, so the result is bit-identical to the
  * three-pass form (and to the DuckDB oracle, VecMath.sqlCosine) —
  * but the arrays are traversed ONCE instead of three times, which is
  * the difference on multi-million-pair similarity joins. */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dab += xv * yv; daa += xv * xv; dbb += yv * yv
      i += 1
    }
    // tails: the three-pass form norms each array over its FULL
    // length (dot(a,a) sees all of a even when b is shorter) — match
    // it exactly so unequal-length inputs cannot silently diverge
    while (i < nx) { val xv = x.getFloat(i).toDouble; daa += xv * xv; i += 1 }
    var j = n
    while (j < ny) { val yv = y.getFloat(j).toDouble; dbb += yv * yv; j += 1 }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dab = ctx.freshName("dab")
      val daa = ctx.freshName("daa")
      val dbb = ctx.freshName("dbb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $n = java.lang.Math.min($nx, $ny);
         |double $dab = 0.0; double $daa = 0.0; double $dbb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dab += $xv * $yv; $daa += $xv * $xv; $dbb += $yv * $yv;
         |}
         |for (int $i = $n; $i < $nx; $i++) {
         |  double $xv = (double) $a.getFloat($i); $daa += $xv * $xv;
         |}
         |for (int $i = $n; $i < $ny; $i++) {
         |  double $yv = (double) $b.getFloat($i); $dbb += $yv * $yv;
         |}
         |${ev.value} = $dab / (java.lang.Math.sqrt($daa) * java.lang.Math.sqrt($dbb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosine =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd intersection size of two SORTED string arrays (merge
  * walk, O(|a|+|b|), zero allocation) — the hot-path set intersection
  * for the near-dup pair joins (`dedup_near_jaccard`,
  * `dedup_minhash_lsh` exact verify). Replaces interpreted
  * `array_intersect`, which builds a hash set per pair across a
  * multi-million-pair probe stream.
  *
  * PRECONDITIONS (callers guarantee both): elements are DISTINCT and
  * sorted ascending in Spark's binary UTF8 order (`sort_array`), with
  * no null elements (token/shingle arrays from split/collect_set).
  * The count is then exactly the oracle's `len(list_intersect(..))`. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect"

  // The merge walk dereferences every element, so a null element would
  // surface as an opaque executor NPE. Requiring containsNull=false
  // turns that misuse into a clean analysis-time error; callers built
  // on collect_set / split already carry the non-null element type.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, containsNull) => !containsNull
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect expects two array<string> args with " +
        s"non-null elements, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    var j = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { acc += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $acc = 0;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $acc++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd intersection size of two SORTED bigint arrays — the
  * primitive-typed sibling of [[SortedIntersectCount]] for
  * hash-encoded token sets (`dedup_near_jaccard`): getLong + integer
  * compares, no object allocation at all on the multi-million-pair
  * probe stream. Same preconditions: sorted ascending, distinct, no
  * null elements. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_long"

  // getLong on a null element silently reads 0 — a wrong count, worse
  // than a crash. Same containsNull=false contract as the string
  // variant, enforced at analysis time.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect_long expects two array<bigint> args with " +
        s"non-null elements, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    var j = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { acc += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val acc = ctx.freshName("acc")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $acc = 0;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $acc++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** One-pass char-bigram extraction: all `substr(text, i, 2)` windows
  * (i = 1 .. numChars-1) computed in a SINGLE walk over the UTF-8
  * bytes. The `explode(sequence) + substr(text, i, 2)` formulation
  * this replaces calls UTF8String.substring once per index, and each
  * call re-scans from byte 0 to find the char boundary (UTF-8 is
  * variable-width) — O(len²) characters touched per document. Here
  * the boundary table is built once and every bigram is a zero-copy
  * slice view: O(len). Bigram VALUES are identical (same
  * char-boundary semantics as substr), so the langid scoring and its
  * DuckDB oracle are unaffected.
  */
object CharBigramsUtil {
  def bigrams(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // char-boundary byte offsets (one walk)
    val offsets = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < nBytes) {
      offsets(c) = i
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offsets(c) = nBytes
    if (c < 2) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](c - 1)
    var k = 0
    while (k < c - 1) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromBytes(
        bytes, offsets(k), offsets(k + 2) - offsets(k))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Codegen'd EXACT integer dot product over two array<bigint>
  * columns — the fixed-point twin of [[FloatDotProduct]] for
  * operators whose determinism contract forbids float accumulation
  * entirely (power iteration, quantized similarity). Accumulates in
  * a primitive long; callers are responsible for the magnitude
  * audit (documented per call site) that keeps the products and the
  * running sum inside 64 bits — the expression itself adds no
  * rounding and no overflow path, exactly like `BIGINT SUM(a*b)`
  * after DuckDB's HUGEINT is capped back by the caller's CAST. */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot_long expects two array<bigint> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

object OrderedPairsUtil {
  /** All i<j element pairs of a (sorted, distinct) long array as
    * struct rows — the row-local wedge enumerator: a part with d
    * suppliers yields its C(d,2) co-supply pairs with no self-join.
    * Callers own the hub guard (a degree cap before this call) —
    * output is quadratic in the input length by definition. */
  def pairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](a, arr.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Codegen'd ordered-pair (wedge) enumeration over a sorted long
  * array: array<bigint> -> array<struct<a,b>> with a < b by input
  * order. Replaces the edge-list SELF-JOIN in neighbor-overlap
  * operators: grouping the edge list once per container and
  * exploding this expression emits each unordered pair exactly once
  * — no d² join-condition probes, no second shuffle of the edge
  * list. */
case class OrderedLongPairs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ordered_pairs expects array<bigint>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    OrderedPairsUtil.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.OrderedPairsUtil.pairs($c)")

  override protected def withNewChildInternal(newChild: Expression): OrderedLongPairs =
    copy(child = newChild)
}

case class CharBigrams(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_bigrams"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_char_bigrams expects string, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    CharBigramsUtil.bigrams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharBigramsUtil.bigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): CharBigrams =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column API for the one-pass char-bigram array. */
  def charBigrams(text: Column): Column =
    ColumnBridge.column(CharBigrams(ColumnBridge.expression(text)))

  /** Column API for the one-pass annotation slug (Harmonize stage 2). */
  def slug(text: Column): Column =
    ColumnBridge.column(Slug(ColumnBridge.expression(text)))

  /** Column API for the row-local multiset count:
    * array<string> -> array<struct<term, tf>>. */
  def termCounts(arr: Column): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(arr)))

  /** Column API for the one-pass adjacent-pair (word-bigram) array. */
  def wordBigrams(arr: Column): Column =
    ColumnBridge.column(WordBigrams(ColumnBridge.expression(arr)))

  /** Column API for the one-pass n-token-window array. */
  def wordNgrams(arr: Column, n: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(arr), n))

  /** Column API for the fused sorted-distinct shingle-hash set. */
  def shingleHashes(arr: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(arr), n))

  /** Column API for the fused shingle-set + minhash-window prep. */
  def minhashPrep(arr: Column, n: Int): Column =
    ColumnBridge.column(MinhashPrep(ColumnBridge.expression(arr), n))


  /** Column API for the fused tf-weighted simhash signature fold. */
  def simhashSig(hts: Column, bits: Int): Column =
    ColumnBridge.column(SimhashSig(ColumnBridge.expression(hts), bits))

  /** Column API for the fused random-hyperplane LSH bucket fold. */
  def lshBucket(emb: Column, signs: Column, planes: Int, dims: Int): Column =
    ColumnBridge.column(LshBucket(
      ColumnBridge.expression(emb), ColumnBridge.expression(signs), planes, dims))

  /** Column API for the codegen'd dot product over float32 arrays. */
  def floatDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatDotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the codegen'd ordered-pair (wedge) enumeration. */
  def orderedPairs(arr: Column): Column =
    ColumnBridge.column(OrderedLongPairs(ColumnBridge.expression(arr)))

  /** Column API for the codegen'd exact dot product over long arrays. */
  def longDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      LongDotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the one-pass unrounded cosine over float32 arrays. */
  def floatCosine(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatCosine(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the codegen'd sorted-array intersection count. */
  def sortedIntersect(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the codegen'd sorted-long-array intersection count. */
  def sortedIntersectLong(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedLongIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the row-local greedy MMR pick sequence. */
  def mmrPicks(cands: Column, sims: Column): Column =
    ColumnBridge.column(
      MmrPicks(ColumnBridge.expression(cands), ColumnBridge.expression(sims)))
}

/** Row-local greedy Maximal-Marginal-Relevance selection (r18,
  * `sim_mmr_diversify`): given one probe's candidate (v, rel) list
  * and its pairwise (a, b, sim) dot table, emit the 5-pick greedy
  * sequence maximizing 7·rel − 3·max_sim_to_picked (λ = 7/10 ×10 —
  * exact integer algebra), ties to the smaller v. Collapses what
  * would otherwise be a 5-round iterative DataFrame loop (~18 AQE
  * stages over panel×20 frames — measured 4.9 s at sf0.1) into one
  * expression over 8 collected rows. Candidates are sorted
  * internally, so collect_list order cannot leak in. */
case class MmrPicks(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("rel", LongType, nullable = false),
      StructField("max_sim", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_mmr_picks"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(a), _), ArrayType(StructType(b), _))
          if a.length == 2 && b.length == 3 &&
            a.forall(_.dataType == LongType) &&
            b.forall(_.dataType == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_mmr_picks expects (array<struct<long,long>>, " +
          s"array<struct<long,long,long>>), got $other")
    }

  override protected def nullSafeEval(cands: Any, sims: Any): Any =
    MmrPicksUtil.picks(cands.asInstanceOf[ArrayData],
      sims.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, s) => s"graft.functions.MmrPicksUtil.picks($c, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MmrPicks =
    copy(left = newLeft, right = newRight)
}

object MmrPicksUtil {
  /** The greedy loop itself — bounded by k = 5 picks over n ≤ 20
    * candidates, O(k·n) sim lookups against a hashed pair table. */
  def picks(cands: ArrayData, sims: ArrayData): ArrayData = {
    val n = cands.numElements()
    val vs = new Array[Long](n)
    val rels = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 2)
      vs(i) = row.getLong(0); rels(i) = row.getLong(1)
      i += 1
    }
    // deterministic candidate order regardless of collect_list order
    val idx = (0 until n).sortBy(j => (-rels(j), vs(j))).toArray
    val sim = new java.util.HashMap[Long, Long](sims.numElements() * 2)
    i = 0
    while (i < sims.numElements()) {
      val row = sims.getStruct(i, 3)
      // vec ids are < 2^31 in every fixture tier; key = a<<32 | b
      sim.put((row.getLong(0) << 32) | row.getLong(1), row.getLong(2))
      i += 1
    }
    val k = math.min(5, n)
    val picked = new Array[Int](k)
    val maxSims = new Array[Long](k)
    val taken = new Array[Boolean](n)
    var r = 0
    while (r < k) {
      var bestJ = -1; var bestScore = Long.MinValue; var bestMs = 0L
      var jj = 0
      while (jj < n) {
        val j = idx(jj)
        if (!taken(j)) {
          var ms = Long.MinValue
          if (r == 0) ms = 0L
          else {
            var p = 0
            while (p < r) {
              val s = sim.get((vs(j) << 32) | vs(picked(p)))
              if (s > ms) ms = s
              p += 1
            }
          }
          val score = 7L * rels(j) - 3L * ms
          // idx is (-rel, v)-ordered, so for equal scores the FIRST
          // seen candidate is NOT automatically the (score, v) tie
          // winner — compare (score, v) explicitly
          if (score > bestScore ||
              (score == bestScore && (bestJ < 0 || vs(j) < vs(bestJ)))) {
            bestJ = j; bestScore = score; bestMs = ms
          }
        }
        jj += 1
      }
      picked(r) = bestJ; maxSims(r) = bestMs; taken(bestJ) = true
      r += 1
    }
    val out = new Array[Any](k)
    r = 0
    while (r < k) {
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any]((r + 1).toLong, vs(picked(r)), rels(picked(r)),
          maxSims(r)))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
