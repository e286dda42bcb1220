package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass annotation slug — Harmonize stage 2's normalization.
  *
  * Equals `regexp_replace(regexp_replace(lower(s), '[^a-z0-9]+', '-'),
  * '^-+|-+$', '')` without its per-row cost: that form decodes every
  * string to a java.lang.String, runs two java.util.regex matchers and
  * re-encodes twice. Here one compiled method walks the UTF8String
  * bytes into one output buffer: ASCII letters are lowered, every run
  * of bytes outside `[a-z0-9]` becomes one `-`, and leading/trailing
  * runs are dropped (the CharBigramsUtil static-call pattern, so the
  * expression stays inside whole-stage codegen).
  *
  * Exactness against the regex form:
  *  - all-ASCII input: `lower` is the ASCII table, so the byte pass is
  *    the regex pass character for character;
  *  - any other input is first lowered by the very function `Lower`
  *    calls (`CollationSupport.Lower.exec`, UTF8_BINARY, the same ICU
  *    case-mapping setting), then takes the same pass. Every UTF-8 byte
  *    of a non-ASCII character is >= 0x80, so a character the regex
  *    counts as one separator is a run of separator bytes here, and a
  *    character that lowers to ASCII (Kelvin sign -> `k`) is ASCII by
  *    the time the pass sees it. Invalid UTF-8 reaches the regex as
  *    U+FFFD, a separator, and its bytes are >= 0x80 here too;
  *  - the regex `$` also matches before a final line terminator, but
  *    every terminator is already a `-` when the second regex runs, so
  *    it only ever anchors at the end, as the pass does.
  */
object SlugUtil {
  private val Dash = '-'.toByte

  def slug(s: UTF8String, useICU: Boolean): UTF8String = {
    val out = new Array[Byte](s.numBytes)
    val w = pass(s, out, asciiOnly = true)
    if (w >= 0) UTF8String.fromBytes(out, 0, w)
    else {
      val lowered = CollationSupport.Lower.exec(
        s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
      val buf = if (lowered.numBytes <= out.length) out else new Array[Byte](lowered.numBytes)
      UTF8String.fromBytes(buf, 0, pass(lowered, buf, asciiOnly = false))
    }
  }

  /** Slug bytes of `s` into `out` (never longer than `s`: each dash
    * stands for at least one dropped byte); returns the length, or -1
    * as soon as an `asciiOnly` pass meets a byte >= 0x80. */
  private def pass(s: UTF8String, out: Array[Byte], asciiOnly: Boolean): Int = {
    val n = s.numBytes
    var w = 0
    var gap = false
    var i = 0
    while (i < n) {
      var b = s.getByte(i)
      if (b < 0 && asciiOnly) return -1
      if (b >= 'A' && b <= 'Z') b = (b + ('a' - 'A')).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (gap && w > 0) { out(w) = Dash; w += 1 }
        gap = false
        out(w) = b
        w += 1
      } else gap = true
      i += 1
    }
    w
  }
}

/** `graft_slug(string) -> string`: lowercase, each non-`[a-z0-9]` run
  * to one `-`, no leading or trailing `-`. */
case class Slug(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_slug"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_slug expects string, got ${other.simpleString}")
  }

  // Read once per expression, exactly as Lower reads it.
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(input: Any): Any =
    SlugUtil.slug(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SlugUtil.slug($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): Slug =
    copy(child = newChild)
}
