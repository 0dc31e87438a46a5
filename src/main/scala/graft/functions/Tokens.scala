package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens of lower-cased trimmed text: exactly
  * `split(lower(trim(text)), "\\s+")`, the tokenizer every corpus operator
  * reads, in one pass over the bytes.
  *
  * The composed spelling costs three things per document: `trim` and
  * `lower` each copy the string, the split runs a Java regex over a
  * decoded `java.lang.String`, and the first `lower` of a JVM builds
  * Spark's ICU title-case table for all 1,114,112 code points (about 1 s,
  * inside whichever task gets there first). Here an all-ASCII row is
  * trimmed, lower-cased and split in one loop into one buffer that its
  * tokens view. A row with any byte >= 0x80 goes through Spark's own
  * trim, `CollationSupport.Lower` (under the session's
  * `spark.sql.icu.caseMappings.enabled`, read as `Lower` reads it) and
  * split, so its tokens are Spark's whatever the case mapping does, and
  * the ICU table is built only when such a row appears.
  *
  * Semantics kept: `trim` removes only 0x20; the split is on Java-regex
  * `\s` (`[ \t\n\x0B\f\r]`) runs with limit -1, so `""` gives `[""]`, a
  * leading run a leading `""` and a trailing run a trailing `""`; null
  * text gives null. Asserted against the composed expression, codegen'd
  * and interpreted, by `TextKernelSpec`.
  */
case class Tokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StringType if s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokens requires UTF8_BINARY string input, got ${other.simpleString}")
  }

  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(input: Any): Any =
    Tokens.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokens.compute($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {

  private val WhitespaceRun = UTF8String.fromString("\\s+")

  /** Java regex `\s`: space, \t, \n, \x0B, \f, \r. */
  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String, useICU: Boolean): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var from = 0
    var to = text.numBytes
    while (from < to && Platform.getByte(base, off + from) == ' ') from += 1
    while (to > from && Platform.getByte(base, off + to - 1) == ' ') to -= 1
    val buf = new Array[Byte](to - from)
    var runs = 0
    var inRun = false
    var i = 0
    while (i < buf.length) {
      val b = Platform.getByte(base, off + from + i)
      if (b < 0) return composed(text, useICU)
      buf(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      val space = isSpace(b)
      if (space && !inRun) runs += 1
      inRun = space
      i += 1
    }
    val out = new Array[AnyRef](runs + 1)
    var k = 0
    var start = 0
    i = 0
    while (i < buf.length) {
      if (isSpace(buf(i))) {
        out(k) = UTF8String.fromBytes(buf, start, i - start)
        k += 1
        while (i < buf.length && isSpace(buf(i))) i += 1
        start = i
      } else i += 1
    }
    out(k) = UTF8String.fromBytes(buf, start, buf.length - start)
    new GenericArrayData(out)
  }

  /** Spark's trim → lower → split chain, for text that is not all ASCII. */
  private def composed(text: UTF8String, useICU: Boolean): ArrayData = {
    val lowered = CollationSupport.Lower.exec(CollationSupport.StringTrim.exec(text),
      CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
    new GenericArrayData(lowered.split(WhitespaceRun, -1).asInstanceOf[Array[AnyRef]])
  }

  /** Column API. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      Tokens(org.apache.spark.sql.graft.ColumnBridge.expression(text)))
}
