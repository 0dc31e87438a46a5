package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** Distinct 64-bit fingerprints of a token array's word n-gram shingles,
  * in first-occurrence order: exactly
  * `array_distinct(transform(Dedup.shingles(toks, n),
  *   s -> when(s is not null, xxhash64(s))))`, the per-document set the
  * near-dup index stores.
  *
  * The composed spelling is a chain of higher-order functions, which run
  * interpreted: per shingle a lambda call, a `slice` array, an
  * `array_join` string and an `xxhash64` dispatch. Here the document's
  * tokens are joined with single spaces into one buffer once; every
  * n-gram's joined text is then a contiguous range of that buffer, hashed
  * in place with `XXH64` (seed 42, as `xxhash64`), and a primitive
  * open-addressing set drops repeats.
  *
  * The input is an array<string> without null elements, as
  * [[Tokens]] produces. Semantics kept: an array shorter than n tokens is
  * one shingle, all its tokens (`[]` gives the hash of `""`); a null
  * array is the one shingle null, whose fingerprint is `[null]`.
  * Asserted against the lambda chain, codegen'd and interpreted, by
  * `TextKernelSpec`.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure("shingle_hashes requires " +
      s"array<string> input without null elements, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => ShingleHashes.nullTokens()
    case toks => ShingleHashes.compute(toks.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val kernel = "graft.functions.ShingleHashes"
    ev.copy(code = code"""
      ${c.code}
      ${javaType(dataType)} ${ev.value} = ${c.isNull} ?
        $kernel.nullTokens() : $kernel.compute(${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  private val Seed = 42L

  /** The fingerprints of a null token array: its one shingle is null. */
  def nullTokens(): ArrayData = new GenericArrayData(Array[Any](null))

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    // the tokens joined by single spaces: token i is the bytes
    // [start(i), start(i + 1) - 1) of `joined`
    val start = new Array[Int](len + 1)
    var i = 0
    while (i < len) {
      start(i + 1) = start(i) + toks.getUTF8String(i).numBytes + 1
      i += 1
    }
    val joined = new Array[Byte](math.max(start(len) - 1, 0))
    i = 0
    while (i < len) {
      toks.getUTF8String(i).writeToMemory(joined, Platform.BYTE_ARRAY_OFFSET + start(i))
      if (i + 1 < len) joined(start(i + 1) - 1) = ' '
      i += 1
    }
    // shorter than n: one window over all the tokens
    val width = math.min(n, len)
    val windows = len - width + 1
    val set = new LongSet(windows)
    var w = 0
    while (w < windows) {
      set.add(XXH64.hashUnsafeBytes(joined, Platform.BYTE_ARRAY_OFFSET + start(w),
        math.max(start(w + width) - start(w) - 1, 0), Seed))
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(set.inOrder)
  }

  /** Insertion-ordered set of longs, open addressing over a power-of-two
    * table sized for `capacity` adds.
    */
  private final class LongSet(capacity: Int) {
    private val mask = Integer.highestOneBit(math.max(capacity, 1) * 2 - 1) * 2 - 1
    private val table = new Array[Long](mask + 1)
    private val used = new Array[Boolean](mask + 1)
    private val order = new Array[Long](capacity)
    private var size = 0

    def add(v: Long): Unit = {
      var slot = (v ^ (v >>> 32)).toInt & mask
      while (used(slot)) {
        if (table(slot) == v) return
        slot = (slot + 1) & mask
      }
      used(slot) = true
      table(slot) = v
      order(size) = v
      size += 1
    }

    def inOrder: Array[Long] = java.util.Arrays.copyOf(order, size)
  }

  /** Column API. */
  def shingle_hashes(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      ShingleHashes(org.apache.spark.sql.graft.ColumnBridge.expression(toks), n))
}
