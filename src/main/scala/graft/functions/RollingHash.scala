package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash of a string column:
  * h = fold(bytes, 0) { (h, b) => (h·131 + b) mod 1_000_000_007 } —
  * the classic content-fingerprint primitive (cf. Rabin–Karp / Karp-Rabin
  * fingerprints) for document identity at corpus scale.
  *
  * Implemented as a native Catalyst `Expression` WITH `doGenCode` (not a
  * Scala UDF): the generated code is a direct static call inside the
  * consuming operator's WholeStageCodegen loop — no boxing, no closure
  * dispatch, null handling inherited from `UnaryExpression.nullSafeEval`.
  *
  * The same fold is SQL-expressible (DuckDB `list_reduce` over code
  * points), so unlike xxhash64-based sketches this fingerprint IS
  * oracle-checkable for ASCII text (bytes == code points).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {

  val Base = 131L
  val Mod = 1000000007L

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * Base + (bytes(i) & 0xff)) % Mod
      i += 1
    }
    h
  }

  /** Column API. */
  def rolling_hash(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      RollingHash(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}
