package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS algorithm): hash every k-byte gram with the polynomial rolling
  * hash ([[RollingHash]]), then keep the minimum hash of each w-wide
  * window. Guarantees: any shared substring of length ≥ w+k−1 between two
  * documents yields a shared fingerprint, while only ~2/(w+1) of the
  * k-grams are kept — the local-fingerprint primitive for substring-level
  * near-dup detection where shingle-set Jaccard (d2) is too coarse.
  *
  * Returned as a sorted distinct array so the result is independent of
  * scan order; documents shorter than k bytes contribute their whole text
  * as one fingerprint (same guard as [[graft.ext.Dedup.shingles]]).
  *
  * Native Catalyst expression WITH codegen: the O(n) rolling pass + O(m·w)
  * window minima run as one primitive-loop kernel inside the consuming
  * operator's WholeStageCodegen — no per-element HOF closure dispatch.
  * The k-gram hashes use the same (base 131, mod 1e9+7) fold as
  * [[RollingHash]], so every fingerprint is reproducible in SQL and the
  * operator is DuckDB-oracleable.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowFingerprints.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {

  import RollingHash.{Base, Mod}

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array(RollingHash.compute(s)))
    // rolling k-gram hashes: h(i+1) = (h(i) − s[i]·B^(k−1))·B + s[i+k]
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * Base + (bytes(i) & 0xff)) % Mod; i += 1 }
    hs(0) = h
    var pw = 1L
    i = 0
    while (i < k - 1) { pw = pw * Base % Mod; i += 1 }
    i = 1
    while (i < m) {
      h = ((h - (bytes(i - 1) & 0xff) * pw % Mod + Mod) % Mod * Base
        + (bytes(i + k - 1) & 0xff)) % Mod
      hs(i) = h
      i += 1
    }
    // minima of each w-window, deduped + sorted (scan-order independent)
    val sel = new java.util.TreeSet[java.lang.Long]()
    val nWin = math.max(m - w + 1, 1)
    var j = 0
    while (j < nWin) {
      var mn = hs(j)
      var t = j + 1
      val end = math.min(j + w, m)
      while (t < end) { if (hs(t) < mn) mn = hs(t); t += 1 }
      sel.add(mn)
      j += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Column API. */
  def winnow_fingerprints(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WinnowFingerprints(org.apache.spark.sql.graft.ColumnBridge.expression(c), k, w))
}
