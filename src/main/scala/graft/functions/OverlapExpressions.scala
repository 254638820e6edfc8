package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * |A ∩ B| of two string arrays that are each ASCENDING and DISTINCT —
 * the exact-overlap verify of the candidate-pair audits (q260, q265,
 * q268, q255's banded source). Each side is prepared once per class by
 * `sort_array(array_distinct(...))`, so the per-pair work is one merge
 * walk with `UTF8String.binaryCompare` (the order `sort_array` sorts
 * by): no hash set, no result array. `size(array_intersect(a, b))`
 * builds a `UTF8String` hash set and an output array per pair, which
 * was two thirds of q260's executor samples.
 *
 * Null elements compare below every string and equal to each other
 * (where `sort_array` places them; `array_intersect` also keeps one
 * null), so the count equals `size(array_intersect(a, b))` for every
 * such input. A null array gives null.
 */
case class SortedOverlapExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlapExpression.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Real codegen (static-invoke pattern): the verify stays inside the
    * pair join's whole-stage span. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedOverlapExpression.overlap($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_overlap"
}

object SortedOverlapExpression {

  /** Shared by the interpreted eval and the generated code. */
  def overlap(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    var x = if (na > 0) a.getUTF8String(0) else null
    var y = if (nb > 0) b.getUTF8String(0) else null
    while (i < na && j < nb) {
      val c =
        if (x == null) { if (y == null) 0 else -1 }
        else if (y == null) 1
        else x.binaryCompare(y)
      if (c <= 0) { i += 1; x = if (i < na) a.getUTF8String(i) else null }
      if (c >= 0) { j += 1; y = if (j < nb) b.getUTF8String(j) else null }
      if (c == 0) n += 1
    }
    n
  }
}

/**
 * Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003): the DISTINCT
 * minima of every full `w`-window of a hash sequence, in order of first
 * selection. An array shorter than `w` has no full window and gives an
 * empty array; null elements are skipped, as `min` over a window frame
 * skips them.
 *
 * Which position of a tied minimum a window selects (MOSS takes the
 * rightmost) does not change the set of selected VALUES, and q165's
 * fingerprint set keeps values only, so one monotonic-deque pass per
 * class computes it: O(n) with no per-gram rows.
 */
case class WinnowExpression(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowExpression.compute(input.asInstanceOf[ArrayData], w)

  /** Real codegen (static-invoke pattern). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowExpression.compute($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "winnow"
}

object WinnowExpression {

  /** Shared by the interpreted eval and the generated code. */
  def compute(hashes: ArrayData, w: Int): ArrayData = {
    val n = hashes.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val v = new Array[UTF8String](n)
    var k = 0
    while (k < n) {
      if (!hashes.isNullAt(k)) v(k) = hashes.getUTF8String(k)
      k += 1
    }
    // deque of positions whose values ascend strictly from head to tail;
    // the head is the current window's minimum
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var last = -1
    k = 0
    while (k < n) {
      if (v(k) != null) {
        while (tail > head && v(dq(tail - 1)).binaryCompare(v(k)) >= 0) tail -= 1
        dq(tail) = k
        tail += 1
      }
      if (k >= w - 1) {
        while (tail > head && dq(head) <= k - w) head += 1
        if (tail > head && dq(head) != last) {
          last = dq(head)
          val m = v(last)
          if (seen.add(m)) out += m.clone()
        }
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object OverlapFunctions {
  import org.apache.spark.sql.GraftBridge

  def sortedOverlap(a: Column, b: Column): Column =
    GraftBridge.column(SortedOverlapExpression(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def winnow(hashes: Column, w: Int): Column =
    GraftBridge.column(WinnowExpression(GraftBridge.expression(hashes), w))
}
