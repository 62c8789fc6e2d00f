package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native |A ∩ B| — SET semantics — of two ASCENDING-sorted
  * long-array columns: the two-pointer merge count, no per-row hash
  * set, no materialized intersection array.
  *
  * `size(array_intersect(a, b))` is semantically identical but builds
  * a boxed hash set AND the intersection array per row just to count
  * it; on the banded candidate frame (millions of pairs × ~100-token
  * arrays — the F41/F71/F74 exact-Jaccard stage) that allocation was
  * the dominant query cost (measured ~15-19 s per query at sf0.1).
  * The merge walk is allocation-free. Same trade as [[VecDot]]:
  * CodegenFallback, the loop body is already JVM code.
  *
  * The walk VERIFIES ascending order as it scans (one compare per
  * step — free) and throws on violation: a caller passing unsorted
  * arrays would otherwise get silently wrong counts, the worst
  * failure mode a dedup verdict can have. Duplicate values are
  * SKIPPED after a match, so the count is distinct-common-values
  * (set intersection) even if the inputs carry duplicates — token
  * hashes are mod p, so distinct TOKENS do not guarantee distinct
  * HASHES, and a multiset count would diverge from the set-semantic
  * oracle on the first collision.
  */
case class SortedCommon(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_ncommon"
  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    var prevA = Long.MinValue
    var prevB = Long.MinValue
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < prevA || y < prevB)
        throw new IllegalArgumentException(
          "graft_sorted_ncommon: input array not ascending-sorted")
      if (x == y) {
        n += 1; prevA = x; prevB = y; i += 1; j += 1
        // set semantics: a run of equal values counts once
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == y) j += 1
      }
      else if (x < y) { prevA = x; i += 1 }
      else { prevB = y; j += 1 }
    }
    n
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedCommon =
    copy(left = newLeft, right = newRight)
}

object SortedCommon {
  def fromArgs(exprs: Seq[Expression]): SortedCommon = {
    Args("graft_sorted_ncommon(a, b)").arity(exprs, 2)
    SortedCommon(exprs.head, exprs(1))
  }
}
