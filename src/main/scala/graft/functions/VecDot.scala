package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product of two float-array columns, accumulated left to
  * right in double — bit-identical to both the unrolled
  * `element_at(a,i)·element_at(b,i)` chain and the oracle's
  * `list_reduce` (SURVEY §6), but O(1) expression-tree size.
  *
  * The unrolled 64-term trees were correct and codegen-able, but at
  * one ANN query each they cost ~1-3 s of janino compilation per plan
  * — more than the queries' execution at test scale. This expression
  * keeps the plan tiny and runs the loop natively (`CodegenFallback`:
  * the loop body is already JVM code).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vecdot"
  // The eval loop reads 4-byte floats positionally; on array<double>
  // input the default (unchecked) binding would read interleaved
  // halves of doubles — plausible-looking garbage. Declare the
  // signature so analysis REJECTS loudly instead. (ExpectsInputTypes
  // only rejects — no implicit coercion; array<double>/array<int>
  // callers must cast explicitly. Coercion would need
  // ImplicitCastInputTypes, deliberately not mixed in.)
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // A truncated/malformed embedding must surface, not yield a
    // plausible-but-wrong partial dot (the unrolled element_at chain
    // this replaced was equally strict — it threw past the end).
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_vecdot: array length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Build from SQL-registry arguments with an arity check. */
  def fromArgs(exprs: Seq[Expression]): VecDot = {
    Args("graft_vecdot(a, b)").arity(exprs, 2)
    VecDot(exprs.head, exprs(1))
  }
}
