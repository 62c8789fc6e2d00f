package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character n-grams of a string, first-occurrence order —
  * semantically `array_distinct(transform(sequence(1, length(s)-n+1),
  * i -> substring(s, i, n)))` (and the DuckDB dual in
  * [[PortableText.duckGrams3]]), but one tight JVM loop with a hash
  * set instead of three interpreted HOF passes materializing a
  * sequence array, a transformed array, and a distinct array per row.
  * The HOF chain alone cost ~2 s over 1000 documents at sf0.1.
  *
  * `CodegenFallback`: the loop body is already JVM-native; falling out
  * of whole-stage codegen for this one projection costs far less than
  * the HOF interpretation it replaces.
  */
case class CharGrams(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_grams"
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // Iterate by CODE POINT, not UTF-16 code unit: the HOF spelling
    // (Spark `substring`) and the DuckDB dual (`substr`) both count
    // codepoints, and code-unit windows would split surrogate pairs on
    // non-BMP text (emoji, supplementary CJK), silently diverging from
    // the oracle. `starts(k)` is the char offset of codepoint k.
    val len = s.length
    val starts = new mutable.ArrayBuffer[Int](len + 1)
    var ci = 0
    while (ci < len) { starts += ci; ci = s.offsetByCodePoints(ci, 1) }
    starts += len
    val cpCount = starts.length - 1
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + n <= cpCount) {
      seen.add(s.substring(starts(i), starts(i + n)))
      i += 1
    }
    new GenericArrayData(seen.iterator.map(UTF8String.fromString).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

object CharGrams {
  /** Build from SQL-registry arguments with plan-time validation — a
    * non-literal, non-integer, or missing `n` must fail analysis with
    * a message naming the signature, not NPE inside `eval(null)`. */
  def fromArgs(exprs: Seq[Expression]): CharGrams = {
    val a = Args("graft_grams(str, n)")
    a.arity(exprs, 2)
    CharGrams(exprs.head, a.intLit(exprs(1), "n", 1, Int.MaxValue))
  }
}
