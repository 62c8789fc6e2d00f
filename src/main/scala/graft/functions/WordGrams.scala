package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a token array as space-joined strings, in order.
  * CONTRACT: empty array when size(t) < n — this native behavior (and
  * the DuckDB dual `list_transform(range(1, len-n+2), i ->
  * array_to_string(t[i:i+n-1], ' '))`) is authoritative. The Spark HOF
  * spelling `transform(sequence(1, size(t)-n+1), ...)` matches ONLY
  * for size >= n: for shorter lists `sequence(1, 0)` yields `[1, 0]`
  * (default step -1), so the unguarded HOF diverges — any HOF-based
  * refactor needs a `CASE WHEN size(t) >= n` guard (the property test
  * carries one). Implementation: one UTF8String
  * concatenation loop per gram instead of three interpreted HOF
  * passes materializing a sequence array plus a sliced array per
  * gram. The HOF chain was the dominant cost of the decontamination
  * pass (~3 s of a 4.5 s query at sf0.1).
  *
  * `CodegenFallback`: the loop body is already JVM-native.
  */
case class WordGrams(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_wordgrams"
  override def inputTypes = Seq(ArrayType(StringType))

  private val space = UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i + n <= m) {
      var g = toks.getUTF8String(i)
      var j = 1
      while (j < n) {
        g = UTF8String.concat(g, space, toks.getUTF8String(i + j))
        j += 1
      }
      out(i) = g
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object WordGrams {
  /** Build from SQL-registry arguments with plan-time validation. */
  def fromArgs(exprs: Seq[Expression]): WordGrams = {
    val a = Args("graft_wordgrams(tokens, n)")
    a.arity(exprs, 2)
    WordGrams(exprs.head, a.intLit(exprs(1), "n", 1, Int.MaxValue))
  }
}
