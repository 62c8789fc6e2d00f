package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy (nats) of a string's CODEPOINT distribution —
  * the gibberish/compressibility quality signal (low entropy = looped
  * filler, high entropy = base64/binary junk) pre-training filters cut
  * on alongside the token-level rules (TextDedup F9 family).
  *
  * Engine-exact by construction (SURVEY §6): counts are exact ints and
  * the fold runs over distinct codepoints in ASCENDING CODEPOINT
  * ORDER, so `S = Σ cnt·ln(cnt)` accumulates in one defined sequence
  * and `H = ln(len) − S/len` is bit-identical to the DuckDB dual
  * (`list_sort(list_distinct(...))` + `list_reduce` — binary collation
  * sorts single characters by codepoint, matching this sort exactly).
  * ln() bit-parity across JVM `Math.log` and DuckDB libm is
  * established by D3 (`q_log_returns` passes unrounded), so the value
  * is emitted UNROUNDED. Empty string → NULL.
  *
  * One tight JVM loop per row (the HOF spelling is O(distinct·len)
  * interpreted); `CodegenFallback` per the CharGrams precedent.
  */
case class CharEntropy(child: Expression) extends UnaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_charentropy"
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.isEmpty) return null
    val counts = mutable.HashMap.empty[Int, Long]
    var i = 0
    var len = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.update(cp, counts.getOrElse(cp, 0L) + 1L)
      i += Character.charCount(cp)
      len += 1L
    }
    var acc = 0.0
    counts.keysIterator.toArray.sorted.foreach { cp =>
      val k = counts(cp).toDouble
      acc += k * math.log(k)
    }
    math.log(len.toDouble) - acc / len
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  def fromArgs(exprs: Seq[Expression]): CharEntropy = {
    Args("graft_charentropy(str)").arity(exprs, 1)
    CharEntropy(exprs.head)
  }
}
