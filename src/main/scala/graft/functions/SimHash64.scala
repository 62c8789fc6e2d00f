package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native simhash over a token-hash array: bit i of the result is set
  * when more token hashes have bit i set than clear — identical to the
  * HOF fragment (`aggregate(sequence(0, bits-1), …)` voting with ±1
  * per token) and the DuckDB dual [[PortableText.duckSimHash]], but
  * one fused JVM loop instead of bits·|th| interpreted lambda calls
  * per row. On the dedup path every document is signed, so this is a
  * per-corpus-row cost at 100 TB; vote sums are exact integers, so
  * accumulation order cannot drift across engines.
  */
case class SimHash64(child: Expression, bits: Int) extends UnaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def inputTypes = Seq(ArrayType(LongType))

  override protected def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val n = th.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val x = th.getLong(i)
      var b = 0
      while (b < bits) {
        if (((x >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Build from SQL-registry arguments with plan-time validation. */
  def fromArgs(exprs: Seq[Expression]): SimHash64 = {
    val a = Args("graft_simhash(th, bits)")
    a.arity(exprs, 2)
    SimHash64(exprs.head, a.intLit(exprs(1), "bits", 1, 64))
  }
}
