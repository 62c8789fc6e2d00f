package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k affine-rehash minhashes of a token-hash array — natively:
  * `mh[j] = min over x in th of ((2j+3)·x + 5j+7) mod p`, identical
  * arithmetic to the HOF fragment it replaces
  * (`transform(sequence(0,k-1), j -> array_min(transform(th, …)))`)
  * and to the DuckDB dual [[PortableText.duckMinHashes]].
  *
  * The HOF spelling interprets k·|th| lambda calls per row; on the
  * dedup path (every document, k=8) that was the dominant cost of
  * minhash band assignment (~4 s of a 12 s clustering query at sf0.1).
  * One fused JVM loop does the same k·|th| multiply-adds in
  * milliseconds. All arithmetic stays below 2^63: x < p ≈ 1e9,
  * coefficient < 2k+3, so (2j+3)·x + 5j+7 < 2e10.
  */
case class MinHashes(child: Expression, k: Int) extends UnaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhashes"
  // declared signature: analysis fails loudly (or casts) on e.g.
  // array<int> instead of eval misreading packed bytes via getLong
  override def inputTypes = Seq(ArrayType(LongType))
  // nullSafeEval returns null for an EMPTY (non-null) token array, so
  // the output is nullable even when the child isn't — without this
  // override a non-nullable child would let codegen assume isNull=false
  // and flow a null ArrayData into element_at/band_hash.
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val n = th.numElements()
    // Empty token set -> null, matching the HOF spelling
    // (array_min(empty) is null per element, so every downstream
    // element_at/band_hash is null) and the DuckDB dual (list_min of
    // empty list). A 0L sentinel here would silently co-bucket all
    // empty documents on Spark while the oracle drops them.
    if (n == 0) return null
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val a = 2L * j + 3L
      val b = 5L * j + 7L
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        // Reduce the input hash mod p FIRST: the overflow-safety bound
        // (a·x + b < 2^63) only holds for x < p. The function is
        // SQL-registered session-wide, so a caller may feed full-range
        // 64-bit hashes (e.g. xxhash64) — without this the multiply
        // wraps and the "minhash" goes silently negative. For the
        // in-house polyhash inputs (already < p) this is a no-op.
        val x = {
          val m = th.getLong(i) % PortableText.P
          if (m < 0) m + PortableText.P else m
        }
        val h = (a * x + b) % PortableText.P
        if (h < best) best = h
        i += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashes =
    copy(child = newChild)
}

object MinHashes {
  /** Build from SQL-registry arguments with plan-time validation. */
  def fromArgs(exprs: Seq[Expression]): MinHashes = {
    val a = Args("graft_minhashes(th, k)")
    a.arity(exprs, 2)
    // Each row allocates a k-element array, so an absurd k is an
    // executor OOM, not a user knob.
    MinHashes(exprs.head, a.intLit(exprs(1), "k", 1, 1024))
  }
}
