package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native content-defined chunking (Gear-family CDC — the
  * rolling-hash boundary rule behind storage dedup and incremental
  * corpus sync): returns one key per chunk, ordered, where
  * `key = chunkPolyHash · 2^21 + chunkLen`.
  *
  * Boundary rule over 1-based code-point positions: with
  * `gear(c) = (c · 2654435761) mod 2^32` (the house multiplicative
  * constant) and `h₀ = 0, hᵢ = (hᵢ₋₁·2 + gear(cpᵢ)) mod 2^32`,
  * position `i` closes a chunk iff `hᵢ mod 2^maskBits = 0`; the final
  * position always closes the tail chunk. `h` never resets, yet each
  * `hᵢ` depends on AT MOST the last 32 code points (older
  * contributions carry a 2^≥32 factor ≡ 0 mod 2^32) — boundaries are
  * content-LOCAL, so an edit moves only the chunks within ~32 cp of
  * it while every later chunk survives byte-identical (the property
  * fixed-size chunking lacks, and the reason CDC dedups incrementally
  * synced corpora). Locality also makes the declarative dual
  * embarrassingly parallel: the oracle computes each `hᵢ` as an
  * independent fold over the ≤32-cp window — identical values, no
  * sequential prefix recurrence.
  *
  * Chunk hashes are the [[PolyHash]] fold over the chunk's code
  * points mod P; lengths are < 2^21 (enforced), so keys stay < 2^51.
  * Empty text returns an empty array.
  *
  * `CodegenFallback`: the loop body is already JVM-native.
  */
case class CdcChunks(child: Expression, maskBits: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cdc"
  override def inputTypes = Seq(StringType)

  private val P = PolyHash.P
  private val mask: Long = (1L << maskBits) - 1L
  private val m32: Long = 0xFFFFFFFFL

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cp = s.codePoints().toArray
    val n = cp.length
    if (n >= 2097152) throw new IllegalArgumentException(
      s"graft_cdc: text longer than 2^21 code points ($n)")
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = Array.newBuilder[Any]
    var h = 0L
    var chunkHash = 0L
    var chunkLen = 0L
    var i = 0
    while (i < n) {
      val c = cp(i).toLong
      h = (h * 2L + (c * 2654435761L & m32)) & m32
      chunkHash = (chunkHash * 31L + c) % P
      chunkLen += 1L
      if ((h & mask) == 0L || i == n - 1) {
        out += chunkHash * 2097152L + chunkLen
        chunkHash = 0L
        chunkLen = 0L
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  /** Build from SQL-registry arguments with plan-time validation. */
  def fromArgs(exprs: Seq[Expression]): CdcChunks = {
    val a = Args("graft_cdc(text, maskBits)")
    a.arity(exprs, 2)
    CdcChunks(exprs.head, a.intLit(exprs(1), "maskBits", 1, 30))
  }
}
