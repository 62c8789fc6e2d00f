package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Product-quantization codes of a float vector against a flattened
  * codebook — natively: for each of `nSub` subspaces, the index of the
  * centroid minimizing `c·c − 2·v_s·c` (the ‖v_s−c‖² argmin with the
  * constant `v_s·v_s` dropped), ties to the LOWER index.
  *
  * Bit-identical to the column spelling it replaces in
  * `Vectors.pqEncode` (one `graft_vecdot` per (subspace, centroid)
  * assembled with `array_min`/`array_position`): both accumulate
  * `c·c` and `v_s·c` left-to-right in double and compare
  * `cc − 2·dot`, so scores — and therefore codes — match the DuckDB
  * oracle's `list_reduce` replay exactly. The column form cost
  * nSub·k CodegenFallback invocations per row (128 at the 8×16
  * default — ~85 µs/row at the 100× smoke); this is one fused JVM
  * loop over the same flops.
  *
  * `cents` is the row-major flattened codebook
  * `[s][j][i] → s·k·subDim + j·subDim + i`, normally a literal
  * (constant-folded once); its length must be exactly
  * `nSub·k·subDim` and the vector must carry at least `nSub·subDim`
  * dims — both violations throw rather than encode garbage.
  */
case class PqCodes(left: Expression, right: Expression,
                   nSub: Int, subDim: Int, k: Int)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pqcodes"
  // Positional float reads (like VecDot): declare the signature so
  // array<double> input fails analysis instead of reading half-doubles.
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val c = r.asInstanceOf[ArrayData]
    if (v.numElements() < nSub * subDim)
      throw new IllegalArgumentException(
        s"graft_pqcodes: vector has ${v.numElements()} dims, " +
          s"needs >= ${nSub * subDim}")
    if (c.numElements() != nSub * k * subDim)
      throw new IllegalArgumentException(
        s"graft_pqcodes: codebook has ${c.numElements()} floats, " +
          s"expected ${nSub * k * subDim}")
    val out = new Array[Any](nSub)
    var s = 0
    while (s < nSub) {
      val vBase = s * subDim
      var best = 0
      var bestScore = Double.PositiveInfinity
      var j = 0
      while (j < k) {
        val cBase = (s * k + j) * subDim
        var cc = 0.0
        var dot = 0.0
        var i = 0
        while (i < subDim) {
          val ci = c.getFloat(cBase + i).toDouble
          cc += ci * ci
          dot += v.getFloat(vBase + i).toDouble * ci
          i += 1
        }
        val score = cc - 2.0 * dot
        // strict < keeps the FIRST minimum — the lower-index tie rule
        // array_position(array_min) and the oracle's row_number share
        if (score < bestScore) { bestScore = score; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCodes =
    copy(left = newLeft, right = newRight)
}

object PqCodes {
  /** Build from SQL-registry arguments with plan-time validation. */
  def fromArgs(exprs: Seq[Expression]): PqCodes = {
    val a = Args("graft_pqcodes(v, cents, nSub, subDim, k)")
    a.arity(exprs, 5)
    // Bounds keep the per-row work and output allocation sane: the
    // codebook is nSub*k*subDim floats evaluated per row.
    PqCodes(exprs.head, exprs(1), a.intLit(exprs(2), "nSub", 1, 256),
      a.intLit(exprs(3), "subDim", 1, 4096), a.intLit(exprs(4), "k", 1, 65536))
  }
}
