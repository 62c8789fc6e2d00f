package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprint profile (Schleimer/Wilkerson/Aiken,
  * SIGMOD 2003) — returns `[n_grams, n_windows, n_fingerprints,
  * fp_sum]` for one document: positional char `k`-gram polynomial
  * hashes, sliding window of `w` hashes, rightmost-min selected per
  * window, fingerprints = the distinct (hash, position) pairs,
  * `fp_sum` = Σ selected hashes over that distinct set (order-free
  * exact integer).
  *
  * Semantically identical to the declarative spelling in
  * [[graft.operators.TextDedup.winnowFingerprints]]'s oracle dual —
  * gram hash by CODE POINT ([[PolyHash]] fold), `n_grams` counted in
  * code points (Spark `length`/`substring` and DuckDB
  * `length`/`substr` both index code points), 0 < n_grams < w treated
  * as a single window, all-zero profile when the text is shorter than
  * `k` — but O(n) instead of the HOF's O(n·k + n·w) interpreted-lambda
  * steps: the gram hash ROLLS (`h·31 + in − out·31^(k−1)` mod P) and
  * the window minimum comes from a monotonic deque. Pops use `≥` so
  * among equal hashes the latest position survives — the
  * rightmost-min tiebreak; a (hash, pos) pair's selected windows are
  * therefore consecutive, so the per-window winner stream needs no
  * global dedup beyond a seen-set. The HOF form measured ~13 s at
  * sf0.1; this is the same class of rewrite as [[WordGrams]]/
  * [[PqCodes]] (build-contract path (b): native `Expression`, not a
  * UDF).
  *
  * `CodegenFallback`: the loop body is already JVM-native.
  */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression
    with ExpectsInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override def inputTypes = Seq(StringType)

  private val P = PolyHash.P
  // 31^(k-1) mod P — the out-rolling coefficient
  private val pw: Long = {
    var r = 1L; var i = 1
    while (i < k) { r = r * 31L % P; i += 1 }
    r
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // code point array: both engines' length/substring index by cp
    val cp = s.codePoints().toArray
    // the 2^21 position budget in the fingerprint key (hash·2^21 + pos)
    if (cp.length >= 2097152) throw new IllegalArgumentException(
      s"graft_winnow: text longer than 2^21 code points (${cp.length})")
    val n = cp.length - k + 1
    if (n <= 0) return new GenericArrayData(Array[Any](0L, 0L, 0L, 0L))
    val nw = if (n < w) 1 else n - w + 1
    // rolling positional hashes (identical to PolyHash on each gram)
    val h = new Array[Long](n)
    var acc = 0L
    var i = 0
    while (i < k) { acc = (acc * 31L + cp(i)) % P; i += 1 }
    h(0) = acc
    i = 1
    while (i < n) {
      // (prev - out*31^(k-1)) * 31 + in, kept non-negative mod P
      acc = ((acc - cp(i - 1) % P * pw % P) % P + P) % P
      acc = (acc * 31L + cp(i + k - 1)) % P
      h(i) = acc
      i += 1
    }
    // monotonic deque of gram indices; h increasing front→back. Pop
    // back on ≥ so ties keep the later (rightmost) position.
    val dq = new Array[Int](n)
    var head = 0; var tail = 0 // dq[head until tail]
    val seen = new java.util.HashSet[Long]()
    var fpSum = 0L
    val winEnd = math.min(w, n) // first window's last gram (1-based)
    i = 0
    while (i < n) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (i + 1 >= winEnd) {
        // window start (0-based) for window ending at i
        val s0 = math.max(i - w + 1, 0)
        while (dq(head) < s0) head += 1
        val sel = dq(head)
        // key = hash * 2^21 + 1-based position (same encoding as the
        // declarative dual; hash < 2^30, pos < 2^21 → key < 2^51)
        val key = h(sel) * 2097152L + (sel + 1)
        if (seen.add(key)) fpSum += h(sel)
      }
      i += 1
    }
    new GenericArrayData(
      Array[Any](n.toLong, nw.toLong, seen.size.toLong, fpSum))
  }

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  /** Build from SQL-registry arguments with plan-time validation. */
  def fromArgs(exprs: Seq[Expression]): Winnow = {
    val a = Args("graft_winnow(text, k, w)")
    a.arity(exprs, 3)
    Winnow(exprs.head, a.intLit(exprs(1), "k", 1, Int.MaxValue),
      a.intLit(exprs(2), "w", 1, Int.MaxValue))
  }
}
