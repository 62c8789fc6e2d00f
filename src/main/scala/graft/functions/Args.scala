package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** The argument checks every `graft_*` registry builder runs, so the
  * eleven functions accept and reject the same argument shapes with
  * the same messages. `sig` (e.g. `graft_grams(str, n)`) prefixes
  * every error. */
private[functions] final case class Args(sig: String) {

  def fail(why: String): Nothing =
    throw new IllegalArgumentException(s"$sig: $why")

  /** Fail unless exactly `n` arguments were passed. */
  def arity(exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      fail(s"takes exactly $n argument${if (n == 1) "" else "s"}, " +
        s"got ${exprs.length}")

  /** The value of integer literal `e` (TINYINT to BIGINT) in
    * [lo, hi]; range-checked before narrowing, so a 2^32+k BIGINT
    * fails instead of wrapping to its low bits. NULL, non-integer and
    * non-foldable arguments fail. */
  def intLit(e: Expression, name: String, lo: Int, hi: Int): Int = {
    if (!e.foldable) fail(s"$name must be a literal")
    val v = e.eval(null) match {
      case null => fail(s"$name must not be NULL")
      case b: java.lang.Byte => b.longValue
      case s: java.lang.Short => s.longValue
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long => l.longValue
      case other => fail(s"$name must be an integer literal, got " +
        other.getClass.getSimpleName)
    }
    if (v < lo || v > hi)
      fail(s"$name must be " +
        (if (lo == 1 && hi == Int.MaxValue) "positive" else s"in [$lo, $hi]") +
        s", got $v")
    v.toInt
  }
}
