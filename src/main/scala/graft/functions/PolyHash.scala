package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the portable polynomial string hash
  * (SURVEY §6): `h = fold(codepoints)(h * 31 + code) mod 1e9+7`.
  *
  * Iterates by CODE POINT (surrogate pairs fold as one value), so it
  * is semantically identical — including non-BMP text — to the
  * declarative fragment
  * `aggregate(split(s, ''), 0L, (a, c) -> (a*31 + ascii(c)) % p)` and
  * to the DuckDB dual in [[PortableText]] — but where the HOF version
  * allocates a per-character array and interprets a lambda per element,
  * this compiles to a tight generated-Java loop inside whole-stage
  * codegen. On the 100 TB dedup path (every document hashed, every
  * token hashed k times for minhash) that interpreter overhead is the
  * dominant cost; this is preference path (b) from the build contract:
  * a custom `Expression` with `doGenCode`, not a UDF.
  */
case class PolyHash(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"
  // plan-time signature check: a non-string child fails analysis with
  // the function name instead of a runtime ClassCastException
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // freshName on EVERY local: two polyhash calls fused into one
      // whole-stage region otherwise redeclare the same Java locals
      // and Janino rejects the stage ("Redefinition of local
      // variable"), silently dropping the WHOLE stage to the
      // interpreted path (observed on a two-call projection).
      val s = ctx.freshName("phStr")
      val h = ctx.freshName("phAcc")
      val n = ctx.freshName("phLen")
      val i = ctx.freshName("phIdx")
      val cp = ctx.freshName("phCp")
      s"""
         |java.lang.String $s = $c.toString();
         |long $h = 0L;
         |int $n = $s.length();
         |int $i = 0;
         |while ($i < $n) {
         |  int $cp = $s.codePointAt($i);
         |  $h = ($h * 31L + (long) $cp) % ${PolyHash.P}L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  val P: Long = PortableText.P

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Build from SQL-registry arguments with an arity check. */
  def fromArgs(exprs: Seq[Expression]): PolyHash = {
    Args("graft_polyhash(str)").arity(exprs, 1)
    PolyHash(exprs.head)
  }
}
