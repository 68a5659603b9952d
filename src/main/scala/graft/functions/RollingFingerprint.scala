package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprint: rolling polynomial hash
  * `acc = (acc*31 + codepoint) mod (2^31-1)` over the text's characters —
  * one pass in codegen.
  *
  * Bit-identical to the declarative rendering
  * `aggregate(split(text, ""), 0L, (acc, ch) -> pmod(acc*31 + ascii(ch),
  * 2147483647))`, which evaluates an interpreted lambda per character
  * (kept as the differential oracle in the test sources:
  * `graft.ops.HofOracles.fingerprintHof`).
  */
case class RollingFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_fingerprint requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_fingerprint"

  /** Public so generated code can call it. Iterates UTF-16 code units,
    * promoting surrogate pairs to their code point — the same value
    * `ascii()` yields for each element of `split(text, "")`. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    val M = 2147483647L
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % M
      i += Character.charCount(cp)
    }
    acc
  }

  override def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refTerm = ctx.addReferenceObj("rf", this, classOf[RollingFingerprint].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $refTerm.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}
