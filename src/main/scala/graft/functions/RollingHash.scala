package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash of a string — the classic Rabin–Karp
  * fingerprint `h = Σ b_i·257^(n-i) mod (10⁹+7)` over the UTF-8 bytes,
  * as a native Catalyst expression with full whole-stage codegen
  * (north-star "document fingerprinting (rolling hash)"; a custom
  * `Expression` with `doGenCode` is the preferred extension tier —
  * SURVEY.md §2.9).
  *
  * Byte-wise on UTF-8: over the engine's normalized text (ASCII) this
  * equals the per-character `ascii()` fold any SQL engine can
  * replicate, which is how the DuckDB oracle verifies it
  * (`list_reduce` of `(acc·257 + ascii(c)) % 1000000007`).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_rolling_hash requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 257L + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 257L + ($bytes[$i] & 0xff)) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}
