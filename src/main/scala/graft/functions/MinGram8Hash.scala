package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the minimum, over every 8-code-point
  * window of the input, of the window's base-31 polynomial hash
  * Σ_{j=0..7} cp(i+j) · 31^j — the content-blocking min-gram key of
  * graft.ops.Dedup.d11 in ONE fused per-row loop.
  *
  * Why native: the SQL formulation (array_min over a per-position
  * transform) pays interpreted higher-order-function machinery PER
  * CHARACTER — measured at sf1 (round 9), 18.3 M positions cost
  * 6.4 s even with the hash body removed, and ~9.5 s with it; this loop
  * does the same scan in milliseconds. The hash is pure 64-bit integer
  * arithmetic chosen to be reproducible VERBATIM in the DuckDB oracle
  * (explicit 8-term ascii()·31^j sums): max code point 0x10FFFF times
  * 31^7 ≈ 3.1e16, and an 8-term sum stays < 2.5e17 — no overflow, no
  * modulus, bit-identical in both engines.
  *
  * Short inputs (< 8 code points) hash their full content with the same
  * polynomial; the empty string hashes to 0. Windows are CODE POINTS
  * (not UTF-16 units, not bytes) to match DuckDB's character slicing +
  * ascii() semantics on non-ASCII text.
  */
case class MinGram8Hash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mingram8"

  override protected def nullSafeEval(input: Any): Any =
    MinGram8Hash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinGram8Hash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinGram8Hash {
  private val W = 8
  // 31^j for j = 0..7 — mirrored as literal integers in the DuckDB oracle
  private val Pow = Array(1L, 31L, 961L, 29791L, 923521L,
    28629151L, 887503681L, 27512614111L)

  /** Static entry point shared by interpreted eval and codegen. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n == 0) return 0L
    if (n < W) {
      var h = 0L
      var j = 0
      while (j < n) { h += cps(j) * Pow(j); j += 1 }
      return h
    }
    var min = Long.MaxValue
    var i = 0
    while (i <= n - W) {
      var h = 0L
      var j = 0
      while (j < W) { h += cps(i + j) * Pow(j); j += 1 }
      if (h < min) min = h
      i += 1
    }
    min
  }
}
