package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rabin–Karp rolling hash over a string: the hash of EVERY k-codepoint
  * window in one O(L) pass (vs O(L·k) for per-gram digesting — and vs
  * O(L·k) md5 calls, each orders of magnitude costlier than two modular
  * multiplies). The polynomial hash
  *
  *   h(i) = Σ_j cp(i+j) · B^(k−1−j)  mod M,   B = 257, M = 2^31 − 1
  *
  * is defined over Unicode CODE POINTS (not UTF-16 units), so any engine
  * that indexes strings by codepoint — DuckDB, Trino, Python — reproduces
  * it with plain integer arithmetic: every intermediate fits in a signed
  * 64-bit integer (cp < 2^21, B^j mod M < 2^31 ⇒ products < 2^52), so
  * the value is EXACT everywhere, unlike any float or digest-library
  * dependent hash. Output: array<long> of length max(0, L − k + 1).
  *
  * The rolling update `h ← (h − cp_out·B^(k−1))·B + cp_in (mod M)` is
  * verified against the direct per-window polynomial in RollingHashSpec —
  * the classic place for an off-by-one-mod bug to hide.
  */
object RollingHashF {
  val Base: Long = 257L
  val Mod: Long = (1L << 31) - 1 // Mersenne prime 2^31 − 1

  /** The O(L) kernel; also the target of the generated code (a static
    * call keeps the whole-stage-codegen method small and JIT-friendly). */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val cps = s.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    var pow = 1L // B^(k−1) mod M
    var j = 1
    while (j < k) { pow = pow * Base % Mod; j += 1 }
    val out = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * Base + cps(i)) % Mod; i += 1 }
    out(0) = h
    i = 1
    while (i < n) {
      h = ((h + Mod - cps(i - 1) * pow % Mod) % Mod * Base
        + cps(i + k - 1)) % Mod
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `kExpr` is a true child (BinaryExpression), so the analyzer resolves
  * and transforms it like any operand; a non-literal k then fails cleanly
  * in checkInputDataTypes instead of throwing from an unresolved eval. */
case class RollingHashF(left: Expression, right: Expression)
    extends BinaryExpression {

  private def kExpr: Expression = right

  private lazy val k: Int = GraftFunctions.intLiteral(prettyName, "k", kExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${left.dataType.simpleString}")
    else try {
      if (k >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires k >= 1, got $k")
    } catch {
      case e: IllegalArgumentException =>
        TypeCheckResult.TypeCheckFailure(e.getMessage)
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_rolling_hash"

  /** k is plan-constant (literal-only, enforced above): evaluation reads
    * the folded value, never the right operand per-row. */
  override protected def nullSafeEval(t: Any, kv: Any): Any =
    RollingHashF.compute(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.sql.RollingHashF.compute($t, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
