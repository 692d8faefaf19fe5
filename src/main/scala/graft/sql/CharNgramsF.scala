package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All overlapping character n-grams of a string in ONE pass — the fused
  * form of TextOps.charNgrams' HOF chain
  * (`transform(sequence(1, length(t)-n+1), i -> substr(t, i, n))`), which
  * is CodegenFallback: every position pays an interpreted lambda dispatch
  * AND `substr` re-scans the string from byte 0 to find the i-th
  * character — O(L²) byte work per document on the language-ID hot path
  * (q36 explodes ~1.7k grams per doc, every doc, every corpus pass).
  *
  * Here one walk over the UTF-8 bytes records each codepoint's byte
  * offset, then every gram is a zero-scan byte-range slice — O(L) total.
  * Character semantics are IDENTICAL to the HOF form (both count
  * codepoints the way Spark `length`/`substr` do, surrogate pairs
  * included via UTF8String's char accounting), pinned by CharNgramsFSpec;
  * the enclosing projection stays inside whole-stage codegen (the kernel
  * rides along as one reference object, MinhashSigF-style).
  *
  * Semantics: null input → null; strings shorter than n codepoints → the
  * empty array (the HOF chain's `otherwise` branch).
  */
case class CharNgramsF(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_char_ngrams"

  /** Shared by eval and generated code (via reference object). */
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val total = bytes.length
    // one pass: byte offset of every codepoint start (UTF-16 surrogate
    // pairs are single codepoints here, matching UTF8String.numChars)
    var chars = 0
    var b = 0
    while (b < total) {
      b += UTF8String.numBytesForFirstByte(bytes(b))
      chars += 1
    }
    if (chars < n) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](chars + 1)
    var c = 0
    b = 0
    while (b < total) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(chars) = total
    val out = new Array[Any](chars - n + 1)
    var i = 0
    while (i <= chars - n) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("charNgrams", this, classOf[CharNgramsF].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgramsF {
  /** Registry-style builder: n must be an integral literal. */
  def fromExprs(text: Expression, nExpr: Expression): CharNgramsF =
    CharNgramsF(text,
      GraftFunctions.intLiteral(GraftFunctions.CharNgramsName, "n", nExpr))
}
