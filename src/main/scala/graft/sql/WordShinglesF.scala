package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All overlapping n-token word shingles of a token array in ONE pass —
  * the fused form of TextOps.wordShingles' HOF chain
  * (`transform(sequence(1, size-n+1), i -> concat_ws(" ", slice(toks, i, n)))`),
  * which is CodegenFallback: every position pays an interpreted lambda
  * dispatch, a `slice` sub-array allocation, and a fresh concat_ws
  * evaluation. Round-16 attribution (OPTIMIZATION_r16.md §4): the
  * shingle projection dominated q175's `prepared` stage, and the same
  * chain sits on q31–q38 (MinHash/LSH), q72/q131 (decontaminate), q74
  * (repetition), q80 (incremental dedup), q94 (span dedup) and the
  * streaming ingests — the CharNgramsF lesson applied to word grams.
  *
  * One walk materializes the element references, then every shingle is a
  * single UTF8String.concatWs over the window — no per-position slice
  * array, no lambda dispatch, and the enclosing projection stays inside
  * whole-stage codegen (reference-object pattern).
  *
  * Semantics are IDENTICAL to the HOF form, pinned in WordShinglesFSpec:
  *  - arrays shorter than n tokens → the empty array;
  *  - null ELEMENTS are skipped by concat_ws exactly as before
  *    (UTF8String.concatWs ignores null inputs — no doubled separator);
  *  - null INPUT → null here; TextOps.wordShingles coalesces it to the
  *    empty array, matching the old `when(size(toks) >= n)` chain where
  *    a null size falls through to the `otherwise` empty-array branch.
  */
case class WordShinglesF(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_word_shingles"

  private val sep = UTF8String.fromString(" ")

  /** Shared by eval and generated code (reference-object pattern). */
  def compute(a: ArrayData): ArrayData = {
    val count = a.numElements()
    if (count < n) return new GenericArrayData(Array.empty[Any])
    val elems = new Array[UTF8String](count)
    var i = 0
    while (i < count) {
      elems(i) = if (a.isNullAt(i)) null else a.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](count - n + 1)
    val window = new Array[UTF8String](n)
    i = 0
    while (i <= count - n) {
      var j = 0
      while (j < n) { window(j) = elems(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordShingles", this,
      classOf[WordShinglesF].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShinglesF {
  /** Registry-style builder: n must be an integral literal. */
  def fromExprs(toks: Expression, nExpr: Expression): WordShinglesF =
    WordShinglesF(toks,
      GraftFunctions.intLiteral(GraftFunctions.WordShinglesName, "n", nExpr))
}
