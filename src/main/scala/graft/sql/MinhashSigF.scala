package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All k MinHash signature minima of a shingle set in ONE array pass —
  * the fused form of the `sig_i = array_min(transform(__h, h → (a_i·h +
  * b_i) mod p))` chain that TextDedup.minhashSignatures previously built
  * per signature (reference analog: the GROUP-BY tuple dedup of
  * dedup_transactions.sql is the exact tier; this is the near-dup tier
  * above it).
  *
  * Why an expression and not the HOF chain: Spark's higher-order
  * functions (ArrayTransform, ArrayMin's transform input) are
  * CodegenFallback — k=16 signatures meant 17 interpreted lambda walks
  * over every document's shingle array, each allocating an intermediate
  * array, on the hottest path of every dedup tier (q37/q38/q64/q80/q93/
  * q96 and both streaming ingest indexes). Here one kernel walks the
  * shingle array once: md5 → 32-bit base hash (identical to
  * `conv(substring(md5(s),1,8),16,10)`), then k multiply-mod mins kept
  * in a primitive long[] — no intermediate allocation, and the enclosing
  * projection stays inside whole-stage codegen (the kernel rides along
  * as one reference object, IvfProbeF32-style).
  *
  * Value parity is load-bearing: the DuckDB oracle replays the same
  * md5-prefix base hash and the same (a·H + b) mod p permutations as SQL
  * constants, so this expression must (and does) produce bit-identical
  * longs to the HOF chain it replaces — pinned by MinhashSigFSpec.
  *
  * Semantics match the replaced chain exactly: null input → null; null
  * elements skipped (array_min semantics); an empty (or all-null)
  * shingle array yields an array of k NULL sigs — callers must still
  * filter shingle-less docs upstream, per minhashSignatures' contract.
  */
case class MinhashSigF(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> shingles, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = "graft_minhash_sig"

  @transient private lazy val as: Array[Long] = MinhashSigF.coeffA(numHashes)
  @transient private lazy val bs: Array[Long] = MinhashSigF.coeffB(numHashes)

  /** Shared by eval and generated code (via reference object). */
  def compute(shingles: ArrayData): ArrayData = {
    val k = numHashes
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val n = shingles.numElements()
    val md = MinhashSigF.md5.get()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        seen = true
        md.reset()
        val d = md.digest(shingles.getUTF8String(i).getBytes)
        // first 8 hex chars of the digest = first 4 bytes, big-endian,
        // unsigned — exactly conv(substring(md5(s),1,8),16,10)
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var j = 0
        while (j < k) {
          // h < 2^32 and a < 2^31 ⇒ h·a + b < 2^63: no overflow anywhere
          val v = (h * as(j) + bs(j)) % MinhashSigF.MinhashPrime
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!seen) new GenericArrayData(new Array[Any](k)) // k NULL sigs
    else new GenericArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashSig", this, classOf[MinhashSigF].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSigF {

  /** Modulus for the permutation family (smallest prime > 2^32) — the
    * single source of truth; TextDedup re-exports it. */
  val MinhashPrime = 4294967311L

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Deterministic permutation coefficients (a_i, b_i), a_i ∈ [1, 2^31),
    * b_i ∈ [0, 2^31): md5 of the index, so they are plain constants
    * embeddable in both the Spark plan and an external oracle's SQL. */
  def coefficients(k: Int): Array[(Long, Long)] = {
    def h31(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tag.getBytes("UTF-8"))
      BigInt(1, d.take(8)).toLong & 0x7fffffffL
    }
    Array.tabulate(k)(i => (h31(s"a:$i") | 1L, h31(s"b:$i")))
  }

  // per-k flat coefficient arrays, cached: the kernel indexes primitives
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def flat(k: Int): (Array[Long], Array[Long]) =
    cache.computeIfAbsent(k, k => {
      val c = coefficients(k); (c.map(_._1), c.map(_._2))
    })
  def coeffA(k: Int): Array[Long] = flat(k)._1
  def coeffB(k: Int): Array[Long] = flat(k)._2

  /** Registry-style builder: k must be an integral literal. */
  def fromExprs(shingles: Expression, kExpr: Expression): MinhashSigF =
    MinhashSigF(shingles, GraftFunctions.intLiteral(
      GraftFunctions.MinhashSigName, "numHashes", kExpr))
}
