package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The `nprobe` nearest IVF cells for a query vector, as array<int> of cell
  * ids ordered by (distance, cid) ascending — the coarse-quantizer probe of
  * an IVF index (reference analog: CLIP dot-product ranking,
  * pred_inspector.py:103-108).
  *
  * Distance is ||c||² − 2·v·c (the ||v||² term is common to every centroid
  * and dropped); the dot product is the same sequential left-fold as DotF32,
  * so results are bit-identical to scoring each centroid with DotF32 and
  * array_sort-ing (dist, cid) structs — which is exactly the plan shape this
  * expression replaces. That unrolled form put nlist struct literals, nlist
  * array literals, and nlist dot-product calls IN THE PLAN: at the nlist a
  * 100 TB corpus needs (10³–10⁵ cells) that is a plan/codegen bomb. Here the
  * centroid matrix rides along as ONE flattened float[] reference object
  * (data, not code): generated code is a fixed-size loop, plan size is O(1)
  * in nlist, and whole-stage codegen never falls back.
  *
  * Selection keeps a sorted top-nprobe by insertion (nprobe is small); on
  * distance ties the earlier cid wins because insertion is strict-less-than
  * and cells are visited in cid order.
  */
case class IvfProbeF32(child: Expression, centroids: Array[Array[Float]], nprobe: Int)
    extends UnaryExpression {

  require(centroids.nonEmpty, "IvfProbeF32 requires at least one centroid")
  require(nprobe >= 1, "nprobe must be >= 1")

  private val nlist = centroids.length
  private val dim = centroids(0).length
  private val kept = math.min(nprobe, nlist)

  /** Centroids flattened row-major for a cache-friendly loop; rebuilt
    * per-JVM after serialization. */
  @transient private lazy val flat: Array[Float] = {
    val f = new Array[Float](nlist * dim)
    var i = 0
    while (i < nlist) {
      System.arraycopy(centroids(i), 0, f, i * dim, math.min(centroids(i).length, dim))
      i += 1
    }
    f
  }

  /** ||c||² per centroid, same sequential sum as the unrolled form used. */
  @transient private lazy val normsSq: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
    s
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_ivf_probe_f32"

  // The matrix is intentionally NOT part of the node's printed form: an
  // O(nlist·dim) toString would undo the plan-size win in explain output.
  override def toString: String =
    s"$prettyName($child, nlist=$nlist, dim=$dim, nprobe=$nprobe)"

  // Case-class equality on Array fields is REFERENCE equality; every
  // registry call builds a fresh matrix, so without content-based
  // equals/hashCode two identical probe calls would never be
  // semanticEquals and Catalyst CSE / exchange reuse couldn't dedup the
  // O(nlist·dim) kernel.
  override def equals(o: Any): Boolean = o match {
    case that: IvfProbeF32 =>
      child == that.child && nprobe == that.nprobe &&
        centroids.length == that.centroids.length &&
        centroids.indices.forall(i =>
          java.util.Arrays.equals(centroids(i), that.centroids(i)))
    case _ => false
  }

  override def hashCode: Int = {
    var h = child.hashCode * 31 + nprobe
    var i = 0
    while (i < centroids.length) {
      h = h * 31 + java.util.Arrays.hashCode(centroids(i)); i += 1
    }
    h
  }

  /** Shared by eval and the generated code (via reference object): one pass
    * over the flattened matrix, insertion into a sorted top-`kept`. */
  def probe(v: ArrayData): ArrayData = {
    val vn = math.min(v.numElements(), dim)
    // copy once per row: the hot loop then runs on two primitive arrays
    // (nlist × dim iterations dominate; vn ArrayData reads don't)
    val va = new Array[Float](vn)
    var j = 0
    while (j < vn) { va(j) = v.getFloat(j); j += 1 }
    val dist = new Array[Double](kept)
    val cids = new Array[Int](kept)
    var filled = 0
    var c = 0
    while (c < nlist) {
      var s = 0.0
      var i = 0
      val base = c * dim
      while (i < vn) { s += va(i).toDouble * flat(base + i).toDouble; i += 1 }
      val d = normsSq(c) - 2.0 * s
      if (filled < kept || d < dist(filled - 1)) {
        var j = math.min(filled, kept - 1)
        while (j > 0 && d < dist(j - 1)) { dist(j) = dist(j - 1); cids(j) = cids(j - 1); j -= 1 }
        dist(j) = d; cids(j) = c
        if (filled < kept) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cids, filled))
  }

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The whole kernel runs through ONE reference to this expression object
    // (matrix + norms live in it); generated code stays a fixed three-line
    // call, so whole-stage codegen never sees nlist.
    val self = ctx.addReferenceObj("ivfProbe", this, classOf[IvfProbeF32].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.probe($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfProbeF32 {

  /** Registry-style builder: centroids and nprobe must be foldable
    * (a typedLit matrix and a lit int). */
  def fromExprs(vec: Expression, centroidsExpr: Expression, nprobeExpr: Expression): IvfProbeF32 = {
    val nprobe = GraftFunctions.intLiteral(
      GraftFunctions.IvfProbeName, "nprobe", nprobeExpr)
    val rows = GraftFunctions.arrayLiteral(
      GraftFunctions.IvfProbeName, "centroids", centroidsExpr)
    val m = (0 until rows.numElements()).map { i =>
      rows.getArray(i).toFloatArray()
    }.toArray
    IvfProbeF32(vec, m, nprobe)
  }
}
